package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the harness's spans, the
  * listener's job/stage/execution records and the `runOnce` records.
  *
  * A Spark job belongs to the innermost span whose interval holds the job's
  * submission. Layers inside `runOnce`
  * that the product does not expose as calls are measured through the jobs
  * that run them: `pipeline.chunkDocuments` is the jobs whose plan holds the
  * chunk generator (they also run the embedder, which `services.embedChunks`
  * isolates), `pipeline.replacePurgeWrite` the jobs whose plan reads or
  * writes the index directory, and `operators.readIvfHead` the jobs
  * submitted from `Similarity.readIvfHead` inside a cold-start search.
  *
  * Metrics without a prefix cover the workload's measured operations;
  * `build.`-prefixed ones cover the run's set-up, a full build of 5,000
  * documents from empty directories.
  */
object Layers {
  private val MsPerNs = 1e-6

  def compute(ctx: Ctx, setup: Samples, samples: Samples, traced: Samples,
      primary: String): Map[String, (Double, String)] = {
    graft.ListenerDrain.drain(ctx.spark)
    val c = ctx.counters.get
    val spans = ctx.tracer.spans
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val jobs = c.jobs.values().asScala.toSeq.filter(_.endMs >= 0)

    // job → innermost span holding its submission (±1 ms: listener times
    // are whole milliseconds)
    val jobSpan: Map[Int, Span] = jobs.flatMap { j =>
      val t = j.submitMs * 1000000L
      spans.filter(s => s.start - 1000000L <= t && t <= s.end + 1000000L)
        .sortBy(-_.start).headOption.map(j.id -> _)
    }.toMap
    val jobsBySpan: Map[Int, Seq[SparkCounters.Job]] =
      jobs.filter(j => jobSpan.contains(j.id)).groupBy(j => jobSpan(j.id).id)
    def interval(j: SparkCounters.Job): (Long, Long) = (j.submitMs * 1000000L, j.endMs * 1000000L)
    def jobsIn(s: Span): Seq[SparkCounters.Job] = jobsBySpan.getOrElse(s.id, Nil)
    def unionMs(js: Seq[SparkCounters.Job]): Double = Stats.unionLength(js.map(interval)) * MsPerNs
    def planOf(j: SparkCounters.Job): String = Option(c.plans.get(j.execId)).getOrElse("")
    def selfMs(s: Span): Double = Stats.selfTime(s.start, s.end,
      children.getOrElse(s.id, Nil).map(x => (x.start, x.end))) * MsPerNs
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

    val out = Map.newBuilder[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit =
      out += name -> ((if (v.isNaN) 0.0 else v), unit)

    /** The layer metrics over the operations rooted at `ops`, whose
      * (name, traced, wall, compilations) records are `walls`.
      */
    def layers(prefix: String, ops: Seq[Span], walls: Seq[(String, Boolean, Double, Long)],
        spanNames: Seq[String]): Unit = {
      val opIds = ops.map(_.id).toSet
      val inOps = spans.filter(s => opIds(s.op))
      def named(n: String) = inOps.filter(_.name == n)
      def p(name: String, v: Double, unit: String) = put(prefix + name, v, unit)
      spanNames.foreach { n =>
        val ss = named(n)
        p(s"$n.wall_ms", med(ss.map(_.durNs * MsPerNs)), "ms")
        p(s"$n.n", ss.length.toDouble, "count")
      }
      // runOnce internals; its self time is its wall outside those job groups
      val runs = named("pipeline.runOnce")
      def chunkJobs(r: Span) = jobsIn(r).filter(j => planOf(j).contains("Generate"))
      def indexJobs(r: Span) =
        jobsIn(r).filter(j => Deployment.IndexPath.findFirstIn(planOf(j)).nonEmpty)
      p("pipeline.chunkDocuments.wall_ms", med(runs.map(r => unionMs(chunkJobs(r)))), "ms")
      p("pipeline.replacePurgeWrite.wall_ms", med(runs.map(r => unionMs(indexJobs(r)))), "ms")
      p("pipeline.runOnce.self_ms", med(runs.map(r =>
        r.durNs * MsPerNs - unionMs(chunkJobs(r) ++ indexJobs(r)))), "ms")
      val ingests = traced.ingests.asScala.toSeq.filter(i =>
        !i.noop && ops.exists(o => o.start <= i.start && i.end <= o.end))
      p("pipeline.chunkDocuments.chunks", med(ingests.map(_.summary.chunksWritten.toDouble)), "count")
      p("pipeline.runOnce.source_docs", med(ingests.map(_.summary.sourceDocs.toDouble)), "count")
      p("pipeline.runOnce.processed_ratio", mean(ingests.map(i =>
        i.summary.processed.toDouble / math.max(1L, i.summary.sourceDocs))), "ratio")
      p("pipeline.index.bytes_written", med(ingests.map(_.indexBytes.toDouble)), "bytes")
      p("pipeline.index.write_amp", med(ingests.map(i =>
        (i.indexBytes + i.stateBytes).toDouble / math.max(1L, i.changedTextBytes))), "ratio")
      p("services.embedChunks.wall_ms", med(ingests.map(_.embedNs * MsPerNs)), "ms")
      p("services.embedChunks.texts", med(ingests.map(_.embedTexts.toDouble)), "count")
      p("trace.ops", ops.length.toDouble, "count")
      // an operation's own time outside every child span
      p("trace.unaccounted_ms", med(ops.map(selfMs)), "ms")
      // substrate, per operation
      def opJobs(o: Span): Seq[SparkCounters.Job] = inOps.filter(_.op == o.id).flatMap(jobsIn)
      def perOp(f: Seq[SparkCounters.Job] => Double): Double = mean(ops.map(o => f(opJobs(o))))
      def stageSum(js: Seq[SparkCounters.Job])(g: SparkCounters.StageAgg => Long): Double =
        js.flatMap(_.stages).distinct.flatMap(s => Option(c.stages.get(s))).map(g).sum.toDouble
      p("spark.jobs", perOp(_.length.toDouble), "count")
      p("spark.stages", perOp(js => js.flatMap(_.stages).distinct
        .count(s => Option(c.stages.get(s)).exists(_.tasks.get() > 0)).toDouble), "count")
      p("spark.tasks", perOp(js => stageSum(js)(_.tasks.get())), "count")
      p("spark.scheduler_delay_ms", perOp(js => stageSum(js)(_.schedDelayMs.get())), "ms")
      p("spark.executor_run_ms", perOp(js => stageSum(js)(_.runMs.get())), "ms")
      p("spark.executor_cpu_ms", perOp(js => stageSum(js)(_.cpuNs.get()) * MsPerNs), "ms")
      p("spark.gc_ms", perOp(js => stageSum(js)(_.gcMs.get())), "ms")
      p("spark.input_bytes", perOp(js => stageSum(js)(_.inputBytes.get())), "bytes")
      p("spark.output_bytes", perOp(js => stageSum(js)(_.outputBytes.get())), "bytes")
      p("spark.shuffle_read_bytes", perOp(js => stageSum(js)(_.shuffleRead.get())), "bytes")
      p("spark.shuffle_write_bytes", perOp(js => stageSum(js)(_.shuffleWrite.get())), "bytes")
      p("spark.result_bytes", perOp(js => stageSum(js)(_.resultBytes.get())), "bytes")
      // wall not covered by any of the operation's jobs
      p("spark.driver_ms", mean(ops.map(o => o.durNs * MsPerNs -
        Stats.unionLength(opJobs(o).map(interval).map { case (s, e) =>
          (math.max(s, o.start), math.min(e, o.end)) }) * MsPerNs)), "ms")
      val noops = named("pipeline.runOnceNoop")
      p("spark.noop.jobs", mean(noops.map(jobsIn(_).length.toDouble)), "count")
      p("spark.codegen.compiles", mean(walls.map(_._4.toDouble)), "count")
    }

    val roots = spans.filter(_.parent < 0)
    val walls = samples.opWalls.asScala.toSeq.filter(_._1 == primary)
    layers("", roots.filter(_.name == primary), walls, Seq(
      "pipeline.runOnce", "pipeline.runOnceNoop", "services.embed",
      "operators.purgeTombstones", "operators.appendGraphCellsMonitored",
      "operators.publishServing", "operators.coldStartSearch"))
    layers("build.", roots.filter(_.name == "setup"), setup.opWalls.asScala.toSeq, Seq(
      "pipeline.runOnce", "operators.buildIvf", "operators.buildGraphPerCell",
      "operators.driftStats", "operators.publishServing"))

    // cold-start search internals, over the measured operations' searches
    val primaryOps = roots.filter(_.name == primary).map(_.id).toSet
    val searches = spans.filter(s => s.name == "operators.coldStartSearch" && primaryOps(s.op))
    val searchJobs = searches.flatMap(jobsIn)
    def headJobs(s: Span) = jobsIn(s).filter(_.callSite.contains("readIvfHead"))
    put("operators.readIvfHead.wall_ms", med(searches.map(s => unionMs(headJobs(s)))), "ms")
    put("operators.coldStartSearch.self_ms", med(searches.map(s =>
      s.durNs * MsPerNs - unionMs(headJobs(s)))), "ms")
    // rows scanned per row returned does not depend on timing: every traced search counts
    val scanRows = spans.filter(_.name == "operators.coldStartSearch").flatMap(jobsIn)
      .map(_.execId).distinct.flatMap(e => Option(c.scanRows.get(e)).map(_.longValue)).sum
    put("operators.search.scan_rows_per_result",
      scanRows.toDouble / math.max(1L, traced.searchResults.get()), "ratio")
    put("spark.search.jobs", mean(searches.map(jobsIn(_).length.toDouble)), "count")
    put("spark.search.queue_wait_ms", med(searchJobs.flatMap { j =>
      val first = j.stages.flatMap(s => Option(c.stages.get(s))).map(_.firstLaunch)
        .filter(_ < Long.MaxValue)
      if (first.isEmpty) None else Some((first.min - j.submitMs).toDouble)
    }), "ms")

    // the trace itself: traced against untraced halves of the measured loop
    val on = walls.filter(_._2).map(_._3)
    val off = walls.filterNot(_._2).map(_._3)
    put("trace.op_wall_ms", med(on), "ms")
    put("trace.untraced_op_wall_ms", med(off), "ms")
    put("trace.overhead_ms", if (on.isEmpty || off.isEmpty) 0.0
      else Stats.median(on) - Stats.median(off), "ms")
    put("trace.unattributed_jobs", jobs.count(j => !jobSpan.contains(j.id)).toDouble, "count")

    writeSpans(ctx, spans)
    out.result()
  }

  /** All spans as JSON lines next to the run's work area. */
  private def writeSpans(ctx: Ctx, spans: Seq[Span]): Unit = {
    val dir = ctx.work.getParent.resolve("traces")
    java.nio.file.Files.createDirectories(dir)
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}}""")
    java.nio.file.Files.write(dir.resolve(s"spans-${ctx.work.getFileName}.jsonl"),
      lines.asJava)
  }
}

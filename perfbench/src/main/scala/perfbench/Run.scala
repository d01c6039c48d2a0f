package perfbench

import java.lang.management.ManagementFactory

/** Set-up, the measured loop and the metrics of one workload run.
  *
  * Every workload sets up the same way: it reads the corpus and makes one
  * full build of a fresh deployment from it (landing → searchable, the
  * unchanged rerun, the build checks). A metric whose path the measured
  * loop does not run — a search workload's build rate, say — reports that
  * set-up sample instead.
  */
final class Run(ctx: Ctx, workload: String, sessionS: Double) {
  import Main.{MinOps, Questions, WarmupSearches}
  private val HeapSettleRounds = 10
  private val loopSamples = new Samples

  private def now(): Long = System.nanoTime()
  /** Whole-stage code compilations so far (each is a generated-code cache miss). */
  private def compilations(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def ms(t0: Long): Double = (now() - t0) / 1e6
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run `op` in a closed loop until the deadline, and at least `MinOps`
    * times, with `w`'s samples; in a traced run every other operation is
    * traced, so the two halves give the tracing overhead.
    */
  private def loop(w: Workloads, deadline: Long, name: String)(
      op: (Int, Checks) => Unit): Unit = {
    var i = 0
    while (now() < deadline || i < MinOps) {
      val traced = ctx.trace && i % 2 == 0
      val c0 = compilations()
      val t0 = now()
      ctx.tracer.op(name, traced) {
        ctx.operation(s"$name $i")(checks => op(i, checks))
      }
      w.samples.opWalls.add((name, traced, ms(t0), compilations() - c0))
      log(f"$name $i: ${ms(t0)}%.1f ms${if (traced) " (traced)" else ""}")
      i += 1
    }
  }

  def execute(): Map[String, (Double, String)] = {
    val t0 = now()
    val corpus = Corpus.load(ctx.spark)
    val docs = corpus.docs
    val w = new Workloads(ctx, corpus, corpus.questions(ctx.seed, Questions))
    val setupSamples = w.samples
    // the document whose first chunk the full-build freshness poll looks for
    val probeDoc = docs(new scala.util.Random(ctx.seed).nextInt(docs.length))
    val dep = w.freshDeployment()
    val c0 = compilations()
    ctx.tracer.op("setup", traced = true) {
      ctx.operation("setup build")(checks => w.fullBuild(dep, docs, probeDoc, checks))
    }
    w.samples.opWalls.add(("setup", true, ms(t0), compilations() - c0))
    // warm the search path: its first requests compile code that later
    // requests reuse, and a user's long-lived server has paid that already.
    // A delta cycle costs ~10 s, so an untraced delta_refresh run gets no
    // warm-up cycle (the set-up build has already run `runOnce`, its rerun,
    // publish and search); a traced one does, so that the traced and the
    // untraced cycle it compares for the tracing overhead are both warm.
    w.samples = new Samples
    if (workload == "search_serve")
      (1 to WarmupSearches).foreach(_ => dep.search(w.nextQuestion()))
    else if (ctx.trace)
      ctx.operation("warm-up cycle")(checks => w.deltaCycle(dep, -1, checks))
    val setupS = sessionS + ms(t0) / 1e3
    log(f"set-up: $setupS%.2f s (session $sessionS%.2f s)")
    w.samples = loopSamples

    val deadline = now() + ctx.seconds * 1000000000L
    val primary = workload match {
      case "delta_refresh" =>
        loop(w, deadline, "cycle")((i, checks) => w.deltaCycle(dep, i, checks))
        "cycle"
      case "search_serve" =>
        loop(w, deadline, "request")((_, checks) => w.request(dep, w.nextQuestion(), checks))
        "request"
    }
    if (ctx.trace) Layers.compute(ctx, setupSamples, loopSamples, w.traced, primary)
    else {
      val recall = w.recall(dep)
      endToEnd(docs.length, setupSamples, setupS, recall, retainedHeapMb())
    }
  }

  /** Driver heap in use after forced full collections. Spark frees
    * checkpoint and shuffle blocks asynchronously once a collection has
    * found their owners unreachable, so collect until the figure settles.
    */
  private def retainedHeapMb(): Double = {
    def usedMb(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = usedMb()
    var cur = usedMb()
    var i = 0
    while (math.abs(cur - prev) > 0.5 && i < HeapSettleRounds) {
      prev = cur; cur = usedMb(); i += 1
    }
    cur
  }

  private def endToEnd(nDocs: Int, setupSamples: Samples, setupS: Double, recall: Double,
      heapMb: Double): Map[String, (Double, String)] = {
    // the loop's samples where the loop ran the path, else the set-up's
    def pick(f: Samples => java.util.concurrent.ConcurrentLinkedQueue[Double]): Seq[Double] = {
      val l = loopSamples.list(f(loopSamples))
      if (l.nonEmpty) l else setupSamples.list(f(setupSamples))
    }
    val builds = pick(_.buildS)
    val search = pick(_.searchMs)
    Map(
      "setup_s" -> (setupS, "s"),
      "build_docs_per_s" -> (nDocs / Stats.median(builds), "docs/s"),
      "freshness_p50_s" -> (Stats.median(pick(_.freshnessS)), "s"),
      "noop_run_p50_s" -> (Stats.median(pick(_.noopS)), "s"),
      "search_p50_ms" -> (Stats.median(search), "ms"),
      "search_p90_ms" -> (Stats.percentile(search, 0.9), "ms"),
      "recall_at_10" -> (recall, "ratio"),
      "retained_heap_mb" -> (heapMb, "MB"))
  }
}

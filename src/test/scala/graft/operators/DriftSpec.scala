package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The drift-monitor stack: the cheap known-assignment stats path equals
  * the search path, monitored appends write/return exactly what the
  * unmonitored ones do plus a sane report, the fused single-assignment
  * IVF append matches the plain one, and a stale drift reference cannot
  * survive an in-place artifact rewrite.
  */
class DriftSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
  private lazy val ivf = Similarity.buildIvf(spark, emb, "vec_id", "embedding",
    nCells = 8, iters = 2)

  test("driftStatsAssigned over the index's assignments ≡ driftStats(unit=false)") {
    val a = Similarity.driftStatsAssigned(spark, ivf.assignments,
      "cell", "vec", ivf.centroids)
    val b = Similarity.driftStats(spark,
      ivf.assignments.select($"vec".as("v")), "v", ivf.centroids, unit = false)
    assert(a.n == b.n)
    assert(a.cellMass.toSeq == b.cellMass.toSeq,
      "the known cell IS the nearest cell — masses must agree exactly")
    assert(math.abs(a.meanResidNorm - b.meanResidNorm) < 1e-12)
    assert(math.abs(a.p95ResidNorm - b.p95ResidNorm) < 1e-12)
  }

  test("the training set scores clean against its own reference") {
    val ref = Similarity.driftStatsAssigned(spark, ivf.assignments,
      "cell", "vec", ivf.centroids)
    val r = Similarity.driftReport(spark, emb.select($"embedding"),
      "embedding", ivf.centroids, ref, unit = false)
    assert(!r.drifted)
    assert(math.abs(r.residRatio - 1.0) < 1e-9, "same data, same mean residual")
    assert(r.massKl < 1e-6, "same data routes identically")
  }

  test("an empty batch reports clean with n=0") {
    val ref = Similarity.driftStatsAssigned(spark, ivf.assignments,
      "cell", "vec", ivf.centroids)
    val r = Similarity.driftReport(spark,
      emb.filter($"vec_id" < 0).select($"embedding"), "embedding",
      ivf.centroids, ref, unit = false)
    assert(r.n == 0 && !r.drifted && r.residRatio == 1.0 && r.massKl == 0.0)
  }

  test("monitored graph append ≡ unmonitored append + a sane report") {
    val existing = GraphAnn.buildGraphPerCell(spark,
      ivf.assignments.filter($"id" % 2 === 0), m = 4, efConstruction = 16)
      .localCheckpoint(true)
    val batch = emb.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
    val ref = Similarity.driftStatsAssigned(spark, ivf.assignments,
      "cell", "vec", ivf.centroids)
    val plain = GraphAnn.appendGraphCells(existing, batch, "vec_id",
      "embedding", ivf.centroids, m = 4, efConstruction = 16)
    val (monitored, report) = GraphAnn.appendGraphCellsMonitored(existing,
      batch, "vec_id", "embedding", ivf.centroids, ref, m = 4,
      efConstruction = 16)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"part", $"id", $"level", $"seg")
    assert(norm(monitored).exceptAll(norm(plain)).isEmpty &&
      norm(plain).exceptAll(norm(monitored)).isEmpty,
      "the monitor must not change what the append builds")
    assert(report.n == batch.count())
    assert(!report.drifted, "an in-distribution half of the corpus is clean")
  }

  test("appendToIvfMonitored writes exactly what appendToIvf writes") {
    val d1 = java.nio.file.Files.createTempDirectory("graft-drift1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-drift2").toString
    Similarity.writeIvf(ivf, d1)
    Similarity.writeIvf(ivf, d2)
    val batch = emb.filter($"vec_id" % 3 === 0)
      .select(($"vec_id" + 50000L).as("vec_id"), $"embedding")
    Similarity.appendToIvf(spark, d1, batch, "vec_id", "embedding")
    val r = Similarity.appendToIvfMonitored(spark, d2, batch, "vec_id", "embedding")
    assert(!r.drifted)
    def cells(dir: String) = spark.read.parquet(s"$dir/assignments")
      .select($"id", $"cell").collect().map(x => (x.getLong(0), x.getInt(1)))
      .sortBy(_._1).toSeq
    assert(cells(d1) == cells(d2),
      "the fused single-assignment write must place every row in the same cell")
    assert(spark.read.parquet(s"$d2/drift_log").count() == 1)
  }

  test("graph-tier monitored appends log durably to a serving root (logTo)") {
    val root = java.nio.file.Files.createTempDirectory("graft-driftlog").toString
    val unified = Seq("batch_id", "n", "mean_rn", "p95_rn", "resid_ratio",
      "mass_kl", "drifted")
    val existing = GraphAnn.buildGraphPerCell(spark,
      ivf.assignments.filter($"id" % 2 === 0), m = 4, efConstruction = 16)
      .localCheckpoint(true)
    val batch = emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"embedding")
    val ref = Similarity.driftStatsAssigned(spark, ivf.assignments,
      "cell", "vec", ivf.centroids)
    // float leg: exactly one row per monitored append, the unified schema
    val (_, r1) = GraphAnn.appendGraphCellsMonitored(existing, batch,
      "vec_id", "embedding", ivf.centroids, ref, m = 4, efConstruction = 16,
      logTo = Some(root))
    val log1 = spark.read.parquet(s"$root/drift_log")
    assert(log1.columns.toSeq == unified, log1.columns.mkString(","))
    val row = log1.collect()
    assert(row.length == 1, "one monitored append = one log row")
    assert(row(0).isNullAt(0), "a batch leg logs a null batch_id")
    assert(row(0).getLong(1) == r1.n &&
      row(0).getBoolean(6) == r1.drifted)
    // history accumulates: a second append is a second row
    GraphAnn.appendGraphCellsMonitored(existing, batch, "vec_id",
      "embedding", ivf.centroids, ref, m = 4, efConstruction = 16,
      logTo = Some(root))
    assert(spark.read.parquet(s"$root/drift_log").count() == 2)
    // PQ leg: same schema, same one-row contract, on its own root
    val root2 = java.nio.file.Files.createTempDirectory("graft-driftlog2").toString
    val pq = Similarity.buildIvfPq(spark, emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", nCells = 8, subspaces = 8, codesPerSub = 8,
      ivfIters = 1, pqIters = 1)
    val pqNodes = GraphAnn.buildGraphPerCellPq(spark,
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", pq, m = 4,
      efConstruction = 16).localCheckpoint(true)
    val refPq = Similarity.driftStats(spark,
      emb.filter($"vec_id" % 2 === 0).select($"embedding"), "embedding",
      pq.centroids, unit = true)
    val (_, r2) = GraphAnn.appendGraphCellsPqMonitored(pqNodes, batch,
      "vec_id", "embedding", pq, refPq, m = 4, efConstruction = 16,
      logTo = Some(root2))
    val log2 = spark.read.parquet(s"$root2/drift_log")
    assert(log2.columns.toSeq == unified, log2.columns.mkString(","))
    assert(log2.count() == 1)
    assert(log2.head().getLong(1) == r2.n)
    // default stays DataFrame-in/DataFrame-out: a logTo-less append on
    // the SAME roots adds no drift_log row anywhere
    GraphAnn.appendGraphCellsMonitored(existing, batch, "vec_id",
      "embedding", ivf.centroids, ref, m = 4, efConstruction = 16)
    GraphAnn.appendGraphCellsPqMonitored(pqNodes, batch, "vec_id",
      "embedding", pq, refPq, m = 4, efConstruction = 16)
    assert(spark.read.parquet(s"$root/drift_log").count() == 2)
    assert(spark.read.parquet(s"$root2/drift_log").count() == 1)
  }

  test("null-vector rows are dropped by both IVF append legs, not crashed on") {
    val d1 = java.nio.file.Files.createTempDirectory("graft-driftn1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-driftn2").toString
    Similarity.writeIvf(ivf, d1)
    Similarity.writeIvf(ivf, d2)
    val good = emb.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 90000L).as("vec_id"), $"embedding")
    val batch = good.unionByName(
      good.limit(3).select(($"vec_id" + 1000000L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val before = spark.read.parquet(s"$d1/assignments").count()
    Similarity.appendToIvf(spark, d1, batch, "vec_id", "embedding")
    val r = Similarity.appendToIvfMonitored(spark, d2, batch, "vec_id", "embedding")
    val nGood = good.count()
    assert(spark.read.parquet(s"$d1/assignments").count() == before + nGood,
      "unmonitored append lands exactly the non-null rows")
    assert(spark.read.parquet(s"$d2/assignments")
      .filter($"id" >= 1000000L).isEmpty,
      "null-vector rows never reach the assignments table")
    assert(r.n == nGood, "the monitor counts exactly the rows the append writes")
    assert(!r.drifted)
  }

  test("writeIvfPq without a drift reference clears a stale one") {
    val pq = Similarity.buildIvfPq(spark, emb, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 8, ivfIters = 1, pqIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-drift3").toString + "/art"
    val ref = Similarity.driftStats(spark, emb.select($"embedding"),
      "embedding", pq.centroids, unit = true)
    Similarity.writeIvfPq(pq, dir, driftStats = Some(ref))
    assert(Similarity.readIvfPq(spark, dir).driftStats.isDefined)
    // in-place rewrite WITHOUT a reference: the old one must not survive
    // to mis-score batches against superseded centroids
    Similarity.writeIvfPq(pq, dir)
    assert(Similarity.readIvfPq(spark, dir).driftStats.isEmpty)
  }

  // ── unreadable drift references ───────────────────────────────────────

  /** Run `body`; return it with the WARN messages logged meanwhile. */
  private def withWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "drift-spec-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          msgs.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, msgs.asScala.toSeq)
    } finally { root.removeAppender(app); app.stop() }
  }
  /** Replace every data file under `dir` with bytes that are not parquet
    * (and drop the checksums, so the read fails on the content). */
  private def corrupt(dir: String): Unit =
    new java.io.File(dir).listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else if (f.getName.startsWith("part-"))
        java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
    }
  /** (failed, total) jobs `body` launched from this thread; its error. */
  private def jobOutcomes(body: => Any): (Int, Int, Option[Throwable]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.jobs") == tag)
          mine.add(e.jobId)
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (mine.contains(e.jobId) &&
            e.jobResult != org.apache.spark.scheduler.JobSucceeded)
          failed.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    val err =
      try { body; None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
      finally sc.setLocalProperty("graft.test.jobs", null)
    graft.ListenerDrain.drain(spark)
    sc.removeSparkListener(listener)
    (failed.get, mine.size, err)
  }

  private lazy val pqSmall = Similarity.buildIvfPq(spark, emb, "vec_id",
    "embedding", nCells = 8, subspaces = 8, codesPerSub = 8, ivfIters = 1,
    pqIters = 1)
  private lazy val pqRef = Similarity.driftStats(spark,
    emb.select($"embedding"), "embedding", pqSmall.centroids, unit = true)

  test("readDriftStats: absent is a silent None; unreadable is None with a WARN naming the path") {
    val base = java.nio.file.Files.createTempDirectory("graft-drift4").toString
    val (absent, quiet) = withWarnings(
      Similarity.readDriftStats(spark, s"$base/never_written"))
    assert(absent.isEmpty)
    assert(!quiet.exists(_.contains("drift reference")), quiet)
    val path = s"$base/drift_stats"
    Similarity.writeIvfHead(spark, pqSmall.centroids, base, Some(pqRef))
    assert(Similarity.readDriftStats(spark, path).isDefined)
    corrupt(path)
    val (bad, warned) = withWarnings(Similarity.readDriftStats(spark, path))
    assert(bad.isEmpty, "an unreadable reference degrades to None")
    assert(warned.exists(_.contains(s"drift reference at $path is unreadable")),
      s"the degrade must be loud and name $path: $warned")
  }

  test("readIvfPq: an unreadable drift leg degrades to None with a WARN; the core legs still read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift5").toString + "/art"
    Similarity.writeIvfPq(pqSmall, dir, Some(3), Some(pqRef))
    val good = Similarity.readIvfPq(spark, dir)
    assert(good.driftStats.isDefined)
    corrupt(s"$dir/drift_stats")
    val (art, warned) = withWarnings(Similarity.readIvfPq(spark, dir))
    assert(art.driftStats.isEmpty)
    assert(warned.exists(
        _.contains(s"drift reference at $dir/drift_stats is unreadable")),
      s"the degrade must name the drift path: $warned")
    assert(art.clumpBound == Some(3))
    assert(art.index.centroids.map(_._1).toSeq ==
      good.index.centroids.map(_._1).toSeq)
    assert(art.index.centroids.zip(good.index.centroids).forall {
      case ((_, a), (_, b)) => java.util.Arrays.equals(a, b) })
    def book(a: Similarity.IvfPqArtifacts) =
      a.index.book.centroids.map(_.map(_.toSeq).toSeq).toSeq
    assert(book(art) == book(good))
  }

  test("readIvfPq: a core-leg failure is rethrown without a second core collect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift6").toString + "/art"
    Similarity.writeIvfPq(pqSmall, dir, Some(3), Some(pqRef))
    corrupt(s"$dir/codebook")
    val ((failed, total, err), warned) =
      withWarnings(jobOutcomes(Similarity.readIvfPq(spark, dir)))
    assert(err.isDefined, "a corrupt codebook must fail the read")
    assert(!warned.exists(_.contains("drift reference")),
      s"a readable drift leg must not be blamed: $warned")
    // the fused collect fails once; the drift leg alone reads fine, so
    // the core legs are not collected again
    assert(failed == 1, s"$failed failed of $total jobs")
  }
}

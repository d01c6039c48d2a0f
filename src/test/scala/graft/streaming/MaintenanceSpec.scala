package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphAnn, Opq, ServingTier, Similarity}
import graft.pipeline.PartitionedUpsert

/** The ST8 scheduler leg: land-then-log pending state, the one-tick
  * drift response, window cleanup, and the crash-replay idempotence that
  * makes the cron-shaped loop safe.
  */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
  private lazy val base = emb.filter($"vec_id" % 2 === 0)
    .select($"vec_id", $"embedding").localCheckpoint(true)
  private def drifted = emb.filter($"vec_id" % 8 === 1)
    .select(($"vec_id" + 900000L).as("vec_id"),
      expr("transform(embedding, x -> x + 0.5f)").as("embedding"))
  private def inDist = emb.filter($"vec_id" % 8 === 3)
    .select(($"vec_id" + 800000L).as("vec_id"), $"embedding")

  /** Stage one parquet file per df with ascending mtimes (one
    * micro-batch each under maxFilesPerTrigger=1).
    */
  private def stageFiles(dir: String,
      dfs: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    dfs.zipWithIndex.foreach { case (df, i) =>
      val scratch = Files.createTempDirectory("graft-mt-part")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val ls = Files.list(scratch)
      val part =
        try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally ls.close()
      val dst = java.nio.file.Paths.get(dir, s"b$i.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
        .fromMillis(1700000000000L + i * 3600000L))
    }
  }

  /** Base deployment: IVF-PQ + graph + reference published under a fresh
    * root; returns (root, ix, ref, v0).
    */
  private def publishBase(): (String, Similarity.IvfPqIndex,
      Similarity.DriftStats, String) = {
    val ix = Similarity.buildIvfPq(spark, base, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 8, ivfIters = 2, pqIters = 1)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", ix, m = 4, efConstruction = 16)
    val ref = Similarity.driftStats(spark, base.select($"embedding"),
      "embedding", ix.centroids, unit = true)
    val root = Files.createTempDirectory("graft-mt-root").toString
    val v0 = GraphAnn.publishPqServing(nodes, ix, root,
      Some(GraphAnn.pqClumpBound(nodes)), Some(ref))
    (root, ix, ref, v0)
  }

  /** Float deployment: raw-space IVF + graph + reference under a fresh
    * publishServing root; returns (root, v0).
    */
  private def publishFloat(): (String, String) = {
    val ivf = Similarity.buildIvf(spark,
      base.select($"vec_id".as("id"), $"embedding".as("vec")),
      "id", "vec", nCells = 8, iters = 2)
    val assignments = ivf.assignments.localCheckpoint(true)
    val nodes = GraphAnn.buildGraphPerCell(spark, assignments, m = 4,
      efConstruction = 16)
    val ref = Similarity.driftStatsAssigned(spark, assignments, "cell",
      "vec", ivf.centroids)
    val root = Files.createTempDirectory("graft-mt-froot").toString
    (root, GraphAnn.publishServing(nodes, ivf.centroids, root, Some(ref)))
  }

  /** OPQ deployment: rotated-space IVF-PQ + graph + reference under a
    * fresh publishPqServing root; returns (root, ix, v0).
    */
  private def publishOpq(): (String, Similarity.IvfPqIndex, String) = {
    val ix = Opq.buildIvfOpq(spark, base, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 8, ivfIters = 2,
      pqIters = 1, opqIters = 2)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", ix, m = 4, efConstruction = 16)
    val rotU = Opq.rotateUnitUdf(spark, ix.rotation.get)
    val ref = Similarity.driftStats(spark,
      base.select(rotU($"embedding").as("embedding")), "embedding",
      ix.centroids, unit = true)
    val root = Files.createTempDirectory("graft-mt-oroot").toString
    (root, ix, GraphAnn.publishPqServing(nodes, ix, root,
      Some(GraphAnn.pqClumpBound(nodes)), Some(ref)))
  }

  test("pruneDriftLog: window rows drop, null-id and later rows stay") {
    val dir = Files.createTempDirectory("graft-mt-log").toString + "/log"
    def rep(d: Boolean) = Similarity.DriftReport(4, 1.0, 1.0, 1.0, 0.1, d)
    Similarity.appendDriftLog(spark, dir, rep(false), Some(0L))
    Similarity.appendDriftLog(spark, dir, rep(true), Some(1L))
    Similarity.appendDriftLog(spark, dir, rep(false), None)
    Similarity.appendDriftLog(spark, dir, rep(false), Some(2L))
    assert(Similarity.pruneDriftLog(spark, dir, 1L) == 2L)
    val left = spark.read.parquet(dir).select($"batch_id").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(left == Seq(-1L, 2L), s"null-id and post-window rows stay: $left")
    assert(Similarity.pruneDriftLog(spark, dir, 99L) == 1L)
    assert(Similarity.pruneDriftLog(spark, dir, 99L) == 0L, "idempotent")
  }

  test("ingest lands a drifted batch's rows BEFORE logging the trip; clean batches land nothing") {
    val (root, ix, ref, _) = publishBase()
    val run = Files.createTempDirectory("graft-mt-ingest").toString
    stageFiles(s"$run/vecs", Seq(inDist, drifted))
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, s"$run/vecs",
      s"$run/index", s"$run/ckpt", minCosine = 0.4, bands = 8,
      rowsPerBand = 4, maxFilesPerTrigger = Some(1), buckets = 8,
      driftMonitor = Some(StreamingIngest.DriftMonitorConfig(
        ix.centroids, ref)))
    val ids = Maintenance.pendingDriftBatchIds(spark, s"$run/index")
    assert(ids.size == 1, s"exactly the planted batch pends: $ids")
    assert(!graft.core.Fs.exists(spark,
      s"$run/index/drift_batches/batch_id=0"),
      "the clean batch lands no pending rows")
    val landed = spark.read
      .parquet(s"$run/index/drift_batches/batch_id=${ids.head}")
    assert(landed.count() == drifted.count(),
      "the pending dir holds the full drifted batch")
    assert(landed.columns.toSeq == Seq("id", "vec"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("one maintenance tick: rebuild fires, window prunes, pending clears; second tick no-op") {
    val (root, ix, ref, v0) = publishBase()
    val run = Files.createTempDirectory("graft-mt-tick").toString
    stageFiles(s"$run/vecs", Seq(inDist, drifted))
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, s"$run/vecs",
      s"$run/index", s"$run/ckpt", minCosine = 0.4, bands = 8,
      rowsPerBand = 4, maxFilesPerTrigger = Some(1), buckets = 8,
      driftMonitor = Some(StreamingIngest.DriftMonitorConfig(
        ix.centroids, ref)))
    val corpus = base.unionByName(drifted).localCheckpoint(true)
    val tick1 = Maintenance.runDriftMaintenance(spark, s"$run/index", root,
      corpus, "vec_id", "embedding", splitFactor = 2, ivfIters = 2,
      m = 4, efConstruction = 16)
    assert(tick1.rebuild.nonEmpty, "the planted mode must trigger a rebuild")
    val res = tick1.rebuild.get
    assert(res.version != v0)
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version), "one-flip republish")
    // window cleared: no pending ids, processed log rows pruned
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty)
    assert(tick1.logRowsPruned >= 2)
    assert(spark.read.parquet(s"$run/index/drift_log")
      .filter($"batch_id" <= tick1.pendingBatchIds.max).isEmpty)
    // the published reference covers every served row (the r17 remainder
    // fold): its n equals the coded rowcount
    val art = Similarity.readIvfPq(spark, s"$root/${res.version}/artifacts")
    assert(art.driftStats.get.n == art.index.coded.count(),
      "reference.n must track the served corpus")
    // second tick: nothing pending, no flip
    val tick2 = Maintenance.runDriftMaintenance(spark, s"$run/index", root,
      corpus, "vec_id", "embedding")
    assert(tick2.pendingBatchIds.isEmpty && tick2.rebuild.isEmpty)
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("float tier tick: rebuild fires, window prunes, second tick no-op, replay absorbed") {
    // float deployment (the PQ tick test's shape on the other tier)
    val (root, v0) = publishFloat()
    val run = Files.createTempDirectory("graft-mt-ftick").toString
    // the stream's on-disk pending contract, constructed directly:
    // land-then-log the drifted batch under one stream batch id
    val batch = drifted.localCheckpoint(true)
    def land(id: Long): Unit = {
      batch.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
        .write.mode("overwrite")
        .parquet(s"$run/index/drift_batches/batch_id=$id")
      Similarity.appendDriftLog(spark, s"$run/index/drift_log",
        Similarity.DriftReport(batch.count(), 1.0, 1.0, 2.0, 2.0,
          drifted = true), Some(id))
    }
    land(4L)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val tick1 = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding", splitFactor = 2, ivfIters = 2,
      m = 4, efConstruction = 16)
    assert(tick1.rebuild.nonEmpty, "the planted mode must rebuild")
    val res = tick1.rebuild.get
    assert(res.tripped.nonEmpty && res.version != v0)
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version), "one-flip republish")
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty)
    assert(tick1.logRowsPruned >= 1)
    // every batch row is served by the new version
    val served = spark.read.parquet(s"$root/${res.version}/cells")
      .select($"id").distinct()
    assert(batch.select($"vec_id".cast("long").as("id"))
      .join(served, Seq("id"), "left_anti").isEmpty,
      "every drifted row must be served after the tick")
    // second tick: no-op, no flip
    val tick2 = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding")
    assert(tick2.pendingBatchIds.isEmpty && tick2.rebuild.isEmpty)
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version))
    // crash replay: the same rows re-land under a NEW id (post-publish
    // re-log) — novelPending absorbs them, state clears, no second flip
    land(5L)
    val replay = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding")
    assert(replay.pendingBatchIds == Seq(5L) && replay.rebuild.isEmpty,
      "already-served rows drop in novelPending — nothing to rebuild")
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty)
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version), "no second flip")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("first-contact clean verdict APPENDS the novel rows (the normal append leg completes)") {
    val (root, _, _, v0) = publishBase()
    val run = Files.createTempDirectory("graft-mt-clean").toString
    // an over-sensitive stream logged an in-distribution batch as
    // drifted; thresholds passed to the TICK are maxed so no cell can
    // trip — forcing the clean-verdict path deterministically
    val batch = inDist.localCheckpoint(true)
    batch.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
      .write.mode("overwrite")
      .parquet(s"$run/index/drift_batches/batch_id=2")
    Similarity.appendDriftLog(spark, s"$run/index/drift_log",
      Similarity.DriftReport(batch.count(), 1.0, 1.0, 2.0, 2.0,
        drifted = true), Some(2L))
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val tick = Maintenance.runDriftMaintenance(spark, s"$run/index", root,
      corpus, "vec_id", "embedding", splitFactor = 2, ivfIters = 2,
      m = 4, efConstruction = 16,
      residRatioMax = 100.0, massRatioMax = 1e6, minMass = 0.99)
    val res = tick.rebuild.getOrElse(fail(
      "the clean verdict must still produce an append receipt"))
    assert(res.tripped.isEmpty && res.newCells.isEmpty &&
      res.regionRows == 0L, "nothing retrained")
    assert(res.restRows == batch.count(), "every novel row appended")
    assert(res.version != v0 && graft.pipeline.VersionedIndex
      .currentVersion(root).contains(res.version), "one-flip republish")
    // the appended rows are actually served, and the published
    // reference's n tracks the served corpus (coverage fold)
    val served = spark.read.parquet(s"$root/${res.version}/cells")
      .select($"id").distinct()
    assert(batch.select($"vec_id".cast("long").as("id"))
      .join(served, Seq("id"), "left_anti").isEmpty,
      "the clean batch's rows must be served after the tick")
    val art = Similarity.readIvfPq(spark, s"$root/${res.version}/artifacts")
    assert(art.driftStats.get.n == art.index.coded.count(),
      "reference.n must cover the appended rows")
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty,
      "pending state clears after the append")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("single-flight lease: a held lock skips without losing state; a stale lock is broken") {
    val run = Files.createTempDirectory("graft-mt-lease").toString
    val index = s"$run/index"
    // pending drifted state on disk
    drifted.limit(4).select($"vec_id".cast("long").as("id"),
        $"embedding".as("vec"))
      .write.mode("overwrite").parquet(s"$index/drift_batches/batch_id=1")
    Similarity.appendDriftLog(spark, s"$index/drift_log",
      Similarity.DriftReport(4, 1.0, 1.0, 2.0, 2.0, drifted = true),
      Some(1L))
    val lock = new org.apache.hadoop.fs.Path(s"$index/maintenance.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeLock(content: String): Unit = {
      val out = fs.create(lock, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // live holder → the tick SKIPS: nothing examined, nothing lost.
    // Content is deliberately EMPTY: staleness is judged by mtime, and
    // an empty (mid-write) lock must read as HELD, never as breakable —
    // the r18-review race where a content-based check broke a live
    // lease it caught mid-write.
    writeLock("")
    val skippedTick = Maintenance.runDriftMaintenance(spark, index,
      s"$run/no-root", base, "vec_id", "embedding")
    assert(skippedTick.skipped && skippedTick.rebuild.isEmpty &&
      skippedTick.pendingBatchIds.isEmpty && skippedTick.logRowsPruned == 0L)
    assert(Maintenance.pendingDriftBatchIds(spark, index) == Seq(1L),
      "a skipped tick must not consume or lose the pending window")
    assert(fs.exists(lock), "the skipper must not release the holder's lock")
    // stale holder (crashed tick) → broken, the tick proceeds. Staleness
    // = old MTIME (content irrelevant). The serving root deliberately
    // doesn't exist: the rebuild THROWING proves the lease was broken
    // and the tick entered the body — and the lock must still release
    // on the error path (it holds the tick's own token).
    writeLock("some-dead-ticks-token")
    fs.setTimes(lock, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    val e = intercept[IllegalStateException] {
      Maintenance.runDriftMaintenance(spark, index, s"$run/no-root",
        base, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("no published"), e.getMessage)
    assert(!fs.exists(lock), "the lease releases on the error path too")
    // with the lock free the tick completes (no-root never reached:
    // absorb the pending window first so the rebuild isn't needed)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$index/drift_batches/batch_id=1"), true)
    val clean = Maintenance.runDriftMaintenance(spark, index,
      s"$run/no-root", base, "vec_id", "embedding")
    assert(!clean.skipped && clean.logRowsPruned >= 1,
      "a free lock admits the tick; the healthy path still prunes")
    assert(!fs.exists(lock), "released after a completed tick")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("healthy stream: a tick with nothing pending still bounds the log") {
    val run = Files.createTempDirectory("graft-mt-healthy").toString
    val index = s"$run/index"
    def rep(d: Boolean) = Similarity.DriftReport(4, 1.0, 1.0, 1.0, 0.1, d)
    Similarity.appendDriftLog(spark, s"$index/drift_log", rep(false), Some(0L))
    Similarity.appendDriftLog(spark, s"$index/drift_log", rep(false), Some(1L))
    Similarity.appendDriftLog(spark, s"$index/drift_log", rep(false), None)
    val tick = Maintenance.runDriftMaintenance(spark, index,
      s"$run/no-root", base, "vec_id", "embedding")
    assert(tick.pendingBatchIds.isEmpty && tick.rebuild.isEmpty)
    assert(tick.logRowsPruned == 2L,
      "the no-op tick prunes the clean window (null-id rows stay)")
    val left = spark.read.parquet(s"$index/drift_log")
      .select($"batch_id").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(left == Seq(-1L), s"only the null-id row stays: $left")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("pruneDriftLog never loses a row appended concurrently (file-granular prune)") {
    // the r17-advice race, made deterministic: rows land in the log
    // AFTER the prune's read but BEFORE its delete would have rewritten
    // the dir under the old Overwrite scheme. File-granular pruning
    // deletes only fully-covered files, so the late row's file — id
    // above the watermark — is untouchable by construction. Simulate by
    // interleaving: prune(1) while rows 2..3 were appended after the
    // rows 0..1 it targets; then verify ONLY 0..1 left.
    val dir = Files.createTempDirectory("graft-mt-race").toString + "/log"
    def rep = Similarity.DriftReport(4, 1.0, 1.0, 2.0, 2.0, drifted = true)
    Similarity.appendDriftLog(spark, dir, rep, Some(0L))
    Similarity.appendDriftLog(spark, dir, rep, Some(1L))
    Similarity.appendDriftLog(spark, dir, rep, Some(2L))
    Similarity.appendDriftLog(spark, dir, rep, Some(3L))
    assert(Similarity.pruneDriftLog(spark, dir, 1L) == 2L)
    val left = spark.read.parquet(dir).select($"batch_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(2L, 3L),
      s"rows above the watermark survive byte-identical: $left")
    // prune-all leaves a readable (schema-only) log dir
    assert(Similarity.pruneDriftLog(spark, dir, 9L) == 2L)
    assert(spark.read.parquet(dir).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(java.nio.file.Paths.get(dir).getParent.toString))
  }

  test("a crash between prune and dir-delete is adopted by the NEXT tick, pending or not") {
    val run = Files.createTempDirectory("graft-mt-orphan").toString
    val log = s"$run/index/drift_log"
    // the crash window's on-disk shape: the tick pruned the log (and
    // advanced the durable watermark) but died before deleting the dir
    Similarity.appendDriftLog(spark, log,
      Similarity.DriftReport(4, 1.0, 1.0, 2.0, 2.0, drifted = true),
      Some(3L))
    assert(Similarity.pruneDriftLog(spark, log, 3L) == 1L)
    drifted.limit(4).select($"vec_id".cast("long").as("id"),
        $"embedding".as("vec"))
      .write.mode("overwrite")
      .parquet(s"$run/index/drift_batches/batch_id=3")
    // a stray unparseable dir must be ignored, not crash the tick
    Files.createDirectories(java.nio.file.Paths.get(
      s"$run/index/drift_batches/batch_id=5.bak"))
    val tick = Maintenance.runDriftMaintenance(spark, s"$run/index",
      s"$run/no-root", base, "vec_id", "embedding")
    assert(tick.pendingBatchIds.isEmpty && tick.rebuild.isEmpty)
    assert(!graft.core.Fs.exists(spark,
      s"$run/index/drift_batches/batch_id=3"),
      "the empty tick must adopt the pruned-window orphan")
    assert(graft.core.Fs.exists(spark,
      s"$run/index/drift_batches/batch_id=5.bak"),
      "unparseable names are ignored, not deleted or fatal")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("crash after publish, BEFORE prune: the pending replay is absorbed, no second flip") {
    // construct the exact crash-window state: the rebuild PUBLISHED but
    // the tick died before pruning — log row + landed dir present,
    // watermark not advanced, every landed id already served
    val (root, ix, ref, _) = publishBase()
    val run = Files.createTempDirectory("graft-mt-crash").toString
    val batch = drifted.localCheckpoint(true)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val res = GraphAnn.rebuildDriftedServing(spark, root,
      corpus, "vec_id", "embedding", batch, "vec_id", "embedding",
      splitFactor = 2, ivfIters = 2, m = 4, efConstruction = 16)
    assert(res.nonEmpty, "fixture: the planted mode must rebuild")
    val v1 = res.get.version
    batch.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
      .write.mode("overwrite")
      .parquet(s"$run/index/drift_batches/batch_id=7")
    Similarity.appendDriftLog(spark, s"$run/index/drift_log",
      Similarity.DriftReport(4, 1.0, 1.0, 2.0, 2.0, drifted = true),
      Some(7L))
    val replay = Maintenance.runDriftMaintenance(spark, s"$run/index", root,
      corpus, "vec_id", "embedding", splitFactor = 2, ivfIters = 2,
      m = 4, efConstruction = 16)
    assert(replay.pendingBatchIds == Seq(7L), "the replayed batch pends")
    assert(replay.rebuild.isEmpty,
      "already-served rows drop in novelPending — nothing to rebuild")
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty,
      "the replay still clears the pending state")
    assert(graft.pipeline.VersionedIndex.currentVersion(root).contains(v1),
      "no second flip")
    // crash AFTER prune instead: the watermark sweep adopts a re-landed
    // dir at the next tick's start (covered by the orphan test above);
    // re-landing the same id below the watermark is swept, not re-pended
    batch.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
      .write.mode("overwrite")
      .parquet(s"$run/index/drift_batches/batch_id=7")
    val tick3 = Maintenance.runDriftMaintenance(spark, s"$run/index", root,
      corpus, "vec_id", "embedding")
    assert(tick3.pendingBatchIds.isEmpty && tick3.rebuild.isEmpty)
    assert(!graft.core.Fs.exists(spark,
      s"$run/index/drift_batches/batch_id=7"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
  }

  test("OPQ tick: the one tick serves an OPQ root, rotation survives the flip, replay absorbed") {
    val (root, ix, v0) = publishOpq()
    val run = Files.createTempDirectory("graft-mt-otick").toString
    val batch = drifted.localCheckpoint(true)
    def land(id: Long): Unit = {
      batch.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
        .write.mode("overwrite")
        .parquet(s"$run/index/drift_batches/batch_id=$id")
      Similarity.appendDriftLog(spark, s"$run/index/drift_log",
        Similarity.DriftReport(batch.count(), 1.0, 1.0, 2.0, 2.0,
          drifted = true), Some(id))
    }
    land(4L)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    // 1. the one tick reads the OPQ tier from the root: the RAW pending
    // batch rotates at the tick boundary, the region retrains in rotated
    // space, and the rotation is carried through the flip BIT-EXACTLY
    val tick1 = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding", splitFactor = 2, ivfIters = 2,
      m = 4, efConstruction = 16)
    assert(tick1.rebuild.nonEmpty, "the planted mode must rebuild")
    val res = tick1.rebuild.get
    assert(res.version != v0 &&
      graft.pipeline.VersionedIndex.currentVersion(root)
        .contains(res.version), "one-flip republish")
    val rotAfter = spark.read.parquet(s"$root/${res.version}/artifacts/rotation")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    assert(rotAfter.length == ix.rotation.get.length &&
      rotAfter.zip(ix.rotation.get).forall {
        case (a, b) => java.util.Arrays.equals(a, b) },
      "the frozen rotation must survive the flip bit-exactly")
    // 2. every drifted row served; the PQ cold start reads the flipped
    // version as OPQ
    val served = spark.read.parquet(s"$root/${res.version}/cells")
      .select($"id").distinct()
    assert(batch.select($"vec_id".cast("long").as("id"))
      .join(served, Seq("id"), "left_anti").isEmpty,
      "every drifted row must be served after the tick")
    assert(ServingTier.of(spark, root, res.version).name == "OPQ")
    val probes = batch.limit(5)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val got = GraphAnn.searchGraphRoutedPqColdStart(spark, root, corpus,
      "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 8, k = 4, ef = 64, rerankFactor = 16)
    assert(got.count() == 5L * 4, "cold OPQ serve over the flipped root")
    // 3. window cleared; second tick no-op; a crash replay (same rows,
    // new id) is absorbed without a second flip
    assert(Maintenance.pendingDriftBatchIds(spark, s"$run/index").isEmpty)
    val tick2 = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding")
    assert(tick2.pendingBatchIds.isEmpty && tick2.rebuild.isEmpty)
    land(5L)
    val replay = Maintenance.runDriftMaintenance(spark, s"$run/index",
      root, corpus, "vec_id", "embedding")
    assert(replay.pendingBatchIds == Seq(5L) && replay.rebuild.isEmpty,
      "already-served rows drop in novelPending — nothing to rebuild")
    assert(graft.pipeline.VersionedIndex.currentVersion(root)
      .contains(res.version), "no second flip")
    Seq(root, run).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("a root that is not a serving root refuses at TICK START, quiet ticks included") {
    // a publishGraphCells root: graph cells, no artifacts/. Read as a
    // serving root it would run quiet prunes and fail only at the first
    // drift trip, with a path-not-found error
    val (pqRoot, ix, _, _) = publishBase()
    val cellsRoot = Files.createTempDirectory("graft-mt-cells").toString
    GraphAnn.publishGraphCells(GraphAnn.buildGraphPerCellPq(spark, base,
      "vec_id", "embedding", ix, m = 4, efConstruction = 8), cellsRoot)
    val run = Files.createTempDirectory("graft-mt-tier").toString
    val index = s"$run/index"
    Similarity.appendDriftLog(spark, s"$index/drift_log",
      Similarity.DriftReport(4, 1.0, 1.0, 1.0, 0.1, drifted = false),
      Some(0L))
    val ex = intercept[IllegalStateException] {
      Maintenance.runDriftMaintenance(spark, index, cellsRoot, base,
        "vec_id", "embedding")
    }
    assert(Seq("not a serving version", "GraphAnn.publishServing",
      "GraphAnn.publishPqServing")
      .forall(ex.getMessage.contains), ex.getMessage)
    assert(spark.read.parquet(s"$index/drift_log").count() == 1L,
      "the refusal comes before the prune")
    // ... and a quiet tick on a serving root still no-ops cleanly (the
    // check does not break the healthy path; the refusal held no lease)
    val ok = Maintenance.runDriftMaintenance(spark, index, pqRoot, base,
      "vec_id", "embedding")
    assert(ok.pendingBatchIds.isEmpty && ok.rebuild.isEmpty &&
      !ok.skipped && ok.logRowsPruned == 1L)
    Seq(pqRoot, cellsRoot, run).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("a tick's jobs carry its description; a quiet tick runs as many jobs on every tier") {
    val roots = Seq("float" -> publishFloat()._1, "PQ" -> publishBase()._1,
      "OPQ" -> publishOpq()._1)
    // each root's tier is read from its layout
    assert(roots.map { case (_, r) => ServingTier.of(spark, r,
      graft.pipeline.VersionedIndex.currentVersion(r).get).name } ==
      roots.map(_._1))
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    val run = Files.createTempDirectory("graft-mt-label").toString
    val jobs = roots.map { case (tier, root) =>
      val index = s"$run/$tier/index"
      def rep = Similarity.DriftReport(4, 1.0, 1.0, 1.0, 0.1, drifted = false)
      Similarity.appendDriftLog(spark, s"$index/drift_log", rep, Some(0L))
      Similarity.appendDriftLog(spark, s"$index/drift_log", rep, Some(1L))
      graft.ListenerDrain.drain(spark)
      seen.clear()
      sc.addSparkListener(listener)
      val tick =
        try Maintenance.runDriftMaintenance(spark, index, root, base,
          "vec_id", "embedding")
        finally {
          graft.ListenerDrain.drain(spark)
          sc.removeSparkListener(listener)
        }
      assert(tick.rebuild.isEmpty && tick.logRowsPruned == 2L)
      import scala.jdk.CollectionConverters._
      val labels = seen.asScala.toSeq
      val want = s"maintenance tick: index $index, root $root (tier $tier)"
      assert(labels.nonEmpty && labels.forall(_ == want), s"$tier: $labels")
      labels.size
    }
    // the tier read itself launches no job
    assert(jobs.distinct.size == 1,
      s"quiet-tick jobs on the float, PQ and OPQ roots: $jobs")
    (roots.map(_._2) :+ run).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("pool threads made under a tick's label do not keep it") {
    // the tick's publish legs run on graft.core.Pools.io; a thread the
    // pool makes while the tick's description is set must not carry that
    // label into later, unrelated jobs
    val sc = spark.sparkContext
    implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.io
    import scala.concurrent.duration._
    // n legs held at a barrier: each takes its own pool thread
    def onPoolThreads(n: Int)(body: => Unit): Unit = {
      val barrier = new java.util.concurrent.CountDownLatch(n)
      (1 to n).map(_ => scala.concurrent.Future {
        barrier.countDown()
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
        body
      }).foreach(scala.concurrent.Await.result(_, 2.minutes))
    }
    val label = "maintenance tick: index i, root r (tier PQ)"
    // more legs than the pool holds idle, so it makes threads here
    graft.core.Jobs.labelled(sc, label)(onPoolThreads(32)(()))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.probe") != null)
          seen.add(String.valueOf(
            e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try onPoolThreads(32) {
      sc.setLocalProperty("graft.test.probe", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.probe", null)
    } finally {
      graft.ListenerDrain.drain(spark)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val labels = seen.asScala.toSeq
    assert(labels.size == 32 && !labels.contains(label), s"labels: $labels")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphAnn, ServingTier, Similarity}

/** The scheduler leg that closes the auto-maintenance loop (ST8) — the
  * Spark-native analog of the reference's cron-driven index maintenance
  * (main.py:146-156 registers the indexer jobs on APScheduler cron
  * triggers; here the "cron tick" is this one idempotent batch call,
  * invoked by whatever scheduler a deployment runs):
  *
  *   stream ingest ([[StreamingIngest.runAvailableNowNearDupEmbeddings]]
  *   with a drift monitor) LANDS each drifted batch's rows under
  *   `indexDir/drift_batches/batch_id=N` and THEN logs its report to
  *   `indexDir/drift_log` (land-then-log: a log row implies the rows are
  *   on disk; a crash between the two replays the batch and rewrites
  *   both — same batch id, same rows)
  *     →  [[runDriftMaintenance]] reads the log (`dropDuplicates
  *        ("batch_id")` — the log is a monitor, replays append duplicate
  *        rows), takes the drifted batch ids whose pending rows exist,
  *        unions those rows into ONE batch, and hands it to
  *        [[GraphAnn.rebuildDriftedServing]] — v37's bounded response on
  *        whatever tier the root serves (float, PQ or OPQ): localize →
  *        retrain tripped cells only → remainder append → exact
  *        reference merge → one-flip republish
  *     →  on ANY terminal verdict (rebuilt, or None = the signal is
  *        already absorbed by the current reference) the pending state
  *        clears: the processed window's log rows prune
  *        ([[Similarity.pruneDriftLog]]) and the batch dirs delete.
  *
  * Crash safety is by idempotence, not transactions: the publish itself
  * is atomic ([[graft.pipeline.VersionedIndex]] pointer flip), and a
  * crash after the publish but before the cleanup re-runs the whole
  * call — the re-scored batch reads in-distribution against the NEW
  * merged reference, the rebuild returns None (nothing re-appends; ids
  * stay unique), and the cleanup completes. The spec pins that replay
  * path.
  *
  * On FIRST contact with rows no cell-level trip confirms (stream
  * thresholds more sensitive than the rebuild's), the orchestrator
  * COMPLETES the normal append leg itself (`appendCleanNovel`, default
  * on → the rebuild's `appendWhenClean` path: fresh segments, reference
  * fold, one flip) before the pending state clears — in a deployment
  * where the tick is the only writer to the serving root, nothing else
  * would ever serve those arrivals (r17 advice). The report signals it
  * as Some(rebuild) with an empty `tripped` set. Only a replay whose
  * rows are ALL already served yields a true None.
  *
  * Ticks are SINGLE-FLIGHT per index dir: a lease file serializes
  * concurrent callers the way the reference's APScheduler serializes
  * job instances; the loser of the race skips (`skipped = true`)
  * rather than double-processing the window.
  */
object Maintenance {

  /** One maintenance tick's outcome: which logged batches were pending,
    * the rebuild verdict (None = nothing pending or nothing novel;
    * Some with an EMPTY `tripped` = nothing retrained, the novel rows
    * were appended normally — the r17-advice completion of the "normal
    * append leg"), how much history the prune removed, and whether the
    * tick was skipped because another tick holds the lease
    * (`skipped = true` → nothing was examined or mutated; re-run after
    * the holder finishes).
    */
  final case class MaintenanceReport(pendingBatchIds: Seq[Long],
      rebuild: Option[GraphAnn.PartialRebuildReport], logRowsPruned: Long,
      skipped: Boolean = false)

  private def driftLogDir(indexDir: String) = s"$indexDir/drift_log"
  private def batchDir(indexDir: String, batchId: Long) =
    s"$indexDir/drift_batches/batch_id=$batchId"
  private def lockPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/maintenance.lock")

  /** Single-flight lease (the reference's APScheduler serializes job
    * instances — one running instance per job, main.py:146-156; two
    * overlapping ticks here would race the prune/sweep: each is
    * self-consistent, but one tick's sweep can delete batch dirs the
    * other is mid-read). Acquire = atomic create-no-overwrite of a lock
    * file holding a fresh OWNER TOKEN; a second tick finds it and SKIPS
    * (never blocks — the holder will process the same pending window).
    * Returns the token (None = held by someone else).
    *
    * The three races a naive lock gets wrong, and their answers here:
    * (1) staleness is judged by the lock file's MODIFICATION TIME, never
    * its content — a reader can see a just-created lock mid-write
    * (empty), and content-based staleness would break a LIVE lease;
    * (2) a stale lease is broken by atomic RENAME to a breaker-unique
    * name — exactly one of two racing breakers' renames succeeds, so
    * the loser can never delete the winner's freshly created lock the
    * way delete-then-create allows; (3) release deletes the lock ONLY
    * if it still holds this tick's own token — a tick that overran
    * `leaseMs` and was shadowed must not delete its successor's lease
    * on the way out. `leaseMs` must exceed the longest plausible tick
    * (default 30 min); a live tick outliving its lease can be shadowed
    * once — the contract every lease-based scheduler carries — but the
    * token check stops the shadowing from cascading.
    *
    * FILESYSTEM CONTRACT (r18 advice): mutual exclusion is only as real
    * as `fs.create(path, overwrite = false)` is atomic. HDFS guarantees
    * it (namenode-arbitrated); the local filesystem implements the flag
    * as check-then-create — a narrow TOCTOU acceptable for the
    * one-scheduler-per-box deployments local paths imply; S3-class
    * object stores WITHOUT conditional PUT do not honor it at all, so
    * there the lease is purely ADVISORY — run exactly one scheduler per
    * index dir, or arbitrate externally (a conditional-put-capable
    * store, or a lock service). Staleness compares the lock's mtime
    * against the FILESYSTEM'S OWN clock ([[fsClockMillis]] — both
    * timestamps from the same authority, so cross-host clock skew can't
    * judge a live lease stale), falling back to the local clock only if
    * the probe write fails.
    */
  private def acquireLease(spark: SparkSession, indexDir: String,
      leaseMs: Long): Option[String] = {
    val p = lockPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false)
        try out.write(token.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return Some(token)
    // held — stale? mtime-based: content may be mid-write
    val mtime =
      try fs.getFileStatus(p).getModificationTime
      catch {
        case _: java.io.FileNotFoundException =>
          // released between our create and the stat — one clean retry
          return if (tryCreate()) Some(token) else None
        case _: java.io.IOException => return None
      }
    val now = fsClockMillis(fs, p.getParent)
      .getOrElse(System.currentTimeMillis())
    if (now - mtime <= leaseMs) return None
    // break the stale lease: rename is the arbiter (one winner)
    val broken = new org.apache.hadoop.fs.Path(
      s"${p.toString}.broken.$token")
    val won = try fs.rename(p, broken)
    catch { case _: java.io.IOException => false }
    if (!won) return None // another breaker got it; let THEM acquire
    fs.delete(broken, false)
    if (tryCreate()) Some(token) else None
  }

  /** The filesystem's OWN clock, by touch-and-stat: create a throwaway
    * sibling, stat its mtime, delete it. Lets staleness compare two
    * timestamps from the same authority instead of trusting the local
    * clock against a remote writer's. None if the probe fails — the
    * caller falls back to the local clock, best-effort.
    */
  private def fsClockMillis(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Long] =
    try {
      val probe = new org.apache.hadoop.fs.Path(dir,
        s".lease-clock-${java.util.UUID.randomUUID()}")
      val out = fs.create(probe, true)
      out.close()
      val t = fs.getFileStatus(probe).getModificationTime
      fs.delete(probe, false)
      Some(t)
    } catch { case _: java.io.IOException => None }

  private def releaseLease(spark: SparkSession, indexDir: String,
      token: String): Unit = {
    val p = lockPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ours =
      try {
        val in = fs.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          "UTF-8") == token
        finally in.close()
      } catch { case _: java.io.IOException => false }
    if (ours) fs.delete(p, false)
    ()
  }

  /** The drifted, still-pending batch ids: ANY logged trip per batch id
    * counts (a crash-replayed batch can log twice, and if a reference
    * swap between the attempts makes the verdicts disagree, the
    * conservative aggregate wins — parquet row order must never decide;
    * the tick's own localize is the authority and returns None for a
    * clean batch anyway) AND the landed rows are still on disk (a
    * missing dir means a finished tick's cleanup got them — or
    * land-then-log was interrupted, in which case the stream's replay
    * rewrites both under the same id).
    */
  def pendingDriftBatchIds(spark: SparkSession, indexDir: String): Seq[Long] =
    logSnapshot(spark, indexDir)._2

  /** ONE aggregate over the drift log serves both tick-start reads: the
    * healthy-path prune bound (max logged batch id, drifted or not) and
    * the pending set (ids with ANY drifted row whose landed dir still
    * exists). The old shape paid two jobs over the same tiny log per
    * tick (r20, guide §1.2); a single snapshot is also strictly safer
    * against a live stream — the bound and the pending set now come from
    * the SAME data, so a batch logged mid-tick is in neither (it pends
    * at the next tick, above the pruned window).
    */
  private def logSnapshot(spark: SparkSession,
      indexDir: String): (Long, Seq[Long]) = {
    val log = driftLogDir(indexDir)
    if (!graft.core.Fs.exists(spark, log)) return (-1L, Nil)
    val perBatch = spark.read.schema(Similarity.driftLogSchema).parquet(log)
      .filter(col("batch_id").isNotNull)
      .groupBy(col("batch_id"))
      .agg(max(col("drifted")).as("drifted"))
      .select(col("batch_id").cast("long"), col("drifted"))
      .collect()
    val upto =
      if (perBatch.isEmpty) -1L else perBatch.iterator.map(_.getLong(0)).max
    val pending = perBatch.iterator
      .filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(_.getLong(0)).toSeq.sorted
      .filter(id => graft.core.Fs.exists(spark, batchDir(indexDir, id)))
    (upto, pending)
  }

  /** One maintenance tick against a serving root of any tier: float
    * ([[GraphAnn.publishServing]]), PQ ([[GraphAnn.publishPqServing]]) or
    * OPQ (the same publish of a [[graft.operators.Opq.buildIvfOpq]]
    * index) — the reference's
    * one cron job per index, whatever it stores. `corpus` is the view the
    * index was built/appended from (the member fetch for tripped cells —
    * [[GraphAnn.rebuildDriftedServing]]'s contract, including its
    * missing-row and duplicate-id refusals); `corpus` and the landed
    * batches stay RAW on an OPQ root (the rebuild rotates them). Nothing
    * pending → cheap no-op (one log read). The tick's Spark jobs carry
    * the description `maintenance tick: index I, root R (tier T)`.
    *
    * A root that is not a serving root ([[ServingTier.of]]: no
    * `artifacts/` in its CURRENT version, e.g. a
    * [[GraphAnn.publishGraphCells]] root) is refused at TICK START, quiet
    * ticks included, before the lease — a scheduler pointed at the wrong
    * root must fail its FIRST tick (a config review at rollout), not run
    * silent healthy-path prunes for days and then fail at the first
    * drift trip (r19 review). A root with no published version yet
    * passes: it has no layout until the first publish, and a pending
    * batch then fails inside the rebuild with the lease released.
    *
    * The arrival-point monitor needs no OPQ variant: feed
    * [[graft.streaming.StreamingIngest.DriftMonitorConfig]] the raw-space
    * head from [[graft.operators.Opq.unrotatedCentroids]] (rotation is an
    * isometry — identical verdicts, zero per-row rotation cost at
    * ingest).
    */
  def runDriftMaintenance(spark: SparkSession, indexDir: String,
      servingRoot: String, corpus: DataFrame, idCol: String, vecCol: String,
      splitFactor: Int = 2, ivfIters: Int = 3, m: Int = 8,
      efConstruction: Int = 64, maxSegmentSize: Int = Int.MaxValue,
      residRatioMax: Double = 1.25, massRatioMax: Double = 4.0,
      minMass: Double = 0.01, keepVersions: Int = 2,
      appendCleanNovel: Boolean = true,
      leaseMs: Long = 30L * 60 * 1000): MaintenanceReport = {
    val tier = graft.pipeline.VersionedIndex.currentVersion(servingRoot)
      .fold("unpublished")(v => ServingTier.of(spark, servingRoot, v).name)
    graft.core.Jobs.labelled(spark.sparkContext,
      s"maintenance tick: index $indexDir, root $servingRoot (tier $tier)") {
      runTick(spark, indexDir, servingRoot, leaseMs,
        batch => GraphAnn.rebuildDriftedServing(spark, servingRoot,
          corpus, idCol, vecCol, batch, "id", "vec", splitFactor, ivfIters,
          m, efConstruction, maxSegmentSize, residRatioMax, massRatioMax,
          minMass, keepVersions, appendWhenClean = appendCleanNovel))
    }
  }

  /** The tick body under the lease. One rebuild for the union of
    * pending batches: a single localize/retrain/publish beats one flip
    * per logged batch (the monitor can trip several times on one mode). Already-served ids drop first
    * ([[novelPending]]) — a crash-replayed tick re-pends rows the
    * interrupted tick's publish already indexed, and handing them back
    * to the rebuild would violate the append leg's id-uniqueness
    * contract (duplicate nodes in the republished index); the anti-join
    * makes the replay verdict deterministic instead of leaving it to
    * whether the absorbed mode happens to re-trip.
    */
  private def runTick(spark: SparkSession, indexDir: String,
      servingRoot: String, leaseMs: Long,
      rebuildFn: DataFrame => Option[GraphAnn.PartialRebuildReport])
      : MaintenanceReport = {
    val lease = acquireLease(spark, indexDir, leaseMs)
    if (lease.isEmpty)
      return MaintenanceReport(Nil, None, 0L, skipped = true)
    try {
      // adopt orphans FIRST, pending or not: a crash between a previous
      // tick's prune and its dir deletes leaves landed dirs whose log rows
      // are gone — they sit at or below the durable prune watermark, which
      // is what distinguishes them from a dir the live stream is writing
      // RIGHT NOW (not logged yet, id above every pruned id — batch ids
      // are checkpoint-monotonic). Without this, a quiet stream would
      // preserve crash orphans forever.
      sweepLanded(spark, indexDir,
        Similarity.prunedUpto(spark, driftLogDir(indexDir)))
      // the healthy-path prune bound and the pending set come from ONE
      // log snapshot ([[logSnapshot]]) — the bound therefore covers
      // exactly the ids the pending check saw, which preserves the
      // invariant the old two-read order protected: a drifted batch
      // landed and logged mid-tick is in NEITHER (it survives the prune
      // — land-then-log + checkpoint-monotonic ids put it above the
      // bound — and pends at the next tick). Pruning past the pending
      // check's view would sweep such a batch unrebuilt — the exact
      // lost-drift-response class the file-granular prune eliminates.
      val (healthyUpto, ids) = logSnapshot(spark, indexDir)
      if (ids.isEmpty) {
        // nothing pending — still bound the log (r17 advice: a healthy
        // stream that never trips would otherwise grow it without
        // bound). Every id logged at healthyUpto-read time is safely
        // prunable here: land-then-log means a drifted row's dir either
        // still exists (then the LATER pending read would have seen it
        // — ids would be non-empty) or was already swept by a finished
        // tick; an interrupted landing has NO log row, and its replay
        // re-logs under an id above every logged one.
        val pruned =
          if (healthyUpto < 0L) 0L
          else Similarity.pruneDriftLog(spark, driftLogDir(indexDir),
            healthyUpto)
        return MaintenanceReport(Nil, None, pruned)
      }
      val batch = novelPending(spark, indexDir, servingRoot, ids)
      val rebuild = if (batch.isEmpty) None else rebuildFn(batch)
      // terminal either way — clear the processed window: prune the log
      // (which also advances the durable watermark), then sweep every
      // landed dir in the window
      val pruned = Similarity.pruneDriftLog(spark, driftLogDir(indexDir),
        uptoBatchId = ids.max)
      sweepLanded(spark, indexDir, ids.max)
      MaintenanceReport(ids, rebuild, pruned)
    } finally releaseLease(spark, indexDir, lease.get)
  }

  /** Delete every landed batch dir with id ≤ `upto` (no-op for
    * upto < 0 — never pruned).
    */
  private def sweepLanded(spark: SparkSession, indexDir: String,
      upto: Long): Unit =
    if (upto >= 0L)
      landedBatchIds(spark, indexDir).filter(_ <= upto)
        .foreach(id => graft.core.Fs.delete(spark, batchDir(indexDir, id)))

  /** Every batch id with landed rows under `drift_batches/` (one level:
    * `batch_id=N` dirs; names that don't parse — a stray hand-copied or
    * external-writer dir — are ignored rather than crashing every tick).
    */
  private def landedBatchIds(spark: SparkSession,
      indexDir: String): Seq[Long] =
    graft.core.Fs.listDirNames(spark, s"$indexDir/drift_batches")
      .collect { case n if n.startsWith("batch_id=") =>
        n.stripPrefix("batch_id=") }
      .flatMap(_.toLongOption)
      .sorted

  /** The pending rows not yet served by the root's CURRENT version:
    * one id anti-join against the published graph nodes (the graph
    * carries post-publish appends the PQ artifacts' coded table may
    * lack, so nodes are the authoritative membership). Checkpointed —
    * the emptiness probe and the rebuild both read the O(batch) result.
    */
  private def novelPending(spark: SparkSession, indexDir: String,
      servingRoot: String, ids: Seq[Long]): DataFrame = {
    val pending = spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .parquet(ids.map(batchDir(indexDir, _)): _*)
      .select(col("id"), col("vec"))
    graft.pipeline.VersionedIndex.currentVersion(servingRoot) match {
      case Some(v) =>
        // partial user schema = projection at the scan, no inference job
        val served = spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType))))
          .parquet(s"$servingRoot/$v/cells")
          .select(col("id"))
        pending.join(served, Seq("id"), "left_anti").localCheckpoint(true)
      case None => pending.localCheckpoint(true)
    }
  }
}

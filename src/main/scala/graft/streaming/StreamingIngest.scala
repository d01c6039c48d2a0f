package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.Jobs.labelled
import graft.operators.Dedup
import graft.pipeline.PartitionedUpsert

/** Continuous corpus construction: a document stream is paragraph-deduped
  * against the ever-growing corpus fingerprint index, and both the kept
  * paragraphs and the index live in [[PartitionedUpsert]]'s hash-bucket
  * layout, so each micro-batch rewrites only the buckets it touches.
  *
  * This is the composition story at ingest scale: [[Dedup
  * .ingestNovelParagraphs]] (Bloom-gated membership against the persisted
  * index — definitely-novel paragraphs never shuffle) feeds
  * [[PartitionedUpsert.upsertByKey]] (only affected buckets rewritten).
  * The stream's checkpoint makes batch progress exactly-once; the
  * fingerprint key makes the sink idempotent under replays (a replayed
  * batch's paragraphs are all "already indexed" the second time).
  */
object StreamingIngest {

  /** Everything the arrival-point drift monitor needs, with the same
    * tunable thresholds the batch append legs
    * ([[graft.operators.Similarity.appendToIvfMonitored]],
    * [[graft.operators.GraphAnn.appendGraphCellsPqMonitored]]) expose —
    * a deployment tunes the monitor here instead of forking the ingest
    * loop. `centroids` + `ref` are the serving index's build-time
    * distribution, both durable under a
    * [[graft.operators.GraphAnn.publishPqServing]] root.
    */
  final case class DriftMonitorConfig(
      centroids: Array[(Int, Array[Float])],
      ref: graft.operators.Similarity.DriftStats,
      residRatioMax: Double = 1.25,
      klMax: Double = 0.5)

  /** Default hash-bucket count for the index tables. Size it to the
    * index's data, not its row count at gate scale: each micro-batch's
    * upsert rewrites every touched bucket, so an oversharded index pays
    * (buckets × shuffle-width) small-file writes per pass for no
    * pruning benefit. Gates pass 8; a 100 TB index sizes buckets so
    * each holds O(100 MB–1 GB).
    */
  private val Buckets = 64

  // The index tables' on-disk shapes (data columns + the `_bucket`
  // partition column), supplied to every per-micro-batch re-read so the
  // loop never pays a schema-inference job per trigger (see Similarity's
  // artifact-schema note — at the local scheduler floor those one-task
  // jobs are the loop's overhead, not its work).
  private val SigsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("id BIGINT, sig ARRAY<BIGINT>, _bucket INT")
  private val SksSchema = org.apache.spark.sql.types.StructType
    .fromDDL("id BIGINT, vec ARRAY<FLOAT>, sks ARRAY<BIGINT>, _bucket INT")
  private val BandsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("band INT, bh BIGINT, id BIGINT, _bucket INT")

  /** Post-pass index maintenance: every [[PartitionedUpsert.upsertByKey]]
    * rewrites a touched bucket with as many files as tasks held its rows,
    * so a long-lived ingest index fragments at the rate of (touched
    * buckets × shuffle width) per pass. Running
    * [[graft.pipeline.Compaction]] between passes bounds file counts
    * without touching healthy buckets; content (and therefore every
    * dedup/replay invariant) is unchanged. The near-dup index compacts
    * both of its tables (`sigs/`, `bands/`).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      maxFilesPerPartition: Int = 4,
      targetFileBytes: Long = 128L << 20): graft.pipeline.Compaction.Report = {
    import graft.pipeline.Compaction
    val sub = Seq("sigs", "bands").map(n => s"$indexDir/$n")
      .filter(graft.core.Fs.exists(spark, _))
    val dirs = if (sub.nonEmpty) sub else Seq(indexDir)
    // the drift log fragments one tiny file per micro-batch — include it
    // (flat dir, so the flat compactor; content preserved exactly, the
    // dropDuplicates("batch_id") read is unchanged)
    val logReports = Seq(s"$indexDir/drift_log")
      .filter(graft.core.Fs.exists(spark, _))
      .map(Compaction.compactFlat(spark, _, maxFilesPerPartition,
        targetFileBytes))
    (dirs.map(Compaction.compactPartitioned(spark, _, "_bucket",
        maxFilesPerPartition, targetFileBytes)) ++ logReports)
      .reduce((a, b) => graft.pipeline.Compaction.Report(
        a.partitionsScanned + b.partitionsScanned,
        a.partitionsCompacted + b.partitionsCompacted,
        a.filesBefore + b.filesBefore, a.filesAfter + b.filesAfter,
        a.rowsRewritten + b.rowsRewritten))
  }

  /** One AvailableNow pass over document files in `docsDir`: dedup each
    * micro-batch against the fingerprint index at `indexDir`, append the
    * novel paragraphs, and grow the index. Returns micro-batch count.
    * `sourceSchema` (when the caller knows the files' shape) skips the
    * per-call schema-inference job over `docsDir`.
    */
  def runAvailableNow(spark: SparkSession, docsDir: String, indexDir: String,
      checkpointDir: String, paragraphs: Column,
      expectedKeys: Long = 1000000L,
      sourceSchema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val schema = sourceSchema.getOrElse(spark.read.parquet(docsDir).schema)
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    var batches = 0L
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        val s = batch.sparkSession
        def label(x: String) =
          s.sparkContext.setJobDescription(s"ingest b$batchId: $x")
        try {
          label("batch gate")
          if (!batch.isEmpty) {
            val haveIndex = graft.core.Fs.exists(s, indexDir)
            val indexFps =
              if (haveIndex) PartitionedUpsert.read(s, indexDir).select(col("_fp"))
              else s.emptyDataFrame.select(lit("").as("_fp")).filter(lit(false))
            label("dedup novel")
            val novel = Dedup.ingestNovelParagraphs(batch, "doc_id", paragraphs,
                indexFps, expectedKeys)
              .localCheckpoint(true) // one evaluation feeds index + payload
            val entries = novel.select(col("_fp"), col("id").as("owner_id"),
              col("p_idx"), col("p_text"))
            // the key collect doubles as the emptiness check — the old
            // per-batch `novel.isEmpty` job is folded into the upsert's
            // own distinct-collect (r20, guide §1.2)
            label("index upsert")
            val keyRows = PartitionedUpsert.distinctKeyRows(entries, "_fp",
              Buckets)
            if (keyRows.nonEmpty) {
              if (haveIndex)
                PartitionedUpsert.upsertByKey(s, indexDir, entries, "_fp",
                  Buckets, Some(keyRows))
              else
                PartitionedUpsert.writeInitial(entries, indexDir, "_fp", Buckets)
            }
          }
        } finally s.sparkContext.setJobDescription(null)
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** One AvailableNow pass with the NEAR-duplicate gate
    * ([[Dedup.ingestNovelDocuments]]): each micro-batch is signed, gated
    * against the persisted signature index at `indexDir` (`sigs/` +
    * `bands/`, both [[PartitionedUpsert]] tables keyed by id so replays
    * REPLACE rather than duplicate), and the survivors' signatures and
    * band rows grow the index. The band Bloom is driver-held derived
    * state: built once from the persisted bands when the stream starts,
    * merged with each batch's delta — never rebuilt from the corpus
    * inside the loop (and safely reconstructible after a restart).
    *
    * Crash/replay safety: if a batch re-runs after its append, every one
    * of its documents matches its own indexed signature (estimated
    * Jaccard 1.0 ≥ threshold) and drops — the re-run appends nothing.
    */
  /** [[runAvailableNowNearDup]] in EMBEDDING space — the d16 gate's loop
    * as an end-to-end streaming query: each micro-batch of (id, vector)
    * rows is sketched once, Bloom-gated against the persisted sketch
    * index at `indexDir` (`sks/` + `bands/`, both [[PartitionedUpsert]]
    * tables keyed by id so replays REPLACE rather than duplicate),
    * verified by EXACT cosine against the colliding index vectors, and
    * the survivors' sketches and band rows grow the index. Same
    * crash/replay safety as the text twin: a replayed batch's vectors
    * all match their own indexed sketches (cosine 1.0 ≥ minCosine) and
    * drop, appending nothing.
    *
    * `driftMonitor` wires the v35 drift monitor into the ARRIVAL POINT:
    * given a [[DriftMonitorConfig]] (the serving index's centroids +
    * build-time [[graft.operators.Similarity.DriftStats]], both durable
    * under a [[graft.operators.GraphAnn.publishPqServing]] root, plus
    * the same tunable thresholds the batch legs expose) — every
    * micro-batch scores a [[graft.operators.Similarity.DriftReport]]
    * (unit space) and appends one row keyed by the STREAM's batch id to
    * `indexDir/drift_log`, so the rebuild signal (v36) fires from the
    * ingest loop itself instead of a separate scan. The log is a
    * monitor, not state: a crash-replayed batch appends a second row
    * with the SAME batch id (read with `dropDuplicates("batch_id")`);
    * the ingest's own exactly-once contract is unchanged.
    */
  def runAvailableNowNearDupEmbeddings(spark: SparkSession, vecsDir: String,
      indexDir: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", minCosine: Double = 0.95,
      bands: Int = 8, rowsPerBand: Int = 8,
      expectedBandKeys: Long = 1L << 20,
      maxFilesPerTrigger: Option[Int] = None,
      buckets: Int = Buckets,
      driftMonitor: Option[DriftMonitorConfig] = None,
      sourceSchema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val sksDir = s"$indexDir/sks"
    val bandsDir = s"$indexDir/bands"
    val schema = sourceSchema.getOrElse(spark.read.parquet(vecsDir).schema)
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(vecsDir)
    var batches = 0L
    var bloom: org.apache.spark.util.sketch.BloomFilter = null
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        val s = batch.sparkSession
        def label(x: String) =
          s.sparkContext.setJobDescription(s"embed-ingest b$batchId: $x")
        try {
          label("batch gate")
          if (!batch.isEmpty) {
          driftMonitor.foreach { cfg =>
            label("drift monitor")
            val rep = graft.operators.Similarity.driftReport(s,
              batch.select(col(vecCol)), vecCol, cfg.centroids, cfg.ref,
              unit = true, residRatioMax = cfg.residRatioMax,
              klMax = cfg.klMax)
            // LAND-THEN-LOG (the graph legs' discipline): a drifted
            // batch's rows persist under drift_batches/batch_id=N BEFORE
            // its log row, so a logged trip always has its rows on disk
            // for the maintenance scheduler ([[Maintenance]]) to retrain
            // from. Overwrite per batch dir → crash replays rewrite the
            // same dir with the same rows (idempotent, like the log's
            // dropDuplicates contract).
            if (rep.drifted)
              batch.select(col(idCol).cast("long").as("id"),
                  col(vecCol).as("vec"))
                .write.mode(SaveMode.Overwrite)
                .parquet(s"$indexDir/drift_batches/batch_id=$batchId")
            graft.operators.Similarity.appendDriftLog(s,
              s"$indexDir/drift_log", rep, batchId = Some(batchId))
          }
          val haveIndex = graft.core.Fs.exists(s, sksDir)
          def emptyTyped(cols: (String, String)*): DataFrame =
            s.emptyDataFrame.select(cols.map { case (n, t) =>
              lit(null).cast(t).as(n) }: _*).filter(lit(false))
          val sks =
            if (haveIndex) PartitionedUpsert.read(s, sksDir, Some(SksSchema))
            else emptyTyped("id" -> "long", "vec" -> "array<float>",
              "sks" -> "array<long>")
          val bandTbl =
            if (haveIndex) PartitionedUpsert.read(s, bandsDir,
              Some(BandsSchema))
            else emptyTyped("band" -> "int", "bh" -> "long", "id" -> "long")
          if (bloom == null) {
            label("band bloom cold build")
            bloom =
              if (haveIndex) Dedup.buildBandBloom(bandTbl, expectedBandKeys)
              else org.apache.spark.util.sketch.BloomFilter
                .create(expectedBandKeys, 0.01)
          }
          // the WithSketches form hands back the survivors' sketches from
          // the batch's single sketching pass — the loop never re-sketches
          label("dedup novel")
          val delta = Dedup.ingestNovelEmbeddingsWithSketches(batch, idCol,
              vecCol, sks, bandTbl, minCosine, bands, rowsPerBand,
              bandBloom = Some(bloom))
            .sketches.localCheckpoint(true) // feeds both upserts + bloom
          // ONE distinct-collect serves BOTH upserts (band rows carry
          // exactly the sketch ids, hashed by the same key and bucket
          // count) and doubles as the emptiness check — the old shape
          // paid a per-batch `delta.isEmpty` job plus a distinct-collect
          // per table (r20, guide §1.2)
          label("index upsert")
          val keyRows = PartitionedUpsert.distinctKeyRows(delta, "id", buckets)
          if (keyRows.nonEmpty) {
            val deltaBands = Dedup.embeddingBandIndex(delta)
            if (haveIndex) {
              // independent tables — overlap the writes (the text twin's
              // await-both-then-rethrow discipline) on the dedicated
              // overlap pool (never the process-global EC: nested overlap
              // can exhaust it on low-core machines — r19 advice)
              import scala.concurrent.{Await, Future}
              implicit val ec: scala.concurrent.ExecutionContext =
                graft.core.Pools.io
              val up = Seq(
                Future(labelled(s.sparkContext, s"embed-ingest b$batchId: sks upsert") {
                  PartitionedUpsert.upsertByKey(s, sksDir, delta,
                    "id", buckets, Some(keyRows))
                }),
                Future(labelled(s.sparkContext, s"embed-ingest b$batchId: bands upsert") {
                  PartitionedUpsert.upsertByKey(s, bandsDir, deltaBands,
                    "id", buckets, Some(keyRows))
                }))
              val outcomes = up.map(f => scala.util.Try(
                Await.result(f, scala.concurrent.duration.Duration.Inf)))
              outcomes.collectFirst { case scala.util.Failure(e) => throw e }
            } else {
              PartitionedUpsert.writeInitial(delta, sksDir, "id", buckets)
              PartitionedUpsert.writeInitial(deltaBands, bandsDir, "id", buckets)
            }
            label("delta bloom")
            bloom.mergeInPlace(Dedup.buildBandBloom(deltaBands, expectedBandKeys))
          }
          }
        } finally s.sparkContext.setJobDescription(null)
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }

  def runAvailableNowNearDup(spark: SparkSession, docsDir: String,
      indexDir: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.7,
      expectedBandKeys: Long = 1L << 20,
      maxFilesPerTrigger: Option[Int] = None,
      buckets: Int = Buckets,
      sourceSchema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val sigsDir = s"$indexDir/sigs"
    val bandsDir = s"$indexDir/bands"
    val schema = sourceSchema.getOrElse(spark.read.parquet(docsDir).schema)
    // maxFilesPerTrigger splits a backlog into real micro-batches (the
    // file source takes oldest-mtime-first), so an AvailableNow pass over
    // N staged files exercises the batch-over-growing-index loop N times
    // instead of collapsing to one batch — the st6 gate relies on this.
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(docsDir)
    var batches = 0L
    var bloom: org.apache.spark.util.sketch.BloomFilter = null
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        val s = batch.sparkSession
        def label(x: String) =
          s.sparkContext.setJobDescription(s"neardup-ingest b$batchId: $x")
        try {
          label("batch gate")
          if (!batch.isEmpty) {
          val haveIndex = graft.core.Fs.exists(s, sigsDir)
          def emptyTyped(cols: (String, String)*): DataFrame =
            s.emptyDataFrame.select(cols.map { case (n, t) =>
              lit(null).cast(t).as(n) }: _*).filter(lit(false))
          val sigs =
            if (haveIndex) PartitionedUpsert.read(s, sigsDir, Some(SigsSchema))
            else emptyTyped("id" -> "long", "sig" -> "array<long>")
          val bands =
            if (haveIndex) PartitionedUpsert.read(s, bandsDir,
              Some(BandsSchema))
            else emptyTyped("band" -> "int", "bh" -> "long", "id" -> "long")
          if (bloom == null) {
            label("band bloom cold build")
            bloom =
              if (haveIndex) Dedup.buildBandBloom(bands, expectedBandKeys)
              else org.apache.spark.util.sketch.BloomFilter
                .create(expectedBandKeys, 0.01)
          }
          // the WithSigs form hands back the survivors' signatures from
          // the gate's own single signing pass — the index delta needs
          // ONLY them, so the loop never re-signs the batch text (minhash
          // is the dominant per-row kernel) and one checkpoint replaces
          // the survivor-rows + re-sign pair of materializations
          label("dedup novel")
          val deltaSigs = Dedup.ingestNovelDocumentsWithSigs(batch, idCol,
              textCol, sigs, bands, threshold, bandBloom = Some(bloom))
            .sigs.localCheckpoint(true) // feeds sig upsert, band delta, bloom
          // ONE distinct-collect serves BOTH upserts (band rows carry
          // exactly the signature ids, hashed by the same key and bucket
          // count) and doubles as the emptiness check — the old shape
          // paid a per-batch `deltaSigs.isEmpty` job plus a
          // distinct-collect per table (r20, guide §1.2)
          label("index upsert")
          val keyRows = PartitionedUpsert.distinctKeyRows(deltaSigs, "id",
            buckets)
          if (keyRows.nonEmpty) {
            val deltaBands = Dedup.minhashBandIndex(deltaSigs)
            if (haveIndex) {
              // independent tables — overlap the two maintenance writes
              // (upsertByKey holds no session-level state; see the
              // writer-level overwrite option in PartitionedUpsert) on
              // the dedicated overlap pool (r19 advice)
              import scala.concurrent.{Await, Future}
              implicit val ec: scala.concurrent.ExecutionContext =
                graft.core.Pools.io
              val up = Seq(
                Future(labelled(s.sparkContext, s"neardup-ingest b$batchId: sigs upsert") {
                  PartitionedUpsert.upsertByKey(s, sigsDir, deltaSigs,
                    "id", buckets, Some(keyRows))
                }),
                Future(labelled(s.sparkContext, s"neardup-ingest b$batchId: bands upsert") {
                  PartitionedUpsert.upsertByKey(s, bandsDir, deltaBands,
                    "id", buckets, Some(keyRows))
                }))
              // await BOTH before surfacing a failure: rethrowing on the
              // first would leave the other table's overwrite running
              // detached, racing any replay of this batch
              val outcomes = up.map(f => scala.util.Try(
                Await.result(f, scala.concurrent.duration.Duration.Inf)))
              outcomes.collectFirst { case scala.util.Failure(e) => throw e }
            } else {
              PartitionedUpsert.writeInitial(deltaSigs, sigsDir, "id", buckets)
              PartitionedUpsert.writeInitial(deltaBands, bandsDir, "id", buckets)
            }
            label("delta bloom")
            bloom.mergeInPlace(Dedup.buildBandBloom(deltaBands, expectedBandKeys))
          }
          }
        } finally s.sparkContext.setJobDescription(null)
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.SplitParams
import graft.services.{Embedder, HashingEmbedder}

/** The reference's incremental indexing loop as a Spark batch job
  * (SURVEY §3.2, §2.11): change-detect against a keyed state table, chunk +
  * embed only what changed, keyed-replace into the index, purge vanished
  * parents, update per-file state (attempts / blocked, F3) and emit run
  * summary counters (A2).
  *
  * State and index are plain parquet tables keyed by parent_id; this is the
  * piece that makes re-runs cheap — at 100 TB the win is never re-embedding
  * unchanged documents (the reference calls full re-index "significant cost
  * implications", CHANGELOG v2.2.5). Change detection is a broadcast-friendly
  * left join on (parent_id, content_hash); no driver-side key maps.
  */
object IncrementalIndexer {

  final case class RunSummary(runId: String, sourceDocs: Long, processed: Long,
      skippedNoChange: Long, skippedBlocked: Long, purgedParents: Long,
      chunksWritten: Long, indexSize: Long)

  val maxAttempts = 3

  private val stateSchema = StructType(Seq(
    StructField("parent_id", LongType),
    StructField("content_hash", StringType),
    StructField("attempts", IntegerType),
    StructField("blocked", BooleanType)))

  /** The index table's columns — the `newDocs` projection in [[runOnce]]. */
  private[graft] val indexSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("parent_id", LongType),
    StructField("chunk_id", IntegerType),
    StructField("content", StringType),
    StructField("n_tokens", IntegerType),
    StructField("chunk_offset", LongType),
    StructField("source", StringType),
    StructField("lang", StringType),
    StructField("contentVector", ArrayType(FloatType, containsNull = false))))

  private def readOr(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (graft.core.Fs.exists(spark, dir))
      // schema supplied (it is this writer's own) — skips the per-read
      // schema-inference job (r19; see Similarity's artifact-schema note)
      spark.read.schema(schema).parquet(dir)
    else emptyTable(spark, schema)

  /** An empty table the optimizer knows is empty: a `LocalRelation`, so
    * `PropagateEmptyRelation` folds a join against it away. (An `emptyRDD`
    * scan has no size estimate: a first run's change-detect against it
    * plans as a sort-merge join, whose exchange AQE coalesces into one
    * task.)
    */
  private[graft] def emptyTable(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** One incremental run. `docs` needs (doc_id, text, source, lang).
    *
    * A run that would change nothing writes nothing (the reference's
    * hourly no-change run diffs the listing and uploads and deletes
    * nothing): it launches no chunk/embed work and rewrites neither the
    * index nor the state table, and `indexSize` is one count over the
    * existing index. The skip fires exactly when the rewrite would put
    * back the rows already there: both tables exist, no listed document
    * is new or changed outside the blocked set (`processed == 0`), every
    * index parent is listed (`purgedParents == 0`), and the listing's
    * `doc_id`s are non-null, distinct and matched one-to-one with the
    * state rows, none of which has a null column. Any other run takes the
    * rewrite path below.
    */
  def runOnce(spark: SparkSession, docs: DataFrame, indexDir: String, stateDir: String,
      runId: String, p: SplitParams = ChunkIndexer.defaultSplit,
      embedder: Embedder = new HashingEmbedder(64)): RunSummary = {
    graft.functions.GraftFunctions.register(spark)
    // localCheckpoint (not cache): one computation, blocks freed by the
    // context cleaner when the frame is dropped — no CacheManager leak
    // across repeated runs in a long session
    val hashed = docs.withColumn("content_hash", md5(col("text"))).localCheckpoint(true)
    val state = readOr(spark, stateDir, stateSchema)

    // F1/F12: keep docs that are new or whose content changed; F3: skip blocked
    val joined = hashed.join(
      state.select(col("parent_id").as("doc_id"), col("content_hash").as("prev_hash"),
        col("blocked"), col("attempts")),
      Seq("doc_id"), "left")
    val isBlocked = coalesce(col("blocked"), lit(false))
    val changed = col("prev_hash").isNull || col("prev_hash") =!= col("content_hash")
    // all run counters in ONE aggregate job (state is keyed by parent_id, so
    // the left join preserves hashed's row count and `total` = sourceDocs);
    // counted before any table overwrite — writing stateDir below would make
    // a re-read of the state see the new hashes
    val stats = joined.agg(
      count(lit(1)).as("total"),
      count(when(col("blocked") === true, 1)).as("blocked"),
      count(when(col("prev_hash") === col("content_hash") && !isBlocked, 1)).as("unchanged"),
      count(when(!isBlocked && changed, 1)).as("processed")).head()
    val (sourceDocs, blockedCount, unchanged, processed) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    val unchangedSize =
      if (processed == 0) unchangedIndexSize(spark, hashed, state, indexDir, stateDir)
      else None
    if (unchangedSize.isDefined)
      return RunSummary(runId, sourceDocs, processed, unchanged, blockedCount,
        purgedParents = 0, chunksWritten = 0, indexSize = unchangedSize.get)
    val toProcess = joined.filter(!isBlocked && changed)
      .select(hashed.columns.toIndexedSeq.map(col): _*)

    // chunk → embed → search docs (only the changed slice), materialized
    // ONCE: everything downstream (replace, purge, the index write and the
    // chunksWritten counter) derives from this checkpoint, so the embedder —
    // the cost the whole incremental design exists to avoid — runs exactly
    // once per chunk per run
    // spread the changed documents over the cores by doc_id: the chunk
    // window needs that clustering anyway, so this exchange replaces the
    // window's own, and its explicit count keeps AQE from packing a first
    // build's chunking and embedding into one task
    val chunks = Chunkers.chunkDocuments(
      toProcess.repartition(spark.sparkContext.defaultParallelism, col("doc_id")),
      "doc_id", "text", None, p)
    val newDocs = ChunkIndexer.embedChunks(chunks, "content", embedder)
      .select(col("chunk_key").as("id"), col("doc_id").as("parent_id"),
        col("chunk_id"), col("content"), col("n_tokens"), col("chunk_offset"),
        col("source"), col("lang"), col("contentVector"))
      .localCheckpoint(true)
    val chunksWritten = newDocs.count()

    // K2/K3 replace + J2 purge against the current source listing
    val index = readOr(spark, indexDir, indexSchema)
    val replaced = ChunkIndexer.replaceParents(index, newDocs)
    val purged = ChunkIndexer.purgeMissing(replaced,
      hashed.select(col("doc_id").as("parent_id")))
    val purgedParents = index.select("parent_id").distinct()
      .join(hashed.select(col("doc_id").as("parent_id")), Seq("parent_id"), "left_anti")
      .count()

    // materialize before overwriting the index table we just read
    val finalIndex = purged.localCheckpoint(true)
    val perSource = finalIndex.groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toSeq
    bySourceTasks(finalIndex, perSource)
      .write.mode(SaveMode.Overwrite).partitionBy("source").parquet(indexDir)

    // state': successful parents get attempts=0, hash updated; blocked rows
    // persist so poison pills stay skipped (F3 semantics)
    // blocked rows keep their previous hash: they were NOT processed, so an
    // unblock must let the pending change re-trigger processing
    val newState = hashed
      .join(state.select(col("parent_id").as("doc_id"), col("content_hash").as("prev_hash"),
        col("attempts"), col("blocked")),
        Seq("doc_id"), "left")
      .select(col("doc_id").as("parent_id"),
        when(coalesce(col("blocked"), lit(false)), coalesce(col("prev_hash"), col("content_hash")))
          .otherwise(col("content_hash")).as("content_hash"),
        coalesce(col("attempts"), lit(0)).as("attempts"),
        coalesce(col("blocked"), lit(false)).as("blocked"))
      .localCheckpoint(true)
    newState.write.mode(SaveMode.Overwrite).parquet(stateDir)

    RunSummary(runId, sourceDocs, processed, unchanged, blockedCount,
      purgedParents, chunksWritten, perSource.map(_._2).sum)
  }

  /** `index` routed to write tasks by `source`, so the `partitionBy("source")`
    * write makes one file per source directory instead of one per (input
    * partition, source) — each file costs a fixed create and commit —
    * while every core still writes. A source holding more than an even
    * share of the rows (total ÷ cores) is split by a hash of `parent_id`
    * into ceil(rows ÷ share) slices, so no task is handed a large source
    * whole however its ids are spaced (ids sharing a stride with the slice
    * count would all fall in one slice of the raw id);
    * the slices are packed largest first onto min(#slices, cores) tasks
    * ([[graft.core.TaskPacking.leastLoaded]]). `perSource` is the row
    * count per source (None: null source). One parent's chunks always
    * share a task.
    */
  private def bySourceTasks(index: DataFrame, perSource: Seq[(Option[String], Long)]): DataFrame = {
    val cores = index.sparkSession.sparkContext.defaultParallelism
    val share = math.max(1L, (perSource.map(_._2).sum + cores - 1) / cores)
    // (source, slice) per slice, with the slice's rows
    val slices = perSource.flatMap { case (source, rows) =>
      val k = math.max(1L, (rows + share - 1) / share).toInt
      Seq.tabulate(k)(i => ((source, i), rows / k))
    }.toIndexedSeq
    val (n, sliceTask) = graft.core.TaskPacking.leastLoaded(slices.map(_._2), cores)
    val tasksOf = slices.indices.groupMap(i => slices(i)._1._1)(sliceTask)
      .map { case (source, ts) => source -> ts.toArray }
    val taskOf = udf((source: String, parent: java.lang.Long) => {
      val ts = tasksOf(Option(source))
      if (parent == null) ts(0)
      else ts(java.lang.Math.floorMod(graft.functions.Hashing.fmix64(parent.longValue),
        ts.length.toLong).toInt)
    })
    index.repartitionById(n, taskOf(col("source"), col("parent_id")))
  }

  /** The index row count when a run with nothing to process
    * (`processed == 0`) would rewrite both tables with exactly the rows
    * they hold; None when the rewrite would change either table. With
    * nothing processed, the rewrite keeps the index rows whose parent is
    * listed and writes one state row per listing row, built from the one
    * state row it matches. So the tables stay the same when both exist and,
    * for every key (null included), the listing has exactly one row, the
    * state exactly one row with no null column, and the key is listed if
    * the index has rows for it. One grouped pass over the three key
    * columns checks all of it and counts the index.
    */
  private def unchangedIndexSize(spark: SparkSession, listing: DataFrame,
      state: DataFrame, indexDir: String, stateDir: String): Option[Long] = {
    if (!graft.core.Fs.exists(spark, indexDir) || !graft.core.Fs.exists(spark, stateDir))
      return None
    val complete = Seq("content_hash", "attempts", "blocked").map(col(_).isNotNull).reduce(_ && _)
    val keys = listing.select(col("doc_id").as("k"), lit(1).as("l"), lit(0).as("s"), lit(0).as("i"))
      .unionByName(state.select(col("parent_id").as("k"), lit(0).as("l"),
        when(complete, 1).otherwise(2).as("s"), lit(0).as("i")))
      .unionByName(readOr(spark, indexDir, indexSchema)
        .select(col("parent_id").as("k"), lit(0).as("l"), lit(0).as("s"), lit(1).as("i")))
    val r = keys.groupBy("k").agg(sum("l").as("l"), sum("s").as("s"), sum("i").as("i"))
      .agg(count(when(col("l") =!= 1 || col("s") =!= 1, 1)), coalesce(sum("i"), lit(0L)))
      .head()
    if (r.getLong(0) == 0) Some(r.getLong(1)) else None
  }

  /** Post-purge consistency check (blob_storage_indexer.py:1761-1830): a
    * bounded re-scan of the index asserting the purged parents actually
    * vanished. Where the reference polls an eventually-consistent search
    * service with retries and a skip cap, a parquet re-read is immediately
    * consistent — ONE anti-join answers the question. Returns the ids of
    * parents still present though absent from the current source listing.
    */
  def leakedParents(spark: SparkSession, indexDir: String,
      currentParents: DataFrame): Array[Long] = {
    // a not-yet-created index trivially has no leaks (same missing-table
    // tolerance as readOr above)
    if (!graft.core.Fs.exists(spark, indexDir)) return Array.empty
    spark.read.schema(indexSchema).parquet(indexDir).select(col("parent_id")).distinct()
      .join(currentParents.select(col(currentParents.columns.head).as("parent_id")),
        Seq("parent_id"), "left_anti")
      .collect().map(_.getLong(0))
  }

  private val runLogMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Run-summary log sink with retention (api/admin.py:202-228 semantics:
    * one JSON blob per run under `runs/`, keep the newest `maxRunFiles`,
    * delete the oldest beyond it). File timestamps order retention like the
    * reference's blob last_modified; ties break on name for determinism.
    */
  def writeRunLog(summary: RunSummary, logDir: String, maxRunFiles: Int = 500): Unit = {
    val dir = java.nio.file.Paths.get(logDir, "runs")
    java.nio.file.Files.createDirectories(dir)
    // runId is caller-supplied: the JSON writer escapes it in the payload,
    // and it is slugged for the file name so a '/' can't write outside
    // the retention directory
    val fileId = graft.core.TextKeys.sanitizeKey(summary.runId) match {
      case "" => "run"
      case s => s
    }
    val json = runLogMapper.createObjectNode()
      .put("runId", summary.runId).put("sourceDocs", summary.sourceDocs)
      .put("processed", summary.processed)
      .put("skippedNoChange", summary.skippedNoChange)
      .put("skippedBlocked", summary.skippedBlocked)
      .put("purgedParents", summary.purgedParents)
      .put("chunksWritten", summary.chunksWritten)
      .put("indexSize", summary.indexSize)
    java.nio.file.Files.writeString(dir.resolve(s"$fileId.json"),
      runLogMapper.writeValueAsString(json))
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(dir)
    val all =
      try listing.iterator().asScala
        .filter(_.toString.endsWith(".json")).toSeq
        .map(p => (p, java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .sortBy { case (p, t) => (t, p.getFileName.toString) }
      finally listing.close()
    if (all.length > maxRunFiles)
      all.take(all.length - maxRunFiles).foreach { case (p, _) =>
        java.nio.file.Files.deleteIfExists(p)
      }
  }

  /** The per-parent state table (empty frame when no run has happened yet) —
    * the `/api/files` listing source.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    readOr(spark, stateDir, stateSchema)

  /** One keyed state rewrite (block/unblock share it): tolerate a
    * never-initialized stateDir (no-op, like readOr's missing-table
    * tolerance) and rewrite only the flagged columns.
    */
  private def updateState(spark: SparkSession, stateDir: String, parentId: Long,
      blocked: Boolean, resetAttempts: Boolean): Unit = {
    if (!graft.core.Fs.exists(spark, stateDir)) return
    val hit = col("parent_id") === parentId
    var state = spark.read.schema(stateSchema).parquet(stateDir)
      .withColumn("blocked", when(hit, lit(blocked)).otherwise(col("blocked")))
    if (resetAttempts)
      state = state.withColumn("attempts", when(hit, lit(0)).otherwise(col("attempts")))
    val out = state.localCheckpoint(true)
    out.write.mode(SaveMode.Overwrite).parquet(stateDir)
  }

  /** Admin unblock (api/admin.py:363-400 semantics): clear the blocked flag
    * AND reset the attempt counter, so the next run's F3 filter lets the
    * parent through with a full retry budget.
    */
  def unblock(spark: SparkSession, stateDir: String, parentId: Long): Unit =
    updateState(spark, stateDir, parentId, blocked = false, resetAttempts = true)

  /** Manual block/unblock (the admin endpoint analog, api/admin.py:363-400). */
  def setBlocked(spark: SparkSession, stateDir: String, parentId: Long,
      blocked: Boolean): Unit =
    updateState(spark, stateDir, parentId, blocked, resetAttempts = false)
}

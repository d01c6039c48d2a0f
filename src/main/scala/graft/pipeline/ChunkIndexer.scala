package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.core.SplitParams
import graft.functions.GraftFunctions
import graft.services.{Embedder, HashingEmbedder}

/** The reference's main pipeline re-expressed as one declarative Spark job
  * (SURVEY §3.2): scan → change-detect → chunk (explode) → embed
  * (mapPartitions-style service) → keyed replace into a chunk-index table →
  * purge. The index is a keyed parquet table; replace = anti-join ∪ insert
  * (K2/K3), purge = left_anti (J2). Deterministic chunk keys (X3) make
  * re-runs idempotent.
  */
object ChunkIndexer {

  val defaultSplit: SplitParams = SplitParams(maxTokens = 64, overlapTokens = 8, minChunkTokens = 1)

  /** documents table → embedded chunk-index rows. */
  def buildChunkIndex(spark: SparkSession, sfDir: String,
      p: SplitParams = defaultSplit,
      embedder: Embedder = new HashingEmbedder(64)): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    val chunks = Chunkers.chunkDocuments(docs, "doc_id", "text", None, p)
    embedChunks(chunks, "content", embedder)
      .select(
        col("chunk_key").as("id"),
        col("doc_id").as("parent_id"),
        col("chunk_id"),
        col("content"),
        col("n_tokens"),
        col("chunk_offset"),
        col("source"),
        col("lang"),
        col("contentVector"))
  }

  /** Batched embedding inside partitions: one embedder per task, iterator in /
    * iterator out (the E1/E3 service shape — a remote client with retry and
    * rate limits drops in without changing the plan). The embed INPUT is
    * token-capped like the reference's `max_embed_tokens`
    * (tools/aoai.py:39) — the stored content is untouched, only the text
    * sent to the embedding service is truncated. The cap defaults to THE
    * EMBEDDER'S OWN `maxTokens`, so a client with a smaller window is
    * honored automatically and the wrapper can never disagree with the
    * service seam.
    */
  def embedChunks(chunks: DataFrame, textCol: String, embedder: Embedder,
      batchSize: Int = 256, maxEmbedTokens: Int = -1): DataFrame = {
    val cap = if (maxEmbedTokens > 0) maxEmbedTokens else embedder.maxTokens
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(chunks.schema.fields :+
      StructField("contentVector", ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = chunks.schema.fieldIndex(textCol)
    chunks.mapPartitions { rows =>
      // batch the service calls (mirrors the reference's 500-doc batches,
      // jobs/blob_storage_indexer.py:1220-1257) — one embedder per task
      rows.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.embedBatch(batch.iterator.map(r =>
          graft.core.TextKeys.truncateToTokens(r.getString(idx), cap))).toSeq
        batch.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toSeq))
      }
    }(enc)
  }

  /** K2+K3 replace-parent: drop all index rows whose parent has new chunks,
    * then insert the new chunks. Pure plan — caller persists.
    */
  def replaceParents(index: DataFrame, newChunks: DataFrame): DataFrame = {
    val parents = newChunks.select(col("parent_id")).distinct()
    index.join(broadcast(parents), Seq("parent_id"), "left_anti")
      .unionByName(newChunks)
  }

  /** J2 purge: keep only index rows whose parent still exists at the source. */
  def purgeMissing(index: DataFrame, liveParents: DataFrame): DataFrame =
    index.join(liveParents.select(col("parent_id")).distinct(), Seq("parent_id"), "left_semi")

  /** Flagship end-to-end slice (SURVEY §7.2): chunk+embed the documents table
    * and attach the per-source chunk counts — exercises scan, generator,
    * window, service map and aggregation in one job.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val index = buildChunkIndex(spark, sfDir)
    val counts = index.groupBy(col("source")).agg(count(lit(1)).as("n_chunks_in_source"))
    index.join(broadcast(counts), Seq("source"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.SplitParams
import graft.pipeline.{ChunkIndexer, Chunkers, IncrementalIndexer}
import graft.services.{Embedder, HashingEmbedder}

/** The reference's cron-scheduled incremental ingestion as Structured
  * Streaming (SURVEY §2.11: "APScheduler cron triggers … map to Structured
  * Streaming Trigger.AvailableNow / foreachBatch").
  *
  * Each micro-batch runs the same declarative chunk→embed→replace tail as
  * the batch indexer; the stream's checkpoint gives exactly-once batch
  * tracking (replacing the reference's per-file JSON logs for *progress*,
  * while deterministic chunk keys keep the *sink* idempotent under
  * replays — the same two-layer story as
  * /root/reference/jobs/blob_storage_indexer.py:234-394).
  */
object StreamingIndexer {

  /** Run one AvailableNow pass over new document files in `docsDir`,
    * upserting chunk docs into the parquet index at `indexDir`.
    * Returns the number of micro-batches executed.
    */
  def runAvailableNow(spark: SparkSession, docsDir: String, indexDir: String,
      checkpointDir: String, p: SplitParams = ChunkIndexer.defaultSplit,
      embedder: Embedder = new HashingEmbedder(64)): Long = {
    graft.functions.GraftFunctions.register(spark)
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    var batches = 0L
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches += 1
        if (!batch.isEmpty) {
          val chunks = Chunkers.chunkDocuments(batch, "doc_id", "text", None, p)
          val newDocs = ChunkIndexer.embedChunks(chunks, "content", embedder)
            .select(col("chunk_key").as("id"), col("doc_id").as("parent_id"),
              col("chunk_id"), col("content"), col("n_tokens"),
              col("chunk_offset"), col("source"), col("lang"), col("contentVector"))
          val spark2 = batch.sparkSession
          val index =
            if (graft.core.Fs.exists(spark2, indexDir))
              spark2.read.schema(IncrementalIndexer.indexSchema).parquet(indexDir)
            else IncrementalIndexer.emptyTable(spark2, newDocs.schema)
          ChunkIndexer.replaceParents(index, newDocs)
            .localCheckpoint(true)
            .write.mode(SaveMode.Overwrite).parquet(indexDir)
        }
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }
}

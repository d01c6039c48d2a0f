package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.PartitionedUpsert

/** Continuous paragraph-dedup ingest: the index grows per batch, duplicate
  * paragraphs across batches are dropped, and a replayed batch is a no-op.
  */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val paras = split(col("text"), "\\|")

  private def writeBatch(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)

  test("index accumulates novel paragraphs across micro-batches; dups drop") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val docs = s"$root/docs"; val index = s"$root/index"; val ckpt = s"$root/ckpt"

    writeBatch(docs, Seq((1L, "p1|p2"), (2L, "p2|p3")))
    StreamingIngest.runAvailableNow(spark, docs, index, ckpt, paras, 1000L)
    val after1 = PartitionedUpsert.read(spark, index)
      .select($"p_text", $"owner_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after1 == Map("p1" -> 1L, "p2" -> 1L, "p3" -> 2L),
      "batch 1: three distinct paragraphs, first-occurrence owners")

    // batch 2: one known paragraph, one novel
    writeBatch(docs, Seq((3L, "p2|p4")))
    StreamingIngest.runAvailableNow(spark, docs, index, ckpt, paras, 1000L)
    val after2 = PartitionedUpsert.read(spark, index)
      .select($"p_text", $"owner_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after2 == Map("p1" -> 1L, "p2" -> 1L, "p3" -> 2L, "p4" -> 3L),
      "batch 2: only p4 is novel; p2 keeps its original owner")

    // no new files: AvailableNow run is a no-op, index unchanged
    StreamingIngest.runAvailableNow(spark, docs, index, ckpt, paras, 1000L)
    val after3 = PartitionedUpsert.read(spark, index).count()
    assert(after3 == 4L)
  }

  private def prose(seed: String): String =
    (1 to 40).map(i => s"$seed word$i token${i * 7}").mkString(" ")

  test("near-dup ingest: signature index grows per batch, near-dups drop across batches") {
    val root = Files.createTempDirectory("graft-ingest-nd").toString
    val docs = s"$root/docs"; val index = s"$root/index"; val ckpt = s"$root/ckpt"

    // batch 1: two distinct docs + one within-batch near-dup
    writeBatch(docs, Seq(
      (1L, prose("alpha")), (2L, prose("beta")),
      (3L, prose("alpha") + " tail")))
    StreamingIngest.runAvailableNowNearDup(spark, docs, index, ckpt,
      threshold = 0.5)
    val ids1 = PartitionedUpsert.read(spark, s"$index/sigs")
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == Seq(1L, 2L), "batch 1: 3 drops as within-batch near-dup of 1")

    // batch 2: a near-dup of indexed content + a novel doc
    writeBatch(docs, Seq(
      (4L, prose("beta") + " extra"), (5L, prose("gamma"))))
    StreamingIngest.runAvailableNowNearDup(spark, docs, index, ckpt,
      threshold = 0.5)
    val ids2 = PartitionedUpsert.read(spark, s"$index/sigs")
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids2 == Seq(1L, 2L, 5L), "batch 2: only the novel doc appends")
    // bands table tracks sigs exactly (16 band rows per indexed doc)
    assert(PartitionedUpsert.read(spark, s"$index/bands").count() == 3 * 16L)

    // fresh-checkpoint replay of everything: every doc now matches the
    // index (its own signature included) — nothing appends, nothing dups
    StreamingIngest.runAvailableNowNearDup(spark, docs, index,
      s"$root/ckpt2", threshold = 0.5)
    assert(PartitionedUpsert.read(spark, s"$index/sigs").count() == 3L,
      "replayed batches must append nothing")
  }

  /** Stage `rows` as docs/b<i>.parquet with a fixed ascending mtime, the
    * way the st6 gate does — the file source takes oldest-first, so file
    * index IS arrival order.
    */
  private def writeStaged(docsDir: String, i: Int,
      rows: Seq[(Long, String)]): Unit = {
    val scratch = Files.createTempDirectory("graft-st6spec")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val ls = Files.list(scratch)
    val part =
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally ls.close()
    Files.createDirectories(java.nio.file.Paths.get(docsDir))
    val dst = java.nio.file.Paths.get(docsDir, s"b$i.parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
      .fromMillis(1700000000000L + i * 3600000L))
  }

  test("multi-micro-batch streaming ingest = the batch ingest gate") {
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft-ingest-eq").toString
    val docs = s"$root/docs"; val index = s"$root/index"

    val corpus = Seq(2L -> prose("beta"), 4L -> prose("zeta"))
    // three arrival files, ascending doc_id; clusters deliberately span
    // micro-batches (1↔3 within file 0, 1↔7 and 9↔11 across files) and
    // one late arrival (5) near-dups the corpus
    val files = Seq(
      Seq(1L -> prose("alpha"), 3L -> (prose("alpha") + " tail")),
      Seq(5L -> (prose("beta") + " extra"), 7L -> (prose("alpha") + " coda"),
        9L -> prose("gamma")),
      Seq(11L -> (prose("gamma") + " more"), 13L -> prose("delta")))
    files.zipWithIndex.foreach { case (rows, i) => writeStaged(docs, i, rows) }

    // batch form: the whole arrival set ingested at once against the
    // corpus index (the d15 shape)
    val corpusDf = corpus.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpusDf, "doc_id", "text")
    val bands = Dedup.minhashBandIndex(sigs)
    val batchAll = files.flatten.toDF("doc_id", "text")
    val batchSurvivors = Dedup.ingestNovelDocuments(batchAll, "doc_id",
        "text", sigs, bands, threshold = 0.5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet

    // streaming form: corpus index persisted, files replayed oldest-first
    // one micro-batch per file
    PartitionedUpsert.writeInitial(sigs, s"$index/sigs", "id", 8)
    PartitionedUpsert.writeInitial(bands, s"$index/bands", "id", 8)
    val nBatches = StreamingIngest.runAvailableNowNearDup(spark, docs,
      index, s"$root/ckpt", threshold = 0.5, maxFilesPerTrigger = Some(1),
      buckets = 8)
    assert(nBatches >= 3, "one micro-batch per staged file")
    val streamSurvivors = PartitionedUpsert.read(spark, s"$index/sigs")
      .filter($"id" % 2 === 1).select($"id").collect().map(_.getLong(0)).toSet

    // keeper rule replays exactly: min-id of each cluster survives
    // (1 over {1,3,7}, 9 over {9,11}), corpus-matched 5 drops, 13 novel
    assert(batchSurvivors == Set(1L, 9L, 13L))
    assert(streamSurvivors == batchSurvivors,
      "ascending arrival order must reproduce the batch min-id keeper rule")
  }

  /** Unit vector at `deg` degrees inside the (e0, e1) plane of an 8-dim
    * space — crafted cosines: cos(angle between) exactly controls
    * near-dup decisions, no banding luck required for the verify.
    */
  private def planeVec(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    val v = new Array[Float](8)
    v(0) = math.cos(r).toFloat; v(1) = math.sin(r).toFloat
    v
  }

  private def writeStagedVecs(dir: String, i: Int,
      rows: Seq[(Long, Array[Float])]): Unit = {
    val scratch = Files.createTempDirectory("graft-st7spec")
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val ls = Files.list(scratch)
    val part =
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally ls.close()
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val dst = java.nio.file.Paths.get(dir, s"b$i.parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
      .fromMillis(1700000000000L + i * 3600000L))
  }

  test("embedding ingest: multi-micro-batch streaming = batch on chain-free data") {
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft-ingest-emb").toString
    val vecs = s"$root/vecs"; val index = s"$root/index"
    // corpus: two indexed vectors; arrivals: clusters span micro-batches
    // (1~3 within file 0, 1~7 across files), 5 near-dups the corpus,
    // 9~11 across files, 13 novel — every cluster is a tight clone pack
    // (≤6° apart, cos ≥ 0.995) with ≥45° to everything else, so there is
    // NO A~B~C chain whose ends fall under the threshold: batch CC and
    // oldest-first streaming must agree exactly
    val corpus = Seq(2L -> planeVec(90), 4L -> planeVec(135))
    val files = Seq(
      Seq(1L -> planeVec(0), 3L -> planeVec(3)),
      Seq(5L -> planeVec(133), 7L -> planeVec(6), 9L -> planeVec(45)),
      Seq(11L -> planeVec(47), 13L -> planeVec(270)))
    files.zipWithIndex.foreach { case (rows, i) => writeStagedVecs(vecs, i, rows) }
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val sk = Dedup.embeddingSketches(corpusDf, "vec_id", "embedding",
      bands = 8, rowsPerBand = 4)
    val bands = Dedup.embeddingBandIndex(sk)
    val batchAll = files.flatten.toDF("vec_id", "embedding")
    val batchSurvivors = Dedup.ingestNovelEmbeddings(batchAll, "vec_id",
        "embedding", sk, bands, minCosine = 0.9, bands = 8, rowsPerBand = 4)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    PartitionedUpsert.writeInitial(sk, s"$index/sks", "id", 8)
    PartitionedUpsert.writeInitial(bands, s"$index/bands", "id", 8)
    val nBatches = StreamingIngest.runAvailableNowNearDupEmbeddings(spark,
      vecs, index, s"$root/ckpt", minCosine = 0.9, bands = 8,
      rowsPerBand = 4, maxFilesPerTrigger = Some(1), buckets = 8)
    assert(nBatches >= 3, "one micro-batch per staged file")
    val streamSurvivors = PartitionedUpsert.read(spark, s"$index/sks")
      .filter($"id" % 2 === 1).select($"id").collect().map(_.getLong(0)).toSet
    assert(batchSurvivors == Set(1L, 9L, 13L),
      s"keeper rule: min-id per cluster, corpus-matched 5 drops: $batchSurvivors")
    assert(streamSurvivors == batchSurvivors,
      "ascending arrival must reproduce the batch min-id keeper rule")
    // replay with a fresh checkpoint appends nothing (idempotence)
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, vecs, index,
      s"$root/ckpt2", minCosine = 0.9, bands = 8, rowsPerBand = 4,
      maxFilesPerTrigger = Some(1), buckets = 8)
    assert(PartitionedUpsert.read(spark, s"$index/sks")
      .filter($"id" % 2 === 1).count() == 3L)
  }

  test("drift monitor at the arrival point: per-micro-batch log, planted batch trips") {
    import graft.operators.{Dedup, Similarity}
    val root = Files.createTempDirectory("graft-ingest-drift").toString
    val vecs = s"$root/vecs"; val index = s"$root/index"
    val emb = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
    val corpus = emb.filter($"vec_id" % 2 === 0)
      .select($"vec_id", $"embedding")
    // file 0: an in-distribution sample; file 1: the planted drift
    val inDist = emb.filter($"vec_id" % 4 === 1)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val drifted = emb.filter($"vec_id" % 4 === 3)
      .select(($"vec_id" + 200000L).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> x + 2.0f)").as("embedding"))
    def stage(df: org.apache.spark.sql.DataFrame, i: Int): Unit =
      writeStagedVecs(vecs, i, df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq)
    stage(inDist, 0)
    stage(drifted, 1)
    val sk = Dedup.embeddingSketches(corpus, "vec_id", "embedding",
      bands = 8, rowsPerBand = 4)
    PartitionedUpsert.writeInitial(sk, s"$index/sks", "id", 8)
    PartitionedUpsert.writeInitial(Dedup.embeddingBandIndex(sk),
      s"$index/bands", "id", 8)
    // the serving index's trained distribution (what publishPqServing
    // persists) is the monitor's reference
    val ivf = Similarity.buildIvf(spark,
      corpus.select($"vec_id", $"embedding"), "vec_id", "embedding",
      nCells = 8, iters = 2)
    val ref = Similarity.driftStats(spark, corpus.select($"embedding"),
      "embedding", ivf.centroids, unit = true)
    val n = StreamingIngest.runAvailableNowNearDupEmbeddings(spark, vecs,
      index, s"$root/ckpt", minCosine = 0.9, bands = 8, rowsPerBand = 4,
      maxFilesPerTrigger = Some(1), buckets = 8,
      driftMonitor = Some(StreamingIngest.DriftMonitorConfig(ivf.centroids, ref)))
    assert(n >= 2, "one micro-batch per staged file")
    val log = spark.read.parquet(s"$index/drift_log")
      .dropDuplicates("batch_id").orderBy($"batch_id")
      .select($"batch_id", $"drifted", $"mass_kl").collect()
    assert(log.length == 2, s"one monitor row per micro-batch: ${log.length}")
    assert(!log(0).getBoolean(1), "the in-distribution batch must not trip")
    assert(log(1).getBoolean(1), "the planted batch must trip")
    assert(log(1).getDouble(2) > log(0).getDouble(2), "KL must order the two")
    // the monitor never interferes with the ingest: both batches landed
    val landed = PartitionedUpsert.read(spark, s"$index/sks")
      .filter($"id" >= 100000L).count()
    assert(landed > 0, "arrivals must still index through the monitored run")
  }

  test("upsert legs leave no job description on the reused overlap-pool threads") {
    import graft.operators.Dedup
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft-ingest-label").toString
    val vecs = s"$root/vecs"; val index = s"$root/index"
    // an existing index, so the batch's two upserts run as overlap legs
    val sk = Dedup.embeddingSketches(Seq(2L -> planeVec(90)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bands = 8, rowsPerBand = 4)
    PartitionedUpsert.writeInitial(sk, s"$index/sks", "id", 8)
    PartitionedUpsert.writeInitial(Dedup.embeddingBandIndex(sk), s"$index/bands", "id", 8)
    writeStagedVecs(vecs, 0, Seq(1L -> planeVec(0)))
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, vecs, index,
      s"$root/ckpt", minCosine = 0.9, bands = 8, rowsPerBand = 4, buckets = 8)
    assert(PartitionedUpsert.read(spark, s"$index/sks").filter($"id" === 1L).count() == 1,
      "the novel arrival must land through the upsert legs")
    // submit a job from each of eight pool threads at once (the probes
    // hold each other at a barrier, so each takes its own thread; the
    // pool reuses its most recently idle threads first, the upsert legs'
    // among them) and record the description each job carries
    val sc = spark.sparkContext
    val probes = 8
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.probe") != null)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.io
      val barrier = new CountDownLatch(probes)
      val jobs = (1 to probes).map(_ => Future {
        barrier.countDown()
        barrier.await(60, TimeUnit.SECONDS)
        sc.setLocalProperty("graft.test.probe", "1")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("graft.test.probe", null)
      })
      jobs.foreach(Await.result(_, 2.minutes))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (seen.size < probes && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val labels = seen.asScala.toSeq
    assert(labels.size == probes)
    assert(!labels.exists(_.startsWith("embed-ingest")), s"stale labels: $labels")
  }

  test("chain split across micro-batches: streaming keeps what batch CC drops (documented non-equivalence)") {
    import graft.operators.Dedup
    // A~B and B~C but A!~C (0°, 25°, 50° at threshold cos 0.9 = 25.8°):
    // batch CC chains {A,B,C} into one cluster and keeps only A; if B's
    // file arrives BEFORE C's, streaming drops B against A, so C arrives
    // facing an index without B and survives. This is WHY st6/st7 pin
    // their own snapshots instead of borrowing the batch oracle.
    val root = Files.createTempDirectory("graft-ingest-chain").toString
    val vecs = s"$root/vecs"; val index = s"$root/index"
    val a = 1L -> planeVec(0); val b = 3L -> planeVec(25); val c = 5L -> planeVec(50)
    writeStagedVecs(vecs, 0, Seq(a, b))
    writeStagedVecs(vecs, 1, Seq(c))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val emptySk = Dedup.embeddingSketches(empty, "vec_id", "embedding",
      bands = 8, rowsPerBand = 4)
    val batchSurvivors = Dedup.ingestNovelEmbeddings(
        Seq(a, b, c).toDF("vec_id", "embedding"), "vec_id", "embedding",
        emptySk, Dedup.embeddingBandIndex(emptySk),
        minCosine = 0.9, bands = 8, rowsPerBand = 4)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(batchSurvivors == Set(1L), s"batch CC chains A-B-C: $batchSurvivors")
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, vecs, index,
      s"$root/ckpt", minCosine = 0.9, bands = 8, rowsPerBand = 4,
      maxFilesPerTrigger = Some(1))
    val streamSurvivors = PartitionedUpsert.read(spark, s"$index/sks")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(streamSurvivors == Set(1L, 5L),
      s"C must survive: B was dropped before ever being indexed: $streamSurvivors")
  }

  test("compactIndex bounds ingest fragmentation without changing behavior") {
    val root = Files.createTempDirectory("graft-ingest-compact").toString
    val docs = s"$root/docs"; val index = s"$root/index"; val ckpt = s"$root/ckpt"

    // several passes, each upserting into the same hot buckets — every
    // pass rewrites touched buckets shuffle-wide, so files accumulate
    writeBatch(docs, Seq((1L, "p1|p2"), (2L, "p3|p4")))
    StreamingIngest.runAvailableNow(spark, docs, index, ckpt, paras, 1000L)
    (0 until 3).foreach { k =>
      writeBatch(docs, Seq((10L + k, s"p1|q$k|r$k|s$k")))
      StreamingIngest.runAvailableNow(spark, docs, index, ckpt, paras, 1000L)
    }
    val before = PartitionedUpsert.read(spark, index)
      .select($"p_text", $"owner_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val rpt = StreamingIngest.compactIndex(spark, index,
      maxFilesPerPartition = 1, targetFileBytes = Long.MaxValue)
    assert(rpt.partitionsCompacted > 0, "fixture should have fragmented buckets")
    assert(rpt.filesAfter < rpt.filesBefore)

    // content identical, and the ingest invariants still hold: a replay
    // pass over the same docs appends nothing to the compacted index
    val after = PartitionedUpsert.read(spark, index)
      .select($"p_text", $"owner_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before)
    StreamingIngest.runAvailableNow(spark, docs, index, s"$root/ckpt2",
      paras, 1000L)
    assert(PartitionedUpsert.read(spark, index).count() == before.size.toLong)
  }
}

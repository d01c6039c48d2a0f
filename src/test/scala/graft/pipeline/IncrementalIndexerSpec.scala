package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

class IncrementalIndexerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): (String, String) = {
    val d = Files.createTempDirectory("graft-incr")
    (d.resolve("index").toString, d.resolve("state").toString)
  }

  private def docs(texts: Map[Long, String]) = {
    import spark.implicits._
    texts.toSeq.map { case (id, t) => (id, t, s"src${id % 3}", "en") }
      .toDF("doc_id", "text", "source", "lang")
  }

  private val base = Map(
    1L -> ("alpha beta gamma " * 20).trim,
    2L -> ("delta epsilon zeta " * 15).trim,
    3L -> ("eta theta iota " * 10).trim)

  test("run 1 processes everything; unchanged run 2 processes nothing (§5.4)") {
    val (indexDir, stateDir) = tmp()
    val r1 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    assert(r1.processed == 3 && r1.skippedNoChange == 0)
    assert(r1.chunksWritten > 0 && r1.indexSize == r1.chunksWritten)

    val r2 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run2")
    assert(r2.processed == 0, "unchanged docs must not re-process (the cost lever)")
    assert(r2.skippedNoChange == 3)
    assert(r2.chunksWritten == 0)
    assert(r2.indexSize == r1.indexSize)
  }

  test("touching one doc replaces exactly its chunks") {
    import spark.implicits._
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val before = spark.read.parquet(indexDir)
      .select("id", "parent_id").as[(String, Long)].collect().toSet

    val touched = base + (2L -> ("changed words entirely " * 12).trim)
    val r2 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run2")
    assert(r2.processed == 1 && r2.skippedNoChange == 2)
    val after = spark.read.parquet(indexDir)
      .select("id", "parent_id").as[(String, Long)].collect().toSet
    // parents 1 and 3 untouched bit-for-bit (same keys)
    assert(before.filter(_._2 != 2L) == after.filter(_._2 != 2L))
    assert(after.exists(_._2 == 2L))
  }

  test("removing a doc purges its chunks (J2)") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val r2 = IncrementalIndexer.runOnce(spark, docs(base - 3L), indexDir, stateDir, "run2")
    assert(r2.purgedParents == 1)
    val parents = spark.read.parquet(indexDir).select("parent_id").distinct().count()
    assert(parents == 2)
  }

  test("blocked parents are skipped until unblocked (F3)") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    IncrementalIndexer.setBlocked(spark, stateDir, 1L, blocked = true)
    val touched = base + (1L -> "totally new content for doc one")
    val r2 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run2")
    assert(r2.processed == 0, "blocked doc must not process even when changed")
    assert(r2.skippedBlocked == 1)
    IncrementalIndexer.setBlocked(spark, stateDir, 1L, blocked = false)
    val r3 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run3")
    assert(r3.processed == 1)
  }

  test("index table is partitioned by source (partition pruning at scale)") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val dirs = new java.io.File(indexDir).listFiles().map(_.getName).filter(_.startsWith("source="))
    assert(dirs.nonEmpty, "expected hive-style source= partitions")
  }

  test("the embedder runs exactly once per chunk per run (no double-execute)") {
    val (indexDir, stateDir) = tmp()
    // accumulator-backed decorator: counts texts embedded across executors
    val calls = spark.sparkContext.longAccumulator("embedded-texts")
    class CountingEmbedder extends graft.services.Embedder {
      private val inner = new graft.services.HashingEmbedder(64)
      override def dim: Int = inner.dim
      override def embedBatch(texts: Iterator[String]): Iterator[Array[Float]] = {
        val batch = texts.toSeq
        calls.add(batch.size)
        inner.embedBatch(batch.iterator)
      }
    }
    val r1 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1",
      embedder = new CountingEmbedder)
    assert(r1.chunksWritten > 0)
    assert(calls.value == r1.chunksWritten,
      s"embedder saw ${calls.value} texts for ${r1.chunksWritten} chunks — " +
        "the chunk+embed pipeline executed more than once")

    calls.reset()
    val touched = base + (1L -> ("different content now " * 10).trim)
    val r2 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run2",
      embedder = new CountingEmbedder)
    assert(calls.value == r2.chunksWritten,
      s"incremental run embedded ${calls.value} texts for ${r2.chunksWritten} chunks")
  }

  test("post-purge consistency check: leaked parents surface, clean runs are empty") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "r1")
    // all parents present → no leaks
    import spark.implicits._
    val current = base.keys.toSeq.toDF("parent_id")
    assert(IncrementalIndexer.leakedParents(spark, indexDir, current).isEmpty)
    // pretend doc 3 was removed from the source WITHOUT a purge run —
    // the consistency check must name it
    val shrunk = Seq(1L, 2L).toDF("parent_id")
    assert(IncrementalIndexer.leakedParents(spark, indexDir, shrunk).toSeq == Seq(3L))
    // after a real incremental run over the shrunk listing, the purge
    // happens and the check is clean again (blob_storage_indexer.py:1761+)
    IncrementalIndexer.runOnce(spark, docs(base - 3L), indexDir, stateDir, "r2")
    assert(IncrementalIndexer.leakedParents(spark, indexDir, shrunk).isEmpty)
  }

  /** Every file under `dir`: relative path → (size, mtime). */
  private def files(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString ->
        (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap
    finally walk.close()
  }

  /** The table's rows, sorted, as strings (vectors included). */
  private def rows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map { r =>
      r.schema.fieldNames.sorted.map(n => s"$n=${r.get(r.fieldIndex(n))}").mkString(",")
    }.toSeq.sorted

  private def md5Hex(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** State rows as the rewrite writes them: (parent_id, hash, attempts, blocked). */
  private def stateRows(stateDir: String): Seq[(java.lang.Long, String, Int, Boolean)] =
    IncrementalIndexer.readState(spark, stateDir).collect().map(r =>
      (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
        r.getString(1), r.getInt(2), r.getBoolean(3))).toSeq.sortBy(_.toString)

  private def unblockedState(texts: Map[Long, String]) =
    texts.toSeq.map { case (id, t) =>
      (java.lang.Long.valueOf(id), md5Hex(t), 0, false) }.sortBy(_.toString)

  /** Index rows of a from-scratch run over `texts`: what a rewrite must leave. */
  private def freshIndex(texts: Map[Long, String]): Seq[String] = {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(texts), indexDir, stateDir, "fresh")
    rows(indexDir)
  }

  private def assertUntouched(dir: String, before: Map[String, (Long, Long)]): Unit =
    assert(files(dir) == before, s"$dir was rewritten by a run that changed nothing")

  private def assertRewritten(dir: String, before: Map[String, (Long, Long)]): Unit =
    assert(files(dir).keySet != before.keySet, s"$dir was not rewritten")

  test("unchanged rerun writes neither table and reports the same summary") {
    val (indexDir, stateDir) = tmp()
    val r1 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val (index0, state0) = (files(indexDir), files(stateDir))
    val r2 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run2")
    assert(r2 == IncrementalIndexer.RunSummary("run2", sourceDocs = 3, processed = 0,
      skippedNoChange = 3, skippedBlocked = 0, purgedParents = 0, chunksWritten = 0,
      indexSize = r1.indexSize))
    assertUntouched(indexDir, index0)
    assertUntouched(stateDir, state0)
  }

  test("blocked parents beside unchanged ones: the rerun writes neither table") {
    val (indexDir, stateDir) = tmp()
    val r1 = IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    IncrementalIndexer.setBlocked(spark, stateDir, 1L, blocked = true)
    val (index0, state0) = (files(indexDir), files(stateDir))
    val touched = base + (1L -> "totally new content for doc one")
    val r2 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run2")
    assert(r2 == IncrementalIndexer.RunSummary("run2", sourceDocs = 3, processed = 0,
      skippedNoChange = 2, skippedBlocked = 1, purgedParents = 0, chunksWritten = 0,
      indexSize = r1.indexSize))
    assertUntouched(indexDir, index0)
    assertUntouched(stateDir, state0)
    // the blocked parent keeps its old hash, so its change is still pending
    assert(stateRows(stateDir).collect { case (p, h, _, true) => (p.longValue, h) } ==
      Seq(1L -> md5Hex(base(1L))))
  }

  test("delete-only run rewrites both tables (no skip)") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val (index0, state0) = (files(indexDir), files(stateDir))
    val left = base - 3L
    val r2 = IncrementalIndexer.runOnce(spark, docs(left), indexDir, stateDir, "run2")
    assert(r2.processed == 0 && r2.purgedParents == 1)
    assertRewritten(indexDir, index0)
    assertRewritten(stateDir, state0)
    assert(rows(indexDir) == freshIndex(left))
    assert(r2.indexSize == rows(indexDir).size)
    assert(stateRows(stateDir) == unblockedState(left))
  }

  test("add-only run rewrites both tables (no skip)") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val (index0, state0) = (files(indexDir), files(stateDir))
    val grown = base + (4L -> ("kappa lambda mu " * 12).trim)
    val r2 = IncrementalIndexer.runOnce(spark, docs(grown), indexDir, stateDir, "run2")
    assert(r2.processed == 1 && r2.purgedParents == 0)
    assertRewritten(indexDir, index0)
    assertRewritten(stateDir, state0)
    assert(rows(indexDir) == freshIndex(grown))
    assert(stateRows(stateDir) == unblockedState(grown))
  }

  test("a parent unblocked after its text changed while blocked is reprocessed") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    IncrementalIndexer.setBlocked(spark, stateDir, 1L, blocked = true)
    val touched = base + (1L -> ("new words for the first doc " * 8).trim)
    IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run2")
    IncrementalIndexer.setBlocked(spark, stateDir, 1L, blocked = false)
    val (index0, state0) = (files(indexDir), files(stateDir))
    val r3 = IncrementalIndexer.runOnce(spark, docs(touched), indexDir, stateDir, "run3")
    assert(r3.processed == 1 && r3.skippedNoChange == 2)
    assertRewritten(indexDir, index0)
    assertRewritten(stateDir, state0)
    assert(rows(indexDir) == freshIndex(touched))
    assert(stateRows(stateDir) == unblockedState(touched))
  }

  test("a listing with a duplicate doc_id takes the rewrite path") {
    import spark.implicits._
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val (index0, state0) = (files(indexDir), files(stateDir))
    val index1 = rows(indexDir)
    val dup = docs(base).unionByName(Seq((2L, base(2L), "src2", "en"))
      .toDF("doc_id", "text", "source", "lang"))
    val r2 = IncrementalIndexer.runOnce(spark, dup, indexDir, stateDir, "run2")
    assert(r2.processed == 0 && r2.sourceDocs == 4 && r2.skippedNoChange == 4)
    assertRewritten(indexDir, index0)
    assertRewritten(stateDir, state0)
    // the rewrite keeps every index row and writes one state row per listing row
    assert(rows(indexDir) == index1)
    assert(stateRows(stateDir) ==
      (unblockedState(base) :+ ((java.lang.Long.valueOf(2L), md5Hex(base(2L)), 0, false)))
        .sortBy(_.toString))
  }

  test("a listing with a null doc_id takes the rewrite path") {
    import spark.implicits._
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val (index0, state0) = (files(indexDir), files(stateDir))
    val index1 = rows(indexDir)
    val withNull = docs(base).unionByName(Seq((None: Option[Long], "", "src0", "en"))
      .toDF("doc_id", "text", "source", "lang"))
    val r2 = IncrementalIndexer.runOnce(spark, withNull, indexDir, stateDir, "run2")
    assert(r2.processed == 1 && r2.chunksWritten == 0 && r2.skippedNoChange == 3)
    assertRewritten(indexDir, index0)
    assertRewritten(stateDir, state0)
    assert(rows(indexDir) == index1)
    assert(stateRows(stateDir) ==
      ((null: java.lang.Long, md5Hex(""), 0, false) +: unblockedState(base)).sortBy(_.toString))
  }

  test("a first run with missing directories creates both tables, even when empty") {
    import spark.implicits._
    val (indexDir, stateDir) = tmp()
    val none = Seq.empty[(Long, String, String, String)].toDF("doc_id", "text", "source", "lang")
    val r1 = IncrementalIndexer.runOnce(spark, none, indexDir, stateDir, "run1")
    assert(r1 == IncrementalIndexer.RunSummary("run1", 0, 0, 0, 0, 0, 0, 0))
    assert(Files.isDirectory(java.nio.file.Paths.get(indexDir)))
    assert(Files.isDirectory(java.nio.file.Paths.get(stateDir)))
    assert(IncrementalIndexer.readState(spark, stateDir).count() == 0)
  }

  test("the declared index schema is the one runOnce writes") {
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    // the partition column reads back last and every read is nullable:
    // compare names and types only
    def types(t: org.apache.spark.sql.types.StructType) =
      t.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types(spark.read.parquet(indexDir).schema) == types(IncrementalIndexer.indexSchema))
  }

  test("tripwire: an unchanged rerun's tasks write no output bytes") {
    import org.apache.spark.scheduler._
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val sc = spark.sparkContext
    /** (tasks ended, output bytes written) by the jobs `body` launches. */
    def written(body: => Unit): (Long, Long) = {
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val fence = new java.util.concurrent.CountDownLatch(1)
      val marker = s"fence-${java.util.UUID.randomUUID}"
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null && fence.getCount > 0) {
            tasks.incrementAndGet()
            bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
          }
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.test.fence") == marker)
            fence.countDown()
      }
      sc.addSparkListener(listener)
      try {
        body
        // events reach a listener in order: once the fence job's start
        // arrives, every earlier task end has been delivered
        sc.setLocalProperty("graft.test.fence", marker)
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.fence", null)
        assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(listener)
      (tasks.get, bytes.get)
    }
    val (noopTasks, noopBytes) = written(
      IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run2"))
    assert(noopTasks > 0, "the unchanged rerun must still diff the listing")
    assert(noopBytes == 0, s"an unchanged rerun wrote $noopBytes bytes")
    // the probe sees writes: a changed run's rewrite reports its bytes
    val (_, changedBytes) = written(IncrementalIndexer.runOnce(spark,
      docs(base + (2L -> "fresh words")), indexDir, stateDir, "run3"))
    assert(changedBytes > 0)
  }

  /** `p` with a tokenizer that records every text the chunker counts. */
  private def recordingSplit(p: graft.core.SplitParams) =
    p.copy(tokenizer = new IncrementalIndexerSpec.RecordingTokenizer(p.tokenizer))

  /** The texts the chunker counts while chunking `texts` once each. */
  private def chunkerCalls(texts: Seq[String], p: graft.core.SplitParams): Seq[String] = {
    IncrementalIndexerSpec.counted.clear()
    texts.foreach(t => Chunkers.chunkText(t, "txt", p)
      .filter(c => p.tokenizer.count(c) >= p.minChunkTokens))
    IncrementalIndexerSpec.drainCounted()
  }

  test("each run chunks each new or changed document exactly once, and nothing else") {
    val (indexDir, stateDir) = tmp()
    val p = recordingSplit(ChunkIndexer.defaultSplit)
    val texts = (1L to 12L).map(i => i -> s"doc$i body words ${"w " * i.toInt}".trim).toMap
    IncrementalIndexerSpec.counted.clear()
    IncrementalIndexer.runOnce(spark, docs(texts), indexDir, stateDir, "run1", p)
    val first = IncrementalIndexerSpec.drainCounted()
    // the first build has no state: the change-detect join is folded away
    // and every document is chunked once (it was chunked twice)
    assert(first.sorted == chunkerCalls(texts.values.toSeq, p).sorted)

    val edited = texts + (5L -> "doc5 was edited since the last run")
    val r2 = IncrementalIndexer.runOnce(spark, docs(edited), indexDir, stateDir, "run2", p)
    val second = IncrementalIndexerSpec.drainCounted()
    assert(r2.processed == 1)
    assert(second.sorted == chunkerCalls(Seq(edited(5L)), p).sorted,
      s"a run with one changed document out of ${edited.size} chunked: ${second.distinct}")
  }

  test("the chunk query evaluates no UDF beneath the change-detect join") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    val (indexDir, stateDir) = tmp()
    IncrementalIndexer.runOnce(spark, docs(base), indexDir, stateDir, "run1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IncrementalIndexer.runOnce(spark, docs(base + (2L -> "fresh words")), indexDir,
        stateDir, "run2")
      graft.ListenerDrain.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    def udfs(plan: LogicalPlan): Seq[ScalaUDF] =
      plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    val chunkPlans = plans.asScala.toSeq.filter(_.exists(_.isInstanceOf[Generate]))
    assert(chunkPlans.size == 1, s"expected one chunk query, saw ${chunkPlans.size}")
    val plan = chunkPlans.head
    assert(udfs(plan).count(_.udfName.contains(Chunkers.ChunkUdfName)) == 1,
      "the chunk UDF must appear once, in the generator's input")
    val beneath = plan.collect { case j: Join => j }.flatMap(j => j.children.flatMap(udfs))
    assert(beneath.isEmpty, s"UDFs evaluated beneath the change-detect join: $beneath\n$plan")
  }

  /** source → data files under its `source=` directory. */
  private def filesPerSource(indexDir: String): Map[String, Seq[String]] =
    new java.io.File(indexDir).listFiles().filter(_.getName.startsWith("source=")).map { d =>
      d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
    }.toMap

  /** The write task (partition id) of a `part-NNNNN-…` data file. */
  private def writeTask(file: String): Int = file.split("-")(1).toInt

  private def sourcedDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, source) => (id, s"doc$id text for $source ${"w " * (id % 7).toInt}".trim,
      source, "en") }.toDF("doc_id", "text", "source", "lang")
  }

  test("the index holds one data file per source, written by several tasks") {
    val (indexDir, stateDir) = tmp()
    // eight sources of five parents each over four cores: no source holds
    // more than an even share of the rows, so none is split
    val listing = (1L to 40L).map(i => i -> s"s${i % 8}")
    IncrementalIndexer.runOnce(spark, sourcedDocs(listing), indexDir, stateDir, "run1")
    val first = filesPerSource(indexDir)
    assert(first.size == 8 && first.values.forall(_.size == 1), first)
    val cores = spark.sparkContext.defaultParallelism
    assert(first.values.flatten.map(writeTask).toSet.size == cores,
      s"the index was written by ${first.values.flatten.map(writeTask).toSet.size} tasks")
    // a changed run rewrites the same layout
    val r2 = IncrementalIndexer.runOnce(spark, sourcedDocs(listing.filter(_._1 != 3L)),
      indexDir, stateDir, "run2")
    assert(r2.purgedParents == 1)
    val second = filesPerSource(indexDir)
    assert(second.size == 8 && second.values.forall(_.size == 1), second)
  }

  test("a source holding most of the index is split over several write tasks") {
    // consecutive ids, and ids sharing a stride (12) with every slice count
    // up to 4: slicing the raw id would send all of the latter to one task
    for (stride <- Seq(1L, 12L)) {
      val (indexDir, stateDir) = tmp()
      val listing = (1L to 40L).map(i => i * stride -> (if (i <= 34) "big" else s"s${i % 3}"))
      val r = IncrementalIndexer.runOnce(spark, sourcedDocs(listing), indexDir, stateDir, "run1")
      val files = filesPerSource(indexDir)
      assert(files("source=big").map(writeTask).toSet.size > 1,
        s"stride $stride: the dominant source was written whole by one task: $files")
      assert(spark.read.parquet(indexDir).count() == r.indexSize)
      assert(spark.read.parquet(indexDir).select("parent_id").distinct().count() == 40)
    }
  }

  test("run log retention keeps the newest maxRunFiles summaries (admin.py:202-228)") {
    val dir = Files.createTempDirectory("graft-runlog").toString
    def summary(i: Int) = IncrementalIndexer.RunSummary(
      f"run$i%03d", 3, 3, 0, 0, 0, 10, 10)
    (1 to 7).foreach { i =>
      IncrementalIndexer.writeRunLog(summary(i), dir, maxRunFiles = 5)
      // distinct mtimes so retention order is unambiguous
      val f = java.nio.file.Paths.get(dir, "runs", f"run$i%03d.json")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    val kept = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "runs"))
    import scala.jdk.CollectionConverters._
    val names = try kept.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally kept.close()
    assert(names == Seq("run003.json", "run004.json", "run005.json",
      "run006.json", "run007.json"))
    // the surviving payloads are the reference's run-summary JSON (S12 scans them)
    val one = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "runs", "run007.json"))
    assert(one.contains("\"runId\":\"run007\"") && one.contains("\"chunksWritten\":10"))
  }

  test("run log: a runId with a quote, a backslash and control characters round-trips as JSON") {
    val dir = Files.createTempDirectory("graft-runlog-esc").toString
    val runId = "a\"b\\c\nd\u0001e"
    IncrementalIndexer.writeRunLog(
      IncrementalIndexer.RunSummary(runId, 3, 2, 1, 0, 4, 10, 12), dir)
    val runs = java.nio.file.Paths.get(dir, "runs")
    val files = java.nio.file.Files.list(runs)
    import scala.jdk.CollectionConverters._
    val written = try files.iterator().asScala.toSeq finally files.close()
    assert(written.size == 1, written)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(written.head))
    assert(node.get("runId").asText() == runId)
    assert(node.fieldNames().asScala.toSeq == Seq("runId", "sourceDocs",
      "processed", "skippedNoChange", "skippedBlocked", "purgedParents",
      "chunksWritten", "indexSize"))
    assert(Seq(3L, 2L, 1L, 0L, 4L, 10L, 12L) ==
      node.fields().asScala.toSeq.tail.map(_.getValue.asLong()))
  }
}

object IncrementalIndexerSpec {
  /** Texts counted by [[RecordingTokenizer]]s in this JVM (local mode:
    * the tasks run here).
    */
  val counted = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def drainCounted(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val out = counted.asScala.toSeq
    counted.clear()
    out
  }

  /** `inner`, recording every text the chunker counts. */
  final class RecordingTokenizer(inner: graft.core.Tokenizer) extends graft.core.Tokenizer {
    override def tokens(s: String): Array[String] = inner.tokens(s)
    override def count(s: String): Int = { counted.add(s); inner.count(s) }
  }
}

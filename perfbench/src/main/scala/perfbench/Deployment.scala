package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.operators.{GraphAnn, Similarity}
import graft.pipeline.{ChunkIndexer, Chunkers, IncrementalIndexer}
import graft.services.{Embedder, HashingEmbedder}

/** `HashingEmbedder` with its batch time and text count added to two
  * accumulators, so the embed layer inside `runOnce` can be measured
  * from outside the product.
  */
final class TimedEmbedder(inner: Embedder, nanos: LongAccumulator,
    texts: LongAccumulator) extends Embedder {
  override def dim: Int = inner.dim
  override def maxTokens: Int = inner.maxTokens
  override def embedBatch(in: Iterator[String]): Iterator[Array[Float]] = {
    val batch = in.toVector
    val t0 = System.nanoTime()
    val out = inner.embedBatch(batch.iterator).toVector
    nanos.add(System.nanoTime() - t0)
    texts.add(batch.length.toLong)
    out.iterator
  }
}

/** What one `runOnce` call did, as the harness measured it. */
final case class IngestRecord(summary: IncrementalIndexer.RunSummary,
    start: Long, end: Long, indexBytes: Long, stateBytes: Long,
    changedTextBytes: Long, embedNs: Long, embedTexts: Long, noop: Boolean)

/** One ingestion + serving deployment under `dir`: a landing area, the
  * chunk index and state tables `runOnce` maintains, and a versioned
  * graph serving root. The harness keeps its own expectation of the live
  * corpus (chunk vectors computed with the product's chunker and embedder
  * on the driver), which the correctness checks and recall compare against.
  */
final class Deployment(ctx: Ctx, traced: Samples, val dir: Path) {
  import Deployment._
  private val spark = ctx.spark
  val landing: Path = dir.resolve("landing")
  val indexDir: String = dir.resolve("index").toString
  val stateDir: String = dir.resolve("state").toString
  val root: String = dir.resolve("serving").toString

  var listing: Corpus.Listing = Corpus.Listing(Vector.empty, Vector.empty,
    Vector.empty, Vector.empty)
  var centroids: Array[(Int, Array[Float])] = Array.empty
  var ref: Similarity.DriftStats = _
  /** Serving id → expected unit vector, for every chunk that should be
    * live.
    */
  var live: Map[Long, Array[Float]] = Map.empty
  private val chunksOf = mutable.HashMap.empty[Long, Int]
  private var landed = 0

  /** Write `l` as a parquet listing under the landing area (the upstream
    * producer's step; not timed). Returns its path.
    */
  def land(l: Corpus.Listing): String = {
    landed += 1
    val path = landing.resolve(f"batch-$landed%04d").toString
    val rows = l.docs.map(d => Row(d.docId, d.text, d.lang, d.source))
    spark.createDataFrame(rows.asJava, DocSchema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    path
  }

  private def dirBytes(p: String): Long = {
    val d = java.nio.file.Paths.get(p)
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** One `runOnce` over the listing landed at `path`. */
  def ingest(path: String, changedTextBytes: Long, noop: Boolean): IncrementalIndexer.RunSummary = {
    val e0 = ctx.embedNanos.map(_.value.longValue).getOrElse(0L)
    val x0 = ctx.embedTexts.map(_.value.longValue).getOrElse(0L)
    val t0 = ctx.tracer.now()
    val s = ctx.tracer.span(if (noop) "pipeline.runOnceNoop" else "pipeline.runOnce") {
      IncrementalIndexer.runOnce(spark, spark.read.schema(DocSchema).parquet(path),
        indexDir, stateDir, s"run-$landed${if (noop) "-noop" else ""}",
        embedder = ctx.embedder)
    }
    val t1 = ctx.tracer.now()
    if (ctx.tracer.active)
      traced.ingests.add(IngestRecord(s, t0, t1, dirBytes(indexDir), dirBytes(stateDir),
        changedTextBytes,
        ctx.embedNanos.map(_.value.longValue).getOrElse(0L) - e0,
        ctx.embedTexts.map(_.value.longValue).getOrElse(0L) - x0, noop))
    s
  }

  /** Full build from empty directories: `runOnce` over every document, IVF
    * + per-cell graph over the index's chunk vectors, and a publish with
    * the drift reference. Returns the `runOnce` summary.
    */
  def build(l: Corpus.Listing, path: String): IncrementalIndexer.RunSummary = {
    val s = ingest(path, l.docs.iterator.map(_.text.length.toLong).sum, noop = false)
    val corpus = spark.read.parquet(indexDir).select(
      (col("parent_id") * IdStride + col("chunk_id")).as("id"),
      col("contentVector").as("vec"))
    val ivf = ctx.tracer.span("operators.buildIvf") {
      val ix = Similarity.buildIvf(spark, corpus, "id", "vec", nCells = Cells, iters = 3)
      Similarity.IvfIndex(ix.centroids, ix.assignments.localCheckpoint(true))
    }
    val nodes = ctx.tracer.span("operators.buildGraphPerCell") {
      GraphAnn.buildGraphPerCell(spark, ivf.assignments, m = 8, efConstruction = 64)
        .localCheckpoint(true)
    }
    val reference = ctx.tracer.span("operators.driftStats") {
      Similarity.driftStatsAssigned(spark, ivf.assignments, "cell", "vec", ivf.centroids)
    }
    ctx.tracer.span("operators.publishServing") {
      GraphAnn.publishServing(nodes, ivf.centroids, root, Some(reference))
    }
    centroids = ivf.centroids
    ref = reference
    listing = l
    s
  }

  /** Expect exactly the chunks of `l`'s documents (set before its build,
    * so the harness's own chunking and embedding stay out of build timing).
    */
  def expectAll(l: Corpus.Listing): Unit = {
    chunksOf.clear()
    live = ctx.tracer.span("harness.expect")(l.docs.flatMap(expect).toMap)
  }

  /** The harness's own expectation for one document's chunks. */
  private def expect(d: Corpus.Doc): Seq[(Long, Array[Float])] = {
    val vs = expectedVectors(d.text)
    chunksOf.put(d.docId, vs.length)
    vs.indices.map(i => (d.docId * IdStride + i) -> vs(i))
  }

  /** Serving ids currently held for `parents`. */
  def servingIds(parents: Seq[Long]): Seq[Long] =
    parents.flatMap(p => (0 until chunksOf.getOrElse(p, 0)).map(p * IdStride + _.toLong))

  /** Delta refresh of the serving root after a `runOnce` over `next`:
    * tombstone the chunks of edited and deleted parents, append the new
    * chunk vectors of edited and added parents, publish.
    */
  def refreshServing(next: Corpus.Listing): Unit = {
    val changed = next.edited ++ next.added
    val tombIds = servingIds(next.edited ++ next.deleted)
    val batch = spark.read.parquet(indexDir)
      .filter(col("parent_id").isin(changed: _*))
      .select((col("parent_id") * IdStride + col("chunk_id")).as("id"),
        col("contentVector").as("vec"))
    val v = graft.pipeline.VersionedIndex.currentVersion(root).get
    val nodes = spark.read.schema(CellsSchema).parquet(s"$root/$v/cells")
      .select("part", "id", "vec", "level", "neighbors", "seg")
    val purged = ctx.tracer.span("operators.purgeTombstones") {
      val tombs = spark.createDataFrame(tombIds.map(Row(_)).asJava,
        StructType(Seq(StructField("id", LongType))))
      GraphAnn.purgeTombstones(nodes, tombs, m = 8, efConstruction = 64)
        .localCheckpoint(true)
    }
    val appended = ctx.tracer.span("operators.appendGraphCellsMonitored") {
      GraphAnn.appendGraphCellsMonitored(purged, batch, "id", "vec", centroids, ref,
        m = 8, efConstruction = 64)._1.localCheckpoint(true)
    }
    ctx.tracer.span("operators.publishServing") {
      GraphAnn.publishServing(appended, centroids, root, Some(ref))
    }
    (next.edited ++ next.deleted).foreach(chunksOf.remove)
    val byId = next.docs.iterator.map(d => d.docId -> d).toMap
    live = live -- tombIds ++ changed.flatMap(p => expect(byId(p)))
    listing = next
  }

  /** One search request against the published root: embed the question
    * (when `vec` is not given) and run the cold-start routed graph search.
    * Returns (id, sim) rows in rank order.
    */
  def search(question: String, vec: Option[Array[Float]] = None): Seq[(Long, Double)] = {
    val probe = vec.getOrElse(ctx.tracer.span("services.embed")(ctx.queryEmbedder.embed(question)))
    ctx.tracer.span("operators.coldStartSearch") {
      val probes = spark.createDataFrame(java.util.List.of(Row(0L, probe.toSeq)), ProbeSchema)
      val rows = GraphAnn.searchGraphRoutedColdStart(spark, root, probes, "probe_id",
        "probe_vec", nprobe = NProbe, k = K, ef = Ef).collect().toSeq
      if (ctx.tracer.active) traced.searchResults.addAndGet(rows.length)
      rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy { case (id, sim) => (-sim, id) }
    }
  }

  /** The same search for many probes in one call: probe index → ranked ids. */
  def searchBatch(probes: IndexedSeq[Array[Float]]): Map[Long, Seq[Long]] = {
    val df = spark.createDataFrame(
      probes.indices.map(i => Row(i.toLong, probes(i).toSeq)).asJava, ProbeSchema)
    GraphAnn.searchGraphRoutedColdStart(spark, root, df, "probe_id", "probe_vec",
      nprobe = NProbe, k = K, ef = Ef).collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)) }
  }
}

object Deployment {
  /** Serving id = parent_id × IdStride + chunk_id (chunk ids stay far below it). */
  val IdStride = 1024L
  /** How a deployment's index directory appears in a plan's text. */
  val IndexPath: scala.util.matching.Regex = """deploy-\d+/index\b""".r
  val Cells = 16
  val K = 10
  val NProbe = 4
  val Ef = 64

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))
  val ProbeSchema: StructType = StructType(Seq(
    StructField("probe_id", LongType),
    StructField("probe_vec", ArrayType(FloatType, containsNull = false))))
  /** The published cells table as `GraphAnn.writeGraphCells` lays it out. */
  val CellsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false)),
    StructField("level", IntegerType),
    StructField("neighbors", ArrayType(ArrayType(LongType, containsNull = false))),
    StructField("seg", IntegerType),
    StructField("part", IntegerType)))

  /** The chunks `runOnce` makes of `text`, as the product's own chunker
    * makes them, embedded by the product's embedder.
    */
  def expectedChunks(text: String): Seq[String] = {
    val p = ChunkIndexer.defaultSplit
    Chunkers.chunkText(text, "txt", p).filter(c => p.tokenizer.count(c) >= p.minChunkTokens)
  }

  private val reference = new HashingEmbedder(64)
  def expectedVectors(text: String): IndexedSeq[Array[Float]] =
    expectedChunks(text).map(reference.embed).toIndexedSeq
}

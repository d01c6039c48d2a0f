package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.IncrementalIndexer

/** Samples one run collects; `Main` turns them into the reported metrics. */
final class Samples {
  val buildS = new ConcurrentLinkedQueue[Double]()
  val freshnessS = new ConcurrentLinkedQueue[Double]()
  val noopS = new ConcurrentLinkedQueue[Double]()
  val searchMs = new ConcurrentLinkedQueue[Double]()
  /** (operation, traced, wall ms, generated-code compilations) of every
    * measured operation.
    */
  val opWalls = new ConcurrentLinkedQueue[(String, Boolean, Double, Long)]()
  val searchResults = new java.util.concurrent.atomic.AtomicLong()
  /** Every traced `runOnce` call. */
  val ingests = new ConcurrentLinkedQueue[IngestRecord]()

  def list(q: ConcurrentLinkedQueue[Double]): Seq[Double] = q.asScala.toSeq
}

/** The workloads' operations. Each workload is closed loop: a client issues
  * its next operation only when the previous one has returned.
  */
final class Workloads(ctx: Ctx, corpus: Corpus, questions: IndexedSeq[String]) {
  import Deployment._
  private val spark = ctx.spark
  private var deployments = 0
  private val asked = new java.util.concurrent.atomic.AtomicInteger()
  /** Where timings go: the set-up's samples, then the measured loop's. */
  @volatile var samples: Samples = new Samples
  /** Every traced `runOnce` call and the result rows of traced searches. */
  val traced = new Samples

  /** The next question of the seeded question set. */
  def nextQuestion(): String = questions(asked.getAndIncrement() % questions.length)

  /** A fresh deployment directory under the run's work area. */
  def freshDeployment(): Deployment = {
    deployments += 1
    val d = ctx.work.resolve(f"deploy-$deployments%03d")
    Files.createDirectories(d)
    new Deployment(ctx, traced, d)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Whether `id` is served at rank 1: it is in the result with the top
    * similarity (ties at the top are equally rank 1).
    */
  def atRank1(rows: Seq[(Long, Double)], id: Long): Boolean =
    rows.nonEmpty && rows.exists { case (i, s) => i == id && s >= rows.head._2 - 1e-6 }

  /** Questions a client asks right after each refresh publishes. */
  val Burst = 4

  /** Searches a freshness poll makes before the check fails. */
  val MaxPolls = 5

  /** Search for `vec` until chunk `id` comes back at rank 1 (at most
    * `MaxPolls` requests). Returns the epoch-nanosecond time of the hit.
    */
  def pollUntilServed(dep: Deployment, id: Long, vec: Array[Float],
      checks: Checks): Option[Long] = {
    var polls = 0
    var hit: Option[Long] = None
    while (hit.isEmpty && polls < MaxPolls) {
      val t0 = System.nanoTime()
      val rows = dep.search("", Some(vec))
      samples.searchMs.add((System.nanoTime() - t0) / 1e6)
      polls += 1
      if (atRank1(rows, id)) hit = Some(ctx.tracer.now())
    }
    checks(hit.nonEmpty, s"chunk $id not served at rank 1 after $polls searches")
    hit
  }

  /** The full-build checks: every document indexed, the chunk count the
    * product's chunker predicts, and the served vectors the harness expects.
    */
  def checkBuild(dep: Deployment, s: IncrementalIndexer.RunSummary, checks: Checks): Unit = {
    val ids = dep.listing.ids
    checks(s.sourceDocs == ids.size && s.processed == ids.size,
      s"runOnce saw ${s.sourceDocs} docs, processed ${s.processed}; expected ${ids.size}")
    val indexed = spark.read.parquet(dep.indexDir).select("parent_id").distinct()
      .collect().map(_.getLong(0)).toSet
    checks(indexed == ids, s"index holds ${indexed.size} parents, listing ${ids.size}")
    checks(s.chunksWritten == dep.live.size && s.indexSize == dep.live.size,
      s"chunks written ${s.chunksWritten}, index ${s.indexSize}; chunkText predicts ${dep.live.size}")
    checkServed(dep, checks)
  }

  /** The published cells hold exactly the expected live vectors. */
  def checkServed(dep: Deployment, checks: Checks): Unit = {
    val v = graft.pipeline.VersionedIndex.currentVersion(dep.root).get
    val served = spark.read.schema(CellsSchema).parquet(s"${dep.root}/$v/cells")
      .select("id", "vec").collect()
    val byId = served.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    checks(served.length == byId.size, s"${served.length - byId.size} duplicate serving ids")
    checks(byId.keySet == dep.live.keySet,
      s"serving ${byId.size} ids, expected ${dep.live.size}; " +
        s"missing ${(dep.live.keySet -- byId.keySet).take(3)}, extra ${(byId.keySet -- dep.live.keySet).take(3)}")
    val wrong = dep.live.count { case (id, want) =>
      byId.get(id).exists(got => Stats.cosine(got, want) < 1 - 1e-5)
    }
    checks(wrong == 0, s"$wrong served vectors differ from the expected embedding")
  }

  /** Build a deployment from a fresh corpus, timing landing → searchable
    * and the unchanged rerun that follows.
    */
  def fullBuild(dep: Deployment, docs: Vector[Corpus.Doc], probeDoc: Corpus.Doc,
      checks: Checks): Unit = {
    val l = Corpus.Listing(docs, Vector.empty, docs.map(_.docId), Vector.empty)
    val path = ctx.tracer.span("harness.land")(dep.land(l))
    dep.expectAll(l)
    val t0 = ctx.tracer.now()
    val s = dep.build(l, path)
    val t1 = ctx.tracer.now()
    samples.buildS.add(secs(t0, t1))
    val probeId = probeDoc.docId * IdStride
    pollUntilServed(dep, probeId, dep.live(probeId), checks)
      .foreach(t => samples.freshnessS.add(secs(t0, t)))
    val n0 = ctx.tracer.now()
    val noop = dep.ingest(path, 0L, noop = true)
    samples.noopS.add(secs(n0, ctx.tracer.now()))
    checks(noop.processed == 0 && noop.chunksWritten == 0,
      s"no-op rerun processed ${noop.processed}, wrote ${noop.chunksWritten} chunks")
    ctx.tracer.span("harness.checks")(checkBuild(dep, s, checks))
  }

  /** One delta cycle on `dep`: land a seeded listing, ingest, refresh the
    * serving root, poll until an edited chunk is served, rerun unchanged.
    */
  def deltaCycle(dep: Deployment, cycle: Int, checks: Checks): Unit = {
    val next = corpus.delta(ctx.seed, cycle, dep.listing.docs)
    val path = ctx.tracer.span("harness.land")(dep.land(next))
    val byId = next.docs.iterator.map(d => d.docId -> d).toMap
    val changedBytes = (next.edited ++ next.added).map(byId(_).text.length.toLong).sum
    val t0 = ctx.tracer.now()
    val s = dep.ingest(path, changedBytes, noop = false)
    dep.refreshServing(next)
    val probeId = next.edited.head * IdStride
    pollUntilServed(dep, probeId, dep.live(probeId), checks)
      .foreach(t => samples.freshnessS.add(secs(t0, t)))
    (1 to Burst).foreach(_ => request(dep, nextQuestion(), checks))
    val n0 = ctx.tracer.now()
    val noop = dep.ingest(path, 0L, noop = true)
    samples.noopS.add(secs(n0, ctx.tracer.now()))
    ctx.tracer.span("harness.checks")(checkCycle(dep, next, s, noop, checks))
  }

  /** The delta-cycle checks, against the listing `next` just ingested. */
  private def checkCycle(dep: Deployment, next: Corpus.Listing,
      s: IncrementalIndexer.RunSummary, noop: IncrementalIndexer.RunSummary,
      checks: Checks): Unit = {
    val byId = next.docs.iterator.map(d => d.docId -> d).toMap
    checks(s.processed == next.edited.length + next.added.length,
      s"runOnce processed ${s.processed}, expected ${next.edited.length + next.added.length}")
    checks(s.purgedParents == next.deleted.length,
      s"runOnce purged ${s.purgedParents}, expected ${next.deleted.length}")
    checks(noop.processed == 0 && noop.chunksWritten == 0,
      s"no-op rerun processed ${noop.processed}, wrote ${noop.chunksWritten} chunks")
    val listingIds = next.ids
    val parents = spark.read.parquet(dep.indexDir).select("parent_id").distinct()
      .collect().map(_.getLong(0)).toSet
    checks(parents == listingIds,
      s"index parents differ from the listing: ${(parents -- listingIds).size} extra, " +
        s"${(listingIds -- parents).size} missing")
    val hashes = IncrementalIndexer.readState(spark, dep.stateDir)
      .filter(col("parent_id").isin(next.edited: _*))
      .select("parent_id", "content_hash").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stale = next.edited.filterNot(p => hashes.get(p).contains(Corpus.md5Hex(byId(p).text)))
    checks(stale.isEmpty, s"edited parents without their new md5: ${stale.take(5)}")
    val listingDf = spark.createDataFrame(
      listingIds.toSeq.map(Row(_)).asJava, StructType(Seq(StructField("doc_id", LongType))))
    val leaked = IncrementalIndexer.leakedParents(spark, dep.indexDir, listingDf)
    checks(leaked.isEmpty, s"leaked parents: ${leaked.take(5).mkString(",")}")
  }

  /** One search request: embed a question and search. */
  def request(dep: Deployment, question: String, checks: Checks): Unit = {
    val t0 = System.nanoTime()
    val rows = dep.search(question)
    samples.searchMs.add((System.nanoTime() - t0) / 1e6)
    checks(rows.length == math.min(K, dep.live.size), s"${rows.length} results, expected $K")
  }

  /** Mean tie-aware recall@K of the published root over every question of
    * the seeded set, searched as one probe batch (not timed).
    */
  def recall(dep: Deployment): Double = {
    val live = dep.live
    val probes = questions.map(ctx.queryEmbedder.embed).toIndexedSeq
    val got = dep.searchBatch(probes)
    probes.indices.map(i =>
      Stats.tieAwareRecall(got.getOrElse(i.toLong, Nil), live, probes(i), K)).sum / probes.length
  }
}

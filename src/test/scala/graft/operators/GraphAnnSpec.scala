package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Partitioned HNSW-style graph tier: structural invariants (degree caps,
  * segment-closed adjacency, node conservation), determinism of the
  * build, recall against brute force, and batch/single equality.
  */
class GraphAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val M = 6
  private lazy val emb = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
  private lazy val nodes = GraphAnn.buildGraph(spark, emb, "vec_id", "embedding",
    nParts = 4, m = M, efConstruction = 48).localCheckpoint(true)

  test("every corpus vector becomes exactly one node; levels follow the hash") {
    val n = emb.count()
    assert(nodes.count() == n)
    assert(nodes.select("id").distinct().count() == n)
    val mismatched = nodes.as[GraphNode].collect()
      .count(gn => gn.level != GraphAnn.levelOf(gn.id, M) ||
        gn.neighbors.length != gn.level + 1)
    assert(mismatched == 0, "stored level must equal the deterministic hash level")
  }

  test("adjacency respects the degree caps and never crosses a partition") {
    val gs = nodes.as[GraphNode].collect()
    val partOf = gs.map(g => g.id -> g.part).toMap
    gs.foreach { g =>
      g.neighbors.zipWithIndex.foreach { case (layer, l) =>
        val cap = if (l == 0) 2 * M else M
        assert(layer.length <= cap, s"node ${g.id} layer $l degree ${layer.length} > $cap")
        assert(layer.forall(nb => partOf(nb) == g.part),
          s"node ${g.id} has a cross-partition edge")
        assert(!layer.contains(g.id), s"node ${g.id} has a self-loop")
      }
    }
  }

  test("the build is deterministic — a rebuild is edge-identical") {
    val again = GraphAnn.buildGraph(spark, emb, "vec_id", "embedding",
      nParts = 4, m = M, efConstruction = 48)
    def flat(df: org.apache.spark.sql.DataFrame) = df.as[GraphNode].collect()
      .map(g => (g.id, g.level, g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq
    assert(flat(nodes) == flat(again))
  }

  test("beam search recalls the brute-force top-10 (self-probe finds itself first)") {
    val probe = emb.filter($"vec_id" === 7)
      .select($"embedding").head().getSeq[Float](0).toArray
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val got = GraphAnn.searchGraph(nodes, probe, k = 10, ef = 48)
      .orderBy($"rank").collect()
    assert(got.head.getLong(0) == 7L, "the probe's own vector must rank first")
    val recall = got.map(_.getLong(0)).count(exact)
    assert(recall >= 8, s"recall@10 fell to $recall/10")
  }

  test("batch search equals the single-probe path probe-for-probe") {
    val probes = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val batch = GraphAnn.searchGraphBatch(nodes, probes, "probe_id", "probe_vec",
        k = 5, ef = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .sortBy(t => (t._1, t._3))
    val singles = (0L until 6L).flatMap { q =>
      val p = emb.filter($"vec_id" === q)
        .select($"embedding").head().getSeq[Float](0).toArray
      GraphAnn.searchGraph(nodes, p, k = 5, ef = 32)
        .orderBy($"rank").collect()
        .map(r => (q, r.getLong(0), r.getInt(2)))
    }.sortBy(t => (t._1, t._3))
    assert(batch.length == singles.length)
    assert(batch.sameElements(singles))
  }

  test("nnDescent: k edges per node, no self-loops, deterministic, monotone, high recall") {
    // k=20 is the paper's operating regime: neighbor-of-neighbor
    // exploration needs width on high-intrinsic-dimension data (measured
    // here: k=5 plateaus at 0.37 recall, k=10 at 0.85, k=20 reaches
    // 0.992 by iteration 4 — truncate a k=20 build for smaller k)
    val k = 20
    val g1 = GraphAnn.nnDescent(emb, "vec_id", "embedding", k, iters = 1)
      .localCheckpoint(true)
    val g4 = GraphAnn.nnDescent(emb, "vec_id", "embedding", k, iters = 4)
      .localCheckpoint(true)
    val n = emb.count()
    val rows = g4.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == n * k, "exactly k edges per node")
    assert(rows.forall(t => t._1 != t._2), "no self-loops")
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // determinism
    val again = GraphAnn.nnDescent(emb, "vec_id", "embedding", k, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.sortBy(t => (t._1, t._2)).toSeq ==
      again.sortBy(t => (t._1, t._2)).toSeq)
    // monotone: each node's worst kept sim can only improve with iterations
    def worst(g: Array[(Long, Long, Double)]) =
      g.groupBy(_._1).map { case (id, es) => id -> es.map(_._3).min }
    val w1 = worst(g1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val w4 = worst(rows)
    w4.foreach { case (id, w) => assert(w >= w1(id) - 1e-12,
      s"node $id got worse with more iterations") }
    // recall vs exact k-NN (self excluded from the exact side)
    val exact = Similarity.topKPerProbe(
        emb.select($"vec_id".as("probe_id"), $"embedding".as("probe_vec")),
        "probe_id", "probe_vec", emb, "vec_id", "embedding", k + 1)
      .filter($"probe_id" =!= $"vec_id")
      .select($"probe_id", $"vec_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, es) => id -> es.map(_._2).take(k).toSet }
    val gotBy = rows.groupBy(_._1).map { case (id, es) => id -> es.map(_._2).toSet }
    val recall = exact.map { case (id, ex) =>
      (gotBy(id) & ex).size.toDouble / ex.size }.sum / exact.size
    assert(recall >= 0.95, f"mean k-NN graph recall $recall%.3f below floor")
  }

  test("nnDescent sliced candidate generation is edge-identical to unsliced") {
    // candidateSlices bounds PEAK candidate volume (the 512k rho=1 OOM
    // fix); top-k folding under the deterministic (sim desc, id asc)
    // order is an associative merge, so slicing must change NOTHING
    val k = 10
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val whole = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k, iters = 2))
    val sliced = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, candidateSlices = 4))
    assert(sliced == whole, "sliced build diverged from the unsliced build")
    // and with rho-sampling on top (the thin filter is per-row, so it
    // commutes with slicing)
    val wholeR = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, sampleRate = 0.5))
    val slicedR = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, sampleRate = 0.5, candidateSlices = 3))
    assert(slicedR == wholeR, "sliced+sampled build diverged")
    // the carried-sims fold (the corpus-scale path: known pairs re-enter
    // the fold with stored sims instead of re-joining the vector table)
    // is edge-identical on every combination — cosine is deterministic,
    // so a carried sim equals a recomputed one bit-for-bit
    val carried = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, foldCarriedSims = Some(true)))
    assert(carried == whole, "carried-sims fold diverged (unsliced)")
    val carriedS = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, candidateSlices = 4, foldCarriedSims = Some(true)))
    assert(carriedS == whole, "carried-sims fold diverged (sliced)")
    val carriedR = flat(GraphAnn.nnDescent(emb, "vec_id", "embedding", k,
      iters = 2, sampleRate = 0.5, candidateSlices = 3,
      foldCarriedSims = Some(true)))
    assert(carriedR == wholeR, "carried-sims fold diverged (sliced+sampled)")
  }

  test("orphaned directed components are still found (multi-entry roots)") {
    // hand-crafted segment: node 4 points INTO the graph but nothing
    // points at it — pruning produces exactly this shape at scale, and a
    // beam seeded only at the entry can never reach it at any ef
    def v(x: Float, y: Float) = {
      val n = math.sqrt(x * x + y * y).toFloat
      Array(x / n, y / n)
    }
    val ns = Seq(
      GraphNode(0, 1L, v(1f, 0f), 1, Array(Array(2L), Array.empty[Long])),
      GraphNode(0, 2L, v(0.9f, 0.1f), 0, Array(Array(1L, 3L))),
      GraphNode(0, 3L, v(0.8f, 0.2f), 0, Array(Array(1L, 2L))),
      GraphNode(0, 4L, v(-1f, 0.05f), 0, Array(Array(1L))))
    // builders emit a part's nodes co-located; a hand-built DF must too
    val nodesDf = spark.createDataset(ns).toDF().coalesce(1)
    val probes = Seq((9L, v(-1f, 0.05f))).toDF("probe_id", "probe_vec")
    val got = GraphAnn.searchGraphBatch(nodesDf, probes, "probe_id",
      "probe_vec", k = 4, ef = 4).orderBy($"rank").collect()
    assert(got.length == 4, "full beam must cover the orphan too")
    assert(got.head.getLong(1) == 4L,
      "the orphan is the probe's own vector and must rank first")
  }

  test("append: existing segments byte-identical, batch lands in fresh parts, search exact at full beam") {
    val existingCorpus = emb.filter($"vec_id" % 2 === 0)
    val batchCorpus = emb.filter($"vec_id" % 2 === 1)
    val existing = GraphAnn.buildGraph(spark, existingCorpus, "vec_id",
      "embedding", nParts = 3, m = M, efConstruction = 48).localCheckpoint(true)
    val appended = GraphAnn.appendSegments(existing, batchCorpus, "vec_id",
      "embedding", nParts = 2, m = M, efConstruction = 48).localCheckpoint(true)
    def flat(df: org.apache.spark.sql.DataFrame) = df.as[GraphNode].collect()
      .map(g => (g.id, g.part, g.seg, g.level, g.vec.toSeq,
        g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq
    val oldMax = existing.agg(max($"part")).head().getInt(0)
    val (oldRows, newRows) = flat(appended).partition(_._2 <= oldMax)
    assert(oldRows == flat(existing), "append must not touch existing segments")
    val batchIds = batchCorpus.select($"vec_id".cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(newRows.map(_._1).toSet == batchIds, "every batch id in a fresh part")
    assert(newRows.forall(_._2 > oldMax))
    // adjacency of fresh segments closed over their own (part, seg)
    val segOf = newRows.map(r => r._1 -> (r._2, r._3)).toMap
    newRows.foreach { r => r._6.foreach(_.foreach(nb =>
      assert(segOf(nb) == ((r._2, r._3))))) }
    // exhaustive beams over the union reproduce brute force on the union
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))
    val got = top(GraphAnn.searchGraphBatch(appended, probes,
      "probe_id", "probe_vec", k = 5, ef = n))
    val exact = top(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("merge: small segments pack deterministically, big ones pass byte-identical, search exact") {
    val many = GraphAnn.buildGraph(spark, emb, "vec_id", "embedding",
      nParts = 8, m = M, efConstruction = 48).localCheckpoint(true)
    val n = emb.count().toInt
    val target = n / 2
    val merged = GraphAnn.mergeSegments(many, target, m = M,
      efConstruction = 48, withinPart = false).localCheckpoint(true)
    val gs = merged.as[GraphNode].collect()
    assert(gs.length == n, "node conservation")
    assert(gs.map(_.id).distinct.length == n)
    val segsBefore = many.select($"part", $"seg").distinct().count()
    val segsAfter = merged.select($"part", $"seg").distinct().count()
    assert(segsAfter < segsBefore, s"merge must reduce segments ($segsBefore -> $segsAfter)")
    // adjacency closed over the merged segments
    val segOf = gs.map(g => g.id -> (g.part, g.seg)).toMap
    gs.foreach(g => g.neighbors.foreach(_.foreach(nb =>
      assert(segOf(nb) == ((g.part, g.seg))))))
    // at-target segments pass through untouched
    val bigBefore = many.as[GraphNode].collect().groupBy(_.part)
      .filter(_._2.length >= target)
    bigBefore.foreach { case (p, ns) =>
      val after = gs.filter(_.part == p)
      assert(after.map(g => (g.id, g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq ==
        ns.map(g => (g.id, g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq)
    }
    // determinism
    val again = GraphAnn.mergeSegments(many, target, m = M,
      efConstruction = 48, withinPart = false)
    def flat(df: org.apache.spark.sql.DataFrame) = df.as[GraphNode].collect()
      .map(g => (g.id, g.part, g.seg, g.neighbors.map(_.toSeq).toSeq))
      .sortBy(_._1).toSeq
    assert(flat(merged) == flat(again))
    // exhaustive beams over the merged layout still reproduce brute force
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))
    val got = top(GraphAnn.searchGraphBatch(merged, probes,
      "probe_id", "probe_vec", k = 5, ef = n))
    val exact = top(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  private lazy val ivf = Similarity.buildIvf(spark, emb, "vec_id", "embedding",
    nCells = 8, iters = 2)
  private lazy val cellNodes = GraphAnn.buildGraphPerCell(spark,
    ivf.assignments, m = M, efConstruction = 48).localCheckpoint(true)

  test("per-cell graphs: part is the cell, adjacency stays inside it") {
    val cellOf = ivf.assignments.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gs = cellNodes.as[GraphNode].collect()
    assert(gs.length == cellOf.size)
    gs.foreach { g =>
      assert(g.part == cellOf(g.id), s"node ${g.id} stored under part ${g.part}")
      g.neighbors.foreach(layer => layer.foreach(nb =>
        assert(cellOf(nb) == g.part, s"edge ${g.id}->$nb leaves cell ${g.part}")))
    }
  }

  test("routed search touches only the probed cells") {
    val probe = emb.filter($"vec_id" === 11)
      .select($"embedding").head().getSeq[Float](0).toArray
    val nprobe = 3
    val probed = GraphAnn.routeCells(ivf.centroids, probe, nprobe).toSet
    assert(probed.size == nprobe)
    val got = GraphAnn.searchGraphRouted(cellNodes, ivf.centroids,
      Seq((0L, probe)).toDF("probe_id", "probe_vec"),
      "probe_id", "probe_vec", nprobe, k = 10, ef = 48).collect()
    val cellOf = ivf.assignments.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty)
    got.foreach(r => assert(probed.contains(cellOf(r.getLong(1))),
      s"result ${r.getLong(1)} came from an un-probed cell"))
  }

  test("appendSegments onto an empty graph is the initial build (no NPE)") {
    val empty = nodes.filter($"part" < -1)
    val appended = GraphAnn.appendSegments(empty, emb.limit(20), "vec_id",
      "embedding", nParts = 2, m = M, efConstruction = 48)
    assert(appended.count() == 20)
    assert(appended.agg(min($"part")).head().getInt(0) >= 0)
  }

  test("withinPart merge packs a cell's slices but never crosses cells (routing preserved)") {
    val cap = 24
    val sliced = GraphAnn.buildGraphPerCell(spark, ivf.assignments, m = M,
      efConstruction = 48, maxSegmentSize = cap).localCheckpoint(true)
    val merged = GraphAnn.mergeSegments(sliced, targetNodesPerSegment = 1000,
      m = M, efConstruction = 48, withinPart = true).localCheckpoint(true)
    val cellOf = ivf.assignments.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gs = merged.as[GraphNode].collect()
    assert(gs.length == cellOf.size, "node conservation")
    gs.foreach(g => assert(g.part == cellOf(g.id),
      s"node ${g.id} left its cell: part ${g.part} vs cell ${cellOf(g.id)}"))
    val segsBefore = sliced.select($"part", $"seg").distinct().count()
    val segsAfter = merged.select($"part", $"seg").distinct().count()
    assert(segsAfter < segsBefore, s"slices must merge ($segsBefore -> $segsAfter)")
    // routed search over the merged layout still finds everything exactly
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))
    val got = top(GraphAnn.searchGraphRouted(merged, ivf.centroids, probes,
      "probe_id", "probe_vec", nprobe = 8, k = 5, ef = n))
    val exact = top(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("persisted cell layout: pruned read, results identical to in-memory routed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graphcells").toString
    GraphAnn.writeGraphCells(cellNodes, dir)
    val probes = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val mem = flat(GraphAnn.searchGraphRouted(cellNodes, ivf.centroids,
      probes, "probe_id", "probe_vec", nprobe = 3, k = 6, ef = 48))
    val disk = flat(GraphAnn.searchGraphRoutedPersisted(spark, dir,
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 3, k = 6,
      ef = 48))
    assert(disk.sameElements(mem), "persisted path must be row-identical")
    // the pruned read plans a PartitionFilters predicate on `part`
    val probed = probes.select($"probe_vec").as[Array[Float]].collect()
      .flatMap(v => Similarity.nearestCells(ivf.centroids, v, 3)).distinct.toSeq
    val pruned = spark.read.parquet(dir).filter($"part".isin(probed: _*))
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      "part IN (...) must land in PartitionFilters:\n" + p.take(1500))
    assert(p.contains("part") && probed.nonEmpty)
    val rm = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try rm.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally rm.close()
  }

  test("routing to every cell equals the un-routed sweep of the same index") {
    val probes = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))
    val routedAll = flat(GraphAnn.searchGraphRouted(cellNodes, ivf.centroids,
      probes, "probe_id", "probe_vec", nprobe = 8, k = 6, ef = 48))
    val swept = flat(GraphAnn.searchGraphBatch(cellNodes, probes,
      "probe_id", "probe_vec", k = 6, ef = 48))
    assert(routedAll.length == swept.length)
    assert(routedAll.sameElements(swept))
  }

  test("sliced build: oversized cells split into seg-closed sub-segments") {
    val cap = 24
    val sliced = GraphAnn.buildGraphPerCell(spark, ivf.assignments, m = M,
      efConstruction = 48, maxSegmentSize = cap).localCheckpoint(true)
    val cellCounts = ivf.assignments.groupBy($"cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gs = sliced.as[GraphNode].collect()
    assert(gs.length == cellCounts.values.sum, "node conservation")
    val segOf = gs.map(g => g.id -> (g.part, g.seg)).toMap
    gs.foreach(g => g.neighbors.foreach(layer => layer.foreach(nb =>
      assert(segOf(nb) == ((g.part, g.seg)),
        s"edge ${g.id}->$nb crosses sub-segment ${(g.part, g.seg)}"))))
    gs.groupBy(_.part).foreach { case (cell, ns) =>
      val expected = ((cellCounts(cell) + cap - 1) / cap).toInt
      val segs = ns.map(_.seg).toSet
      if (expected == 1) assert(segs == Set(0), s"cell $cell should be unsliced")
      else assert(segs == (0 until expected).toSet,
        s"cell $cell: segs $segs, expected $expected slices")
    }
    // determinism: a sliced rebuild is edge-identical
    val again = GraphAnn.buildGraphPerCell(spark, ivf.assignments, m = M,
      efConstruction = 48, maxSegmentSize = cap)
    def flat(df: org.apache.spark.sql.DataFrame) = df.as[GraphNode].collect()
      .map(g => (g.id, g.seg, g.level, g.neighbors.map(_.toSeq).toSeq))
      .sortBy(_._1).toSeq
    assert(flat(sliced) == flat(again))
    // full fan-out + whole-slice beams: one beam per SUB-segment (not one
    // per cell) must recover the exact brute-force top-k
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))
    val got = top(GraphAnn.searchGraphRouted(sliced, ivf.centroids, probes,
      "probe_id", "probe_vec", nprobe = 8, k = 5, ef = n))
    val exact = top(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  private lazy val ivfPq = Similarity.buildIvfPq(spark, emb, "vec_id",
    "embedding", nCells = 8, subspaces = 8, codesPerSub = 16,
    ivfIters = 2, pqIters = 2)
  private lazy val pqNodes = GraphAnn.buildGraphPerCellPq(spark, emb,
    "vec_id", "embedding", ivfPq, m = M, efConstruction = 48)
    .localCheckpoint(true)

  test("PQ graph: nodes store only the code word, cell-closed, deterministic") {
    val cellOf = ivfPq.coded.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gs = pqNodes.as[GraphAnn.PqGraphNode].collect()
    assert(gs.length == cellOf.size)
    gs.foreach { g =>
      assert(g.codes.length == 8, s"node ${g.id} stores ${g.codes.length} B")
      assert(g.part == cellOf(g.id))
      g.neighbors.foreach(layer => layer.foreach(nb =>
        assert(cellOf(nb) == g.part, s"edge ${g.id}->$nb leaves cell ${g.part}")))
    }
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.as[GraphAnn.PqGraphNode].collect()
        .map(g => (g.id, g.level, g.codes.toSeq,
          g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq
    val again = GraphAnn.buildGraphPerCellPq(spark, emb, "vec_id",
      "embedding", ivfPq, m = M, efConstruction = 48)
    assert(flat(pqNodes) == flat(again))
  }

  test("routed PQ search: full fan-out + exhaustive rerank recovers exact top-k") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    // nprobe = all cells, beam covers each whole cell, rerank keeps the
    // full candidate set — stage 2's exact cosine must then reproduce
    // brute force row for row (ids, sims and ranks)
    val got = GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 8, k = 5,
        ef = n, rerankFactor = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.length == exact.length)
    assert(got.sameElements(exact))
  }

  test("routed PQ search touches only the probed cells") {
    val probe = emb.filter($"vec_id" === 11)
      .select($"embedding").head().getSeq[Float](0).toArray
    val nprobe = 3
    val probed = Similarity.probedCells(ivfPq, probe, nprobe).toSet
    assert(probed.size == nprobe)
    val cellOf = ivfPq.coded.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb, "vec_id",
      "embedding", Seq((0L, probe)).toDF("probe_id", "probe_vec"),
      "probe_id", "probe_vec", nprobe, k = 5, ef = 32).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(probed.contains(cellOf(r.getLong(1))),
      s"result ${r.getLong(1)} came from an un-probed cell"))
  }

  test("sliced PQ build: sub-segments closed, exhaustive search still exact") {
    val cap = 24
    val sliced = GraphAnn.buildGraphPerCellPq(spark, emb, "vec_id",
      "embedding", ivfPq, m = M, efConstruction = 48, maxSegmentSize = cap)
      .localCheckpoint(true)
    val gs = sliced.as[GraphAnn.PqGraphNode].collect()
    assert(gs.length == emb.count())
    assert(gs.exists(_.seg > 0), "cap 24 over ~60-node cells must slice")
    val segOf = gs.map(g => g.id -> (g.part, g.seg)).toMap
    gs.foreach(g => g.neighbors.foreach(layer => layer.foreach(nb =>
      assert(segOf(nb) == ((g.part, g.seg))))))
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val got = top(GraphAnn.searchGraphRoutedPq(sliced, ivfPq, emb, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 8, k = 5,
      ef = n, rerankFactor = n))
    val exact = top(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("search ranks are dense from 1 and sims non-increasing") {
    val probe = emb.filter($"vec_id" === 3)
      .select($"embedding").head().getSeq[Float](0).toArray
    val rows = GraphAnn.searchGraph(nodes, probe, k = 8, ef = 32)
      .orderBy($"rank").collect()
    assert(rows.map(_.getInt(2)).toSeq == (1 to rows.length))
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  // ------------------------------------------ filtered search (v24) ----

  private def topIds(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3))

  test("filtered keystone: exhaustive filtered beams = brute force over the allowed subset") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id".as("id"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRoutedFiltered(cellNodes,
      ivf.centroids, probes, "probe_id", "probe_vec", allowed,
      nprobe = 8, k = 5, ef = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb.filter($"vec_id" % 3 === 0), "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact),
      "all cells probed + full ef must reproduce the filtered brute force")
  }

  test("selective filter can't starve top-k; empty intersection returns empty, not error") {
    val probes = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    // 5 allowed ids anywhere in the corpus: all 5 must surface per probe
    // even at serving-width ef (the result heap only holds allowed nodes)
    val five = emb.filter($"vec_id".isin(3L, 97L, 211L, 404L, 555L))
      .select($"vec_id".as("id"))
    val nFive = five.count().toInt
    val got = GraphAnn.searchGraphRoutedFiltered(cellNodes, ivf.centroids,
      probes, "probe_id", "probe_vec", five, nprobe = 8, k = 10, ef = 16)
      .collect()
    val gotIds = got.map(_.getLong(1)).toSet
    assert(got.length == 2 * nFive, s"wanted 2×$nFive rows, got ${got.length}")
    assert(gotIds == five.collect().map(_.getLong(0)).toSet)
    // allowed ∩ corpus = ∅ — no rows, no crash
    val none = spark.range(1).select((col("id") + 1000000L).as("id"))
    assert(GraphAnn.searchGraphRoutedFiltered(cellNodes, ivf.centroids,
      probes, "probe_id", "probe_vec", none, nprobe = 8, k = 10,
      ef = 16).count() == 0L)
  }

  // ------------------------------------------ delete lifecycle (v25) ----

  test("tombstone mask: exhaustive masked beams = brute force over the survivors") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val tombs = emb.filter($"vec_id" % 4 === 1).select($"vec_id".as("id"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphBatch(nodes, probes, "probe_id",
      "probe_vec", k = 5, ef = n, tombstones = Some(tombs)))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb.filter($"vec_id" % 4 =!= 1), "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
    // the routed tier masks identically
    val gotRouted = topIds(GraphAnn.searchGraphRouted(cellNodes,
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 8, k = 5,
      ef = n, tombstones = Some(tombs)))
    assert(gotRouted.sameElements(exact))
  }

  test("filter and tombstone mask compose on both tiers: emit = allowed AND live") {
    val probes = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id".as("id"))
    val tombs = emb.filter($"vec_id" % 6 === 0).select($"vec_id".as("id"))
    val n = emb.count().toInt
    // allowed minus deleted = multiples of 3 that aren't multiples of 6
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb.filter($"vec_id" % 3 === 0 && $"vec_id" % 6 =!= 0),
      "vec_id", "embedding", k = 5))
    val got = topIds(GraphAnn.searchGraphRoutedFiltered(cellNodes,
      ivf.centroids, probes, "probe_id", "probe_vec", allowed,
      nprobe = 8, k = 5, ef = n, tombstones = Some(tombs)))
    assert(got.sameElements(exact), "exact tier: filtered+masked = brute force")
    val gotPq = topIds(GraphAnn.searchGraphRoutedPqFiltered(pqNodes, ivfPq,
      emb, "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
      nprobe = 8, k = 5, ef = n, rerankFactor = n, tombstones = Some(tombs)))
    assert(gotPq.sameElements(exact), "PQ tier: filtered+masked = brute force")
  }

  test("purge drops tombstoned nodes, passes untouched segments byte-identical, idempotent") {
    val tombIds = Seq(2L, 7L, 13L)
    val tombs = tombIds.toDF("id")
    val purged = GraphAnn.purgeTombstones(nodes, tombs, m = M,
      efConstruction = 48).localCheckpoint(true)
    val gs = purged.as[GraphNode].collect()
    assert(gs.length == emb.count().toInt - tombIds.length, "node conservation")
    assert(gs.forall(g => !tombIds.contains(g.id)), "no tombstoned node survives")
    gs.foreach(g => g.neighbors.foreach(layer => layer.foreach(nb =>
      assert(!tombIds.contains(nb), s"edge ${g.id}->$nb points at a tombstone"))))
    // segments the deletes never touched are byte-identical
    val touched = nodes.as[GraphNode].collect()
      .filter(n => tombIds.contains(n.id)).map(n => (n.part, n.seg)).toSet
    def outside(df: org.apache.spark.sql.DataFrame) = df.as[GraphNode].collect()
      .filterNot(n => touched.contains((n.part, n.seg)))
      .map(g => (g.id, g.level, g.neighbors.map(_.toSeq).toSeq)).sortBy(_._1).toSeq
    assert(outside(purged) == outside(nodes))
    // idempotent: purging the same set again rebuilds nothing at all
    val again = GraphAnn.purgeTombstones(purged, tombs, m = M,
      efConstruction = 48)
    assert(again eq purged, "no touched segment -> the input passes through")
    // post-purge exhaustive search = brute force over the survivors
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphBatch(purged, probes, "probe_id",
      "probe_vec", k = 5, ef = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb.filter(!$"vec_id".isin(tombIds: _*)), "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("appendGraphCells: fresh slices per routed cell, then withinPart merge compacts them") {
    val even = cellNodes.join(emb.filter($"vec_id" % 2 === 0)
      .select($"vec_id".as("id")), Seq("id"), "left_semi")
      .as[GraphNode].localCheckpoint(true)
    val appended = GraphAnn.appendGraphCells(even.toDF(),
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding",
      ivf.centroids, m = M, efConstruction = 48).localCheckpoint(true)
    val gs = appended.as[GraphNode].collect()
    assert(gs.length == emb.count().toInt, "node conservation")
    // every appended node landed in the cell the index's rule assigns
    val vecOf = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    gs.filter(_.id % 2 == 1).foreach { g =>
      val cell = GraphAnn.routeCells(ivf.centroids, vecOf(g.id), 1).head
      assert(g.part == cell, s"appended ${g.id} in part ${g.part}, rule says $cell")
    }
    // fresh slices sit past the cell's previous max; old nodes untouched
    val beforeSegs = even.collect().groupBy(_.part)
      .map { case (p, ns) => p -> ns.map(_.seg).max }
    gs.filter(_.id % 2 == 1).foreach(g =>
      assert(g.seg > beforeSegs.getOrElse(g.part, -1)))
    def flat(xs: Array[GraphNode]) = xs
      .map(g => (g.id, g.part, g.seg, g.neighbors.map(_.toSeq).toSeq))
      .sortBy(_._1).toSeq
    assert(flat(gs.filter(_.id % 2 == 0)) == flat(even.collect()))
    // exhaustive routed search over append + withinPart merge = brute force
    val merged = GraphAnn.mergeSegments(appended, targetNodesPerSegment = 1000,
      m = M, efConstruction = 48, withinPart = true)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRouted(merged, ivf.centroids, probes,
      "probe_id", "probe_vec", nprobe = 8, k = 5, ef = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("purge composes with withinPart merge on a routed index") {
    val tombs = emb.filter($"vec_id" % 6 === 2).select($"vec_id".as("id"))
    val purged = GraphAnn.purgeTombstones(cellNodes, tombs, m = M,
      efConstruction = 48)
    val merged = GraphAnn.mergeSegments(purged, targetNodesPerSegment = 1000,
      m = M, efConstruction = 48, withinPart = true)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRouted(merged, ivf.centroids,
      probes, "probe_id", "probe_vec", nprobe = 8, k = 5, ef = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
      emb.filter($"vec_id" % 6 =!= 2), "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("knnToNswSegments: closed capped single-layer segments; exhaustive routed search exact") {
    val knn = GraphAnn.nnDescent(emb, "vec_id", "embedding", k = 10, iters = 3)
    val nsw = GraphAnn.knnToNswSegments(ivf.assignments, knn, m = M)
      .localCheckpoint(true)
    val gs = nsw.as[GraphNode].collect()
    assert(gs.length == emb.count().toInt, "node conservation")
    val cellOf = ivf.assignments.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    gs.foreach { g =>
      assert(g.level == 0 && g.neighbors.length == 1, "single layer")
      assert(g.part == cellOf(g.id), "part is the cell")
      assert(g.neighbors(0).length <= 2 * M, "layer-0 degree cap")
      g.neighbors(0).foreach(nb => assert(cellOf(nb) == g.part,
        s"edge ${g.id}->$nb leaves cell ${g.part}"))
      assert(!g.neighbors(0).contains(g.id), "no self-loop")
    }
    // exhaustive routed beams over the converted layout = brute force
    // (reachability roots make full-ef beams exhaustive whatever the
    // k-NN edge quality)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRouted(nsw, ivf.centroids, probes,
      "probe_id", "probe_vec", nprobe = 8, k = 5, ef = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
    // serving-width recall floor on the same layout
    val serve = GraphAnn.searchGraphRouted(nsw, ivf.centroids, probes,
      "probe_id", "probe_vec", nprobe = 8, k = 5, ef = 32)
      .select($"probe_id", $"id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = exact.count { case (pid, id, _) => serve.contains((pid, id)) }
    assert(hits >= 12, s"serving-width recall fell to $hits/15")
  }

  test("PQ filtered keystone: full fan-out + exhaustive rerank = filtered brute force") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id".as("id"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRoutedPqFiltered(pqNodes, ivfPq,
      emb, "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
      nprobe = 8, k = 5, ef = n, rerankFactor = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb.filter($"vec_id" % 3 === 0), "vec_id", "embedding",
      k = 5))
    assert(got.sameElements(exact))
    // containment is structural: the rerank only ever sees allowed ids
    val some = GraphAnn.searchGraphRoutedPqFiltered(pqNodes, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
      nprobe = 8, k = 5, ef = 32).collect()
    assert(some.forall(_.getLong(1) % 3 == 0))
  }

  test("PQ tombstone mask and purge: survivors-only results, codes preserved, idempotent") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val tombs = emb.filter($"vec_id" % 4 === 1).select($"vec_id".as("id"))
    val n = emb.count().toInt
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb.filter($"vec_id" % 4 =!= 1), "vec_id", "embedding",
      k = 5))
    // serving-time mask, exhaustive widths = brute force over survivors
    val masked = topIds(GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe = 8,
      k = 5, ef = n, rerankFactor = n, tombstones = Some(tombs)))
    assert(masked.sameElements(exact))
    // physical purge: rebuilt segments keep their cells and CODES
    val purged = GraphAnn.purgeTombstonesPq(pqNodes, tombs, emb, "vec_id",
      "embedding", m = M, efConstruction = 48).localCheckpoint(true)
    val tombSet = tombs.collect().map(_.getLong(0)).toSet
    val before = pqNodes.as[GraphAnn.PqGraphNode].collect()
      .map(g => g.id -> (g.part, g.codes.toSeq)).toMap
    val gs = purged.as[GraphAnn.PqGraphNode].collect()
    assert(gs.length == before.size - tombSet.size, "node conservation")
    gs.foreach { g =>
      assert(!tombSet.contains(g.id))
      assert((g.part, g.codes.toSeq) == before(g.id),
        s"node ${g.id} changed cell or codes across the purge")
      g.neighbors.foreach(_.foreach(nb => assert(!tombSet.contains(nb))))
    }
    // post-purge exhaustive search = brute force over survivors
    val after = topIds(GraphAnn.searchGraphRoutedPq(purged, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe = 8,
      k = 5, ef = n, rerankFactor = n))
    assert(after.sameElements(exact))
    // idempotent
    assert(GraphAnn.purgeTombstonesPq(purged, tombs, emb, "vec_id",
      "embedding", m = M, efConstruction = 48) eq purged)
  }

  test("PQ persisted cell layout serves row-identical to in-memory routed PQ") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqcells").toString
    GraphAnn.writeGraphCells(pqNodes, dir)
    val disk = GraphAnn.restoreSegmentLocality(spark.read.parquet(dir))
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def run(nodes: org.apache.spark.sql.DataFrame) =
      GraphAnn.searchGraphRoutedPq(nodes, ivfPq, emb, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", nprobe = 4, k = 5, ef = 48)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    assert(run(disk) == run(pqNodes),
      "the persisted PQ layout must serve the same rows as the in-memory one")
  }

  test("PQ published serving: version-pinned, pruned scan, filtered leg row-identical") {
    val root = java.nio.file.Files.createTempDirectory("graft-pqroot").toString
    GraphAnn.publishGraphCells(pqNodes, root)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val mem = flat(GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 4, k = 5, ef = 48))
    val pub = flat(GraphAnn.searchGraphRoutedPqPublished(spark, root, ivfPq,
      emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 4, k = 5, ef = 48))
    assert(pub == mem, "published PQ serving must be row-identical to in-memory")
    // filtered leg through the same published files
    val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
    val fmem = flat(GraphAnn.searchGraphRoutedPqFiltered(pqNodes, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
      nprobe = 4, k = 5, ef = 96, rerankFactor = 8))
    val fpub = flat(GraphAnn.searchGraphRoutedPqPublished(spark, root, ivfPq,
      emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 4, k = 5, ef = 96, rerankFactor = 8, allowed = Some(allowed)))
    assert(fpub == fmem,
      "published filtered PQ serving must be row-identical to in-memory filtered")
    // the version-pinned pruned read lands `part IN (…)` in PartitionFilters
    val vdir = s"$root/${graft.pipeline.VersionedIndex.currentVersion(root).get}"
    val probed = probes.select($"probe_vec").as[Array[Float]].collect()
      .flatMap(v => Similarity.probedCells(ivfPq, v, 4)).distinct.toSeq
    val pruned = spark.read.parquet(vdir).filter($"part".isin(probed: _*))
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      "part IN (...) must land in PartitionFilters:\n" + p.take(1500))
    val rm = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try rm.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally rm.close()
  }

  test("float filtered+masked persisted serving is row-identical to the in-memory filtered path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fltcells").toString
    GraphAnn.writeGraphCells(cellNodes, dir)
    val probes = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
    val tombs = emb.filter($"vec_id" % 5 === 2).select($"vec_id".as("id"))
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val mem = flat(GraphAnn.searchGraphRoutedFiltered(cellNodes,
      ivf.centroids, probes, "probe_id", "probe_vec", allowed,
      nprobe = 3, k = 6, ef = 96, tombstones = Some(tombs)))
    val disk = flat(GraphAnn.searchGraphRoutedPersisted(spark, dir,
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 3, k = 6,
      ef = 96, tombstones = Some(tombs), allowed = Some(allowed)))
    assert(disk == mem,
      "persisted filtered+masked serving must equal the in-memory filtered path")
    val rm = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try rm.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally rm.close()
  }

  test("appendGraphCellsPq: fresh slices past each cell's max, oversized batches slice, keystone exact") {
    // a REAL even-subset build (pruning pqNodes would leave dangling
    // odd adjacency ids and trip the segment-locality fail-fast)
    val even = GraphAnn.buildGraphPerCellPq(spark,
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", ivfPq,
        m = M, efConstruction = 48)
      .as[GraphAnn.PqGraphNode].localCheckpoint(true)
    // maxSegmentSize forces the arrival batch to hash-slice per cell,
    // like the float twin's spec — the one buildCellSegments body
    val appended = GraphAnn.appendGraphCellsPq(even.toDF(),
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", ivfPq,
      m = M, efConstruction = 48, maxSegmentSize = 20).localCheckpoint(true)
    val gs = appended.as[GraphAnn.PqGraphNode].collect()
    assert(gs.length == emb.count().toInt, "node conservation")
    // fresh slices sit past the cell's previous max; old nodes untouched
    val beforeSegs = even.collect().groupBy(_.part)
      .map { case (p, ns) => p -> ns.map(_.seg).max }
    gs.filter(_.id % 2 == 1).foreach(g =>
      assert(g.seg > beforeSegs.getOrElse(g.part, -1),
        s"appended ${g.id} landed in a pre-existing slice"))
    // the APPENDED slices' adjacency stays closed over (part, seg) even
    // when the batch hash-slices (the existing fixture nodes reference
    // pruned odd ids — a fixture artifact, not an operator property)
    val segOf = gs.map(g => g.id -> (g.part, g.seg)).toMap
    gs.filter(_.id % 2 == 1).foreach(g => g.neighbors.foreach(_.foreach(nb =>
      assert(segOf(nb) == ((g.part, g.seg)), "cross-slice edge"))))
    def flat(xs: Array[GraphAnn.PqGraphNode]) = xs
      .map(g => (g.id, g.part, g.seg, g.codes.toSeq,
        g.neighbors.map(_.toSeq).toSeq))
      .sortBy(_._1).toSeq
    assert(flat(gs.filter(_.id % 2 == 0)) == flat(even.collect()),
      "existing segments must pass through byte-identical")
    // keystone: full fan-out + exhaustive rerank over the appended,
    // sliced layout recovers exact top-k
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val n = emb.count().toInt
    val got = topIds(GraphAnn.searchGraphRoutedPq(appended, ivfPq, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 8, k = 5, ef = n, rerankFactor = n))
    val exact = topIds(Similarity.topKPerProbe(probes, "probe_id",
      "probe_vec", emb, "vec_id", "embedding", k = 5))
    assert(got.sameElements(exact))
  }

  test("appendGraphCellsPq: empty existing and empty batch are both safe; arrivals match the coded table") {
    // onto-empty: segBase is empty, slices start at 0 — the r12
    // appendSegments-onto-empty NPE class, guarded on the PQ tier too
    val some = emb.filter($"vec_id" < 20)
    val fromEmpty = GraphAnn.appendGraphCellsPq(pqNodes.filter(lit(false)),
      some, "vec_id", "embedding", ivfPq, m = M, efConstruction = 48)
    assert(fromEmpty.count() == some.count())
    // every arrival's (cell, codes) must equal the index's own coded row —
    // append-time encode is byte-consistent with build-time encode
    val bad = fromEmpty
      .join(ivfPq.coded.select($"id", $"cell", $"pq_codes"), Seq("id"))
      .filter($"part" =!= $"cell" || $"codes" =!= $"pq_codes")
    assert(bad.count() == 0, "appended (cell, codes) diverged from the coded table")
    // empty batch: index unchanged, no NPE
    val unchanged = GraphAnn.appendGraphCellsPq(pqNodes,
      emb.filter(lit(false)), "vec_id", "embedding", ivfPq,
      m = M, efConstruction = 48)
    assert(unchanged.count() == pqNodes.count())
  }

  test("clump guard: no-op on a uniform corpus, exact min-id top-k on a clumped one") {
    val cloneVec = emb.filter($"vec_id" === 42)
      .select($"embedding").head().getSeq[Float](0).toArray
    val probes = Seq((42L, cloneVec)).toDF("probe_id", "probe_vec")
    // uniform corpus: guard on/off must be row-identical (bound ≤ k·rf)
    val plain = GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 4, k = 5, ef = 48)
    val plainOff = GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 4, k = 5, ef = 48,
      rerankFactor = 4, clumpGuard = false)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(_._3).toSeq
    assert(rows(plain) == rows(plainOff),
      "guard must be a no-op when no clump exceeds the survivor pool")
    // clumped corpus: 60 exact replicas of vec 42 under fresh ids — the
    // guarded search must return the brute-force top-k exactly (ties
    // break by id asc on both sides: 42 first, then the lowest clone ids)
    val clones = spark.range(60).select(($"id" + 100000L).as("vec_id"),
      typedLit(cloneVec).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").unionByName(clones)
      .localCheckpoint(true)
    val index = Similarity.buildIvfPq(spark, corpus, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, corpus, "vec_id",
      "embedding", index, m = M, efConstruction = 48).localCheckpoint(true)
    val k = 10
    val guarded = GraphAnn.searchGraphRoutedPq(nodes, index, corpus, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 3, k = k, ef = 48)
    val exactIds = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        corpus, "vec_id", "embedding", k)
      .orderBy($"rank").collect().map(_.getLong(1)).toSeq
    assert(exactIds.head == 42L && exactIds.tail.forall(_ >= 100000L),
      s"fixture self-check: the exact top-k should be the clump, got $exactIds")
    val gotIds = guarded.orderBy($"rank").collect().map(_.getLong(1)).toSeq
    assert(gotIds == exactIds,
      s"guarded search must serve the exact top-k through the clump: $gotIds vs $exactIds")
  }

  test("publishGraphCells: readers never observe a half-written rebuild") {
    import graft.pipeline.VersionedIndex
    val root = java.nio.file.Files.createTempDirectory("graft-graphpub").toString
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(t => (t._1, t._3)).toSeq
    // v000: the full per-cell graph
    assert(GraphAnn.publishGraphCells(cellNodes, root) == "v000")
    val r0 = flat(GraphAnn.searchGraphRoutedPublished(spark, root,
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 8, k = 5, ef = 64))
    assert(r0.nonEmpty)
    // a reader pinned to v000 BEFORE the rebuild lands...
    val pinned = GraphAnn.searchGraphRoutedPersisted(spark, s"$root/v000",
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 8, k = 5, ef = 64)
    // ...while a rebuild (a purge of every odd id) publishes v001
    val purged = GraphAnn.purgeTombstones(cellNodes,
      emb.filter($"vec_id" % 2 === 1).select($"vec_id".as("id")),
      m = M, efConstruction = 48)
    assert(GraphAnn.publishGraphCells(purged, root) == "v001")
    assert(VersionedIndex.currentVersion(root).contains("v001"))
    // the pinned reader still serves v000's answer (retention keeps it)
    assert(flat(pinned) == r0, "pinned readers drain on their own version")
    // a fresh open serves the published rebuild: odd ids are gone
    val r1 = flat(GraphAnn.searchGraphRoutedPublished(spark, root,
      ivf.centroids, probes, "probe_id", "probe_vec", nprobe = 8, k = 5, ef = 64))
    assert(r1.forall(_._2 % 2 == 0), s"v001 must not serve purged ids: $r1")
    // a crashed half-materialization never moves CURRENT: write a partial
    // version directory WITHOUT the pointer flip
    GraphAnn.writeGraphCells(cellNodes.filter($"part" === 0), s"$root/v002")
    assert(VersionedIndex.currentVersion(root).contains("v001"),
      "an unpublished directory must not affect the pointer")
    assert(flat(GraphAnn.searchGraphRoutedPublished(spark, root,
      ivf.centroids, probes, "probe_id", "probe_vec",
      nprobe = 8, k = 5, ef = 64)) == r1,
      "reads keep serving the published version past a writer crash")
    // the next successful publish claims v002, overwriting the debris
    assert(GraphAnn.publishGraphCells(cellNodes, root) == "v002")
    assert(flat(GraphAnn.searchGraphRoutedPublished(spark, root,
      ivf.centroids, probes, "probe_id", "probe_vec",
      nprobe = 8, k = 5, ef = 64)) == r0,
      "v002 serves the full graph again")
  }

  test("deleting every node yields empty searches and an empty purge") {
    val all = emb.select($"vec_id".as("id"))
    assert(GraphAnn.searchGraphBatch(nodes,
      emb.filter($"vec_id" < 2).select($"vec_id".as("probe_id"),
        $"embedding".as("probe_vec")),
      "probe_id", "probe_vec", k = 5, ef = 64,
      tombstones = Some(all)).count() == 0L)
    assert(GraphAnn.purgeTombstones(nodes, all, m = M,
      efConstruction = 48).count() == 0L)
  }

  test("routed search refuses a null probe vector or id, naming the column") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val nullVec = probes.withColumn("probe_vec",
      when($"probe_id" === 1L, lit(null)).otherwise($"probe_vec"))
    val nullId = probes.withColumn("probe_id",
      when($"probe_id" === 1L, lit(null).cast("long")).otherwise($"probe_id"))
    def refusal(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    val v = refusal(GraphAnn.searchGraphRouted(cellNodes, ivf.centroids,
      nullVec, "probe_id", "probe_vec", nprobe = 3, k = 5, ef = 32))
    assert(v.contains("probe_vec") && v.contains("null"), v)
    val i = refusal(GraphAnn.searchGraphRouted(cellNodes, ivf.centroids,
      nullId, "probe_id", "probe_vec", nprobe = 3, k = 5, ef = 32))
    assert(i.contains("probe_id") && i.contains("null"), i)
    // the PQ tier routes through the same collect
    val pq = refusal(GraphAnn.searchGraphRoutedPq(pqNodes, ivfPq, emb,
      "vec_id", "embedding", nullVec, "probe_id", "probe_vec", nprobe = 3,
      k = 5, ef = 32))
    assert(pq.contains("probe_vec"), pq)
  }

  // ── the probe collect ─────────────────────────────────────────────────

  test("probe collect: a null id, an id that does not cast to long and a null vector are refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-probes").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def refusal(p: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException](GraphAnn.searchGraphRoutedColdStart(
        spark, root, p, "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32))
        .getMessage
    val idRefusal = "routed search: probe id column `probe_id` holds a null " +
      "(or a value that does not cast to long)"
    assert(refusal(probes.withColumn("probe_id", when($"probe_id" === 1L,
      lit(null).cast("long")).otherwise($"probe_id"))) == idRefusal)
    // an id that does not cast: ANSI casts refuse it with Spark's own
    // IllegalArgumentException; a non-ANSI cast makes it a null
    val malformed = probes.withColumn("probe_id", when($"probe_id" === 1L,
      lit("p1")).otherwise($"probe_id".cast("string")))
    val ansi = refusal(malformed)
    assert(ansi.contains("CAST_INVALID_INPUT") && ansi.contains("'p1'"), ansi)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(refusal(malformed) == idRefusal)
    finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(refusal(probes.withColumn("probe_vec", when($"probe_id" === 1L,
      lit(null)).otherwise($"probe_vec"))) ==
      "routed search: probe vector column `probe_vec` holds a null")
  }

  test("probe collect: probes that need a job serve rows identical to the in-memory search") {
    val root = java.nio.file.Files.createTempDirectory("graft-probe-job").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    val (_, sites) = withJobSites(batchProbes.collect())
    assert(sites.nonEmpty, "the fixture's probes must come from a job")
    assert(batchProbes.count() > 1)
    assert(rows(GraphAnn.searchGraphRoutedColdStart(spark, root, batchProbes,
      "probe_id", "probe_vec", nprobe = 3, k = 6, ef = 48)) ==
      rows(GraphAnn.searchGraphRouted(cellNodes, ivf.centroids, batchProbes,
        "probe_id", "probe_vec", nprobe = 3, k = 6, ef = 48)))
  }

  // ── cold-start routing-head memo ──────────────────────────────────────

  /** Run `body` and return it with the call sites (stage details) of the
    * Spark jobs it launched from this thread. */
  private def withJobSites[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.sites") == tag)
          sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.sites", tag)
    try {
      val out = body
      graft.ListenerDrain.drain(spark)
      (out, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.test.sites", null)
      sc.removeSparkListener(listener)
    }
  }
  private def headReads(sites: Seq[String]) = sites.filter(s =>
    Seq("readIvfHead", "readCentroids", "readDriftStats").exists(s.contains))

  private lazy val memoProbes = emb.filter($"vec_id" < 4)
    .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    .sortBy(t => (t._1, t._4)).toSeq
  private def coldStart(root: String) = rows(GraphAnn.searchGraphRoutedColdStart(
    spark, root, memoProbes, "probe_id", "probe_vec", nprobe = 2, k = 5,
    ef = 32))
  private def persisted(dir: String,
      centroids: Array[(Int, Array[Float])]) = rows(
    GraphAnn.searchGraphRoutedPersisted(spark, dir, centroids, memoProbes,
      "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32))
  /** A second float serving state with retrained (different) centroids. */
  private lazy val ivf2 = Similarity.buildIvf(spark, emb, "vec_id",
    "embedding", nCells = 5, iters = 3)
  private lazy val cellNodes2 = GraphAnn.buildGraphPerCell(spark,
    ivf2.assignments, m = M, efConstruction = 48).localCheckpoint(true)

  /** A copy of `root` at a fresh path: a root this JVM did not publish. */
  private def copyRoot(root: String): String = {
    val from = java.nio.file.Paths.get(root)
    val to = java.nio.file.Files.createTempDirectory("graft-root-copy")
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
    to.toString
  }

  test("cold start: a repeat search on one version reads no routing head") {
    val published = java.nio.file.Files.createTempDirectory("graft-head1").toString
    val ref = Similarity.driftStatsAssigned(spark, ivf.assignments, "cell",
      "vec", ivf.centroids)
    val v = GraphAnn.publishServing(cellNodes, ivf.centroids, published, Some(ref))
    // a root this JVM did not publish holds no seeded head
    val root = copyRoot(published)
    val (first, missSites) = withJobSites(coldStart(root))
    assert(headReads(missSites).nonEmpty,
      "the first search on a version must read its centroids")
    assert(!missSites.exists(_.contains("readDriftStats")),
      "routing never needs the drift reference")
    val (again, hitSites) = withJobSites(coldStart(root))
    assert(hitSites.nonEmpty, "the search itself still runs jobs")
    assert(headReads(hitSites).isEmpty,
      s"a repeat on v$v must not re-read the head:\n${headReads(hitSites)}")
    assert(hitSites.length == missSites.length - 1)
    assert(again == first)
    assert(first == persisted(s"$root/$v/cells", ivf.centroids))
  }

  test("cold start: the first search after a publish routes with the new centroids") {
    val root = java.nio.file.Files.createTempDirectory("graft-head2").toString
    val v0 = GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    assert(coldStart(root) == persisted(s"$root/$v0/cells", ivf.centroids))
    val v1 = GraphAnn.publishServing(cellNodes2, ivf2.centroids, root)
    val fresh = persisted(s"$root/$v1/cells", ivf2.centroids)
    assert(fresh != persisted(s"$root/$v1/cells", ivf.centroids),
      "the fixture must tell the two heads apart")
    assert(coldStart(root) == fresh)
  }

  test("cold start: a root deleted and republished at v000 serves no stale head") {
    val root = java.nio.file.Files.createTempDirectory("graft-head3").toString
    assert(GraphAnn.publishServing(cellNodes, ivf.centroids, root) == "v000")
    coldStart(root)
    graft.core.Fs.delete(spark, root)
    assert(GraphAnn.publishServing(cellNodes2, ivf2.centroids, root) == "v000")
    assert(coldStart(root) == persisted(s"$root/v000/cells", ivf2.centroids))
  }

  test("cold start: the routing-head memo holds one entry per root") {
    val roots = Seq("graft-head4a", "graft-head4b")
      .map(java.nio.file.Files.createTempDirectory(_).toString)
    val before = GraphAnn.routingHeadRoots
    for (i <- 0 until 3; root <- roots) {
      val (n, c) = if (i % 2 == 0) (cellNodes, ivf.centroids)
        else (cellNodes2, ivf2.centroids)
      val v = GraphAnn.publishServing(n, c, root)
      assert(coldStart(root) == persisted(s"$root/$v/cells", c))
    }
    assert(GraphAnn.routingHeadRoots == before + roots.length)
  }

  test("cold start: the memo builds one cells reader per version, session and settings") {
    val root = java.nio.file.Files.createTempDirectory("graft-reader").toString
    val v0 = GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    def builds[T](body: => T): Long = {
      val before = GraphAnn.cellsReaderBuilds
      body
      GraphAnn.cellsReaderBuilds - before
    }
    val expected = persisted(s"$root/$v0/cells", ivf.centroids)
    assert(builds { assert(coldStart(root) == expected)
      assert(coldStart(root) == expected) } == 1,
      "two searches on one version build one reader")
    val v1 = GraphAnn.publishServing(cellNodes2, ivf2.centroids, root)
    assert(builds(coldStart(root)) == 0, "a publish keeps the reader")
    assert(builds(coldStart(root)) == 0)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try assert(builds { assert(coldStart(root) ==
        persisted(s"$root/$v1/cells", ivf2.centroids)) } == 1,
        "a parquet read setting builds a new reader")
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(builds(coldStart(root)) == 1, "unsetting it builds another")
    val other = spark.newSession()
    assert(builds(GraphAnn.searchGraphRoutedColdStart(other, root, memoProbes,
      "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32).collect()) == 1,
      "a new session builds a new reader")
  }

  // ---- per-segment rebuild routing (explicit-id exchange, streamed groups)

  /** A seeded corpus: 300 vectors of 16 dims, ids 0..299. */
  private lazy val seeded = {
    val rnd = new scala.util.Random(11)
    (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
  }
  private lazy val seededDf = seeded.toDF("id", "vec")
  /** Six fixed cells: id mod 6 (no training, so no float-sum order in play). */
  private lazy val seededCells = seededDf.withColumn("cell", ($"id" % 6).cast("int"))
  private lazy val seededCentroids: Array[(Int, Array[Float])] =
    seeded.take(6).zipWithIndex.map { case ((_, v), c) => c -> v }.toArray
  /** Fifty vectors per cell, at most 20 per segment: three slices per cell. */
  private lazy val slicedNodes = GraphAnn.buildGraphPerCell(spark, seededCells,
    m = M, efConstruction = 48, maxSegmentSize = 20).localCheckpoint(true)
  private lazy val seededPq = {
    val rnd = new scala.util.Random(5)
    val book = Similarity.PqCodebook(4, 4,
      Array.fill(4, 8)(Array.fill(4)(rnd.nextGaussian().toFloat * 0.3f)))
    val proto = Similarity.IvfPqIndex(seededCentroids.map { case (c, v) =>
      c -> Similarity.l2unit(v.toSeq) }, book, null)
    proto.copy(coded = Similarity.encodeIntoIvfPq(spark, seededDf, "id", "vec", proto)
      .localCheckpoint(true))
  }

  /** SHA-256 over a frame's rows (columns by name, floats by bit pattern), sorted. */
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    def render(x: Any): String = x match {
      case b: Array[Byte] => b.map(v => f"$v%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case f: Float => Integer.toHexString(java.lang.Float.floatToIntBits(f))
      case other => String.valueOf(other)
    }
    val rows = df.collect().map(r => r.schema.fieldNames.sorted
      .map(n => s"$n=${render(r.get(r.fieldIndex(n)))}").mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map(v => f"$v%02x").mkString
  }

  /** The first `k` (part, seg) segments of `nodes`: their smallest id and size. */
  private def firstSegments(nodes: org.apache.spark.sql.DataFrame, k: Int) =
    nodes.select($"part", $"seg", $"id").as[(Int, Int, Long)].collect()
      .groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).take(k)
      .map { case (_, ns) => (ns.map(_._3).min, ns.length) }

  /** One tombstone in each of the first `k` segments of `nodes`. */
  private def tombsTouching(nodes: org.apache.spark.sql.DataFrame, k: Int) =
    firstSegments(nodes, k).map(_._1).toDF("id")

  test("per-segment builds, appends and purges are byte-identical to the group-by shape") {
    // digests recorded from the groupByKey + flatMapGroups shape these
    // builds had before they were routed by explicit partition ids
    val cellNodes = GraphAnn.buildGraphPerCell(spark, seededCells, m = M, efConstruction = 48)
    val appended = GraphAnn.appendGraphCells(slicedNodes.filter($"id" < 200),
      seededDf.filter($"id" >= 200), "id", "vec", seededCentroids, m = M,
      efConstruction = 48, maxSegmentSize = 12)
    val purged = GraphAnn.purgeTombstones(slicedNodes, tombsTouching(slicedNodes, 7),
      m = M, efConstruction = 48)
    val none = GraphAnn.purgeTombstones(slicedNodes, Seq(-1L).toDF("id"), m = M,
      efConstruction = 48)
    assert(none eq slicedNodes, "an empty touched set passes the input through")
    val pqNodes = GraphAnn.buildGraphPerCellPq(spark, seededDf, "id", "vec", seededPq,
      m = M, efConstruction = 48, maxSegmentSize = 20).localCheckpoint(true)
    val pqPurged = GraphAnn.purgeTombstonesPq(pqNodes, tombsTouching(pqNodes, 5),
      seededDf, "id", "vec", m = M, efConstruction = 48)
    val pqAppended = GraphAnn.appendGraphCellsPq(pqNodes.filter($"id" < 240),
      seededDf.filter($"id" >= 240), "id", "vec", seededPq, m = M, efConstruction = 48,
      maxSegmentSize = 8)
    val got = Seq("build" -> cellNodes, "sliced" -> slicedNodes, "append" -> appended,
      "purge" -> purged, "pq build" -> pqNodes, "pq purge" -> pqPurged,
      "pq append" -> pqAppended).map { case (n, df) => n -> digest(df) }
    assert(got == Seq(
      "build" ->
        "2a3a4f5f4f215cfe26a3d8597ea3413f6cd63e73a8710a1095b3bd465c86b280",
      "sliced" ->
        "c5210753785e4a4104bd8f79deaedbe7d37863788d9f269741fcd97adf62db9c",
      "append" ->
        "0957a35bd3c4a29c438355fc9f88447708bdbbd2dd9e6a24d3d70a28e76e4616",
      "purge" ->
        "c685a9c00c7d509ceda05759b324db69efea96e539249ee4c2e36f2eb714bca9",
      "pq build" ->
        "de36a4b51b800575abd3be8461d48c1eda860e8b2c8d4d3d67dfb93cc9935e15",
      "pq purge" ->
        "9e965219b8e59563fa37712a7e8ca2f951242cbbb4386ffa2f4aecf152c1b4c2",
      "pq append" ->
        "8c0eb5ac55e49e356de3a12c3abd1d3e04ac634138b660ecd7a7f54bfd19f1f5"))
  }

  /** The seeded PQ graph, at most 20 nodes per segment. */
  private lazy val slicedPqNodes = GraphAnn.buildGraphPerCellPq(spark, seededDf, "id", "vec",
    seededPq, m = M, efConstruction = 48, maxSegmentSize = 20).localCheckpoint(true)

  test("a purge passes untouched segments through undecoded, on both tiers") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, TypedFilter, Union}
    val purged = Seq(
      "float" -> GraphAnn.purgeTombstones(slicedNodes, tombsTouching(slicedNodes, 3),
        m = M, efConstruction = 48),
      "pq" -> GraphAnn.purgeTombstonesPq(slicedPqNodes, tombsTouching(slicedPqNodes, 3),
        seededDf, "id", "vec", m = M, efConstruction = 48))
    purged.foreach { case (tier, df) =>
      val passThrough = df.queryExecution.optimizedPlan
        .collectFirst { case u: Union => u.children.head }
      assert(passThrough.isDefined, s"$tier: no pass-through branch")
      val decodes = passThrough.get.collect {
        case d: DeserializeToObject => d
        case f: TypedFilter => f
      }
      assert(decodes.isEmpty, s"$tier: the pass-through branch decodes nodes: $decodes")
    }
    val none = Seq(-1L).toDF("id")
    assert(GraphAnn.purgeTombstones(slicedNodes, none, m = M, efConstruction = 48) eq slicedNodes)
    assert(GraphAnn.purgeTombstonesPq(slicedPqNodes, none, seededDf, "id", "vec", m = M,
      efConstruction = 48) eq slicedPqNodes)
  }

  test("a PQ purge refuses a corpus that is missing or duplicates a survivor") {
    // the first segment's ids: tombstone its smallest, so the next survives
    val seg = slicedPqNodes.select($"part", $"seg", $"id").as[(Int, Int, Long)].collect()
      .groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).head._2.map(_._3).sorted
    val survivor = seg(1)
    Seq("missing" -> seededDf.filter($"id" =!= survivor),
      "duplicated" -> seededDf.unionByName(seededDf.filter($"id" === survivor))).foreach {
      case (how, corpus) =>
        val e = intercept[IllegalArgumentException](GraphAnn.purgeTombstonesPq(slicedPqNodes,
          Seq(seg(0)).toDF("id"), corpus, "id", "vec", m = M, efConstruction = 48))
        assert(e.getMessage.contains("missing or duplicated"), s"$how: ${e.getMessage}")
    }
  }

  /** Tasks that read shuffle rows while `body` materializes. */
  private def shuffleReadingTasks(body: => Unit): Seq[Long] = {
    import org.apache.spark.scheduler._
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          records.add(e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; graft.ListenerDrain.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    records.asScala.toSeq
  }

  test("a purge touching k segments rebuilds them in min(k, cores) tasks") {
    val cores = spark.sparkContext.defaultParallelism
    Seq(1, 3, 7, 18).foreach { k =>
      val purged = GraphAnn.purgeTombstones(slicedNodes, tombsTouching(slicedNodes, k),
        m = M, efConstruction = 48)
      val tasks = shuffleReadingTasks(purged.localCheckpoint(true))
      assert(tasks.size == math.min(k, cores),
        s"$k touched segments rebuilt in ${tasks.size} tasks (rows read: $tasks)")
      assert(tasks.sum == firstSegments(slicedNodes, k).map(_._2 - 1).sum)
    }
  }

  test("a published cells directory holds one data file per cell") {
    val root = java.nio.file.Files.createTempDirectory("graft-cells-files").toString
    val v = GraphAnn.publishServing(slicedNodes.repartition(5), seededCentroids, root)
    val cells = new java.io.File(s"$root/$v/cells").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(cells.size == 6 && cells.values.forall(_ == 1), cells)
    assert(spark.read.schema(GraphAnn.cellsSchema).parquet(s"$root/$v/cells").count() == 300)
  }

  // ---- the planned persisted search: one job, one stage, no exchange

  /** Jobs this thread launches in `body`: (stage ids, description), and
    * the shuffle bytes (read + written) of their stages.
    */
  private def searchJobs[T](body: => T): (T, Seq[(Seq[Int], String)], Long) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Int], String)]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.jobs") == tag) {
          jobs.add((e.stageIds, e.properties.getProperty("spark.job.description")))
          e.stageIds.foreach(stages.add(_))
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) && e.stageInfo.taskMetrics != null) {
          val m = e.stageInfo.taskMetrics
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      val out = body
      graft.ListenerDrain.drain(spark)
      (out, jobs.asScala.toSeq, shuffle.get())
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
  }

  /** A fresh cells directory holding `cellNodes`. */
  private def cellsDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    GraphAnn.writeGraphCells(cellNodes, dir)
    dir
  }

  private lazy val batchProbes = emb.filter($"vec_id" % 7 === 3)
    .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))

  test("cold start: a search runs one job of one stage and shuffles nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-onejob").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    // a serving request's probes are a local relation: collecting them
    // runs no job
    val probes = memoProbes.as[(Long, Array[Float])].collect().toSeq
      .toDF("probe_id", "probe_vec")
    def search() = rows(GraphAnn.searchGraphRoutedColdStart(spark, root, probes,
      "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32))
    search() // the first search on a version also reads its routing head
    val (got, jobs, shuffled) = searchJobs(search())
    assert(got == coldStart(root))
    assert(jobs.size == 1, s"one job per search, got ${jobs.size}")
    assert(jobs.head._1.size == 1, s"one stage, got ${jobs.head._1}")
    assert(shuffled == 0L, s"no shuffle, got $shuffled bytes")
  }

  test("the search job's description names the root, version, probed cells and probes") {
    val root = java.nio.file.Files.createTempDirectory("graft-jobdesc").toString
    val v = GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    coldStart(root)
    val (_, jobs, _) = searchJobs(coldStart(root))
    val cells = memoProbes.select($"probe_vec").as[Array[Float]].collect()
      .flatMap(GraphAnn.routeCells(ivf.centroids, _, 2)).distinct.length
    val desc = jobs.map(_._2).mkString
    Seq(root, v, s"$cells probed cells", "4 probes").foreach(part =>
      assert(desc.contains(part), s"'$desc' must name $part"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "the description is cleared after the search")
  }

  test("a session without GraftExtensions refuses a persisted search, naming the setting") {
    import org.apache.spark.sql.SparkSession
    val dir = cellsDir("graft-bare")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val bare = try SparkSession.builder().getOrCreate()
      finally { SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark) }
    assert(bare ne spark)
    assert(!RoutedGraphSearchStrategy.installedIn(bare))
    assert(RoutedGraphSearchStrategy.installedIn(spark))
    val e = intercept[IllegalStateException](GraphAnn.searchGraphRoutedPersisted(
      bare, dir, ivf.centroids, memoProbes, "probe_id", "probe_vec", nprobe = 2,
      k = 5, ef = 32))
    assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"),
      e.getMessage)
  }

  test("planned persisted search is row-identical to the in-memory routed search") {
    val dir = cellsDir("graft-planned")
    def mem(nodes: org.apache.spark.sql.DataFrame,
        tombs: Option[org.apache.spark.sql.DataFrame] = None) =
      GraphAnn.searchGraphRouted(nodes, ivf.centroids, batchProbes, "probe_id",
        "probe_vec", nprobe = 3, k = 6, ef = 48, tombstones = tombs)
    def disk(tombs: Option[org.apache.spark.sql.DataFrame] = None) =
      GraphAnn.searchGraphRoutedPersisted(spark, dir, ivf.centroids, batchProbes,
        "probe_id", "probe_vec", nprobe = 3, k = 6, ef = 48, tombstones = tombs)
    assert(batchProbes.count() > 1)
    // a multi-probe batch, ranks included, and the same schema
    assert(disk().schema == mem(cellNodes).schema)
    assert(rows(disk()) == rows(mem(cellNodes)))
    // tombstones
    val tombs = Some(emb.filter($"vec_id" % 3 === 1).select($"vec_id".as("id")))
    assert(rows(disk(tombs)) == rows(mem(cellNodes, tombs)))
    // a split size under every cell file: each cell is still read whole
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    val small = 256L
    assert(files.forall(_.length() > small))
    spark.conf.set("spark.sql.files.maxPartitionBytes", small.toString)
    try {
      assert(spark.read.schema(GraphAnn.cellsSchema).parquet(dir)
        .rdd.getNumPartitions > files.length, "the plain scan splits the files")
      assert(rows(disk()) == rows(mem(cellNodes)))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // a composed plan runs the search through doExecute
    val nearCount = disk().filter($"rank" <= 3 && $"sim" > 0.1).count()
    assert(nearCount == mem(cellNodes).filter($"rank" <= 3 && $"sim" > 0.1).count())
    assert(nearCount > 0)
    // a probe routed to a cell with no part= directory
    val probe = batchProbes.select($"probe_vec").as[Array[Float]].head()
    val gone = GraphAnn.routeCells(ivf.centroids, probe, 3).head
    graft.core.Fs.delete(spark, s"$dir/part=$gone")
    assert(rows(disk()) == rows(mem(cellNodes.filter($"part" =!= gone))))
    graft.core.Fs.delete(spark, dir)
  }

  test("the planned search lists only the probed cells' files") {
    val dir = cellsDir("graft-listing")
    val df = GraphAnn.searchGraphRoutedPersisted(spark, dir, ivf.centroids,
      memoProbes, "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32)
    val listed = df.queryExecution.analyzed.collectFirst {
      case s: RoutedGraphSearch => s.spec.files
    }.getOrElse(fail("no RoutedGraphSearch node in the plan"))
    val probed = memoProbes.select($"probe_vec").as[Array[Float]].collect()
      .flatMap(GraphAnn.routeCells(ivf.centroids, _, 2)).toSet
    assert(probed.size < ivf.centroids.length, "the fixture must leave cells unprobed")
    val expected = probed.toSeq.flatMap(c =>
      new java.io.File(s"$dir/part=$c").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (c, f.getCanonicalPath)))
    assert(listed.map(f => (f.cell, new java.io.File(new java.net.URI(f.path))
      .getCanonicalPath)).toSet == expected.toSet)
    assert(df.queryExecution.executedPlan.isInstanceOf[RoutedGraphSearchExec],
      df.queryExecution.executedPlan.treeString)
    graft.core.Fs.delete(spark, dir)
  }

  // ---- the probe read without an action, and the head a publish hands over

  private val probeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("probe_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("probe_vec",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
  /** A `createDataFrame` probe batch: its analyzed plan is a LocalRelation. */
  private def localBatch(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType = probeSchema) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
  /** The same batch behind a projection: read by the collect path. */
  private def projected(df: org.apache.spark.sql.DataFrame) =
    df.select(df.columns.map(col).toSeq: _*)
  private def probeRead(df: org.apache.spark.sql.DataFrame) =
    scala.util.Try(GraphAnn.collectProbes(df, "probe_id", "probe_vec").toSeq
      .map { case (id, v) => (id, v.map(java.lang.Float.floatToRawIntBits).toSeq) })
      .toEither.left.map(e => (e.getClass, e.getMessage))

  test("probe collect: a null vector element is refused on the local and the collect path") {
    val root = java.nio.file.Files.createTempDirectory("graft-null-elem").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    val vec = memoProbes.select($"probe_vec").as[Array[Float]].head()
    val batch = localBatch(Seq(org.apache.spark.sql.Row(0L, vec.toSeq),
      org.apache.spark.sql.Row(1L, vec.toSeq.updated(2, null))))
    assert(GraphAnn.localProbes(batch, "probe_id", "probe_vec").isDefined)
    assert(GraphAnn.localProbes(projected(batch), "probe_id", "probe_vec").isEmpty)
    Seq(batch, projected(batch)).foreach { p =>
      val e = intercept[IllegalArgumentException](GraphAnn.searchGraphRoutedColdStart(
        spark, root, p, "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32))
      assert(e.getMessage ==
        "routed search: probe vector column `probe_vec` holds a null element")
    }
  }

  test("probe collect: a local batch reads as the collect path does, row for row") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val element = Gen.frequency(8 -> Gen.choose(-2f, 2f).map(f => f: Any),
      1 -> Gen.const(-0.0f), 1 -> Gen.const(null))
    val vector = Gen.frequency(8 -> Gen.choose(0, 4).flatMap(Gen.listOfN(_, element)),
      1 -> Gen.const(null))
    val gen = for {
      long <- Gen.oneOf(true, false)
      n <- Gen.choose(0, 6)
      // Long ids beyond the Int range; a few values, so ids repeat
      ids <- Gen.listOfN(n, Gen.frequency(8 -> Gen.choose(-2, 3).map(i =>
        if (long) (i * 3000000000L: Any) else (i: Any)), 1 -> Gen.const(null)))
      vecs <- Gen.listOfN(n, vector)
    } yield (long, ids.zip(vecs).map { case (i, v) => Row(i, v) })
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60),
      Prop.forAllNoShrink(gen) { case (long, rows) =>
        val batch = localBatch(rows, probeSchema.copy(fields = probeSchema.fields.updated(0,
          StructField("probe_id", if (long) LongType else IntegerType))))
        GraphAnn.localProbes(batch, "probe_id", "probe_vec").isDefined &&
          GraphAnn.localProbes(projected(batch), "probe_id", "probe_vec").isEmpty &&
          probeRead(batch) == probeRead(projected(batch))
      })
    assert(res.passed, res.status.toString)
  }

  test("probe collect: a local batch resolves names as the session does, else takes the collect path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def batch(id: DataType, vec: DataType, idValue: Any, extra: Seq[StructField] = Nil,
        vecValue: Seq[Any] = Seq(1f, 2f)) =
      localBatch(Seq(Row.fromSeq(Seq(idValue, vecValue) ++ extra.map(_ => 7L))),
        StructType(Seq(StructField("probe_id", id), StructField("probe_vec", vec)) ++ extra))
    def local(df: org.apache.spark.sql.DataFrame, probeId: String = "probe_id") =
      GraphAnn.localProbes(df, probeId, "probe_vec").isDefined
    def read(df: org.apache.spark.sql.DataFrame, probeId: String = "probe_id") =
      GraphAnn.collectProbes(df, probeId, "probe_vec").toSeq.map(p => (p._1, p._2.toSeq))
    val floats = ArrayType(FloatType)
    // case-insensitive by default, like the collect's own resolution
    val longs = batch(LongType, floats, 7L)
    assert(local(longs, "PROBE_ID") && read(longs, "PROBE_ID") == Seq((7L, Seq(1f, 2f))))
    val strings = batch(StringType, floats, "7")
    assert(!local(strings) && read(strings) == Seq((7L, Seq(1f, 2f))))
    assert(!local(batch(LongType, ArrayType(DoubleType), 7L, vecValue = Seq(1.0, 2.0))))
    val twice = batch(LongType, floats, 7L, Seq(StructField("PROBE_ID", LongType)))
    assert(!local(twice))
    assert(intercept[org.apache.spark.sql.AnalysisException](read(twice))
      .getMessage.contains("AMBIGUOUS"))
  }

  /** Run `body`; return it with the SQL executions and jobs it started
    * from this thread. */
  private def executionsAndJobs[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-test-${java.util.UUID.randomUUID()}"
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && Option(e.properties.getProperty("spark.job.tags"))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.jobTags.contains(tag) => executions.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      graft.ListenerDrain.drain(spark)
      (out, executions.get, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("cold start: a search over a local batch is one SQL execution and one job") {
    val root = java.nio.file.Files.createTempDirectory("graft-one-exec").toString
    val v = GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    val batch = localBatch(memoProbes.as[(Long, Array[Float])].collect().toSeq
      .map { case (i, x) => org.apache.spark.sql.Row(i, x.toSeq) })
    val (got, executions, jobs) = executionsAndJobs(rows(
      GraphAnn.searchGraphRoutedColdStart(spark, root, batch, "probe_id",
        "probe_vec", nprobe = 2, k = 5, ef = 32)))
    assert((executions, jobs) == (1, 1))
    assert(got == persisted(s"$root/$v/cells", ivf.centroids))
  }

  test("publish: the seeded head is bitwise the published centroids, under the search's stamp") {
    val root = java.nio.file.Files.createTempDirectory("graft-seeded").toString
    val v = GraphAnn.publishServing(cellNodes, ivf.centroids.reverse, root)
    val dir = s"$root/$v/artifacts/centroids"
    val (stamp, held) = GraphAnn.heldRoutingHead(root).getOrElse(fail("no seeded head"))
    def bits(cs: Array[(Int, Array[Float])]) =
      cs.toSeq.map { case (c, x) => (c, x.map(java.lang.Float.floatToRawIntBits).toSeq) }
    assert(bits(held) == bits(Similarity.readCentroids(spark, dir)))
    assert(stamp == v +: graft.core.Fs.listDataFileNames(spark, dir))
    assert(held.forall { case (_, x) => !ivf.centroids.exists(_._2 eq x) },
      "the head holds a copy of the caller's arrays")
  }

  test("cold start: the first search after a publish reads no head and builds no reader") {
    val root = java.nio.file.Files.createTempDirectory("graft-handoff").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    coldStart(root)
    val v1 = GraphAnn.publishServing(cellNodes2, ivf2.centroids, root)
    val before = GraphAnn.cellsReaderBuilds
    val (got, sites) = withJobSites(coldStart(root))
    assert(headReads(sites).isEmpty, headReads(sites))
    assert(GraphAnn.cellsReaderBuilds == before)
    assert(got == persisted(s"$root/$v1/cells", ivf2.centroids))
  }

  test("cold start: a root republished without publishServing is re-read") {
    val root = java.nio.file.Files.createTempDirectory("graft-foreign").toString
    GraphAnn.publishServing(cellNodes, ivf.centroids, root)
    coldStart(root)
    val v1 = graft.pipeline.VersionedIndex.publishInto(root) { dir =>
      GraphAnn.writeGraphCells(cellNodes2, s"$dir/cells")
      Similarity.writeIvfHead(spark, ivf2.centroids, s"$dir/artifacts")
    }
    val (got, sites) = withJobSites(coldStart(root))
    assert(headReads(sites).nonEmpty, "the new version's centroids must be read")
    assert(got == persisted(s"$root/$v1/cells", ivf2.centroids))
  }

  test("publish: every job of a labelled caller's publish carries its label") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    val label = s"maintenance tick ${java.util.UUID.randomUUID()}"
    val roots = Seq("graft-label-f", "graft-label-pq")
      .map(java.nio.file.Files.createTempDirectory(_).toString)
    cellNodes.count(); pqNodes.count()
    sc.addSparkListener(listener)
    try {
      graft.core.Jobs.labelled(sc, label) {
        GraphAnn.publishServing(cellNodes, ivf.centroids, roots(0))
        GraphAnn.publishPqServing(pqNodes, ivfPq, roots(1))
      }
      graft.ListenerDrain.drain(spark)
    } finally sc.removeSparkListener(listener)
    val seen = descriptions.asScala.toSeq
    assert(seen.nonEmpty && seen.forall(_ == label), seen.distinct)
    // every idle pool thread (and more) at once: none keeps the label
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.io
    val left = scala.concurrent.Await.result(scala.concurrent.Future.sequence(
      (1 to n).map(_ => scala.concurrent.Future {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        graft.core.Jobs.description(sc)
      })), scala.concurrent.duration.Duration(60, "s"))
    assert(left.forall(_ == null), left)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions._

/** One stored graph node: `vec` is the L2-NORMALIZED embedding (so layer
  * similarity is a plain dot product), `neighbors(l)` the layer-l
  * adjacency as GLOBAL ids. Adjacency never crosses a partition — each
  * partition is an independent small-world graph (the segment model).
  * `seg` sub-divides a `part` when an oversized cell was sliced for
  * build parallelism ([[GraphAnn.buildGraphPerCell]] `maxSegmentSize`);
  * adjacency is closed over (part, seg) and 0 everywhere otherwise.
  */
final case class GraphNode(part: Int, id: Long, vec: Array[Float],
    level: Int, neighbors: Array[Array[Long]], seg: Int = 0) extends SegmentNode

/** A stored graph node's structure, whatever payload it carries: what a
  * beam needs besides the payload ([[GraphAnn.searchSegment]]).
  */
private[operators] trait SegmentNode {
  def part: Int
  def id: Long
  def level: Int
  def neighbors: Array[Array[Long]]
  def seg: Int
}

/** Partitioned graph-ANN — an HNSW-style navigable-small-world tier
  * (Malkov & Yashunin 2016, arXiv:1603.09320), shaped for Spark the way
  * Lucene/Elasticsearch shape it for segments: ONE independent layered
  * graph per hash partition, built in a single `mapPartitions` pass
  * (embarrassingly parallel, no cross-partition edges), searched by
  * broadcasting the probe batch and beam-searching every segment, with
  * the global per-probe top-k merged by the bounded-heap aggregator.
  *
  * Why this shape and not one global graph: HNSW insertion is a greedy
  * walk over the WHOLE current structure — it serializes on the graph and
  * does not distribute (public distributed builds go through iterative
  * all-to-all neighbor refinement, NN-Descent-style, which is many full
  * shuffles of the corpus). The segment model trades that for a search
  * fan-out of one beam per partition — acceptable when a routing tier
  * (IVF cells) bounds which segments a query visits. See SCALING.md
  * "Graph-ANN study (round 12)" for the measured verdict vs the shipped
  * IVF-PQ tier.
  *
  * Everything here is deterministic so results are oracle-reproducible:
  * insertion in ascending-id order, node levels from a hash-derived
  * uniform (no RNG), every heap ordered by (sim desc, id asc), greedy
  * descent moves only on strict improvement.
  */
object GraphAnn {

  private def l2unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v
    else { val o = new Array[Float](v.length); i = 0
      while (i < v.length) { o(i) = (v(i) / n).toFloat; i += 1 }; o }
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** murmur3 64-bit finalizer — avalanches the id into a uniform word. */
  private def fmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** Deterministic HNSW level: floor(-ln(u) * mL) with u in (0,1] derived
    * from the id — same geometric distribution as the paper's RNG draw,
    * but reproducible across builds.
    */
  private[operators] def levelOf(id: Long, m: Int): Int = {
    val u = ((fmix64(id) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.min(31, (-math.log(u) / math.log(m.toDouble)).toInt)
  }

  private type Cand = (Int, Double) // (local node idx, similarity)

  private val byBest = new java.util.Comparator[Cand] {
    override def compare(a: Cand, b: Cand): Int = {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else Integer.compare(a._1, b._1)
    }
  }
  private val byWorst = new java.util.Comparator[Cand] {
    override def compare(a: Cand, b: Cand): Int = byBest.compare(b, a)
  }

  /** The no-filter emit predicate (shared instance so the unfiltered hot
    * path allocates nothing per call).
    */
  private val emitAll: Int => Boolean = _ => true

  /** Beam search one layer: standard HNSW SEARCH-LAYER with an ef-bounded
    * result heap. `adj(node, layer)` supplies the adjacency; `simOf` the
    * query-to-node score — a float dot product on the exact path, an ADC
    * table sum on the PQ path. Works for both the under-construction
    * builder graph and a loaded segment.
    *
    * `emit` gates the RESULT heap only (filtered search / tombstone
    * masking): every visited node still enters the candidate heap, so the
    * walk traverses THROUGH non-emittable nodes — the public filtered-HNSW
    * semantics (hnswlib's filter functor): with few emittable nodes the
    * result heap fills slowly, the `res.peek` bound stays loose, and the
    * beam naturally widens — down to an exhaustive sweep of the segment
    * when the filter is ultra-selective, which is exactly the right
    * degenerate behavior (a segment is memory-bounded by construction).
    * No ef widening is needed: the ef-bounded heap holds only emittable
    * nodes, so a selective filter can never starve top-k.
    */
  private def searchLayer(simOf: Int => Double, eps: Iterable[Int], ef: Int,
      layer: Int, adj: (Int, Int) => Iterable[Int],
      visited: java.util.BitSet,
      emit: Int => Boolean = emitAll): java.util.ArrayList[Cand] = {
    visited.clear()
    val cand = new java.util.PriorityQueue[Cand](byBest)
    val res = new java.util.PriorityQueue[Cand](byWorst)
    eps.foreach { ep =>
      if (!visited.get(ep)) {
        visited.set(ep)
        val s = simOf(ep)
        cand.add((ep, s))
        if (emit(ep)) { res.add((ep, s)); if (res.size > ef) res.poll() }
      }
    }
    var done = false
    while (!done && !cand.isEmpty) {
      val c = cand.poll()
      if (res.size >= ef && c._2 < res.peek()._2) done = true
      else {
        adj(c._1, layer).foreach { nb =>
          if (!visited.get(nb)) {
            visited.set(nb)
            val s = simOf(nb)
            if (res.size < ef || s > res.peek()._2) {
              cand.add((nb, s))
              if (emit(nb)) { res.add((nb, s)); if (res.size > ef) res.poll() }
            }
          }
        }
      }
    }
    val out = new java.util.ArrayList[Cand](res)
    out.sort(byBest)
    out
  }

  /** Strict-improvement hill climb at one layer (the descent step for
    * layers above the target) — moves only on sim strictly greater, so
    * ties can't cycle and the walk is deterministic.
    */
  private def greedyStep(simOf: Int => Double, start: Int, layer: Int,
      adj: (Int, Int) => Iterable[Int]): Int = {
    var cur = start
    var curSim = simOf(cur)
    var improved = true
    while (improved) {
      improved = false
      adj(cur, layer).foreach { nb =>
        val s = simOf(nb)
        if (s > curSim) { cur = nb; curSim = s; improved = true }
      }
    }
    cur
  }

  /** In-partition incremental HNSW construction (single-threaded per
    * partition — the partition IS the parallelism unit).
    */
  private final class Builder(m: Int, efC: Int) {
    private val maxM = m
    private val maxM0 = 2 * m
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    private val levels = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val adj = scala.collection.mutable.ArrayBuffer
      .empty[Array[scala.collection.mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var maxLevel = -1
    private val visited = new java.util.BitSet()

    private def adjOf(n: Int, l: Int): Iterable[Int] =
      if (l < adj(n).length) adj(n)(l) else Nil

    private def prune(n: Int, l: Int, cap: Int): Unit = {
      val v = vecs(n)
      val kept = adj(n)(l).map(i => (i, dot(v, vecs(i))))
        .sortBy { case (i, s) => (-s, i) }.take(cap).map(_._1)
      adj(n)(l).clear(); adj(n)(l) ++= kept
    }

    def insert(id: Long, unit: Array[Float]): Unit = {
      val lvl = levelOf(id, m)
      val idx = ids.length
      ids += id; vecs += unit; levels += lvl
      adj += Array.fill(lvl + 1)(scala.collection.mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; maxLevel = lvl; return }
      val simOf: Int => Double = i => dot(unit, vecs(i))
      var ep = entry
      var l = maxLevel
      while (l > lvl) { ep = greedyStep(simOf, ep, l, adjOf); l -= 1 }
      var eps: Iterable[Int] = List(ep)
      l = math.min(lvl, maxLevel)
      while (l >= 0) {
        val w = searchLayer(simOf, eps, efC, l, adjOf, visited)
        val it = w.iterator()
        var taken = 0
        val cap = if (l == 0) maxM0 else maxM
        while (it.hasNext && taken < m) {
          val (nb, _) = it.next()
          adj(idx)(l) += nb
          adj(nb)(l) += idx
          if (adj(nb)(l).length > cap) prune(nb, l, cap)
          taken += 1
        }
        val epsNext = new scala.collection.mutable.ArrayBuffer[Int](w.size())
        w.forEach(c => epsNext += c._1)
        eps = epsNext
        l -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = idx }
    }

    def emit(part: Int, seg: Int = 0): Iterator[GraphNode] =
      ids.indices.iterator.map { i =>
        GraphNode(part, ids(i), vecs(i), levels(i),
          adj(i).map(layer => layer.map(ids).toArray), seg)
      }
  }

  /** Build the segment graphs: hash-partition on id, one independent
    * layered graph per partition in a single `mapPartitions` pass —
    * no shuffle beyond the initial repartition, no driver state. At
    * cluster scale `nParts` is chosen so a segment (vectors + adjacency ≈
    * (dim·4 + 2m·8) bytes/vector) fits executor memory; the pass streams
    * partition-parallel exactly like any other map stage.
    */
  def buildGraph(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, nParts: Int, m: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    import spark.implicits._
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .repartition(nParts, col("id"))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          // ascending-id insertion: the one order every rebuild reproduces
          java.util.Arrays.sort(rows, Ordering.by[(Long, Array[Float]), Long](_._1))
          val part = org.apache.spark.TaskContext.getPartitionId()
          val b = new Builder(m, efConstruction)
          rows.foreach { case (id, v) => b.insert(id, l2unit(v)) }
          b.emit(part)
        }
      }
      .toDF()
  }

  // ------------------------------------------- segment maintenance ----

  /** Incremental append, the Lucene segment model's write path: the new
    * batch becomes `nParts` FRESH segments (hash-partitioned, built
    * exactly like [[buildGraph]], part ids offset past the existing max)
    * and the existing segments are returned byte-identical — an append
    * never touches, rebuilds or re-links indexed nodes, which is what
    * makes it cheap enough to run per ingest batch. Search sees the new
    * vectors immediately (one more beam per new segment); segment-count
    * growth is bounded by running [[mergeSegments]] periodically, the
    * same compaction contract the parquet index layout has. Ids must be
    * globally unique across existing + batch (the ingest keys).
    */
  def appendSegments(existing: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, nParts: Int, m: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    val spark = existing.sparkSession
    // null max = empty existing graph: the append IS the initial build
    val maxRow = existing.agg(max(col("part"))).head()
    val offset = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0) + 1
    val fresh = buildGraph(spark, batch, idCol, vecCol, nParts, m,
      efConstruction).withColumn("part", col("part") + lit(offset))
    existing.unionByName(fresh)
  }

  /** Segment compaction, the Lucene merge-policy analog: segments under
    * `targetNodesPerSegment` greedily bin-pack (ascending by size, then
    * (part, seg) — deterministic) into merge groups of ≤ target nodes,
    * and each group rebuilds as ONE new segment in one task (ascending-id
    * re-insertion over the stored unit vectors — no float changes, no
    * re-normalization); segments already at target pass through
    * BYTE-IDENTICAL. Driver state is ≤ nSegments (part, seg, count)
    * triples. Bounds the per-probe beam fan-out a long-lived append-only
    * index would otherwise grow without limit, at a rebuild cost capped
    * by the target size — the same knob [[buildGraphPerCell]]'s
    * `maxSegmentSize` uses for build parallelism, pointed the other way.
    *
    * TIER CONTRACT — `withinPart` (REQUIRED, no default: a wrong value
    * on a routed index is silent data loss, not an error, so every call
    * site must state which tier it is merging): `false` merges ACROSS
    * parts and assigns merged segments fresh part ids past the existing
    * max; that is correct ONLY for the un-routed segment tier
    * ([[buildGraph]]/[[appendSegments]]), where `part` is an arbitrary
    * hash bucket. On a ROUTED index ([[buildGraphPerCell]]) `part` IS
    * the IVF cell id — a cross-part merge would give merged nodes part
    * ids no probe ever routes to, silently dropping them from every
    * routed search. Pass `withinPart = true` there: groups then pack
    * only the `seg` slices OF THE SAME CELL and the rebuilt segment
    * keeps its cell id, so routing is untouched.
    */
  def mergeSegments(nodes: DataFrame, targetNodesPerSegment: Int, m: Int = 8,
      efConstruction: Int = 64, withinPart: Boolean): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    require(targetNodesPerSegment > 0, "targetNodesPerSegment must be positive")
    val sizes = nodes.groupBy(col("part"), col("seg")).count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .sortBy { case ((p, s), n) => (n, p, s) }
    if (sizes.isEmpty) return nodes
    val maxPart = sizes.map(_._1._1).max
    val maxSegOf = sizes.groupBy(_._1._1)
      .map { case (p, xs) => p -> xs.map(_._1._2).max }
    // greedy first-fit pack of the under-target segments, in sorted
    // order (per cell when withinPart); each merged group maps to the
    // (part, seg) it will emit as
    val bins = if (withinPart) sizes.groupBy(_._1._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy { case ((_, s), n) => (n, s) })
      else Seq(sizes)
    val group = bins.flatMap { bin =>
      var gid = 0; var acc = 0L; var members = 0
      bin.filter(_._2 < targetNodesPerSegment).map { case (key @ (p, _), n) =>
        if (members > 0 && acc + n > targetNodesPerSegment) {
          gid += 1; acc = 0L; members = 0
        }
        acc += n; members += 1
        key -> (if (withinPart) (p, maxSegOf(p) + 1 + gid) else (maxPart + 1 + gid, 0))
      }
    }.toMap
    // singleton groups rebuild nothing — their segment passes through
    val counts = group.groupBy(_._2).map { case (t, ms) => t -> ms.size }
    val merged = group.filter { case (_, t) => counts(t) > 1 }.toMap
    if (merged.isEmpty) return nodes
    val sizeOf = sizes.toMap
    val bc = spark.sparkContext.broadcast(merged)
    val isMerged = segmentKey(col("part"), col("seg"))
      .isin(merged.keys.toSeq.map(segmentKey): _*)
    // ascending-id re-insertion of the stored unit vectors, one task per group
    val rebuilt = buildSegments(nodes.filter(isMerged).as[GraphNode].map { n =>
        val (part, seg) = bc.value((n.part, n.seg))
        (part, seg, (n.id, n.vec, null: Array[Byte])) },
      packedTasks(spark, merged.groupBy(_._2).map { case (t, ms) =>
        t -> ms.keysIterator.map(sizeOf).sum }), m, efConstruction, Map.empty)
    nodes.filter(!isMerged)
      .unionByName(rebuilt.select(nodes.columns.toSeq.map(col): _*))
  }

  // --------------------------------------------- NN-Descent k-NN graph ----

  /** Distributed k-NN GRAPH construction by NN-Descent (Dong, Moses & Li,
    * WWW 2011) — the public all-to-all alternative to the segment-local
    * HNSW builds above, and the missing piece the graph study names: a
    * GLOBAL neighborhood graph, built by iterative neighbor-of-neighbor
    * refinement entirely in DataFrame joins (no driver state at all).
    *
    * Per iteration: the current directed top-k edge set is symmetrized
    * (the paper's reverse-neighbor trick) and CAPPED at each node's best
    * 2k incident sims — the skew guard: without it a hub sitting in many
    * nodes' top-k (a near-dup clump center) makes 2-hop pairs through it
    * quadratic in its reverse neighborhood; the cap bounds pairs through
    * any node at (2k)² however clumped the corpus (the paper's ρ-sampling
    * made deterministic and similarity-aware). 2-hop candidates then come
    * from ONE self-join of the capped edge list, scores from the
    * codegen'd cosine kernel after joining the vectors back in, and each
    * node keeps its best k via the bounded-heap aggregator — one
    * iteration is two vector joins over the FRESH candidates plus an
    * ≤ n·(2k)² candidate shuffle, the documented NN-Descent cost
    * (`sampleRate` further thins pairs as a deterministic hash filter;
    * pairs the running adjacency already carries re-enter the fold with
    * their stored sims instead of re-joining the vector table — r15, a
    * pure cost cut since cosine is deterministic). Per-node best-k is
    * MONOTONE across iterations (the capped adjacency always contains
    * the node's current top-k), which the spec pins.
    *
    * Init is deterministic LSH-style bucketing under two hash salts
    * (nodes sharing either bucket are initial candidates), so the whole
    * build is reproducible — no RNG anywhere, same contract as the rest
    * of the tier. Returns (id, nbr, sim) — k rows per node, no
    * self-loops. Convergence: 3–5 iterations in the paper's regimes; the
    * v22 gate measures recall vs exact k-NN on a sampled node set.
    *
    * MEMORY SIZING: the per-iteration candidate shuffle is n·(2k)² rows
    * — at 512k×k=20 that is ~800 M pairs, which exceeds a single 8 GB
    * JVM running 32 concurrent tasks (measured OOM at 512k; SCALING.md
    * "512k stress"). `candidateSlices` makes peak candidate volume a
    * TUNABLE instead of a cliff: the 2-hop generation splits into S
    * hash-bands of the PIVOT node (the join key), and each
    * band's candidates fold through the bounded-heap top-k into the
    * accumulator before the next band generates — top-k under the
    * deterministic (sim desc, id asc) order is an associative merge, so
    * the sliced build's edges are IDENTICAL to the unsliced build's
    * (spec-pinned), only ≤ 1/S of the candidate volume is ever in
    * flight, at the price of S aggregate rounds per iteration.
    * `sampleRate` remains the paper's ρ knob (0.25 completes 512k in
    * 277 s) — with the measured caveat that sampling in a heavy-clump
    * regime erodes the edge quality the [[knnToNswSegments]]
    * composition's recall advantage rests on; slicing erodes nothing.
    */
  def nnDescent(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 4, sampleRate: Double = 1.0,
      candidateSlices: Int = 1,
      foldCarriedSims: Option[Boolean] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec")).localCheckpoint(true)
    val n = vecs.count()
    val topk = udaf(new graft.functions.TopKByScore(k))
    // At corpus scale the vector side must never broadcast (at 512k the
    // hashed relation is ~0.5 GB and the size estimator undercounts the
    // synth-fixture lineage, so the planner tried; measured OOM) and the
    // edge-list self-joins must not either (measured: a 20M-row slice
    // broadcast OOM'd the same harness). The strategy pins key off the
    // MEASURED corpus count — the correct stat the estimator lacked:
    // small corpora keep the planner's broadcast plans (faster at gate
    // scale), big ones pin shuffle-hash for the vector lookups (each
    // task builds only its ~n/partitions slice, candidate stream never
    // sorted) and sort-merge for the edge self-joins.
    val big = n > 100000
    def pinned(df: DataFrame, strategy: String): DataFrame =
      if (big) df.hint(strategy) else df
    // score NEW candidate pairs only — known pairs carry their sims
    // through the fold (cosine is deterministic, so a carried sim equals
    // a recomputed one bit-for-bit and the fold order cannot change)
    def scorePairs(pairs: DataFrame): DataFrame =
      pairs
        .dropDuplicates("id", "nbr") // dup candidates would repeat in top-k
        .join(pinned(vecs.select(col("id"), col("vec").as("_va")),
          "shuffle_hash"), Seq("id"))
        .join(pinned(vecs.select(col("id").as("nbr"), col("vec").as("_vb")),
          "shuffle_hash"), Seq("nbr"))
        .withColumn("sim",
          graft.functions.GraftFunctions.cosine_f32(col("_va"), col("_vb")))
        .select(col("id"), col("nbr"), col("sim"))
    def foldTopK(cands: DataFrame): DataFrame =
      cands
        .dropDuplicates("id", "nbr") // a pair can arrive via two pivots
        .groupBy(col("id"))
        .agg(topk(col("nbr"), col("sim")).as("top"))
        .select(col("id"), explode(col("top")).as("e"))
        .select(col("id"), col("e._1").as("nbr"), col("e._2").as("sim"))
    def bestK(pairs: DataFrame): DataFrame = foldTopK(scorePairs(pairs))
    // two salted bucket families; ~2k expected co-bucketed mates per node
    // (edge self-joins pinned to sort-merge above the size threshold —
    // see `pinned`)
    val nBuckets = math.max(1L, n / math.max(1, 2 * k))
    val seeds = (0 to 1).map { salt =>
      val b = vecs.select(col("id"),
        pmod(hash(col("id"), lit(salt)), lit(nBuckets)).as("b"))
      b.join(pinned(b.select(col("id").as("nbr"), col("b")), "merge"), Seq("b"))
        .filter(col("id") =!= col("nbr"))
        .select(col("id"), col("nbr"))
    }.reduce(_.unionByName(_))
    var edges = bestK(seeds).localCheckpoint(true)
    // the 2k hub guard: uncapped, a 7 200-clone clump ran the build 3.36×
    // its uniform time, capped 0.85× (SCALING.md "Skew study: NN-Descent
    // hub axis")
    val cap = 2 * k
    val topCap = udaf(new graft.functions.TopKByScore(cap))
    for (_ <- 1 to iters) {
      // dedup BEFORE the cap: a mutual edge appears in both directions
      // and would otherwise occupy two of the node's 2k cap slots,
      // which could evict a current top-k edge and void the
      // monotonicity argument below (both copies carry the same sim,
      // so dropDuplicates is order-safe)
      val sym = edges.select(col("id"), col("nbr"), col("sim"))
        .unionByName(edges.select(col("nbr").as("id"), col("id").as("nbr"),
          col("sim")))
        .dropDuplicates("id", "nbr")
      // the 2-hop join's skew surface is IN-degree: a hub sitting in many
      // nodes' top-k (a near-dup clump center) makes pairs-through-it
      // quadratic in its reverse neighborhood. Cap each node's undirected
      // adjacency at its best 2k by sim (the paper's ρ-sampling made
      // deterministic and similarity-aware) so pairs through ANY node are
      // ≤ (2k)² however clumped the corpus.
      // undirected CARRIES its sims (the stored edge sims — cosine is
      // symmetric, so a reversed edge's sim is the original's): the fold
      // below then re-joins vectors ONLY for fresh 2-hop candidates,
      // never for the running adjacency — per round that removes two
      // vector joins over the n·cap running set, the dominant repeated
      // cost of the sliced build's S sequential folds (and one full
      // re-score per iteration of the unsliced build)
      val undirected = sym
        .groupBy(col("id"))
        .agg(topCap(col("nbr"), col("sim")).as("top"))
        .select(col("id"), explode(col("top")).as("e"))
        .select(col("id"), col("e._1").as("nbr"), col("e._2").as("sim"))
        .localCheckpoint(true) // read twice by the self-join
      val slices = math.max(1, candidateSlices)
      def thin(pairs: DataFrame): DataFrame =
        if (sampleRate >= 1.0) pairs
        else pairs.filter(
          pmod(hash(col("id"), col("nbr")), lit(1000000)) <
            lit((sampleRate * 1000000).toLong))
      // score only pairs NOT already carried by `base`, then fold the
      // union — candidate set and sims identical to scoring everything
      // (spec-pinned as `foldCarriedSims`-invariant). Size-gated like
      // `pinned`: at corpus scale the two saved vector joins over the
      // n·cap running set dominate the anti-join's extra stages; at gate
      // scale the extra stages dominate (A/B measured: v22 8.3 → 9.0 s,
      // 66 → 78 jobs carried), so small builds keep the score-everything
      // shape. `foldCarriedSims = Some(true)` lets the spec pin path
      // equality at unit scale.
      val carry = foldCarriedSims.getOrElse(big)
      def foldFresh(hop: DataFrame, base: DataFrame): DataFrame =
        if (carry)
          // the anti-join's base side MUST pin like every other corpus-
          // scale join here: the estimator undercounts the checkpoint
          // lineage and broadcasts the n·cap edge set (measured: OOM at
          // 512k in the 8 GB/16-thread harness, stage-71 heap death —
          // the r14 misfire class, #9)
          foldTopK(scorePairs(thin(hop)
              .join(pinned(base.select(col("id"), col("nbr")), "merge"),
                Seq("id", "nbr"), "left_anti"))
            .unionByName(base))
        else bestK(thin(hop).unionByName(base.select(col("id"), col("nbr"))))
      if (slices == 1) {
        val twoHop = undirected
          .join(pinned(undirected
            .select(col("id").as("nbr"), col("nbr").as("nbr2")), "merge"),
            Seq("nbr"))
          .select(col("id"), col("nbr2").as("nbr"))
          .filter(col("id") =!= col("nbr"))
        // the capped adjacency always contains the node's current top-k
        // (the cap keeps the best 2k incident sims) -> per-node best-k
        // stays monotone across iterations
        edges = foldFresh(twoHop, undirected).localCheckpoint(true)
      } else {
        // sliced generation: band the PIVOT node (the 2-hop join key), fold
        // each band through the top-k accumulator before the next band
        // generates — identical edges, ≤1/S candidate volume in flight
        for (s <- 0 until slices) {
          val hop = undirected
            .filter(pmod(hash(col("nbr")), lit(slices)) === s)
            .join(pinned(undirected
                .filter(pmod(hash(col("id")), lit(slices)) === s)
                .select(col("id").as("nbr"), col("nbr").as("nbr2")), "merge"),
              Seq("nbr"))
            .select(col("id"), col("nbr2").as("nbr"))
            .filter(col("id") =!= col("nbr"))
          edges = foldFresh(hop, if (s == 0) undirected else edges)
            .localCheckpoint(true)
        }
      }
    }
    edges
  }

  /** Wire the [[nnDescent]] k-NN graph INTO the serving tier — the
    * composition the graph study leaves open: instead of insertion-order
    * HNSW construction per cell ([[buildGraphPerCell]]), the global
    * NN-Descent edge set becomes per-cell single-layer NSW adjacency
    * (Malkov et al. 2014 — the pre-hierarchy design the multi-entry
    * layer-0 search already speaks):
    *
    *  1. edges restrict to WITHIN each IVF cell (cell members are mutual
    *     near neighbors, so most top-k edges survive; the few cross-cell
    *     edges drop — the segment-closed adjacency contract every search
    *     in this object requires);
    *  2. the directed top-k edges symmetrize (undirected reachability,
    *     the NSW property) and cap at each node's best 2m incident sims
    *     (the layer-0 degree cap, same knob as the HNSW builder);
    *  3. each cell emits one level-0 segment — no hierarchy: beams seed
    *     from the entry plus the reachability roots, so nodes isolated by
    *     the cell restriction stay findable ([[entryAndRoots]]).
    *
    * Pure DataFrame ops end to end (two joins + one capped aggregate +
    * one locality shuffle); no driver state. The trade vs
    * [[buildGraphPerCell]]: construction is all-to-all distributed
    * (NN-Descent's documented candidate-shuffle cost) instead of
    * one-task-per-cell sequential insertion, so a mega-cell can't
    * serialize a build task — the build-skew answer without
    * `maxSegmentSize` slicing; search quality rides on the k-NN graph's
    * recall (SCALING.md "Graph-ANN study" carries the measured
    * comparison). Output serves through [[searchGraphRouted]] /
    * [[searchGraphBatch]] unchanged.
    */
  def knnToNswSegments(assignments: DataFrame, knnEdges: DataFrame,
      m: Int = 8): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val cellOf = assignments.select(col("id").cast("long").as("id"),
      col("cell").cast("int").as("cell"))
    val within = knnEdges
      .select(col("id").cast("long").as("id"),
        col("nbr").cast("long").as("nbr"), col("sim"))
      .join(cellOf, Seq("id"))
      .join(cellOf.select(col("id").as("nbr"), col("cell").as("cell_b")),
        Seq("nbr"))
      .filter(col("cell") === col("cell_b"))
      .select(col("id"), col("nbr"), col("sim"))
    val sym = within.unionByName(
        within.select(col("nbr").as("id"), col("id").as("nbr"), col("sim")))
      .dropDuplicates("id", "nbr")
    val topCap = udaf(new graft.functions.TopKByScore(2 * m))
    val adj = sym.groupBy(col("id"))
      .agg(topCap(col("nbr"), col("sim")).as("top"))
      .select(col("id"), expr("transform(top, p -> p._1)").as("nbrs"))
    assignments
      .select(col("cell").cast("int").as("part"),
        col("id").cast("long").as("id"), col("vec"))
      .join(adj, Seq("id"), "left")
      .select(col("part"), col("id"), col("vec"),
        coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs"))
      .as[(Int, Long, Array[Float], Array[Long])]
      .map { case (part, id, vec, nbrs) =>
        GraphNode(part, id, l2unit(vec), 0, Array(nbrs), 0) }
      .toDF()
      // the adjacency join redistributed rows by id — restore the layout
      .repartition(col("part"), col("seg"))
  }

  /** Global→local adjacency, resolved ONCE per segment per batch: the
    * beam loop then reads primitive int arrays instead of boxing through
    * the id map on every expansion — the serving hot path's dominant
    * allocation (q probes × visited × degree map lookups otherwise).
    */
  private def resolveAdj(neighbors: Int => Array[Array[Long]], n: Int,
      idIdx: java.util.HashMap[Long, Integer]): Array[Array[Array[Int]]] =
    Array.tabulate(n) { i =>
      neighbors(i).map { layer =>
        val out = new Array[Int](layer.length)
        var j = 0
        while (j < layer.length) {
          val idx = idIdx.get(layer(j))
          if (idx == null) throw new IllegalStateException(
            s"graph segment locality violated: adjacency id ${layer(j)} is " +
              "absent from this task's (part, seg) group — the segment was " +
              "split across scan partitions (e.g. a cell parquet file over " +
              "maxPartitionBytes). Restore the layout with " +
              "GraphAnn.restoreSegmentLocality before searching; builders " +
              "emit it natively.")
          out(j) = idx.intValue(); j += 1
        }
        out
      }
    }

  /** Reassemble every (part, seg) segment whole inside one task — the
    * LOCALITY CONTRACT every search in this object requires (adjacency
    * ids resolve against the local segment only; a violation fails fast
    * in [[resolveAdj]] naming this remedy). Builders emit the layout
    * natively and narrow transforms preserve it; call this after
    * re-reading nodes from storage or repartitioning by any other key —
    * a cell's parquet file larger than `maxPartitionBytes` splits across
    * scan partitions ([[searchGraphRoutedPersisted]] needs no restore: it
    * reads each probed cell's files whole in one task). One shuffle of
    * exactly the nodes passed.
    */
  def restoreSegmentLocality(nodes: DataFrame): DataFrame =
    nodes.repartition(col("part"), col("seg"))

  /** The segment's main entry (highest level, ties to smallest id) PLUS
    * the layer-0 reachability roots. Degree pruning can orphan DIRECTED
    * components in an NSW graph — nodes unfindable from the entry at ANY
    * ef (first observed at the x8 scale audit: 16k-node segments orphan
    * a handful of nodes; small segments never do). One root per orphan
    * component (picked by the same (level desc, id asc) rule, computed
    * once per segment per batch in O(V+E)) seeds every layer-0 beam —
    * multi-entry search exactly as in the pre-HNSW NSW design (Malkov et
    * al. 2014), restoring the guarantee that a full-ef beam is
    * exhaustive, which the maintenance gate's keystone equality relies
    * on at every scale. Recall at serving ef can only improve.
    */
  private def entryAndRoots(n: Int, level: Int => Int, id: Int => Long,
      adj: (Int, Int) => Iterable[Int]): (Int, List[Int]) = {
    var entry = 0
    var i = 1
    while (i < n) {
      if (level(i) > level(entry) ||
        (level(i) == level(entry) && id(i) < id(entry))) entry = i
      i += 1
    }
    val reached = new java.util.BitSet(n)
    val stack = new java.util.ArrayDeque[Integer]()
    def bfs(s: Int): Unit = {
      reached.set(s); stack.push(s)
      while (!stack.isEmpty) {
        val c = stack.pop().intValue()
        adj(c, 0).foreach { nb =>
          if (!reached.get(nb)) { reached.set(nb); stack.push(nb) } }
      }
    }
    bfs(entry)
    var roots = List.empty[Int]
    var u = reached.nextClearBit(0)
    while (u < n) {
      var best = u
      var j = reached.nextClearBit(u + 1)
      while (j < n) {
        if (level(j) > level(best) ||
          (level(j) == level(best) && id(j) < id(best))) best = j
        j = reached.nextClearBit(j + 1)
      }
      roots ::= best
      bfs(best)
      u = reached.nextClearBit(0)
    }
    (entry, roots.reverse)
  }

  /** Beam-search one loaded segment for every query in the batch: rebuild
    * the id→idx view, pick the entry (highest level, ties to smallest
    * id), then per query descend greedily to layer 1 and ef-beam layer 0
    * seeded with the descent result plus the reachability roots
    * ([[entryAndRoots]]). `score(q)` scores the query against a node —
    * the segment's [[NodeCodec.scorer]]. Emits (probe_id, id, sim)
    * candidate rows, ≤ k per query.
    */
  private[operators] def searchSegment[N <: SegmentNode](ns: Array[N],
      queries: Iterable[(Long, Array[Float])], k: Int, ef: Int,
      emit: Int => Boolean,
      score: Array[Float] => Int => Double): Iterator[(Long, Long, Double)] = {
    if (ns.isEmpty) return Iterator.empty
    val idIdx = new java.util.HashMap[Long, Integer](ns.length * 2)
    ns.indices.foreach(i => idIdx.put(ns(i).id, i))
    val adjLocal = resolveAdj(i => ns(i).neighbors, ns.length, idIdx)
    val adj: (Int, Int) => Iterable[Int] = (n, l) =>
      if (l < adjLocal(n).length) adjLocal(n)(l) else Nil
    val (entry, roots) =
      entryAndRoots(ns.length, i => ns(i).level, i => ns(i).id, adj)
    val visited = new java.util.BitSet(ns.length)
    queries.iterator.flatMap { case (pid, q) =>
      val simOf = score(q)
      var ep = entry
      var l = ns(entry).level
      while (l > 0) { ep = greedyStep(simOf, ep, l, adj); l -= 1 }
      val w = searchLayer(simOf, ep :: roots, ef, 0, adj, visited, emit)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val it2 = w.iterator()
      var taken = 0
      while (it2.hasNext && taken < k) {
        val (i, s) = it2.next(); out += ((pid, ns(i).id, s)); taken += 1
      }
      out
    }
  }

  /** What a per-cell graph node stores, and how a beam scores it: the one
    * difference between the float and PQ serving tiers, whose builds,
    * appends, purges and beams are otherwise one body each. The graph
    * STRUCTURE is built on exact unit vectors on both (build memory is
    * transient, one segment per task); only the stored payload differs.
    */
  private[operators] sealed abstract class NodeCodec[N <: SegmentNode]
      extends Serializable {
    /** The stored payload column: `vec` or `codes`. */
    def payload: String
    /** A cells frame's code word column (null on float). */
    def codes: Column
    /** `batch` (id: long, vec) as a cells frame — (id, vec, cell), plus
      * `pq_codes` on PQ — each row in its nearest cell of `routing` by the
      * index's own rule, so appended nodes route like indexed ones.
      */
    def assign(batch: DataFrame, routing: Array[(Int, Array[Float])]): DataFrame
    /** The stored node's encoder, derived on the driver. */
    def encoder: org.apache.spark.sql.Encoder[N]
    /** The beam's scorer over segment `ns` of `cell`: per query, its
      * score of the node at a local index.
      */
    def scorer(ns: Array[N], cell: Int): Array[Float] => Int => Double
    /** The stored node columns, in [[GraphNode]] / [[PqGraphNode]] order. */
    final def columns: Seq[Column] =
      Seq("part", "id", payload, "level", "neighbors", "seg").map(col)
  }

  private[operators] object NodeCodec {
    /** The unit vector, scored with `dot`; cells by raw nearest centroid
      * ([[Similarity.buildIvf]] trains on vectors as given).
      */
    case object Float extends NodeCodec[GraphNode] {
      def payload: String = "vec"
      def codes: Column = lit(null).cast("binary")
      def assign(batch: DataFrame,
          routing: Array[(Int, Array[Float])]): DataFrame = {
        val spark = batch.sparkSession
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(routing)
        batch.as[(Long, Array[Float])]
          .map { case (id, v) => (id, v, Similarity.nearestCells(bc.value, v, 1).head) }
          .toDF("id", "vec", "cell")
      }
      def encoder: org.apache.spark.sql.Encoder[GraphNode] =
        org.apache.spark.sql.Encoders.product[GraphNode]
      def scorer(ns: Array[GraphNode], cell: Int): Array[Float] => Int => Double =
        q => i => dot(q, ns(i).vec)
    }

    /** The IVF-PQ residual code word ([[Similarity.encodePq]] bytes),
      * scored with the ADC decomposition `q̂·c_cell + Σ table(sub)(code)`
      * exactly like [[Similarity.searchIvfPq]] — no float vector is read;
      * the table is built once per (query, segment) before the walk.
      * Arrivals encode against the EXISTING codebook
      * ([[Similarity.encodeIntoIvfPq]], unit space — no retrain).
      */
    final case class Pq(centroids: Array[(Int, Array[Float])],
        book: Similarity.PqCodebook) extends NodeCodec[PqGraphNode] {
      @transient private lazy val centroidOf = centroids.toMap
      def payload: String = "codes"
      def codes: Column = col("pq_codes")
      def assign(batch: DataFrame, routing: Array[(Int, Array[Float])]): DataFrame =
        batch.join(Similarity.encodeIntoIvfPq(batch.sparkSession, batch, "id",
          "vec", Similarity.IvfPqIndex(routing, book, null)), Seq("id"))
      def encoder: org.apache.spark.sql.Encoder[PqGraphNode] =
        org.apache.spark.sql.Encoders.product[PqGraphNode]
      def scorer(ns: Array[PqGraphNode], cell: Int): Array[Float] => Int => Double = {
        val cellCentroid = centroidOf(cell)
        q => {
          val const = dot(q, cellCentroid)
          // the one shared ADC builder — graph-vs-IVF score equality is
          // gate-pinned and holds only while every tier builds it identically
          val table = Similarity.adcTable(book, q)
          i => {
            val cs = ns(i).codes
            var s = const
            var sc = 0
            while (sc < cs.length) { s += table(sc)(cs(sc) & 0xff); sc += 1 }
            s
          }
        }
      }
    }

    /** The PQ codec of `index`'s cells and codebook. */
    def pq(index: Similarity.IvfPqIndex): Pq = Pq(index.centroids, index.book)
  }

  /** Per-probe global top-k over segment candidates via the bounded-heap
    * aggregator — ≤ k rows per probe cross the final shuffle, nothing
    * sorts the candidate union. Output matches the other ANN tiers.
    */
  private def mergeTopK(cands: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(k))
    cands.groupBy(col("probe_id"))
      .agg(topk(col("id"), col("sim")).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("probe_id"), col("p._1").as("id"), col("p._2").as("sim"),
        (col("r") + 1).cast("int").as("rank"))
  }

  /** Batch beam search: the probe batch broadcasts (bounded — a serving
    * batch, never the corpus), EVERY segment is beam-searched per probe
    * (un-routed fan-out — fine up to ~100 segments; see
    * [[searchGraphRouted]] for the bounded-fan-out form), and the
    * per-probe global top-k merges through the bounded-heap aggregator.
    * Output: (probe_id, id, sim, rank).
    *
    * LOCALITY CONTRACT: every (part, seg) segment must sit whole inside
    * one physical partition — adjacency ids resolve against the local
    * segment only. All builders in this object emit that layout and
    * narrow transforms preserve it; if `nodes` was re-read from storage
    * or repartitioned by anything other than (part, seg), restore it
    * with [[restoreSegmentLocality]] first.
    *
    * `tombstones` (optional, one `id` column) masks DELETED documents at
    * serving time — the Lucene deletes-bitset model: beams traverse
    * through tombstoned nodes (graph connectivity is untouched) but never
    * emit them, and the ef-bounded result heap holds only live nodes so
    * the mask cannot starve top-k. The set broadcasts as a sorted long
    * array: it holds only deletes accumulated SINCE THE LAST
    * [[purgeTombstones]] rebuild, which is what bounds it — the same
    * contract that bounds Lucene's in-memory deletes between merges.
    */
  def searchGraphBatch(nodes: DataFrame, probes: DataFrame, probeId: String,
      probeVec: String, k: Int, ef: Int,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val batch = probes.select(col(probeId).cast("long"), col(probeVec))
      .as[(Long, Array[Float])].collect()
      .map { case (pid, v) => (pid, l2unit(v)) }
    val bc = spark.sparkContext.broadcast(batch)
    val bcTomb = broadcastTombstones(spark, tombstones)
    val kLocal = k
    val efLocal = math.max(ef, k)
    val cands = nodes.as[GraphNode].mapPartitions { it =>
      // a SEGMENT is a `part` group, not a physical partition: adjacency
      // is closed over `part`, so co-located groups (e.g. several cells
      // hashed into one partition) are disconnected graphs with their own
      // entry points — one beam per group, never one beam per partition
      it.toArray.groupBy(n => (n.part, n.seg)).iterator.flatMap { case ((part, _), ns) =>
        searchSegment(ns, bc.value, kLocal, efLocal, liveEmit(bcTomb.map(_.value), ns),
          NodeCodec.Float.scorer(ns, part))
      }
    }.toDF("probe_id", "id", "sim")
    mergeTopK(cands, k)
  }

  /** Tombstone ids as a SORTED long array (binary-search membership, no
    * boxing in the beam loop).
    */
  private def collectTombstones(tombstones: DataFrame): Array[Long] = {
    val ids = tombstones.select(col("id").cast("long"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    java.util.Arrays.sort(ids)
    ids
  }

  /** [[collectTombstones]] as a broadcast; None stays None so the
    * unfiltered path pays nothing.
    */
  private def broadcastTombstones(spark: SparkSession,
      tombstones: Option[DataFrame]): Option[
        org.apache.spark.broadcast.Broadcast[Array[Long]]] =
    tombstones.map(t => spark.sparkContext.broadcast(collectTombstones(t)))

  /** Per-segment emit predicate masking a sorted tombstone set. */
  private[operators] def liveEmit(tombstones: Option[Array[Long]],
      ns: Array[_ <: SegmentNode]): Int => Boolean = tombstones match {
    case None => emitAll
    case Some(sorted) => i => java.util.Arrays.binarySearch(sorted, ns(i).id) < 0
  }

  /** Cell-routed composition — the 100 TB shape from the SCALING.md
    * study: one graph PER IVF CELL (`part` doubles as the cell id), so a
    * probe's beam fan-out is its nprobe routed cells instead of every
    * segment, exactly the bounded fan-out the IVF tier has — with the
    * graph replacing the cell's flat exact scan. This is the DiskANN
    * direction (Subramanya et al., NeurIPS 2019: cluster, then graph
    * within the cluster); the cell layout, routing rule and merge are
    * shared with the shipped IVF tier so the tiers compose rather than
    * compete.
    *
    * `assignments` is [[Similarity.IvfIndex.assignments]] — (id, vec,
    * cell). One shuffle groups each cell's vectors; each cell's graph is
    * built in memory by one task (cells are corpus/nCells — size cells so
    * one fits an executor, the same constraint the IVF cell scan has).
    * `maxSegmentSize` caps the per-task group: cells above it split into
    * hash-sliced sub-segments ([[cellSlices]]) so a hot cell can't
    * serialize the build on one task — the measured mitigation in
    * SCALING.md "Skew study: graph-ANN cell axis".
    */
  def buildGraphPerCell(spark: SparkSession, assignments: DataFrame,
      m: Int = 8, efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue): DataFrame =
    buildCellSegments(NodeCodec.Float, assignments, m, efConstruction,
      maxSegmentSize, Map.empty)

  /** The ONE per-cell build body every build and append shares, on both
    * tiers (a hand-mirrored divergence here would make builds and appends
    * emit structurally different segments): `cells` is a cells frame
    * (id, vec, cell, plus `pq_codes` on PQ); oversized cells hash-slice,
    * each slice builds as a segment at `segBase(cell) + slice` (0 for an
    * initial build) and stores `codec`'s payload.
    */
  private def buildCellSegments(codec: NodeCodec[_], cells: DataFrame, m: Int,
      efConstruction: Int, maxSegmentSize: Int,
      segBase: Map[Int, Int]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val base = cells.select(col("cell").cast("int"), col("id").cast("long"),
        col("vec"), codec.codes)
      .as[(Int, Long, Array[Float], Array[Byte])]
    val bcSlices = spark.sparkContext.broadcast(
      cellSlices(base.groupByKey(_._1).count(), maxSegmentSize))
    val keyed = base.map { case (c, id, v, cs) =>
      (c, sliceOf(id, c, bcSlices.value), (id, l2unit(v), cs)) }
    buildSegments(keyed, cellTasks(spark), m, efConstruction, segBase)
      .select(codec.columns: _*)
  }

  /** The ONE per-segment graph build of every build, append and purge:
    * each (part, seg) group of `keyed` — build rows (id, unit vector,
    * code word or null) — inserts ascending-id and emits at
    * `segBase(part) + seg`, carrying each row's vector and code word;
    * callers keep the payload column they store.
    */
  private def buildSegments(
      keyed: org.apache.spark.sql.Dataset[(Int, Int, (Long, Array[Float], Array[Byte]))],
      tasks: SegmentTasks, m: Int, efConstruction: Int,
      segBase: Map[Int, Int]): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val bcBase = spark.sparkContext.broadcast(segBase)
    perSegment(keyed, tasks) { (part, seg, it) =>
      val rows = it.toArray
      java.util.Arrays.sort(rows,
        Ordering.by[(Long, Array[Float], Array[Byte]), Long](_._1))
      val b = new Builder(m, efConstruction)
      rows.foreach { case (id, u, _) => b.insert(id, u) }
      // emit walks the insertion order: node i is rows(i)
      b.emit(part, bcBase.value.getOrElse(part, 0) + seg).zip(rows.iterator)
        .map { case (n, r) => (n.part, n.id, n.vec, r._3, n.level, n.neighbors, n.seg) }
    }.toDF("part", "id", "vec", "codes", "level", "neighbors", "seg")
  }

  /** Build each (part, seg) group of `keyed` — rows (part, seg, payload)
    * — with `build`, the whole group in one task, as `groupByKey` +
    * `flatMapGroups` would, but routed by an explicit partition id
    * ([[SegmentTasks]]): AQE coalesces a group-by shuffle of a few MB into
    * one partition, which runs every segment's single-threaded graph
    * build back to back on one core, while an explicit-id exchange keeps
    * its task count. Each task sorts its rows by (part, seg) and streams
    * them group by group, so its peak memory stays one group. `build`
    * sees the group's payloads in arbitrary order (sort them itself) and
    * the same rows per group as the group-by shape, so its output is
    * unchanged.
    */
  private def perSegment[P, U: org.apache.spark.sql.Encoder](
      keyed: org.apache.spark.sql.Dataset[(Int, Int, P)], tasks: SegmentTasks)(
      build: (Int, Int, Iterator[P]) => Iterator[U]): org.apache.spark.sql.Dataset[U] =
    keyed.repartitionById(tasks.n, tasks.of(col("_1"), col("_2")))
      .sortWithinPartitions("_1", "_2")
      .mapPartitions { it =>
        val rows = it.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
          val (part, seg, _) = rows.head
          val group = scala.collection.mutable.ArrayBuffer.empty[P]
          while (rows.hasNext && rows.head._1 == part && rows.head._2 == seg)
            group += rows.next()._3
          build(part, seg, group.iterator)
        }
      }

  /** Where [[perSegment]] sends each (part, seg) group: `n` tasks and the
    * task of a group.
    */
  private final case class SegmentTasks(n: Int, of: (Column, Column) => Column)

  /** Groups not known on the driver (a build's cells): `part + seg` round
    * robin over the session's cores — IVF cell ids are dense from 0, so
    * a build's cells spread evenly, and an oversized cell's slices land
    * on consecutive cores.
    */
  private def cellTasks(spark: SparkSession): SegmentTasks = {
    val n = spark.sparkContext.defaultParallelism
    SegmentTasks(n, (part, seg) => pmod(part + seg, lit(n)))
  }

  /** Groups known on the driver with their sizes (a purge's touched
    * segments): packed largest first onto min(#groups, cores) tasks
    * ([[graft.core.TaskPacking.leastLoaded]]), so k groups run as
    * min(k, cores) non-empty tasks of similar size.
    */
  private def packedTasks(spark: SparkSession, groups: Map[(Int, Int), Long]): SegmentTasks = {
    val keys = groups.keys.toIndexedSeq.sorted
    val (n, task) = graft.core.TaskPacking.leastLoaded(keys.map(groups),
      spark.sparkContext.defaultParallelism)
    val taskOf = keys.indices.map(i => segmentKey(keys(i)) -> task(i)).toMap
    SegmentTasks(n, (part, seg) => element_at(typedLit(taskOf), segmentKey(part, seg)))
  }

  /** One long per (part, seg): part · 2^32 + seg. */
  private def segmentKey(key: (Int, Int)): Long = (key._1.toLong << 32) + key._2
  private def segmentKey(part: Column, seg: Column): Column =
    shiftleft(part.cast("long"), 32) + seg.cast("long")

  /** Every (part, seg) segment of `nodes` holding an id `isTomb` flags,
    * with its node count: ≤ nSegments driver rows.
    */
  private def touchedSegments(nodes: DataFrame,
      isTomb: org.apache.spark.sql.expressions.UserDefinedFunction): Map[(Int, Int), Long] = {
    nodes.groupBy(col("part"), col("seg"))
      .agg(count(lit(1)), max(isTomb(col("id"))).as("hit"))
      .filter(col("hit"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  /** Incremental append for the ROUTED tier — [[appendSegments]]'s twin
    * on a [[buildGraphPerCell]] index, completing the routed lifecycle
    * (build → append → merge(withinPart) → purge → publish): each new
    * vector assigns to its nearest cell by the INDEX'S OWN rule (the
    * broadcast centroids — identical to how `buildIvf` assigned the
    * existing nodes, so routing reaches appended nodes exactly like
    * original ones) and each cell's arrivals build as FRESH `seg` slices
    * (ids past the cell's current max); existing segments are returned
    * byte-identical. `maxSegmentSize` slices an oversized arrival batch
    * per cell like the builder does. Driver state: ≤ nCells (part,
    * maxSeg) pairs plus the centroids already in hand. Compact slice
    * growth later with `mergeSegments(withinPart = true)`.
    *
    * Ids must be globally unique across existing + batch (the ingest
    * keys — [[appendSegments]]' contract): a re-appended id becomes a
    * SECOND node and searches could emit it twice; replays must dedup
    * upstream (the Bloom-gated ingest loops do) or route through
    * [[purgeTombstones]] first.
    */
  def appendGraphCells(existing: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, centroids: Array[(Int, Array[Float])], m: Int = 8,
      efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue): DataFrame =
    existing.unionByName(buildAppendSegments(existing, batch, idCol,
      vecCol, centroids, NodeCodec.Float, m, efConstruction, maxSegmentSize))

  /** An append's fresh-segment half on its own, on either tier — ONLY the
    * new slices (existing rows are the caller's to union): the monitored
    * append materializes just this delta before logging, and a partial
    * rebuild's bookkeeping wants the added rows separately. `codec`
    * assigns each arrival its cell against `centroids` (the index's own).
    */
  private[graft] def buildAppendSegments(existing: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])], codec: NodeCodec[_], m: Int,
      efConstruction: Int, maxSegmentSize: Int): DataFrame = {
    // a cell the existing index never saw starts its slices at 0
    val segBase = existing.groupBy(col("part")).agg(max(col("seg")))
      .collect().map(r => r.getInt(0) -> (r.getInt(1) + 1)).toMap
    val arrivals = codec.assign(
      batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      centroids)
    buildCellSegments(codec, arrivals, m, efConstruction, maxSegmentSize, segBase)
  }

  /** Slice counts for cells exceeding `maxSegmentSize` — the build-skew
    * guard: a hot cell (clumped corpora concentrate k-means mass) would
    * otherwise hand ONE task the whole cell's single-threaded graph
    * construction. Cells under the cap keep one segment (empty map = no
    * extra job at all when the cap is off); oversized cells split into
    * ceil(n/cap) hash-sliced sub-segments, each an independent graph
    * built in its own task, searched as ≤ceil(n/cap) extra beams per
    * routed probe (the v17 segment model applied WITHIN a cell). Driver
    * state is ≤ nCells (cell, count) pairs.
    */
  private def cellSlices(counts: org.apache.spark.sql.Dataset[(Int, Long)],
      maxSegmentSize: Int): Map[Int, Int] =
    if (maxSegmentSize == Int.MaxValue) Map.empty
    else counts.collect()
      .map { case (c, n) =>
        c -> ((n + maxSegmentSize - 1) / maxSegmentSize).toInt }
      .filter(_._2 > 1).toMap

  /** Deterministic sub-segment of `id` within `cell` (0 when unsliced). */
  private def sliceOf(id: Long, cell: Int, slices: Map[Int, Int]): Int =
    slices.get(cell) match {
      case Some(s) => java.lang.Math.floorMod(fmix64(id), s.toLong).toInt
      case None => 0
    }

  /** The cells a probe routes to — the IVF rule verbatim, exposed so
    * gates can assert the fan-out bound from outside the search.
    */
  def routeCells(centroids: Array[(Int, Array[Float])], probe: Array[Float],
      nprobe: Int): Seq[Int] = Similarity.nearestCells(centroids, probe, nprobe)

  /** Routed batch search over a [[buildGraphPerCell]] index: each probe
    * resolves its nprobe cells against the broadcast centroids (raw
    * space — identical routing to [[Similarity.searchIvfBatch]]), only
    * segments holding a routed cell run a beam, and per-probe top-k
    * merges across its cells through the bounded-heap aggregator. A cell
    * nobody routes to is never searched (and, on a cell-partitioned
    * persisted layout, never read — the PartitionFilters discipline of
    * `searchIvfPartitionedBatch` applies unchanged).
    */
  def searchGraphRouted(nodes: DataFrame,
      centroids: Array[(Int, Array[Float])], probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      ef: Int, tombstones: Option[DataFrame] = None): DataFrame =
    mergeTopK(routedCandidates(NodeCodec.Float, nodes, routeBatch(probes,
      probeId, probeVec, centroids, nprobe, pq = None), None, k, ef,
      tombstones).toDF("probe_id", "id", "sim"), k)

  /** FILTERED routed graph search — the [[Similarity.searchIvfFiltered]]
    * contract on the graph tier (the reference's own serving surface
    * combines a metadata filter with every vector query,
    * tools/aisearch.py:162-212): `allowed` is whatever the attribute
    * predicate selects (one `id` column, any size — it joins, never
    * collects), and the result is the top-k of the allowed subset within
    * the probe's routed cells.
    *
    * PRE-filtering, not discard-after-rank: the allowed flag rides each
    * node into the beam, which traverses the FULL graph (connectivity
    * untouched) but admits only allowed nodes to the ef-bounded result
    * heap — so a selective filter widens the walk instead of starving
    * top-k, degenerating to an exhaustive sweep of the probed cells when
    * allowed ∩ cells is tiny (the correct fallback: the flat filtered
    * scan [[Similarity.searchIvfFiltered]] runs on exactly that subset).
    *
    * Cost shape: the allowed join + locality restore shuffle ONLY the
    * probed cells' nodes (the filter lands before the join); everything
    * after is the routed beam path unchanged.
    *
    * `tombstones` composes with the filter (emit = allowed AND live) —
    * a deployment masking deletes between purges serves filtered
    * queries through the same mask.
    */
  def searchGraphRoutedFiltered(nodes: DataFrame,
      centroids: Array[(Int, Array[Float])], probes: DataFrame,
      probeId: String, probeVec: String, allowed: DataFrame, nprobe: Int,
      k: Int, ef: Int, tombstones: Option[DataFrame] = None): DataFrame =
    mergeTopK(routedCandidates(NodeCodec.Float, nodes, routeBatch(probes,
      probeId, probeVec, centroids, nprobe, pq = None), Some(allowed), k, ef,
      tombstones).toDF("probe_id", "id", "sim"), k)

  /** Collect the probe batch (bounded — a serving batch, never the
    * corpus) as (id, vec), in the frame's row order. A null id, a null
    * vector or a null vector element has no route and no beam, so it is
    * refused up front with the column's name rather than surfacing as an
    * NPE inside the decoder or the normalizer (or, for an element, as a
    * silent 0.0f).
    *
    * A frame whose analyzed plan is a `LocalRelation` (a serving
    * request's `createDataFrame` batch) with an integral id column and
    * an `array<float>` vector column is read straight from the rows the
    * driver already holds: no Spark action, so no analysis, optimization,
    * planning or codegen of a collect. Any other frame is collected with
    * `select(cast).collect()`; its rows are read by index, since a typed
    * `.as[...]` would derive a reflection encoder on every call. Both
    * reads refuse the same rows with the same messages.
    */
  private[operators] def collectProbes(probes: DataFrame, probeId: String,
      probeVec: String): Array[(Long, Array[Float])] =
    localProbes(probes, probeId, probeVec).map(_.toArray).getOrElse(
      probes.select(col(probeId).cast("long"), col(probeVec)).collect().map(r =>
        probe(probeId, probeVec, r.isNullAt(0), r.getLong(0),
          if (r.isNullAt(1)) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(
            r.getSeq[Any](1)))))

  /** One probe row, refused as [[collectProbes]] says: `idNull` is
    * checked before `id` is read, and `vec` is null for a null vector.
    */
  private def probe(probeId: String, probeVec: String, idNull: Boolean,
      id: => Long, vec: org.apache.spark.sql.catalyst.util.ArrayData)
      : (Long, Array[Float]) = {
    if (idNull) throw new IllegalArgumentException(
      s"routed search: probe id column `$probeId` holds a null " +
        "(or a value that does not cast to long)")
    if (vec == null) throw new IllegalArgumentException(
      s"routed search: probe vector column `$probeVec` holds a null")
    var i = 0
    while (i < vec.numElements()) {
      if (vec.isNullAt(i)) throw new IllegalArgumentException(
        s"routed search: probe vector column `$probeVec` holds a null element")
      i += 1
    }
    (id, vec.toFloatArray())
  }

  /** [[collectProbes]]' read of a frame analyzed to a `LocalRelation`
    * whose `probeId` column (resolved with the session's resolver) is
    * integral and whose `probeVec` column is `array<float>`: its rows,
    * refused lazily as they are read. None for any other frame — an
    * ambiguous, unknown or nested name included, which the collect then
    * reports as Spark does.
    */
  private[operators] def localProbes(probes: DataFrame, probeId: String,
      probeVec: String): Option[Iterator[(Long, Array[Float])]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    probes.queryExecution.analyzed match {
      case rel: LocalRelation if !rel.isStreaming =>
        val resolver = probes.sparkSession.sessionState.conf.resolver
        def ordinal(name: String): Option[Int] =
          UnresolvedAttribute.quotedString(name).nameParts match {
            case Seq(n) => rel.output.indices.filter(i =>
                resolver(rel.output(i).name, n)) match {
              case Seq(i) => Some(i)
              case _ => None
            }
            case _ => None
          }
        for {
          i <- ordinal(probeId)
          v <- ordinal(probeVec)
          readId <- rel.output(i).dataType match {
            case LongType => Some((r: InternalRow) => r.getLong(i))
            case IntegerType => Some((r: InternalRow) => r.getInt(i).toLong)
            case ShortType => Some((r: InternalRow) => r.getShort(i).toLong)
            case ByteType => Some((r: InternalRow) => r.getByte(i).toLong)
            case _ => None
          }
          if (rel.output(v).dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          })
        } yield rel.data.iterator.map(r => probe(probeId, probeVec,
          r.isNullAt(i), readId(r), if (r.isNullAt(v)) null else r.getArray(v)))
      case _ => None
    }
  }

  /** Route each probe of the batch to its nprobe cells, searching on unit
    * vectors: routing in the centroids' space — RAW on the float tier
    * (`pq = None`), unit on the PQ tier, whose index trains its cells
    * on unit vectors (rotated first on an OPQ index, [[Opq.intoSpace]]).
    * ONE definition serves every routed search path.
    */
  private def routeBatch(probes: DataFrame, probeId: String,
      probeVec: String, centroids: Array[(Int, Array[Float])], nprobe: Int,
      pq: Option[Similarity.IvfPqIndex]): Map[Int, Array[(Long, Array[Float])]] =
    collectProbes(probes, probeId, probeVec)
      .flatMap { case (pid, raw) =>
        val v = pq.fold(raw)(ix => Opq.intoSpace(raw, ix.rotation).toArray)
        val u = l2unit(v)
        Similarity.nearestCells(centroids, if (pq.isDefined) u else v, nprobe)
          .map(c => (c, (pid, u)))
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }

  /** The ONE in-memory routed beam of both tiers, filtered or not: each
    * (part, seg) segment of a routed cell beams its cell's probes with
    * `codec`'s scorer and emits ≤ k (probe_id, id, score) candidates per
    * probe. `allowed` (one `id` column, any size — it joins, never
    * collects) flags each node of the routed cells, and the flag rides
    * the node through the locality-restoring shuffle; the beam traverses
    * every node but emits only allowed, live ones
    * ([[searchGraphRoutedFiltered]]). `tombstones` masks deletes on both.
    */
  private def routedCandidates[N <: SegmentNode: scala.reflect.ClassTag](
      codec: NodeCodec[N], nodes: DataFrame,
      routes: Map[Int, Array[(Long, Array[Float])]], allowed: Option[DataFrame],
      k: Int, ef: Int, tombstones: Option[DataFrame])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val flagged = allowed match {
      case None => nodes.withColumn("allowed", lit(true))
      case Some(a) => nodes.filter(col("part").isin(routes.keys.toSeq: _*))
        // distinct: an attribute predicate can emit one row per (id, match)
        // — duplicate allowed ids would otherwise duplicate graph nodes
        // through the left join and emit the same id twice in a top-k
        .join(a.select(col("id").cast("long").as("id")).distinct()
          .withColumn("allowed", lit(true)), Seq("id"), "left")
        .withColumn("allowed", coalesce(col("allowed"), lit(false)))
        // the join redistributed rows by id — reassemble segments whole
        .repartition(col("part"), col("seg"))
    }
    val bc = spark.sparkContext.broadcast((routes, codec))
    val bcTomb = broadcastTombstones(spark, tombstones)
    val efLocal = math.max(ef, k)
    flagged.select(struct(codec.columns: _*).as("_1"), col("allowed").as("_2"))
      .as(org.apache.spark.sql.Encoders.tuple(codec.encoder,
        org.apache.spark.sql.Encoders.scalaBoolean))
      .mapPartitions { it =>
        val (rts, c) = bc.value
        it.toArray.groupBy(f => (f._1.part, f._1.seg)).iterator.flatMap {
          case ((cell, _), fs) =>
            rts.get(cell) match {
              case Some(qs) =>
                val ns = fs.map(_._1)
                val live = liveEmit(bcTomb.map(_.value), ns)
                searchSegment(ns, qs, k, efLocal, i => fs(i)._2 && live(i),
                  c.scorer(ns, cell))
              case None => Iterator.empty
            }
        }
      }
  }

  /** Persist the per-cell graph in the partition-pruned serving layout —
    * the [[Similarity.writeIvf]] analog: one directory per cell (`part`),
    * so a routed search reads ONLY the probed cells' directories (the
    * `part IN (…)` predicate lands in the scan's PartitionFilters —
    * spec-asserted). Store it next to the IVF index's own tables and the
    * tiers share one layout discipline.
    */
  // Explicit reader schemas for the two cells layouts this file writes
  // (float [[GraphNode]] / PQ [[PqGraphNode]], written partitionBy("part"))
  // — supplied at every persisted-cells read so none pays a per-read
  // schema-inference job (see Similarity's artifact-schema note; the
  // cold paths read cells once per probe batch / tick).
  private def longArr2 = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false))
  private def cellsSchemaWith(payload: org.apache.spark.sql.types.StructField) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      payload,
      org.apache.spark.sql.types.StructField("level",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("neighbors", longArr2),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType)))
  private[graft] val cellsSchema = cellsSchemaWith(
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false)))
  private[graft] val pqCellsSchema = cellsSchemaWith(
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.BinaryType))

  def writeGraphCells(nodes: DataFrame, dir: String): Unit = {
    // one task per cell, cells round robin over the cores: one file per
    // cell directory instead of one per (input partition, cell) — each
    // file costs a fixed create/commit — and every core writing while
    // there are at least as many cells as cores. The price: a hot cell's
    // whole write runs on one task, although `cellSlices` and
    // `maxSegmentSize` split its graph build over several (SCALING.md,
    // "Delta cycle cost")
    val n = nodes.sparkSession.sparkContext.defaultParallelism
    nodes.repartitionById(n, pmod(col("part"), lit(n)))
      .write.mode("overwrite").partitionBy("part").parquet(dir)
  }

  /** ATOMIC publication of a graph rebuild — [[writeGraphCells]] composed
    * with [[graft.pipeline.VersionedIndex]], the same snapshot-isolation
    * discipline the parquet index's rebuilds have: the new graph
    * materializes fully under a fresh version directory, then ONE pointer
    * rename publishes it. Readers pin a version at open time
    * ([[searchGraphRoutedPublished]] resolves CURRENT once per batch), so
    * a search never observes a half-written graph while a rebuild lands,
    * and a writer crash mid-materialization leaves the served version
    * untouched. Retention keeps `keepVersions` so in-flight readers drain
    * before their version vacuums. Returns the published version name.
    */
  def publishGraphCells(nodes: DataFrame, root: String,
      keepVersions: Int = 2): String =
    graft.pipeline.VersionedIndex.publishInto(root, keepVersions)(dir =>
      writeGraphCells(nodes, dir))

  /** [[searchGraphRoutedPersisted]] against the CURRENTLY PUBLISHED
    * version under a [[publishGraphCells]] root — the version resolves
    * once per probe batch, so every beam in the batch reads one
    * consistent snapshot however many rebuilds land meanwhile.
    */
  def searchGraphRoutedPublished(spark: SparkSession, root: String,
      centroids: Array[(Int, Array[Float])], probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int, ef: Int,
      tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val v = graft.pipeline.VersionedIndex.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published graph version under $root"))
    persistedSearch(spark, s"$root/$v", s"root $root version $v", centroids,
      None, probes, probeId, probeVec, nprobe, k, ef, tombstones, allowed)
  }

  /** [[searchGraphRouted]] against the PERSISTED layout — the 100 TB
    * serving shape: probes route driver-side against the broadcast
    * centroid table, the scan reads only the routed cells' partition
    * directories, and cold segments never leave disk. Results are
    * row-identical to the in-memory routed search (same float bytes,
    * same beams — gate-pinned). `allowed` serves an attribute-filtered
    * query through the same files ([[searchGraphRoutedFiltered]]'s
    * contract — its cell prune lands in the scan's PartitionFilters and
    * its flag join restores segment locality, so the persisted filtered
    * path is row-identical to the in-memory filtered path over the same
    * files); `tombstones` composes with it (emit = allowed AND live).
    *
    * The unfiltered search is one [[RoutedGraphSearch]] plan node: one
    * Spark job of one stage, no exchange, the per-probe top-k merged on
    * the driver. The session must carry [[RoutedGraphSearchStrategy]]
    * (`spark.sql.extensions=graft.GraftExtensions`, which
    * [[graft.Tables.configure]] installs); without it the call refuses
    * with an `IllegalStateException` naming that setting.
    */
  def searchGraphRoutedPersisted(spark: SparkSession, dir: String,
      centroids: Array[(Int, Array[Float])], probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      ef: Int, tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame =
    persistedSearch(spark, dir, s"cells $dir", centroids, None, probes,
      probeId, probeVec, nprobe, k, ef, tombstones, allowed)

  /** [[searchGraphRoutedPersisted]] with `where` naming the served state
    * in the search job's description; the unfiltered search reads the
    * cells with `reader` when one is given.
    */
  private def persistedSearch(spark: SparkSession, dir: String, where: String,
      centroids: Array[(Int, Array[Float])],
      reader: Option[PartitionedFile => Iterator[InternalRow]], probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      ef: Int, tombstones: Option[DataFrame],
      allowed: Option[DataFrame]): DataFrame = allowed match {
    case Some(a) =>
      // the filtered path prunes to the routed cells itself (the filter
      // lands in this scan's PartitionFilters) and repartitions after
      // its flag join — no pre-shuffle needed here
      searchGraphRoutedFiltered(spark.read.schema(cellsSchema).parquet(dir), centroids,
        probes, probeId, probeVec, a, nprobe, k, ef, tombstones)
    case None =>
      if (!graft.core.Fs.exists(spark, dir))
        throw new java.io.FileNotFoundException(s"no graph cells directory at $dir")
      // route ONCE: the same map picks the cells' files and drives the
      // beams; each cell's files are read whole by one task, so every
      // (part, seg) segment stays local without a repartition
      val routes = routeBatch(probes, probeId, probeVec, centroids, nprobe,
        pq = None)
      val cells = routes.keys.toSeq.sorted
      val files = cells.flatMap(c =>
        graft.core.Fs.listDataFiles(spark, s"$dir/part=$c").map(st =>
          CellFile(c, st.getPath.toString, st.getLen, st.getModificationTime)))
      val nProbes = routes.valuesIterator.flatMap(_.iterator.map(_._1)).toSet.size
      RoutedGraphSearch.toDF(spark, RoutedGraphSearchSpec(files, routes, k, ef,
        tombstones.map(collectTombstones),
        s"routed graph search: $where, ${cells.size} probed cells, $nProbes probes",
        reader))
  }

  /** Run a publish's independent directory writes CONCURRENTLY (guide
    * §2.6: the scheduler back-fills one write's task tail with the
    * other's tasks; the legs touch disjoint dirs and their inputs are
    * checkpointed by the callers). Await-all-then-rethrow. Each leg runs
    * under the calling thread's job description: a pool thread inherits
    * none ([[graft.core.Pools.io]]).
    */
  private[operators] def overlapWrites(spark: SparkSession,
      legs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    // dedicated cached pool, NOT the process-global EC: a publish leg that
    // itself overlaps its side writes (publishPqServing → writeIvfPq)
    // nests overlap, and the fixed-size global pool can serialize or
    // wedge the inner legs on a low-core machine (r19 advice)
    implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.io
    val sc = spark.sparkContext
    val description = graft.core.Jobs.description(sc)
    legs.map(l => Future(graft.core.Jobs.labelled(sc, description)(l())))
      .map(f => scala.util.Try(
        Await.result(f, scala.concurrent.duration.Duration.Inf)))
      .collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }

  /** Publish the COMPLETE FLOAT serving state under one version — graph
    * cells AND the routing head ([[Similarity.writeIvfHead]]: centroids
    * + drift reference; the nodes table already carries the vectors, so
    * no corpus-sized artifact duplicates) — the float tier's
    * [[publishPqServing]]: one pointer flip covers adjacency, routing
    * and the monitor's reference, and a fresh process serves from the
    * root alone ([[searchGraphRoutedColdStart]]). Layout:
    * `<root>/v<NNN>/cells` + `<root>/v<NNN>/artifacts`.
    *
    * After the flip the publish hands this JVM's searchers the head it
    * just wrote: the root's [[routingHead]] entry becomes the written
    * centroids (copied, in [[Similarity.readCentroids]]' cell order) under
    * the stamp a search computes for the version, keeping the held cells
    * reader when it was built for `nodes`' session and SQL settings. The
    * first search after the publish then reads no centroids.
    */
  def publishServing(nodes: DataFrame,
      centroids: Array[(Int, Array[Float])], root: String,
      driftStats: Option[Similarity.DriftStats] = None,
      keepVersions: Int = 2): String = {
    val spark = nodes.sparkSession
    val v = graft.pipeline.VersionedIndex.publishInto(root, keepVersions) { dir =>
      overlapWrites(spark,
        () => writeGraphCells(nodes, s"$dir/cells"),
        () => Similarity.writeIvfHead(spark, centroids, s"$dir/artifacts",
          driftStats))
    }
    val stamp = headStamp(spark, root, v)
    val confs = spark.sessionState.conf.getAllConfs
    val written = centroids.map { case (c, x) => (c, x.clone()) }.sortBy(_._1)
    routingHeads.compute(root, (_, held) => RoutingHead(stamp, written,
      Option(held).flatMap(_.reader).filter(_.builtFor(spark, confs))))
    v
  }

  /** COLD-START float serving — [[searchGraphRoutedPqColdStart]]'s
    * float twin: resolve CURRENT on every call, take the version's
    * routing centroids from [[routingHead]] (decoded at most once per
    * published version, and not at all after this JVM's
    * [[publishServing]] of it; the drift reference is not read — routing
    * never needs it), serve through [[searchGraphRoutedPersisted]]
    * (row-identical to the in-memory routed search over the same
    * files). No corpus handle needed — the cells carry the floats.
    *
    * A request whose probes are a `LocalRelation` ([[collectProbes]])
    * builds its search with no Spark action: the caller's own action on
    * the returned frame is the request's one SQL execution and one job.
    * A PQ or OPQ root holds no float vectors and is refused, naming
    * [[searchGraphRoutedPqColdStart]] (checked when [[routingHead]]
    * reads a version's head, so a warm request pays nothing for it).
    */
  def searchGraphRoutedColdStart(spark: SparkSession, root: String,
      probes: DataFrame, probeId: String, probeVec: String, nprobe: Int,
      k: Int, ef: Int, tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val v = graft.pipeline.VersionedIndex.currentVersion(root).getOrElse(
      throw new IllegalStateException(
        s"no published serving state under $root"))
    val head = routingHead(spark, root, v)
    persistedSearch(spark, s"$root/$v/cells", s"root $root version $v",
      head.centroids, head.reader.map(_.read), probes, probeId, probeVec,
      nprobe, k, ef, tombstones, allowed)
  }

  /** The float serving root's routing head, per root: the last served
    * version's centroid array (driver-side floats only — no DataFrame,
    * no node data) under a content stamp of the version name plus the
    * part-file names of `<version>/artifacts/centroids`. Spark names
    * every part file with a fresh UUID, so a publish — or a root deleted
    * and republished at the same path and version name — changes the
    * stamp and the next call re-reads; a hit costs one directory
    * listing and no Spark job. One entry per root; `compute` serializes
    * a root's concurrent misses into one read. [[publishServing]] seeds
    * the entry with the head it wrote, so only a root published by
    * another process, or without [[publishServing]], is read here.
    *
    * Beside the centroids the entry keeps the cells reader the search
    * reads the files with ([[RoutedGraphSearchExec.cellsReader]]: a
    * Hadoop-configuration copy and its broadcast). The reader does not
    * depend on the version, so a new head keeps it; it is rebuilt when
    * the entry has none or the session or SQL settings
    * (`sessionState.conf.getAllConfs`) differ from those it was built
    * under. A direct `sparkContext.hadoopConfiguration` edit is not seen
    * by that check: it takes effect when a reader is next built.
    */
  private final case class RoutingHead(stamp: Seq[String],
      centroids: Array[(Int, Array[Float])], reader: Option[CellsReader])
  /** A cells reader and the session (held weakly) and settings it was
    * built under.
    */
  private final case class CellsReader(
      session: java.lang.ref.WeakReference[SparkSession],
      confs: Map[String, String],
      read: PartitionedFile => Iterator[InternalRow]) {
    def builtFor(spark: SparkSession, now: Map[String, String]): Boolean =
      (session.get eq spark) && confs == now
  }
  private val routingHeads =
    new java.util.concurrent.ConcurrentHashMap[String, RoutingHead]()
  private val cellsReaderCount = new java.util.concurrent.atomic.AtomicLong()

  private def buildCellsReader(spark: SparkSession,
      confs: Map[String, String]): CellsReader = {
    cellsReaderCount.incrementAndGet()
    CellsReader(new java.lang.ref.WeakReference(spark), confs,
      RoutedGraphSearchExec.cellsReader(spark))
  }

  /** A version's routing-head stamp: its name and the part-file names of
    * its `artifacts/centroids`.
    */
  private def headStamp(spark: SparkSession, root: String,
      version: String): Seq[String] =
    version +: graft.core.Fs.listDataFileNames(spark,
      s"$root/$version/artifacts/centroids")

  /** The root's routing head for `version`, as [[RoutingHead]] says: the
    * held entry on a stamp hit, else — once [[ServingTier.of]] shows a
    * float version — the version's centroids read with the held reader
    * kept; then a reader built unless the held one was built for `spark`
    * and its current SQL settings.
    */
  private def routingHead(spark: SparkSession, root: String,
      version: String): RoutingHead = {
    val stamp = headStamp(spark, root, version)
    val confs = spark.sessionState.conf.getAllConfs
    routingHeads.compute(root, (_, held) => {
      def read() = ServingTier.of(spark, root, version) match {
        case ServingTier.Float => Similarity.readCentroids(spark,
          s"$root/$version/artifacts/centroids")
        case tier => throw new IllegalStateException(s"$root/$version is " +
          s"a ${tier.name} serving root (codes, no float vectors) — serve " +
          "it with GraphAnn.searchGraphRoutedPqColdStart")
      }
      val head =
        if (held != null && held.stamp == stamp) held
        else RoutingHead(stamp, read(), Option(held).flatMap(_.reader))
      if (head.reader.exists(_.builtFor(spark, confs))) head
      else head.copy(reader = Some(buildCellsReader(spark, confs)))
    })
  }

  /** The root's held routing head: its stamp and centroids. */
  private[operators] def heldRoutingHead(
      root: String): Option[(Seq[String], Array[(Int, Array[Float])])] =
    Option(routingHeads.get(root)).map(h => (h.stamp, h.centroids))

  /** Roots the routing-head memo holds an entry for. */
  private[operators] def routingHeadRoots: Int = routingHeads.size

  /** Cells readers the routing-head memo has built. */
  private[operators] def cellsReaderBuilds: Long = cellsReaderCount.get

  /** Publish the COMPLETE PQ serving state under one version — graph
    * cells AND the training artifacts ([[Similarity.writeIvfPq]]:
    * centroids, codebook, coded table, clump-bound manifest) — so a
    * single pointer flip covers codes, adjacency and the state a fresh
    * process needs to serve them. This closes the cold-start gap the
    * split publish left: [[publishGraphCells]] made the ADJACENCY
    * durable while the `IvfPqIndex` stayed a JVM object, so a restarted
    * server could read the graph but not rebuild ADC tables (and
    * retraining would orphan every persisted code byte). Layout:
    * `<root>/v<NNN>/cells` + `<root>/v<NNN>/artifacts`. Pass the
    * build-time [[pqClumpBound]] so serving skips the guard scan, and
    * the training corpus's [[Similarity.driftStats]] (unit space) so a
    * cold-started server can run [[appendGraphCellsPqMonitored]] without
    * re-scanning a corpus it may not even have — the reference lands in
    * the artifacts and comes back through [[Similarity.readIvfPq]].
    */
  def publishPqServing(nodes: DataFrame, index: Similarity.IvfPqIndex,
      root: String, clumpBound: Option[Int] = None,
      driftStats: Option[Similarity.DriftStats] = None,
      keepVersions: Int = 2): String =
    graft.pipeline.VersionedIndex.publishInto(root, keepVersions) { dir =>
      overlapWrites(nodes.sparkSession,
        () => writeGraphCells(nodes, s"$dir/cells"),
        () => Similarity.writeIvfPq(index, s"$dir/artifacts", clumpBound,
          driftStats))
    }

  /** COLD-START published serving: a fresh session (no in-memory
    * [[Similarity.IvfPqIndex]], no clump memo) resolves CURRENT once,
    * reads centroids + codebook + clump bound from the version's
    * artifacts ([[Similarity.readIvfPq]] — bit-exact round-trip), and
    * serves through [[searchGraphRoutedPqPersisted]] — row-identical to
    * the in-memory path over the same files (gate v34), the reference's
    * self-contained-index property. `corpus` is the float table for the
    * exact rerank (in a deployment, the documents/embeddings table —
    * index artifacts never duplicate it). Artifacts are one tiny read
    * per probe BATCH; a long-lived server calls [[Similarity.readIvfPq]]
    * once per published version instead.
    *
    * The tier comes from the version ([[ServingTier.of]]). An OPQ
    * root's rotation comes back with the artifacts, in the same read,
    * and the index serves it as the in-memory search does — row-identical
    * to [[searchGraphRoutedPq]] over the same files (gate v40). A float
    * root holds no codes and is refused, naming
    * [[searchGraphRoutedColdStart]].
    */
  def searchGraphRoutedPqColdStart(spark: SparkSession, root: String,
      corpus: DataFrame, idCol: String, vecCol: String, probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int, ef: Int,
      rerankFactor: Int = 4, tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val v = graft.pipeline.VersionedIndex.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published PQ serving state under $root"))
    if (ServingTier.of(spark, root, v) == ServingTier.Float)
      throw new IllegalStateException(s"$root/$v is a float serving root " +
        "(no PQ codes) — serve it with GraphAnn.searchGraphRoutedColdStart")
    val art = Similarity.readIvfPq(spark, s"$root/$v/artifacts")
    searchGraphRoutedPqPersisted(spark, s"$root/$v/cells", art.index,
      corpus, idCol, vecCol, probes, probeId, probeVec, nprobe, k, ef,
      rerankFactor, clumpGuard = true, clumpBound = art.clumpBound,
      tombstones = tombstones, allowed = allowed)
  }

  /** [[searchGraphRoutedPq]] against the PERSISTED partition-per-cell
    * layout — the tier a 100 TB deployment actually serves from (DiskANN
    * posture: codes + adjacency on disk, ~40 B/node at 8 subspaces +
    * m=8, read cell-by-cell; the float corpus is touched only by the
    * exact rerank's bounded survivor join): probes route driver-side,
    * the scan reads ONLY the routed cells' directories (`part IN (…)`
    * in PartitionFilters — spec-asserted), one bounded shuffle restores
    * segment locality, then the in-memory routed PQ path runs unchanged
    * — row-identical over the same files (gate-pinned). Pass the
    * build-time [[pqClumpBound]] as `clumpBound` in a serving deployment
    * (stored beside the index like the centroid table) — a fresh read
    * cannot reuse the in-JVM clump memo. `allowed` routes through
    * [[searchGraphRoutedPqFiltered]] (its own prune + locality restore);
    * `tombstones` composes on both paths.
    */
  def searchGraphRoutedPqPersisted(spark: SparkSession, dir: String,
      index: Similarity.IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, probes: DataFrame, probeId: String, probeVec: String,
      nprobe: Int, k: Int, ef: Int, rerankFactor: Int = 4,
      clumpGuard: Boolean = true, clumpBound: Option[Int] = None,
      tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    // route ONCE: the same map prunes the scan and drives the beams
    val routes = routeBatch(probes, probeId, probeVec, index.centroids,
      nprobe, Some(index))
    val cells = spark.read.schema(pqCellsSchema).parquet(dir)
    // a filtered search prunes and restores locality after its flag join
    val nodes = if (allowed.isDefined) cells
      else cells.filter(col("part").isin(routes.keys.toSeq: _*))
        .repartition(col("part"), col("seg"))
    routedPq(nodes, index, corpus, idCol, vecCol, probes, probeId, probeVec,
      routes, allowed, k, ef, rerankFactor, clumpGuard, clumpBound,
      tombstones)
  }

  /** [[searchGraphRoutedPqPersisted]] against the CURRENTLY PUBLISHED
    * version under a [[publishGraphCells]] root (one version resolve
    * per probe batch — [[searchGraphRoutedPublished]]'s snapshot
    * discipline on the PQ tier).
    */
  def searchGraphRoutedPqPublished(spark: SparkSession, root: String,
      index: Similarity.IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, probes: DataFrame, probeId: String, probeVec: String,
      nprobe: Int, k: Int, ef: Int, rerankFactor: Int = 4,
      clumpGuard: Boolean = true, clumpBound: Option[Int] = None,
      tombstones: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val v = graft.pipeline.VersionedIndex.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published graph version under $root"))
    searchGraphRoutedPqPersisted(spark, s"$root/$v", index, corpus, idCol,
      vecCol, probes, probeId, probeVec, nprobe, k, ef, rerankFactor,
      clumpGuard, clumpBound, tombstones, allowed)
  }

  /** Physically drop tombstoned nodes — the merge-time half of the delete
    * lifecycle ([[searchGraphBatch]]'s `tombstones` mask is the
    * serving-time half): every segment containing at least one tombstoned
    * node rebuilds WITHOUT them, in one task, by ascending-id re-insertion
    * over the stored unit vectors (no float changes); segments the delete
    * set never touched pass through BYTE-IDENTICAL, exactly
    * [[mergeSegments]]' pass-through discipline. Rebuilt segments keep
    * their (part, seg), so routed indexes stay routable — safe on BOTH
    * tiers, unlike a cross-part merge. Driver state: the tombstone id
    * array (bounded between purges by the maintenance contract) and the
    * ≤ nSegments touched-segment keys. Idempotent: purging the same set
    * again rebuilds nothing (no segment contains a tombstoned node any
    * more). Run [[mergeSegments]] afterwards if purging left segments
    * under target.
    */
  def purgeTombstones(nodes: DataFrame, tombstones: DataFrame, m: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    import nodes.sparkSession.implicits._
    purgeSegments(nodes, tombstones, m, efConstruction)(
      _.as[GraphNode].map(n => (n.part, n.seg, (n.id, n.vec, null: Array[Byte]))))
  }

  /** The ONE purge body of both tiers: the segments holding a tombstone
    * rebuild from `survivorRows` of their surviving nodes — build rows
    * keyed (part, seg) — on min(#touched, cores) packed tasks, keeping
    * `nodes`' columns; the untouched segments pass through by a (part,
    * seg) column predicate, never decoded. An empty touched set returns
    * `nodes` itself.
    */
  private def purgeSegments(nodes: DataFrame, tombstones: DataFrame, m: Int,
      efConstruction: Int)(survivorRows: DataFrame => org.apache.spark.sql.Dataset[
        (Int, Int, (Long, Array[Float], Array[Byte]))]): DataFrame = {
    val spark = nodes.sparkSession
    val ids = spark.sparkContext.broadcast(collectTombstones(tombstones))
    val isTomb = udf((id: Long) => java.util.Arrays.binarySearch(ids.value, id) >= 0)
    val touched = touchedSegments(nodes, isTomb)
    if (touched.isEmpty) return nodes
    val isTouched = segmentKey(col("part"), col("seg"))
      .isin(touched.keys.toSeq.map(segmentKey): _*)
    val rebuilt = buildSegments(
      survivorRows(nodes.filter(isTouched && !isTomb(col("id")))),
      packedTasks(spark, touched), m, efConstruction, Map.empty)
    nodes.filter(!isTouched)
      .unionByName(rebuilt.select(nodes.columns.toSeq.map(col): _*))
  }

  /** PQ-compressed graph node: `codes` is the IVF-PQ RESIDUAL code word
    * ([[Similarity.encodePq]] bytes, e.g. 8 B vs the 256 B float vector a
    * [[GraphNode]] stores) — the stored-index memory upgrade the
    * SCALING.md graph study left open. The graph STRUCTURE is built on
    * exact vectors (build-time memory is transient, one cell per task);
    * only the compressed form is persisted, the DiskANN memory layout
    * (Subramanya et al., NeurIPS 2019: PQ codes in RAM guide the beam,
    * full vectors live elsewhere and only rerank survivors).
    */
  final case class PqGraphNode(part: Int, id: Long, codes: Array[Byte],
      level: Int, neighbors: Array[Array[Long]], seg: Int = 0) extends SegmentNode

  /** [[buildGraphPerCell]] with PQ-compressed storage: cell membership
    * and code words come from the IVF-PQ index's own `coded` table (so
    * beam scores decompose exactly like [[Similarity.searchIvfPq]]'s ADC:
    * q̂·c_cell + residual table lookups), the per-cell graphs are built
    * on the exact unit vectors, and the emitted nodes carry ONLY the
    * codes — (subspaces + 2m·8) B/node instead of (dim·4 + 2m·8) B.
    * One corpus join (id → codes) + one group-by-cell shuffle. On an OPQ
    * index the corpus rotates first — one O(n) pass at BUILD time, never
    * at serving time.
    */
  def buildGraphPerCellPq(spark: SparkSession, corpus: DataFrame,
      idCol: String, vecCol: String, index: Similarity.IvfPqIndex,
      m: Int = 8, efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue): DataFrame =
    buildCellSegments(NodeCodec.pq(index), codedCells(Opq.intoSpace(corpus,
      idCol, vecCol, index.rotation), idCol, vecCol, index.coded), m,
      efConstruction, maxSegmentSize, Map.empty)

  /** A PQ cells frame: `corpus`' floats joined to the cell and code word
    * of their `coded` rows (an IVF-PQ index's `coded` table).
    */
  private def codedCells(corpus: DataFrame, idCol: String, vecCol: String,
      coded: DataFrame): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(coded.select(col("id"), col("cell"), col("pq_codes")), Seq("id"))

  /** Incremental append for the PQ tier — [[appendGraphCells]]' twin on
    * a [[buildGraphPerCellPq]] index, closing the DiskANN-shaped tier's
    * lifecycle: arrivals assign to their nearest cell and encode their
    * residual with the index's EXISTING codebook
    * ([[Similarity.encodeIntoIvfPq]] — no retrain, the `appendToIvf`
    * discipline, so appended codes score through the same ADC tables as
    * stored ones), and each cell's arrivals build as FRESH `seg` slices
    * past the cell's current max; existing segments are returned
    * byte-identical. Ids must be globally unique across existing + batch
    * ([[appendGraphCells]]' contract). Compact slice growth later with
    * `mergeSegments(withinPart = true)`; retrain drift via a scheduled
    * rebuild published through [[publishGraphCells]]. An OPQ index's
    * batch rotates into its space first.
    */
  def appendGraphCellsPq(existing: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, index: Similarity.IvfPqIndex,
      m: Int = 8, efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue): DataFrame =
    existing.unionByName(buildAppendSegments(existing,
      Opq.intoSpace(batch, idCol, vecCol, index.rotation), idCol, vecCol,
      index.centroids, NodeCodec.pq(index), m, efConstruction,
      maxSegmentSize))

  /** [[appendGraphCells]] with the drift monitor wired in — the float
    * graph tier's leg of the monitored-append surface (the three
    * no-retrain appends are [[Similarity.appendToIvfMonitored]] /
    * this / [[appendGraphCellsPqMonitored]]; with this the whole
    * surface reports drift). The float tier assigns in RAW space
    * ([[Similarity.buildIvf]] trains on vectors as given), so `ref` is
    * [[Similarity.driftStatsAssigned]] over the index's assignments
    * (or [[Similarity.driftStats]] with `unit = false`). Same
    * land-then-signal contract as the other two legs.
    */
  def appendGraphCellsMonitored(existing: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroids: Array[(Int, Array[Float])],
      ref: Similarity.DriftStats, m: Int = 8, efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue, residRatioMax: Double = 1.25,
      klMax: Double = 0.5,
      logTo: Option[String] = None): (DataFrame, Similarity.DriftReport) =
    monitoredAppend(existing, batch, idCol, vecCol, centroids, NodeCodec.Float,
      ref, unit = false, remedy = "publishGraphCells", m, efConstruction,
      maxSegmentSize, residRatioMax, klMax, logTo)

  /** The ONE monitored append of both graph tiers (a threshold-semantics
    * or warn-format fix lands on every leg): score, warn, append, log.
    * The monitor pass is one broadcast map over the ARRIVAL batch only —
    * the append's own assignment repeats it, a bounded second map with
    * no shuffle (the float IVF leg, whose write is a plain projection,
    * does fuse the two — [[Similarity.appendToIvfMonitored]]).
    *
    * `logTo` is the serving root the caller publishes to (e.g. a
    * [[publishPqServing]] root): when set, the report lands as one
    * `<logTo>/drift_log` row in the same format as the IVF-dir and
    * streaming legs, so a v36-style scheduler reads one log across all
    * three and a cold-started root carries its drift history. Compute,
    * then log: ONLY the fresh segments (the O(batch) delta — never the
    * O(index) union) materialize before the row writes, so a plan that
    * would fail never logs. That is the strongest ordering a
    * DataFrame-in/DataFrame-out leg can give — the delta provably
    * COMPUTED, but durability stays the caller's publish (if the process
    * dies between this log row and the publish, the root carries one log
    * row whose append never landed durably — replay dedup by `batch_id`
    * absorbs the retry). Without `logTo` the legs stay fully lazy — an
    * in-memory build has no directory to log beside.
    */
  private def monitoredAppend(existing: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroids: Array[(Int, Array[Float])],
      codec: NodeCodec[_], ref: Similarity.DriftStats, unit: Boolean,
      remedy: String, m: Int, efConstruction: Int, maxSegmentSize: Int,
      residRatioMax: Double, klMax: Double,
      logTo: Option[String]): (DataFrame, Similarity.DriftReport) = {
    val report = Similarity.driftReport(batch.sparkSession,
      batch.select(col(vecCol)), vecCol, centroids, ref, unit,
      residRatioMax, klMax)
    if (report.drifted)
      log.warn(f"append batch drifted from the trained distribution " +
        f"(residRatio ${report.residRatio}%.3f vs max $residRatioMax, " +
        f"massKl ${report.massKl}%.3f vs max $klMax over ${report.n} rows): " +
        s"appended vectors degrade recall as drift grows — schedule a " +
        s"retrain and republish via $remedy")
    val fresh = buildAppendSegments(existing, batch, idCol, vecCol, centroids,
      codec, m, efConstruction, maxSegmentSize)
    (logTo.fold(existing.unionByName(fresh)) { root =>
      val landed = fresh.localCheckpoint(true)
      Similarity.appendDriftLog(landed.sparkSession, s"$root/drift_log", report)
      existing.unionByName(landed)
    }, report)
  }

  /** [[appendGraphCellsPq]] with the drift monitor wired in (the float
    * IVF twin is [[Similarity.appendToIvfMonitored]]): the batch scores
    * against the build-time unit-space distribution `ref`
    * ([[Similarity.driftStats]] over the training corpus — store it with
    * [[Similarity.writeIvfPq]] so a cold-started server has it), a
    * drifted batch logs a WARN naming the rebuild remedy, and the report
    * returns WITH the appended graph so the caller's scheduler sees the
    * signal. The append itself lands either way — arrivals must be
    * searchable immediately; drift degrades recall, not correctness, and
    * the remedy (retrain + republish through [[publishPqServing]]) is a
    * scheduled job, not a per-batch veto.
    */
  def appendGraphCellsPqMonitored(existing: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, index: Similarity.IvfPqIndex,
      ref: Similarity.DriftStats, m: Int = 8, efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue, residRatioMax: Double = 1.25,
      klMax: Double = 0.5,
      logTo: Option[String] = None): (DataFrame, Similarity.DriftReport) =
    monitoredAppend(existing, Opq.intoSpace(batch, idCol, vecCol,
      index.rotation), idCol, vecCol, index.centroids, NodeCodec.pq(index),
      ref, unit = true, remedy = "publishPqServing", m, efConstruction,
      maxSegmentSize, residRatioMax, klMax, logTo)

  /** One bounded maintenance cycle's receipt: the republished version,
    * which cells tripped (now retired), their replacement cell ids, and
    * the two work sizes — the retrained region's rows and the
    * in-distribution remainder appended as fresh segments.
    */
  final case class PartialRebuildReport(version: String, tripped: Array[Int],
      newCells: Array[Int], regionRows: Long, restRows: Long)

  /** The bounded response to a drift signal — v36's full-retrain loop
    * with the retrain confined to the drifted region (FreshDiskANN
    * discipline, Singh et al. 2021: maintenance cost scales with the
    * CHANGED region, not the corpus — the cost lever the reference names
    * too, CHANGELOG v2.2.5 "full re-index = significant cost
    * implications"). Against the CURRENT version under `root`, whatever
    * its tier ([[ServingTier.of]]: a [[publishServing]] or
    * [[publishPqServing]] root, the latter PQ or OPQ):
    *
    *  1. Localize: score `batch` against the stored drift reference and
    *     take [[Similarity.trippedCells]]. No tripped cell → None (the
    *     caller's normal monitored append is the right path).
    *  2. Split the batch by the index's OWN routing: rows landing in
    *     tripped cells join the region, the remainder appends as fresh
    *     segments — every arrival lands exactly once.
    *  3. Retrain ONLY the region — the tripped cells' members (one
    *     corpus id-join, [[trippedMembers]]) plus the batch's tripped
    *     rows ([[Similarity.retrainCellsIvf]]; on PQ and OPQ
    *     [[Similarity.retrainCellsIvfPq]], against the UNCHANGED
    *     codebook) — and rebuild its graph; untouched cells pass through
    *     physically unchanged (gates v37, v38).
    *  4. Republish through the tier's ONE flip, with the EXACTLY-merged
    *     drift reference (and, on PQ and OPQ, the coded table and the
    *     conservatively merged clump bound: max(stored, fresh rows)).
    *
    * On an OPQ root `batch` and `corpus` arrive RAW: the batch rotates
    * once (O(batch)), the member floats rotate AFTER the O(corpus)
    * id-join checkpoints them (O(region)), and the rotation stays
    * frozen like the codebook. Lloyd, encoding and graph builds all run
    * over O(region + batch) rows. The reference folds the remainder's
    * post-append stats in, so it covers every served row. Batch ids must
    * be unique vs the index (the append contract). `appendWhenClean`
    * (r17 advice — the tick is the root's only writer): a batch that
    * trips no cell appends whole against the UNCHANGED index and
    * publishes, reported with an empty `tripped` set.
    */
  def rebuildDriftedServing(spark: SparkSession, root: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      batch: DataFrame, batchIdCol: String, batchVecCol: String,
      splitFactor: Int = 2, ivfIters: Int = 3, m: Int = 8,
      efConstruction: Int = 64, maxSegmentSize: Int = Int.MaxValue,
      residRatioMax: Double = 1.25, massRatioMax: Double = 4.0,
      minMass: Double = 0.01,
      keepVersions: Int = 2,
      appendWhenClean: Boolean = false): Option[PartialRebuildReport] = {
    val v = graft.pipeline.VersionedIndex.currentVersion(root).getOrElse(
      throw new IllegalStateException(
        s"no published serving state under $root"))
    val head = readDriftState(spark, root, v)
    // the tier's differences: PQ and OPQ route unit vectors (the float
    // tier routes them as given), and an OPQ index lives in rotated space
    // — the batch enters it here, the region's members once fetched, and
    // everything in between runs in index space
    val (unit, rotation) = head match {
      case PqDrift(art, _) => (true, art.index.rotation)
      case _ => (false, None)
    }
    // ONE nearest-centroid pass over the batch: the assignment drives
    // BOTH the drift scoring and the tripped/rest split below
    val assignedBatch = Similarity.assignUnitCells(spark,
      Opq.intoSpace(batch, batchIdCol, batchVecCol, rotation),
      batchIdCol, batchVecCol, head.centroids, unit)
      .localCheckpoint(true)
    val batchStats = Similarity.statsOverCellRn(
      assignedBatch.select(col("cell"), col("rn")))
    val tripped = Similarity.trippedCells(batchStats, head.ref,
      residRatioMax, massRatioMax, minMass)
    if (tripped.isEmpty && !appendWhenClean) {
      log.info(s"no cell of $root/$v trips on this batch " +
        s"(n=${batchStats.n}) — appending normally is the right response")
      return None
    }
    // the one nearest-centroid pass already counted the batch
    // (statsOverCellRn) — no second count job (r19). n counts the
    // batch's non-null-vector rows (driftStats filters vec IS NOT NULL);
    // assigned batches are null-free by construction — the assignment
    // itself dereferences every vector — so n == the full batch count
    // (r19 verdict item 5 pins this invariant).
    if (tripped.isEmpty && batchStats.n == 0L) return None
    val nodes = spark.read.schema(if (unit) pqCellsSchema else cellsSchema)
      .parquet(s"$root/$v/cells")
    val trippedSeq = tripped.toSeq
    // a clean batch is all remainder against the unchanged index
    val region =
      if (tripped.isEmpty) None
      else {
        // region floats: tripped cells' CURRENT members (ids from the
        // graph — it carries post-publish appends the PQ coded table may
        // lack; this rebuild heals that asymmetry for the region) + the
        // batch's tripped rows. One id-join against the corpus,
        // O(region), rotated into index space only after it lands.
        val regionFloats = Opq.intoSpace(
            trippedMembers(nodes, corpus, idCol, vecCol, tripped), "id", "vec",
            rotation)
          .unionByName(assignedBatch.filter(col("cell").isin(trippedSeq: _*))
            .select(col("id"), col("vec")))
          .localCheckpoint(true) // feeds retrain, graph build and the count
        // the retrain is the tier's own; the region's graph is one build
        val (next, cells, newCells, rows) = head match {
          case FloatDrift(centroids, ref) =>
            val p = Similarity.retrainCellsIvf(spark, centroids, Some(ref),
              regionFloats, "id", "vec", tripped, splitFactor, ivfIters)
            (FloatDrift(p.centroids, p.mergedStats), p.regionAssignments,
              p.newCells, p.regionStats.n)
          case pq @ PqDrift(art, _) =>
            // re-encoded against the UNCHANGED codebook; the graph build
            // joins the REGION-restricted coded view so it touches only
            // region rows (the full view would re-scan the corpus)
            val p = Similarity.retrainCellsIvfPq(spark, art, regionFloats,
              "id", "vec", tripped, splitFactor, ivfIters)
            (pq.copy(art = art.copy(index = p.index), ref = p.mergedStats),
              codedCells(regionFloats, "id", "vec", p.regionCoded), p.newCells,
              p.regionStats.n)
        }
        Some(Retrained(next, buildCellSegments(next.codec, cells, m,
          efConstruction, maxSegmentSize, Map.empty).localCheckpoint(true),
          newCells, rows))
      }
    val state = region.fold(head)(_.next)
    val kept = region.fold(nodes)(r => nodes
      .filter(!col("part").isin(trippedSeq: _*)).unionByName(r.nodes))
    val rest = (if (region.isEmpty) assignedBatch
      else assignedBatch.filter(!col("cell").isin(trippedSeq: _*)))
      .select(col("id"), col("vec")).localCheckpoint(true)
    val restRows = if (region.isEmpty) batchStats.n else rest.count()
    // fresh segments ONLY: the remainder's post-append routing and the
    // PQ coded rows read from the O(batch) delta, never a full-graph scan
    val appended =
      if (restRows == 0L) None
      else Some(buildAppendSegments(kept, rest, "id", "vec", state.centroids,
        state.codec, m, efConstruction, maxSegmentSize).localCheckpoint(true))
    // the remainder's stats at its POST-APPEND routing (the append routes
    // against the retrained centroid set, so a remainder row can land in
    // a fresh cell — the pre-split assignment is the wrong basis), folded
    // into the published reference so it covers EVERY row the index
    // serves. Segments emit exactly ONE row per node (levels nest in the
    // neighbors array — Builder.emit), so the id-join is 1:1. PQ and OPQ
    // measure on unit vectors; the float reference on raw ones.
    val publishedRef = appended.fold(state.ref) { fresh =>
      val assigned = rest.join(fresh.select(col("id"),
        col("part").as("cell")), Seq("id"))
      val unitU = udf((vv: Seq[Float]) => Similarity.l2unit(vv).toSeq)
      Similarity.combineRefs(state.ref, Similarity.driftStatsAssigned(spark,
        if (unit) assigned.withColumn("vec", unitU(col("vec"))) else assigned,
        "cell", "vec", state.centroids))
    }
    val newNodes = appended.fold(kept)(kept.unionByName)
    val newV = state match {
      case FloatDrift(centroids, _) => publishServing(newNodes, centroids,
        root, Some(publishedRef), keepVersions)
      case PqDrift(art, _) =>
        // the segments already carry the codes — derive the coded rows
        // instead of encoding the remainder twice
        val index = art.index.copy(coded = appended.fold(art.index.coded)(f =>
          art.index.coded.unionByName(f.select(col("id"),
            col("part").as("cell"), col("codes").as("pq_codes")))))
        // conservative merge over the rows this rebuild built
        val bound = art.clumpBound.fold(pqClumpBound(newNodes))(b =>
          math.max(b, pqClumpBound(
            (region.map(_.nodes) ++ appended).reduce(_ unionByName _))))
        // an OPQ index carries its frozen rotation through the same flip
        publishPqServing(newNodes, index, root, Some(bound),
          Some(publishedRef), keepVersions)
    }
    // the retrain measured the region's stats over exactly its rows — its
    // n IS the region count (no extra count job, r19; post null-vector
    // filter, exact here: region rows come from assignment/serving state
    // that dereferences every vector)
    val regionRows = region.fold(0L)(_.rows)
    val newCells = region.fold(Array.empty[Int])(_.newCells)
    log.info(
      if (region.isEmpty) s"no cell of $root/$v trips on this batch " +
        s"(n=${batchStats.n}) — appended the $restRows rows normally, " +
        s"published $newV"
      else s"partial rebuild of $root: cells [${tripped.mkString(",")}] " +
        s"retired → [${newCells.mkString(",")}], $regionRows region rows " +
        s"retrained, $restRows appended, published $newV")
    Some(PartialRebuildReport(newV, tripped, newCells, regionRows, restRows))
  }

  /** The served state [[rebuildDriftedServing]] reads, extends and
    * republishes: the float tier's routing head, or the PQ tier's
    * artifacts (an OPQ root's frozen rotation among them).
    */
  private sealed trait DriftState {
    def centroids: Array[(Int, Array[Float])]
    def ref: Similarity.DriftStats
    def codec: NodeCodec[_]
  }
  private final case class FloatDrift(centroids: Array[(Int, Array[Float])],
      ref: Similarity.DriftStats) extends DriftState {
    def codec: NodeCodec[_] = NodeCodec.Float
  }
  private final case class PqDrift(art: Similarity.IvfPqArtifacts,
      ref: Similarity.DriftStats) extends DriftState {
    def centroids: Array[(Int, Array[Float])] = art.index.centroids
    def codec: NodeCodec[_] = NodeCodec.pq(art.index)
  }

  /** A partial retrain's output: the next state, the region's graph
    * nodes, the replacement cell ids and the region's row count.
    */
  private final case class Retrained(next: DriftState, nodes: DataFrame,
      newCells: Array[Int], rows: Long)

  /** Version `v`'s drift state, by its tier ([[ServingTier.of]]); a
    * missing drift reference is a refusal naming the tier's publisher.
    */
  private def readDriftState(spark: SparkSession, root: String,
      v: String): DriftState = {
    val dir = s"$root/$v/artifacts"
    def noRef(publisher: String) = new IllegalStateException(
      s"$root/$v carries no drift reference — republish with one " +
        s"($publisher(driftStats = Some(...)))")
    ServingTier.of(spark, root, v) match {
      case ServingTier.Float =>
        val (centroids, ref) = Similarity.readIvfHead(spark, dir)
        FloatDrift(centroids, ref.getOrElse(throw noRef("publishServing")))
      case _ =>
        val art = Similarity.readIvfPq(spark, dir)
        PqDrift(art, art.driftStats.getOrElse(throw noRef("publishPqServing")))
    }
  }

  /** The tripped cells' member floats, fetched from `corpus` by one
    * id-join — [[rebuildDriftedServing]]'s region fetch on every tier.
    * The join must cover EVERY member: a corpus view missing indexed ids
    * (stale snapshot, filtered table) would otherwise silently shrink the
    * index — tripped cells drop unconditionally and only what the join
    * returns comes back, so a shortfall is a refusal.
    */
  private def trippedMembers(nodes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, tripped: Array[Int]): DataFrame = {
    val memberIds = nodes.filter(col("part").isin(tripped.toSeq: _*))
      .select(col("id")).localCheckpoint(true)
    val corpusKeyed = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // the missing set directly (left_anti), NOT a row-count difference —
    // a corpus with duplicated ids would otherwise mask a genuinely
    // absent member behind the duplicate's extra join row. Checkpointed
    // so the O(corpus) id-join runs ONCE (the refusal check and the
    // region union both read these O(region) rows).
    val memberFloats = corpusKeyed.join(memberIds, Seq("id"), "left_semi")
      .localCheckpoint(true)
    val missing = memberIds
      .join(memberFloats.select(col("id")), Seq("id"), "left_anti").count()
    require(missing == 0L,
      s"corpus is missing $missing indexed member row(s) of tripped cells " +
        s"[${tripped.mkString(",")}] — a partial rebuild would drop them; " +
        "pass the corpus view the index was built/appended from")
    // ... and the dual failure: a corpus view with DUPLICATED ids passes
    // the missing-set check (left_semi keeps every duplicate row), and
    // each duplicate would become a duplicate node/coded row in the
    // republished index — searches could emit one id twice. One bounded
    // aggregate over the already-checkpointed O(region) rows.
    val dup = memberFloats.agg(count(lit(1)),
      countDistinct(col("id"))).head()
    require(dup.getLong(0) == dup.getLong(1),
      s"corpus has ${dup.getLong(0) - dup.getLong(1)} duplicated id row(s) " +
        s"among tripped cells [${tripped.mkString(",")}] — a partial " +
        "rebuild would publish duplicate nodes; dedup the corpus view first")
    memberFloats
  }

  /** The index's clump bound — the largest group of nodes sharing one
    * (part, seg, codes) key, i.e. the widest set ADC cannot distinguish.
    * Compute ONCE at build time and pass to [[searchGraphRoutedPq]]'s
    * `clumpBound` so the guard costs nothing per serving call (store it
    * beside the index the way the centroid table is stored). One
    * aggregate over the coded nodes; driver state is one int. The same
    * measurement serves every PQ search path's guard.
    */
  def pqClumpBound(nodes: DataFrame): Int = {
    val r = nodes.groupBy(col("part"), col("seg"), hex(col("codes"))).count()
      .agg(max(col("count"))).head()
    if (r.isNullAt(0)) 0 else math.min(r.getLong(0), 1L << 30).toInt
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Within-JVM memo of on-the-fly clump measurements, keyed by the
    * nodes plan (weak — entries die with the DataFrame) and the routed
    * cell set: a serving batch that fans one nodes DataFrame across many
    * probe batches pays the guard's aggregate once, not per call. The
    * EXPECTED serving configuration is still `clumpBound` precomputed at
    * build time ([[pqClumpBound]], stored beside the index like the
    * centroid table) — the memo only softens the ad-hoc path. Safe key:
    * plan equality is reference-based at the relation/closure leaves, so
    * two independent reads of a mutated directory never collide.
    */
  private val clumpMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      scala.collection.concurrent.TrieMap[Seq[Int], Int]]())

  /** The serving-call guard: resolve the clump bound (supplied → memoized
    * → measured), and WARN when it actually widens the search beyond the
    * caller's k·rerankFactor — linear cost growth the caller should hear
    * about (dedup before indexing, d8/d10, removes the regime).
    */
  private def servingClumpBound(nodes: DataFrame, routedCells: Seq[Int],
      supplied: Option[Int], k: Int, rerankFactor: Int): Int = {
    val clump = supplied.getOrElse {
      val key = nodes.queryExecution.analyzed
      val perPlan = {
        val existing = clumpMemo.get(key)
        if (existing != null) existing
        else {
          val fresh = scala.collection.concurrent.TrieMap[Seq[Int], Int]()
          val race = clumpMemo.putIfAbsent(key, fresh)
          if (race != null) race else fresh
        }
      }
      perPlan.getOrElseUpdate(routedCells.sorted,
        pqClumpBound(nodes.filter(col("part").isin(routedCells: _*))))
    }
    if (clump + k > k * rerankFactor)
      log.warn(s"PQ clump guard widened the survivor pool to ${clump + k} " +
        s"(clump $clump > k*rerankFactor ${k * rerankFactor}): serving " +
        "cost grows linearly with the clump; dedup the corpus before " +
        "indexing (d8/d10) to remove the regime" +
        (if (supplied.isEmpty)
          "; also precompute pqClumpBound at build time to skip the " +
            "per-call measurement"
         else ""))
    clump
  }

  /** Routed batch search over a [[buildGraphPerCellPq]] index — the full
    * DiskANN-shaped serving path: probes route to their nprobe cells in
    * UNIT space (identical to [[Similarity.searchIvfPq]]'s rule), each
    * routed cell's graph beams on ADC scores over the 8-byte codes (no
    * float vector read in stage 1), per-probe ADC survivors merge to
    * k·rerankFactor through the bounded-heap aggregator, and stage 2
    * exact-reranks ONLY the survivors against the float corpus — the
    * same two-stage contract as [[Similarity.searchIvfPqBatch]], with
    * the cell's flat code scan replaced by a beam. Output:
    * (probe_id, id, sim, rank), sims exact.
    *
    * CLUMP GUARD (`clumpGuard`, default ON): a clump of rows sharing ONE
    * PQ code word is invisible to ADC — every member scores identically,
    * so with default widths stage 1 forwards an arbitrary `k·rerankFactor`
    * of the clump and the exact rerank cannot recover what stage 1
    * dropped; on a replica-clumped corpus the default configuration
    * serves near-zero recall while looking healthy (measured 0.043 on the
    * 512k clump study corpus, SCALING.md). Since a clump IS a repeated
    * 8-byte code, the guard measures the largest (part, seg, codes) group
    * among the PROBED cells (one bounded aggregate over only those cells;
    * a serving deployment can precompute the per-cell bound at build time
    * and skip the scan) and auto-widens ef and the survivor pool to
    * `clump + k`, so the whole biggest clump reaches the exact rerank.
    * Cost grows linearly with the clump — the honest price of serving an
    * un-deduped corpus; dedup before indexing (d8/d10) removes it.
    * `clumpBound` supplies the bound precomputed at build time
    * ([[pqClumpBound]]) so a serving deployment skips the per-call scan.
    */
  def searchGraphRoutedPq(nodes: DataFrame, index: Similarity.IvfPqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int, ef: Int,
      rerankFactor: Int = 4, clumpGuard: Boolean = true,
      clumpBound: Option[Int] = None,
      tombstones: Option[DataFrame] = None): DataFrame =
    routedPq(nodes, index, corpus, idCol, vecCol, probes, probeId, probeVec,
      routeBatch(probes, probeId, probeVec, index.centroids, nprobe, Some(index)),
      None, k, ef, rerankFactor, clumpGuard, clumpBound, tombstones)

  /** The PQ search body with the routing PRECOMPUTED — shared by
    * [[searchGraphRoutedPq]], [[searchGraphRoutedPqFiltered]] (`allowed`)
    * and [[searchGraphRoutedPqPersisted]], which routes once to prune the
    * scan and must drive the beams with that SAME map (routing twice
    * would collect the probe batch twice, and a nondeterministic probes
    * frame could then prune one cell set while beaming another): the
    * clump guard, ADC beams over the routed cells, then
    * [[Similarity.pqRerank]].
    */
  private def routedPq(nodes: DataFrame,
      index: Similarity.IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, probes: DataFrame, probeId: String, probeVec: String,
      routes: Map[Int, Array[(Long, Array[Float])]], allowed: Option[DataFrame],
      k: Int, ef: Int, rerankFactor: Int, clumpGuard: Boolean,
      clumpBound: Option[Int], tombstones: Option[DataFrame]): DataFrame = {
    val routedCells = routes.keys.toSeq
    // a serving deployment passes the build-time pqClumpBound so the
    // guard costs nothing per call; the default measures the probed
    // cells on the fly (one bounded aggregate, memoized per (nodes plan,
    // cell set) within the JVM — ad-hoc use) and WARNS when it widens
    val clump =
      if (!clumpGuard || routedCells.isEmpty) 0
      else servingClumpBound(nodes, routedCells, clumpBound, k, rerankFactor)
    val kCand = math.max(k * rerankFactor, if (clump > 0) clump + k else 0)
    val approx = routedCandidates(NodeCodec.pq(index), nodes, routes, allowed,
      kCand, ef, tombstones).toDF("probe_id", "id", "approx_sim")
    Similarity.pqRerank(index, approx, corpus, idCol, vecCol, probes,
      probeId, probeVec, kCand, k)
  }

  /** FILTERED PQ-routed graph search — [[searchGraphRoutedFiltered]]'s
    * contract on the DiskANN-shaped tier: the allowed flag rides each
    * node through the same bounded join + locality restore, ADC beams
    * traverse the full graph but admit only allowed nodes to the result
    * heap, and the exact rerank sees only allowed survivors (so the
    * output is trivially contained). The clump guard applies unchanged —
    * a filtered clumped corpus needs BOTH widenings. `tombstones`
    * composes with the filter (emit = allowed AND live), the same
    * contract as [[searchGraphRoutedFiltered]].
    */
  def searchGraphRoutedPqFiltered(nodes: DataFrame,
      index: Similarity.IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, probes: DataFrame, probeId: String, probeVec: String,
      allowed: DataFrame, nprobe: Int, k: Int, ef: Int,
      rerankFactor: Int = 4, clumpGuard: Boolean = true,
      clumpBound: Option[Int] = None,
      tombstones: Option[DataFrame] = None): DataFrame =
    routedPq(nodes, index, corpus, idCol, vecCol, probes, probeId, probeVec,
      routeBatch(probes, probeId, probeVec, index.centroids, nprobe, Some(index)),
      Some(allowed), k, ef, rerankFactor, clumpGuard, clumpBound, tombstones)

  /** [[purgeTombstones]] for a PQ index — same touched-segment rebuild,
    * except a [[PqGraphNode]] stores no float vector, so rebuilt
    * segments re-derive build vectors from the corpus (one join of ONLY
    * the touched segments' survivors — bounded by the delete locality)
    * while codes pass through unchanged from the surviving nodes.
    */
  def purgeTombstonesPq(nodes: DataFrame, tombstones: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    import nodes.sparkSession.implicits._
    purgeSegments(nodes, tombstones, m, efConstruction) { survivors =>
      val kept = survivors.select(col("part"), col("seg"), col("id"), col("codes"))
        .localCheckpoint(true) // read twice: drift check + rebuild
      val joined = kept
        .join(corpus.select(col(idCol).cast("long").as("id"),
          col(vecCol).as("vec")), Seq("id"))
        .localCheckpoint(true) // read twice: drift check + rebuild
      // fail fast on corpus drift: unlike the float tier (which rebuilds
      // from STORED vectors), this rebuild derives vectors from the
      // caller's corpus — a survivor missing there would silently vanish
      // from the index, a duplicated corpus id would duplicate nodes
      val nSurv = kept.count()
      val nJoined = joined.count()
      require(nJoined == nSurv,
        s"purgeTombstonesPq: the touched segments hold $nSurv surviving " +
          s"nodes but the corpus join returned $nJoined rows — the corpus " +
          "has drifted from the index (missing or duplicated ids); " +
          "rebuilding would silently lose or duplicate nodes")
      joined.as[(Long, Int, Int, Array[Byte], Array[Float])]
        .map { case (id, part, seg, cs, v) => (part, seg, (id, l2unit(v), cs)) }
    }
  }

  /** Single-probe convenience over [[searchGraphBatch]]. */
  def searchGraph(nodes: DataFrame, probe: Array[Float], k: Int,
      ef: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    searchGraphBatch(nodes,
      Seq((0L, probe)).toDF("probe_id", "probe_vec"), "probe_id", "probe_vec",
      k, ef).drop("probe_id")
  }
}

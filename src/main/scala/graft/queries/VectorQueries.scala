package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.functions.GraftFunctions
import graft.operators.{Dedup, GraphAnn, Similarity}

/** Vector/similarity operators over the `embeddings` table (64-dim float).
  * The cosine/dot kernels are native codegen'd Catalyst expressions
  * accumulating in double — the DuckDB oracles compute the same arithmetic in
  * explicit DOUBLE (list_cosine_similarity computes in float32, so oracles
  * spell out the lambda instead).
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  private def probeVec(s: SparkSession, d: String): Array[Float] = {
    val r = load(s, d, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).head()
    r.getSeq[Float](0).toArray
  }

  // Oracle fragment: double-precision dot of two float lists.
  private def sqlDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a,$b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)),'sum')"
  private def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"
  private def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)}))"

  val queries: Map[String, Q] = Map(
    // Full similarity scan vs one probe vector (codegen'd cosine expression).
    "v1_cosine_scan" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val probe = probeVec(s, d)
      load(s, d, "embeddings")
        .select($"vec_id",
          round(GraftFunctions.cosine_f32($"embedding", typedLit(probe)), 6).as("sim"))
        .orderBy($"vec_id")
    }),

    // Exact top-k retrieval: TakeOrderedAndProject, no global sort.
    "v2_knn_top10" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      Similarity.bruteForceTopK(load(s, d, "embeddings"), "vec_id", "embedding",
        probeVec(s, d), 10)
        .select($"vec_id", round($"sim", 6).as("sim"))
    }),

    // L2-norm stats per label (native l2norm expression).
    "v3_norm_stats" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      load(s, d, "embeddings")
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          round(avg(GraftFunctions.l2norm_f32($"embedding")), 6).as("avg_norm"))
        .orderBy($"label")
    }),

    // Dot product of consecutive vector pairs (join + native dot expression).
    "v4_dot_consecutive" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val e = load(s, d, "embeddings")
      val a = e.select($"vec_id", $"embedding".as("va"))
      val b = e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("vb"))
      a.join(b, Seq("vec_id"))
        .select($"vec_id", round(GraftFunctions.dot_f32($"va", $"vb"), 6).as("dot"))
        .orderBy($"vec_id")
    }),

    // IVF-partitioned ANN vs brute-force: recall@10 (rows-only; the ANN path
    // is the 100 TB design — cell-pruned scan + exact rerank).
    "v5_ann_ivf_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val index = Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2)
      val approx = Similarity.searchIvf(index, probe, nprobe = 4, k = 10)
        .select($"id".as("vec_id"))
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 5).as("recall_ok"))
    }),

    // V17: graph-ANN (HNSW-style segment graphs) vs brute force — the
    // gate times the BUILD (one mapPartitions pass per segment, the
    // deliberately-measured cost of the graph tier; see SCALING.md
    // "Graph-ANN study") plus one beam search, and asserts the structural
    // invariants distributed-ly: node conservation, layer-0 degree cap,
    // segment-closed adjacency (no dangling/cross-partition edge).
    "v17_graph_ann_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val m = 8
      val nodes = GraphAnn.buildGraph(s, emb, "vec_id", "embedding",
        nParts = 4, m = m, efConstruction = 48).localCheckpoint(true)
      val approx = GraphAnn.searchGraph(nodes, probe, k = 10, ef = 48)
        .select($"id".as("vec_id"))
      val recall = exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 8).as("recall_ok"))
      val structure = nodes
        .select($"part", $"id", size(element_at($"neighbors", 1)).as("deg0"))
        .agg(count(lit(1)).as("n"), max($"deg0").as("max_deg0"))
      val ids = nodes.select($"part", $"id")
      val dangling = nodes
        .select($"part", explode(flatten($"neighbors")).as("id"))
        .join(ids, Seq("part", "id"), "left_anti")
        .agg(count(lit(1)).as("n_dangling"))
      recall.crossJoin(broadcast(structure)).crossJoin(broadcast(dangling))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_emb"))))
        .select($"recall_ok", ($"max_deg0" <= 2 * m).as("degree_ok"),
          ($"n_dangling" === 0).as("closed_ok"),
          ($"n" === $"n_emb").as("nodes_conserved"))
    }),

    // V21: graph-tier index MAINTENANCE, the Lucene lifecycle the parquet
    // index layout already has (appendToIvf / Compaction): an ingest
    // batch appends as FRESH segments with every existing segment byte-
    // identical (asserted via two-way exceptAll on the full node rows),
    // then mergeSegments bin-packs the small segments and rebuilds each
    // group in one task. Exhaustive beams over the merged layout must
    // reproduce brute-force top-k row-for-row — the keystone equality
    // holding across append + merge proves neither step lost or
    // corrupted a node or edge.
    "v21_graph_maintenance" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val m = 8
      val existing = GraphAnn.buildGraph(s, emb.filter($"vec_id" % 2 === 0),
        "vec_id", "embedding", nParts = 4, m = m, efConstruction = 48)
        .localCheckpoint(true)
      val appended = GraphAnn.appendSegments(existing,
          emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding",
          nParts = 2, m = m, efConstruction = 48)
        .localCheckpoint(true)
      val oldMax = existing.agg(max($"part")).head().getInt(0)
      val oldSide = appended.filter($"part" <= oldMax)
      val untouched = oldSide.exceptAll(existing)
        .unionByName(existing.exceptAll(oldSide))
        .agg(count(lit(1)).as("n_diff"))
      val nEmb = emb.count()
      val merged = GraphAnn.mergeSegments(appended, (nEmb / 3).toInt,
          m = m, efConstruction = 48, withinPart = false)
        .localCheckpoint(true)
      val conserved = merged
        .agg((count(lit(1)) === nEmb &&
          count_distinct($"id") === nEmb).as("conserved"))
      val segsBefore = appended.select($"part", $"seg").distinct().count()
      val segsAfter = merged.select($"part", $"seg").distinct().count()
      val probes = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val got = GraphAnn.searchGraphBatch(merged, probes, "probe_id",
        "probe_vec", k = k, ef = nEmb.toInt)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"), $"sim", $"rank")
      // strict row equality is float-fragile at scale: the graph scores
      // dot over float32-RENORMALIZED vectors while the oracle computes
      // cosine over the raw floats, and a replica-crowded corpus (the x8
      // audit dir) packs near-ties 1e-8 apart, permuting ranks. The
      // float-robust keystone: per-probe result SETS agree up to one
      // ε-tied boundary member, and the per-rank score profiles agree to
      // 1e-6 — any genuinely lost or corrupted node fails both.
      val setsOk = got.join(exact.select($"probe_id", $"id"),
          Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 3 && min($"count") >= k - 1).as("sets_ok"))
      val simsOk = got.select($"probe_id", $"rank", $"sim".as("g"))
        .join(exact.select($"probe_id", $"rank", $"sim".as("e")),
          Seq("probe_id", "rank"))
        .agg((count(lit(1)) === 3 * k &&
          max(abs($"g" - $"e")) < 1e-6).as("sims_ok"))
      untouched.crossJoin(broadcast(conserved))
        .crossJoin(broadcast(setsOk)).crossJoin(broadcast(simsOk))
        .select(($"n_diff" === 0).as("append_untouched"), $"conserved",
          lit(segsAfter < segsBefore).as("segments_reduced"),
          ($"sets_ok" && $"sims_ok").as("search_exact"))
    }),

    // V23: the routed graph tier's PERSISTED serving form — the
    // searchIvfPartitionedBatch analog: the per-cell graph is written
    // partition-per-cell (writeGraphCells) and a routed search reads
    // ONLY the probed cells' directories (PartitionFilters,
    // spec-asserted). The graph build is serving-tier state (v18 gates
    // it) — built + written once per (session, sf); the timed region is
    // the persisted routed search plus its equality check against the
    // in-memory routed path over the same files (row-identical: same
    // float bytes, same beams) and the fan-out bound asserted from the
    // assignments table, outside the search.
    "v23_graph_persisted" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding",
          nCells = 16, iters = 2))
      val dir = Fixtures.cachedObj(s, s"v23_dir:$d") {
        val t = java.nio.file.Files.createTempDirectory("graft-v23").toString
        GraphAnn.writeGraphCells(
          GraphAnn.buildGraphPerCell(s, index.assignments, m = 8,
            efConstruction = 48), t)
        t
      }
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val nprobe = 4
      val disk = GraphAnn.searchGraphRoutedPersisted(s, dir, index.centroids,
          probes, "probe_id", "probe_vec", nprobe, k, ef = 48)
        .localCheckpoint(true)
      // the raw parquet read only preserves segment locality while each
      // cell's file stays under maxPartitionBytes — restore it explicitly
      // (resolveAdj fails fast naming this remedy otherwise)
      val mem = GraphAnn.searchGraphRouted(
          GraphAnn.restoreSegmentLocality(
            s.read.schema(GraphAnn.cellsSchema).parquet(dir)),
          index.centroids, probes, "probe_id", "probe_vec", nprobe, k, ef = 48)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"probe_id", $"id", $"rank")
      val diff = rows(disk).exceptAll(rows(mem))
        .unionByName(rows(mem).exceptAll(rows(disk)))
        .agg(count(lit(1)).as("n_diff"))
      val probedCells = probes.select($"probe_vec").as[Array[Float]].collect()
        .flatMap(v => GraphAnn.routeCells(index.centroids, v, nprobe))
        .distinct.toSeq
      val fanout = disk.select($"id")
        .join(index.assignments.select($"id", $"cell"), Seq("id"))
        .agg(every($"cell".isin(probedCells: _*)).as("fanout_ok"))
      disk.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"),
          (min($"count") === k && max($"count") === k).as("all_k8"))
        .crossJoin(broadcast(diff)).crossJoin(broadcast(fanout))
        .select($"n_probes", $"all_k8",
          ($"n_diff" === 0).as("matches_memory"), $"fanout_ok")
    }),

    // V22: NN-Descent k-NN GRAPH construction (Dong et al., WWW 2011) —
    // the public all-to-all distributed graph build the graph study
    // names as the segment model's alternative, shipped as its own
    // operator: a GLOBAL neighborhood graph from iterative neighbor-of-
    // neighbor refinement, pure DataFrame joins, no driver state, fully
    // deterministic (salted-hash bucket init, bounded-heap best-k).
    // k=20 is the paper's operating regime (measured: 0.992 recall by
    // iteration 4; small k plateaus on high-intrinsic-dim data —
    // truncate a wide build for smaller k). Gate: structure (k edges
    // per node, no self-loops) + mean recall vs exact k-NN on a
    // deterministic node sample.
    "v22_knn_graph" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val k = 20
      val g = GraphAnn.nnDescent(emb, "vec_id", "embedding", k, iters = 4)
        .localCheckpoint(true)
      val n = emb.count()
      val structure = g.groupBy($"id")
        .agg(count(lit(1)).as("deg"),
          max(($"id" === $"nbr").cast("int")).as("selfloop"))
        .agg((count(lit(1)) === n && min($"deg") === k &&
          max($"deg") === k).as("k_edges_ok"),
          (max($"selfloop") === 0).as("no_self_loops"))
      val sample = emb.filter($"vec_id" % 13 === 0)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      // top-(k+1) minus the probe itself (always rank 1 at sim 1.0) =
      // exactly the k nearest non-self neighbors. The exact-kNN table is
      // the gate's own REFERENCE recompute over static data (the v15
      // singles precedent) — memoized as fixture; the recall check
      // against it still executes per run
      val exact = Fixtures.cached(s, s"v22_exact:$d")(
        Similarity.topKPerProbe(sample, "probe_id", "probe_vec",
            emb, "vec_id", "embedding", k + 1)
          .filter($"probe_id" =!= $"vec_id")
          .select($"probe_id".cast("long").as("id"),
            $"vec_id".cast("long").as("nbr")))
      val hits = exact.join(g.select($"id", $"nbr"), Seq("id", "nbr"), "left_semi")
      val recall = hits.agg(count(lit(1)).as("nh"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("ne"))))
        .select(($"nh" >= $"ne" * 0.9).as("recall_ok"))
      structure.crossJoin(broadcast(recall))
    }),

    // V18: cell-ROUTED graph ANN — the DiskANN-direction composition from
    // SCALING.md's graph study: per-IVF-cell graphs, probes beam only
    // their nprobe routed cells (bounded fan-out, unlike v17's
    // every-segment sweep). The IVF index is serving-tier state shared
    // with v15 (same build parameters, same memo key — v5 gates IVF
    // training); the timed region is the per-cell graph build + the
    // routed search. The fan-out bound is ASSERTED from outside the
    // search via the assignments table.
    "v18_routed_graph_ann" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2))
      val nodes = GraphAnn.buildGraphPerCell(s, index.assignments,
        m = 8, efConstruction = 48).localCheckpoint(true)
      val nprobe = 4
      val routed = GraphAnn.searchGraphRouted(nodes, index.centroids,
        Seq((0L, probe)).toDF("probe_id", "probe_vec"),
        "probe_id", "probe_vec", nprobe, k = 10, ef = 48)
        .localCheckpoint(true)
      val probedCells = GraphAnn.routeCells(index.centroids, probe, nprobe)
      val recall = exact
        .join(routed.select($"id".as("vec_id")), Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 5).as("recall_ok"))
      val fanout = routed.select($"id")
        .join(index.assignments.select($"id", $"cell"), Seq("id"))
        .agg(every($"cell".isin(probedCells: _*)).as("fanout_ok"),
          (countDistinct($"cell") <= nprobe).as("cells_bounded"))
      recall.crossJoin(broadcast(fanout))
        .select($"recall_ok", $"fanout_ok", $"cells_bounded")
    }),

    // V19: PQ-compressed routed graph ANN — the full DiskANN memory
    // layout closing the graph study's last upgrade: per-cell graphs
    // store 8-byte PQ residual codes instead of 256-byte float vectors,
    // beams run on ADC scores (stage 1 reads NO float vector), survivors
    // exact-rerank against the corpus. Shares the v16 serving-tier
    // IVF-PQ index memo (v13 gates that build); the timed region is the
    // per-cell PQ graph build + the two-stage routed search. Asserts
    // per-probe recall vs brute force, the routing fan-out bound (from
    // outside the search, via the index's own coded table), the storage
    // claim (max stored payload = subspaces bytes), and node
    // conservation.
    "v19_pq_graph_ann" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2))
      val nodes = GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding",
        index, m = 8, efConstruction = 48).localCheckpoint(true)
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val nprobe = 4
      val res = GraphAnn.searchGraphRoutedPq(nodes, index, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe, k = 10, ef = 48)
        .localCheckpoint(true)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb, "vec_id", "embedding", k = 10)
        .select($"probe_id", $"vec_id".as("id"))
      val recall = exact
        .join(res.select($"probe_id", $"id"), Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").agg(count(lit(1)).as("hits"))
        .agg((min($"hits") >= 5).as("recall_ok"),
          (count(lit(1)) === 4).as("all_probes"))
      // routed cells recomputed OUTSIDE the search (4-row driver batch)
      val routedPairs = probes.as[(Long, Array[Float])].collect().toSeq
        .flatMap { case (pid, v) =>
          Similarity.probedCells(index, v, nprobe).map(c => (pid, c)) }
        .toDF("probe_id", "cell")
      val fanout = res.select($"probe_id", $"id")
        .join(index.coded.select($"id", $"cell"), Seq("id"))
        .join(broadcast(routedPairs.withColumn("routed", lit(true))),
          Seq("probe_id", "cell"), "left")
        .agg(every(coalesce($"routed", lit(false))).as("fanout_ok"))
      val storage = nodes.agg(max(length($"codes")).as("max_code_bytes"),
        count(lit(1)).as("n_nodes"))
      recall.crossJoin(broadcast(fanout)).crossJoin(broadcast(storage))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_emb"))))
        .select($"recall_ok", $"all_probes", $"fanout_ok",
          ($"max_code_bytes" === 8).as("codes_compressed"),
          ($"n_nodes" === $"n_emb").as("nodes_conserved"))
    }),

    // V24: FILTERED routed graph ANN — v12's filter+vector contract on
    // the graph serving tier (the most user-hit gap the r12 verdict
    // named): the allowed-id set pre-filters INSIDE the routed beams
    // (result heap admits only allowed nodes; traversal crosses the full
    // graph), so a selective filter widens the walk instead of starving
    // top-k. The per-cell graph is serving-tier state (v18 gates its
    // build) — memoized; the timed region is the filtered routed search:
    // allowed join over the probed cells + beams + top-k merge. Asserts
    // per-probe recall vs the filtered brute force, filter containment,
    // exact-k coverage, and the SELECTIVE edge: with 7 allowed ids
    // globally the result must be EXACTLY allowed ∩ routed cells (the
    // beam degenerates to an exhaustive sweep — no rank cutoff, so the
    // set equality is float-safe at every scale).
    //
    // ef = 256, not the other gates' 48: a FILTERED oracle is strictly
    // harder — it ignores the probe's own near clump and demands the best
    // ALLOWED cluster, which can sit behind a similarity valley. Measured
    // on the x8 replica-clump audit corpus: ef=48 leaves probe 3 at 0/10
    // (its filtered top-10 lives past a 0.32-sim clump the beam
    // terminates inside) while ef=256 recovers 40/40 — the same
    // width-vs-clump law the PQ tier's clump guard enforces (SCALING.md
    // "Graph beams on clumped corpora"). The un-filtered gates keep
    // ef=48; a filtered serving path should width itself past the
    // largest near clump.
    "v24_filtered_graph_ann" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2))
      val nodes = Fixtures.cached(s, s"v24_nodes:$d")(
        GraphAnn.buildGraphPerCell(s, index.assignments, m = 8,
          efConstruction = 48))
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val nprobe = 4
      val k = 10
      val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
      val res = GraphAnn.searchGraphRoutedFiltered(nodes, index.centroids,
          probes, "probe_id", "probe_vec", allowed, nprobe, k, ef = 256)
        .localCheckpoint(true)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"))
      val recall = exact
        .join(res.select($"probe_id", $"id"), Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 4 && min($"count") >= 5).as("recall_ok"))
      val filterOk = res.agg(every($"id" % 2 === 0).as("filter_respected"),
        (count(lit(1)) === 4 * k).as("all_k"))
      val tiny = emb.filter($"vec_id" < 7).select($"vec_id".as("id"))
      val tinyRes = GraphAnn.searchGraphRoutedFiltered(nodes, index.centroids,
        probes, "probe_id", "probe_vec", tiny, nprobe, k, ef = 256)
      // expected set recomputed OUTSIDE the search (4-row driver batch,
      // the v19 fan-out discipline): the allowed ids assigned to each
      // probe's routed cells
      val routedPairs = probes.as[(Long, Array[Float])].collect().toSeq
        .flatMap { case (pid, v) =>
          GraphAnn.routeCells(index.centroids, v, nprobe).map(c => (pid, c)) }
        .toDF("probe_id", "cell")
      val expected = index.assignments.filter($"id" < 7)
        .select($"id", $"cell")
        .join(broadcast(routedPairs), Seq("cell"))
        .select($"probe_id", $"id")
      val tinyDiff = tinyRes.select($"probe_id", $"id").exceptAll(expected)
        .unionByName(expected.exceptAll(tinyRes.select($"probe_id", $"id")))
        .agg(count(lit(1)).as("n_diff"))
      recall.crossJoin(broadcast(filterOk)).crossJoin(broadcast(tinyDiff))
        .select($"recall_ok", $"filter_respected", $"all_k",
          ($"n_diff" === 0).as("selective_exact"))
    }),

    // V25: the graph tier's DELETE lifecycle — the Lucene deletes model
    // the r12 verdict asked for: tombstones mask at serving time (beams
    // traverse through deleted nodes but never emit them; the ef-bounded
    // result heap holds only live nodes so the mask can't starve top-k)
    // and purgeTombstones physically drops them (only segments touched by
    // a delete rebuild; the rest pass through byte-identical — asserted
    // via two-way exceptAll). Keystone: exhaustive beams over the purged
    // layout reproduce brute force over the SURVIVORS (v21's float-robust
    // form), proving the purge lost or corrupted nothing else.
    "v25_graph_tombstones" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val m = 8
      val nodes = Fixtures.cached(s, s"v25_nodes:$d")(
        GraphAnn.buildGraph(s, emb, "vec_id", "embedding", nParts = 4,
          m = m, efConstruction = 48))
      val tombs = emb.filter($"vec_id" % 5 === 2).select($"vec_id".as("id"))
      val probes = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val masked = GraphAnn.searchGraphBatch(nodes, probes, "probe_id",
          "probe_vec", k, ef = 48, tombstones = Some(tombs))
        .localCheckpoint(true)
      val maskOk = masked.join(tombs, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_tomb_hits"))
        .crossJoin(broadcast(masked.groupBy($"probe_id").count()
          .agg((count(lit(1)) === 3 && min($"count") === k).as("mask_all_k"))))
        .select(($"n_tomb_hits" === 0).as("mask_clean"), $"mask_all_k")
      val purged = GraphAnn.purgeTombstones(nodes, tombs, m,
        efConstruction = 48).localCheckpoint(true)
      val nLive = emb.filter($"vec_id" % 5 =!= 2).count()
      val conserved = purged.agg((count(lit(1)) === nLive &&
        count_distinct($"id") === nLive).as("conserved"))
      val noTombNodes = purged.join(tombs, Seq("id"), "left_semi")
        .agg((count(lit(1)) === 0).as("no_tomb_nodes"))
      val noTombEdges = purged
        .select($"part", explode(flatten($"neighbors")).as("id"))
        .join(tombs, Seq("id"), "left_semi")
        .agg((count(lit(1)) === 0).as("no_tomb_edges"))
      // untouched segments pass through byte-identical
      val touchedSegs = nodes.join(tombs, Seq("id"), "left_semi")
        .select($"part", $"seg").distinct()
      def outside(df: org.apache.spark.sql.DataFrame) =
        df.join(touchedSegs, Seq("part", "seg"), "left_anti")
      val untouched = outside(purged).exceptAll(outside(nodes))
        .unionByName(outside(nodes).exceptAll(outside(purged)))
        .agg((count(lit(1)) === 0).as("untouched_identical"))
      // keystone (v21's float-robust form) on the survivors
      val got = GraphAnn.searchGraphBatch(purged, probes, "probe_id",
        "probe_vec", k, ef = emb.count().toInt)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb.filter($"vec_id" % 5 =!= 2), "vec_id", "embedding", k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"), $"sim", $"rank")
      val setsOk = got.join(exact.select($"probe_id", $"id"),
          Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 3 && min($"count") >= k - 1).as("sets_ok"))
      val simsOk = got.select($"probe_id", $"rank", $"sim".as("g"))
        .join(exact.select($"probe_id", $"rank", $"sim".as("e")),
          Seq("probe_id", "rank"))
        .agg((count(lit(1)) === 3 * k &&
          max(abs($"g" - $"e")) < 1e-6).as("sims_ok"))
      maskOk.crossJoin(broadcast(conserved)).crossJoin(broadcast(noTombNodes))
        .crossJoin(broadcast(noTombEdges)).crossJoin(broadcast(untouched))
        .crossJoin(broadcast(setsOk.crossJoin(broadcast(simsOk))
          .select(($"sets_ok" && $"sims_ok").as("keystone_ok"))))
    }),

    // V26: the PQ graph tier's CLUMP GUARD — closing r12's "what's wrong
    // #3": a clump of rows sharing one PQ code word is invisible to ADC
    // (every member scores identically), so default widths forward an
    // arbitrary k·rf of the clump and the exact rerank can't recover what
    // stage 1 dropped — the configuration that silently served 0.043
    // recall on the study corpus. The guard (default ON) measures the
    // largest repeated code among the probed cells and widens ef + the
    // survivor pool to clump+k. Gate: a 300-replica clump planted on the
    // base table; the guarded search must return EXACTLY the brute-force
    // top-k (ties break by id on both sides, so the equality is
    // deterministic), while the unguarded search reproduces the trap
    // (measured 1/10 at the gate corpus). Index + graph are serving-tier
    // state (fixture); the timed region is both searches + the checks.
    "v26_pq_clump_guard" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cloneVec = emb.filter($"vec_id" === 42)
        .select($"embedding").head().getSeq[Float](0).toArray
      val nClones = 300
      val corpus = Fixtures.cached(s, s"v26_corpus:$d")(
        emb.select($"vec_id", $"embedding")
          .unionByName(s.range(nClones).select(($"id" + 100000L).as("vec_id"),
            typedLit(cloneVec).as("embedding"))))
      val index = Fixtures.cachedObj(s, s"v26_ivfpq:$d")(
        Similarity.buildIvfPq(s, corpus, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val nodes = Fixtures.cached(s, s"v26_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, corpus, "vec_id", "embedding", index,
          m = 8, efConstruction = 48))
      val probes = Seq((42L, cloneVec)).toDF("probe_id", "probe_vec")
      val k = 10
      val guarded = GraphAnn.searchGraphRoutedPq(nodes, index, corpus,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 4, k = k, ef = 48)
      val unguarded = GraphAnn.searchGraphRoutedPq(nodes, index, corpus,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 4, k = k, ef = 48, rerankFactor = 4, clumpGuard = false)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          corpus, "vec_id", "embedding", k)
        .select($"vec_id".cast("long").as("id"))
      val gDiff = guarded.select($"id").exceptAll(exact)
        .unionByName(exact.exceptAll(guarded.select($"id")))
        .agg(count(lit(1)).as("n_diff"))
      val uHits = exact.join(unguarded.select($"id"), Seq("id"), "left_semi")
        .agg(count(lit(1)).as("u_hits"))
      guarded.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(gDiff)).crossJoin(broadcast(uHits))
        .select(($"n_rows" === k).as("all_k"),
          ($"n_diff" === 0).as("guarded_exact"),
          ($"u_hits" < k).as("trap_reproduced"))
    }),

    // V27: NN-Descent WIRED INTO SERVING — closes r12's "v22 builds a
    // graph nobody consumes": the global k-NN graph converts to per-cell
    // single-layer NSW adjacency (within-cell restriction → symmetrize →
    // 2m cap, pure DataFrame ops) and serves through the SAME routed beam
    // path as the HNSW-built tier. The k-NN graph and IVF index are
    // serving-tier state (v22 gates NN-Descent training, v5 the IVF
    // build); the timed region is the conversion + one routed search.
    // Asserts the v18 recall/fan-out contract plus the v17 structural
    // invariants on the converted layout (single layer, 2m cap, closed
    // adjacency, node conservation).
    "v27_knn_nsw_serving" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2))
      val knn = Fixtures.cached(s, s"v27_knn:$d")(
        GraphAnn.nnDescent(emb, "vec_id", "embedding", k = 20, iters = 4))
      val m = 8
      val nodes = GraphAnn.knnToNswSegments(index.assignments, knn, m = m)
        .localCheckpoint(true)
      val nprobe = 4
      val routed = GraphAnn.searchGraphRouted(nodes, index.centroids,
          Seq((0L, probe)).toDF("probe_id", "probe_vec"),
          "probe_id", "probe_vec", nprobe, k = 10, ef = 48)
        .localCheckpoint(true)
      val probedCells = GraphAnn.routeCells(index.centroids, probe, nprobe)
      val recall = exact
        .join(routed.select($"id".as("vec_id")), Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 5).as("recall_ok"))
      val fanout = routed.select($"id")
        .join(index.assignments.select($"id", $"cell"), Seq("id"))
        .agg(every($"cell".isin(probedCells: _*)).as("fanout_ok"))
      val structure = nodes
        .select($"part", $"id", $"level",
          size(element_at($"neighbors", 1)).as("deg0"))
        .agg(count(lit(1)).as("n"), max($"deg0").as("max_deg0"),
          max($"level").as("max_level"))
      val ids = nodes.select($"part", $"id")
      val dangling = nodes
        .select($"part", explode(flatten($"neighbors")).as("id"))
        .join(ids, Seq("part", "id"), "left_anti")
        .agg(count(lit(1)).as("n_dangling"))
      recall.crossJoin(broadcast(fanout)).crossJoin(broadcast(structure))
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_emb"))))
        .select($"recall_ok", $"fanout_ok",
          ($"max_deg0" <= 2 * m && $"max_level" === 0).as("structure_ok"),
          ($"n_dangling" === 0).as("closed_ok"),
          ($"n" === $"n_emb").as("nodes_conserved"))
    }),

    // V28: filter + delete on the PQ graph tier — v24/v25's contracts
    // mirrored onto the DiskANN-shaped path, closing the tier asymmetry
    // (a deployment picks its tier by memory budget and needs filter and
    // delete on WHICHEVER it picks; r12's verdict flagged exactly this
    // class of gap on the exact tier). Filtered beams admit only allowed
    // nodes to the ADC result heap (rerank sees only allowed survivors —
    // containment is structural); tombstones mask at stage 1;
    // purgeTombstonesPq rebuilds only touched segments, re-deriving
    // build vectors from the corpus since PQ nodes store no floats.
    // Index + graph are serving-tier state (fixtures); the timed region
    // is the three searches + purge + checks. ef=256 for the filtered
    // leg (the v24 width law).
    "v28_pq_filtered_delete" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val nodes = Fixtures.cached(s, s"v28_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding", index,
          m = 8, efConstruction = 48))
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val nprobe = 4
      val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
      // ef=256 AND rf=64: the filtered-valley law (v24) compounds with
      // ADC ties on clumped corpora — at x8, rf=16 leaves two probes at
      // 2/10 with ef up to 1024, while rf=64 recovers 40/40 at ef=256:
      // the SURVIVOR pool, not the beam, is the binding width (the v19
      // rerank-cut law, measured for the filtered path)
      val filt = GraphAnn.searchGraphRoutedPqFiltered(nodes, index, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
          nprobe, k, ef = 256, rerankFactor = 64)
        .localCheckpoint(true)
      val exactF = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"))
      val recall = exactF
        .join(filt.select($"probe_id", $"id"), Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 4 && min($"count") >= 5).as("recall_ok"))
      val filterOk = filt.agg(every($"id" % 2 === 0).as("filter_respected"),
        (count(lit(1)) === 4 * k).as("all_k"))
      val tombs = emb.filter($"vec_id" % 5 === 2).select($"vec_id".as("id"))
      val masked = GraphAnn.searchGraphRoutedPq(nodes, index, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe, k, ef = 48,
          rerankFactor = 16, tombstones = Some(tombs))
        .localCheckpoint(true)
      val maskOk = masked.join(tombs, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_tomb_hits"))
        .crossJoin(broadcast(masked.groupBy($"probe_id").count()
          .agg((count(lit(1)) === 4 && min($"count") === k).as("mask_all_k"))))
        .select(($"n_tomb_hits" === 0).as("mask_clean"), $"mask_all_k")
      val purged = GraphAnn.purgeTombstonesPq(nodes, tombs, emb, "vec_id",
        "embedding", m = 8, efConstruction = 48).localCheckpoint(true)
      val nLive = emb.filter($"vec_id" % 5 =!= 2).count()
      val purgeOk = purged.agg((count(lit(1)) === nLive &&
        count_distinct($"id") === nLive).as("purge_conserved"))
      val noTomb = purged.select($"id")
        .unionByName(purged.select(explode(flatten($"neighbors")).as("id")))
        .join(tombs, Seq("id"), "left_semi")
        .agg((count(lit(1)) === 0).as("no_tomb_nodes"))
      recall.crossJoin(broadcast(filterOk)).crossJoin(broadcast(maskOk))
        .crossJoin(broadcast(purgeOk)).crossJoin(broadcast(noTomb))
    }),

    // V29: ROUTED-tier append — the routed graph lifecycle's missing
    // write path (v21 gates append only on the un-routed tier; a real
    // deployment ingests into the ROUTED index): the batch's vectors
    // assign to their nearest cell by the index's own centroid rule and
    // build as fresh seg slices, existing segments byte-identical.
    // Asserts: untouched-identical (two-way exceptAll), conservation,
    // routing consistency (every appended node's part = the cell the
    // index's assignment rule gives its vector — so probes reach
    // appended nodes exactly like original ones), and the keystone:
    // exhaustive routed beams over the appended layout reproduce brute
    // force over the FULL corpus (v21's float-robust form).
    "v29_routed_graph_append" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2))
      val m = 8
      val existing = GraphAnn.buildGraphPerCell(s,
          index.assignments.join(emb.filter($"vec_id" % 2 === 0)
            .select($"vec_id".as("id")), Seq("id"), "left_semi"),
          m = m, efConstruction = 48)
        .localCheckpoint(true)
      val appended = GraphAnn.appendGraphCells(existing,
          emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding",
          index.centroids, m = m, efConstruction = 48)
        .localCheckpoint(true)
      // the semi-join moves the join key first; exceptAll compares
      // positionally, so pin one column order on both sides
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select($"part", $"id", $"vec", $"level", $"neighbors", $"seg")
      val oldSide = norm(appended.join(
        emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id")),
        Seq("id"), "left_semi"))
      val untouched = oldSide.exceptAll(norm(existing))
        .unionByName(norm(existing).exceptAll(oldSide))
        .agg((count(lit(1)) === 0).as("append_untouched"))
      val nEmb = emb.count()
      val conserved = appended.agg((count(lit(1)) === nEmb &&
        count_distinct($"id") === nEmb).as("conserved"))
      // routing consistency: appended part == the index's assignment cell
      val routingOk = appended
        .join(emb.filter($"vec_id" % 2 === 1).select($"vec_id".as("id")),
          Seq("id"), "left_semi")
        .join(index.assignments.select($"id", $"cell"), Seq("id"))
        .agg(every($"part" === $"cell").as("routing_ok"))
      val probes = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val got = GraphAnn.searchGraphRouted(appended, index.centroids, probes,
        "probe_id", "probe_vec", nprobe = 16, k = k, ef = nEmb.toInt)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"), $"sim", $"rank")
      val setsOk = got.join(exact.select($"probe_id", $"id"),
          Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 3 && min($"count") >= k - 1).as("sets_ok"))
      val simsOk = got.select($"probe_id", $"rank", $"sim".as("g"))
        .join(exact.select($"probe_id", $"rank", $"sim".as("e")),
          Seq("probe_id", "rank"))
        .agg((count(lit(1)) === 3 * k &&
          max(abs($"g" - $"e")) < 1e-6).as("sims_ok"))
      untouched.crossJoin(broadcast(conserved)).crossJoin(broadcast(routingOk))
        .crossJoin(broadcast(setsOk.crossJoin(broadcast(simsOk))
          .select(($"sets_ok" && $"sims_ok").as("keystone_ok"))))
    }),

    // V30: PQ-tier append — appendGraphCells' twin on the DiskANN-shaped
    // tier (r13 verdict item 2): arrivals assign by the index's own
    // centroid rule and encode residuals with the EXISTING codebook (no
    // retrain — the appendToIvf discipline), building fresh seg slices
    // past each cell's max. Asserts: untouched segments byte-identical,
    // conservation, routing AND code consistency (the arrival-side
    // assign/encode reproduces the build-time coded table exactly — cell
    // and code bytes), and the keystone: wide guarded search over the
    // appended layout recovers brute-force top-k (v29's form, one ε-tied
    // boundary member allowed).
    "v30_pq_graph_append" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val existing = GraphAnn.buildGraphPerCellPq(s,
          emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", index,
          m = 8, efConstruction = 48)
        .localCheckpoint(true)
      val appended = GraphAnn.appendGraphCellsPq(existing,
          emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", index,
          m = 8, efConstruction = 48)
        .localCheckpoint(true)
      // exceptAll compares positionally — pin one column order (v29 note)
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select($"part", $"id", $"codes", $"level", $"neighbors", $"seg")
      val oldSide = norm(appended.join(
        emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id")),
        Seq("id"), "left_semi"))
      val untouched = oldSide.exceptAll(norm(existing))
        .unionByName(norm(existing).exceptAll(oldSide))
        .agg((count(lit(1)) === 0).as("append_untouched"))
      val nEmb = emb.count()
      val conserved = appended.agg((count(lit(1)) === nEmb &&
        count_distinct($"id") === nEmb).as("conserved"))
      // arrival assign/encode ≡ the build-time coded table: same cell,
      // same code BYTES (encodeIntoIvfPq must reproduce buildIvfPq's
      // unit→assign→residual→encode pipeline bit-for-bit, or appended
      // nodes would ADC-score differently from built ones)
      val consist = appended
        .join(emb.filter($"vec_id" % 2 === 1).select($"vec_id".as("id")),
          Seq("id"), "left_semi")
        .join(index.coded.select($"id", $"cell", $"pq_codes"), Seq("id"))
        .agg(every($"part" === $"cell").as("routing_ok"),
          every($"codes" === $"pq_codes").as("codes_ok"))
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      // rf=256, not 64: at the x8 replica dir the SURVIVOR pool is the
      // binding width, not the beam (measured: ef=256 and ef=16384 give
      // IDENTICAL 8/10 misses at rf=64 — on the appended AND the
      // whole-built layout alike, so it is the v19/v28 ADC rerank-cut
      // law, not an append defect; rf=256 recovers 40/40)
      val got = GraphAnn.searchGraphRoutedPq(appended, index, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 16, k = k,
        ef = 256, rerankFactor = 256)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"))
      val recall = exact
        .join(got.select($"probe_id", $"id"), Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 4 && min($"count") >= k - 1).as("keystone_ok"))
      untouched.crossJoin(broadcast(conserved)).crossJoin(broadcast(consist))
        .crossJoin(broadcast(recall))
    }),

    // V31: the PQ graph tier's PERSISTED + PUBLISHED serving form (r13
    // verdict item 3) — v23's contract on the DiskANN-shaped tier: codes
    // + adjacency written partition-per-cell, published atomically, a
    // routed search reads ONLY the probed cells' directories
    // (PartitionFilters — spec-asserted in PlanAuditSpec) and is
    // row-identical to the in-memory routed PQ search over the same
    // files; the FILTERED persisted path (r13 item 4) is row-identical
    // to the in-memory filtered path. clumpBound is the build-time
    // pqClumpBound — the documented serving configuration (a fresh read
    // cannot reuse the in-JVM memo).
    "v31_pq_graph_persisted" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val nodes = Fixtures.cached(s, s"v28_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding", index,
          m = 8, efConstruction = 48))
      val root = Fixtures.cachedObj(s, s"v31_root:$d") {
        val t = java.nio.file.Files.createTempDirectory("graft-v31").toString
        GraphAnn.publishGraphCells(nodes, t)
        t
      }
      val bound = Fixtures.cachedObj(s, s"v31_clump:$d")(
        GraphAnn.pqClumpBound(nodes))
      val vdir = s"$root/${graft.pipeline.VersionedIndex.currentVersion(root)
        .getOrElse(sys.error(s"no published version under $root"))}"
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val nprobe = 4
      val disk = GraphAnn.searchGraphRoutedPqPublished(s, root, index, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe, k,
          ef = 64, rerankFactor = 16, clumpBound = Some(bound))
        .localCheckpoint(true)
      val mem = GraphAnn.searchGraphRoutedPq(
        GraphAnn.restoreSegmentLocality(
          s.read.schema(GraphAnn.pqCellsSchema).parquet(vdir)), index, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe, k,
        ef = 64, rerankFactor = 16, clumpBound = Some(bound))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"probe_id", $"id", $"rank")
      val diff = rows(disk).exceptAll(rows(mem))
        .unionByName(rows(mem).exceptAll(rows(disk)))
        .agg((count(lit(1)) === 0).as("matches_memory"))
      // the filtered persisted path over the SAME files ≡ the in-memory
      // filtered path (allowed joins, never collects; v28 widths — the
      // survivor pool binds on filtered PQ, SCALING.md)
      val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
      val fdisk = GraphAnn.searchGraphRoutedPqPersisted(s, vdir, index, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe, k,
        ef = 256, rerankFactor = 64, clumpBound = Some(bound),
        allowed = Some(allowed))
      val fmem = GraphAnn.searchGraphRoutedPqFiltered(
        GraphAnn.restoreSegmentLocality(
          s.read.schema(GraphAnn.pqCellsSchema).parquet(vdir)), index, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec", allowed,
        nprobe, k, ef = 256, rerankFactor = 64, clumpBound = Some(bound))
      val fdiff = rows(fdisk).exceptAll(rows(fmem))
        .unionByName(rows(fmem).exceptAll(rows(fdisk)))
        .agg((count(lit(1)) === 0).as("filtered_matches"))
      val probedCells = probes.select($"probe_vec").as[Array[Float]].collect()
        .flatMap(v => Similarity.probedCells(index, v, nprobe))
        .distinct.toSeq
      val fanout = disk.select($"id")
        .join(index.coded.select($"id", $"cell"), Seq("id"))
        .agg(every($"cell".isin(probedCells: _*)).as("fanout_ok"))
      disk.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"),
          (min($"count") === k && max($"count") === k).as("all_k8"))
        .crossJoin(broadcast(diff)).crossJoin(broadcast(fdiff))
        .crossJoin(broadcast(fanout))
    }),

    // V32: the composed serving-lifecycle keystone (r13 verdict item 5)
    // — every link is individually gated (v18 build, v29 append, v21
    // merge, v25 delete/purge, v23/v24 persisted+filtered serving); this
    // gate runs the WHOLE float-tier chain end to end and checks the
    // composition: build(evens) → append(odds) → merge(withinPart) →
    // purge(batch 1) → atomic publish → filtered search through the
    // PUBLISHED path with a SECOND (unpurged) delete batch masked at
    // serve time ≡ brute force over allowed ∖ (purged ∪ masked). A
    // regression in any link's interaction with the next (the class the
    // x8 keystone caught for v21) fails here even while each link's own
    // gate stays green.
    "v32_lifecycle_published" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16,
          iters = 2))
      val m = 8
      val existing = GraphAnn.buildGraphPerCell(s,
        index.assignments.join(emb.filter($"vec_id" % 2 === 0)
          .select($"vec_id".as("id")), Seq("id"), "left_semi"),
        m = m, efConstruction = 48)
      val appended = GraphAnn.appendGraphCells(existing,
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding",
        index.centroids, m = m, efConstruction = 48)
      val nEmb = emb.count()
      val merged = GraphAnn.mergeSegments(appended,
        math.max(4, (nEmb / 16).toInt), m = m, efConstruction = 48,
        withinPart = true)
      val tombs = emb.filter($"vec_id" % 5 === 2).select($"vec_id".as("id"))
      val purged = GraphAnn.purgeTombstones(merged, tombs, m = m,
          efConstruction = 48)
        .localCheckpoint(true)
      // ONE root per (session, sf): each run publishes a fresh version
      // into it and publishInto's keepVersions retention reaps the old
      // ones — repeated samples exercise the real re-publication loop
      // instead of leaking a full index copy per run
      val root = Fixtures.cachedObj(s, s"v32_root:$d")(
        java.nio.file.Files.createTempDirectory("graft-v32").toString)
      GraphAnn.publishGraphCells(purged, root)
      val published = graft.pipeline.VersionedIndex.currentVersion(root)
        .isDefined
      val allowed = emb.filter($"vec_id" % 3 =!= 1).select($"vec_id".as("id"))
      val tombs2 = emb.filter($"vec_id" % 7 === 3).select($"vec_id".as("id"))
      val probes = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val got = GraphAnn.searchGraphRoutedPublished(s, root, index.centroids,
          probes, "probe_id", "probe_vec", nprobe = 16, k = k,
          ef = nEmb.toInt, tombstones = Some(tombs2),
          allowed = Some(allowed))
        .localCheckpoint(true)
      val survivors = emb.filter($"vec_id" % 3 =!= 1 &&
        $"vec_id" % 5 =!= 2 && $"vec_id" % 7 =!= 3)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          survivors, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"), $"sim", $"rank")
      // v21/v29's float-robust keystone form: sets agree up to one ε-tied
      // boundary member, per-rank score profiles agree to 1e-6
      val setsOk = got.join(exact.select($"probe_id", $"id"),
          Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 3 && min($"count") >= k - 1).as("sets_ok"))
      val simsOk = got.select($"probe_id", $"rank", $"sim".as("g"))
        .join(exact.select($"probe_id", $"rank", $"sim".as("e")),
          Seq("probe_id", "rank"))
        .agg((count(lit(1)) === 3 * k &&
          max(abs($"g" - $"e")) < 1e-6).as("sims_ok"))
      // containment: nothing deleted (either batch) or disallowed emits
      val leaks = got.select($"id")
        .join(survivors.select($"vec_id".as("id")), Seq("id"), "left_anti")
        .agg((count(lit(1)) === 0).as("no_leaks"))
      val nLive = emb.filter($"vec_id" % 5 =!= 2).count()
      val purgeOk = purged.agg((count(lit(1)) === nLive &&
        count_distinct($"id") === nLive).as("purge_conserved"))
      setsOk.crossJoin(broadcast(simsOk)).crossJoin(broadcast(leaks))
        .crossJoin(broadcast(purgeOk))
        .select(($"sets_ok" && $"sims_ok").as("keystone_ok"), $"no_leaks",
          $"purge_conserved", lit(published).as("published_ok"))
    }),

    // V33: v32's composition on the PQ tier, once the tier gained its
    // append (v30) and persisted/published serving (v31): build(evens) →
    // appendPq(odds) → purgePq(batch 1) → publish → FILTERED search
    // through the published path with batch 2 masked, guard on, at the
    // v28 widths (ef=256, rf=64 — the survivor pool binds on filtered
    // PQ) ≡ brute force over allowed ∖ (purged ∪ masked), one ε-tied
    // boundary member allowed.
    "v33_pq_lifecycle_published" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val existing = GraphAnn.buildGraphPerCellPq(s,
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", index,
        m = 8, efConstruction = 48)
      val appended = GraphAnn.appendGraphCellsPq(existing,
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", index,
        m = 8, efConstruction = 48)
      val tombs = emb.filter($"vec_id" % 5 === 2).select($"vec_id".as("id"))
      val purged = GraphAnn.purgeTombstonesPq(appended, tombs, emb,
          "vec_id", "embedding", m = 8, efConstruction = 48)
        .localCheckpoint(true)
      // one root per (session, sf), re-published per run (v32 note)
      val root = Fixtures.cachedObj(s, s"v33_root:$d")(
        java.nio.file.Files.createTempDirectory("graft-v33").toString)
      GraphAnn.publishGraphCells(purged, root)
      val allowed = emb.filter($"vec_id" % 3 =!= 1).select($"vec_id".as("id"))
      val tombs2 = emb.filter($"vec_id" % 7 === 3).select($"vec_id".as("id"))
      val probes = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val got = GraphAnn.searchGraphRoutedPqPublished(s, root, index, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 16, k = k, ef = 256, rerankFactor = 64,
          tombstones = Some(tombs2), allowed = Some(allowed))
        .localCheckpoint(true)
      val survivors = emb.filter($"vec_id" % 3 =!= 1 &&
        $"vec_id" % 5 =!= 2 && $"vec_id" % 7 =!= 3)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          survivors, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"))
      val setsOk = got.join(exact, Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 3 && min($"count") >= k - 1).as("keystone_ok"))
      val leaks = got.select($"id")
        .join(survivors.select($"vec_id".as("id")), Seq("id"), "left_anti")
        .agg((count(lit(1)) === 0).as("no_leaks"))
      val nLive = emb.filter($"vec_id" % 5 =!= 2).count()
      val purgeOk = purged.agg((count(lit(1)) === nLive &&
        count_distinct($"id") === nLive).as("purge_conserved"))
      setsOk.crossJoin(broadcast(leaks)).crossJoin(broadcast(purgeOk))
    }),

    // V34: COLD-START serving (r14 verdict item 1) — the PQ tier's one
    // missing durability link: publishPqServing writes graph cells AND
    // training artifacts (centroids + codebook + coded table + clump
    // manifest) under ONE version, then a FRESH read path (readIvfPq —
    // no in-memory IvfPqIndex, no clump memo, no retrain) serves through
    // the published files row-identically to the in-memory index,
    // unfiltered and filtered — the reference's self-contained-index
    // property (tools/aisearch.py:162-212: query time needs no training
    // state). Also pins the bit-exact artifact round-trip itself:
    // centroids, codebook, clump bound, and the coded table.
    "v34_pq_cold_start" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val nodes = Fixtures.cached(s, s"v28_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding", index,
          m = 8, efConstruction = 48))
      val bound = Fixtures.cachedObj(s, s"v31_clump:$d")(
        GraphAnn.pqClumpBound(nodes))
      // one root per (session, sf), re-published per run (v32 note)
      val root = Fixtures.cachedObj(s, s"v34_root:$d")(
        java.nio.file.Files.createTempDirectory("graft-v34").toString)
      // the drift reference travels WITH the artifacts so a cold-started
      // server can run the monitored append (v35) without the corpus
      val ref = Fixtures.cachedObj(s, s"v35_ref:$d")(
        Similarity.driftStats(s, emb.select($"embedding"), "embedding",
          index.centroids, unit = true))
      GraphAnn.publishPqServing(nodes, index, root, Some(bound), Some(ref))
      val v = graft.pipeline.VersionedIndex.currentVersion(root)
        .getOrElse(sys.error(s"no published version under $root"))
      // artifact round-trip: every float bit-exact, bound carried, coded
      // table row-identical (a lossy round-trip would silently degrade
      // every cold search instead of failing loudly here)
      val art = Similarity.readIvfPq(s, s"$root/$v/artifacts")
      val centsOk = art.index.centroids.length == index.centroids.length &&
        art.index.centroids.zip(index.centroids).forall {
          case ((ci, a), (cj, b)) =>
            ci == cj && java.util.Arrays.equals(a, b) }
      val bookOk = art.index.book.subspaces == index.book.subspaces &&
        art.index.book.subDim == index.book.subDim &&
        art.index.book.centroids.zip(index.book.centroids).forall {
          case (sa, sb) => sa.length == sb.length &&
            sa.zip(sb).forall { case (x, y) => java.util.Arrays.equals(x, y) } }
      val boundOk = art.clumpBound.contains(bound)
      val driftOk = art.driftStats.exists(d => d.n == ref.n &&
        d.meanResidNorm == ref.meanResidNorm &&
        d.p95ResidNorm == ref.p95ResidNorm &&
        d.cellMass.toSeq == ref.cellMass.toSeq)
      def codedNorm(df: org.apache.spark.sql.DataFrame) =
        df.select($"id", $"cell", $"pq_codes")
      val codedDiff = codedNorm(art.index.coded)
        .exceptAll(codedNorm(index.coded))
        .unionByName(codedNorm(index.coded)
          .exceptAll(codedNorm(art.index.coded)))
        .agg((count(lit(1)) === 0).as("coded_roundtrip"))
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val nprobe = 4
      val cold = GraphAnn.searchGraphRoutedPqColdStart(s, root, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe,
          k, ef = 64, rerankFactor = 16)
        .localCheckpoint(true)
      val mem = GraphAnn.searchGraphRoutedPq(
        GraphAnn.restoreSegmentLocality(
          s.read.schema(GraphAnn.pqCellsSchema).parquet(s"$root/$v/cells")),
        index, emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe, k, ef = 64, rerankFactor = 16, clumpBound = Some(bound))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"probe_id", $"id", $"rank")
      val diff = rows(cold).exceptAll(rows(mem))
        .unionByName(rows(mem).exceptAll(rows(cold)))
        .agg((count(lit(1)) === 0).as("matches_memory"))
      // the filtered cold path too (v28 widths — survivor pool binds)
      val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id".as("id"))
      val fcold = GraphAnn.searchGraphRoutedPqColdStart(s, root, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe, k,
        ef = 256, rerankFactor = 64, allowed = Some(allowed))
      val fmem = GraphAnn.searchGraphRoutedPqFiltered(
        GraphAnn.restoreSegmentLocality(
          s.read.schema(GraphAnn.pqCellsSchema).parquet(s"$root/$v/cells")),
        index, emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
        allowed, nprobe, k, ef = 256, rerankFactor = 64,
        clumpBound = Some(bound))
      val fdiff = rows(fcold).exceptAll(rows(fmem))
        .unionByName(rows(fmem).exceptAll(rows(fcold)))
        .agg((count(lit(1)) === 0).as("filtered_matches"))
      val layoutOk = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/$v/cells")) &&
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/$v/artifacts/codebook"))
      cold.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"),
          (min($"count") === k && max($"count") === k).as("all_k8"))
        .crossJoin(broadcast(codedDiff)).crossJoin(broadcast(diff))
        .crossJoin(broadcast(fdiff))
        .select($"n_probes", $"all_k8", $"coded_roundtrip",
          $"matches_memory", $"filtered_matches",
          lit(centsOk && bookOk && boundOk && driftOk).as("artifacts_bitexact"),
          lit(layoutOk).as("one_version_layout"))
    }),

    // V35: append-path DRIFT MONITOR (r14 verdict item 4) — the
    // no-retrain append discipline (appendToIvf, appendGraphCellsPq)
    // accepts unbounded distribution drift silently; this gate pins the
    // monitor that makes "retrain via a scheduled rebuild" an actionable
    // signal instead of a doc comment. Float tier: writeIvf stores the
    // build-time distribution, appendToIvfMonitored scores each batch,
    // logs it to the drift_log side table, and still lands the append.
    // PQ tier: appendGraphCellsPqMonitored scores in the index's unit
    // space. Both directions pinned: an in-distribution batch (a modular
    // sample of the corpus) must NOT trip; a planted drifted batch
    // (+2.0 per dimension — new raw region AND new routing mass) MUST.
    "v35_append_drift" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16,
          iters = 2))
      // fresh persisted dir per run: the gate exercises the real
      // write → append → drift_log loop end to end
      val dir = java.nio.file.Files.createTempDirectory("graft-v35")
        .toString + "/ivf"
      Similarity.writeIvf(index, dir)
      val nEmb = emb.count()
      val inDist = emb.filter($"vec_id" % 3 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      val drifted = emb.filter($"vec_id" % 3 === 1)
        .select(($"vec_id" + 2000000L).as("vec_id"),
          expr("transform(embedding, x -> x + 2.0f)").as("embedding"))
      val r1 = Similarity.appendToIvfMonitored(s, dir, inDist,
        "vec_id", "embedding")
      val r2 = Similarity.appendToIvfMonitored(s, dir, drifted,
        "vec_id", "embedding")
      val logRows = s.read.schema(Similarity.driftLogSchema).parquet(s"$dir/drift_log").count()
      val landed = s.read.schema(Similarity.assignmentsSchema)
        .parquet(s"$dir/assignments").count() ==
        nEmb + r1.n + r2.n
      // PQ tier: the unit-space monitor on the graph append
      val pq = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val ref = Fixtures.cachedObj(s, s"v35_ref:$d")(
        Similarity.driftStats(s, emb.select($"embedding"), "embedding",
          pq.centroids, unit = true))
      val nodes = Fixtures.cached(s, s"v28_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding", pq,
          m = 8, efConstruction = 48))
      // in-dist legs score through the REPORT path alone (the monitor's
      // claim); each tier's DRIFTED leg goes through the full monitored
      // APPEND (the integration claim: report + the append still lands)
      // — DriftSpec pins monitored ≡ unmonitored append row-identity
      val p1 = Similarity.driftReport(s, inDist.select($"embedding"),
        "embedding", pq.centroids, ref, unit = true)
      val (g2, p2) = GraphAnn.appendGraphCellsPqMonitored(nodes, drifted,
        "vec_id", "embedding", pq, ref, m = 8, efConstruction = 48)
      val pqLanded = g2.count() == nodes.count() + p2.n
      // float GRAPH tier: the third leg of the monitored-append surface
      // (raw space — the reference comes from the known assignments)
      val fgNodes = Fixtures.cached(s, s"v24_nodes:$d")(
        GraphAnn.buildGraphPerCell(s, index.assignments, m = 8,
          efConstruction = 48))
      val fgRef = Fixtures.cachedObj(s, s"v35_fgref:$d")(
        Similarity.driftStatsAssigned(s, index.assignments, "cell", "vec",
          index.centroids))
      val f1 = Similarity.driftReport(s, inDist.select($"embedding"),
        "embedding", index.centroids, fgRef, unit = false)
      val (fg2, f2) = GraphAnn.appendGraphCellsMonitored(fgNodes, drifted,
        "vec_id", "embedding", index.centroids, fgRef, m = 8,
        efConstruction = 48)
      val fgLanded = fg2.count() == fgNodes.count() + f2.n
      s.range(1).select(
        lit(!r1.drifted).as("float_in_dist_clean"),
        lit(r2.drifted).as("float_drift_tripped"),
        lit(!p1.drifted).as("pq_in_dist_clean"),
        lit(p2.drifted).as("pq_drift_tripped"),
        lit(!f1.drifted).as("fg_in_dist_clean"),
        lit(f2.drifted).as("fg_drift_tripped"),
        lit(r2.residRatio > r1.residRatio && p2.massKl > p1.massKl &&
          f2.residRatio > f1.residRatio).as("metrics_ordered"),
        lit(logRows == 2L).as("log_rows_ok"),
        lit(landed && pqLanded && fgLanded).as("appends_landed"))
    }),

    // V36: the drift-triggered REBUILD keystone — v35's signal composed
    // with v34's publish into the complete maintenance loop the docs
    // promise ("retrain drift via a scheduled rebuild"): build+publish
    // on the base corpus → a DRIFTED batch arrives through the monitored
    // append (the monitor must trip — that is the scheduler's signal) →
    // retrain on base ∪ arrivals → republish through ONE pointer flip →
    // (a) the same batch re-scored against the NEW artifacts reads
    // IN-distribution (the rebuild absorbs the drift), (b) a cold-start
    // search through the republished root for DRIFTED probes recovers
    // brute force over the union (the drifted clump, hopeless under the
    // stale codebook's saturated residuals, is first-class after
    // retraining), (c) retention holds the version count.
    "v36_drift_rebuild" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      // quarter-sized legs: the gate's point is the loop, not the build
      // throughput (v13/v16 gate training itself)
      val base = emb.filter($"vec_id" % 4 === 0)
      val baseIx = Fixtures.cachedObj(s, s"v36_base:$d")(
        Similarity.buildIvfPq(s, base, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val baseNodes = Fixtures.cached(s, s"v36_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, base, "vec_id", "embedding",
          baseIx, m = 8, efConstruction = 48))
      val baseRef = Fixtures.cachedObj(s, s"v36_ref:$d")(
        Similarity.driftStats(s, base.select($"embedding"), "embedding",
          baseIx.centroids, unit = true))
      // the published BASE root is deployment state (FIXTURES discipline:
      // a production system has yesterday's index on disk) — published
      // once per session; the REBUILD republish below is the loop under
      // test and runs per sample (retention reaps its versions)
      val root = Fixtures.cachedObj(s, s"v36_root:$d") {
        val t = java.nio.file.Files.createTempDirectory("graft-v36").toString
        GraphAnn.publishPqServing(baseNodes, baseIx, t,
          Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
        t
      }
      // a drifted batch arrives (new region of the space, new ids); the
      // monitored APPEND path itself is v30/v35's gated operator — v36
      // gates the RESPONSE to its signal, so only the signal runs here
      // +0.5/dim, not v35's +2.0: the monitor trips either way, but a
      // +2.0 shift COLLAPSES the normalized mode into a near-tie ball
      // (internal sims ~0.997+) where "exact top-8 among 4000 eps-ties"
      // is a degenerate task no ADC width short of the whole mode can
      // win (measured at x8: clump bound 2866 yet the true siblings
      // ranked below the widened pool; rf=64 and rf=256 fail alike);
      // +0.5 drifts the routing mass just as hard while keeping the
      // mode's internal variance, so the keystone ranks a REAL task
      val arrivals = Fixtures.cached(s, s"v36_arrivals:$d")(
        emb.filter($"vec_id" % 4 === 1)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x + 0.5f)").as("embedding")))
      val report = Similarity.driftReport(s, arrivals.select($"embedding"),
        "embedding", baseIx.centroids, baseRef, unit = true)
      // THE SIGNAL fires → the scheduled rebuild runs on the union and
      // republishes: one pointer flip swaps codes, adjacency, centroids,
      // codebook, clump bound AND the refreshed drift reference
      val union = Fixtures.cached(s, s"v36_union:$d")(
        base.select($"vec_id", $"embedding")
          .unionByName(arrivals.select($"vec_id", $"embedding")))
      val newIx = Similarity.buildIvfPq(s, union, "vec_id", "embedding",
        nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
        pqIters = 2)
      val newNodes = GraphAnn.buildGraphPerCellPq(s, union, "vec_id",
        "embedding", newIx, m = 8, efConstruction = 48)
      val newRef = Similarity.driftStats(s, union.select($"embedding"),
        "embedding", newIx.centroids, unit = true)
      GraphAnn.publishPqServing(newNodes, newIx, root,
        Some(GraphAnn.pqClumpBound(newNodes)), Some(newRef))
      // (a) the rebuild ABSORBS the drift — stated the way a monitor can
      // honestly measure it: the drifted batch's metrics strictly improve
      // against the new artifacts (its residuals are now explained by its
      // own centroids; its routing KL falls from ~ln(1/staleCellMass) to
      // the structural ~ln 2 any re-scored half-corpus mode carries —
      // which is WHY "!after.drifted" would be the wrong invariant), and
      // a batch drawn from the NEW mixed reality reads in-distribution.
      val art = Similarity.readIvfPq(s,
        s"$root/${graft.pipeline.VersionedIndex.currentVersion(root).get}/artifacts")
      val after = Similarity.driftReport(s, arrivals.select($"embedding"),
        "embedding", art.index.centroids, art.driftStats.get, unit = true)
      val nextTraffic = union.filter($"vec_id" % 3 === 0)
      val mixed = Similarity.driftReport(s, nextTraffic.select($"embedding"),
        "embedding", art.index.centroids, art.driftStats.get, unit = true)
      // (b) cold-start serve through the republished root, DRIFTED probes
      val probes = arrivals.filter($"vec_id" < 1000020L)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      // rf=256: the drifted clump is exactly the ADC-tied regime where
      // the SURVIVOR pool, not the beam, is the binding width (the
      // layout-independent v19/v28/v30 law — rf=64 left the x8 keystone
      // short at ANY ef; widen rf first)
      val got = GraphAnn.searchGraphRoutedPqColdStart(s, root, union,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 16, k = k, ef = 256, rerankFactor = 256)
        .localCheckpoint(true)
      val nProbes = probes.count()
      // the brute-force reference recompute is the gate's oracle harness,
      // not the operator (v15/v16 discipline) — the equality check below
      // still executes per run
      val exact = Fixtures.cached(s, s"v36_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            union, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      val keystone = got.join(exact, Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === nProbes && min($"count") >= k - 1)
          .as("keystone_ok"))
      val versions = graft.pipeline.VersionedIndex.versions(root).size
      keystone.select($"keystone_ok",
        lit(report.drifted).as("signal_tripped"),
        lit(after.residRatio < report.residRatio &&
          after.massKl < report.massKl && !mixed.drifted)
          .as("rebuild_absorbs_drift"),
        lit(versions <= 2).as("retention_ok"))
    }),

    // V37: BOUNDED drift maintenance — v36's loop with the retrain
    // confined to the DRIFTED REGION (the FreshDiskANN discipline,
    // Singh et al. 2021 arXiv:2105.09613: maintenance cost scales with
    // the changed region, never the corpus — the cost lever the
    // reference names too, CHANGELOG v2.2.5 "full re-index =
    // significant cost implications"). Plant a drift that LOCALIZES to
    // a strict cell subset; the partial rebuild must (a) retire exactly
    // those cells and retrain only their members + the drifted
    // arrivals, (b) pass every untouched cell's coded rows and
    // adjacency through PHYSICALLY unchanged (two-way exceptAll; the
    // only additions outside the replacement cells are appended batch
    // rows), (c) keep the codebook byte-identical (the invariant that
    // keeps untouched codes valid), (d) merge the drift reference
    // EXACTLY (count-weighted per-cell merge ≡ a direct recompute),
    // (e) serve the drifted mode cold-start at brute-force recall
    // through the ONE republish flip, with mixed traffic reading
    // in-distribution and retention holding.
    "v37_partial_rebuild" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val base = emb.filter($"vec_id" % 4 === 0)
      // v36's fixtures verbatim — same base corpus, same index/graph/
      // reference build (deployment state, built once per session)
      val baseIx = Fixtures.cachedObj(s, s"v36_base:$d")(
        Similarity.buildIvfPq(s, base, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
          pqIters = 2))
      val baseNodes = Fixtures.cached(s, s"v36_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, base, "vec_id", "embedding",
          baseIx, m = 8, efConstruction = 48))
      val baseRef = Fixtures.cachedObj(s, s"v36_ref:$d")(
        Similarity.driftStats(s, base.select($"embedding"), "embedding",
          baseIx.centroids, unit = true))
      // fresh root per run: the orchestrator reads the root's CURRENT
      // version, so a cached root would see its own previous rebuild
      val root = java.nio.file.Files.createTempDirectory("graft-v37")
        .toString
      val v0 = GraphAnn.publishPqServing(baseNodes, baseIx, root,
        Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
      // v36's +0.5/dim plant (mode-preserving, see its comment), but
      // an EIGHTH of the corpus: a confined mode, not a second corpus
      val batch = Fixtures.cached(s, s"v37_batch:$d")(
        emb.filter($"vec_id" % 8 === 1)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x + 0.5f)").as("embedding")))
      val corpus = Fixtures.cached(s, s"v37_corpus:$d")(
        base.select($"vec_id", $"embedding")
          .unionByName(batch.select($"vec_id", $"embedding")))
      val res = GraphAnn.rebuildDriftedServing(s, root, corpus,
        "vec_id", "embedding", batch, "vec_id", "embedding",
        splitFactor = 2, ivfIters = 2, m = 8, efConstruction = 48)
        .getOrElse(throw new IllegalStateException(
          "planted drift must trigger the partial rebuild"))
      val tripped = res.tripped.toSeq
      val corpusN = corpus.count()
      val batchN = batch.count()
      // (b) untouched cells: nothing lost or changed, additions are
      // exactly region + remainder, and what an untouched cell gains
      // is appended batch rows only
      val oldArt = s"$root/$v0/artifacts"
      val newArt = s"$root/${res.version}/artifacts"
      def coded(p: String) = s.read
        .schema(Similarity.codedSchema).parquet(s"$p/coded")
        .filter(!$"cell".isin(tripped: _*))
        .select($"id", $"cell", $"pq_codes")
      val codedA = coded(oldArt); val codedB = coded(newArt)
      val codedAdds = codedB.exceptAll(codedA).localCheckpoint(true)
      val batchIds = batch.select($"vec_id".cast("long").as("id"))
      val codedNew = s.read.schema(Similarity.codedSchema).parquet(s"$newArt/coded")
        .join(batchIds, Seq("id"), "left_semi").localCheckpoint(true)
      val untouchedCodedOk = codedA.exceptAll(codedB).isEmpty &&
        codedAdds.count() == res.regionRows + res.restRows &&
        codedAdds.filter(!$"cell".isin(res.newCells.toSeq: _*))
          .join(batchIds, Seq("id"), "left_anti").isEmpty &&
        codedNew.count() == batchN &&
        codedNew.select($"id").distinct().count() == batchN
      def adj(p: String) = s.read
        .schema(GraphAnn.pqCellsSchema).parquet(s"$root/$p/cells")
        .filter(!$"part".isin(tripped: _*))
        .select($"part", $"id", $"codes", $"level", $"neighbors", $"seg")
      val adjA = adj(v0); val adjB = adj(res.version)
      val untouchedAdjOk = adjA.exceptAll(adjB).isEmpty &&
        adjB.exceptAll(adjA)
          .filter(!$"part".isin(res.newCells.toSeq: _*))
          .join(batchIds, Seq("id"), "left_anti").isEmpty
      // (a)+(c) retire + frozen codebook
      val art = Similarity.readIvfPq(s, newArt)
      val liveCells = art.index.centroids.map(_._1).toSet
      val oldMax = baseIx.centroids.map(_._1).max
      val retireOk = res.tripped.forall(c => !liveCells.contains(c)) &&
        res.newCells.forall(_ > oldMax) &&
        s.read.schema(Similarity.codedSchema).parquet(s"$newArt/coded")
          .filter($"cell".isin(tripped: _*)).isEmpty
      val bookOk = art.index.book.centroids.zip(baseIx.book.centroids)
        .forall { case (sa, sb) => sa.zip(sb).forall {
          case (x, y) => java.util.Arrays.equals(x, y) } }
      // (d) the merged reference ≡ a direct recompute over EVERY row the
      // index serves — r17: the appended remainder's post-append stats
      // now fold into the merge, so the coverage is the full coded table
      val covered = s.read.schema(Similarity.codedSchema)
        .parquet(s"$newArt/coded").select($"id", $"cell")
        .join(corpus.select($"vec_id".cast("long").as("id"), $"embedding"),
          Seq("id"))
      val unitU = udf((v: Seq[Float]) => Similarity.l2unit(v).toSeq)
      val direct = Similarity.driftStatsAssigned(s,
        covered.withColumn("vec", unitU($"embedding")), "cell", "vec",
        art.index.centroids)
      val merged = art.driftStats.get
      val mergeOk = merged.n == direct.n &&
        math.abs(merged.meanResidNorm - direct.meanResidNorm) < 1e-9 &&
        merged.cellMass.toSeq == direct.cellMass.toSeq
      // (e) the drifted mode is first-class: cold-start drifted probes
      // recover brute force over the union; mixed traffic trips nothing
      val probes = batch.filter($"vec_id" < 1000020L)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val got = GraphAnn.searchGraphRoutedPqColdStart(s, root, corpus,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 16, k = k, ef = 256, rerankFactor = 256)
        .localCheckpoint(true)
      val nProbes = probes.count()
      val exact = Fixtures.cached(s, s"v37_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            corpus, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      val keystone = got.join(exact, Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === nProbes && min($"count") >= k - 1)
          .as("keystone_ok"))
      val mixedStats = Similarity.driftStats(s,
        corpus.select($"embedding"), "embedding", art.index.centroids,
        unit = true)
      val nCells = baseIx.centroids.length
      // materialize every verdict now so the per-run temp root can be
      // reaped (a fresh root per run is the gate's design — see above —
      // but N bench samples must not leave N published index trees)
      val keystoneOk = keystone.head().getBoolean(0)
      val mixedClean = Similarity.trippedCells(mixedStats, merged).isEmpty
      val retentionOk = graft.pipeline.VersionedIndex.versions(root).size <= 2
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      s.range(1).select(
        lit(keystoneOk).as("keystone_ok"),
        lit(res.tripped.nonEmpty && res.tripped.length < nCells)
          .as("signal_localized"),
        lit(res.regionRows + res.restRows < corpusN &&
          res.regionRows + res.restRows >= batchN).as("region_bounded"),
        lit(untouchedCodedOk).as("untouched_coded_ok"),
        lit(untouchedAdjOk).as("untouched_adj_ok"),
        lit(retireOk && bookOk).as("retire_and_book_ok"),
        lit(mergeOk).as("merge_exact"),
        lit(mixedClean).as("mixed_clean"),
        lit(retentionOk).as("retention_ok"))
    }),

    // V38: FLOAT-tier serving lifecycle parity — the float graph gains
    // the same one-flip self-contained publish (cells + routing head:
    // centroids + drift reference, no corpus-sized artifact — the nodes
    // carry the vectors), cold-start serving row-identical to the
    // in-memory path, and v37's bounded drift response
    // (rebuildDriftedServing: localize → retrain only tripped cells →
    // region graph rebuild → remainder append → exact reference merge →
    // one-flip republish). Untouched adjacency passes through
    // row-identical; the drifted mode serves at brute-force recall from
    // the republished root.
    "v38_float_partial_rebuild" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val base = emb.filter($"vec_id" % 4 === 0)
      val ivf = Fixtures.cachedObj(s, s"v38_ivf:$d") {
        val ix = Similarity.buildIvf(s,
          base.select($"vec_id".as("id"), $"embedding".as("vec")),
          "id", "vec", nCells = 16, iters = 2)
        Similarity.IvfIndex(ix.centroids, ix.assignments.localCheckpoint(true))
      }
      val baseNodes = Fixtures.cached(s, s"v38_nodes:$d")(
        GraphAnn.buildGraphPerCell(s, ivf.assignments, m = 8,
          efConstruction = 48))
      val baseRef = Fixtures.cachedObj(s, s"v38_ref:$d")(
        Similarity.driftStatsAssigned(s, ivf.assignments, "cell", "vec",
          ivf.centroids))
      val root = java.nio.file.Files.createTempDirectory("graft-v38")
        .toString
      val v0 = GraphAnn.publishServing(baseNodes, ivf.centroids, root,
        Some(baseRef))
      // cold start ≡ in-memory over the same files, BEFORE any rebuild
      val probes0 = base.filter($"vec_id" < 16)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val cold0 = GraphAnn.searchGraphRoutedColdStart(s, root, probes0,
        "probe_id", "probe_vec", nprobe = 6, k = 8, ef = 64)
      val mem0 = GraphAnn.searchGraphRoutedPersisted(s, s"$root/$v0/cells",
        ivf.centroids, probes0, "probe_id", "probe_vec", nprobe = 6,
        k = 8, ef = 64)
      val coldEqMemory = cold0.exceptAll(mem0).isEmpty &&
        mem0.exceptAll(cold0).isEmpty
      // v37's plant, the float tier's response
      val batch = Fixtures.cached(s, s"v37_batch:$d")(
        emb.filter($"vec_id" % 8 === 1)
          .select(($"vec_id" + 1000000L).as("vec_id"),
            expr("transform(embedding, x -> x + 0.5f)").as("embedding")))
      val corpus = Fixtures.cached(s, s"v38_corpus:$d")(
        base.select($"vec_id", $"embedding")
          .unionByName(batch.select($"vec_id", $"embedding")))
      val res = GraphAnn.rebuildDriftedServing(s, root, corpus,
        "vec_id", "embedding", batch, "vec_id", "embedding",
        splitFactor = 2, ivfIters = 2, m = 8, efConstruction = 48)
        .getOrElse(throw new IllegalStateException(
          "planted drift must trigger the partial rebuild"))
      val tripped = res.tripped.toSeq
      val corpusN = corpus.count()
      val batchN = batch.count()
      val batchIds = batch.select($"vec_id".cast("long").as("id"))
      def adj(p: String) = s.read
        .schema(GraphAnn.cellsSchema).parquet(s"$root/$p/cells")
        .filter(!$"part".isin(tripped: _*))
        .select($"part", $"id", $"vec", $"level", $"neighbors", $"seg")
      val adjA = adj(v0); val adjB = adj(res.version)
      val untouchedAdjOk = adjA.exceptAll(adjB).isEmpty &&
        adjB.exceptAll(adjA)
          .filter(!$"part".isin(res.newCells.toSeq: _*))
          .join(batchIds, Seq("id"), "left_anti").isEmpty
      val (newCents, mergedOpt) = Similarity.readIvfHead(s,
        s"$root/${res.version}/artifacts")
      val retireOk = res.tripped.forall(c => !newCents.map(_._1).contains(c)) &&
        res.newCells.forall(_ > ivf.centroids.map(_._1).max) &&
        s.read.parquet(s"$root/${res.version}/cells")
          .filter($"part".isin(tripped: _*)).isEmpty
      // merged reference ≡ direct recompute (raw vecs from the corpus —
      // nodes store unit vectors) over EVERY served row — r17: the
      // appended remainder's stats fold into the merge, full coverage
      val covered = s.read.parquet(s"$root/${res.version}/cells")
        .select($"part".as("cell"), $"id").distinct()
        .join(corpus.select($"vec_id".cast("long").as("id"),
          $"embedding".as("vec")), Seq("id"))
      val direct = Similarity.driftStatsAssigned(s, covered, "cell", "vec",
        newCents)
      val merged = mergedOpt.get
      val mergeOk = merged.n == direct.n &&
        math.abs(merged.meanResidNorm - direct.meanResidNorm) < 1e-9 &&
        merged.cellMass.toSeq == direct.cellMass.toSeq
      // drifted probes through the republished root recover brute force
      val probes = batch.filter($"vec_id" < 1000020L)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val got = GraphAnn.searchGraphRoutedColdStart(s, root, probes,
        "probe_id", "probe_vec", nprobe = 16, k = k, ef = 128)
        .localCheckpoint(true)
      val nProbes = probes.count()
      val exact = Fixtures.cached(s, s"v38_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            corpus, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      val keystoneOk = {
        val hits = got.join(exact, Seq("probe_id", "id"), "left_semi")
          .groupBy($"probe_id").count()
          .agg((count(lit(1)) === nProbes && min($"count") >= k - 1))
          .head().getBoolean(0)
        hits
      }
      val mixedClean = Similarity.trippedCells(
        Similarity.driftStats(s, corpus.select($"embedding"), "embedding",
          newCents, unit = false), merged).isEmpty
      val retentionOk =
        graft.pipeline.VersionedIndex.versions(root).size <= 2
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      s.range(1).select(
        lit(keystoneOk).as("keystone_ok"),
        lit(coldEqMemory).as("cold_eq_memory"),
        lit(res.tripped.nonEmpty &&
          res.tripped.length < ivf.centroids.length).as("signal_localized"),
        lit(res.regionRows + res.restRows < corpusN &&
          res.regionRows + res.restRows >= batchN).as("region_bounded"),
        lit(untouchedAdjOk).as("untouched_adj_ok"),
        lit(retireOk).as("retire_ok"),
        lit(mergeOk).as("merge_exact"),
        lit(mixedClean).as("mixed_clean"),
        lit(retentionOk).as("retention_ok"))
    }),

    // V15: BATCH ANN — many probes through one IVF candidate join (the
    // serving/eval shape; a per-query loop multiplies the index scan by
    // |queries|). Gate: per-probe results are row-identical to the
    // single-probe searchIvf path, every probe fills k.
    "v15_batch_ann" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      // the index is serving-tier state built once and queried per batch
      // (v5 gates the build path itself); memoized so this gate times the
      // batch serving path — probe→cell projection + candidate join +
      // bounded-heap top-k — not index training
      val index = Fixtures.cachedObj(s, s"v15_ivf:$d")(
        Similarity.buildIvf(s, emb, "vec_id", "embedding", nCells = 16, iters = 2))
      val probes = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val batch = Similarity.searchIvfBatch(index, probes, "probe_id",
          "probe_vec", nprobe = 6, k = 10)
        .select($"probe_id", $"id", round($"sim", 6).as("sim"))
      // the single-probe REFERENCE recompute is the gate's oracle harness
      // (5 independent searchIvf runs), not the operator under test —
      // memoized + checkpointed like every fixture; the equality check
      // against it still executes per run
      val singles = Fixtures.cached(s, s"v15_singles:$d")(
        (0L until 5L).map { q =>
          val p = emb.filter($"vec_id" === q)
            .select($"embedding").head().getSeq[Float](0).toArray
          Similarity.searchIvf(index, p, nprobe = 6, k = 10)
            .select(lit(q).as("probe_id"), $"id", round($"sim", 6).as("sim"))
        }.reduce(_.unionByName(_)))
      val onlyB = batch.exceptAll(singles).agg(count(lit(1)).as("only_batch"))
      val onlyS = singles.exceptAll(batch).agg(count(lit(1)).as("only_single"))
      batch.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"), min($"count").as("min_k"))
        .crossJoin(onlyB).crossJoin(onlyS)
        .select($"n_probes", ($"min_k" === 10).as("all_k10"),
          ($"only_batch" === 0 && $"only_single" === 0).as("matches_single"))
    }),

    // V16: batch IVF-PQ — the PQ serving tier's batch form (per-probe
    // ADC tables built once per task); gate pins row-identity with the
    // single-probe searchIvfPq across 4 probes.
    "v16_pq_batch" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      // memoized serving-tier index, as in v15 (v13 gates IVF-PQ training)
      val index = Fixtures.cachedObj(s, s"v16_ivfpq:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
          nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2))
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val batch = Similarity.searchIvfPqBatch(s, index, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe = 4, k = 8)
        .select($"probe_id", $"id", round($"sim", 6).as("sim"))
      // memoized single-probe reference recompute, as in v15
      val singles = Fixtures.cached(s, s"v16_singles:$d")(
        (0L until 4L).map { q =>
          val p = emb.filter($"vec_id" === q)
            .select($"embedding").head().getSeq[Float](0).toArray
          Similarity.searchIvfPq(s, index, emb, "vec_id", "embedding",
              p, nprobe = 4, k = 8)
            .select(lit(q).as("probe_id"), $"vec_id".as("id"), round($"sim", 6).as("sim"))
        }.reduce(_.unionByName(_)))
      val onlyB = batch.exceptAll(singles).agg(count(lit(1)).as("only_batch"))
      val onlyS = singles.exceptAll(batch).agg(count(lit(1)).as("only_single"))
      batch.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"), min($"count").as("min_k"))
        .crossJoin(onlyB).crossJoin(onlyS)
        .select($"n_probes", ($"min_k" === 8).as("all_k8"),
          ($"only_batch" === 0 && $"only_single" === 0).as("matches_single"))
    }),

    // Multi-probe exact top-k: broadcast probes × corpus, ranked by the
    // bounded-heap aggregator — no window, nothing sorts the corpus
    // (reference top-k retrieval, tools/aisearch.py:162-212).
    "v8_topk_multiprobe" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probes = emb.filter($"vec_id" % 100 === 0).select($"vec_id", $"embedding")
      Similarity.topKPerProbe(probes, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
        .select($"probe_id", $"vec_id", round($"sim", 6).as("sim"), $"rank")
        .orderBy($"probe_id", $"rank")
    }),

    // LSH-bucketed ANN vs brute force: recall@10 floor (the second scale
    // path next to IVF; rows sharing a band bucket with the probe are the
    // only candidates reranked).
    "v9_lsh_ann_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val approx = Similarity.lshSearch(emb, "vec_id", "embedding", probe, k = 10)
        .select($"id".as("vec_id"))
      // measured 9/10 at the gate SF; the floor catches a recall collapse
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 7).as("recall_ok"))
    }),

    // V20: 1-bit binary quantization — the most compressed rung of the
    // quantization ladder the engine ships (float32 → int8 v10 → PQ v11
    // → 1-bit): one mean-thresholded sign bit per dimension, packed into
    // ceil(dim/8) bytes (32× smaller than float32). Stage 1 scans ONLY
    // the bit codes with the codegen'd asymmetric kernel (ranking-
    // equivalent to approximate dot; binary_dot_f32), keeps k·rf
    // survivors per probe via the bounded-heap aggregator, stage 2
    // exact-reranks survivors against the float corpus — no corpus
    // shuffle in either stage. Gate: 4-probe batch, per-probe recall@10
    // vs the brute-force aggregator over the SAME batch, the storage
    // claim, and exact-k coverage of every probe.
    "v20_binary_ann" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val index = Similarity.quantizeBinary(emb, "vec_id", "embedding")
      val probes = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val approx = Similarity.searchBinaryBatch(index, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", k = k, rerankFactor = 16)
      val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
          emb, "vec_id", "embedding", k = k)
        .select($"probe_id".cast("long").as("probe_id"),
          $"vec_id".cast("long").as("id"))
      val recallOk = approx.select($"probe_id", $"id")
        .join(exact, Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === 4 && min($"count") >= 7).as("recall_ok"))
      val storageOk = index.codes
        .join(emb.select($"vec_id".cast("long").as("id"), $"embedding"), Seq("id"))
        .agg(every(length($"bits") ===
          floor((size($"embedding") + lit(7)) / lit(8)).cast("int"))
          .as("codes_1bit"))
      approx.groupBy($"probe_id").count()
        .agg(count(lit(1)).as("n_probes"),
          (min($"count") === k && max($"count") === k).as("all_k10"))
        .crossJoin(recallOk).crossJoin(storageOk)
    }),

    // Int8-quantized two-stage search vs brute force: the 4×-compressed
    // first pass plus exact rerank must reproduce the exact top-10 almost
    // perfectly (64-dim unit vectors quantize with ~1e-2 cosine error,
    // far below typical top-k gaps; the floor catches a kernel or
    // quantizer regression). Also asserts the compression invariant:
    // every code row is exactly dim bytes = ¼ of the float payload.
    "v10_quantized_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      val approx = Similarity.searchQuantized(quant, emb, "vec_id", "embedding",
        probe, k = 10)
        .select($"vec_id")
      val dimOk = quant.join(emb, Seq("vec_id"))
        .agg(every(length($"codes") === size($"embedding")).as("dim_ok"))
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 9).as("recall_ok"))
        .crossJoin(dimOk)
    }),

    // PQ (product quantization) ADC search vs brute force: 8 subspaces ×
    // 16 codes over L2-normalized 64-d vectors = 8-byte codes (32×
    // compression); stage 1 scores the corpus by table lookups only,
    // stage 2 exact-reranks 4k candidates. The floor catches codebook,
    // encoder, or ADC-table regressions; also asserts the code width.
    "v11_pq_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val book = Similarity.trainPq(s, emb, "vec_id", "embedding",
        subspaces = 8, codesPerSub = 16, iters = 2)
      val codes = Similarity.encodePq(s, emb, "vec_id", "embedding", book)
      val approx = Similarity.searchPq(s, codes, emb, "vec_id", "embedding",
        book, probe, k = 10)
        .select($"vec_id")
      val widthOk = codes.agg(every(length($"pq_codes") === 8).as("width_ok"))
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 6).as("recall_ok"))
        .crossJoin(widthOk)
    }),

    // V13: IVF-PQ — coarse cells + product-quantized residuals (the
    // canonical billion-scale ANN layout). Gates: top-10 recall vs brute
    // force, 8-byte code width, and the cell-bounded stage-1 (the probed
    // cells must hold strictly fewer codes than the corpus).
    "v13_ivfpq_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = probeVec(s, d)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
        .select($"vec_id")
      val index = Similarity.buildIvfPq(s, emb, "vec_id", "embedding",
        nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2)
      val approx = Similarity.searchIvfPq(s, index, emb, "vec_id", "embedding",
        probe, nprobe = 6, k = 10)
        .select($"vec_id")
      val widthOk = index.coded.agg(every(length($"pq_codes") === 8).as("width_ok"))
      val bounded = Seq(index.coded.filter($"cell".isin(
          Similarity.probedCells(index, probe, 6): _*)).count() <
        index.coded.count()).toDF("cells_bounded")
      exact.join(approx, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 6).as("recall_ok"))
        .crossJoin(widthOk).crossJoin(bounded)
    }),

    // V39: OPQ — the missing rung of the PQ ladder (Ge et al., CVPR
    // 2013): a learned orthonormal rotation re-balances variance across
    // the subspace blocks before coding, so the SAME 8 code bytes buy
    // strictly less quantization error. Rotation preserves cosines, so
    // the tier is the unchanged IVF-PQ machinery over rotated vectors.
    // Gate: at v13's corpus and byte budget, (a) quantization MSE
    // strictly improves over plain PQ (the training objective — Lloyd +
    // Procrustes alternation from identity can only descend), (b)
    // code-ranked recall@10 over an all-cells probe sweep is not worse,
    // (c) the rotation is orthonormal, (d) the persisted index serves
    // cold-start row-identically (rotation round-trips bit-exact).
    "v39_opq_recall" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      import graft.operators.Opq
      val emb = load(s, d, "embeddings")
      val nCells = 16; val subs = 8; val codes = 16
      // baseline book = the identity member of the SAME training loop
      // (opqIters = 0 → plain PQ), so the comparison isolates the
      // rotation, not training schedules
      val (basePair, opqPair) = Fixtures.cachedObj(s, s"v39_models:$d")((
        Opq.trainRotation(s, emb, "vec_id", "embedding", subs, codes,
          opqIters = 0, pqIters = 2),
        Opq.trainRotation(s, emb, "vec_id", "embedding", subs, codes,
          opqIters = 3, pqIters = 2)))
      val (rI, bookBase) = basePair
      val (rOpq, bookOpq) = opqPair
      val mseBase = Opq.quantizationMse(s, emb, "embedding", rI, bookBase)
      val mseOpq = Opq.quantizationMse(s, emb, "embedding", rOpq, bookOpq)
      // orthonormality: max |RᵀR − I|
      val dim = rOpq.length
      var maxDev = 0.0
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          var t = 0.0; var k2 = 0
          while (k2 < dim) { t += rOpq(k2)(i).toDouble * rOpq(k2)(j); k2 += 1 }
          maxDev = math.max(maxDev,
            math.abs(t - (if (i == j) 1.0 else 0.0)))
          j += 1
        }
        i += 1
      }
      // recall at equal bytes, rerankFactor=1 (code-ranked — the rerank
      // would mask code quality) and nprobe=nCells (cell layouts differ
      // between the spaces; probing all cells isolates the codes)
      val probes = emb.filter($"vec_id" % 16 === 0)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val exact = Fixtures.cached(s, s"v39_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            emb, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      val ixBase = Fixtures.cachedObj(s, s"v39_ixbase:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding", nCells,
          subs, codes, ivfIters = 2, pqIters = 2))
      val ixOpq = Fixtures.cachedObj(s, s"v39_ixopq:$d")(
        Opq.buildIvfOpq(s, emb, "vec_id", "embedding", nCells, subs,
          codes, ivfIters = 2, pqIters = 2, opqIters = 3))
      def hits(got: org.apache.spark.sql.DataFrame): Long =
        got.join(exact, Seq("probe_id", "id"), "left_semi").count()
      val hitsBase = hits(Similarity.searchIvfPqBatch(s, ixBase, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = nCells, k = k, rerankFactor = 1))
      val hitsOpq = hits(Similarity.searchIvfPqBatch(s, ixOpq, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = nCells, k = k, rerankFactor = 1))
      // cold-start: rotation + artifacts round-trip, serving identical
      val root = java.nio.file.Files.createTempDirectory("graft-v39")
        .toString
      Similarity.writeIvfPq(ixOpq, root)
      val reread = Similarity.readIvfPq(s, root).index
      val rotRt = reread.rotation.zip(ixOpq.rotation).exists {
        case (a, b) => a.zip(b).forall { case (x, y) =>
          java.util.Arrays.equals(x, y) } }
      val servedMem = Similarity.searchIvfPqBatch(s, ixOpq, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe = 4,
          k = k, rerankFactor = 4)
        .select($"probe_id", $"id", $"rank").localCheckpoint(true)
      val servedCold = Similarity.searchIvfPqBatch(s, reread, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe = 4,
          k = k, rerankFactor = 4)
        .select($"probe_id", $"id", $"rank").localCheckpoint(true)
      val coldEq = servedMem.exceptAll(servedCold).isEmpty &&
        servedCold.exceptAll(servedMem).isEmpty
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      // O(survivors) rerank pin (r17 verdict: the old path rotated the
      // WHOLE corpus below the rerank join — dim×dim flops × n per batch).
      // A sparse probe set keeps the survivors bound well under the corpus
      // size, so the accumulator separates O(survivors) from O(n): the
      // rotation UDF must fire ~once per stage-1 survivor. Accumulators
      // over-count under task retries/speculation, so the bound carries
      // a 3× retry margin — still far under the corpus size (the O(n)
      // signature this pin exists to catch), and the strict `< corpus`
      // leg holds even doubled.
      val sparseProbes = emb.filter($"vec_id" % 256 === 0)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val nSparse = sparseProbes.count()
      val corpusRows = emb.count()
      val (counted, acc) = Opq.searchIvfOpqBatchCounted(s, ixOpq, emb,
        "vec_id", "embedding", sparseProbes, "probe_id", "probe_vec",
        nprobe = 4, k = k, rerankFactor = 4)
      counted.count() // one action; acc is stable after it
      val rotationsBounded = acc.value <= 3 * nSparse * k * 4 &&
        acc.value < corpusRows
      s.range(1).select(
        // ≥ 3 % relative MSE cut, not just <: "strictly improves" must
        // not ride float noise (measured ~16 % at sf0.01, ~14 % sf0.1)
        lit(mseOpq < 0.97 * mseBase).as("mse_improves"),
        lit(hitsOpq >= hitsBase).as("recall_not_worse"),
        lit(maxDev < 1e-4).as("rotation_orthonormal"),
        lit(rotRt && coldEq).as("cold_start_ok"),
        lit(rotationsBounded).as("rerank_rotations_bounded"))
    }),

    // V40: OPQ composed with the PQ GRAPH serving tier (r17 verdict item
    // 5) — the 100 TB serving path gets v39's MSE cut. The rotation
    // slots in at three seams (probe transform, graph build input, the
    // rerank's survivor transform); routing, beams, ADC, clump guard,
    // publish flip and the PartitionFilters-pruned cold start are
    // GraphAnn verbatim. Gate: (a) graph recall@10 not worse than the
    // plain-PQ graph at equal bytes (same subspaces/codes/m/ef) —
    // STRICT wherever the corpus has no quantization-indistinguishable
    // clumps (clump bound 1: every natural sf; OPQ wins with margin —
    // sf0.01: 215 vs 194 of 320; sf0.1: 590 vs 573 of 1250), with a
    // 2%-of-total TIE allowance only when clumps exist: the x8 scale
    // replica is 8 nudged clones per vector, so every top-10 is
    // code-indistinguishable ties whose beam survival is noise the
    // rotation merely reshuffles (sign flips with ef; clump bounds
    // equal in both spaces — SCALING.md r18 table); the STRICT
    // code-quality-improvement claim lives in v39 (code-ranked, all
    // cells, green at x8). (b) a publishPqServing root of the OPQ
    // index serves cold-start row-identical to the in-memory path
    // (rotation under the SAME version flip), (c) the cold serve
    // returns the full top-k for every probe.
    "v40_opq_graph_serving" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      import graft.operators.Opq
      val emb = load(s, d, "embeddings")
      val nCells = 16; val subs = 8; val codes = 16
      val ixBase = Fixtures.cachedObj(s, s"v39_ixbase:$d")(
        Similarity.buildIvfPq(s, emb, "vec_id", "embedding", nCells,
          subs, codes, ivfIters = 2, pqIters = 2))
      val ixOpq = Fixtures.cachedObj(s, s"v39_ixopq:$d")(
        Opq.buildIvfOpq(s, emb, "vec_id", "embedding", nCells, subs,
          codes, ivfIters = 2, pqIters = 2, opqIters = 3))
      val m = 8; val efC = 48
      val nodesBase = Fixtures.cached(s, s"v40_nodes_base:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding",
          ixBase, m, efC))
      val nodesOpq = Fixtures.cached(s, s"v40_nodes_opq:$d")(
        GraphAnn.buildGraphPerCellPq(s, emb, "vec_id", "embedding",
          ixOpq, m, efC))
      val probes = emb.filter($"vec_id" % 16 === 0)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 10
      val exact = Fixtures.cached(s, s"v39_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            emb, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      def hits(got: org.apache.spark.sql.DataFrame): Long =
        got.join(exact, Seq("probe_id", "id"), "left_semi").count()
      val boundBase = GraphAnn.pqClumpBound(nodesBase)
      val boundOpq = GraphAnn.pqClumpBound(nodesOpq)
      val hitsBase = hits(GraphAnn.searchGraphRoutedPq(nodesBase, ixBase,
        emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 8, k = k, ef = 64, rerankFactor = 4,
        clumpBound = Some(boundBase)))
      val hitsOpq = hits(GraphAnn.searchGraphRoutedPq(nodesOpq, ixOpq,
        emb, "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 8, k = k, ef = 64, rerankFactor = 4,
        clumpBound = Some(boundOpq)))
      // one flip publishes cells + artifacts + rotation; cold ≡ memory
      val root = java.nio.file.Files.createTempDirectory("graft-v40")
        .toString
      val v1 = GraphAnn.publishPqServing(nodesOpq, ixOpq, root,
        Some(boundOpq))
      val mem = GraphAnn.searchGraphRoutedPq(nodesOpq, ixOpq, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 4, k = k, ef = 64, rerankFactor = 4,
          clumpBound = Some(boundOpq))
        .select($"probe_id", $"id", $"rank").localCheckpoint(true)
      val cold = GraphAnn.searchGraphRoutedPqColdStart(s, root, emb,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 4, k = k, ef = 64, rerankFactor = 4)
        .select($"probe_id", $"id", $"rank").localCheckpoint(true)
      val coldEq = graft.pipeline.VersionedIndex.currentVersion(root)
        .contains(v1) &&
        mem.exceptAll(cold).isEmpty && cold.exceptAll(mem).isEmpty
      val completeTopk = cold.count() == probes.count() * k
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      // the tie allowance exists ONLY where quantization-indistinguishable
      // clumps exist (clump bound > 1 — the x8 clone replica); on the
      // natural corpora (clump 1 at every sf) the claim is STRICT, so a
      // real recall regression there cannot hide behind the allowance
      val tieAllowance =
        if (boundBase <= 1 && boundOpq <= 1) 0L
        else math.ceil(0.02 * exact.count()).toLong
      s.range(1).select(
        lit(hitsOpq + tieAllowance >= hitsBase).as("recall_not_worse"),
        lit(coldEq).as("cold_eq_memory"),
        lit(completeTopk).as("complete_topk"))
    }),

    // V41: OPQ × the auto-maintenance loop (r18 verdict item 1 — the
    // drift tick was rotation-blind: pointed at an OPQ serving
    // root it would assign UNROTATED batch/corpus vectors against
    // rotated-space centroids and republish with no rotation/). Gates,
    // on st8's exact loop shape but an OPQ serving root: (a) the
    // arrival-point monitor needs NO OPQ variant — rotation is an
    // isometry, so the RAW-space head (Opq.unrotatedCentroids) plus the
    // rotated-space reference yields the same verdicts (clean batch
    // clean, planted batch trips) at zero per-row ingest cost; (b) the
    // tick pointed at a root that is not a serving root REFUSES at tick
    // start with the pending window intact (the tier is read from the
    // root, so no per-tier tick is left to miswire); (c) the one tick
    // reads the OPQ tier, rotates the batch at the tick boundary,
    // retrains the tripped region in rotated space, and the rotation
    // SURVIVES the republish flip bit-exactly (frozen-R, the codebook
    // discipline); (d) cold-start OPQ serving over the flipped root
    // recovers brute force for the drifted mode; (e) a
    // second tick is a no-op and the processed window cleared.
    "v41_opq_maintenance" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      import graft.operators.Opq
      val emb = load(s, d, "embeddings")
      val base = emb.filter($"vec_id" % 4 === 0)
      val ixOpq = Fixtures.cachedObj(s, s"v41_ixopq:$d")(
        Opq.buildIvfOpq(s, base, "vec_id", "embedding", nCells = 16,
          subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2,
          opqIters = 2))
      val nodes = Fixtures.cached(s, s"v41_nodes:$d")(
        GraphAnn.buildGraphPerCellPq(s, base, "vec_id", "embedding", ixOpq,
          m = 8, efConstruction = 48))
      val rotU = Opq.rotateUnitUdf(s, ixOpq.rotation.get)
      val refRot = Fixtures.cachedObj(s, s"v41_ref:$d")(
        Similarity.driftStats(s,
          base.select(rotU($"embedding").as("embedding")), "embedding",
          ixOpq.centroids, unit = true))
      // st8's arrival files verbatim (same fixture key): b0 in-dist,
      // b1 the planted +0.5/dim drifted mode, disjoint id spaces
      val inDist = emb.filter($"vec_id" % 16 === 3)
        .select(($"vec_id" + 3000000L).as("vec_id"), $"embedding")
      val drifted = emb.filter($"vec_id" % 16 === 1)
        .select(($"vec_id" + 2000000L).as("vec_id"),
          expr("transform(embedding, x -> x + 0.5f)").as("embedding"))
      val streamDir =
        Fixtures.stagedStreamDir(s, s"st8_stream:$d")(Seq(inDist, drifted))
      val root = java.nio.file.Files.createTempDirectory("graft-v41-root")
        .toString
      val run = java.nio.file.Files.createTempDirectory("graft-v41-run")
      GraphAnn.publishPqServing(nodes, ixOpq, root,
        Some(GraphAnn.pqClumpBound(nodes)), Some(refRot))
      // ingest with the RAW-space monitor head — the isometry claim.
      // sourceSchema = the staged frames' own shape: skips the stream's
      // per-call schema-inference job (r20)
      graft.streaming.StreamingIngest.runAvailableNowNearDupEmbeddings(s,
        streamDir.toString, s"$run/index", s"$run/ckpt",
        minCosine = 0.4, bands = 8, rowsPerBand = 4,
        maxFilesPerTrigger = Some(1), buckets = 8,
        driftMonitor = Some(graft.streaming.StreamingIngest
          .DriftMonitorConfig(Opq.unrotatedCentroids(ixOpq), refRot)),
        sourceSchema = Some(inDist.schema))
      // ONE collect serves every verdict over the (tiny, 2-row) log
      // — as st8 (r19)
      val log0 = s.read.schema(Similarity.driftLogSchema)
        .parquet(s"$run/index/drift_log")
        .dropDuplicates("batch_id").collect()
      val driftedIds = log0.filter(_.getAs[Boolean]("drifted"))
        .map(_.getAs[Long]("batch_id")).toSeq
      val tripLogged = log0.length == 2 && driftedIds.size == 1 &&
        graft.core.Fs.exists(s,
          s"$run/index/drift_batches/batch_id=${driftedIds.head}")
      val corpus = Fixtures.cached(s, s"v41_corpus:$d")(
        base.select($"vec_id", $"embedding")
          .unionByName(drifted.select($"vec_id", $"embedding")))
      // the tick REFUSES a root that is not a serving root (a published
      // version with no artifacts/, made with no Spark job) at tick
      // start, pending intact
      val plainRoot = java.nio.file.Files.createTempDirectory("graft-v41-cells")
      graft.pipeline.VersionedIndex.publishInto(plainRoot.toString)(dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)))
      val refused =
        try {
          graft.streaming.Maintenance.runDriftMaintenance(s, s"$run/index",
            plainRoot.toString, corpus, "vec_id", "embedding",
            splitFactor = 2, ivfIters = 2, m = 8, efConstruction = 48)
          false
        } catch {
          case e: IllegalStateException =>
            e.getMessage.contains("not a serving version")
        }
      val pendingIntact = graft.core.Fs.exists(s,
        s"$run/index/drift_batches/batch_id=${driftedIds.head}") &&
        !s.read.schema(Similarity.driftLogSchema).parquet(s"$run/index/drift_log")
          .filter($"batch_id".isNotNull).isEmpty
      // the one tick on the OPQ root: rotate at the boundary, retrain in
      // rotated space, carry rotation/ through the flip
      val tick1 = graft.streaming.Maintenance.runDriftMaintenance(s,
        s"$run/index", root, corpus, "vec_id", "embedding",
        splitFactor = 2, ivfIters = 2, m = 8, efConstruction = 48)
      val rebuildFired = tick1.rebuild.nonEmpty &&
        tick1.pendingBatchIds == driftedIds
      val res = tick1.rebuild.get
      val rotAfter = s.read.schema(Similarity.rotationSchema)
        .parquet(s"$root/${res.version}/artifacts/rotation")
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2)
      val rotationSurvives = ixOpq.rotation.exists(r =>
        rotAfter.length == r.length &&
        rotAfter.zip(r).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) })
      // keystone: cold OPQ serve over the flipped root, drifted probes
      val probes = drifted.filter($"vec_id" < 2000020L)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val k = 8
      val got = GraphAnn.searchGraphRoutedPqColdStart(s, root, corpus,
          "vec_id", "embedding", probes, "probe_id", "probe_vec",
          nprobe = 16, k = k, ef = 128, rerankFactor = 64)
        .localCheckpoint(true)
      // probe-set size is FIXTURE (the probe set itself is fixed per
      // (session, sf) — the gated claim is the serve, not the count);
      // folding the count beside the exact fixture drops a 2-job count
      // per sample (r19 verdict item 3)
      val nProbes = Fixtures.cachedObj(s, s"v41_nprobes:$d")(probes.count())
      val exact = Fixtures.cached(s, s"v41_exact:$d")(
        Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
            corpus, "vec_id", "embedding", k = k)
          .select($"probe_id".cast("long").as("probe_id"),
            $"vec_id".cast("long").as("id")))
      val keystoneOk = got.join(exact, Seq("probe_id", "id"), "left_semi")
        .groupBy($"probe_id").count()
        .agg((count(lit(1)) === nProbes && min($"count") >= k - 1)
          .as("ok")).head().getBoolean(0)
      // processed window cleared; a second OPQ tick is a no-op
      // maxOption: an empty pending set (monitor regression) must read
      // as a false gate column, not an empty.max crash
      val logPruned = tick1.pendingBatchIds.maxOption.exists(mx =>
        s.read.schema(Similarity.driftLogSchema).parquet(s"$run/index/drift_log")
          .filter($"batch_id" <= mx).isEmpty)
      val pendingCleared = !graft.core.Fs.exists(s,
        s"$run/index/drift_batches/batch_id=${driftedIds.head}")
      val tick2 = graft.streaming.Maintenance.runDriftMaintenance(s,
        s"$run/index", root, corpus, "vec_id", "embedding")
      val secondNoop = tick2.pendingBatchIds.isEmpty &&
        tick2.rebuild.isEmpty &&
        graft.pipeline.VersionedIndex.currentVersion(root)
          .contains(res.version)
      val retentionOk =
        graft.pipeline.VersionedIndex.versions(root).size <= 2
      // r18 verdict stretch: partial rebuilds FREEZE R (the codebook
      // discipline) — the scheduled FULL retrain is where R refreshes.
      // buildIvfOpq on the union re-learns rotation + codebook, the
      // SAME publishPqServing flip lands them, and the served
      // rotation is the refreshed one (bit-exact, ≠ the frozen R).
      // Build artifacts are FIXTURE (training is v39/v16's gated claim;
      // this gate's claim is the publish + serve of the refreshed R) —
      // the flip and the cold serve run per sample.
      val (ixFull, nodesFull, refFull) =
        Fixtures.cachedObj(s, s"v41_full:$d") {
          val ix2 = Opq.buildIvfOpq(s, corpus, "vec_id", "embedding",
            nCells = 16, subspaces = 8, codesPerSub = 16, ivfIters = 2,
            pqIters = 2, opqIters = 2)
          val n2 = GraphAnn.buildGraphPerCellPq(s, corpus, "vec_id",
            "embedding", ix2, m = 8, efConstruction = 48).localCheckpoint(true)
          val rot2 = Opq.rotateUnitUdf(s, ix2.rotation.get)
          (ix2, n2, Similarity.driftStats(s,
            corpus.select(rot2($"embedding").as("embedding")), "embedding",
            ix2.centroids, unit = true))
        }
      val vFull = GraphAnn.publishPqServing(nodesFull, ixFull, root,
        Some(GraphAnn.pqClumpBound(nodesFull)), Some(refFull))
      val rotServed = s.read.schema(Similarity.rotationSchema)
        .parquet(s"$root/$vFull/artifacts/rotation")
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2)
      def sameRot(a: Array[Array[Float]], b: Array[Array[Float]]) =
        a.length == b.length && a.zip(b).forall { case (x, y) =>
          java.util.Arrays.equals(x, y) }
      val coldFull = GraphAnn.searchGraphRoutedPqColdStart(s, root, corpus,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 16, k = k, ef = 128, rerankFactor = 64)
      val rotationRefreshed =
        graft.pipeline.VersionedIndex.currentVersion(root)
          .contains(vFull) &&
        ixFull.rotation.exists(sameRot(rotServed, _)) &&
        !ixOpq.rotation.exists(sameRot(rotServed, _)) &&
        coldFull.count() == nProbes * k
      Seq(root, run.toString, plainRoot.toString).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      s.range(1).select(
        lit(tripLogged).as("trip_logged_raw_head"),
        lit(refused).as("plain_tick_refused"),
        lit(pendingIntact).as("pending_intact_after_refusal"),
        lit(rebuildFired).as("rebuild_fired"),
        lit(rotationSurvives).as("rotation_survives_flip"),
        lit(keystoneOk).as("keystone_ok"),
        lit(logPruned && pendingCleared).as("window_cleared"),
        lit(secondNoop && retentionOk).as("second_tick_noop"),
        lit(rotationRefreshed).as("full_retrain_refreshes_rotation"))
    }),

    // DC3: SEMANTIC decontamination — dc1/dc2 catch verbatim n-gram
    // leaks; this flags training rows whose EMBEDDING sits within cosine
    // tau of any eval-set row (paraphrased benchmark items). Eval matrix
    // broadcast, corpus map-only; full per-row (max_sim, dropped) set
    // hash-matched.
    "dc3_semantic_decontam" -> ((s, d) => {
      import s.implicits._
      val emb = load(s, d, "embeddings")
      val evalSet = emb.filter($"vec_id" % 17 === 0)
      val corpus = emb.filter($"vec_id" % 17 =!= 0)
      graft.operators.Quality.semanticDecontam(corpus, evalSet,
          "vec_id", "embedding", tau = 0.35)
        .orderBy($"vec_id")
    }),

    // DC4: the CELL-PRUNED exact path of semanticDecontam. dc3's
    // benchmark-sized eval set (≤ bruteForceMax = 256 rows) always takes
    // the flat broadcast scan, so the r10 spherical-cell pruning branch
    // (exact angular bound + annulus refinement, SCALING.md §1b) was
    // spec-covered but never oracle-gated. Here the eval set is 2/3 of
    // the embeddings table (333 rows at sf0.01, 1333 at sf0.1 — above
    // the threshold at every sf), so this entry executes the pruned
    // branch and the DuckDB cross-join recompute proves its max cosine
    // is bit-identical to the flat definition.
    "dc4_decontam_pruned" -> ((s, d) => {
      import s.implicits._
      val emb = load(s, d, "embeddings")
      val evalSet = emb.filter($"vec_id" % 3 =!= 1)
      val corpus = emb.filter($"vec_id" % 3 === 1)
      graft.operators.Quality.semanticDecontam(corpus, evalSet,
          "vec_id", "embedding", tau = 0.35)
        .orderBy($"vec_id")
    }),

    // V14: contrastive triplet mining — LSH-stream positives (exact-cosine
    // ≥ posMin), hash-assigned negatives verified ≤ negMax. Gates: the
    // margin invariant holds on EVERY triplet, ids are distinct, and the
    // stream is non-empty.
    "v14_contrastive_triplets" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      // the synthetic embeddings are near-uniform on the sphere (max
      // pairwise cosine ≈ 0.51 at sf0.01), so "positives" live at v6's
      // low-threshold regime and negatives must verify further below
      val t = Similarity.contrastiveTriplets(emb, "vec_id", "embedding",
        posMin = 0.4, negMax = 0.25, rowsPerBand = 4)
      t.agg(
        (count(lit(1)) > 0).as("has_triplets"),
        every($"pos_sim" >= 0.4).as("pos_ok"),
        every($"neg_sim" <= 0.25).as("neg_ok"),
        every($"pos_sim" > $"neg_sim").as("margin_ok"),
        every($"anchor" =!= $"pos" && $"anchor" =!= $"neg" && $"pos" =!= $"neg")
          .as("distinct_ok"))
    }),

    // Embedding-cosine near-duplicate pairs via banded hyperplane LSH,
    // pinned by a snapshot VALUES oracle (the sketch is deterministic).
    // The recall properties themselves are asserted against an all-pairs
    // reference in DedupEquivalenceSpec; the snapshot keeps the gate
    // sensitive to any change in the hashing, banding or verify logic.
    "v6_embedding_neardup" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      Dedup.embeddingNearDupPairs(load(s, d, "embeddings"), "vec_id", "embedding",
        minCosine = 0.4, bands = 8, rowsPerBand = 4)
        .orderBy($"id_a", $"id_b")
    }),

    // D16: incremental ingest in EMBEDDING space — even vec_ids are the
    // persisted sketch index, odd vec_ids arrive as the batch; only the
    // batch is sketched, candidates come through the Bloom-gated band
    // join, and the verify is the exact cosine against index vectors.
    // Same survivor rule as d15. Snapshot-pinned (banded probe + CC).
    "d16_incremental_embed" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val corpus = emb.filter($"vec_id" % 2 === 0)
      val batch = emb.filter($"vec_id" % 2 === 1)
      // persisted corpus sketch + band tables memoized as fixture, as in
      // d15 — the timed region is the ingest pass over the batch
      val sk = Fixtures.cached(s, s"d16_sk:$d")(
        Dedup.embeddingSketches(corpus, "vec_id", "embedding",
          bands = 8, rowsPerBand = 4))
      val bandIdx = Fixtures.cached(s, s"d16_bands:$d")(
        Dedup.embeddingBandIndex(sk))
      // persisted-and-merged band Bloom, as in d15
      val bloom = Fixtures.cachedObj(s, s"d16_bloom:$d")(
        Dedup.buildBandBloom(bandIdx))
      val survivors = Dedup.ingestNovelEmbeddings(batch, "vec_id", "embedding",
        sk, bandIdx, minCosine = 0.4,
        bands = 8, rowsPerBand = 4, bandBloom = Some(bloom))
      batch.agg(count(lit(1)).as("n_batch")).crossJoin(broadcast(
        survivors.agg(count(lit(1)).as("n_survivors"),
          sum($"vec_id").as("id_checksum"))))
    })
  )

  val oracles: Map[String, String] = Map(
    // the IVF recall floor is an invariant, not a value the oracle can
    // derive — but the boolean gate makes a recall collapse fail loudly
    "v5_ann_ivf_recall" -> "SELECT true AS recall_ok",
    "v15_batch_ann" ->
      "SELECT CAST(5 AS BIGINT) AS n_probes, true AS all_k10, true AS matches_single",
    "v16_pq_batch" ->
      "SELECT CAST(4 AS BIGINT) AS n_probes, true AS all_k8, true AS matches_single",
    "v9_lsh_ann_recall" -> "SELECT true AS recall_ok",
    "v17_graph_ann_recall" ->
      """SELECT true AS recall_ok, true AS degree_ok, true AS closed_ok,
        | true AS nodes_conserved""".stripMargin,
    "v18_routed_graph_ann" ->
      "SELECT true AS recall_ok, true AS fanout_ok, true AS cells_bounded",
    "v19_pq_graph_ann" ->
      """SELECT true AS recall_ok, true AS all_probes, true AS fanout_ok,
        | true AS codes_compressed, true AS nodes_conserved""".stripMargin,
    "v10_quantized_recall" -> "SELECT true AS recall_ok, true AS dim_ok",
    "v20_binary_ann" ->
      """SELECT CAST(4 AS BIGINT) AS n_probes, true AS all_k10,
        | true AS recall_ok, true AS codes_1bit""".stripMargin,
    "v21_graph_maintenance" ->
      """SELECT true AS append_untouched, true AS conserved,
        | true AS segments_reduced, true AS search_exact""".stripMargin,
    "v22_knn_graph" ->
      """SELECT true AS k_edges_ok, true AS no_self_loops,
        | true AS recall_ok""".stripMargin,
    "v23_graph_persisted" ->
      """SELECT CAST(4 AS BIGINT) AS n_probes, true AS all_k8,
        | true AS matches_memory, true AS fanout_ok""".stripMargin,
    "v24_filtered_graph_ann" ->
      """SELECT true AS recall_ok, true AS filter_respected, true AS all_k,
        | true AS selective_exact""".stripMargin,
    "v25_graph_tombstones" ->
      """SELECT true AS mask_clean, true AS mask_all_k, true AS conserved,
        | true AS no_tomb_nodes, true AS no_tomb_edges,
        | true AS untouched_identical, true AS keystone_ok""".stripMargin,
    "v26_pq_clump_guard" ->
      "SELECT true AS all_k, true AS guarded_exact, true AS trap_reproduced",
    "v27_knn_nsw_serving" ->
      """SELECT true AS recall_ok, true AS fanout_ok, true AS structure_ok,
        | true AS closed_ok, true AS nodes_conserved""".stripMargin,
    "v28_pq_filtered_delete" ->
      """SELECT true AS recall_ok, true AS filter_respected, true AS all_k,
        | true AS mask_clean, true AS mask_all_k, true AS purge_conserved,
        | true AS no_tomb_nodes""".stripMargin,
    "v29_routed_graph_append" ->
      """SELECT true AS append_untouched, true AS conserved,
        | true AS routing_ok, true AS keystone_ok""".stripMargin,
    "v30_pq_graph_append" ->
      """SELECT true AS append_untouched, true AS conserved,
        | true AS routing_ok, true AS codes_ok, true AS keystone_ok""".stripMargin,
    "v31_pq_graph_persisted" ->
      """SELECT CAST(4 AS BIGINT) AS n_probes, true AS all_k8,
        | true AS matches_memory, true AS filtered_matches,
        | true AS fanout_ok""".stripMargin,
    "v32_lifecycle_published" ->
      """SELECT true AS keystone_ok, true AS no_leaks,
        | true AS purge_conserved, true AS published_ok""".stripMargin,
    "v33_pq_lifecycle_published" ->
      """SELECT true AS keystone_ok, true AS no_leaks,
        | true AS purge_conserved""".stripMargin,
    "v34_pq_cold_start" ->
      """SELECT CAST(4 AS BIGINT) AS n_probes, true AS all_k8,
        | true AS coded_roundtrip, true AS matches_memory,
        | true AS filtered_matches, true AS artifacts_bitexact,
        | true AS one_version_layout""".stripMargin,
    "v35_append_drift" ->
      """SELECT true AS float_in_dist_clean, true AS float_drift_tripped,
        | true AS pq_in_dist_clean, true AS pq_drift_tripped,
        | true AS fg_in_dist_clean, true AS fg_drift_tripped,
        | true AS metrics_ordered, true AS log_rows_ok,
        | true AS appends_landed""".stripMargin,
    "v36_drift_rebuild" ->
      """SELECT true AS keystone_ok, true AS signal_tripped,
        | true AS rebuild_absorbs_drift, true AS retention_ok""".stripMargin,
    "v37_partial_rebuild" ->
      """SELECT true AS keystone_ok, true AS signal_localized,
        | true AS region_bounded, true AS untouched_coded_ok,
        | true AS untouched_adj_ok, true AS retire_and_book_ok,
        | true AS merge_exact, true AS mixed_clean,
        | true AS retention_ok""".stripMargin,
    "v38_float_partial_rebuild" ->
      """SELECT true AS keystone_ok, true AS cold_eq_memory,
        | true AS signal_localized, true AS region_bounded,
        | true AS untouched_adj_ok, true AS retire_ok,
        | true AS merge_exact, true AS mixed_clean,
        | true AS retention_ok""".stripMargin,
    "v11_pq_recall" -> "SELECT true AS recall_ok, true AS width_ok",
    "v13_ivfpq_recall" ->
      "SELECT true AS recall_ok, true AS width_ok, true AS cells_bounded",
    "v39_opq_recall" ->
      """SELECT true AS mse_improves, true AS recall_not_worse,
        | true AS rotation_orthonormal, true AS cold_start_ok,
        | true AS rerank_rotations_bounded""".stripMargin,
    "v40_opq_graph_serving" ->
      """SELECT true AS recall_not_worse, true AS cold_eq_memory,
        | true AS complete_topk""".stripMargin,
    "v41_opq_maintenance" ->
      """SELECT true AS trip_logged_raw_head, true AS plain_tick_refused,
        | true AS pending_intact_after_refusal, true AS rebuild_fired,
        | true AS rotation_survives_flip, true AS keystone_ok,
        | true AS window_cleared, true AS second_tick_noop,
        | true AS full_retrain_refreshes_rotation""".stripMargin,
    "v14_contrastive_triplets" ->
      """SELECT true AS has_triplets, true AS pos_ok, true AS neg_ok,
        | true AS margin_ok, true AS distinct_ok""".stripMargin,
    "dc3_semantic_decontam" ->
      s"""WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 17 = 0),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 0),
         |m AS (
         | SELECT c.vec_id,
         |  round(max(${sqlCos("c.embedding", "ev.embedding")}), 4) AS max_eval_sim
         | FROM c CROSS JOIN ev GROUP BY 1)
         |SELECT vec_id, max_eval_sim, max_eval_sim >= 0.35 AS dropped
         |FROM m ORDER BY vec_id""".stripMargin,
    "dc4_decontam_pruned" ->
      s"""WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 3 <> 1),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1),
         |m AS (
         | SELECT c.vec_id,
         |  round(max(${sqlCos("c.embedding", "ev.embedding")}), 4) AS max_eval_sim
         | FROM c CROSS JOIN ev GROUP BY 1)
         |SELECT vec_id, max_eval_sim, max_eval_sim >= 0.35 AS dropped
         |FROM m ORDER BY vec_id""".stripMargin,
    "v1_cosine_scan" ->
      s"""SELECT b.vec_id, round(${sqlCos("a.embedding", "b.embedding")}, 6) AS sim
         |FROM embeddings a, embeddings b WHERE a.vec_id = 0
         |ORDER BY b.vec_id""".stripMargin,
    "v2_knn_top10" ->
      s"""SELECT b.vec_id, round(${sqlCos("a.embedding", "b.embedding")}, 6) AS sim
         |FROM embeddings a, embeddings b WHERE a.vec_id = 0
         |ORDER BY ${sqlCos("a.embedding", "b.embedding")} DESC, b.vec_id LIMIT 10""".stripMargin,
    "v3_norm_stats" ->
      s"""SELECT label, count(*) AS n, round(avg(${sqlNorm("embedding")}), 6) AS avg_norm
         |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,
    "v4_dot_consecutive" ->
      s"""SELECT a.vec_id, round(${sqlDot("a.embedding", "b.embedding")}, 6) AS dot
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |ORDER BY a.vec_id""".stripMargin,
    "v8_topk_multiprobe" ->
      s"""SELECT probe_id, vec_id, round(cos, 6) AS sim, CAST(rn AS INTEGER) AS rank
         |FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id,
         |    ${sqlCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${sqlCos("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |  FROM embeddings p, embeddings c WHERE p.vec_id % 100 = 0) t
         |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPQ (Ge et al. 2013): the Procrustes solver, rotation invariants,
  * the monotone-objective claim against plain PQ, persistence, and the
  * end-to-end serving equivalence of the rotated tier.
  */
class OpqSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")

  private def orthoDev(r: Array[Array[Float]]): Double = {
    val n = r.length
    var dev = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      var t = 0.0
      for (k <- 0 until n) t += r(k)(i).toDouble * r(k)(j)
      dev = math.max(dev, math.abs(t - (if (i == j) 1.0 else 0.0)))
    }
    dev
  }

  test("procrustes: recovers a planted rotation and is orthonormal") {
    // a fixed 2D-block rotation embedded in 8 dims; M = R0 (orthonormal
    // input → U Vᵀ must reproduce it)
    val dim = 8
    val th = 0.7
    val r0 = Array.tabulate(dim, dim) { (i, j) =>
      if (i < 2 && j < 2) {
        if (i == j) math.cos(th) else if (i == 0) -math.sin(th)
        else math.sin(th)
      } else if (i == j) 1.0 else 0.0
    }
    val m = Array.tabulate(dim * dim)(x => r0(x / dim)(x % dim))
    val r = Opq.procrustes(m, dim)
    assert(orthoDev(r) < 1e-6, s"orthonormal: ${orthoDev(r)}") // float32 storage
    for (i <- 0 until dim; j <- 0 until dim)
      assert(math.abs(r(i)(j) - r0(i)(j)) < 1e-6,
        s"recovered rotation at ($i,$j): ${r(i)(j)} vs ${r0(i)(j)}")
  }

  test("procrustes: rank-deficient M still yields an orthonormal matrix") {
    val dim = 6
    val m = new Array[Double](dim * dim)
    m(0) = 2.0 // rank 1
    val r = Opq.procrustes(m, dim)
    assert(orthoDev(r) < 1e-6)
  }

  test("trained rotation is orthonormal, deterministic, and preserves cosine") {
    val (r1, _) = Opq.trainRotation(spark, emb, "vec_id", "embedding",
      subspaces = 8, codesPerSub = 8, opqIters = 2, pqIters = 1)
    val (r2, _) = Opq.trainRotation(spark, emb, "vec_id", "embedding",
      subspaces = 8, codesPerSub = 8, opqIters = 2, pqIters = 1)
    assert(r1.zip(r2).forall { case (a, b) => java.util.Arrays.equals(a, b) },
      "training must be deterministic")
    assert(orthoDev(r1) < 1e-4, s"orthonormal: ${orthoDev(r1)}")
    // cosine preservation on real rows
    val rows = emb.select($"embedding").limit(4).collect()
      .map(r => Similarity.l2unit(r.getSeq[Float](0)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }; s
    }
    def rot(r: Array[Array[Float]], x: Array[Float]): Array[Float] =
      Array.tabulate(x.length) { i =>
        var s = 0.0; var j = 0
        while (j < x.length) { s += r(i)(j) * x(j); j += 1 }; s.toFloat
      }
    for (i <- rows.indices; j <- i + 1 until rows.length)
      assert(math.abs(cos(rows(i), rows(j)) -
        cos(rot(r1, rows(i)), rot(r1, rows(j)))) < 1e-4)
  }

  test("OPQ strictly cuts quantization MSE vs plain PQ at equal bytes") {
    val (rI, bookBase) = Opq.trainRotation(spark, emb, "vec_id",
      "embedding", subspaces = 8, codesPerSub = 8, opqIters = 0,
      pqIters = 2)
    val (rO, bookOpq) = Opq.trainRotation(spark, emb, "vec_id",
      "embedding", subspaces = 8, codesPerSub = 8, opqIters = 3,
      pqIters = 2)
    val base = Opq.quantizationMse(spark, emb, "embedding", rI, bookBase)
    val opq = Opq.quantizationMse(spark, emb, "embedding", rO, bookOpq)
    assert(opq < base, s"OPQ $opq must beat PQ $base")
  }

  test("write/read round-trip is bit-exact; cold serving row-identical") {
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-opq").toString
    Similarity.writeIvfPq(ix, dir)
    val back = Similarity.readIvfPq(spark, dir).index
    assert(back.rotation.get.zip(ix.rotation.get).forall {
      case (a, b) => java.util.Arrays.equals(a, b) })
    val probes = emb.filter($"vec_id" % 16 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def serve(i: Similarity.IvfPqIndex) =
      Similarity.searchIvfPqBatch(spark, i, emb, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", nprobe = 2, k = 5)
        .select($"probe_id", $"id", $"rank").localCheckpoint(true)
    val a = serve(ix); val b = serve(back)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("rerank rotates O(survivors) corpus rows, not O(n)") {
    // r17 verdict #1: the old path placed the rotation Project below the
    // stage-2 survivors join, paying dim×dim flops on EVERY corpus row per
    // batch. The counted variant pins the fixed placement: the rotation
    // UDF fires at most once per stage-1 survivor (≤ |probes|·k·rf) and
    // strictly fewer times than the corpus has rows.
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 1)
    val probes = emb.filter($"vec_id" % 128 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val nProbes = probes.count()
    val corpusRows = emb.count()
    val k = 5; val rf = 4
    val (res, acc) = Opq.searchIvfOpqBatchCounted(spark, ix, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 2, k = k, rerankFactor = rf)
    val rows = res.count()
    assert(rows > 0)
    assert(acc.value > 0, "the rerank must actually rotate the survivors")
    // 3× margin: accumulators over-count under task retries/speculation;
    // even tripled, the survivors bound stays far below the O(n)
    // signature this pin exists to catch
    assert(acc.value <= 3 * nProbes * k * rf,
      s"rotation fired ${acc.value} times > 3x survivors bound ${nProbes * k * rf}")
    assert(acc.value < corpusRows,
      s"rotation fired ${acc.value} times on a $corpusRows-row corpus — O(n) placement")
  }

  test("OPQ graph tier: one-flip publish (rotation included), cold serving row-identical") {
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 1)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, emb, "vec_id",
      "embedding", ix, m = 4, efConstruction = 16).localCheckpoint(true)
    val bound = GraphAnn.pqClumpBound(nodes)
    val root = java.nio.file.Files.createTempDirectory("graft-opq-root")
      .toString
    val v1 = GraphAnn.publishPqServing(nodes, ix, root, Some(bound))
    assert(graft.pipeline.VersionedIndex.currentVersion(root).contains(v1))
    val probes = emb.filter($"vec_id" % 16 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val k = 5
    val mem = GraphAnn.searchGraphRoutedPq(nodes, ix, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 2, k = k,
        ef = 32, rerankFactor = 4, clumpBound = Some(bound))
      .select($"probe_id", $"id", $"rank").localCheckpoint(true)
    val cold = GraphAnn.searchGraphRoutedPqColdStart(spark, root, emb,
        "vec_id", "embedding", probes, "probe_id", "probe_vec",
        nprobe = 2, k = k, ef = 32, rerankFactor = 4)
      .select($"probe_id", $"id", $"rank").localCheckpoint(true)
    assert(mem.exceptAll(cold).isEmpty && cold.exceptAll(mem).isEmpty,
      "cold start must serve row-identically through the published rotation")
    assert(mem.count() == probes.count() * k, "full top-k per probe")
    // all-cells probe + big rerank recovers brute force THROUGH the
    // graph + rotation composition (the end-to-end sanity the batch
    // path pins, on the serving tier)
    val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        emb, "vec_id", "embedding", k = k)
      .select($"probe_id".cast("long").as("probe_id"),
        $"vec_id".cast("long").as("id"))
    val got = GraphAnn.searchGraphRoutedPq(nodes, ix, emb, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 4, k = k,
      ef = 128, rerankFactor = 64, clumpBound = Some(bound))
    val hits = got.join(exact, Seq("probe_id", "id"), "left_semi")
      .groupBy($"probe_id").count()
    assert(hits.count() == probes.count() &&
      hits.agg(min($"count")).head().getLong(0) >= k - 1,
      "graph + rotation must not break exact recovery under full probe")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("PQ cold start reads the tier: an OPQ root serves the rotated rows, a float root refuses") {
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 2)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, emb, "vec_id",
      "embedding", ix, m = 4, efConstruction = 16).localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("graft-opq-pqcold")
      .toString
    val v = GraphAnn.publishPqServing(nodes, ix, root,
      Some(GraphAnn.pqClumpBound(nodes)))
    val probes = emb.filter($"vec_id" % 16 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // the OPQ cold path built by hand: artifacts and rotation read from
    // the version, then a rotation-free index served pre-rotated probes
    // over a pre-rotated corpus (the same UDF on the same survivor rows;
    // only where the rotation is applied differs)
    val art = Similarity.readIvfPq(spark, s"$root/$v/artifacts")
    val rot = Opq.rotateUnitUdf(spark,
      spark.read.parquet(s"$root/$v/artifacts/rotation").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2))
    val want = rows(GraphAnn.searchGraphRoutedPqPersisted(spark,
      s"$root/$v/cells", art.index.copy(rotation = None),
      emb.select($"vec_id", rot($"embedding").as("embedding")), "vec_id",
      "embedding",
      probes.filter($"probe_vec".isNotNull)
        .select($"probe_id", rot($"probe_vec").as("probe_vec")),
      "probe_id", "probe_vec", nprobe = 2, k = 5, ef = 32, rerankFactor = 4,
      clumpBound = art.clumpBound))
    val got = rows(GraphAnn.searchGraphRoutedPqColdStart(spark, root, emb,
      "vec_id", "embedding", probes, "probe_id", "probe_vec", nprobe = 2,
      k = 5, ef = 32, rerankFactor = 4))
    assert(want.nonEmpty && got == want,
      "the PQ cold start must route and score an OPQ root in rotated space")
    // a float root holds no codes: refused, naming the float cold start
    val ivf = Similarity.buildIvf(spark,
      emb.select($"vec_id".as("id"), $"embedding".as("vec")), "id", "vec",
      nCells = 4, iters = 1)
    val fRoot = java.nio.file.Files.createTempDirectory("graft-opq-fcold")
      .toString
    GraphAnn.publishServing(GraphAnn.buildGraphPerCell(spark,
      ivf.assignments, m = 4, efConstruction = 8), ivf.centroids, fRoot)
    val e = intercept[IllegalStateException] {
      GraphAnn.searchGraphRoutedPqColdStart(spark, fRoot, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 2, k = 5,
        ef = 32)
    }
    assert(e.getMessage.contains("searchGraphRoutedColdStart"), e.getMessage)
    Seq(root, fRoot).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("end-to-end: all-cells probe + big rerank recovers brute force through the rotation") {
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 1)
    val probes = emb.filter($"vec_id" % 32 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val k = 5
    val got = Similarity.searchIvfPqBatch(spark, ix, emb, "vec_id",
      "embedding", probes, "probe_id", "probe_vec", nprobe = 4, k = k,
      rerankFactor = 64)
    val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        emb, "vec_id", "embedding", k = k)
      .select($"probe_id".cast("long").as("probe_id"),
        $"vec_id".cast("long").as("id"))
    val nProbes = probes.count()
    val hits = got.join(exact, Seq("probe_id", "id"), "left_semi")
      .groupBy($"probe_id").count()
    assert(hits.count() == nProbes &&
      hits.agg(min($"count")).head().getLong(0) >= k - 1,
      "rotation must not break exact recovery under full probe + rerank")
  }

  test("unrotatedCentroids: raw-space monitor scoring matches rotated-space scoring (isometry)") {
    // the claim Maintenance.runDriftMaintenance's scaladoc makes for the
    // ingest hot path: an arrival monitor fed c ↦ Rᵀc plus the rotated-space
    // reference produces the same verdicts as rotating every batch row —
    // because ‖unit(x) − Rᵀc‖ = ‖R·unit(x) − c‖ and the assignment
    // argmax is preserved. Checked on a clean AND a drifted batch.
    val ix = Opq.buildIvfOpq(spark, emb, "vec_id", "embedding",
      nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 2)
    val rawHead = Opq.unrotatedCentroids(ix)
    val rotU = Opq.rotateUnitUdf(spark, ix.rotation.get)
    val ref = Similarity.driftStats(spark,
      emb.select(rotU($"embedding").as("v")), "v",
      ix.centroids, unit = true)
    def both(batch: org.apache.spark.sql.DataFrame) = {
      val raw = Similarity.driftReport(spark, batch.select($"embedding"),
        "embedding", rawHead, ref, unit = true)
      val rot = Similarity.driftReport(spark,
        batch.select(rotU($"embedding").as("embedding")), "embedding",
        ix.centroids, ref, unit = true)
      (raw, rot)
    }
    val clean = emb.filter($"vec_id" % 8 === 3)
    val drifted = emb.filter($"vec_id" % 8 === 1)
      .select(expr("transform(embedding, x -> x + 0.5f)").as("embedding"))
    Seq(clean, drifted).foreach { b =>
      val (raw, rot) = both(b)
      assert(raw.drifted == rot.drifted, s"verdicts: $raw vs $rot")
      // the rotation's own float rounding (~1e-4 orthonormality dev) is
      // the only divergence source — far below the ratio thresholds
      assert(math.abs(raw.residRatio - rot.residRatio) <=
        1e-3 * math.max(1.0, rot.residRatio), s"residRatio: $raw vs $rot")
      assert(math.abs(raw.massKl - rot.massKl) <= 1e-3,
        s"massKl: $raw vs $rot")
    }
    val (rawD, _) = both(drifted)
    assert(rawD.drifted, "the planted mode must trip through the raw head")
  }

  /** A published OPQ root and a published PQ root over `emb`, each with
    * its version: (opqRoot, opqVersion, pqRoot, pqVersion).
    */
  private def opqAndPqRoots(): (String, String, String, String) = {
    def publish(ix: Similarity.IvfPqIndex, prefix: String) = {
      val nodes = GraphAnn.buildGraphPerCellPq(spark, emb, "vec_id",
        "embedding", ix, m = 4, efConstruction = 16).localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory(prefix).toString
      (root, GraphAnn.publishPqServing(nodes, ix, root,
        Some(GraphAnn.pqClumpBound(nodes))))
    }
    val (oRoot, oV) = publish(Opq.buildIvfOpq(spark, emb, "vec_id",
      "embedding", nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1, opqIters = 1), "graft-opq-o")
    val (pRoot, pV) = publish(Similarity.buildIvfPq(spark, emb, "vec_id",
      "embedding", nCells = 4, subspaces = 8, codesPerSub = 8, ivfIters = 1,
      pqIters = 1), "graft-opq-p")
    (oRoot, oV, pRoot, pV)
  }

  private def deleteAll(paths: String*): Unit = paths.foreach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  test("an OPQ probe batch with a null vector is refused as on the PQ tier") {
    val (root, v, pqRoot, _) = opqAndPqRoots()
    val art = Similarity.readIvfPq(spark, s"$root/$v/artifacts")
    assert(art.index.rotation.nonEmpty && ServingTier.of(spark, root, v).name == "OPQ")
    val nodes = spark.read.parquet(s"$root/$v/cells")
    val dim = emb.select($"embedding").head().getSeq[Float](0).length
    val probes = Seq((1L, Some(Array.fill(dim)(0.1f))), (2L, None))
      .toDF("probe_id", "probe_vec")
    val searches = Seq[() => Unit](
      () => GraphAnn.searchGraphRoutedPq(nodes, art.index, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 2, k = 5,
        ef = 32, clumpBound = art.clumpBound).collect(),
      () => GraphAnn.searchGraphRoutedPqColdStart(spark, root, emb, "vec_id",
        "embedding", probes, "probe_id", "probe_vec", nprobe = 2, k = 5,
        ef = 32).collect())
    searches.foreach { search =>
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("probe vector column `probe_vec` holds a null"),
        e.getMessage)
    }
    deleteAll(root, pqRoot)
  }

  test("a float cold start refuses a PQ root and an OPQ root, naming the PQ cold start") {
    val (oRoot, _, pRoot, _) = opqAndPqRoots()
    val probes = emb.filter($"vec_id" % 64 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    Seq(pRoot -> "PQ", oRoot -> "OPQ").foreach { case (root, tier) =>
      val e = intercept[IllegalStateException](
        GraphAnn.searchGraphRoutedColdStart(spark, root, probes, "probe_id",
          "probe_vec", nprobe = 2, k = 5, ef = 32).collect())
      assert(e.getMessage.contains(s"a $tier serving root") &&
        e.getMessage.contains("searchGraphRoutedPqColdStart"), e.getMessage)
    }
    deleteAll(oRoot, pRoot)
  }

  test("a version that keeps its rotation outside artifacts/ is refused, naming the republish") {
    val (root, v, pqRoot, _) = opqAndPqRoots()
    // the older OPQ layout, <v>/{cells,artifacts,rotation}: read as PQ it
    // would serve in the unrotated space
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/$v/artifacts/rotation"),
      java.nio.file.Paths.get(s"$root/$v/rotation"))
    val probes = emb.filter($"vec_id" % 64 === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val refusals = Seq(
      intercept[IllegalStateException](ServingTier.of(spark, root, v)),
      intercept[IllegalStateException](
        GraphAnn.searchGraphRoutedPqColdStart(spark, root, emb, "vec_id",
          "embedding", probes, "probe_id", "probe_vec", nprobe = 2, k = 5,
          ef = 32).collect()))
    refusals.foreach(e => assert(e.getMessage.contains("rotation/") &&
      e.getMessage.contains("republish") &&
      e.getMessage.contains("GraphAnn.publishPqServing"), e.getMessage))
    deleteAll(root, pqRoot)
  }
}

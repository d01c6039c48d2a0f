package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The bounded drift response (v37): per-cell drift attribution localizes
  * a planted drift to a strict cell subset; the partial rebuild retrains
  * ONLY those cells — untouched cells' coded rows and adjacency pass
  * through row-identical, the merged drift reference equals a direct
  * recompute exactly, retired cell ids disappear, the republished root
  * serves the drifted mode, and a clean batch is a refusal (None).
  */
class PartialRebuildSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
  private lazy val base = emb.filter($"vec_id" % 2 === 0)
    .select($"vec_id", $"embedding").localCheckpoint(true)
  private lazy val baseIx = Similarity.buildIvfPq(spark, base, "vec_id",
    "embedding", nCells = 8, subspaces = 8, codesPerSub = 8,
    ivfIters = 2, pqIters = 1)
  private lazy val baseRef = Similarity.driftStats(spark,
    base.select($"embedding"), "embedding", baseIx.centroids, unit = true)

  private def driftedBatch = emb.filter($"vec_id" % 8 === 1)
    .select(($"vec_id" + 500000L).as("vec_id"),
      expr("transform(embedding, x -> x + 0.5f)").as("embedding"))
  private def inDistBatch = emb.filter($"vec_id" % 8 === 3)
    .select(($"vec_id" + 700000L).as("vec_id"), $"embedding")

  test("statsOverCellRn carries per-cell means that round-trip through writeIvfPq") {
    assert(baseRef.cellMeanRn.nonEmpty &&
      baseRef.cellMeanRn.map(_._1).toSeq == baseRef.cellMass.map(_._1).toSeq,
      "per-cell mean rn must cover exactly the cells with mass")
    // count-weighted per-cell means must reassemble the global mean
    val total = baseRef.cellMass.map(c => math.round(c._2 * baseRef.n)).sum
    val meanOf = baseRef.cellMeanRn.toMap
    val weighted = baseRef.cellMass
      .map(c => math.round(c._2 * baseRef.n) * meanOf(c._1)).sum / total
    assert(total == baseRef.n)
    assert(math.abs(weighted - baseRef.meanResidNorm) < 1e-9)
    val dir = java.nio.file.Files.createTempDirectory("graft-pr1").toString + "/art"
    Similarity.writeIvfPq(baseIx, dir, driftStats = Some(baseRef))
    val back = Similarity.readIvfPq(spark, dir).driftStats.get
    assert(back.cellMeanRn.toSeq == baseRef.cellMeanRn.toSeq)
  }

  test("trippedCells localizes a planted drift to a strict subset; a clean batch trips none") {
    val drifted = Similarity.driftStats(spark, driftedBatch.select($"embedding"),
      "embedding", baseIx.centroids, unit = true)
    val tripped = Similarity.trippedCells(drifted, baseRef)
    assert(tripped.nonEmpty, "a planted +0.5/dim mode must trip somewhere")
    assert(tripped.length < baseIx.centroids.length,
      s"drift confined to a mode must trip a STRICT subset, got all ${tripped.length}")
    val clean = Similarity.driftStats(spark, inDistBatch.select($"embedding"),
      "embedding", baseIx.centroids, unit = true)
    assert(Similarity.trippedCells(clean, baseRef).isEmpty,
      "an in-distribution sample of the corpus must trip no cell")
  }

  test("a pre-per-cell reference reads back degraded and the retrain refuses it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr2").toString + "/stats"
    // the old on-disk schema: no cell_mean_rn column
    baseRef.cellMass.toSeq
      .map { case (c, m) => (c, m, baseRef.n, baseRef.meanResidNorm,
        baseRef.p95ResidNorm) }
      .toDF("cell", "mass", "n", "mean_rn", "p95_rn")
      .coalesce(1).write.parquet(dir)
    val back = Similarity.readDriftStats(spark, dir).get
    assert(back.cellMass.toSeq == baseRef.cellMass.toSeq)
    assert(back.cellMeanRn.isEmpty)
    val art = Similarity.IvfPqArtifacts(baseIx, None, Some(back))
    val e = intercept[IllegalStateException] {
      Similarity.retrainCellsIvfPq(spark, art,
        driftedBatch.select($"vec_id".as("id"), $"embedding".as("vec")),
        "id", "vec", tripped = Array(0))
    }
    assert(e.getMessage.contains("full buildIvfPq rebuild"),
      "the refusal must name the remedy")
  }

  test("partial rebuild: untouched cells identical, merge exact, drifted mode served, retire clean") {
    val root = java.nio.file.Files.createTempDirectory("graft-pr3").toString
    val baseNodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", baseIx, m = 4, efConstruction = 16)
    val v0 = GraphAnn.publishPqServing(baseNodes, baseIx, root,
      Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
    val batch = driftedBatch.localCheckpoint(true)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val res = GraphAnn.rebuildDriftedServing(spark, root, corpus,
      "vec_id", "embedding", batch, "vec_id", "embedding",
      splitFactor = 2, ivfIters = 2, m = 4, efConstruction = 16)
      .getOrElse(fail("the planted drift must trigger a partial rebuild"))
    val tripped = res.tripped
    assert(tripped.nonEmpty && tripped.length < baseIx.centroids.length)
    assert(res.version != v0)
    // the retrain touched O(region): strictly fewer rows than the corpus
    val nCorpus = corpus.count()
    assert(res.regionRows + res.restRows < nCorpus,
      s"region ${res.regionRows}+${res.restRows} must be < corpus $nCorpus")
    assert(res.regionRows + res.restRows >= batch.count(),
      "every batch row lands exactly once (region or appended)")

    val oldArt = s"$root/$v0/artifacts"
    val newArt = s"$root/${res.version}/artifacts"
    val batchIds = batch.select($"vec_id".cast("long").as("id"))
    // untouched cells: every pre-existing row passes through unchanged;
    // the ONLY additions are the in-distribution remainder's appends
    def untouchedCoded(p: String) = spark.read.parquet(s"$p/coded")
      .filter(!$"cell".isin(tripped.toSeq: _*))
      .select($"id", $"cell", $"pq_codes")
    val codedA = untouchedCoded(oldArt); val codedB = untouchedCoded(newArt)
    assert(codedA.exceptAll(codedB).isEmpty,
      "no untouched coded row may be lost or changed")
    val codedAdds = codedB.exceptAll(codedA).localCheckpoint(true)
    // additions are exactly the retrained region + the appended
    // remainder, one coded row each (no level-duplicated derivations)
    assert(codedAdds.count() == res.regionRows + res.restRows,
      s"additions ${codedAdds.count()} != region ${res.regionRows} + rest ${res.restRows}")
    // the remainder routes by the CURRENT centroid set, so a drifted
    // remainder row may legitimately land in a NEW cell; what an
    // UNTOUCHED cell gains must be batch rows and nothing else
    val codedExtra = codedAdds.filter(!$"cell".isin(res.newCells.toSeq: _*))
    assert(codedExtra.join(batchIds, Seq("id"), "left_anti").isEmpty,
      "an untouched cell may gain only appended batch rows")
    // every batch row lands exactly once in the republished coded table
    val codedNew = spark.read.parquet(s"$newArt/coded")
      .join(batchIds, Seq("id"), "left_semi").localCheckpoint(true)
    assert(codedNew.count() == batch.count() &&
      codedNew.select($"id").distinct().count() == batch.count(),
      "each batch row lands exactly once (region or appended)")
    def untouchedAdj(p: String) = spark.read.parquet(s"$root/$p/cells")
      .filter(!$"part".isin(tripped.toSeq: _*))
      .select($"part", $"id", $"codes", $"level", $"neighbors", $"seg")
    val adjA = untouchedAdj(v0); val adjB = untouchedAdj(res.version)
    assert(adjA.exceptAll(adjB).isEmpty,
      "no untouched adjacency row may be lost or changed")
    val adjExtra = adjB.exceptAll(adjA)
      .filter(!$"part".isin(res.newCells.toSeq: _*)).localCheckpoint(true)
    assert(adjExtra.join(batchIds, Seq("id"), "left_anti").isEmpty,
      "untouched-cell adjacency additions are the remainder's fresh segments only")
    // and the graph serves every batch id somewhere
    assert(spark.read.parquet(s"$root/${res.version}/cells").select($"id")
      .distinct().join(batchIds, Seq("id"), "left_semi").count() == batch.count(),
      "every batch row is reachable in the republished graph")

    // retired ids are GONE; replacement cells sit past the old max
    val art = Similarity.readIvfPq(spark, newArt)
    val newCells = art.index.centroids.map(_._1).toSet
    assert(tripped.forall(c => !newCells.contains(c)), "tripped ids retire")
    val offset = baseIx.centroids.map(_._1).max
    assert(res.newCells.forall(_ > offset))
    assert(spark.read.parquet(s"$newArt/coded")
      .filter($"cell".isin(tripped.toSeq: _*)).isEmpty)
    // the codebook is byte-identical — the invariant that keeps every
    // untouched code valid
    assert(art.index.book.centroids.zip(baseIx.book.centroids).forall {
      case (sa, sb) => sa.zip(sb).forall {
        case (x, y) => java.util.Arrays.equals(x, y) } })

    // merged reference ≡ direct recompute over EVERY served row (r17:
    // the appended remainder's stats fold in), against the stored layout
    val covered = spark.read.parquet(s"$newArt/coded").select($"id", $"cell")
      .join(corpus.select($"vec_id".cast("long").as("id"),
        $"embedding"), Seq("id"))
    val unitU = udf((v: Seq[Float]) => Similarity.l2unit(v).toSeq)
    val direct = Similarity.driftStatsAssigned(spark,
      covered.withColumn("vec", unitU($"embedding")),
      "cell", "vec", art.index.centroids)
    val merged = art.driftStats.get
    assert(merged.n == direct.n)
    assert(math.abs(merged.meanResidNorm - direct.meanResidNorm) < 1e-9,
      "the count-weighted merge must equal the direct recompute")
    assert(merged.cellMass.toSeq == direct.cellMass.toSeq)

    // the drifted mode is first-class: the pure batch's residuals
    // re-center, and MIXED traffic (corpus + new mode, the serving
    // distribution — v36's discipline: a pure-mode batch always
    // over-concentrates mass vs a mixed reference) trips nothing
    val after = Similarity.driftReport(spark, batch.select($"embedding"),
      "embedding", art.index.centroids, merged, unit = true)
    assert(after.residRatio < 1.5, s"residuals re-centered: ${after.residRatio}")
    val mixed = base.select($"embedding").unionByName(batch.select($"embedding"))
    assert(Similarity.trippedCells(
      Similarity.driftStats(spark, mixed, "embedding",
        art.index.centroids, unit = true), merged).isEmpty,
      "after the rebuild mixed traffic trips nothing")
    val probes = batch.filter($"vec_id" < 500024L)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val k = 5
    val got = GraphAnn.searchGraphRoutedPqColdStart(spark, root, corpus,
      "vec_id", "embedding", probes, "probe_id", "probe_vec",
      nprobe = 8, k = k, ef = 64, rerankFactor = 64)
    val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        corpus, "vec_id", "embedding", k = k)
      .select($"probe_id".cast("long").as("probe_id"),
        $"vec_id".cast("long").as("id"))
    val nProbes = probes.count()
    val hits = got.select($"probe_id", $"id")
      .join(exact, Seq("probe_id", "id"), "left_semi")
      .groupBy($"probe_id").count()
    assert(hits.count() == nProbes &&
      hits.agg(min($"count")).head().getLong(0) >= k - 1,
      "cold-start search through the republished root recovers brute force")
  }

  test("a corpus view missing indexed member rows is a refusal, not silent loss") {
    val root = java.nio.file.Files.createTempDirectory("graft-pr5").toString
    val baseNodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", baseIx, m = 4, efConstruction = 16)
    GraphAnn.publishPqServing(baseNodes, baseIx, root,
      Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
    val batch = driftedBatch.localCheckpoint(true)
    // the stale view: batch present, but the tripped cells' own members
    // gone — tripped cells drop unconditionally, so any member row the
    // join can't recover would vanish from the republished index
    val tripped = Similarity.trippedCells(
      Similarity.driftStats(spark, batch.select($"embedding"), "embedding",
        baseIx.centroids, unit = true), baseRef)
    val memberIds = baseIx.coded.filter($"cell".isin(tripped.toSeq: _*))
      .select($"id".as("vec_id")).localCheckpoint(true)
    assert(memberIds.count() > 0, "fixture: tripped cells must have members")
    val stale = base.join(memberIds, Seq("vec_id"), "left_anti")
      .unionByName(batch)
    val e = intercept[IllegalArgumentException] {
      GraphAnn.rebuildDriftedServing(spark, root, stale,
        "vec_id", "embedding", batch, "vec_id", "embedding",
        splitFactor = 2, ivfIters = 2, m = 4, efConstruction = 16)
    }
    assert(e.getMessage.contains("missing") &&
      e.getMessage.contains("tripped cells"), e.getMessage)
  }

  test("a corpus view with duplicated ids is a refusal, not duplicate nodes") {
    val root = java.nio.file.Files.createTempDirectory("graft-pr5b").toString
    val baseNodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", baseIx, m = 4, efConstruction = 16)
    GraphAnn.publishPqServing(baseNodes, baseIx, root,
      Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
    val batch = driftedBatch.localCheckpoint(true)
    // every row twice: passes the missing-set check (left_semi keeps the
    // duplicates), and each duplicate would republish as a duplicate node
    val dup = base.unionByName(base).unionByName(batch)
    val e = intercept[IllegalArgumentException] {
      GraphAnn.rebuildDriftedServing(spark, root, dup,
        "vec_id", "embedding", batch, "vec_id", "embedding",
        splitFactor = 2, ivfIters = 2, m = 4, efConstruction = 16)
    }
    assert(e.getMessage.contains("duplicated id"), e.getMessage)
  }

  test("a reference with PARTIAL per-cell coverage is a refusal naming the remedy") {
    // representable on disk: cell_mean_rn round-trips nullable per-row,
    // so a subset-coverage reference can reach the retrain — it must
    // refuse up front, not NoSuchElementException mid-merge
    val partialRef = baseRef.copy(cellMeanRn = baseRef.cellMeanRn.drop(1))
    val art = Similarity.IvfPqArtifacts(baseIx, None, Some(partialRef))
    val region = base.limit(8)
    val trippedCell = baseRef.cellMass.head._1
    val e = intercept[IllegalStateException] {
      Similarity.retrainCellsIvfPq(spark, art, region, "vec_id",
        "embedding", Array(trippedCell), splitFactor = 1, ivfIters = 1)
    }
    assert(e.getMessage.contains("cover only part") &&
      e.getMessage.contains("full"), e.getMessage)
  }

  test("float tier: one-flip publish, cold-start serve, bounded partial rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-pr6").toString
    val ivf = Similarity.buildIvf(spark, base.select($"vec_id".as("id"),
      $"embedding".as("vec")), "id", "vec", nCells = 8, iters = 2)
    val assignments = ivf.assignments.localCheckpoint(true)
    val nodes = GraphAnn.buildGraphPerCell(spark, assignments, m = 4,
      efConstruction = 16).localCheckpoint(true)
    val ref = Similarity.driftStatsAssigned(spark, assignments, "cell",
      "vec", ivf.centroids)
    val v0 = GraphAnn.publishServing(nodes, ivf.centroids, root, Some(ref))
    // cold start: head round-trips, search is row-identical to in-memory
    val (centsBack, refBack) = Similarity.readIvfHead(spark,
      s"$root/$v0/artifacts")
    assert(centsBack.map(_._1).toSeq == ivf.centroids.map(_._1).toSeq &&
      centsBack.zip(ivf.centroids).forall { case ((_, a), (_, b)) =>
        java.util.Arrays.equals(a, b) })
    assert(refBack.get.cellMass.toSeq == ref.cellMass.toSeq &&
      refBack.get.cellMeanRn.toSeq == ref.cellMeanRn.toSeq)
    val probes0 = base.filter($"vec_id" < 48)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val cold = GraphAnn.searchGraphRoutedColdStart(spark, root, probes0,
      "probe_id", "probe_vec", nprobe = 4, k = 5, ef = 32)
    val mem = GraphAnn.searchGraphRoutedPersisted(spark, s"$root/$v0/cells",
      ivf.centroids, probes0, "probe_id", "probe_vec", nprobe = 4, k = 5,
      ef = 32)
    assert(cold.exceptAll(mem).isEmpty && mem.exceptAll(cold).isEmpty)

    // drifted batch → bounded rebuild through the same one-flip publish
    val batch = driftedBatch.localCheckpoint(true)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val res = GraphAnn.rebuildDriftedServing(spark, root, corpus,
      "vec_id", "embedding", batch, "vec_id", "embedding",
      splitFactor = 2, ivfIters = 2, m = 4, efConstruction = 16)
      .getOrElse(fail("the planted drift must trigger a partial rebuild"))
    assert(res.tripped.nonEmpty && res.tripped.length < ivf.centroids.length)
    assert(res.regionRows + res.restRows < corpus.count() &&
      res.regionRows + res.restRows >= batch.count())
    val batchIds = batch.select($"vec_id".cast("long").as("id"))
    def adj(p: String) = spark.read.parquet(s"$root/$p/cells")
      .filter(!$"part".isin(res.tripped.toSeq: _*))
      .select($"part", $"id", $"vec", $"level", $"neighbors", $"seg")
    val adjA = adj(v0); val adjB = adj(res.version)
    assert(adjA.exceptAll(adjB).isEmpty,
      "no untouched adjacency row may be lost or changed")
    assert(adjB.exceptAll(adjA)
      .filter(!$"part".isin(res.newCells.toSeq: _*))
      .join(batchIds, Seq("id"), "left_anti").isEmpty,
      "untouched cells gain only appended batch rows")
    // retire + merged reference ≡ direct recompute over the covered rows
    val (newCents, mergedOpt) = Similarity.readIvfHead(spark,
      s"$root/${res.version}/artifacts")
    assert(res.tripped.forall(c => !newCents.map(_._1).contains(c)))
    assert(res.newCells.forall(_ > ivf.centroids.map(_._1).max))
    // nodes store UNIT vectors (the builder normalizes); the reference
    // is measured on RAW vectors, so the recompute takes them from the
    // corpus by id — over EVERY served row (r17 remainder fold)
    val covered = spark.read.parquet(s"$root/${res.version}/cells")
      .select($"part".as("cell"), $"id").distinct()
      .join(corpus.select($"vec_id".cast("long").as("id"),
        $"embedding".as("vec")), Seq("id"))
    val direct = Similarity.driftStatsAssigned(spark, covered, "cell",
      "vec", newCents)
    val merged = mergedOpt.get
    assert(merged.n == direct.n)
    assert(math.abs(merged.meanResidNorm - direct.meanResidNorm) < 1e-9)
    assert(merged.cellMass.toSeq == direct.cellMass.toSeq)
    // the drifted mode is served: cold-start search recovers brute force
    val probes = batch.filter($"vec_id" < 500024L)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val k = 5
    val got = GraphAnn.searchGraphRoutedColdStart(spark, root, probes,
      "probe_id", "probe_vec", nprobe = 8, k = k, ef = 64)
    val exact = Similarity.topKPerProbe(probes, "probe_id", "probe_vec",
        corpus, "vec_id", "embedding", k = k)
      .select($"probe_id".cast("long").as("probe_id"),
        $"vec_id".cast("long").as("id"))
    val nProbes = probes.count()
    val hits = got.select($"probe_id", $"id")
      .join(exact, Seq("probe_id", "id"), "left_semi")
      .groupBy($"probe_id").count()
    assert(hits.count() == nProbes &&
      hits.agg(min($"count")).head().getLong(0) >= k - 1,
      "cold-start search through the republished float root recovers brute force")
    // mixed traffic reads in-distribution against the merged reference
    assert(Similarity.trippedCells(
      Similarity.driftStats(spark,
        corpus.select($"embedding"), "embedding", newCents, unit = false),
      merged).isEmpty)
  }

  test("a clean batch is a refusal: None, version unchanged") {
    // on every tier: a PQ, a float and an OPQ root
    val pqRoot = java.nio.file.Files.createTempDirectory("graft-pr4").toString
    val baseNodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", baseIx, m = 4, efConstruction = 16)
    GraphAnn.publishPqServing(baseNodes, baseIx, pqRoot,
      Some(GraphAnn.pqClumpBound(baseNodes)), Some(baseRef))
    val fRoot = java.nio.file.Files.createTempDirectory("graft-pr4f").toString
    val ivf = Similarity.buildIvf(spark, base.select($"vec_id".as("id"),
      $"embedding".as("vec")), "id", "vec", nCells = 8, iters = 2)
    GraphAnn.publishServing(GraphAnn.buildGraphPerCell(spark,
        ivf.assignments, m = 4, efConstruction = 16), ivf.centroids, fRoot,
      Some(Similarity.driftStatsAssigned(spark, ivf.assignments, "cell",
        "vec", ivf.centroids)))
    val oRoot = java.nio.file.Files.createTempDirectory("graft-pr4o").toString
    val ox = Opq.buildIvfOpq(spark, base, "vec_id", "embedding", nCells = 8,
      subspaces = 8, codesPerSub = 8, ivfIters = 2, pqIters = 1,
      opqIters = 1)
    val oNodes = GraphAnn.buildGraphPerCellPq(spark, base, "vec_id",
      "embedding", ox, m = 4, efConstruction = 16)
    val rotU = Opq.rotateUnitUdf(spark, ox.rotation.get)
    GraphAnn.publishPqServing(oNodes, ox, oRoot,
      Some(GraphAnn.pqClumpBound(oNodes)), Some(Similarity.driftStats(spark,
        base.select(rotU($"embedding").as("embedding")), "embedding",
        ox.centroids, unit = true)))
    Seq(pqRoot, fRoot, oRoot).foreach { root =>
      val v0 = graft.pipeline.VersionedIndex.currentVersion(root)
      val res = GraphAnn.rebuildDriftedServing(spark, root,
        base, "vec_id", "embedding", inDistBatch, "vec_id", "embedding")
      assert(res.isEmpty, root)
      assert(graft.pipeline.VersionedIndex.currentVersion(root) == v0)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimized Product Quantization (Ge et al., CVPR 2013, "Optimized
  * Product Quantization for Approximate Nearest Neighbor Search" —
  * the non-parametric OPQ_NP alternation of §4): PQ's per-subspace
  * independence assumption costs real distortion when variance is
  * unevenly spread across the subspace blocks; a learned ORTHONORMAL
  * rotation R re-balances the space so the same code bytes buy strictly
  * less quantization error. Because R preserves inner products
  * (cos(Rx, Rq) = cos(x, q)), the rotated tier is exactly the existing
  * IVF-PQ machinery applied to rotated vectors — cells, codes, ADC
  * tables, graph serving and the cold-start path all reuse
  * [[Similarity]] verbatim; the ONLY new state is the dim×dim rotation,
  * persisted beside the artifacts.
  *
  * Training is scale-true in the centroid-table discipline: each OPQ
  * iteration is (a) one [[Similarity.trainPq]] over the rotated corpus
  * (already one bounded shuffle per Lloyd iteration), then (b) ONE
  * `treeAggregate` pass accumulating the dim×dim cross-covariance
  * M = Σ y·xᵀ (y = the vector's PQ reconstruction under the current R)
  * — 32 KB of driver state at dim 64 — and (c) a driver-side orthogonal
  * Procrustes solve R = U·Vᵀ from a hand-rolled one-sided Jacobi SVD
  * of M (64×64; deterministic fixed sweep order, no native BLAS
  * variance). Identity init makes iteration 0's codebook EXACTLY plain
  * PQ, so the alternation's monotone objective can only improve on the
  * unrotated baseline it is measured against.
  */
object Opq {

  /** The OPQ serving index: the learned rotation + a standard
    * [[Similarity.IvfPqIndex]] built over the ROTATED unit vectors.
    */
  final case class IvfOpqIndex(rotation: Array[Array[Float]],
      index: Similarity.IvfPqIndex)

  private def identityMatrix(n: Int): Array[Array[Float]] =
    Array.tabulate(n, n)((i, j) => if (i == j) 1.0f else 0.0f)

  private def rotate(r: Array[Array[Float]],
      x: Array[Float]): Array[Float] = {
    val n = r.length
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val row = r(i)
      var s = 0.0
      var j = 0
      while (j < n) { s += row(j) * x(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /** `vecCol` → unit-normalized then rotated (the transform every OPQ
    * read path applies to corpus vectors and probes alike).
    */
  def rotateUnitUdf(spark: SparkSession,
      r: Array[Array[Float]]): org.apache.spark.sql.expressions
      .UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(r)
    udf((v: Seq[Float]) =>
      if (v == null) null else rotate(bc.value, Similarity.l2unit(v)).toSeq)
  }

  /** `rows`' (id, vec) pairs with null vectors dropped and the rest
    * passed through `rot` (a [[rotateUnitUdf]]) — how probes, batches
    * and corpora enter the rotated space.
    */
  private[operators] def rotateRows(rows: DataFrame, idCol: String,
      vecCol: String, rot: org.apache.spark.sql.expressions
        .UserDefinedFunction): DataFrame =
    rows.filter(col(vecCol).isNotNull)
      .select(col(idCol), rot(col(vecCol)).as(vecCol))

  /** Mean squared quantization error of `book` over the (unit,
    * R-rotated) corpus — OPQ's training objective, and the gate's
    * strict-improvement measurand. One treeAggregate; driver state is
    * two doubles.
    */
  def quantizationMse(spark: SparkSession, corpus: DataFrame,
      vecCol: String, r: Array[Array[Float]],
      book: Similarity.PqCodebook): Double = {
    val bcR = spark.sparkContext.broadcast(r)
    val bcB = spark.sparkContext.broadcast(book)
    val (sse, n) = corpus.select(col(vecCol)).na.drop().rdd
      .treeAggregate((0.0, 0L))(
        (acc, row) => {
          val x = rotate(bcR.value, Similarity.l2unit(row.getSeq[Float](0)))
          val y = reconstruct(bcB.value, x)
          var d = 0.0
          var i = 0
          while (i < x.length) { val e = x(i) - y(i); d += e * e; i += 1 }
          (acc._1 + d, acc._2 + 1L)
        },
        (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n == 0) 0.0 else sse / n
  }

  /** Encode-then-decode under `book`: the PQ reconstruction y of x. */
  private def reconstruct(book: Similarity.PqCodebook,
      x: Array[Float]): Array[Float] = {
    val out = new Array[Float](book.subspaces * book.subDim)
    var sc = 0
    while (sc < book.subspaces) {
      val sub = java.util.Arrays.copyOfRange(x, sc * book.subDim,
        (sc + 1) * book.subDim)
      val code = nearest(book.centroids(sc), sub)
      System.arraycopy(book.centroids(sc)(code), 0, out, sc * book.subDim,
        book.subDim)
      sc += 1
    }
    out
  }

  private def nearest(cents: Array[Array[Float]],
      sub: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val cent = cents(c); var d = 0.0; var i = 0
      while (i < sub.length) { val e = sub(i) - cent(i); d += e * e; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** OPQ_NP: alternate codebook (fixed R) and rotation (fixed codes).
    * Returns (rotation, final codebook trained in the rotated space).
    * `opqIters = 0` returns (identity, plain PQ) — the baseline.
    */
  def trainRotation(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, subspaces: Int, codesPerSub: Int, opqIters: Int = 3,
      pqIters: Int = 2): (Array[Array[Float]], Similarity.PqCodebook) = {
    val unitU = udf((v: Seq[Float]) => Similarity.l2unit(v).toSeq)
    val unit = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), unitU(col(vecCol)).as("vec"))
      .localCheckpoint(true) // every iteration re-reads the raw units
    val dim = unit.select(col("vec")).head().getSeq[Float](0).length
    var r = identityMatrix(dim)
    var book: Similarity.PqCodebook = null
    var it = 0
    while (it <= opqIters) {
      // (a) codebook under the current rotation. Rotation always applies
      // to the PRISTINE unit vectors (never compounding float error by
      // re-rotating rotated copies).
      val bcR = spark.sparkContext.broadcast(r)
      val rotU = udf((v: Seq[Float]) => rotate(bcR.value, v.toArray).toSeq)
      val rotated = unit.select(col("id"), rotU(col("vec")).as("vec"))
      book = Similarity.trainPq(spark, rotated, "id", "vec", subspaces,
        codesPerSub, pqIters, normalize = false)
      if (it < opqIters) {
        // (b) cross-covariance M = Σ y·xᵀ over the corpus — the one
        // fixed-size mergeable aggregate per iteration
        val bcB = spark.sparkContext.broadcast(book)
        val m = unit.select(col("vec")).rdd.treeAggregate(
          new Array[Double](dim * dim))(
          (acc, row) => {
            val x = row.getSeq[Float](0).toArray
            val y = reconstruct(bcB.value, rotate(bcR.value, x))
            var i = 0
            while (i < dim) {
              val yi = y(i)
              if (yi != 0.0f) {
                var j = 0
                while (j < dim) { acc(i * dim + j) += yi * x(j); j += 1 }
              }
              i += 1
            }
            acc
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        // (c) orthogonal Procrustes: argmin_R ||R·X − Y||_F = U·Vᵀ of M
        r = procrustes(m, dim)
      }
      it += 1
    }
    (r, book)
  }

  /** R = U·Vᵀ from the SVD of the dim×dim cross-covariance (flattened
    * row-major). One-sided Jacobi: right-rotate columns of A (and
    * accumulate V) until all column pairs are orthogonal; then
    * U = normalized columns. Fixed sweep order → deterministic. Any
    * orthonormal solution (reflections included) preserves dot
    * products, which is all the OPQ tier needs. Near-zero singular
    * directions complete by deterministic Gram–Schmidt against the
    * standard basis.
    */
  private[operators] def procrustes(mFlat: Array[Double],
      dim: Int): Array[Array[Float]] = {
    val a = Array.tabulate(dim, dim)((i, j) => mFlat(i * dim + j))
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val eps = 1e-12
    var sweep = 0
    var rotatedAny = true
    while (sweep < 64 && rotatedAny) {
      rotatedAny = false
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < dim) {
            app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
            apq += a(i)(p) * a(i)(q); i += 1
          }
          if (apq * apq > eps * eps * app * aqq && apq != 0.0) {
            rotatedAny = true
            val theta = 0.5 * math.atan2(2.0 * apq, app - aqq)
            val c = math.cos(theta); val s = math.sin(theta)
            i = 0
            while (i < dim) {
              val ap = a(i)(p); val aq = a(i)(q)
              a(i)(p) = c * ap + s * aq; a(i)(q) = -s * ap + c * aq
              val vp = v(i)(p); val vq = v(i)(q)
              v(i)(p) = c * vp + s * vq; v(i)(q) = -s * vp + c * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // U columns = A columns / σ; complete rank-deficient directions
    val u = Array.ofDim[Double](dim, dim)
    val sigma = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i)(j) * a(i)(j); i += 1 }
      sigma(j) = math.sqrt(s)
      j += 1
    }
    val smax = sigma.max
    j = 0
    while (j < dim) {
      if (smax > 0 && sigma(j) > 1e-9 * smax) {
        var i = 0
        while (i < dim) { u(i)(j) = a(i)(j) / sigma(j); i += 1 }
      } else {
        // deterministic completion: first standard basis vector not in
        // the span of the accepted columns, Gram–Schmidt'ed in
        var e = 0
        var done = false
        while (e < dim && !done) {
          val cand = new Array[Double](dim)
          cand(e) = 1.0
          var jj = 0
          while (jj < dim) {
            if (jj != j && (sigma(jj) > 1e-9 * smax || jj < j)) {
              var dot = 0.0; var i = 0
              while (i < dim) { dot += cand(i) * u(i)(jj); i += 1 }
              i = 0
              while (i < dim) { cand(i) -= dot * u(i)(jj); i += 1 }
            }
            jj += 1
          }
          var nrm = 0.0; var i = 0
          while (i < dim) { nrm += cand(i) * cand(i); i += 1 }
          if (nrm > 1e-12) {
            nrm = math.sqrt(nrm)
            i = 0
            while (i < dim) { u(i)(j) = cand(i) / nrm; i += 1 }
            done = true
          }
          e += 1
        }
      }
      j += 1
    }
    // R = U·Vᵀ
    Array.tabulate(dim, dim) { (i, k) =>
      var s = 0.0; var jj = 0
      while (jj < dim) { s += u(i)(jj) * v(k)(jj); jj += 1 }
      s.toFloat
    }
  }

  /** Build the OPQ serving index: train the rotation, then hand the
    * rotated corpus to the UNCHANGED [[Similarity.buildIvfPq]] (cells,
    * residual codes, everything downstream identical — rotation
    * preserves the unit sphere, so residual decomposition and ADC
    * scoring hold verbatim in the rotated space).
    */
  def buildIvfOpq(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, subspaces: Int, codesPerSub: Int,
      ivfIters: Int = 3, pqIters: Int = 3,
      opqIters: Int = 3): IvfOpqIndex = {
    val (r, _) = trainRotation(spark, corpus, idCol, vecCol, subspaces,
      codesPerSub, opqIters, pqIters)
    val rotated = rotateRows(corpus, idCol, vecCol, rotateUnitUdf(spark, r))
    IvfOpqIndex(r,
      Similarity.buildIvfPq(spark, rotated, idCol, vecCol, nCells,
        subspaces, codesPerSub, ivfIters, pqIters))
  }

  /** Batch search — rotate the probes (O(|batch|) rows) and hand the
    * UNROTATED corpus to [[Similarity.searchIvfPqBatch]] with the
    * rotation as its post-join `corpusVecTransform`, so corpus rows are
    * rotated only AFTER the stage-1 survivors join:
    * O(k·rerankFactor·|probes|) dim×dim applications per batch instead
    * of O(n). (The r17 path rotated the whole corpus below that join —
    * at dim 64 that is ~4 096 flops on EVERY corpus row per batch, 64×
    * the cosine the PQ stage-1 exists to avoid; a scale-killer at
    * 100 TB.) Rotation preserves cosines, so the returned sims ARE the
    * original-space cosines (up to float rounding of the rotation
    * itself), and per-row values are identical to the r17 path — the
    * same UDF on the same surviving rows, just placed above the join.
    */
  def searchIvfOpqBatch(spark: SparkSession, ix: IvfOpqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      rerankFactor: Int = 4): DataFrame =
    searchIvfOpqBatchCounted(spark, ix, corpus, idCol, vecCol, probes,
      probeId, probeVec, nprobe, k, rerankFactor)._1

  /** [[searchIvfOpqBatch]] plus the accumulator counting corpus-row
    * rotation invocations in the rerank stage — the O(survivors) scale
    * pin. After one action on the result, the accumulator reads
    * ~|probes|·k·rerankFactor at most (each stage-1 survivor joins
    * exactly one corpus row), NOT the corpus size; `OpqSpec` and the
    * v39 gate assert it with a 3× margin — accumulators over-count
    * under task retries/speculation, so the pin is a bounded-above
    * signal, never an equality.
    */
  def searchIvfOpqBatchCounted(spark: SparkSession, ix: IvfOpqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      rerankFactor: Int = 4): (DataFrame,
      org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("opq_rerank_rotations")
    val rotProbes = rotateRows(probes, probeId, probeVec,
      rotateUnitUdf(spark, ix.rotation))
    val bc = spark.sparkContext.broadcast(ix.rotation)
    // asNondeterministic pins the side-effecting UDF to ONE evaluation
    // per output row — without it Catalyst may duplicate the expression
    // (collapsed projects, subexpression elimination) and inflate the
    // count beyond genuine task retries (r18 advice)
    val rotCounting = udf((v: Seq[Float]) => {
      acc.add(1L)
      if (v == null) null else rotate(bc.value, Similarity.l2unit(v)).toSeq
    }).asNondeterministic()
    val out = Similarity.searchIvfPqBatch(spark, ix.index,
      corpus.filter(col(vecCol).isNotNull), idCol, vecCol, rotProbes,
      probeId, probeVec, nprobe, k, rerankFactor,
      corpusVecTransform = Some(rotCounting))
    (out, acc)
  }

  /** Persist rotation + artifacts under one root; [[readIvfOpq]] serves
    * from disk alone (cold start) — parquet floats round-trip
    * bit-exactly, so the reread rotation is the trained one.
    */
  def writeIvfOpq(spark: SparkSession, ix: IvfOpqIndex, dir: String,
      clumpBound: Option[Int] = None,
      driftStats: Option[Similarity.DriftStats] = None): Unit = {
    writeRotation(spark, ix.rotation, s"$dir/rotation")
    Similarity.writeIvfPq(ix.index, s"$dir/pq", clumpBound, driftStats)
  }

  def readIvfOpq(spark: SparkSession, dir: String): IvfOpqIndex = {
    IvfOpqIndex(readRotation(spark, s"$dir/rotation"),
      Similarity.readIvfPq(spark, s"$dir/pq").index)
  }

  /** [[writeRotation]]'s layout, supplied to every rotation read so
    * none pays a schema-inference job (see Similarity's artifact-schema
    * note). */
  private[graft] val rotationSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("row",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))

  private def writeRotation(spark: SparkSession,
      r: Array[Array[Float]], dir: String): Unit = {
    import spark.implicits._
    r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "row")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private[operators] def readRotation(spark: SparkSession,
      dir: String): Array[Array[Float]] =
    spark.read.schema(rotationSchema).parquet(dir)
      .collect() // dim rows — bounded driver state
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)

  // ── The OPQ GRAPH serving tier ──────────────────────────────────────
  // The rotation slots in at exactly three seams — probe transform
  // (routing + ADC run in the rotated space the codes were trained in),
  // graph build input (rotated unit corpus), and the exact rerank's
  // survivor transform — and EVERYTHING else is [[GraphAnn]]'s
  // partitioned PQ graph machinery verbatim, so the 100 TB serving path
  // (DiskANN-posture codes+adjacency on disk, PartitionFilters-pruned
  // cell reads, bounded rerank) gets v39's MSE cut for free.

  /** Build the graph nodes for an OPQ index: [[GraphAnn.buildGraphPerCellPq]]
    * over the ROTATED unit corpus (the space `ix.index`'s cells and
    * codes live in). One O(n) rotation pass at BUILD time — never at
    * serving time.
    */
  def buildGraphCellsOpq(spark: SparkSession, ix: IvfOpqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      efConstruction: Int = 64,
      maxSegmentSize: Int = Int.MaxValue): DataFrame = {
    val rotated = rotateRows(corpus, idCol, vecCol,
      rotateUnitUdf(spark, ix.rotation))
    GraphAnn.buildGraphPerCellPq(spark, rotated, idCol, vecCol, ix.index,
      m, efConstruction, maxSegmentSize)
  }

  /** [[GraphAnn.publishPqServing]] plus the rotation, under ONE version
    * dir — the same atomic pointer flip covers cells, artifacts AND the
    * rotation, so a cold-started server can never read a codebook with
    * the wrong rotation. Layout: `<root>/v<NNN>/{cells,artifacts,rotation}`.
    */
  def publishPqServingOpq(spark: SparkSession, nodes: DataFrame,
      ix: IvfOpqIndex, root: String, clumpBound: Option[Int] = None,
      driftStats: Option[Similarity.DriftStats] = None,
      keepVersions: Int = 2): String =
    graft.pipeline.VersionedIndex.publishInto(root, keepVersions) { dir =>
      GraphAnn.overlapWrites(spark,
        () => GraphAnn.writeGraphCells(nodes, s"$dir/cells"),
        () => Similarity.writeIvfPq(ix.index, s"$dir/artifacts", clumpBound,
          driftStats),
        () => writeRotation(spark, ix.rotation, s"$dir/rotation"))
    }

  /** In-memory OPQ graph search: rotate the probes (O(|batch|)), run
    * [[GraphAnn.searchGraphRoutedPq]] with the rotation as the rerank's
    * survivor transform (O(k·rerankFactor·|probes|) — never the corpus;
    * the r17 lesson). Sims are original-space cosines up to the
    * rotation's float rounding.
    */
  def searchGraphRoutedPqOpq(spark: SparkSession, nodes: DataFrame,
      ix: IvfOpqIndex, corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeId: String, probeVec: String, nprobe: Int,
      k: Int, ef: Int, rerankFactor: Int = 4,
      clumpBound: Option[Int] = None,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val rot = rotateUnitUdf(spark, ix.rotation)
    GraphAnn.searchGraphRoutedPq(nodes, ix.index, corpus, idCol, vecCol,
      rotateRows(probes, probeId, probeVec, rot), probeId, probeVec, nprobe,
      k, ef, rerankFactor, clumpGuard = true, clumpBound = clumpBound, tombstones = tombstones,
      corpusVecTransform = Some(rot))
  }

  // ── OPQ × drift maintenance ─────────────────────────────────────────
  // [[GraphAnn.rebuildDriftedServing]] serves an OPQ root on the one
  // rebuild path (rotating the RAW batch and member floats, carrying
  // rotation/ through the flip). R is FROZEN across partial rebuilds like
  // the codebook — untouched codes were trained under it; a scheduled
  // FULL retrain (buildIvfOpq → publishPqServingOpq) is where R refreshes.

  /** The serving centroids expressed in RAW space: c ↦ Rᵀ·c. Because R
    * is an isometry (‖Rx − c‖ = ‖x − Rᵀc‖ and the assignment argmax is
    * preserved), an arrival-point drift monitor
    * ([[graft.streaming.StreamingIngest.DriftMonitorConfig]]) given
    * THESE centroids plus the rotated-space reference stats produces
    * verdicts identical (up to the rotation's own ~1e-4 orthonormality
    * rounding, far below the ratio thresholds) to scoring rotated
    * vectors against the rotated centroids — so the ingest hot path
    * never pays a per-row rotation and never changes for OPQ.
    * Dim × nCells driver work, once per published version.
    */
  def unrotatedCentroids(ix: IvfOpqIndex): Array[(Int, Array[Float])] =
    ix.index.centroids.map { case (cell, c) =>
      val n = ix.rotation.length
      val out = new Array[Float](n)
      var j = 0
      while (j < n) {
        var s = 0.0
        var i = 0
        while (i < n) { s += ix.rotation(i)(j) * c(i); i += 1 }
        out(j) = s.toFloat
        j += 1
      }
      (cell, out)
    }
}

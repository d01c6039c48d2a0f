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
  * [[Similarity]] and [[GraphAnn]] verbatim; the ONLY new state is the
  * dim×dim rotation, carried by the index itself
  * ([[Similarity.IvfPqIndex]]`.rotation`) and persisted beside its
  * other artifacts.
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

  /** `rows`' (id, vec) pairs in the space of an index with `rotation`:
    * as given without one; with one, null vectors dropped and the rest
    * passed through [[rotateUnitUdf]] — how corpora and batches enter an
    * OPQ index's space.
    */
  private[operators] def intoSpace(rows: DataFrame, idCol: String,
      vecCol: String, rotation: Option[Array[Array[Float]]]): DataFrame =
    rotation.fold(rows)(r => rows.filter(col(vecCol).isNotNull)
      .select(col(idCol), rotateUnitUdf(rows.sparkSession, r)(col(vecCol))
        .as(vecCol)))

  /** One vector in the space of an index with `rotation`, by
    * [[rotateUnitUdf]]'s arithmetic: as given without one, else unit-
    * normalized and rotated. Every PQ path unit-normalizes the result,
    * as it does an unrotated vector. JVM float arithmetic is strict, so
    * a probe rotated here on the driver carries the bits the UDF gives.
    */
  private[operators] def intoSpace(v: Seq[Float],
      rotation: Option[Array[Array[Float]]]): Seq[Float] =
    rotation.fold(v)(r => rotate(r, Similarity.l2unit(v)).toSeq)

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
    * scoring hold verbatim in the rotated space). The result is a
    * [[Similarity.IvfPqIndex]] carrying the rotation: every PQ entry
    * point serves it from RAW vectors — [[Similarity.searchIvfPqBatch]],
    * [[GraphAnn.buildGraphPerCellPq]], [[GraphAnn.searchGraphRoutedPq]],
    * [[GraphAnn.publishPqServing]] (rotation/ under the same flip) and
    * the cold start among them.
    */
  def buildIvfOpq(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, subspaces: Int, codesPerSub: Int,
      ivfIters: Int = 3, pqIters: Int = 3,
      opqIters: Int = 3): Similarity.IvfPqIndex = {
    val (r, _) = trainRotation(spark, corpus, idCol, vecCol, subspaces,
      codesPerSub, opqIters, pqIters)
    Similarity.buildIvfPq(spark, intoSpace(corpus, idCol, vecCol, Some(r)),
      idCol, vecCol, nCells, subspaces, codesPerSub, ivfIters, pqIters)
      .copy(rotation = Some(r))
  }

  /** [[Similarity.searchIvfPqBatch]] on an OPQ index plus the accumulator
    * counting corpus-row rotations in the rerank stage — the
    * O(survivors) scale pin. After one action on the result, the
    * accumulator reads ~|probes|·k·rerankFactor at most (each stage-1
    * survivor joins exactly one corpus row), NOT the corpus size;
    * `OpqSpec` and the v39 gate assert it with a 3× margin —
    * accumulators over-count under task retries/speculation, so the pin
    * is a bounded-above signal, never an equality.
    */
  def searchIvfOpqBatchCounted(spark: SparkSession, ix: Similarity.IvfPqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, probes: DataFrame,
      probeId: String, probeVec: String, nprobe: Int, k: Int,
      rerankFactor: Int = 4): (DataFrame,
      org.apache.spark.util.LongAccumulator) = {
    val r = ix.rotation.getOrElse(throw new IllegalArgumentException(
      "searchIvfOpqBatchCounted counts rotations: the index has none"))
    val acc = spark.sparkContext.longAccumulator("opq_rerank_rotations")
    val bc = spark.sparkContext.broadcast(r)
    // asNondeterministic pins the side-effecting UDF to ONE evaluation
    // per output row — without it Catalyst may duplicate the expression
    // (collapsed projects, subexpression elimination) and inflate the
    // count beyond genuine task retries (r18 advice)
    val rotCounting = udf((v: Seq[Float]) => {
      acc.add(1L)
      if (v == null) null else rotate(bc.value, Similarity.l2unit(v)).toSeq
    }).asNondeterministic()
    (Similarity.ivfPqBatch(spark, ix, corpus, idCol, vecCol, probes,
      probeId, probeVec, nprobe, k, rerankFactor, maxCachedTables = 8192,
      rotateSurvivors = Some(rotCounting)), acc)
  }

  /** The serving centroids expressed in RAW space: c ↦ Rᵀ·c (as stored
    * on an index without a rotation). Because R
    * is an isometry (‖Rx − c‖ = ‖x − Rᵀc‖ and the assignment argmax is
    * preserved), an arrival-point drift monitor
    * ([[graft.streaming.StreamingIngest.DriftMonitorConfig]]) given
    * THESE centroids plus the rotated-space reference stats produces
    * verdicts identical (up to the rotation's own ~1e-4 orthonormality
    * rounding, far below the ratio thresholds) to scoring rotated
    * vectors against the rotated centroids — so the ingest hot path
    * never pays a per-row rotation and never changes for OPQ.
    * Dim × nCells driver work, once per published version. R is FROZEN
    * across partial rebuilds ([[GraphAnn.rebuildDriftedServing]]) like
    * the codebook — untouched codes were trained under it; a scheduled
    * FULL retrain ([[buildIvfOpq]] → [[GraphAnn.publishPqServing]]) is
    * where R refreshes.
    */
  def unrotatedCentroids(
      ix: Similarity.IvfPqIndex): Array[(Int, Array[Float])] =
    ix.rotation.fold(ix.centroids)(r => ix.centroids.map { case (cell, c) =>
      val n = r.length
      val out = new Array[Float](n)
      var j = 0
      while (j < n) {
        var s = 0.0
        var i = 0
        while (i < n) { s += r(i)(j) * c(i); i += 1 }
        out(j) = s.toFloat
        j += 1
      }
      (cell, out)
    })
}

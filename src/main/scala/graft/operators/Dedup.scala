package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.functions.{GraftFunctions, Hashing}

/** Deduplication operators for large-scale text corpora.
  *
  * Exact dedup is a hash-groupBy; near-dup families (MinHash+LSH, SimHash)
  * follow the standard public constructions (Broder 1997; Charikar 2002;
  * banding per Mining of Massive Datasets ch.3). All are expressed as
  * shuffle-on-bucket joins — no driver-side pair enumeration — so candidate
  * generation stays O(n·bands) and only same-bucket pairs are compared:
  * the shape that survives 100 TB (identical-content skew is bounded by
  * per-bucket pair expansion, mitigated by `maxBucketSize`).
  */
object Dedup {

  /** Exact duplicate groups by content hash; `keeper` = min id per group. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** Rows surviving exact dedup (first id per identical content wins). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  private val bandsUdf = udf((sig: Seq[Long]) => Hashing.bandHashes(sig.toArray))

  /** id → MinHash signature (64 perms over word-3-gram shingles). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), GraftFunctions.minhash(col(textCol)).as("sig"))

  /** Shared expansion skeleton for in-bucket pair scoring: full O(n²)
    * expansion up to `maxFullExpand` members (each pair scored with the
    * owner check enabled), star expansion against the min-id representative
    * beyond it (owner check skipped so rep-connectivity always holds).
    * `score(i, j, checkOwner)` decides emission.
    */
  private def expandPairs(n: Int, ids: Array[Long], maxFullExpand: Int,
      score: (Int, Int, Boolean) => Unit): Unit = {
    if (n <= maxFullExpand) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { score(i, j, true); j += 1 }
        i += 1
      }
    } else {
      var rep = 0
      var i = 1
      while (i < n) { if (ids(i) < ids(rep)) rep = i; i += 1 }
      i = 0
      while (i < n) { if (i != rep) score(rep, i, false); i += 1 }
    }
  }

  /** In-bucket pair scoring for MinHash buckets: members (id, sig) →
    * (id_a, id_b, est_jaccard) for pairs meeting the threshold.
    *
    * The verifier runs INSIDE the expansion loop and only survivors are
    * materialized, so per-bucket memory is O(survivors), never O(n²) —
    * the loop itself is O(n²) time but bounded by the bucket cap. Buckets
    * larger than `maxFullExpand` (mega-clusters of near-identical content)
    * switch to star expansion against the minimum id: output stays linear
    * and every member remains reachable from the cluster representative,
    * instead of silently dropping the cluster.
    *
    * A pair colliding in several bands is scored only in its OWNER band —
    * the first colliding band whose bucket is NOT oversized (`hotBuckets`
    * is the broadcast set of oversized bucket keys, computed by a cheap
    * count-only pre-pass). This keeps cross-band scoring deduplicated
    * without ever deferring a pair into a bucket that only star-expands:
    * pairs with at least one normal-size shared bucket are always scored
    * directly; pairs confined to mega-buckets connect via the rep star.
    */
  private def minhashBucketPairs(threshold: Double, maxFullExpand: Int,
      hotBuckets: Set[(Int, Long)]) =
    udf((band: Int, members: Seq[org.apache.spark.sql.Row]) => {
      val n = members.length
      val ids = Array.tabulate(n)(i => members(i).getLong(0))
      val sigs = Array.tabulate(n)(i => members(i).getSeq[Long](1).toArray)
      val bhs = Array.tabulate(n)(i => Hashing.bandHashes(sigs(i)))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def ownerBand(i: Int, j: Int): Int = {
        val a = sigs(i); val b = sigs(j)
        var bd = 0
        while (bd * Hashing.RowsPerBand < a.length) {
          var r = bd * Hashing.RowsPerBand
          val end = r + Hashing.RowsPerBand
          var same = true
          while (same && r < end) { same = a(r) == b(r); r += 1 }
          if (same && !hotBuckets.contains((bd, bhs(i)(bd)))) return bd
          bd += 1
        }
        -1
      }
      expandPairs(n, ids, maxFullExpand, (i, j, checkOwner) =>
        if (ids(i) != ids(j) && (!checkOwner || ownerBand(i, j) == band)) {
          val est = Hashing.estimatedJaccard(sigs(i), sigs(j))
          if (est >= threshold) {
            val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += ((a, b, est))
          }
        })
      out.toSeq
    })

  /** Near-duplicate candidate pairs via MinHash banding (16 bands × 4 rows),
    * verified by estimated Jaccard ≥ threshold. Returns (id_a, id_b, est_jaccard).
    *
    * Shape: signatures are computed ONCE (single scan), buckets are built by
    * one groupBy shuffle, and pairs are scored inside buckets — no self-join
    * (which would recompute the signature UDF on both sides), no window
    * pass, and only threshold-passing pairs ever materialize. Ids must be
    * numeric (cast to long) — the test tables and chunk index key by int64.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame =
    minhashPairsFromSigs(df.select(col(idCol).cast("long").as("id"),
      GraftFunctions.minhash(col(textCol)).as("sig")), threshold, maxBucketSize)

  /** [[minhashNearDupPairs]] from an ALREADY-computed (id, sig) table —
    * the entry point when signatures come from a persisted index or are
    * shared with another stage (the incremental ingest gate), so the
    * signature kernel never runs twice over the same rows.
    */
  def minhashPairsFromSigs(sigs: DataFrame,
      threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {
    val bands = sigs
      .select(col("id"), col("sig"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh")))
    // One aggregation materializes the buckets; the eager localCheckpoint
    // means the signature UDF and the shuffle run exactly once even though
    // two consumers read the result (the hot-set collect and the scoring
    // pass) — and unlike persist(), the blocks are released by the context
    // cleaner once the returned DataFrame is dropped, so repeated calls in
    // a long-lived session do not leak storage.
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")) >= 2)
      .localCheckpoint(true)
    // the (small) set of oversized bucket keys — needed so the owner-band
    // rule never defers a pair into a star-only bucket
    val hot: Set[(Int, Long)] = buckets
      .filter(size(col("members")) > maxBucketSize)
      .select(col("band"), col("bh")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    buckets
      .select(explode(minhashBucketPairs(threshold, maxBucketSize, hot)(
        col("band"), col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        round(col("p._3"), 4).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** In-bucket scoring for SimHash pigeonhole buckets — same
    * survivors-only / star-expansion shape as [[minhashBucketPairs]].
    */
  private def simhashBucketPairs(maxHamming: Int, maxFullExpand: Int,
      hotBuckets: Set[(Int, Long)]) =
    udf((chunkIdx: Int, members: Seq[org.apache.spark.sql.Row]) => {
      val n = members.length
      val ids = Array.tabulate(n)(i => members(i).getLong(0))
      val shs = Array.tabulate(n)(i => members(i).getLong(1))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      // owner = first matching 16-bit chunk whose bucket is not oversized
      // (same cross-bucket dedup rule as the minhash bands)
      def ownerChunk(a: Long, b: Long): Int = {
        var c = 0
        while (c < 4) {
          val ca = (a >>> (c * 16)) & 0xffffL
          if (ca == ((b >>> (c * 16)) & 0xffffL) && !hotBuckets.contains((c, ca)))
            return c
          c += 1
        }
        -1
      }
      expandPairs(n, ids, maxFullExpand, (i, j, checkOwner) =>
        if (ids(i) != ids(j) &&
            (!checkOwner || ownerChunk(shs(i), shs(j)) == chunkIdx)) {
          val h = Hashing.hammingDistance(shs(i), shs(j))
          if (h <= maxHamming) {
            val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += ((a, b, h))
          }
        })
      out.toSeq
    })

  /** SimHash near-dup pairs: 64-bit sketch, pigeonhole blocking (4×16-bit
    * chunks — any pair within hamming ≤ 3 shares a chunk), hamming verify.
    * Same one-scan bucket-aggregate shape as MinHash LSH: the sketch UDF
    * runs once per row, only hamming-passing pairs materialize, and
    * mega-cluster buckets star-expand instead of dropping.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    hammingNearDupPairs(df.select(col(idCol).cast("long").as("id"),
      GraftFunctions.simhash(col(textCol)).as("sh")), maxHamming, maxBucketSize)

  /** Near-dup pairs for ANY 64-bit similarity-preserving sketch column —
    * the blocking/verify engine behind [[simhashNearDupPairs]] (text) and
    * perceptual-hash image dedup ([[graft.pipeline.Multimodal.phash64]]).
    * Input must be (id: long, sh: long); returns (id_a, id_b, hamming).
    */
  def hammingNearDupPairs(sk: DataFrame,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val chunks = sk.select(col("id"), col("sh"), explode(array((0 until 4).map { i =>
      struct(lit(i).as("ci"), (shiftrightunsigned(col("sh"), i * 16) % 65536).as("cv"))
    }: _*)).as("c")).select(col("id"), col("sh"), col("c.ci"), col("c.cv"))
    // single checkpointed aggregation — see minhashNearDupPairs
    val buckets = chunks.groupBy(col("ci"), col("cv"))
      .agg(collect_list(struct(col("id"), col("sh"))).as("members"))
      .filter(size(col("members")) >= 2)
      .localCheckpoint(true)
    val hot: Set[(Int, Long)] = buckets
      .filter(size(col("members")) > maxBucketSize)
      .select(col("ci"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    buckets
      .select(explode(simhashBucketPairs(maxHamming, maxBucketSize, hot)(
        col("ci"), col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** In-bucket scoring for SLOT-QUALIFIED pigeonhole buckets: chunkIdx is
    * `slot·4 + c`, so the owner rule and the hot set both live in the
    * slot's own key space — slots never cross-talk.
    */
  private def votedBucketPairs(maxHamming: Int, maxFullExpand: Int,
      hotBuckets: Set[(Int, Long)]) =
    udf((chunkIdx: Int, members: Seq[org.apache.spark.sql.Row]) => {
      val n = members.length
      val ids = Array.tabulate(n)(i => members(i).getLong(0))
      val shs = Array.tabulate(n)(i => members(i).getLong(1))
      val base = chunkIdx & ~3 // slot * 4
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      def ownerChunk(a: Long, b: Long): Int = {
        var c = 0
        while (c < 4) {
          val ca = (a >>> (c * 16)) & 0xffffL
          if (ca == ((b >>> (c * 16)) & 0xffffL) && !hotBuckets.contains((base + c, ca)))
            return base + c
          c += 1
        }
        -1
      }
      expandPairs(n, ids, maxFullExpand, (i, j, checkOwner) =>
        if (ids(i) != ids(j) &&
            (!checkOwner || ownerChunk(shs(i), shs(j)) == chunkIdx)) {
          val h = Hashing.hammingDistance(shs(i), shs(j))
          if (h <= maxHamming) {
            val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += ((a, b, h))
          }
        })
      out.toSeq
    })

  /** Multi-sketch VOTED near-dup pairs: each id carries one 64-bit sketch
    * per `slot` (e.g. a perceptual hash per sampled video frame,
    * [[graft.pipeline.Video.slotHashes]]), and a pair survives when at
    * least `minVotes` slots independently verify within `maxHamming` —
    * single-frame coincidences (title cards, black frames) cannot join
    * two videos on their own. Input must be (id: long, slot: int, sh:
    * long); returns (id_a, id_b, votes, min_hamming).
    *
    * Shape: the 4-chunk pigeonhole blocking of [[hammingNearDupPairs]]
    * runs once over the slot-exploded frame, with the chunk index
    * qualified by slot (`ci = slot·4 + c`) so each slot blocks in its own
    * bucket space; one shuffle builds all buckets for all slots, per-slot
    * verified pairs dedup on (pair, slot), and a count aggregation turns
    * slot agreements into votes. Everything stays bounded by the same
    * star-expansion cap as the text/image engines.
    */
  def hammingVotePairs(sk: DataFrame, maxHamming: Int = 3, minVotes: Int = 2,
      maxBucketSize: Int = 1000): DataFrame = {
    val chunks = sk.select(col("id"), col("slot"), col("sh"),
        explode(array((0 until 4).map { i =>
          struct(lit(i).as("c"), (shiftrightunsigned(col("sh"), i * 16) % 65536).as("cv"))
        }: _*)).as("p"))
      .select(col("id"), col("sh"),
        (col("slot") * 4 + col("p.c")).cast("int").as("ci"), col("p.cv"))
    val buckets = chunks.groupBy(col("ci"), col("cv"))
      .agg(collect_list(struct(col("id"), col("sh"))).as("members"))
      .filter(size(col("members")) >= 2)
      .localCheckpoint(true)
    val hot: Set[(Int, Long)] = buckets
      .filter(size(col("members")) > maxBucketSize)
      .select(col("ci"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    buckets
      .select((col("ci") / 4).cast("int").as("slot"),
        explode(votedBucketPairs(maxHamming, maxBucketSize, hot)(
          col("ci"), col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("slot"), col("p._3").as("hamming"))
      .dropDuplicates("id_a", "id_b", "slot")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("int").as("votes"),
        min(col("hamming")).as("min_hamming"))
      .filter(col("votes") >= minVotes)
  }

  private val winnowUdf = udf((t: String, k: Int, w: Int) =>
    if (t == null) Array.empty[Long] else Hashing.winnowFingerprints(t, k, w))

  /** Shared-substring near-dup pairs via winnowing fingerprints (the MOSS
    * scheme, [[Hashing.winnowFingerprints]]): each doc contributes its
    * selected k-gram fingerprints, an inverted index groups docs by
    * fingerprint, and pairs sharing ≥ `minShared` fingerprints survive.
    * Catches copied PASSAGES between otherwise-different documents — the
    * overlap class MinHash (whole-doc Jaccard) is least sensitive to.
    *
    * Shape: one scan computes fingerprints, one groupBy builds the
    * fingerprint document-frequency table, and the pair join runs only
    * over fingerprints with 2..maxDocsPerFp postings — boilerplate
    * fragments shared by more than `maxDocsPerFp` docs are dropped before
    * the self-join (they carry no discriminating signal and would
    * otherwise blow the join up quadratically in the hottest key).
    * Fully declarative: both shuffles hash-partition by fingerprint, AQE
    * handles residual skew. Returns (id_a, id_b, shared_fps).
    */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Int = 3,
      maxDocsPerFp: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).cast("long").as("id"),
        explode(winnowUdf(col(textCol), lit(k), lit(w))).as("fp"))
      .localCheckpoint(true) // the df-count agg and the posting join both read it
    val usable = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") >= 2 && col("df_count") <= maxDocsPerFp)
      .select(col("fp"))
    // materialized once: both sides of the self-join read it, and without
    // this the df-count aggregate above is recomputed per side
    val posting = fps.join(usable, Seq("fp")).localCheckpoint(true)
    posting.as("a")
      .join(posting.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Connected components over near-dup candidate pairs by distributed
    * min-label propagation: every row starts labeled with its own id, and
    * each round relaxes labels over the edges and then applies a
    * pointer-jumping shortcut (cluster ← cluster's cluster, halving
    * label-path lengths), so convergence is O(log n) rounds even on long
    * chains — not O(diameter) as plain propagation would be.
    *
    * Only vertices that appear in an edge enter the loop: an isolated id
    * can never change label, so it is emitted directly as its own
    * singleton cluster. At corpus scale this is the difference between
    * iterating over the whole table and iterating over the (vastly
    * smaller) near-dup subgraph. Loop vertices are intersected with `ids`,
    * so a pair endpoint outside `ids` (pairs mined before a filter) never
    * becomes a label or an output row — labels and output always cover
    * exactly `ids`.
    *
    * Convergence is detected by the exact sum of labels: labels are
    * monotone non-increasing (least() in the relax step; the jump adopts
    * b.cluster ≤ b.id), so any change strictly decreases the sum —
    * an aggregate over the new labels alone, no join against the previous
    * round. Every round's label table is localCheckpoint'ed so the lineage
    * (and thus the plan) stays flat instead of growing per round.
    * Exhausting `maxRounds` without converging THROWS rather than silently
    * returning split clusters (under-dedup with no diagnostic is the worst
    * failure mode a dedup operator can have). Returns (id, cluster) with
    * cluster = min id of the component — the deterministic "keeper" rule
    * every dedup operator here uses.
    */
  def nearDupClusters(ids: DataFrame, pairs: DataFrame, maxRounds: Int = 20,
      driverEdgeCap: Long = 200000L): DataFrame = {
    val idsNorm = ids.select(col(ids.columns.head).cast("long").as("id"))
    // drop edges with an endpoint outside ids BEFORE the loop (the pre-
    // rewrite inner joins against an ids-based label table did this
    // implicitly); a foreign endpoint must never become a cluster label
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .join(idsNorm.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(idsNorm.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .localCheckpoint(true)
    // Small-edge-set fast path: the near-dup EDGE set is vastly smaller
    // than the corpus (it is the output of threshold-verified candidate
    // mining, not the input), and below the cap the iterative relax/jump
    // machinery costs more in per-round job scheduling than the whole
    // component computation. Bounded driver state by the explicit cap —
    // the same discipline as the hot-bucket key sets — with union-find +
    // path compression, then min-id per component (identical labels to
    // the distributed loop, proven by DedupClustersSpec equivalence).
    if (edges.count() <= driverEdgeCap) {
      val es = edges.collect().map(r =>
        (r.getAs[Long]("src"), r.getAs[Long]("dst")))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val next = parent(cur); parent(cur) = root; cur = next
        }
        root
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(ra) = rb
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
      verts.foreach { v =>
        val r = find(v)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
      }
      val spark = ids.sparkSession
      import spark.implicits._
      val labeled = verts.toSeq.map(v => (v, minOfRoot(find(v)))).toDF("id", "cluster")
      return labeled.unionByName(
        idsNorm.join(labeled.select(col("id")), Seq("id"), "left_anti")
          .withColumn("cluster", col("id")))
    }
    val vertices = edges.select(col("src").as("id")).distinct().localCheckpoint(true)
    var labels = vertices.withColumn("cluster", col("id")).localCheckpoint(true)
    // exact decimal so the equality test can never alias through overflow
    val labelSum = sum(col("cluster").cast(DecimalType(38, 0)))
    var prevSum: Option[java.math.BigDecimal] = None
    var round = 0
    var converged = labels.isEmpty // no edges → nothing to propagate
    while (round < maxRounds && !converged) {
      // min label among neighbors, then min with own label
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      // materialized: both sides of the jump self-join below read it, and
      // they shuffle on different keys so exchange reuse can't dedup them
      val relaxed = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      // pointer jumping: adopt the label OF the current label (labels cover
      // every loop vertex, so the self-join is total); b.cluster ≤ b.id =
      // a.cluster keeps labels monotone while halving chain lengths
      val next = relaxed.as("a")
        .join(relaxed.as("b"), col("a.cluster") === col("b.id"))
        .select(col("a.id").as("id"), col("b.cluster").as("cluster"))
        .localCheckpoint(true)
      val s = Option(next.agg(labelSum.as("s")).head().getDecimal(0))
      labels = next
      converged = prevSum.isDefined && prevSum == s
      prevSum = s
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxRounds relax+jump rounds " +
          "(handles component diameters up to ~2^maxRounds); raise maxRounds")
    // isolated ids never entered the loop: each is its own cluster
    labels.unionByName(
      idsNorm.join(vertices, Seq("id"), "left_anti")
        .withColumn("cluster", col("id")))
  }

  /** One row per component: the min-id representative (shared keeper rule
    * of both removal operators).
    */
  private def keepRepresentatives(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    df.join(clusters.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)), Seq(idCol), "left_semi")

  /** End-to-end near-duplicate removal: MinHash-LSH candidates → exact
    * n-gram Jaccard verify → connected components → keep ONE row per
    * cluster (the min id). The composition a training-data pipeline runs;
    * every stage is the bucketed/bounded shape documented above.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      candidateThreshold: Double = 0.5, jaccardThreshold: Double = 0.6): DataFrame = {
    val cand = minhashNearDupPairs(df, idCol, textCol, candidateThreshold)
    val verified = verifyJaccard(cand, df, idCol, textCol, jaccardThreshold)
    keepRepresentatives(df, idCol, nearDupClusters(df.select(col(idCol)), verified))
  }

  /** Embedding-space variant of [[dropNearDuplicates]]: banded hyperplane
    * LSH candidates (exact-cosine-verified inline) → connected components →
    * min-id representative per cluster.
    */
  def dropEmbeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, bands: Int = 8, rowsPerBand: Int = 8): DataFrame = {
    val pairs = embeddingNearDupPairs(df, idCol, vecCol, minCosine, bands, rowsPerBand)
    keepRepresentatives(df, idCol, nearDupClusters(df.select(col(idCol)), pairs))
  }

  /** Exact n-gram Jaccard verification of candidate pairs — pure set
    * arithmetic. Requires `idCol` integral (cast to long, matching the
    * `id_a`/`id_b` longs the candidate miners emit — same contract as
    * [[minhashNearDupPairs]]); a non-numeric string id would cast to null
    * and drop every pair at the join. ONE scan computes each pair-participating doc's sorted
    * distinct shingle-hash array (a doc in k pairs is tokenized once, not
    * k times), the pairs join the ARRAYS back, and the Jaccard is a
    * codegen'd merge-loop intersection over the two sorted arrays
    * ([[graft.functions.SortedSetJaccard]]). Verify-stage CPU now grows
    * with corpus size (set construction) + pair COUNT (cheap long-merge),
    * no longer pair count × document length — the shape that survives a
    * 100× corpus. Value-identical to [[Hashing.ngramJaccard]]: same
    * shingle sets, same both-empty→1.0 rule.
    */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    // pairs feed two consumers (the participant-id set and the verify
    // join); materialize so candidate mining runs once
    val p = pairs.localCheckpoint(true)
    val pairIds = p.select(col("id_a").as("_vid"))
      .union(p.select(col("id_b").as("_vid"))).distinct()
    // sets only for docs that actually appear in a pair (left_semi), and
    // materialized once because the a-side and b-side joins both read it
    val sets = docs
      .select(col(idCol).cast("long").as("_vid"),
        GraftFunctions.shingle_set(col(textCol)).as("_vset"))
      .join(pairIds, Seq("_vid"), "left_semi")
      .localCheckpoint(true)
    p
      .join(sets.withColumnRenamed("_vid", "id_a").withColumnRenamed("_vset", "_set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("_vid", "id_b").withColumnRenamed("_vset", "_set_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(GraftFunctions.set_jaccard(col("_set_a"), col("_set_b")), 4))
      .filter(col("jaccard") >= threshold)
      .drop("_set_a", "_set_b")
  }

  // Deterministic ±1 hyperplane components, cached per (planes, dim) so the
  // per-row sketch is a pure dot-product loop (no hashing in the hot path).
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Float]]]()
  private def planeSigns(planes: Int, dim: Int): Array[Array[Float]] =
    signCache.computeIfAbsent((planes, dim), _ =>
      Array.tabulate(planes)(p => Array.tabulate(dim)(i =>
        if ((Hashing.hash64(s"$p:$i") & 1L) == 1L) 1.0f else -1.0f)))

  /** All b per-band sign sketches of one vector: band `bd` is the r bits
    * from hyperplanes [bd·r, (bd+1)·r). Shared by the row-level sketch UDF,
    * the in-bucket owner check and [[Similarity.lshSearch]] probing so they
    * can never disagree.
    */
  private[operators] def bandSketches(v: Array[Float], bands: Int, rowsPerBand: Int): Array[Long] = {
    val signs = planeSigns(bands * rowsPerBand, v.length)
    Array.tabulate(bands) { bd =>
      var bits = 0L
      var r = 0
      while (r < rowsPerBand) {
        val row = signs(bd * rowsPerBand + r)
        var dotv = 0.0
        var i = 0
        while (i < v.length) { dotv += v(i) * row(i); i += 1 }
        if (dotv > 0) bits |= (1L << r)
        r += 1
      }
      bits
    }
  }

  /** Exact cosine in double precision over raw float arrays — the verify
    * kernel of every embedding near-dup path (in-bucket scoring and the
    * ingest gate's index check share it so they can never disagree).
    */
  private[operators] def cosine(x: Array[Float], y: Array[Float]): Double = {
    val m = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < m) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  private val cosineUdf = udf((a: Seq[Float], b: Seq[Float]) =>
    cosine(a.toArray, b.toArray))

  /** In-bucket cosine scoring — survivors-only / star-expansion, with the
    * dot product in double precision over the raw float arrays. Pairs
    * colliding in several bands are scored only in their owner band (the
    * first colliding band with a normal-size bucket) — the same cross-band
    * dedup rule as [[minhashBucketPairs]].
    */
  private def cosineBucketPairs(minCosine: Double, bands: Int,
      maxFullExpand: Int, hotBuckets: Set[(Int, Long)]) =
    udf((band: Int, members: Seq[org.apache.spark.sql.Row]) => {
      val n = members.length
      val ids = Array.tabulate(n)(i => members(i).getLong(0))
      val vecs = Array.tabulate(n)(i => members(i).getSeq[Float](1).toArray)
      // sketches were computed once per ROW by the scan-side UDF and carried
      // through the bucket struct — recomputing them here would redo
      // O(bands·rowsPerBand·dim) work per bucket membership
      val sks = Array.tabulate(n)(i => members(i).getSeq[Long](2).toArray)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def ownerBand(i: Int, j: Int): Int = {
        var bd = 0
        while (bd < bands) {
          if (sks(i)(bd) == sks(j)(bd) && !hotBuckets.contains((bd, sks(i)(bd))))
            return bd
          bd += 1
        }
        -1
      }
      expandPairs(n, ids, maxFullExpand, (i, j, checkOwner) =>
        if (ids(i) != ids(j) && (!checkOwner || ownerBand(i, j) == band)) {
          val c = cosine(vecs(i), vecs(j))
          if (c >= minCosine) {
            val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += ((a, b, c))
          }
        })
      out.toSeq
    })

  /** Embedding-cosine near-duplicates via banded random-hyperplane LSH
    * (b tables of r sign bits — the OR-construction), verified inline
    * against the cosine threshold. One scan computes all sketches.
    *
    * Banding is what makes recall hold AT the decision boundary: a single
    * r·b-bit table collides near-threshold pairs with probability
    * (1−θ/π)^(r·b) (≈0.18 at cos 0.95 for 16 bits), while b-of-r banding
    * collides with 1−(1−(1−θ/π)^r)^b (≈0.99 at cos 0.95 for 8×8) —
    * the same OR-construction MinHash uses. Candidates are verified with
    * the exact cosine, so banding buys recall without costing precision.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, bands: Int = 8, rowsPerBand: Int = 8,
      maxBucketSize: Int = 1000): DataFrame =
    embeddingPairsFromSketches(
      embeddingSketches(df, idCol, vecCol, bands, rowsPerBand),
      minCosine, bands, maxBucketSize)

  /** (id, vec, sks) — one scan computes ALL band sketches per row; the
    * embedding analog of [[minhashSignatures]] (and the persisted state
    * of the embedding ingest gate).
    */
  def embeddingSketches(df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame = {
    val sketchAll = udf((v: Seq[Float]) => bandSketches(v.toArray, bands, rowsPerBand))
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("sks", sketchAll(col("vec")))
  }

  /** [[embeddingNearDupPairs]] from an ALREADY-sketched (id, vec, sks)
    * table — the entry point when sketches are shared or persisted.
    */
  def embeddingPairsFromSketches(sk: DataFrame, minCosine: Double,
      bands: Int, maxBucketSize: Int = 1000): DataFrame = {
    val withBands = sk.select(col("id"), col("vec"), col("sks"),
      posexplode(col("sks")).as(Seq("band", "bits")))
    // single checkpointed aggregation — see minhashNearDupPairs
    val buckets = withBands.groupBy(col("band"), col("bits"))
      .agg(collect_list(struct(col("id"), col("vec"), col("sks"))).as("members"))
      .filter(size(col("members")) >= 2)
      .localCheckpoint(true)
    val hot: Set[(Int, Long)] = buckets
      .filter(size(col("members")) > maxBucketSize)
      .select(col("band"), col("bits")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    buckets
      .select(explode(cosineBucketPairs(minCosine, bands, maxBucketSize, hot)(
        col("band"), col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        round(col("p._3"), 4).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  private def explodeParas(df: DataFrame, idCol: String,
      paragraphs: Column): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      posexplode(paragraphs).as(Seq("p_idx", "p_text")))

  /** Paragraph-granularity exact dedup (the C4 / Dolma normalization step):
    * the corpus keeps ONE instance of every distinct paragraph — the
    * (min id, min p_idx) occurrence — and each document is rebuilt from its
    * surviving paragraphs in order. `paragraphs` is any array<string>
    * expression over the row (split on blank lines for real text; the gate
    * corpus has no newlines, so its query windows the token stream).
    *
    * Skew note: the keeper table is a groupBy-min(struct) — partial
    * aggregation absorbs the boilerplate case (one paragraph appearing in
    * millions of docs) on the map side, where a row_number window would
    * funnel every instance of the hot paragraph through one reducer. The
    * join back is on the md5 fingerprint, whose keeper side is one row per
    * DISTINCT paragraph — skew-free by construction.
    *
    * Returns (id, n_paras, text_deduped); documents whose every paragraph
    * was claimed elsewhere disappear (n_paras would be 0).
    */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String,
      paragraphs: Column, sep: String = " ",
      carryCols: Seq[String] = Nil): DataFrame = {
    val paras = df.select(col(idCol).cast("long").as("id") +:
        carryCols.map(col) :+
        posexplode(paragraphs).as(Seq("p_idx", "p_text")): _*)
      .withColumn("_fp", md5(col("p_text")))
    // The keeper CARRIES ITS OWN TEXT: min over (id, p_idx, p_text) picks
    // the same (min id, min p_idx) occurrence — the pair is unique within
    // the corpus (posexplode index per id), so p_text never decides the
    // order — and its text rides along in the aggregate. That removes the
    // join back to the exploded frame entirely (r11; the r8 shape scanned
    // and evaluated the `paragraphs` expression TWICE and shuffled the
    // full occurrence list a second time for the join): one scan, two
    // aggregations, and the shuffle after partial combine carries one
    // struct per distinct paragraph per partition, exactly what the old
    // keeper side alone carried. `carryCols` (id-functional columns the
    // caller needs downstream, e.g. lang) ride the same structs — struct
    // min compares fields in order and (id, p_idx) is already unique, so
    // appended fields never decide a keeper; carrying them removes the
    // caller's join back to the source table (one exchange + a broadcast
    // build at any scale).
    paras.groupBy(col("_fp"))
      .agg(min(struct(Seq(col("id"), col("p_idx"), col("p_text")) ++
        carryCols.map(col): _*)).as("_k"))
      .select(col("_k.id").as("id") +: col("_k.p_idx").as("p_idx") +:
        col("_k.p_text").as("p_text") +:
        carryCols.map(c => col(s"_k.$c").as(c)): _*)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_paras"),
        array_join(transform(
          array_sort(collect_list(struct(col("p_idx"), col("p_text")))),
          x => x.getField("p_text")), sep).as("text_deduped") +:
        carryCols.map(c => min(col(c)).as(c)): _*)
  }

  /** Ingest-time paragraph dedup against an EXISTING corpus index: incoming
    * paragraphs whose fingerprint is already indexed are dropped, and
    * within the batch only the first occurrence survives. `indexFps` is
    * the persisted fingerprint column (`_fp`) of the corpus — at 100 TB
    * nobody rescans the corpus per batch; the index is the compact state
    * the ingest pipeline carries forward (and [[graft.pipeline
    * .PartitionedUpsert]] is the layout that appends to it cheaply).
    * The membership test is [[Scale.bloomAntiJoin]]: definitely-novel
    * paragraphs (the common case) never shuffle.
    *
    * Returns the surviving (id, p_idx, p_text, _fp) rows — callers rebuild
    * documents or append `_fp` to the index from the same result.
    */
  def ingestNovelParagraphs(incoming: DataFrame, idCol: String,
      paragraphs: Column, indexFps: DataFrame,
      expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    val paras = explodeParas(incoming, idCol, paragraphs)
      .withColumn("_fp", md5(col("p_text")))
    val novel = Scale.bloomAntiJoin(paras, indexFps, "_fp", expectedKeys, fpp)
    val keepers = novel.groupBy(col("_fp"))
      .agg(min(struct(col("id"), col("p_idx"))).as("_k"))
    novel.join(keepers, Seq("_fp"))
      .filter(col("id") === col("_k.id") && col("p_idx") === col("_k.p_idx"))
      .select(col("id"), col("p_idx"), col("p_text"), col("_fp"))
  }

  /** Exact substring-span dedup (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): find token spans of ≥ `windowTokens` tokens that occur
    * more than once anywhere in the corpus and cut every occurrence except
    * the first from the rebuilt text. Distinct from [[dropDuplicateParagraphs]]
    * (non-overlapping fixed windows, whole-window keeper): here windows
    * slide with stride 1, so a duplicated region is detected at ANY token
    * offset, and overlapping duplicated windows are merged into maximal
    * spans before removal.
    *
    * The single-machine original builds a corpus-wide suffix array; that
    * does not distribute. The Spark-shaped equivalent fingerprints every
    * stride-1 window (md5 of the joined tokens — exact, not sketched) and
    * reduces duplicate detection to one hash shuffle:
    *
    *  1. window scan — `posexplode` of the stride-1 windows; rows ≈ corpus
    *     token count, linear, no shuffle.
    *  2. keeper table — groupBy(fingerprint).agg(min(struct(id, pos)),
    *     count). Boilerplate skew (one window in millions of docs) is
    *     absorbed by map-side partial aggregation — the same discipline as
    *     [[dropDuplicateParagraphs]]; a row_number window here would funnel
    *     every hot fingerprint through one reducer. Only fingerprints with
    *     count > 1 survive, so the join-back side is duplicate-sized, not
    *     corpus-sized.
    *  3. covered intervals — non-keeper occurrences of duplicated
    *     fingerprints, i.e. [pos, pos + W − 1] per occurrence.
    *  4. span merge — gaps-and-islands per document (running max(end) over
    *     a doc-partitioned window; a new island starts when the next
    *     interval opens past it). Per-doc work, one shuffle on id.
    *  5. rebuild — spans collect to a per-doc array (bounded by the doc's
    *     own length, never corpus-sized) and a codegen'd higher-order
    *     filter drops covered token positions.
    *
    * Returns one row per input document: (id, n_spans, toks_removed,
    * text_clean) — documents without duplicated spans keep their full
    * (whitespace-normalized) token stream, fully-duplicated documents come
    * back empty.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, sep: String = " "): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be at least 2")
    val base = tokenBase(df, idCol, textCol)
    val wins = strideWindows(base, windowTokens)
    val dupKeepers = wins.groupBy(col("_fp"))
      .agg(min(struct(col("id"), col("p"))).as("_k"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
    val covered = wins.join(dupKeepers, Seq("_fp"))
      .filter(!(col("id") === col("_k.id") && col("p") === col("_k.p")))
      .select(col("id"), col("p").as("s"),
        (col("p") + (windowTokens - 1)).as("e"))
    cutCoveredSpans(base, covered, sep)
  }

  /** (id, toks) projection shared by the span-removal operators; eagerly
    * checkpointed because the token array feeds both the window scan and
    * the final rebuild.
    */
  private[operators] def tokenBase(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = filter(split(trim(col(textCol)), " "), t => length(t) > 0)
    df.select(col(idCol).cast("long").as("id"), toks.as("toks"))
      .localCheckpoint(true)
  }

  /** Stride-1 fingerprinted windows of a [[tokenBase]]: (id, p, _fp) where
    * _fp = md5 of the space-joined `w`-token window starting at 0-based
    * token position p. Linear scan, no shuffle.
    */
  private[operators] def strideWindows(base: DataFrame, w: Int): DataFrame = {
    val nW = greatest(size(col("toks")) - (w - 1), lit(0))
    base.select(col("id"),
        posexplode(when(nW === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), nW),
            j => array_join(slice(col("toks"), j, lit(w)), " "))))
          .as(Seq("p", "w")))
      .select(col("id"), col("p"), md5(col("w")).as("_fp"))
  }

  /** Steps 4–5 of the span-removal shape: merge covered token intervals
    * (id, s, e) gaps-and-islands into maximal spans, then rebuild each
    * document with covered positions cut. Interval rows are match-sized
    * (never corpus-sized), the island merge is per-doc window work, and
    * the rebuild is a codegen'd higher-order filter over the doc's own
    * span list.
    */
  private[operators] def cutCoveredSpans(base: DataFrame, covered: DataFrame,
      sep: String): DataFrame = {
    val byStart = Window.partitionBy(col("id")).orderBy(col("s"))
    val prevMax = max(col("e"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val spans = covered
      .withColumn("_new",
        when(prevMax.isNull || col("s") > prevMax + 1, 1).otherwise(0))
      .withColumn("_isl", sum(col("_new"))
        .over(byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_isl"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss") + 1).cast("long").as("toks_removed"),
        collect_list(struct(col("ss"), col("se"))).as("_sps"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("toks_removed"), lit(0L)).as("toks_removed"),
        array_join(when(col("_sps").isNull, col("toks")).otherwise(
          filter(col("toks"), (t, i) => !exists(col("_sps"), sp =>
            i >= sp.getField("ss") && i <= sp.getField("se")))),
          sep).as("text_clean"))
  }

  private val estJaccardUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    Hashing.estimatedJaccard(a.toArray, b.toArray))

  /** Banded LSH projection of a signature index: (band, bh, id). This is
    * the PERSISTED form the incremental ingest gate probes — at corpus
    * scale it is written once (and appended per batch), partitioned or
    * bucketed by (band, bh) so a batch probe prunes to colliding buckets
    * instead of rescanning the corpus ([[graft.pipeline.PartitionedUpsert]]
    * is the append-friendly layout).
    */
  def minhashBandIndex(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh")))
      .select(col("band"), col("bh"), col("id"))

  private def bandKey: Column = concat_ws(":", col("band"), col("bh"))

  /** Bloom filter over a band table's (band, bh) keys — the third piece of
    * persisted ingest-gate state. Built ONCE over the corpus index (this
    * is the only corpus-sized step; [[ingestNovelDocuments]] otherwise
    * does batch-sized work), persisted via `BloomFilter.writeTo`, and
    * extended per batch by `mergeInPlace(buildBandBloom(deltaBands, …))`
    * with the SAME expectedBandKeys/fpp (merge requires identical bit
    * layout) — never rebuilt from the full index.
    */
  def buildBandBloom(indexBands: DataFrame, expectedBandKeys: Long = 1L << 20,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    indexBands.select(bandKey.as("bk")).stat.bloomFilter("bk", expectedBandKeys, fpp)

  /** Ingest-time NEAR-duplicate gate against an existing corpus index —
    * [[ingestNovelParagraphs]] generalized from exact fingerprints to
    * MinHash similarity. `indexSigs` (id, sig) and `indexBands`
    * ([[minhashBandIndex]]) are the persisted state the pipeline carries
    * forward; the BATCH is the only thing scanned or signed per run.
    *
    * Shape, in batch-size — never corpus-size — work:
    *  1. one scan signs the batch (signatures checkpointed, reused by
    *     every later stage);
    *  2. a Bloom filter over the index's (band, bh) keys (pass the
    *     persisted [[buildBandBloom]] state; the default rebuilds it from
    *     `indexBands`, acceptable only at gate scale) drops batch band
    *     rows with no possible collision — a batch of genuinely novel
    *     content never shuffles against the index;
    *  3. surviving bands join the banded index, candidates verify by
    *     signature-estimated Jaccard against `indexSigs` (no text ever
    *     leaves the index);
    *  4. within-batch near-dups cluster via the same candidates →
    *     verify → connected-components pipeline (signatures reused), and
    *     each cluster keeps its min-id representative — unless the
    *     cluster touches indexed content, in which case the index copy
    *     is the representative and the whole cluster drops.
    *
    * Returns the surviving incoming rows. Append
    * `minhashSignatures(survivors, …)` to `indexSigs` (and its
    * [[minhashBandIndex]] to the band table) to carry the state forward —
    * the idempotence property: re-ingesting the same batch after the
    * append yields zero survivors.
    */
  def ingestNovelDocuments(incoming: DataFrame, idCol: String, textCol: String,
      indexSigs: DataFrame, indexBands: DataFrame, threshold: Double = 0.7,
      maxBucketSize: Int = 1000, expectedBandKeys: Long = 1L << 20,
      fpp: Double = 0.01,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame =
    ingestNovelDocumentsWithSigs(incoming, idCol, textCol, indexSigs,
      indexBands, threshold, maxBucketSize, expectedBandKeys, fpp,
      bandBloom).rows

  /** A survivor set plus the survivors' signatures, both derived from the
    * ONE batch-signing pass ([[ingestNovelDocumentsWithSigs]]). `sigs` is
    * (id, sig) — exactly `minhashSignatures(rows)` but without a second
    * minhash evaluation over the batch text.
    */
  final case class IngestSurvivors(rows: DataFrame, sigs: DataFrame)

  /** [[ingestNovelDocuments]] returning the survivors' signatures too —
    * for callers that carry the index forward (the streaming ingest loop
    * appends `sigs` + its band projection every micro-batch): minhash is
    * the batch's dominant per-row kernel, and deriving the delta from the
    * already-checkpointed batch signatures halves the per-batch signing
    * work a re-sign of the survivors would pay.
    */
  def ingestNovelDocumentsWithSigs(incoming: DataFrame, idCol: String,
      textCol: String,
      indexSigs: DataFrame, indexBands: DataFrame, threshold: Double = 0.7,
      maxBucketSize: Int = 1000, expectedBandKeys: Long = 1L << 20,
      fpp: Double = 0.01,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): IngestSurvivors = {
    val spark = incoming.sparkSession
    val batchSigs = incoming.select(col(idCol).cast("long").as("id"),
      GraftFunctions.minhash(col(textCol)).as("sig")).localCheckpoint(true)
    val batchBands = batchSigs
      .select(col("id"), col("sig"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh")))
      .withColumn("bk", bandKey)
    val idxKeyed = indexBands.select(bandKey.as("bk"), col("id").as("idx_id"))
    // a caller-provided Bloom asserts persisted index state exists — the
    // isEmpty probe would be one more scan of the index per micro-batch
    // (and against an actually-empty index the joins return empty anyway)
    val dupIds =
      if (bandBloom.isEmpty && indexBands.isEmpty)
        batchSigs.select(col("id")).limit(0)
      else {
        // prefer the caller's persisted Bloom (built once, merged per
        // batch); deriving it here rescans the index — gate-scale only
        val bf = bandBloom.getOrElse(buildBandBloom(indexBands, expectedBandKeys, fpp))
        val bfB = spark.sparkContext.broadcast(bf)
        val might = udf((k: String) => k != null && bfB.value.mightContainString(k))
        val cand = batchBands.filter(might(col("bk")))
          .join(idxKeyed, Seq("bk"))
          .select(col("id"), col("sig"), col("idx_id"))
          .dropDuplicates("id", "idx_id")
        cand
          .join(indexSigs.select(col("id").as("idx_id"), col("sig").as("idx_sig")),
            Seq("idx_id"))
          .filter(estJaccardUdf(col("sig"), col("idx_sig")) >= threshold)
          // no distinct: the only consumer is novelSurvivorIds' left-semi
          // probe, which absorbs duplicates — the distinct was one more
          // exchange (and its AQE stage job) per micro-batch (r20)
          .select(col("id"))
      }
    // within-batch clustering over the SAME signatures (no recompute);
    // the drop set computes driver-side when the verified pairs fit
    // (micro-batch/slice-bounded by contract) — the distributed
    // relax/jump shape is the overflow fallback
    val pairs = minhashPairsFromSigs(batchSigs, threshold, maxBucketSize)
    novelDropIds(pairs, dupIds) match {
      case Some(drop) =>
        IngestSurvivors(
          antiDrop(incoming, col(idCol).cast("long"), drop),
          antiDrop(batchSigs, col("id"), drop))
      case None =>
        val ids = novelSurvivorIds(batchSigs.select(col("id")), pairs, dupIds)
        IngestSurvivors(
          incoming.join(ids.select(col("id").as(idCol)), Seq(idCol), "left_semi"),
          batchSigs.join(ids, Seq("id"), "left_semi"))
    }
  }

  /** Shared survivor selection of both ingest gates: cluster the batch's
    * near-dup pairs, keep each cluster's min-id representative — unless
    * the cluster contains an index-matched id, in which case the indexed
    * copy is the representative and the whole cluster drops.
    */
  private[operators] def novelSurvivorIds(batchIds: DataFrame, batchPairs: DataFrame,
      dupIds: DataFrame): DataFrame = {
    val clusters = nearDupClusters(batchIds, batchPairs)
      .localCheckpoint(true) // read twice: index-touch probe + survivor pick
    val indexTouched = clusters.join(dupIds, Seq("id"), "left_semi")
      // no distinct: the anti-join consumer below absorbs duplicate
      // cluster labels — the distinct was one more exchange per call (r20)
      .select(col("cluster"))
    clusters
      .filter(col("id") === col("cluster")) // min-id representative
      .join(indexTouched, Seq("cluster"), "left_anti")
      .select(col("id"))
  }

  /** Driver-side DROP set for the ingest gates' within-batch survivor
    * rule — the job-count fast path of [[novelSurvivorIds]] (r20, guide
    * §1.2: the relax/jump machinery and its per-action AQE stage jobs
    * cost more in scheduler floors than the whole micro-batch's
    * component computation). Both inputs are threshold-VERIFIED near-dup
    * outputs over one micro-batch/slice, never the corpus: `batchPairs`'
    * endpoints are batch ids by construction (pairs derive from the
    * batch's own signatures), so the defensive foreign-endpoint filter
    * of [[nearDupClusters]] is a no-op here and the pairs collect
    * directly. Union-find with path compression + the min-id /
    * index-absorption rule run on the driver (the same algorithm
    * [[nearDupClusters]]' small-edge path uses — DedupClustersSpec pins
    * the distributed equivalence; IngestSurvivorsSpec pins this one).
    *
    * Returns None — caller falls back to the distributed
    * [[novelSurvivorIds]] shape — when either collect overflows
    * `driverEdgeCap` rows or `spark.driver.maxResultSize` (bounded
    * driver state, the [[nearDupClusters]] cap discipline).
    *
    * The returned ids are the batch ids to DROP; survivors = batch ids
    * minus the set (null ids excluded by the caller — the distributed
    * semi join dropped them implicitly). A pair with a null endpoint and a
    * null dup id are dropped before the collects: the distributed shape's
    * joins never match a null either. Dup ids are de-duplicated before
    * their collect, so it holds at most one row per batch id.
    */
  private[operators] def novelDropIds(batchPairs: DataFrame, dupIds: DataFrame,
      driverEdgeCap: Long = 200000L): Option[Array[Long]] = {
    def tooLarge(e: Throwable): Boolean =
      e.getMessage != null && e.getMessage.contains("maxResultSize")
    val pairs =
      try batchPairs.select(col("id_a"), col("id_b"))
        .filter(col("id_a").isNotNull && col("id_b").isNotNull).collect()
      catch { case e: org.apache.spark.SparkException if tooLarge(e) =>
        return None }
    if (pairs.length > driverEdgeCap) return None
    val dups =
      try dupIds.filter(col("id").isNotNull).dropDuplicates("id")
        .collect().map(_.getLong(0))
      catch { case e: org.apache.spark.SparkException if tooLarge(e) =>
        return None }
    // union-find with path compression over the pair endpoints
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent(cur); parent(cur) = root; cur = next
      }
      root
    }
    pairs.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    val verts = pairs.iterator
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    verts.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
    }
    // drop = every edge vertex that is not its cluster's min-id rep,
    // plus the rep of every cluster an index-matched id touches, plus
    // the index-matched ids themselves (covers isolated dup ids — their
    // own-cluster rep is themselves)
    val drop = scala.collection.mutable.LongMap.empty[Boolean]
    verts.foreach(v => if (minOfRoot(find(v)) != v) drop(v) = true)
    dups.foreach { d =>
      drop(d) = true
      if (parent.contains(d) || minOfRoot.contains(d)) {
        val rep = minOfRoot.getOrElse(find(d), d)
        drop(rep) = true
      }
    }
    Some(drop.keysIterator.toArray)
  }

  /** The survivors of `incoming` under the driver-computed drop set: a
    * broadcast anti-join against a LocalRelation (builds on the driver,
    * no job). The isNotNull filter reproduces the distributed shape's
    * semi-join semantics — a null id never matched there, so it must not
    * survive here either.
    */
  private def antiDrop(df: DataFrame, idExpr: Column,
      drop: Array[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (drop.isEmpty) df.filter(idExpr.isNotNull)
    else df.filter(idExpr.isNotNull)
      .join(broadcast(drop.toSeq.toDF("_drop_id")),
        idExpr === col("_drop_id"), "left_anti")
  }

  private def novelSurvivors(incoming: DataFrame, idCol: String,
      batchIds: DataFrame, batchPairs: DataFrame, dupIds: DataFrame): DataFrame =
    incoming.join(
      novelSurvivorIds(batchIds, batchPairs, dupIds).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Banded projection of an embedding-sketch index: (band, bh, id) —
    * [[minhashBandIndex]] for the embedding gate ([[buildBandBloom]] and
    * the persisted layout apply unchanged).
    */
  def embeddingBandIndex(sketches: DataFrame): DataFrame =
    sketches.select(col("id"), posexplode(col("sks")).as(Seq("band", "bh")))
      .select(col("band"), col("bh"), col("id"))

  /** [[ingestNovelDocuments]] in embedding space: the persisted state is
    * (id, vec, sks) sketches plus their banded projection; the batch is
    * sketched in one scan, Bloom-gated band collisions fetch candidate
    * index ids, and the verify is the EXACT cosine against the index
    * vectors (banding buys recall, the cosine check keeps precision —
    * the same contract as [[embeddingNearDupPairs]]). Within-batch
    * clusters follow the shared min-id / index-absorption rule.
    */
  def ingestNovelEmbeddings(incoming: DataFrame, idCol: String, vecCol: String,
      indexSketches: DataFrame, indexBands: DataFrame,
      minCosine: Double = 0.95, bands: Int = 8, rowsPerBand: Int = 8,
      maxBucketSize: Int = 1000, expectedBandKeys: Long = 1L << 20,
      fpp: Double = 0.01,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame =
    ingestNovelEmbeddingsWithSketches(incoming, idCol, vecCol, indexSketches,
      indexBands, minCosine, bands, rowsPerBand, maxBucketSize,
      expectedBandKeys, fpp, bandBloom).rows

  /** A survivor set plus the survivors' (id, vec, sks) sketches, both
    * derived from the ONE batch-sketching pass — the embedding twin of
    * [[IngestSurvivors]]: the streaming ingest loop appends `sketches`
    * and its [[embeddingBandIndex]] projection every micro-batch without
    * re-sketching the survivors.
    */
  final case class EmbedIngestSurvivors(rows: DataFrame, sketches: DataFrame)

  /** [[ingestNovelEmbeddings]] returning the survivors' sketches too —
    * the [[ingestNovelDocumentsWithSigs]] discipline in embedding space.
    */
  def ingestNovelEmbeddingsWithSketches(incoming: DataFrame, idCol: String,
      vecCol: String, indexSketches: DataFrame, indexBands: DataFrame,
      minCosine: Double = 0.95, bands: Int = 8, rowsPerBand: Int = 8,
      maxBucketSize: Int = 1000, expectedBandKeys: Long = 1L << 20,
      fpp: Double = 0.01,
      bandBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): EmbedIngestSurvivors = {
    val spark = incoming.sparkSession
    val batchSk = embeddingSketches(incoming, idCol, vecCol, bands, rowsPerBand)
      .localCheckpoint(true)
    val batchBands = batchSk
      .select(col("id"), col("vec"), posexplode(col("sks")).as(Seq("band", "bh")))
      .withColumn("bk", bandKey)
    val idxKeyed = indexBands.select(bandKey.as("bk"), col("id").as("idx_id"))
    val dupIds =
      if (bandBloom.isEmpty && indexBands.isEmpty)
        batchSk.select(col("id")).limit(0)
      else {
        val bf = bandBloom.getOrElse(buildBandBloom(indexBands, expectedBandKeys, fpp))
        val bfB = spark.sparkContext.broadcast(bf)
        val might = udf((k: String) => k != null && bfB.value.mightContainString(k))
        batchBands.filter(might(col("bk")))
          .join(idxKeyed, Seq("bk"))
          .select(col("id"), col("vec"), col("idx_id"))
          .dropDuplicates("id", "idx_id")
          .join(indexSketches.select(col("id").as("idx_id"), col("vec").as("idx_vec")),
            Seq("idx_id"))
          .filter(cosineUdf(col("vec"), col("idx_vec")) >= minCosine)
          // no distinct — left-semi consumer absorbs duplicates (see the
          // text twin)
          .select(col("id"))
      }
    // driver-side drop set when the verified pairs fit (see the text
    // twin); distributed fallback above the cap
    val pairs = embeddingPairsFromSketches(batchSk, minCosine, bands,
      maxBucketSize)
    novelDropIds(pairs, dupIds) match {
      case Some(drop) =>
        EmbedIngestSurvivors(
          antiDrop(incoming, col(idCol).cast("long"), drop),
          antiDrop(batchSk, col("id"), drop))
      case None =>
        val ids = novelSurvivorIds(batchSk.select(col("id")), pairs, dupIds)
        EmbedIngestSurvivors(
          incoming.join(ids.select(col("id").as(idCol)), Seq(idCol), "left_semi"),
          batchSk.join(ids, Seq("id"), "left_semi"))
    }
  }

  /** Corpus-level overlap estimation from mergeable MinHash sketches
    * (Broder 1997): each corpus's signature is the elementwise min of k
    * universal-hash values over its shingle set, so signatures merge across
    * partitions (and machines, and days) by elementwise min — the whole
    * 100 TB corpus reduces to k longs via map-side combine, ONE pass, no
    * shingle shuffle. P(min_A(i) = min_B(i)) = J(A, B), so the match
    * fraction estimates the shingle-Jaccard between the two corpora —
    * "how much does this crawl batch overlap last month's" without ever
    * joining them.
    *
    * The hash family is integer-portable: shingle → 32-bit md5-prefix v,
    * h_i(v) = (a_i·v + b_i) mod (2^31−1) with a_i = (i·2654435761 mod 2^30)+1,
    * b_i = i·40503 — products stay under 2^62, and a SQL engine reproduces
    * the SKETCH itself exactly, not just a tolerance band.
    *
    * Returns one row: (n_a, n_b, inter, union_n, matches, est_jaccard).
    * The exact intersection/union counts (one distinct-shingle shuffle,
    * gate-scale only; at 100 TB you run just the sketch) sit beside the
    * estimate as INTEGERS, and est = matches/k is exactly representable
    * for power-of-two k — no float rounding anywhere, so a SQL engine
    * hash-matches the whole row.
    */
  def corpusMinhashOverlap(df: DataFrame, idCol: String, textCol: String,
      inA: Column, shingleWords: Int = 3, k: Int = 64,
      withExact: Boolean = true): DataFrame = {
    val P = 2147483647L
    def aOf(i: Int): Long = (i.toLong * 2654435761L) % 1073741824L + 1L
    def bOf(i: Int): Long = i.toLong * 40503L
    // shingle + 32-bit md5-prefix in one codegen'd kernel (the SQL chain
    // split→transform/slice/array_join→md5→conv was the dominant cost)
    GraftFunctions.register(df.sparkSession)
    val shingles0 = df.select(inA.as("in_a"),
        explode(GraftFunctions.overlap_shingles(col(textCol), lit(shingleWords))).as("s"))
      .select(col("in_a"), col("s.sh").as("sh"), col("s.v").as("v"))
    require((k & (k - 1)) == 0, "k must be a power of two (exact est_jaccard)")
    val spark = df.sparkSession
    import spark.implicits._
    if (!withExact) {
      // sketch-only (the 100 TB path): ONE pass, map-side-combined mins,
      // no shingle shuffle — the corpus reduces to 2×k longs
      val minCols = (0 until k).map(i =>
        min((lit(aOf(i)) * col("v") + lit(bOf(i))) % P).as(s"m$i"))
      val sigRows = shingles0.groupBy(col("in_a"))
        .agg(minCols.head, minCols.tail: _*).collect()
      val sig = sigRows.map(r => r.getBoolean(0) ->
        (1 to k).map(r.getLong).toVector).toMap
      val matches =
        if (sig.size < 2) 0
        else sig(true).zip(sig(false)).count { case (x, y) => x == y }
      return Seq((matches.toLong, matches.toDouble / k))
        .toDF("matches", "est_jaccard")
    }
    // gate-scale exact check: dedupe shingles by side membership once, then
    // derive the per-side sketch mins AND the exact counts from that single
    // frame in ONE global aggregate (min over distinct shingles equals min
    // over occurrences — h_i depends only on v). One shuffle, one action,
    // no checkpoint, versus the previous materialize + two aggregations.
    val perShingle = shingles0.groupBy(col("sh"))
      .agg(max(when(col("in_a"), 1).otherwise(0)).as("a"),
        max(when(!col("in_a"), 1).otherwise(0)).as("b"),
        first(col("v")).as("v")) // v is a pure function of sh
    val hCols = (0 until k).flatMap { i =>
      val h = (lit(aOf(i)) * col("v") + lit(bOf(i))) % P
      Seq(min(when(col("a") === 1, h)).as(s"ma$i"),
        min(when(col("b") === 1, h)).as(s"mb$i"))
    }
    val aggCols = hCols ++ Seq(
      sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("inter"),
      count(lit(1)).as("union_n"),
      sum(col("a").cast("long")).as("n_a"), sum(col("b").cast("long")).as("n_b"))
    val row = perShingle.agg(aggCols.head, aggCols.tail: _*).head()
    val bothSides = !(0 until 2 * k).exists(row.isNullAt) // an all-null side = empty corpus half
    val matches =
      if (!bothSides) 0
      else (0 until k).count(i => row.getLong(2 * i) == row.getLong(2 * i + 1))
    Seq((row.getLong(2 * k + 2), row.getLong(2 * k + 3), row.getLong(2 * k),
      row.getLong(2 * k + 1), matches.toLong, matches.toDouble / k))
      .toDF("n_a", "n_b", "inter", "union_n", "matches", "est_jaccard")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    * embedding space, then prune semantic duplicates WITHIN each cluster —
    * a pair is a duplicate when cosine ≥ `minCosine`, and the lowest id of
    * each duplicate set survives (greedy by ascending id, i.e. the
    * lexicographically-first maximal independent set of the per-cluster
    * duplicate graph; the paper's keep-farthest-from-centroid tiebreak is
    * swapped for the deterministic min-id rule the other dedup families use).
    *
    * Scale shape: clustering bounds candidate generation — cosines are only
    * evaluated inside a cell, never across the corpus, so the quadratic term
    * is O(Σ cell²·dim) with E[cell] = n/k; pick k ∝ corpus size to hold the
    * cell population constant (the paper runs k = 50 000 at 5 B docs). All
    * corpus-sized work (Lloyd assignment + centroid update) is one map and
    * one partial-agg shuffle per iteration in [[Similarity.buildIvf]]; the
    * driver holds only the k×dim centroid matrix. A cell larger than
    * `maxClusterSize` greedy-prunes its first `maxClusterSize` members by id
    * and keeps the tail unconditionally — the same bounded-skew guard as
    * `maxBucketSize` above (recall degrades on the pathological cell;
    * nothing blows up).
    */
  def semDedupSurvivors(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, nClusters: Int, minCosine: Double = 0.95,
      iters: Int = 3, maxClusterSize: Int = 10000): DataFrame = {
    val keptIds = semDedupFlags(spark, df, idCol, vecCol, nClusters, minCosine,
      iters, maxClusterSize)
      .filter(col("kept")).select(col("id").as(idCol))
    df.join(keptIds, Seq(idCol), "left_semi")
  }

  /** Per-row SemDeDup verdicts: (id, cell, kept). Exposes the k-means cell
    * alongside the survive/drop decision so callers can audit the pruning
    * (every dropped row has an earlier-id kept row in its cell at
    * cosine ≥ τ; no two kept rows in a cell are within τ) without
    * re-running Lloyd — which matters because a recomputed clustering may
    * legally differ at float-sum order on boundary rows.
    */
  def semDedupFlags(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, nClusters: Int, minCosine: Double = 0.95,
      iters: Int = 3, maxClusterSize: Int = 10000): DataFrame = {
    import spark.implicits._
    val asg = Similarity.buildIvf(spark,
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      "id", "vec", nClusters, iters).assignments
    // Bounded-memory streaming greedy (the packGreedyIntact shape): shuffle
    // on cell, sort (cell, id) inside each partition, scan with running
    // state. A flatMapGroups would buffer the WHOLE cell to sort it — one
    // pathological cell then OOMs a task no matter what the cap says. Here
    // a task holds at most `maxClusterSize` kept unit vectors (the greedy
    // window); members past the cap stream through as unconditional keeps.
    asg.select(col("cell"), col("id"), col("vec"))
      .as[(Int, Long, Seq[Float])]
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("id"))
      .mapPartitions { rows =>
        var curCell = Int.MinValue
        var started = false
        var scanned = 0
        val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        rows.map { case (cell, id, v) =>
          if (!started || cell != curCell) {
            curCell = cell; started = true; scanned = 0; kept.clear()
          }
          if (scanned >= maxClusterSize) (id, cell, true)
          else {
            scanned += 1
            val a = v.toArray
            var n = 0.0; var i = 0
            while (i < a.length) { n += a(i).toDouble * a(i); i += 1 }
            val inv = if (n > 0) 1.0 / math.sqrt(n) else 0.0
            val u = new Array[Double](a.length)
            i = 0; while (i < a.length) { u(i) = a(i) * inv; i += 1 }
            val dup = kept.exists { k =>
              var d = 0.0; var j = 0
              while (j < k.length) { d += k(j) * u(j); j += 1 }
              d >= minCosine
            }
            if (!dup) kept += u
            (id, cell, !dup)
          }
        }
      }
      .toDF("id", "cell", "kept")
  }
}

package perfbench

/** The harness's own arithmetic: percentiles, tie-aware recall and span
  * self time. Pure functions, unit-tested in `StatsSpec`.
  */
object Stats {

  /** Nearest-rank percentile (`q` in [0, 1]) of `xs`: the smallest sample
    * with at least `q` of the samples at or below it. NaN when empty.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"percentile out of range: $q")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.max(1, math.ceil(q * s.length - 1e-9).toInt)
      s(rank - 1)
    }
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Similarity of the exact `k`-th best vector in `live` to `probe`
    * (the whole set's worst when it holds fewer than `k`).
    */
  def kthSimilarity(live: Iterable[Array[Float]], probe: Array[Float],
      k: Int): Double = {
    val heap = scala.collection.mutable.PriorityQueue.empty[Double](
      Ordering.Double.TotalOrdering.reverse)
    live.foreach { v =>
      val s = cosine(v, probe)
      if (heap.size < k) heap.enqueue(s)
      else if (s > heap.head) { heap.dequeue(); heap.enqueue(s) }
    }
    if (heap.isEmpty) Double.NaN else heap.head
  }

  /** Similarities closer than this count as tied. */
  val TieEps = 1e-6

  /** Tie-aware recall@k: the share of the `k` slots filled by a returned
    * id whose exact similarity is at least the exact `k`-th similarity.
    * With a small vocabulary many vectors tie, so any of the tied ids is
    * a correct answer, not only the ones an exact sort happens to list.
    * Ids absent from `live` (stale or unknown) never count.
    */
  def tieAwareRecall(returned: Seq[Long], live: collection.Map[Long, Array[Float]],
      probe: Array[Float], k: Int): Double = {
    val slots = math.min(k, live.size)
    if (slots == 0) return 1.0
    val kth = kthSimilarity(live.values, probe, k)
    val hits = returned.distinct.take(k).count(id =>
      live.get(id).exists(v => cosine(v, probe) >= kth - TieEps))
    hits.toDouble / slots
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval its
    * children cover (children clipped to the parent, overlaps counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}

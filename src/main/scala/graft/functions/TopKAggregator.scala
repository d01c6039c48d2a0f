package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-heap top-k as an Aggregator (SURVEY §4's "single-pass TopK with a
  * BoundedPriorityQueue aggregator", realized as a partial-agg-friendly
  * UDAF instead of a custom SparkStrategy).
  *
  * `groupBy(key).agg(topK(k))` keeps at most k (score, id) pairs per group
  * in every partial aggregate, so a grouped top-k never sorts a partition
  * and never holds more than k rows per key in memory — the window
  * formulation (`row_number().over(partitionBy(key).orderBy(score))`)
  * sorts every group fully before discarding all but k rows. At 100 TB with
  * hot keys, that is the difference between an O(n log k) streaming
  * aggregate and an O(n log n) per-key sort with spill.
  *
  * Returns pairs ordered by (score desc, id asc); merge is associative and
  * commutative, so map-side partial aggregation applies.
  */
class TopKByScore(k: Int)
    extends Aggregator[(Long, Double), List[(Long, Double)], List[(Long, Double)]] {
  require(k > 0, s"k must be positive, got $k")

  private val ord: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)] { case (id, score) => (-score, id) }

  override def zero: List[(Long, Double)] = Nil

  private def bounded(xs: List[(Long, Double)]): List[(Long, Double)] =
    xs.sorted(ord).take(k)

  override def reduce(buf: List[(Long, Double)], in: (Long, Double)): List[(Long, Double)] =
    // buf is kept sorted (zero/bounded/merge all return sorted lists), so a
    // full buffer whose worst element beats the input needs no re-sort —
    // the common case on a hot group is a single comparison, not O(k log k)
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && ord.lteq(buf.last, in)) buf
    else bounded(in :: buf)

  override def merge(a: List[(Long, Double)], b: List[(Long, Double)]): List[(Long, Double)] =
    bounded(a ::: b)

  override def finish(buf: List[(Long, Double)]): List[(Long, Double)] = buf.sorted(ord)

  override def bufferEncoder: Encoder[List[(Long, Double)]] = TopKByScore.encoder
  override def outputEncoder: Encoder[List[(Long, Double)]] = TopKByScore.encoder
}

object TopKByScore {
  /** Derived once per JVM. Spark asks an Aggregator for its encoders in
    * every task, and deriving one from a TypeTag runs Scala runtime
    * reflection through a mirror of the task thread's class loader, which
    * the reflection library holds only weakly: after each GC the next task
    * rebuilds it, scanning the classpath jars (≈100–280 ms added to the
    * first search after a GC on a 4-core local session).
    */
  private val encoder: Encoder[List[(Long, Double)]] =
    ExpressionEncoder[List[(Long, Double)]]()
}

/** [[TopKByScore]] for (token, count) pairs ordered by (count desc, token
  * asc) — the vocabulary-selection order. Lets a model trainer take its
  * top-V vocabulary IN THE SAME aggregate as corpus-level sums
  * (`agg(sum(c), topTokens(tok, c))`), replacing an agg action + a
  * TakeOrdered action with one job over the counts table.
  */
class TopTokensByCount(k: Int)
    extends Aggregator[(String, Long), List[(String, Long)], List[(String, Long)]] {
  require(k > 0, s"k must be positive, got $k")

  private val ord: Ordering[(String, Long)] =
    Ordering.by[(String, Long), (Long, String)] { case (tok, c) => (-c, tok) }

  override def zero: List[(String, Long)] = Nil

  private def bounded(xs: List[(String, Long)]): List[(String, Long)] =
    xs.sorted(ord).take(k)

  override def reduce(buf: List[(String, Long)], in: (String, Long)): List[(String, Long)] =
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && ord.lteq(buf.last, in)) buf
    else bounded(in :: buf)

  override def merge(a: List[(String, Long)], b: List[(String, Long)]): List[(String, Long)] =
    bounded(a ::: b)

  override def finish(buf: List[(String, Long)]): List[(String, Long)] = buf.sorted(ord)

  override def bufferEncoder: Encoder[List[(String, Long)]] = TopTokensByCount.encoder
  override def outputEncoder: Encoder[List[(String, Long)]] = TopTokensByCount.encoder
}

object TopTokensByCount {
  /** Derived once per JVM, as [[TopKByScore]]'s. */
  private val encoder: Encoder[List[(String, Long)]] =
    ExpressionEncoder[List[(String, Long)]]()
}

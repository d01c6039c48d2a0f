package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAFs (SURVEY §2.12): order-preserving capped distinct (A5) and the
  * usage/cost accumulator (A9). Both are associative+commutative because the
  * buffer carries enough ordering information (min position per key), so
  * results are deterministic regardless of partition merge order — the
  * property that makes them safe at any parallelism.
  */
object Aggregators {

  /** A5: first-occurrence-ordered distinct values, capped at `cap`
    * (ACL dedup+truncate, jobs/blob_storage_indexer.py:1479-1508).
    * Input: (position, value); output: values ordered by first position.
    */
  final case class PosVal(pos: Long, value: String)

  class OrderedCappedDistinct(cap: Int)
      extends Aggregator[PosVal, Map[String, Long], Seq[String]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], a: PosVal): Map[String, Long] = {
      val cur = b.getOrElse(a.value, Long.MaxValue)
      if (a.pos < cur) b + (a.value -> a.pos) else b
    }
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      y.foldLeft(x) { case (acc, (v, p)) =>
        val cur = acc.getOrElse(v, Long.MaxValue)
        if (p < cur) acc + (v -> p) else acc
      }
    override def finish(b: Map[String, Long]): Seq[String] =
      b.toSeq.sortBy { case (v, p) => (p, v) }.take(cap).map(_._1)
    override def bufferEncoder: Encoder[Map[String, Long]] = firstPositionsEncoder
    override def outputEncoder: Encoder[Seq[String]] = valuesEncoder
  }

  /** A9/X18: usage+cost accumulation across items
    * (tools/aoai.py:48-58; cost calc jobs/blob_storage_indexer.py:645-653).
    */
  final case class Usage(pages: Long, embedTokens: Long, complInTokens: Long,
      complOutTokens: Long)
  final case class CostReport(pages: Long, embedTokens: Long, complInTokens: Long,
      complOutTokens: Long, costUsd: Double)

  final case class CostRates(
      perPage: Double = 0.01,
      per1kEmbedTokens: Double = 0.00013,
      per1kComplIn: Double = 0.0025,
      per1kComplOut: Double = 0.01)

  class CostAccumulator(rates: CostRates = CostRates())
      extends Aggregator[Usage, Usage, CostReport] {
    override def zero: Usage = Usage(0, 0, 0, 0)
    override def reduce(b: Usage, a: Usage): Usage = merge(b, a)
    override def merge(x: Usage, y: Usage): Usage = Usage(
      x.pages + y.pages, x.embedTokens + y.embedTokens,
      x.complInTokens + y.complInTokens, x.complOutTokens + y.complOutTokens)
    override def finish(b: Usage): CostReport = CostReport(
      b.pages, b.embedTokens, b.complInTokens, b.complOutTokens,
      b.pages * rates.perPage +
        b.embedTokens / 1000.0 * rates.per1kEmbedTokens +
        b.complInTokens / 1000.0 * rates.per1kComplIn +
        b.complOutTokens / 1000.0 * rates.per1kComplOut)
    override def bufferEncoder: Encoder[Usage] = usageEncoder
    override def outputEncoder: Encoder[CostReport] = costReportEncoder
  }

  // Derived once per JVM rather than in every task, for the reason given
  // at graft.functions.TopKByScore's encoder.
  private val firstPositionsEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  private val valuesEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  private val usageEncoder: Encoder[Usage] = Encoders.product[Usage]
  private val costReportEncoder: Encoder[CostReport] = Encoders.product[CostReport]
}

package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class AggregatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("OrderedCappedDistinct: first-occurrence order, cap, dedup (A5)") {
    import spark.implicits._
    val data = Seq(
      (10L, "b"), (11L, "a"), (12L, "b"), (13L, "c"), (14L, "a"), (15L, "d")
    ).map { case (p, v) => Aggregators.PosVal(p, v) }.toDS()
      // force multiple partitions so merge order is exercised
      .repartition(4)
    val agg = new Aggregators.OrderedCappedDistinct(3).toColumn
    val out = data.select(agg).head()
    assert(out == Seq("b", "a", "c")) // first occurrences at 10, 11, 13; capped to 3
  }

  test("OrderedCappedDistinct is merge-order independent") {
    import spark.implicits._
    val vals = (1 to 100).map(i => Aggregators.PosVal(i.toLong, s"v${i % 40}"))
    val a = vals.toDS().repartition(1)
      .select(new Aggregators.OrderedCappedDistinct(32).toColumn).head()
    val b = vals.reverse.toDS().repartition(7)
      .select(new Aggregators.OrderedCappedDistinct(32).toColumn).head()
    assert(a == b)
    assert(a.size == 32)
    assert(a.head == "v1")
  }

  test("CostAccumulator sums usage and prices it (A9/X18)") {
    import spark.implicits._
    val usage = Seq(
      Aggregators.Usage(10, 5000, 1000, 200),
      Aggregators.Usage(2, 1000, 0, 0)
    ).toDS()
    val rep = usage.select(new Aggregators.CostAccumulator().toColumn).head()
    assert(rep.pages == 12 && rep.embedTokens == 6000)
    val expected = 12 * 0.01 + 6.0 * 0.00013 + 1.0 * 0.0025 + 0.2 * 0.01
    assert(math.abs(rep.costUsd - expected) < 1e-12)
  }

  test("typed aggregators reuse one encoder per type across instances") {
    // Spark asks for the encoders in every task; deriving them there runs
    // Scala reflection whose class-loader mirror a GC can drop
    assert(new TopKByScore(3).outputEncoder eq new TopKByScore(10).bufferEncoder)
    assert(new TopTokensByCount(3).outputEncoder eq new TopTokensByCount(7).bufferEncoder)
    val distinct = (new Aggregators.OrderedCappedDistinct(3), new Aggregators.OrderedCappedDistinct(9))
    assert(distinct._1.bufferEncoder eq distinct._2.bufferEncoder)
    assert(distinct._1.outputEncoder eq distinct._2.outputEncoder)
    val cost = (new Aggregators.CostAccumulator(), new Aggregators.CostAccumulator())
    assert(cost._1.bufferEncoder eq cost._2.bufferEncoder)
    assert(cost._1.outputEncoder eq cost._2.outputEncoder)
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.91) == 10.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile(Nil, 0.5).isNaN)
  }

  test("p90 of 100 samples leaves ten above it") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val p90 = Stats.percentile(xs, 0.9)
    assert(p90 == 90.0 && xs.count(_ > p90) == 10)
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Nil).isNaN)
  }

  private def v(xs: Float*): Array[Float] = xs.toArray

  test("tie-aware recall counts any id tied with the exact k-th similarity") {
    // ids 1-3 are identical to the probe, id 4 is orthogonal
    val live = Map(1L -> v(1, 0), 2L -> v(1, 0), 3L -> v(2, 0), 4L -> v(0, 1))
    val probe = v(1, 0)
    // k = 2: the exact top-2 has similarity 1.0, and three ids tie at it
    assert(Stats.tieAwareRecall(Seq(3L, 2L), live, probe, 2) == 1.0)
    assert(Stats.tieAwareRecall(Seq(1L, 4L), live, probe, 2) == 0.5)
    assert(Stats.tieAwareRecall(Seq(4L), live, probe, 2) == 0.0)
  }

  test("tie-aware recall ignores duplicates and unknown ids") {
    val live = Map(1L -> v(1, 0), 2L -> v(0.9f, 0.1f), 3L -> v(0, 1))
    val probe = v(1, 0)
    assert(Stats.tieAwareRecall(Seq(1L, 1L), live, probe, 2) == 0.5)
    assert(Stats.tieAwareRecall(Seq(99L, 1L), live, probe, 2) == 0.5)
    assert(Stats.tieAwareRecall(Seq(1L, 2L), live, probe, 2) == 1.0)
  }

  test("tie-aware recall over fewer live vectors than k") {
    val live = Map(1L -> v(1, 0), 2L -> v(0, 1))
    assert(Stats.tieAwareRecall(Seq(2L, 1L), live, v(1, 0), 10) == 1.0)
    assert(Stats.tieAwareRecall(Seq(1L), live, v(1, 0), 10) == 0.5)
    assert(Stats.tieAwareRecall(Nil, Map.empty, v(1, 0), 10) == 1.0)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 30L), (5L, 10L), (12L, 14L))) == 30L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time is duration minus the children's clipped, merged cover") {
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (50L, 60L))) == 70L)
    // overlapping children count once
    assert(Stats.selfTime(0L, 100L, Seq((10L, 40L), (30L, 50L))) == 60L)
    // children are clipped to the parent
    assert(Stats.selfTime(10L, 20L, Seq((0L, 15L), (18L, 40L))) == 3L)
  }

  test("a span tree's self times sum to the root's duration") {
    // root [0,100) with children [10,40) and [50,90); [50,90) has child [60,70)
    val root = Stats.selfTime(0L, 100L, Seq((10L, 40L), (50L, 90L)))
    val a = Stats.selfTime(10L, 40L, Nil)
    val b = Stats.selfTime(50L, 90L, Seq((60L, 70L)))
    val c = Stats.selfTime(60L, 70L, Nil)
    assert(root + a + b + c == 100L)
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the r20 driver-side survivor fast path (Dedup.novelDropIds) to the
  * distributed shape (Dedup.novelSurvivorIds) it replaces in the ingest
  * gates: same survivors on every cluster topology the rule
  * distinguishes — isolated ids, chains, index-touched clusters, isolated
  * index-matched ids — plus the overflow fallback contract.
  */
class IngestSurvivorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def idsDf(xs: Long*) = {
    import spark.implicits._
    xs.toDF("id")
  }
  private def pairsDf(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.toDF("id_a", "id_b")
  }

  /** Survivors via the driver fast path: batch ids minus the drop set. */
  private def viaDriver(ids: Seq[Long], pairs: Seq[(Long, Long)],
      dups: Seq[Long]): Set[Long] = {
    val drop = Dedup.novelDropIds(pairsDf(pairs: _*), idsDf(dups: _*))
      .getOrElse(fail("fast path must engage under the cap")).toSet
    ids.filterNot(drop).toSet
  }

  private def viaDistributed(ids: Seq[Long], pairs: Seq[(Long, Long)],
      dups: Seq[Long]): Set[Long] =
    Dedup.novelSurvivorIds(idsDf(ids: _*), pairsDf(pairs: _*),
        idsDf(dups: _*))
      .collect().map(_.getLong(0)).toSet

  test("driver drop set = distributed survivor rule on mixed topologies") {
    // ids: 1..10; clusters {1,2,3} (chain), {4,5}, isolated 6..10
    // dups: 4 (touches {4,5}), 7 (isolated index match)
    val ids = (1L to 10L)
    val pairs = Seq(1L -> 2L, 2L -> 3L, 4L -> 5L)
    val dups = Seq(4L, 7L)
    val a = viaDriver(ids, pairs, dups)
    val b = viaDistributed(ids, pairs, dups)
    assert(a == b)
    // the rule, spelled out: {1,2,3} keeps min-id 1; {4,5} touched → all
    // drop; isolated 7 matched → drops; 6,8,9,10 survive
    assert(a == Set(1L, 6L, 8L, 9L, 10L))
  }

  test("no pairs, no dups: everything survives (both paths)") {
    val ids = Seq(3L, 1L, 9L)
    assert(viaDriver(ids, Nil, Nil) == ids.toSet)
    assert(viaDistributed(ids, Nil, Nil) == ids.toSet)
  }

  test("dup on a cluster's non-rep member still drops the whole cluster") {
    val ids = Seq(1L, 2L, 3L)
    val pairs = Seq(1L -> 2L)
    val dups = Seq(2L) // non-rep member of {1,2}
    val a = viaDriver(ids, pairs, dups)
    assert(a == viaDistributed(ids, pairs, dups))
    assert(a == Set(3L))
  }

  test("duplicate pairs and duplicate dup ids are absorbed") {
    val ids = Seq(1L, 2L, 3L, 4L)
    val pairs = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L)
    val dups = Seq(3L, 3L, 3L)
    val a = viaDriver(ids, pairs, dups)
    assert(a == viaDistributed(ids, pairs, dups))
    assert(a == Set(1L, 4L))
  }

  test("null ids in pairs and dups are skipped; a repeated dup id collects once") {
    import spark.implicits._
    val ids = 1L to 6L
    // {1,2} a cluster; the pairs with a null end connect nothing; {5,6}
    // touched by dup 5, which arrives twice beside a null
    val pairs = Seq[(Option[Long], Option[Long])](Some(1L) -> Some(2L),
      None -> Some(3L), Some(4L) -> None, Some(5L) -> Some(6L)).toDF("id_a", "id_b")
    val dups = Seq[Option[Long]](Some(5L), None, Some(5L)).toDF("id")
    val drop = Dedup.novelDropIds(pairs, dups)
      .getOrElse(fail("fast path must engage under the cap")).toSet
    val viaDriver = ids.filterNot(drop).toSet
    val viaDistributed = Dedup.novelSurvivorIds(idsDf(ids: _*), pairs, dups)
      .collect().map(_.getLong(0)).toSet
    assert(viaDriver == viaDistributed)
    assert(viaDriver == Set(1L, 3L, 4L))
  }

  test("overflow cap returns None — the caller falls back distributed") {
    assert(Dedup.novelDropIds(pairsDf(1L -> 2L, 3L -> 4L), idsDf(),
      driverEdgeCap = 1L).isEmpty)
  }

  test("gate-level equivalence: WithSigs survivors unchanged by the fast path") {
    // the end-to-end gate (IngestNearDupSpec covers semantics); here the
    // same call at a cap of 0 — forcing the distributed path via a tiny
    // maxResultSize is not isolatable in a shared session, so this pins
    // the two helper paths on the gate's own pair/dup shapes instead
    val ids = (1L to 6L)
    val pairs = Seq(1L -> 4L, 4L -> 6L)
    val dups = Seq(2L)
    assert(viaDriver(ids, pairs, dups) == viaDistributed(ids, pairs, dups))
  }
}

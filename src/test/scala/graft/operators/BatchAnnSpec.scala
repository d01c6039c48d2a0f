package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Batch IVF search: per-probe row-identity with the single-probe path,
  * no cartesian surface in the candidate join, rank contract.
  */
class BatchAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
  private lazy val index = {
    graft.functions.GraftFunctions.register(spark)
    Similarity.buildIvf(spark, emb, "vec_id", "embedding", nCells = 16, iters = 2)
  }

  test("batch results are row-identical to the single-probe path") {
    val qids = (0L until 12L)
    val probes = emb.filter($"vec_id" < 12)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val batch = Similarity.searchIvfBatch(index, probes, "probe_id",
        "probe_vec", nprobe = 4, k = 7)
      .select($"probe_id", $"id", round($"sim", 6).as("sim"), $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val singles = qids.flatMap { q =>
      val p = emb.filter($"vec_id" === q)
        .select($"embedding").head().getSeq[Float](0).toArray
      Similarity.searchIvf(index, p, nprobe = 4, k = 7)
        .select($"id", round($"sim", 6).as("sim"))
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(batch.length == singles.length)
    assert(batch.sameElements(singles))
  }

  test("candidate join is an equi-join on cell — no cartesian surface") {
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val plan = Similarity.searchIvfBatch(index, probes, "probe_id",
      "probe_vec", nprobe = 4, k = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"batch ANN must join on cell, not cross:\n$plan")
  }

  test("persisted batch search: partition-pruned scan, row-identical to per-probe") {
    import org.apache.spark.sql.execution.FormattedMode
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfbatch")
    try {
      Similarity.writeIvf(index, dir.toString)
      val probes = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
      val batch = Similarity.searchIvfPartitionedBatch(spark, dir.toString,
        probes, "probe_id", "probe_vec", nprobe = 3, k = 6)
      // the union of probed cells must land in PartitionFilters
      val p = batch.queryExecution.explainString(FormattedMode)
      val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
      assert(pf.contains("cell") && pf.contains(" IN "),
        "probed-cell union not pushed to PartitionFilters:\n" + p.take(2000))
      // row-identical to the per-probe persisted path
      val got = batch.select($"probe_id", $"id", round($"sim", 6).as("sim"), $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      val want = (0L until 8L).flatMap { q =>
        val pv = emb.filter($"vec_id" === q)
          .select($"embedding").head().getSeq[Float](0).toArray
        Similarity.searchIvfPartitioned(spark, dir.toString, pv, nprobe = 3, k = 6)
          .select($"id", round($"sim", 6).as("sim"))
          .collect().zipWithIndex
          .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), i + 1) }
      }.sortBy(t => (t._1, t._4))
      assert(got.sameElements(want))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("lsh batch search is row-identical to the single-probe path") {
    graft.functions.GraftFunctions.register(spark)
    val probes = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val batch = Similarity.lshSearchBatch(emb, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 6)
      .select($"probe_id", $"id", round($"sim", 6).as("sim"), $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val singles = (0L until 8L).flatMap { q =>
      val pv = emb.filter($"vec_id" === q)
        .select($"embedding").head().getSeq[Float](0).toArray
      Similarity.lshSearch(emb, "vec_id", "embedding", pv, k = 6)
        .select($"id", round($"sim", 6).as("sim"))
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(batch.length == singles.length)
    assert(batch.sameElements(singles))
  }

  test("pq batch: a saturated ADC-table cache still scores identically") {
    // maxCachedTables = 1 forces a cache clear on nearly every probe
    // switch within a task (the r11 bulk-clear bound); scores must be
    // bit-identical to the unconstrained run
    val pq = Similarity.buildIvfPq(spark, emb, "vec_id", "embedding",
      nCells = 8, subspaces = 8, codesPerSub = 16, ivfIters = 2, pqIters = 2)
    val probes = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    def run(cap: Int) =
      Similarity.searchIvfPqBatch(spark, pq, emb, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", nprobe = 3, k = 5,
          maxCachedTables = cap)
        .select($"probe_id", $"id", round($"sim", 6).as("sim"), $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val base = run(8192)
    assert(base.nonEmpty)
    assert(run(1) == base)
  }

  test("ranks are dense 1..k per probe; sims non-increasing") {
    val probes = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val rows = Similarity.searchIvfBatch(index, probes, "probe_id",
        "probe_vec", nprobe = 4, k = 9)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rs.length).toSeq, s"probe $q ranks")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._2 >= b._2
        case _ => true
      }, s"probe $q sims must be non-increasing")
    }
  }
}

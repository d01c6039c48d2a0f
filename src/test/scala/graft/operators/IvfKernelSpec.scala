package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions

/** The dense k-means kernels: [[Similarity.groupedMeans]] and the
  * `nearest_cell_f32` assignment. The row-exploding formulation they
  * replaced (`posexplode → groupBy(key, pos) → avg` and a boxed
  * nearest-centroid UDF) is kept here only, as the reference every
  * trained artifact must equal bit for bit; plus the nearest-centroid
  * rule at its edges (a NaN vector, a null vector) and the shape of one
  * k-means iteration.
  */
class IvfKernelSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  /** 1-d points whose Lloyd run empties cell 0 in its second iteration:
    * cell 0 = {0, 4} moves to 2, where 0 is nearer cell 1 (−1) and 4 is
    * nearer cell 2 (5.8).
    */
  private def emptiesCell0 = Seq(0L -> 0f, 1L -> -1f, 2L -> 8.5f, 3L -> 4f,
    4L -> 4.4f, 5L -> 4.5f).map { case (id, x) => (id, Array(x, 0f)) }
    .toDF("id", "vec")

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("a cell that empties out is dropped from the centroids") {
    val ivf = Similarity.buildIvf(spark, emptiesCell0, "id", "vec", nCells = 3, iters = 2)
    assert(ivf.centroids.map(_._1).toSeq == Seq(1, 2))
    assert(ivf.assignments.select($"cell").distinct().as[Int].collect().sorted.toSeq
      == Seq(1, 2))
  }

  test("a NaN vector is appended to the first centroid's cell, not to a dropped cell 0") {
    val dir = Files.createTempDirectory("graft-ivf-nan").toString
    val ivf = Similarity.buildIvf(spark, emptiesCell0, "id", "vec", nCells = 3, iters = 2)
    Similarity.writeIvf(ivf, dir)
    Similarity.appendToIvf(spark, dir,
      Seq((9L, Array(Float.NaN, 0f))).toDF("id", "vec"), "id", "vec")
    val cell = spark.read.parquet(s"$dir/assignments").filter($"id" === 9L)
      .select($"cell").as[Int].collect().toSeq
    assert(cell == Seq(ivf.centroids.head._1))
  }

  test("a null vector is refused with an IllegalArgumentException naming the column") {
    val withNull = emptiesCell0.union(
      Seq((7L, null: Array[Float])).toDF("id", "vec"))
      .withColumnRenamed("vec", "embedding")
    val e = intercept[Exception] {
      Similarity.buildIvf(spark, withNull, "id", "embedding", nCells = 3, iters = 2)
        .assignments.collect()
    }
    val iae = causes(e).collectFirst { case x: IllegalArgumentException => x }
    assert(iae.exists(_.getMessage.contains("embedding")), causes(e).toList)
  }

  // ---- the reference: the posexplode/avg formulation

  private def refAssign(spark: SparkSession, cs: Array[(Int, Array[Float])]) =
    udf((v: Seq[Float]) => {
      var best = 0; var bestD = Double.MaxValue
      for ((ci, c) <- cs) {
        var d = 0.0; var i = 0
        while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = ci }
      }
      best
    })

  private def refBuildIvf(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iters: Int): Similarity.IvfIndex = {
    val data = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint(true)
    var centroids: Array[(Int, Array[Float])] = data
      .orderBy(col("id")).limit(nCells).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
    for (_ <- 1 to iters) {
      val means = data.withColumn("cell", refAssign(spark, centroids)(col("vec")))
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      if (means.nonEmpty) {
        val dim = means.iterator.map(_.getInt(1)).max + 1
        centroids = means.groupBy(_.getInt(0)).toArray.map { case (cell, rows) =>
          val c = new Array[Float](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
          (cell, c)
        }.sortBy(_._1)
      }
    }
    Similarity.IvfIndex(centroids,
      data.withColumn("cell", refAssign(spark, centroids)(col("vec"))))
  }

  private def refTrainPq(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, subspaces: Int, codesPerSub: Int, iters: Int,
      normalize: Boolean): Similarity.PqCodebook = {
    val prep: Seq[Float] => Array[Float] =
      if (normalize) Similarity.l2unit else (v => v.toArray)
    val prepUdf = udf((v: Seq[Float]) => prep(v))
    val dim = corpus.select(col(vecCol)).head().getSeq[Float](0).length
    val subDim = dim / subspaces
    val subsUdf = udf((v: Seq[Float]) => {
      val u = prep(v)
      (0 until subspaces).map(sc => u.slice(sc * subDim, (sc + 1) * subDim).toSeq)
    })
    val subRows = corpus
      .select(col(idCol).as("id"), posexplode(subsUdf(col(vecCol))).as(Seq("sub", "subvec")))
      .localCheckpoint(true)
    var book: Array[Array[Array[Float]]] = {
      val init = corpus.orderBy(col(idCol)).limit(codesPerSub)
        .select(prepUdf(col(vecCol))).collect().map(_.getSeq[Float](0).toArray)
      Array.tabulate(subspaces, init.length)((sc, c) =>
        init(c).slice(sc * subDim, (sc + 1) * subDim))
    }
    for (_ <- 1 to iters) {
      val b = book
      val assign = udf((sub: Int, v: Seq[Float]) => {
        val cs = b(sub); var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var d = 0.0; var i = 0
          while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      })
      val means = subRows
        .withColumn("code", assign(col("sub"), col("subvec")))
        .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      val next = book.map(_.map(_.clone()))
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat)
      book = next
    }
    Similarity.PqCodebook(subspaces, book.head.head.length, book)
  }

  /** Per-key means the reference way, positions missing from a key absent. */
  private def refMeans(frame: DataFrame): Map[Int, Map[Int, Float]] =
    frame.toDF("k", "v").select(col("k"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("k"), col("pos")).agg(avg(col("x")).as("m"))
      .collect().groupBy(_.getInt(0)).map { case (k, rows) =>
        k -> rows.map(r => r.getInt(1) -> r.getDouble(2).toFloat).toMap
      }

  // ---- the data: at least 3 input partitions

  private def bits(v: Array[Float]): Seq[Int] = v.toSeq.map(java.lang.Float.floatToRawIntBits)
  private def bitsOf(cs: Array[(Int, Array[Float])]): Seq[(Int, Seq[Int])] =
    cs.toSeq.map { case (c, v) => (c, bits(v)) }
  private def cellsOf(df: DataFrame): Map[Long, Int] =
    df.select(col("id").cast("long"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The test embeddings spread over `parts` partitions in id order. */
  private def embIn(parts: Int): DataFrame = {
    val rows = graft.Tables.load(spark, graft.TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect().sortBy(_.getLong(0)).toSeq
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    assert(df.rdd.getNumPartitions == parts)
    df
  }

  /** A frame whose means depend on the order the partials are added in:
    * key 1's position 0 holds 1e20 in partition 0, −1e20 in partition 1
    * and 1 in partition 2, so (1e20 − 1e20) + 1 = 1 while any other order
    * loses the 1. It also holds null vectors, null elements, a key in one
    * partition only and vectors of different lengths.
    */
  private lazy val orderSensitive: DataFrame = {
    val rows = Seq(
      Seq(Row(1, Array[java.lang.Float](1e20f, 2f)), Row(2, Array[java.lang.Float](0.1f)),
        Row(1, null)),
      Seq(Row(1, Array[java.lang.Float](-1e20f, 3f, 7f)), Row(2, Array[java.lang.Float](null, 0.2f)),
        Row(3, Array[java.lang.Float](5f))),
      Seq(Row(1, Array[java.lang.Float](1f, null)), Row(2, Array[java.lang.Float](0.3f, 0.7f))))
    val rdd = spark.sparkContext.parallelize(rows, rows.length).flatMap(identity)
    spark.createDataFrame(rdd, StructType(Seq(StructField("k", IntegerType),
      StructField("v", ArrayType(FloatType, containsNull = true)))))
  }

  test("groupedMeans equals posexplode/avg bitwise, in partition order, over 3 partitions") {
    val got = Similarity.groupedMeans(orderSensitive)
    val want = refMeans(orderSensitive)
    assert(got.keySet == want.keySet)
    for ((k, m) <- want; (pos, x) <- m)
      assert(java.lang.Float.floatToRawIntBits(got(k)(pos)) ==
        java.lang.Float.floatToRawIntBits(x), s"key $k pos $pos: ${got(k)(pos)} vs $x")
    // (1e20 − 1e20) + 1 over 3 rows; any other order sums to 0
    assert(got(1)(0) == (1.0 / 3).toFloat, "the partials are added in partition order")
    assert(got.map { case (k, m) => k -> m.length } == Map(1 -> 3, 2 -> 2, 3 -> 1))
  }

  test("buildIvf centroids and assignments equal the reference bitwise") {
    val emb = embIn(4)
    for ((nCells, iters) <- Seq(8 -> 3, 16 -> 2, 5 -> 0)) {
      val got = Similarity.buildIvf(spark, emb, "vec_id", "embedding", nCells, iters)
      val want = refBuildIvf(spark, emb, "vec_id", "embedding", nCells, iters)
      assert(bitsOf(got.centroids) == bitsOf(want.centroids), s"nCells=$nCells iters=$iters")
      assert(cellsOf(got.assignments) == cellsOf(want.assignments), s"nCells=$nCells iters=$iters")
    }
  }

  test("buildIvf equals the reference when a cell empties and with fewer rows than cells") {
    val emptying = emptiesCell0.repartition(3, col("id"))
    val few = emptiesCell0.filter(col("id") < 4L).repartition(3, col("id"))
    for ((df, nCells) <- Seq(emptying -> 3, few -> 8)) {
      val got = Similarity.buildIvf(spark, df, "id", "vec", nCells, iters = 3)
      val want = refBuildIvf(spark, df, "id", "vec", nCells, iters = 3)
      assert(bitsOf(got.centroids) == bitsOf(want.centroids))
      assert(cellsOf(got.assignments) == cellsOf(want.assignments))
    }
  }

  test("the trainPq codebook equals the reference bitwise") {
    val emb = embIn(3)
    for (normalize <- Seq(true, false)) {
      val got = Similarity.trainPq(spark, emb, "vec_id", "embedding", subspaces = 8,
        codesPerSub = 16, iters = 3, normalize = normalize)
      val want = refTrainPq(spark, emb, "vec_id", "embedding", subspaces = 8,
        codesPerSub = 16, iters = 3, normalize = normalize)
      assert(got.subDim == want.subDim)
      assert(got.centroids.map(_.map(c => bits(c))).toSeq.map(_.toSeq) ==
        want.centroids.map(_.map(c => bits(c))).toSeq.map(_.toSeq), s"normalize=$normalize")
    }
  }

  test("a trainPq code that captures no rows keeps its centroid, as the reference does") {
    // 4 rows but 6 codes: init takes the 4 rows, codes 4 and 5 do not
    // exist; duplicate rows leave code 1 empty after the first iteration
    val rows = Seq(0L -> Array(1f, 0f, 0f, 1f), 1L -> Array(1f, 0f, 0f, 1f),
      2L -> Array(0f, 1f, 1f, 0f), 3L -> Array(0.5f, 0.5f, 0.2f, 0.9f))
    val df = rows.toDF("id", "vec").repartition(3, col("id"))
    val got = Similarity.trainPq(spark, df, "id", "vec", 2, 6, 2, normalize = true)
    val want = refTrainPq(spark, df, "id", "vec", 2, 6, 2, normalize = true)
    assert(got.centroids.map(_.map(c => bits(c)).toSeq).toSeq ==
      want.centroids.map(_.map(c => bits(c)).toSeq).toSeq)
    assert(bits(got.centroids(0)(1)) == bits(rows(1)._2.take(2).map(x =>
      (x / math.sqrt(2.0)).toFloat)), "code 1 kept its init centroid")
  }

  test("quantizeBinary means equal the reference bitwise") {
    val emb = embIn(5)
    val want = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x")).as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1).toFloat)
    assert(bits(Similarity.quantizeBinary(emb, "vec_id", "embedding").means) == bits(want))
    val v = orderSensitive.filter(col("k") === 1).select(col("k").cast("long"), col("v"))
    val ref = refMeans(orderSensitive.filter(col("k") === 1))(1)
    val got = Similarity.quantizeBinary(v.toDF("id", "v"), "id", "v").means
    assert(bits(got) == bits(Array.tabulate(ref.size)(ref)))
  }

  // ---- the shape of one k-means iteration

  test("a k-means iteration is one job of one stage that shuffles nothing") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val emb = embIn(4)
    def jobsOf(iters: Int): (Seq[Seq[Int]], Map[Int, Long]) = {
      val tag = java.util.UUID.randomUUID().toString
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
      val shuffle = new java.util.concurrent.ConcurrentHashMap[Int, Long]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.test.jobs") == tag)
            jobs.add(e.stageIds)
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m != null) shuffle.put(e.stageInfo.stageId,
            m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        }
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty("graft.test.jobs", tag)
      try {
        Similarity.buildIvf(spark, emb, "vec_id", "embedding", nCells = 8, iters = iters)
        graft.ListenerDrain.drain(spark)
        (jobs.asScala.toSeq, shuffle.asScala.toMap)
      } finally {
        sc.setLocalProperty("graft.test.jobs", null)
        sc.removeSparkListener(listener)
      }
    }
    val (base, _) = jobsOf(0)
    val (trained, shuffled) = jobsOf(3)
    assert(trained.size - base.size == 3, s"one job per iteration: $base vs $trained")
    val iterations = trained.takeRight(3)
    assert(iterations.forall(_.size == 1), s"one stage per iteration job: $iterations")
    assert(iterations.flatten.map(shuffled.getOrElse(_, -1L)).forall(_ == 0L),
      s"no shuffle bytes: ${iterations.flatten.map(shuffled.get)}")
  }

  test("nearest_cell_f32 from SQL: first strictly smaller distance, NaN to the first id") {
    GraftFunctions.register(spark)
    val got = spark.sql("""SELECT nearest_cell_f32(v, array(7, 3, 5),
        array(array(0f, 0f), array(1f, 1f), array(1f, 1f)), 'v') AS c
      FROM VALUES (array(0.9f, 1.2f)), (array(0.1f, -0.1f)), (array(float('NaN'), 0f)) AS t(v)""")
      .as[Int].collect().toSeq
    assert(got == Seq(3, 7, 7))
  }
}

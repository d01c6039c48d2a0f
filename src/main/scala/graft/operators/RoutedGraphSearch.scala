package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** One data file of a probed cell, listed when the search is built. */
final case class CellFile(cell: Int, path: String, length: Long,
    modificationTime: Long)

/** The arguments of one routed graph search over a persisted cells
  * directory, fixed on the driver before planning: the probed cells'
  * files, the probes routed to each cell (unit vectors), the beam
  * parameters, the sorted tombstone ids and the job description.
  * `reader` is a cells reader built earlier under the same session and
  * settings ([[RoutedGraphSearchExec.cellsReader]]); without one the
  * search builds its own.
  */
final case class RoutedGraphSearchSpec(files: Seq[CellFile],
    routes: Map[Int, Array[(Long, Array[Float])]], k: Int, ef: Int,
    tombstones: Option[Array[Long]], description: String,
    reader: Option[PartitionedFile => Iterator[InternalRow]] = None) {
  /** Summary for plan strings: the arrays are never printed. */
  def summary: Seq[String] = Seq(s"cells=${files.map(_.cell).distinct.size}",
    s"files=${files.size}", s"probes=${routes.values.flatten.map(_._1).toSet.size}",
    s"k=$k", s"ef=$ef", s"tombstones=${tombstones.fold(0)(_.length)}")
}

/** Logical leaf of [[GraphAnn.searchGraphRoutedPersisted]]'s unfiltered
  * path: output (probe_id, id, sim, rank), planned only by
  * [[RoutedGraphSearchStrategy]].
  */
final case class RoutedGraphSearch(spec: RoutedGraphSearchSpec,
    output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan =
    copy(output = output.map(_.newInstance()))
  // at most k rows per probe of ≤ 4 fixed-width columns
  override def computeStats(): Statistics = Statistics(sizeInBytes =
    BigInt(math.max(1, spec.routes.values.map(_.length).sum) * spec.k * 32L))
  override protected def stringArgs: Iterator[Any] = spec.summary.iterator
}

object RoutedGraphSearch {
  /** The search as a lazy DataFrame of (probe_id, id, sim, rank). Refuses
    * a session whose planner lacks [[RoutedGraphSearchStrategy]] rather
    * than leave Spark to fail with a bare "No plan for" at the action.
    */
  def toDF(spark: SparkSession, spec: RoutedGraphSearchSpec): DataFrame = {
    if (!RoutedGraphSearchStrategy.installedIn(spark))
      throw new IllegalStateException("persisted routed graph search is " +
        "planned by graft's RoutedGraphSearchStrategy, which this session " +
        "lacks: build it with spark.sql.extensions=graft.GraftExtensions " +
        "(graft.Tables.configure installs it)")
    val plan = RoutedGraphSearch(spec, Seq(
      AttributeReference("probe_id", LongType, nullable = false)(),
      AttributeReference("id", LongType)(),
      AttributeReference("sim", DoubleType)(),
      AttributeReference("rank", IntegerType, nullable = false)()))
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
      Encoders.row(plan.schema))
  }
}

/** Plans [[RoutedGraphSearch]]; [[graft.GraftExtensions]] injects it. */
object RoutedGraphSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RoutedGraphSearch(spec, output) => RoutedGraphSearchExec(spec, output) :: Nil
    case _ => Nil
  }

  /** Does `spark`'s planner carry this strategy? */
  def installedIn(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.contains(this)
}

/** One Spark job, one stage, no exchange: the probed cells are packed by
  * bytes onto ≤ `defaultParallelism` tasks ([[graft.core.TaskPacking]]),
  * each task reads its cells' files WHOLE — every (part, seg) segment
  * lands in one task however `maxPartitionBytes` is set, so no
  * repartition restores locality — beam-searches each routed segment and
  * returns ≤ k candidates per probe. The driver merges them per probe in
  * [[graft.functions.TopKByScore]]'s order (sim desc, then id asc) into
  * (probe_id, id, sim, rank). `executeCollect` returns the merged rows
  * directly; `doExecute` hands the same rows to any plan composed on top.
  */
final case class RoutedGraphSearchExec(spec: RoutedGraphSearchSpec,
    output: Seq[Attribute]) extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numNodes" -> SQLMetrics.createMetric(sparkContext, "number of nodes read"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def stringArgs: Iterator[Any] = spec.summary.iterator

  override def executeCollect(): Array[InternalRow] = search()
  override def executeTake(n: Int): Array[InternalRow] = search().take(n)
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(search().toSeq, 1)

  private def search(): Array[InternalRow] = {
    val cands = graft.core.Jobs.labelled(sparkContext, spec.description)(
      candidates())
    val writer = new UnsafeRowWriter(4)
    val rows = cands.groupBy(_._1).toArray.sortBy(_._1).flatMap { case (pid, cs) =>
      RoutedGraphSearchExec.topK(cs, spec.k).zipWithIndex
        .map { case ((id, sim), r) =>
          writer.reset()
          writer.write(0, pid); writer.write(1, id); writer.write(2, sim)
          writer.write(3, r + 1)
          writer.getRow.copy(): InternalRow
        }
    }
    longMetric("numOutputRows").add(rows.length)
    rows
  }

  /** The scan-and-beam stage: ≤ k (probe_id, id, sim) rows per probe and
    * task. The task function is a [[SearchCellsTask]], not a lambda, and
    * goes straight to `runJob`: Spark's closure check returns at once
    * for it instead of reading and scanning a capturing class's bytecode
    * on every request.
    */
  private def candidates(): Array[(Long, Long, Double)] = {
    val cells = spec.files.groupBy(_.cell).toIndexedSeq.sortBy(_._1)
    if (cells.isEmpty) return Array.empty
    val (n, taskOf) = graft.core.TaskPacking.leastLoaded(
      cells.map(_._2.map(_.length).sum), sparkContext.defaultParallelism)
    val partitions = (0 until n).map { t =>
      FilePartition(t, cells.indices.filter(taskOf(_) == t)
        .flatMap(i => cells(i)._2).map { f =>
          PartitionedFile(InternalRow(f.cell),
            org.apache.spark.paths.SparkPath.fromPathString(f.path), 0L,
            f.length, Array.empty[String], f.modificationTime, f.length)
        }.toArray)
    }
    val reader = spec.reader.getOrElse(RoutedGraphSearchExec.cellsReader(session))
    val scan = new FileScanRDD(session, reader, partitions,
      RoutedGraphSearchExec.readSchema)
    sparkContext.runJob(scan, new SearchCellsTask(spec.routes, spec.tombstones,
      spec.k, math.max(spec.ef, spec.k), longMetric("numNodes"))).flatten
  }
}

object RoutedGraphSearchExec {
  private val dataSchema = StructType(GraphAnn.cellsSchema.filter(_.name != "part"))
  private val partSchema = StructType(Seq(StructField("part", IntegerType)))
  private val readSchema = StructType(dataSchema ++ partSchema)

  /** A row reader of the cells layout under `session`'s settings: its
    * rows are (id, vec, level, neighbors, seg, part). Each call copies
    * the session's Hadoop configuration and broadcasts it.
    */
  private[operators] def cellsReader(
      session: SparkSession): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      session, dataSchema, partSchema, dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(Map.empty))

  /** The first k (id, sim) of one probe's candidates in
    * [[graft.functions.TopKByScore]]'s order.
    */
  private[operators] def topK(cands: Seq[(Long, Long, Double)], k: Int): Seq[(Long, Double)] =
    cands.map(c => (c._2, c._3)).sorted(graft.functions.TopKByScore.order).take(k)
}

/** One search task over its cells' files: decode the nodes, beam-search
  * each routed (part, seg) segment and return ≤ k (probe_id, id, sim)
  * candidates per probe.
  */
private[operators] final class SearchCellsTask(
    routes: Map[Int, Array[(Long, Array[Float])]],
    tombstones: Option[Array[Long]], k: Int, ef: Int, numNodes: SQLMetric)
    extends ((TaskContext, Iterator[InternalRow]) => Array[(Long, Long, Double)])
    with Serializable {
  def apply(ctx: TaskContext,
      rows: Iterator[InternalRow]): Array[(Long, Long, Double)] = {
    // row layout: id, vec, level, neighbors, seg, then the part value;
    // decode before the next row — the reader reuses its row object
    val nodes = rows.map { r =>
      val nb = r.getArray(3)
      GraphNode(r.getInt(5), r.getLong(0), r.getArray(1).toFloatArray(),
        r.getInt(2), Array.tabulate(nb.numElements())(nb.getArray(_).toLongArray()),
        r.getInt(4))
    }.toArray
    numNodes.add(nodes.length)
    nodes.groupBy(g => (g.part, g.seg)).toSeq
      .flatMap { case ((cell, _), ns) =>
        routes.get(cell).fold(Iterator.empty[(Long, Long, Double)])(qs =>
          GraphAnn.searchSegment(ns, qs, k, ef, GraphAnn.liveEmit(tombstones, ns),
            GraphAnn.NodeCodec.Float.scorer(ns, cell)))
      }
      .groupBy(_._1).iterator.flatMap { case (pid, cs) =>
        RoutedGraphSearchExec.topK(cs, k).map { case (id, sim) => (pid, id, sim) }
      }.toArray
  }
}

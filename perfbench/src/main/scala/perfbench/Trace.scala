package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so they line up with
  * Spark's listener timestamps (epoch milliseconds). `parent` is -1 for an
  * operation's root span; every span of one operation shares `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder for the client thread. Spans are recorded only
  * inside a traced operation ([[op]]); elsewhere `span` just runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  private val ids = new AtomicInteger()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)
  private val tracing = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Whether the calling thread is inside a traced operation. */
  def active: Boolean = tracing.get()

  /** Run one operation, as a root span when `traced` (and tracing is on). */
  def op[T](name: String, traced: Boolean)(body: => T): T =
    if (!(enabled && traced)) body
    else {
      tracing.set(true)
      try span(name)(body) finally tracing.set(false)
    }

  def span[T](name: String)(body: => T): T = {
    if (!tracing.get()) return body
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, op) = outer.headOption.map { case (p, o) => (p, o) }.getOrElse((-1, id))
    stack.set((id, op) :: outer)
    val t0 = now()
    try body
    finally {
      done.add(Span(id, name, parent, op, t0, now()))
      stack.set(outer)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

/** Per-job, per-stage and per-execution counters from a harness-owned
  * `SparkListener` plus a `QueryExecutionListener`.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  /** SQL execution id → physical plan text. */
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** SQL execution id → rows output by file scans in the final plan. */
  val scanRows = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAgg))
    // the result stage's details hold the submitting call site's stack
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, exec, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.get(e.stageId)
    if (st == null || e.taskInfo == null) return
    st.tasks.incrementAndGet()
    st.firstLaunch = math.min(st.firstLaunch, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      st.runMs.addAndGet(m.executorRunTime)
      st.cpuNs.addAndGet(m.executorCpuTime)
      st.gcMs.addAndGet(m.jvmGCTime)
      st.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      st.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      st.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      st.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      st.resultBytes.addAndGet(m.resultSize)
      // Spark's own scheduler-delay definition (the UI's StagePage)
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime
      st.schedDelayMs.addAndGet(math.max(0L, delay))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.put(s.executionId, s.physicalPlanDescription)
    case _ =>
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    scanRows.put(qe.id, java.lang.Long.valueOf(scanOutputRows(qe.executedPlan)))

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()

  /** Output rows of every file scan in the final (post-AQE) plan. */
  private def scanOutputRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanOutputRows(a.executedPlan)
    case q: QueryStageExec => scanOutputRows(q.plan)
    case p =>
      val own = if (p.nodeName.startsWith("Scan"))
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L) else 0L
      own + p.children.map(scanOutputRows).sum +
        p.subqueries.map(scanOutputRows).sum
  }
}

object SparkCounters {
  /** Task totals of one stage. */
  final class StageAgg {
    val tasks = new AtomicLong(); val runMs = new AtomicLong()
    val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
    val schedDelayMs = new AtomicLong(); val inputBytes = new AtomicLong()
    val outputBytes = new AtomicLong(); val shuffleRead = new AtomicLong()
    val shuffleWrite = new AtomicLong(); val resultBytes = new AtomicLong()
    @volatile var firstLaunch: Long = Long.MaxValue
  }

  /** One job: submission and end (epoch ms), its SQL execution and
    * stages, and its call site's stack.
    */
  final case class Job(id: Int, submitMs: Long, execId: Long,
      stages: Seq[Int], callSite: String) {
    @volatile var endMs: Long = -1L
  }
}

package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator
import graft.services.{Embedder, HashingEmbedder}

/** Everything one benchmark run shares: the session, the run's settings,
  * the tracer and listener (traced runs only), the embedders and the
  * attempted/failed operation counts.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path) {
  val tracer = new Tracer(trace)
  val counters: Option[SparkCounters] = if (trace) Some(new SparkCounters) else None
  counters.foreach { c =>
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }
  val embedNanos: Option[LongAccumulator] =
    if (trace) Some(spark.sparkContext.longAccumulator("perfbench.embedNanos")) else None
  val embedTexts: Option[LongAccumulator] =
    if (trace) Some(spark.sparkContext.longAccumulator("perfbench.embedTexts")) else None
  /** The embedder `runOnce` receives; timed only in traced runs. */
  val embedder: Embedder = (embedNanos, embedTexts) match {
    case (Some(n), Some(t)) => new TimedEmbedder(new HashingEmbedder(64), n, t)
    case _ => new HashingEmbedder(64)
  }
  /** The embedder a search client uses for its question. */
  val queryEmbedder: Embedder = new HashingEmbedder(64)

  val attempted = new AtomicLong()
  val failed = new AtomicLong()

  /** Run one operation: it counts as attempted, and as failed when it
    * throws or when any check it makes fails. Returns whether it passed.
    */
  def operation(name: String)(body: Checks => Unit): Boolean = {
    attempted.incrementAndGet()
    val checks = new Checks
    val ok = try { body(checks); checks.failures.isEmpty }
    catch {
      case scala.util.control.NonFatal(e) =>
        checks.fail(s"threw ${e.getClass.getName}: ${e.getMessage}")
        false
    }
    if (!ok) {
      failed.incrementAndGet()
      checks.failures.foreach(f => System.err.println(s"[perfbench] FAILED $name: $f"))
    }
    ok
  }
}

/** The correctness checks one operation makes. */
final class Checks {
  val failures: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty
  def fail(what: String): Unit = failures += what
  def apply(ok: Boolean, what: => String): Boolean = { if (!ok) fail(what); ok }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Land-to-searchable benchmark: one run of one workload.
  *
  * {{{
  * Main --workload <delta_refresh|search_serve>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one JSON object as its last stdout line: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the per-layer
  * metrics traced). A traced run also writes its spans under `--work`'s
  * parent `traces/` directory.
  */
object Main {
  val WorkloadNames = Seq("delta_refresh", "search_serve")
  val WarmupSearches = 30
  /** Operations every measured loop completes, however slow. */
  val MinOps = 2
  val Questions = 256

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(WorkloadNames.contains(w), s"unknown workload $w; one of ${WorkloadNames.mkString(", ")}")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(w, need("seed").toLong, need("seconds").toInt, trace, Paths.get(need("work")))
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // the session settings graft.Bench uses, with every scratch directory
    // kept inside the run's work area
    graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val ctx = new Ctx(spark, a.seed, a.seconds, a.trace, a.work)
      val run = new Run(ctx, a.workload, sessionS)
      val metrics = run.execute()
      // a metric with no samples means the run measured nothing it claims
      val correct = ctx.failed.get() == 0 && ctx.attempted.get() > 0 &&
        metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
      val body = metrics.toSeq.map { case (k, (v, unit)) =>
        s""""$k": {"value": ${Json.num(v)}, "unit": ${Json.str(unit)}}"""
      }.mkString(", ")
      System.out.flush()
      println(s"""{"correct": $correct, "attempted": ${ctx.attempted.get()}, """ +
        s""""failed": ${ctx.failed.get()}, "metrics": {$body}}""")
      System.out.flush()
    } finally spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Non-finite values have no JSON form; they are reported as -1 (and
    * the run as incorrect).
    */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString
}

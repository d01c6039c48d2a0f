package graft
import org.apache.spark.sql.SparkSession

/** Dev probe over the registered queries. The first argument picks the mode:
  *   run (default)           time each query named in SPARK_GRAFT_PROBE over
  *                           SPARK_GRAFT_REPS warm reps in one session
  *   show <name> [sfDir] [n] print one query's first n result rows
  *   plan                    print the formatted physical plan of each query
  *                           named in SPARK_GRAFT_PROBE (pushdown, broadcast
  *                           choice and codegen span audit)
  */
object Probe {
  def main(args: Array[String]): Unit = args.headOption.getOrElse("run") match {
    case "run" => run()
    case "show" if args.length >= 2 =>
      show(args(1), args.lift(2).getOrElse("/root/testdata/sf0.01"),
        args.lift(3).fold(50)(_.toInt))
    case "plan" => plan()
    case _ => sys.error("usage: Probe [run | show <name> [sfDir] [n] | plan]")
  }

  private def names: Seq[String] =
    sys.env.getOrElse("SPARK_GRAFT_PROBE", "d2_minhash_pairs").split(",").toSeq

  private def session(cores: Int): SparkSession = {
    val builder = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    // SPARK_GRAFT_CONF="k=v;k=v" — ad-hoc session conf for A/B probing
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = session(32)
    // job counter + drain, as in Bench: per-rep job counts attribute the
    // scheduler-floor share of a sub-second query
    val jobCounter = new java.util.concurrent.atomic.AtomicLong()
    // SPARK_GRAFT_PROBE_JOBS=1: print each job's stage count + call site,
    // to attribute WHERE a floor-bound query's jobs come from
    val jobDetail = sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet()
          if (jobDetail) {
            val d = Option(e.properties)
              .map(_.getProperty("spark.job.description", "")).getOrElse("")
            // the result stage's NAME is the call site ("count at X.scala:N")
            // — job-start properties don't carry callSite keys on this build
            val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
            println(s"JOB ${e.jobId} stages=${e.stageInfos.size} " +
              s"tasks=${e.stageInfos.map(_.numTasks).sum} site=$site desc=${d.take(80)}")
          }
          ()
        }
      })
    def drain(): Unit = ListenerDrain.drain(spark)
    // SPARK_GRAFT_PROBE_GC=1 reproduces the Bench inter-query System.gc()
    // so warm-defeat hypotheses can be tested in isolation
    val gcBetween = sys.env.get("SPARK_GRAFT_PROBE_GC").contains("1")
    for (r <- 1 to reps; n <- names) {
      if (gcBetween) System.gc()
      drain()
      val j0 = jobCounter.get()
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      drain()
      println(f"PROBE $n rep=$r rows=$cnt t=$t%.2f jobs=${jobCounter.get() - j0}")
    }
    spark.stop()
  }

  private def show(name: String, sfDir: String, n: Int): Unit = {
    val spark = session(8)
    SparkEntry.queries(name)(spark, sfDir).show(n, truncate = false)
    spark.stop()
  }

  private def plan(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = session(4)
    names.foreach { n =>
      println(s"==== $n ====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [q1,q2,...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: only dump these queries (dev loop; the driver
    // always passes two args and gets the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws leaves no parquet, and the driver's compare then
    // OMITS it from CORRECTNESS_r{N}.json rather than recording an error —
    // round 8 lost two queries invisibly that way. Record every failure in
    // errors.json (name → first exception line) so a shrunk query set is
    // attributable, and repeat the count on stderr for the log tail.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val names = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    names.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e).linesIterator.nextOption().getOrElse("")
      }
    }
    // Jackson escapes quotes, backslashes and ALL control chars — a tab or
    // CR in oracle SQL must not make the compare's json.load fail and
    // silently zero the correctness check.
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      mapper.writeValueAsString(errors))
    System.err.println(
      s"[verify] dumped ${names.size - errors.size}/${names.size}, failed ${errors.size}")
    spark.stop()
  }
}

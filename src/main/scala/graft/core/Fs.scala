package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Resolution-independent filesystem probes. Table/index directories are
  * Spark data paths — on a cluster they live on HDFS/S3/ABFS, where a
  * `java.io.File` check silently answers "absent" and an exists-guarded
  * writer would clobber existing state. Every data-path existence check in
  * the library goes through here.
  */
object Fs {

  /** Does `dir` exist under the session's Hadoop configuration? */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete under the session's Hadoop configuration (same
    * resolution rule as [[exists]]); absent path is a no-op. */
  def delete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Child DIRECTORY names of `dir` (same resolution rule as [[exists]]);
    * absent path → empty. */
  def listDirNames(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Sorted names of the data files directly under `dir` — Spark's own
    * rule: names starting with `_` or `.` (`_SUCCESS`, checksums) are
    * not data. Same resolution rule as [[exists]]; absent path → empty. */
  def listDataFileNames(spark: SparkSession, dir: String): Seq[String] =
    listDataFiles(spark, dir).map(_.getPath.getName)

  /** [[listDataFileNames]]' files with their statuses, in name order. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    all.filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** Serializable carrier for the session's Hadoop configuration — the
    * spark.hadoop.* settings (filesystem credentials, implementations)
    * live ONLY in `sparkContext.hadoopConfiguration`, never in a default
    * `new Configuration()`, so executor-side filesystem access must ship
    * the driver's conf rather than hope core-site.xml matches.
    */
  final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Capture the session conf for use inside foreachPartition closures. */
  def serializableConf(spark: SparkSession): SerializableHadoopConf =
    new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
}

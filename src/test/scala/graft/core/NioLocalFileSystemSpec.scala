package graft.core

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[NioLocalFileSystem]] sets the modes Hadoop's own local filesystem
  * sets, without forking `chmod`.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every file and directory under `root`: its relative path (part-file
    * UUIDs masked) and its mode.
    */
  private def modes(root: JPath): Set[(String, String)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(p =>
        (uuid.replaceAllIn(root.relativize(p).toString, "U"),
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))).toSet
    } finally walk.close()
  }

  test("the session's file: filesystem is NioLocalFileSystem") {
    val fs = new Path("file:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("a partitioned write leaves the same file and directory modes as Hadoop's local filesystem") {
    val hc = spark.sparkContext.hadoopConfiguration
    val df = (0 until 40).map(i => (i % 4, i.toLong, s"v$i")).toDF("p", "id", "s")
      .repartition(2, $"p")
    def write(impl: Option[String]): JPath = {
      val dir = Files.createTempDirectory("graft-modes")
      val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache",
        "fs.permissions.umask-mode").map(k => k -> Option(hc.get(k)))
      // a umask unlike the process's, so the modes are the filesystem's
      // own settings rather than the OS default; uncached instances, so
      // the write's filesystems read it
      hc.set("fs.permissions.umask-mode", "027")
      hc.set("fs.file.impl.disable.cache", "true")
      impl.foreach(hc.set("fs.file.impl", _))
      try {
        df.write.mode("overwrite").partitionBy("p").parquet(s"$dir/t")
        dir
      } finally saved.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
    val nio = modes(write(None))
    val stock = modes(write(Some(classOf[LocalFileSystem].getName)))
    assert(nio.exists(_._1.endsWith(".crc")), "checksums are still written")
    assert(nio.exists(_._2 == "rw-r-----"), nio)
    assert(nio == stock)
  }

  test("setPermission sets every rwx mode as Hadoop's chmod does") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    val nio = new NioLocalFileSystem; nio.initialize(FileSystem.getDefaultUri(conf), conf)
    val stock = new LocalFileSystem; stock.initialize(FileSystem.getDefaultUri(conf), conf)
    val dir = Files.createTempDirectory("graft-chmod")
    for (mode <- Seq(0, 0x1ff, 0x1a4, 0x1ed, 0x180, 0x049, 0x092, 0x124, 0x1c0, 0x038, 0x007)) {
      val (a, b) = (dir.resolve(s"a$mode"), dir.resolve(s"b$mode"))
      Files.createFile(a); Files.createFile(b)
      nio.setPermission(new Path(a.toUri), new FsPermission(mode.toShort))
      stock.setPermission(new Path(b.toUri), new FsPermission(mode.toShort))
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b),
        f"mode $mode%04o")
    }
  }
}

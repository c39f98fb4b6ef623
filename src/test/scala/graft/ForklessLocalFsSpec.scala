package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sources.{ForklessLocalFs, Sinks}

/** The load path's local file system: the same POSIX bits and checksum
  * files as Hadoop's stock `LocalFileSystem`, without a `chmod` process
  * per file and directory.
  */
class ForklessLocalFsSpec extends SparkSpec {

  private def frame = spark.range(0, 3000, 1, 3).select(
    col("id"), timestamp_seconds(lit(1704067200L) + col("id") * 60).as("ts"))

  /** A DAY-partitioned load written through [[Sinks.write]]. */
  private def load(dest: String): Unit =
    assert(Sinks.write(frame, dest, dayPartitionField = Some("ts")) == 3000L)

  /** The same frame and layout through Spark's writer on the stock file
    * system, uncached so that it reads this write's configuration.
    */
  private def stockLoad(dest: String): Unit =
    frame.withColumn(Sinks.PartitionCol, to_date(col("ts"))).repartition(col(Sinks.PartitionCol))
      .write.mode(SaveMode.Overwrite).option("fs.file.impl.disable.cache", "true")
      .partitionBy(Sinks.PartitionCol).parquet(dest)

  private def under(dir: String): Seq[Path] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.toList
    finally st.close()
  }

  /** The permission strings of the entries under `dir`, by kind. */
  private def modes(dir: String): Map[String, Set[String]] =
    under(dir).groupMap { p =>
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) "dir"
      else if (name.endsWith(".crc")) "crc"
      else if (name.endsWith(".parquet")) "data"
      else name
    }(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .view.mapValues(_.toSet).toMap

  test("a load's files and directories carry the stock file system's POSIX bits") {
    val out = Files.createTempDirectory("graft_forkless_modes").toString
    load(s"$out/forkless"); stockLoad(s"$out/stock")
    assert(modes(s"$out/forkless") == modes(s"$out/stock"))
    assert(modes(s"$out/forkless")("data") == Set("rw-r--r--"))
    // a session-wide umask reaches both writers' Hadoop configurations
    spark.conf.set("fs.permissions.umask-mode", "077")
    try { load(s"$out/forkless077"); stockLoad(s"$out/stock077") }
    finally spark.conf.unset("fs.permissions.umask-mode")
    assert(modes(s"$out/forkless077") == modes(s"$out/stock077"))
    assert(modes(s"$out/forkless077")("data") == Set("rw-------"))
    assert(modes(s"$out/forkless077")("crc") == Set("rw-------"))
  }

  test("a .crc file is still written beside each data file") {
    val dest = Files.createTempDirectory("graft_forkless_crc").resolve("t").toString
    load(dest)
    val data = under(dest).filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.nonEmpty)
    data.foreach { p =>
      assert(Files.isRegularFile(p.resolveSibling(s".${p.getFileName}.crc")),
        s"no checksum beside $p")
    }
  }

  test("a mode NIO cannot express goes through Hadoop's own setPermission") {
    def fileSystem(impl: Class[_ <: FileSystem]) = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.file.impl", impl.getName)
      conf.set("fs.file.impl.disable.cache", "true")
      FileSystem.get(java.net.URI.create("file:///"), conf)
    }
    val forkless = fileSystem(classOf[ForklessLocalFs])
    assert(forkless.isInstanceOf[ForklessLocalFs] && forkless.isInstanceOf[LocalFileSystem])
    // the sticky bit on, then a plain mode over it
    def modesSet(fs: FileSystem): Seq[String] = {
      val dir = Files.createTempDirectory("graft_forkless_sticky")
      Seq("1777", "750").map { m =>
        fs.setPermission(new org.apache.hadoop.fs.Path(dir.toUri),
          new FsPermission(Integer.parseInt(m, 8).toShort))
        (Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString
      }
    }
    assert(modesSet(forkless) == modesSet(fileSystem(classOf[LocalFileSystem])))
    assert(modesSet(forkless).head == "1777")
  }

  test("a load starts no chmod process") {
    val out = Files.createTempDirectory("graft_forkless_forks").toString
    def chmods(dest: String)(write: String => Unit): Int = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try write(dest) finally rec.stop()
      val file = Files.createTempFile(Paths.get(out), "forks", ".jfr")
      try rec.dump(file) finally rec.close()
      RecordingFile.readAllEvents(file).asScala.count { e =>
        val command = e.getString("command")
        command.contains("chmod") && command.contains(dest)
      }
    }
    assert(chmods(s"$out/forkless")(load) == 0)
    // the stock file system forks one per file unless Hadoop's native library is loaded
    if (!NativeIO.isAvailable) assert(chmods(s"$out/stock")(stockLoad) > 0)
  }
}

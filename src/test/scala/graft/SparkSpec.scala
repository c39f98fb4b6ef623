package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the [[GraftSession]] config at a
  * pinned 4 cores, with a throwaway warehouse.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** `body`'s result and the Spark jobs it started: jobs whose local
    * properties carry a tag set on the calling thread (inherited by the
    * threads it starts), so jobs of other suites do not count. The
    * listener bus is drained before the count is read.
    */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(key) == tag) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try {
      val r = body
      drainListenerBus()
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** Every column chunk of every parquet data file under `dir`, read from
    * the files' footers.
    */
  def columnChunks(dir: String): Seq[ColumnChunkMetaData] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = Files.walk(Paths.get(dir))
    val files =
      try st.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        Files.isRegularFile(p) && name.endsWith(".parquet") && !name.startsWith(".") &&
          !p.toString.contains("/_temporary/")
      }.toList
      finally st.close()
    files.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p.toUri), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    // LiveListenerBus.waitUntilEmpty is private to Spark, hence reflection
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.getOrCreate(cpus = "4",
    warehouse = Some(java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}

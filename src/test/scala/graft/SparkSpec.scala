package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the [[GraftSession]] config at a
  * pinned 4 cores, with a throwaway warehouse.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.getOrCreate(cpus = "4",
    warehouse = Some(java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}

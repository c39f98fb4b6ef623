package graft

import org.apache.spark.sql.functions.expr

/** The shared session config: the spec session carries it, and the core
  * count follows `SPARK_GRAFT_CPUS`, else the box.
  */
class GraftSessionSpec extends SparkSpec {

  test("the spec session has the shared settings and the graft extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("a child session reuses the classes its parent generated") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def run(s: org.apache.spark.sql.SparkSession): Long =
      s.range(1000).selectExpr("id * 7 + 3 AS x").filter("x % 5 = 1")
        .groupBy(expr("x % 3")).count().collect().length.toLong
    val warm = run(spark)
    val before = METRIC_COMPILATION_TIME.getCount
    assert(run(spark.newSession()) == warm)
    assert(METRIC_COMPILATION_TIME.getCount - before == 0,
      "a fresh session recompiled classes its parent had generated")
  }

  test("sizes local mode to the box unless SPARK_GRAFT_CPUS says otherwise") {
    assert(GraftSession.localCpus(Map.empty, 4) == "4")
    assert(GraftSession.localCpus(Map("PATH" -> "/bin"), 1) == "1")
    assert(GraftSession.localCpus(Map("SPARK_GRAFT_CPUS" -> "16"), 4) == "16")
  }
}

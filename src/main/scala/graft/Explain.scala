package graft

/** Plan-inspection harness: prints the formatted physical plan for the
  * named queries (or a representative default set). Used to check the
  * scale-critical plan properties — PushedFilters reaching the parquet
  * scan, pruned ReadSchema, broadcast joins on dimensions, wide
  * WholeStageCodegen spans — per the 100 TB design review loop.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("p6_date_predicate", "q5_region_revenue", "q3_top_orders",
        "d_minhash_lsh", "sim_knn_brute", "ss_sessionize")
    val spark = GraftSession.getOrCreate(cpus = "4")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

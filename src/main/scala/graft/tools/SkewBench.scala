package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Relational
import graft.sources.Tables

/** Skew measurement harness (not part of the library surface): times the
  * plain shuffle join vs [[Relational.saltedJoin]] vs AQE's skew-join on a
  * deliberately skewed input — lineitem with 40% of rows collapsed onto one
  * hot key. Broadcast is disabled throughout: the scenario modeled is the
  * 100 TB case where BOTH sides are too large to broadcast and the hot
  * key's reducer is the straggler. Results are recorded in BASELINE.md.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    // 40% of lineitem rows land on hot key 0; the dim side is one row per
    // key with a computed payload, too many rows to want per-row recompute.
    // The fan-out multiplies the fact side so the hot key's single reducer
    // holds millions of rows — the regime where skew actually manifests
    // (at sf0.1 alone the hot partition is ~240k rows and finishes in tens
    // of milliseconds, so plain and salted are indistinguishable).
    val fanout = sys.env.getOrElse("SPARK_GRAFT_SKEW_FANOUT", "16").toInt
    val li = Tables.load(spark, d, "lineitem")
      .withColumn("__f", explode(sequence(lit(1), lit(fanout))))
      .withColumn("k",
        when(col("l_linenumber") % 10 < 4, lit(0L)).otherwise(col("l_partkey").cast("long")))
    val dim = li.select("k").distinct()
      .withColumn("payload", md5(col("k").cast("string")))
    dim.persist(); dim.count()
    li.persist(); li.count()

    def time(label: String)(f: => Long): Unit = {
      // one warmup then 3 timed runs: report each
      f
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"SKEW $label runs=${times.map(t => f"$t%.2f").mkString(",")} s")
    }

    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("payload").agg(count(lit(1))).count()

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("plain-join (no AQE)")(agg(li.join(dim, "k")))
    time("salted-join (no AQE, salts=32)")(
      agg(Relational.saltedJoin(li, dim, "k", salts = 32, saltSource = "l_orderkey")))

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("plain-join (AQE skew-join on)")(agg(li.join(dim, "k")))
    time("salted-join (AQE on, salts=32)")(
      agg(Relational.saltedJoin(li, dim, "k", salts = 32, saltSource = "l_orderkey")))

    println(s"SKEW rows=${li.count()} fanout=$fanout hot-share=0.4")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Round-15 optimization profiler: runs named suite queries (or shared
  * frame builders prefixed `frame:`) one at a time and reports, per query,
  * wall time, the number of Spark JOBS it launched, and the summed
  * job-execution time — the gap between wall and job time is driver-side
  * work (planning, collect, catalog ops, checkpoint commits). A query
  * whose time is spread over dozens of sub-second jobs is fixed-overhead
  * bound (guide §1: measure first; §2.6: overlap/fuse independent jobs),
  * not data bound.
  *
  * Not part of the library surface; mirrors the Bench session config so
  * timings are comparable.
  */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate(warehouse = GraftSession.tmpWarehouse("bench"))

    // r16 (ADVICE): the listener bus delivers asynchronously — a bare
    // `jobs = Nil` on the main thread raced late job-end events from the
    // previous query into the next query's count (and a final read could
    // miss this query's tail). A concurrent queue fixes the lost-update
    // race, and both the reset and the read drain the bus first.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    // r16: opt-in per-job callsite histogram (GRAFT_PROF_DESC=1) — the
    // lifecycle queries launch ~100 sub-second jobs and the histogram is
    // how we find which VERBS launch them (guide §1: measure first)
    val wantDesc = sys.env.get("GRAFT_PROF_DESC").contains("1")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val siteOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        if (wantDesc) {
          val cs = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          siteOf.put(js.jobId, cs)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = Option(starts.get(je.jobId)).getOrElse(je.time)
        jobs.add((je.jobId, je.time - t0))
        if (wantDesc)
          sites.add((Option(siteOf.get(je.jobId)).getOrElse("?"), je.time - t0))
      }
    })
    def drainBus(): Unit =
      try {
        // LiveListenerBus.waitUntilEmpty is private[spark] — reflection
        // keeps this tool out of the org.apache.spark package
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
          .invoke(bus, java.lang.Long.valueOf(10000L))
      } catch { case _: Throwable => Thread.sleep(300) }

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"STEP $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    if (args.headOption.contains("ulmsteps")) {
      import org.apache.spark.sql.functions._
      import graft.operators.Text
      val s = spark
      val d = sfDir
      val toks = graft.functions.CrossHash.tokens(col("text"))
      val docs = graft.sources.Tables.load(s, d, "documents")
      docs.count()
      val prefix = "ulm_profile_scratch"
      val (pieces0, segs0) = time("ulmTrain (cold)")(
        Text.ulmTrain(docs, col("text"), 4, 60, 2))
      pieces0.count(); segs0.count()
      time("Ulm.drop")(Text.Ulm.drop(s, prefix))
      val (pieces, segs) = (pieces0, segs0)
      time("writeUlmModel")(Text.writeUlmModel(pieces, prefix, maxPieceLen = 4))
      val words = docs.select(explode(toks).as("word"))
        .filter(col("word") =!= "").distinct()
      val enc = time("encode+checkpoint")(
        Text.encodeAgainstUlmModel(words, "word", prefix).localCheckpoint(true))
      val trained = segs.select("word", "n_pieces", "segs")
      val served = enc.select("word", "n_pieces", "segs")
      val parity = time("exceptAll x2")(
        served.exceptAll(trained).isEmpty && trained.exceptAll(served).isEmpty)
      time("final join/agg")(
        docs.select(col("doc_id"), explode(toks).as("word"))
          .filter(col("word") =!= "")
          .join(enc.select("word", "n_pieces"), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subtoks"))
          .withColumn("serve_ok", lit(parity)).count())
      // second round: is the encode cost plan/codegen or execution?
      val enc2 = time("encode+checkpoint AGAIN")(
        Text.encodeAgainstUlmModel(words, "word", prefix).localCheckpoint(true))
      enc2.count()
      spark.stop(); return
    }

    val frames = graft.queries.SharedFrames.builders.toMap
    def fnFor(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name.startsWith("frame:")) frames(name.stripPrefix("frame:"))
      else graft.SparkEntry.queries(name)

    // warm JIT/codegen at the smallest SF, like Bench
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    args.foreach { n =>
      try fnFor(n)(spark, warmDir).count() catch { case _: Throwable => () }
    }

    args.foreach { n =>
      val sess = spark.newSession()
      drainBus(); jobs.clear(); sites.clear()
      val t0 = System.nanoTime()
      val ok = try { fnFor(n)(sess, sfDir).count(); true }
        catch { case e: Throwable => println(s"ERR $n: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      drainBus()
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toList.sortBy(-_._2)
      val jobSum = js.map(_._2).sum / 1e3
      if (ok) {
        println(f"PROFILE $n wall=$wall%.2f s jobs=${js.size} jobSum=$jobSum%.2f s " +
          f"driverGap=${wall - jobSum}%.2f s top10=[" +
          js.take(10).map { case (_, ms) => f"${ms / 1e3}%.2f" }.mkString(",") + "]")
        if (wantDesc) {
          sites.asScala.toList.groupBy(_._1).toSeq
            .map { case (cs, xs) => (cs, xs.size, xs.map(_._2).sum / 1e3) }
            .sortBy(-_._3)
            .foreach { case (cs, nJobs, secs) =>
              println(f"  SITE $n%-28s n=$nJobs%4d sum=$secs%6.2f s  $cs")
            }
        }
      }
    }
    spark.stop()
  }
}

package graft.perfbench

import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._

import graft.SparkEntry
import graft.queries.SharedFrames
import graft.sources.Tables

import Main.{median, seconds}

/** The curation flagship: `d_curate_emit` over the seeded corpus. A rep
  * runs in a fresh `spark.newSession()`, so every memoized shared frame and
  * persisted model family is rebuilt. Curation has no incremental mode: a
  * daily curation run is a full rep, so `full_s` and `daily_s_p50` are both
  * the rep median.
  */
final class CurateBench(opts: Main.Opts, result: Main.Result) {

  private val runDir = opts.runDir
  private val srcDir = s"$runDir/src"
  private val query = SparkEntry.queries("d_curate_emit")

  /** The `SharedFrames.builders` entries `d_curate_emit` reaches, by layer. */
  private val reached: Map[String, String] = Map(
    "minhash_pairs" -> "dedup",
    "ulm2" -> "text", "kn3_base" -> "text", "kn3_scored_all" -> "text", "ppl_buckets" -> "text",
    "clf_holdout_weights" -> "linear_model", "clf_cal_fit" -> "linear_model",
    "curate_ccnet" -> "queries")

  private def rep(s: SparkSession): Seq[Row] = query(s, srcDir).collect().toSeq

  private def manifestJson(rows: Seq[Row]): JValue = JArray(rows.toList.map { r =>
    JArray((0 until r.length).map(i => JLong(r.getLong(i)): JValue).toList)
  })

  def run(): SparkSession = {
    val spark = Main.session(runDir)
    // source open and the untimed warm-up rep
    Tables.load(spark, srcDir, "documents").schema
    val reference = rep(spark.newSession())
    val setupS = (System.currentTimeMillis() - opts.t0Ms) / 1e3
    result.info("manifest") = manifestJson(reference)
    result.info("oracle_sql") = JString(SparkEntry.oracleSql("d_curate_emit"))
    result.info("documents") = JString(s"$srcDir/documents.parquet")
    result.info("out_dir") = JString(s"$runDir/warehouse")

    def checked(step: String)(body: => Seq[Row]): Unit = {
      result.attempted += 1
      Try(body).fold(e => result.fail(step, "d_curate_emit", e), rows =>
        if (rows != reference)
          result.fail(step, "d_curate_emit", "CheckFailed", s"manifest $rows != first rep's $reference"))
    }

    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    if (!opts.trace) {
      val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
      val heap = new Main.HeapPeak
      try {
          while (reps.isEmpty || System.nanoTime() < deadline)
            reps += seconds(checked(s"rep${reps.size + 1}")(rep(spark.newSession())))._2
      } finally heap.close()
      result.metrics("setup_s") = setupS
      result.metrics("full_s") = median(reps.toSeq)
      result.metrics("daily_s_p50") = median(reps.toSeq)
      result.metrics("heap_peak_mb") = heap.peakBytes / (1024.0 * 1024.0)
      result.info("rep_s_samples") = JArray(reps.map(JDouble(_)).toList)
    } else {
      val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
      val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
      // attached after the first untraced rep, so that one runs without the listener
      lazy val tr = new Tracer(spark)
      val heap = new Main.HeapPeak
      try {
        while (traced.isEmpty || System.nanoTime() < deadline) {
          plain += seconds(checked(s"untraced${plain.size + 1}")(rep(spark.newSession())))._2
          val s = spark.newSession()
          traced += seconds {
            checked(s"traced${traced.size + 1}") {
              SharedFrames.builders.filter { case (n, _) => reached.contains(n) }.foreach {
                case (n, b) => tr.span(reached(n), n)(b(s, srcDir).count())
              }
              tr.span("queries", "emit")(rep(s))
            }
          }._2
        }
        // closing untraced rep: untraced reps bracket the traced ones
        plain += seconds(checked(s"untraced${plain.size + 1}")(rep(spark.newSession())))._2
      } finally heap.close()
      result.metrics("spark.heap_peak_mb") = heap.peakBytes / (1024.0 * 1024.0)
      val tree = tr.finish()
      result.info("spans") = tree.summary
      layerMetrics(tree, traced.size)
      result.metrics("trace.overhead_s") = median(traced.toSeq) - median(plain.toSeq)
      result.info("traced_rep_s") = JArray(traced.map(JDouble(_)).toList)
      result.info("untraced_rep_s") = JArray(plain.map(JDouble(_)).toList)
    }
    spark
  }

  private def layerMetrics(tree: Tracer.Tree, reps: Int): Unit = {
    val m = result.metrics
    val mb = 1024.0 * 1024.0
    def totals(spans: Seq[Span]) = { val c = new Counters; spans.foreach(s => c.add(tree.total(s))); c }
    for (layer <- Seq("dedup", "text", "linear_model")) {
      val spans = tree.byLayer(layer)
      val c = totals(spans)
      m(s"$layer.build_s") = spans.map(_.wallS).sum / reps
      m(s"$layer.task_s") = c.taskMs / 1e3 / reps
      if (layer != "linear_model") m(s"$layer.shuffle_write_mb") = c.shuffleWrite / mb / reps
      m(s"$layer.jobs") = c.jobs.toDouble / reps
    }
    val gate = tree.byLayer("queries").filter(_.name == "curate_ccnet")
    val emit = tree.byLayer("queries").filter(_.name == "emit")
    val emitC = totals(emit)
    m("queries.gate_s") = gate.map(_.wallS).sum / reps
    m("queries.emit_s") = emit.map(_.wallS).sum / reps
    m("queries.emit_jobs") = emitC.jobs.toDouble / reps
    m("queries.emit_output_mb") = emitC.outputBytes / mb / reps
    val roots = tree.spans.filter(_.parent.isEmpty)
    SparkLayer.put(m, totals(roots), roots.map(_.wallS).sum / reps,
      roots.map(tree.driverS).sum / reps, reps)
  }
}

package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, ZoneOffset}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.json4s._

import graft.Etl
import graft.Etl.{RunReport, TableSpec}
import graft.model.SchemaRegistry
import graft.operators.Transforms
import graft.sources.{Jdbc, JdbcConfig, JdbcDialect, Sinks, Tables}

import Main.{median, seconds}

/** The reference workload: one full-refresh `Etl.run`, then one
  * `Etl.run(daily = true)` per window day, as a nightly job would run them
  * (a closed loop with one client). The source is either parquet landing
  * tables read through `Tables.load` or the same rows in embedded Derby read
  * through `Jdbc.read`.
  *
  * The full refresh sees the source as it stood before the window: rows of
  * the window days are filtered out of the incremental tables, so after the
  * window each day's output holds exactly that day's generated rows.
  */
final class EtlBench(opts: Main.Opts, result: Main.Result, jdbc: Boolean) {

  private val plan = Inputs.readPlan(opts.runDir)
  private val runDir = opts.runDir
  private val landingDir = s"$runDir/landing"
  private val derbyPath = s"$runDir/derby/db"
  private val jdbcCfg = JdbcConfig(s"jdbc:derby:$derbyPath", "app", "app", JdbcDialect.Derby)
  // Etl.run's own default pool size
  private val tablePool = 4
  // full refreshes per timed cycle: one full refresh varies by ±15% from
  // run to run on a 4-core box, the median of six by much less
  private val FullRepeats = 6

  private var spark: SparkSession = _
  private var registry: SchemaRegistry.Registry = _

  private def windowStartTs =
    lit(java.sql.Timestamp.from(plan.windowStart.atStartOfDay(ZoneOffset.UTC).toInstant))

  /** The program's source for one table; `asOf` hides the window days. */
  private def source(asOf: Boolean)(name: String): DataFrame = {
    val raw =
      if (jdbc) Jdbc.read(spark, jdbcCfg, JdbcDialect.Derby.quote(name))
      else Tables.load(spark, landingDir, name)
    Inputs.Specs.find(_.name == name).flatMap(_.incrementalCol) match {
      case Some(c) if asOf => raw.filter(col(c) < windowStartTs)
      case _               => raw
    }
  }

  /** Session build, source open, registry parse and an untimed warm-up
    * full refresh plus one day into a scratch output.
    */
  private def setUp(): Unit = {
    spark = Main.session(runDir)
    Inputs.Specs.foreach(s => source(asOf = false)(s.name).schema)
    registry = SchemaRegistry.fromJson(Files.readString(Paths.get(runDir, "registry.json")))
    val warm = s"$runDir/warmup"
    Etl.run(spark, Inputs.Specs, source(asOf = true), registry, warm, daily = false)
    Etl.run(spark, Inputs.Specs, source(asOf = false), registry, warm, daily = true,
      day = plan.window.head)
  }

  private def shutdownDerby(): Unit =
    try java.sql.DriverManager.getConnection(s"${jdbcCfg.url};shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown by throwing

  /** Expected reports of one step; `dayIdx` is None for the full refresh. */
  private def expected(dayIdx: Option[Int]): Map[String, Option[RunReport]] = {
    def rows(t: String): Option[(Long, Long)] = {
      val perDay = plan.rowsPerDay(t)
      val hist = perDay.take(plan.histDays).sum
      dayIdx match {
        case None => Some((hist, hist))
        case Some(k) =>
          val n = perDay(plan.histDays + k)
          if (n == 0) None else Some((n, hist + perDay.slice(plan.histDays, plan.histDays + k + 1).sum))
      }
    }
    Map(
      "daily_log" -> rows("daily_log"),
      "backup_log" -> rows("backup_log"),
      // no incremental column: every daily run appends the whole table
      "servers_temp" -> Some((plan.servers, plan.servers * (1 + dayIdx.fold(0)(_ + 1))))
    ).map { case (t, r) => t -> r.map { case (loaded, total) => RunReport(t, loaded, loaded, total) } }
  }

  private def check(step: String, dayIdx: Option[Int], got: Try[Seq[RunReport]]): Unit = {
    result.attempted += Inputs.Specs.size
    got match {
      case Failure(e) => Inputs.Specs.foreach(s => result.fail(step, s.name, e))
      case Success(reports) =>
        val byTable = reports.map(r => r.table -> r).toMap
        expected(dayIdx).foreach { case (t, want) =>
          if (byTable.get(t) != want)
            result.fail(step, t, "CheckFailed", s"RunReport ${byTable.get(t)} != expected $want")
        }
    }
  }

  private val outDir = s"$runDir/out"

  private def step(daily: Boolean, dayIdx: Option[Int]): Try[Seq[RunReport]] =
    Try(Etl.run(spark, Inputs.Specs, source(asOf = !daily), registry, outDir,
      daily = daily, day = dayIdx.fold(plan.windowStart)(plan.window(_))))

  /** `fulls` full refreshes (each one overwrites the output) and then the
    * window, untraced. Returns (full walls, day walls, every step's reports).
    */
  private def cycle(label: String, fulls: Int): (Seq[Double], Seq[Double], Seq[Try[Seq[RunReport]]]) = {
    val full = (1 to fulls).map { i =>
      val (r, s) = seconds(step(daily = false, None))
      check(s"$label/full$i", None, r)
      (r, s)
    }
    val days = plan.window.indices.map { k =>
      val (r, s) = seconds(step(daily = true, Some(k)))
      check(s"$label/day${k + 1}", Some(k), r)
      (r, s)
    }
    (full.map(_._2), days.map(_._2), full.last._1 +: days.map(_._1))
  }

  // ---- traced replay -------------------------------------------------

  /** `Etl.runTable`'s calls, in its order, each inside a span of its layer;
    * `Sinks.load` is unrolled into `loadVia`'s steps so the schema bind,
    * the write and the audit are timed apart.
    */
  private def replayTable(tr: Tracer, spec: TableSpec, daily: Boolean, day: LocalDate,
      files: java.util.concurrent.atomic.AtomicLong): Option[RunReport] = {
    val raw = tr.span("sources", "open")(source(asOf = !daily)(spec.name))
    val extracted = spec.incrementalCol match {
      case Some(c) if daily => tr.span("sources", "incremental")(Tables.incremental(raw, c, day))
      case _                => raw
    }
    tr.span("transforms", "guard")(Transforms.nonEmptyGuard(extracted)).map { df =>
      val transformed = tr.span("transforms", "plan")(Transforms.forTable(spec.name)(df))
      val schema = SchemaRegistry.schemaFor(registry, spec.name)
      val path = s"$outDir/${spec.name}"
      val sink = Sinks.parquetAdapter(spark, path, Some(spec.name))
      val (bound, loaded) = tr.span("schema", "enforce_count") {
        val b = SchemaRegistry.enforce(transformed, schema)
        (b, b.count())
      }
      val before = if (daily) parquetFiles(path) else 0L
      tr.span("sinks", "write")(sink.write(bound, daily, spec.dayPartitionField))
      files.addAndGet(parquetFiles(path) - before)
      val total = tr.span("sinks", "audit")(sink.countAudit())
      RunReport(spec.name, loaded, loaded, total)
    }
  }

  private def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong finally s.close()
    }
  }

  /** `Etl.run` replayed: the same fixed pool, one future per table, fail-fast. */
  private def tracedStep(tr: Tracer, daily: Boolean, dayIdx: Option[Int],
      files: java.util.concurrent.atomic.AtomicLong): Try[Seq[RunReport]] = Try {
    val day = dayIdx.fold(plan.windowStart)(plan.window(_))
    tr.span("etl", if (daily) s"day${dayIdx.get + 1}" else "full") {
      val parent = tr.currentSpan
      val pool = Executors.newFixedThreadPool(tablePool)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futures = Inputs.Specs.map { spec =>
          Future(Try(tr.span("etl", s"table:${spec.name}", parent)(
            replayTable(tr, spec, daily, day, files))))
        }
        val results = Await.result(Future.sequence(futures), Duration.Inf)
        results.collect { case Failure(e) => throw e }
        results.collect { case Success(Some(r)) => r }
      } finally pool.shutdown()
    }
  }

  private def tracedCycle(tr: Tracer,
      files: java.util.concurrent.atomic.AtomicLong): (Double, Seq[Try[Seq[RunReport]]]) = {
    val (reports, wall) = seconds {
      tracedStep(tr, daily = false, None, files) +:
        plan.window.indices.map(k => tracedStep(tr, daily = true, Some(k), files))
    }
    reports.zipWithIndex.foreach { case (r, i) =>
      check(if (i == 0) "traced/full" else s"traced/day$i", if (i == 0) None else Some(i - 1), r)
    }
    (wall, reports)
  }

  private def layerMetrics(tree: Tracer.Tree, cycles: Int, loadedRows: Long): Unit = {
    val m = result.metrics
    val mb = 1024.0 * 1024.0
    def per(x: Double) = x / cycles
    def sumWall(layer: String, name: String) =
      tree.byLayer(layer).filter(_.name == name).map(_.wallS).sum
    def sumTotal(layer: String, name: String) = {
      val c = new Counters
      tree.byLayer(layer).filter(_.name == name).foreach(s => c.add(tree.total(s)))
      c
    }
    val steps = tree.byLayer("etl").filter(s => !s.name.startsWith("table:"))
    val tables = tree.byLayer("etl").filter(_.name.startsWith("table:"))
    val tableTotals = new Counters
    tables.foreach(s => tableTotals.add(tree.total(s)))
    val stepWall = steps.map(_.wallS).sum

    m("etl.jobs_per_table") = tableTotals.jobs.toDouble / tables.size
    m("etl.driver_s") = per(tables.map(tree.driverS).sum)
    m("etl.table_overlap") = tables.map(_.wallS).sum / stepWall

    val audit = sumTotal("sinks", "audit")
    m("sources.open_s") = per(sumWall("sources", "open") + sumWall("sources", "incremental"))
    m("sources.input_mb") = per((tableTotals.inputBytes - audit.inputBytes) / mb)
    m("sources.rows_read_per_loaded") =
      (tableTotals.inputRecords - audit.inputRecords).toDouble / loadedRows
    val guard = sumTotal("transforms", "guard")
    m("transforms.guard_s") = per(sumWall("transforms", "guard"))
    m("transforms.guard_jobs") = per(guard.jobs.toDouble)
    m("transforms.plan_s") = per(sumWall("transforms", "plan"))
    val enforce = sumTotal("schema", "enforce_count")
    m("schema.enforce_count_s") = per(sumWall("schema", "enforce_count"))
    m("schema.enforce_count_task_s") = per(enforce.taskMs / 1e3)
    val write = sumTotal("sinks", "write")
    m("sinks.write_s") = per(sumWall("sinks", "write"))
    m("sinks.write_task_s") = per(write.taskMs / 1e3)
    m("sinks.shuffle_write_mb") = per(write.shuffleWrite / mb)
    m("sinks.spill_mb") = per(write.spill / mb)
    m("sinks.output_mb") = per(write.outputBytes / mb)
    m("sinks.audit_s") = per(sumWall("sinks", "audit"))
    m("sinks.audit_input_mb") = per(audit.inputBytes / mb)
    val all = new Counters
    steps.foreach(s => all.add(tree.total(s)))
    SparkLayer.put(m, all, stepWall / cycles, per(steps.map(tree.driverS).sum), cycles)
  }

  // ---- run -----------------------------------------------------------

  def run(): SparkSession = {
    // the Derby load is input generation, not set-up; the DB is shut down
    // again so the set-up pays its boot like a fresh process would
    val genS = if (!jdbc) 0.0 else seconds {
      Inputs.loadDerby(jdbcCfg.url, s"$runDir/derby_csv")
      shutdownDerby()
    }._2
    setUp()
    val setupS = (System.currentTimeMillis() - opts.t0Ms) / 1e3 - genS
    result.info("gen_s") = JDouble(genS)
    result.info("out_dir") = JString(outDir)

    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    if (!opts.trace) {
      val fulls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val days = scala.collection.mutable.ArrayBuffer.empty[Double]
      val heap = new Main.HeapPeak
      try {
          var c = 0
          while (c == 0 || System.nanoTime() < deadline) {
            c += 1
            val (f, ds, _) = cycle(s"cycle$c", FullRepeats)
            fulls ++= f; days ++= ds
          }
      } finally heap.close()
      result.metrics("setup_s") = setupS
      result.metrics("full_s") = median(fulls.toSeq)
      result.metrics("daily_s_p50") = median(days.toSeq)
      result.metrics("heap_peak_mb") = heap.peakBytes / (1024.0 * 1024.0)
      result.info("full_s_samples") = JArray(fulls.map(JDouble(_)).toList)
      result.info("daily_s_samples") = JArray(days.map(JDouble(_)).toList)
    } else {
      // untraced and traced cycles alternate, closing with an untraced one,
      // so the overhead compares like with like; only traced cycles feed
      // the layer metrics
      val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
      val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
      // attached after the first untraced cycle, so that one runs without the listener
      lazy val tr = new Tracer(spark)
      val files = new java.util.concurrent.atomic.AtomicLong()
      var loaded = 0L
      var replayEqual = true
      val heap = new Main.HeapPeak
      try {
        while (traced.isEmpty || System.nanoTime() < deadline) {
          val (f, ds, plainReports) = cycle(s"untraced${plain.size + 1}", 1)
          plain += f.sum + ds.sum
          val (wall, tracedReports) = tracedCycle(tr, files)
          traced += wall
          loaded += tracedReports.flatMap(_.toOption).flatten.map(_.loaded).sum
          def norm(r: Try[Seq[RunReport]]) = r.toOption.map(_.sortBy(_.table))
          replayEqual &&= plainReports.map(norm) == tracedReports.map(norm)
        }
        val (f, ds, _) = cycle(s"untraced${plain.size + 1}", 1)
        plain += f.sum + ds.sum
      } finally heap.close()
      result.metrics("spark.heap_peak_mb") = heap.peakBytes / (1024.0 * 1024.0)
      if (!replayEqual)
        result.fail("traced", "replay", "CheckFailed", "replayed RunReports differ from Etl.run's")
      val tree = tr.finish()
      result.info("spans") = tree.summary
      layerMetrics(tree, traced.size, loaded)
      result.metrics("sinks.files_written") = files.get.toDouble / traced.size
      result.metrics("trace.overhead_s") = median(traced.toSeq) - median(plain.toSeq)
      result.info("replay_reports_equal") = JBool(replayEqual)
      result.info("traced_cycle_s") = JArray(traced.map(JDouble(_)).toList)
      result.info("untraced_cycle_s") = JArray(plain.map(JDouble(_)).toList)
    }
    spark
  }
}

/** The `spark` layer: runtime counters under every span of a traced run. */
object SparkLayer {
  def put(m: scala.collection.mutable.Map[String, Double], all: Counters, wallS: Double,
      driverS: Double, cycles: Int): Unit = {
    val mb = 1024.0 * 1024.0
    m("spark.jobs") = all.jobs.toDouble / cycles
    m("spark.tasks") = all.tasks.toDouble / cycles
    m("spark.task_s") = all.taskMs / 1e3 / cycles
    m("spark.gc_s") = all.gcMs / 1e3 / cycles
    m("spark.driver_s") = driverS
    m("spark.busy_ratio") = (all.taskMs / 1e3 / cycles) / (wallS * Main.cpus)
    m("spark.shuffle_write_mb") = all.shuffleWrite / mb / cycles
    m("spark.spill_mb") = all.spill / mb / cycles
  }
}

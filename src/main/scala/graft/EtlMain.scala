package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.model.SchemaRegistry
import graft.sources.Tables

/** CLI entry point — the Spark rendering of `run_etl.sh` +
  * `etl_process.py [--daily]` (E1/E2 in SURVEY.md §3).
  *
  * Usage: EtlMain <config-file> [--daily] [--day=YYYY-MM-DD | --day YYYY-MM-DD]
  *
  * The config file uses the reference's KEY=VALUE grammar (`config.py:8-24`,
  * parsed by [[Credentials.parse]]):
  *
  * {{{
  * SOURCE_DIR = /data/landing            # parquet dir: <dir>/<table>.parquet
  * OUT_DIR = /data/warehouse
  * TABLES = backup_log, daily_log, servers_temp
  * REGISTRY = /configs/tables.json       # {table: [{"name":..,"type":..}]}
  * INCREMENTAL_COL.daily_log = backup_date
  * PARTITION_FIELD.daily_log = BackupDate
  * LOG_DIR = /backup/logs                # optional: O4 dated run-log files
  * }}}
  *
  * `--daily` switches incremental-extract + append-load (E2); default is
  * full refresh with truncate (E1). `--day` pins the incremental day
  * (defaults to yesterday, like `mysql_operations.py:22`). Any other flag
  * is refused: a mistyped `--daily` would otherwise run a full refresh and
  * truncate every destination.
  */
object EtlMain {

  def main(args: Array[String]): Unit = {
    // accept both `--day=YYYY-MM-DD` and `--day YYYY-MM-DD`
    val usage = "usage: EtlMain <config-file> [--daily] [--day=YYYY-MM-DD]"
    var daily = false
    var dayOpt: Option[LocalDate] = None
    val positional = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--daily" => daily = true; i += 1
        case "--day" if i + 1 < args.length =>
          dayOpt = Some(LocalDate.parse(args(i + 1))); i += 2
        case "--day" =>
          // a trailing bare --day silently falling back to "yesterday"
          // would load the wrong day's partition without a hint
          throw new IllegalArgumentException("--day requires a date: --day=YYYY-MM-DD")
        case a if a.startsWith("--day=") =>
          dayOpt = Some(LocalDate.parse(a.drop(6))); i += 1
        case a if a.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag $a; $usage")
        case a => positional += a; i += 1
      }
    }
    require(positional.length == 1, usage)
    val day = dayOpt.getOrElse(LocalDate.now().minusDays(1))

    val conf = Credentials.parse(Files.readString(Paths.get(positional(0))))
    def required(k: String): String =
      conf.getOrElse(k, throw new IllegalArgumentException(s"config key $k missing"))
    val sourceDir = required("SOURCE_DIR")
    val outDir = required("OUT_DIR")
    val tables = required("TABLES").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val registry = SchemaRegistry.fromJson(Files.readString(Paths.get(required("REGISTRY"))))

    val specs = tables.map { t =>
      Etl.TableSpec(t,
        incrementalCol = conf.get(s"INCREMENTAL_COL.$t"),
        dayPartitionField = conf.get(s"PARTITION_FIELD.$t"))
    }

    // if a session already exists (tests, notebooks, a hosting app),
    // getOrCreate returns it — and stopping a session this CLI didn't
    // create would yank it out from under the host.
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = GraftSession.getOrCreate(master = sys.env.get("SPARK_MASTER"))
    // O4: dated-file run log (LOG_DIR config key; stdout always mirrors).
    // The file-name date comes from RunLog's own clock, so name and line
    // timestamps can never disagree across a midnight boundary.
    val runLog = conf.get("LOG_DIR").map(d => new RunLog(Paths.get(d)))
    def logLine(s: String): Unit = { println(s); runLog.foreach(_.info(s)) }
    try {
      val reports = Etl.run(
        spark, specs, name => Tables.load(spark, sourceDir, name),
        registry, outDir, daily = daily, day = day)
      reports.foreach { r =>
        logLine(s"[etl] table=${r.table} extracted=${r.extracted} loaded=${r.loaded} total=${r.total}")
      }
      val skipped = tables.toSet -- reports.map(_.table).toSet
      skipped.foreach(t => logLine(s"[etl] table=$t skipped (empty extract)"))
    } catch {
      case e: Throwable =>
        runLog.foreach(_.error(s"[etl] run failed: ${e.getMessage}"))
        throw e
    } finally if (preexisting.isEmpty) spark.stop()
  }
}

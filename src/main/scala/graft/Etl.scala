package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.SchemaRegistry
import graft.operators.Transforms
import graft.sources.{Sinks, Tables}

/** O5: `KEY=VALUE` credential/config file grammar (`config.py:8-24`). */
object Credentials {
  def parse(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.take(i).trim -> l.drop(i + 1).trim
      }
      .toMap
}

/** Orchestration (O1-O3): per-table Extract → (empty guard) → Transform →
  * Load, the Spark rendering of `etl_process.py:12-29`.
  *
  * Unlike the reference's sequential loop (`etl_process.py:18`), tables run
  * concurrently — each pipeline is an independent lazy DataFrame chain, so
  * driver threads just overlap their job submissions; executors then
  * schedule tasks from all pipelines. Errors stay fail-fast per reference O3
  * ("first error aborts the whole run") by running the tables on
  * [[Overlap.map]], whose failure rule keeps a running truncate whole.
  */
object Etl {

  /** Tables in flight at once. */
  private val Parallelism = 4

  /** Which tables get incremental extraction in daily mode and which sink
    * gets DAY partitioning, mirroring `mysql_operations.py:21` and
    * `bigquery_operations.py:30-34`.
    */
  final case class TableSpec(
      name: String,
      incrementalCol: Option[String] = None,
      dayPartitionField: Option[String] = None)

  final case class RunReport(table: String, extracted: Long, loaded: Long, total: Long)

  def runTable(
      spark: SparkSession,
      spec: TableSpec,
      source: String => DataFrame,
      registry: SchemaRegistry.Registry,
      outBase: String,
      daily: Boolean,
      day: LocalDate): Option[RunReport] = {
    val raw = source(spec.name)
    val extracted = spec.incrementalCol match {
      case Some(c) if daily => Tables.incremental(raw, c, day)
      case _                => raw
    }
    val sink = Sinks.parquetAdapter(spark, s"$outBase/${spec.name}", Some(spec.name))
    // P7: skip transform+load on empty extract (etl_process.py:21,24-25).
    // Where an empty write leaves the destination as it was (a DAY-
    // partitioned append into an existing table), the write is the probe:
    // a count of 0 skips the table as the guard would have, and the source
    // is not scanned twice. Elsewhere the guard's limit(1) probe runs first.
    val writeProbes = sink.emptyWriteIsNoOp(daily, spec.dayPartitionField)
    val toLoad = if (writeProbes) Some(extracted) else Transforms.nonEmptyGuard(extracted)
    toLoad.flatMap { df =>
      val report = Sinks.loadVia(sink, Transforms.forTable(spec.name)(df),
        SchemaRegistry.schemaFor(registry, spec.name), daily, spec.dayPartitionField)
      // transforms are row-preserving (rename/drop/cast), so the rows the
      // write job counted ARE the extract count: the source is scanned once,
      // by the write, and rowsTotal is the K5 read-back of the destination.
      Option.when(report.rowsLoaded > 0 || !writeProbes)(
        RunReport(spec.name, report.rowsLoaded, report.rowsLoaded, report.rowsTotal))
    }
  }

  def run(
      spark: SparkSession,
      specs: Seq[TableSpec],
      source: String => DataFrame,
      registry: SchemaRegistry.Registry,
      outBase: String,
      daily: Boolean = false,
      day: LocalDate = LocalDate.now().minusDays(1)): Seq[RunReport] =
    Overlap.map(specs, Parallelism)(
      runTable(spark, _, source, registry, outBase, daily, day)).flatten
}

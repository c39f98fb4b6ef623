package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet-backed table source over the harness testdata layout
  * (`<sfDir>/<table>.parquet`).
  *
  * Mirrors the reference's source surface: full scan (S1) and incremental
  * scan (S2) from `mysql_operations.py:15-41`, catalog discovery (S3) and
  * allowlisting (S4) from `mysql_operations.py:43-55`. The production JDBC
  * path lives in [[Jdbc]]; this file is the file-based equivalent the
  * verification harness exercises.
  */
object Tables {

  /** Event-time columns normalized to session-zone TIMESTAMP on load. The
    * corpus has shipped two on-disk forms: TIMESTAMP(NANOS), which Spark
    * reads as LongType under `spark.sql.legacy.parquet.nanosAsLong=true`
    * (divided to micros with integer `div` — a double division would lose
    * precision on ~1.7e18 nano values), and plain `timestamp[us]` with no
    * timezone, which Spark 4 infers as TIMESTAMP_NTZ. NTZ is rejected by
    * watermarks and `unix_micros`, so it casts to TIMESTAMP — under the
    * UTC sessions every entry point pins, the wall clock (and therefore
    * the DuckDB-oracle strings) is unchanged.
    */
  private val eventTimeColumns: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** S1: full table scan. Column pruning + predicate pushdown are Catalyst's
    * job — callers just compose on the returned (lazy) DataFrame.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTime(name, readParquet(spark, s"$sfDir/$name.parquet"))

  /** `spark.read.parquet(path)` with the schema inferred once per
    * (session, path, file set): inference is a Spark job that reads a
    * footer, paid on every open otherwise. The key is the path's
    * [[graft.SessionMemo.pathFingerprint]], so a rewritten path re-infers;
    * each load still lists the path's files (driver only).
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.SessionMemo.cachedForPath(spark, path, "parquet-schema") {
      spark.read.parquet(path).schema
    }).parquet(path)

  private def normalizeEventTime(name: String, raw: DataFrame): DataFrame =
    eventTimeColumns.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
      if (!df.columns.contains(c)) df
      else df.schema(c).dataType match {
        case LongType => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
        case _ => df
      }
    }

  /** S2: incremental ("daily") scan — the `WHERE DATE(backup_date) = d`
    * semantics of `mysql_operations.py:21-23`, written as the equivalent
    * half-open timestamp range rather than `to_date(col) === d`: plain
    * attribute-vs-literal comparisons are pushable by every source
    * (parquet row-group skipping, JDBC WHERE translation), with no
    * reliance on the optimizer unwrapping the date cast.
    */
  def incremental(df: DataFrame, tsCol: String, day: java.time.LocalDate): DataFrame = {
    val (lo, hi) = dayBounds(df.schema(tsCol).dataType, day)
    df.filter(col(tsCol) >= lo && col(tsCol) < hi)
  }

  /** Half-open [day, day+1) bounds as literals of the COLUMN's own type, so
    * the comparison stays attribute-vs-literal (pushable) with no implicit
    * cast on either side. TIMESTAMP_NTZ gets wall-clock bounds (timezone-
    * free by definition); TIMESTAMP gets UTC-pinned instants — derived from
    * `ZoneOffset.UTC`, never the JVM default zone, so a non-UTC JVM computes
    * the same range as the UTC session the engine pins everywhere else.
    */
  private[sources] def dayBounds(
      dt: org.apache.spark.sql.types.DataType,
      day: java.time.LocalDate): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    dt match {
      case TimestampNTZType =>
        (lit(day.atStartOfDay()), lit(day.plusDays(1).atStartOfDay()))
      case DateType =>
        (lit(java.sql.Date.valueOf(day)), lit(java.sql.Date.valueOf(day.plusDays(1))))
      case _ =>
        val z = java.time.ZoneOffset.UTC
        (lit(day.atStartOfDay(z).toInstant), lit(day.plusDays(1).atStartOfDay(z).toInstant))
    }

  /** S2 fused with the scan: the day range filters the RAW on-disk
    * column, with bounds of its own type (epoch nanos for a nanos-backed
    * event-time column, else [[dayBounds]]), BELOW [[load]]'s event-time
    * normalization. The comparison stays attribute-vs-literal and reaches
    * the parquet scan (row-group skipping); filtering the converted column
    * cannot push.
    */
  def loadIncremental(
      spark: SparkSession,
      sfDir: String,
      name: String,
      tsCol: String,
      day: java.time.LocalDate): DataFrame = {
    val raw = readParquet(spark, s"$sfDir/$name.parquet")
    val (lo, hi) = raw.schema(tsCol).dataType match {
      case LongType if eventTimeColumns.getOrElse(name, Nil).contains(tsCol) =>
        def nanos(d: java.time.LocalDate) =
          lit(d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L)
        (nanos(day), nanos(day.plusDays(1)))
      case dt => dayBounds(dt, day)
    }
    normalizeEventTime(name, raw.filter(col(tsCol) >= lo && col(tsCol) < hi))
  }

  /** S3: catalog discovery — the parquet-directory analogue of
    * `SHOW FULL TABLES WHERE Table_type = 'BASE TABLE'`
    * (`mysql_operations.py:50`). Local listing; a cluster deployment would
    * swap in the Hadoop FileSystem API or a catalog, same contract.
    */
  def discover(sfDir: String): Seq[String] = {
    val files = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
    files.toSeq.map(_.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** S4: allowlist filter (`mysql_operations.py:45,51`). */
  def allowlisted(tables: Seq[String], allowed: Set[String]): Seq[String] =
    tables.filter(allowed)

  /** S3+S4 as a DataFrame, for oracle-comparable query registration. */
  def catalog(spark: SparkSession, sfDir: String, allowed: Option[Set[String]] = None): DataFrame = {
    import spark.implicits._
    val names = allowed.fold(discover(sfDir))(a => allowlisted(discover(sfDir), a))
    names.toDF("table_name").orderBy("table_name")
  }
}

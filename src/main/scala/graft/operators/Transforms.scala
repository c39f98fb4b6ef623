package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, TimestampNTZType, TimestampType}

/** Per-table transform pipelines — the Spark re-expression of
  * `transformations.py` plus the extract-side datetime reformat
  * (`mysql_operations.py:30-31`). All pure `DataFrame => DataFrame`
  * functions; lazily composed, so Catalyst sees one plan end-to-end instead
  * of the reference's eager pandas stages.
  */
object Transforms {

  /** The reference's datetime wire format (`mysql_operations.py:30`). */
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss"

  /** P1: reformat every timestamp column to a string — type-driven column
    * selection, matching the `select_dtypes(include=['datetime64[ns]'])`
    * loop at `mysql_operations.py:30-31`.
    */
  def formatTimestamps(df: DataFrame, fmt: String = TimestampFormat): DataFrame = {
    // Parquet TIMESTAMP with isAdjustedToUTC=false arrives as TIMESTAMP_NTZ
    // in Spark 4; both flavors are "datetime" for the reference's purposes.
    val tsCols = df.schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
    }
    if (tsCols.isEmpty) df
    else df.withColumns(tsCols.map(c => c -> date_format(col(c), fmt)).toMap)
  }

  /** P2: mapping-based rename, tolerant of absent sources like
    * `pandas.rename` (`transformations.py:10-19`).
    */
  def renameColumns(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val present = mapping.filter { case (from, _) => df.columns.contains(from) }
    if (present.isEmpty) df else df.withColumnsRenamed(present)
  }

  /** P3: column drop, absence-tolerant (`errors='ignore'`,
    * `transformations.py:20`). Pre-filtered to exact-case matches: pandas
    * column labels are case-sensitive, while Spark's `drop` resolves
    * case-insensitively under the default `spark.sql.caseSensitive=false` —
    * without the filter, dropping `fileName` would silently take the renamed
    * `FileName` with it.
    */
  def dropColumns(df: DataFrame, cols: String*): DataFrame =
    df.drop(cols.filter(df.columns.contains): _*)

  /** P4: boolean cast of named columns, guarded by presence
    * (`transformations.py:33-37`; `astype(bool)` == nonzero→true, which is
    * Spark's numeric→boolean cast semantics).
    */
  def castBooleans(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) df
    else df.withColumns(present.map(c => c -> col(c).cast(BooleanType)).toMap)
  }

  /** `daily_log` rename map (`transformations.py:11-18`); identity entries
    * kept so the map is the documented full column contract.
    */
  val dailyLogRenames: Map[String, String] = Map(
    "ID"          -> "ID",
    "backup_date" -> "BackupDate",
    "server"      -> "Server",
    "database"    -> "Database",
    "size"        -> "Size",
    "state"       -> "State",
    "last_update" -> "LastUpdate",
    "fileName"    -> "FileName")

  /** `backup_log` rename map — an identity no-op in the reference
    * (`transformations.py:24-29`), preserved as documentation.
    */
  val backupLogRenames: Map[String, String] =
    Seq("id", "backup_date", "server", "size", "filepath", "last_update")
      .map(c => c -> c).toMap

  /** `database_list` boolean columns (`transformations.py:33-34`). */
  val databaseListBoolColumns: Seq[String] = Seq(
    "sun", "mon", "tue", "wed", "thu", "fri", "sat",
    "encrypted", "ssl", "backup", "load", "size", "active")

  /** P5: per-table dispatch with pass-through default
    * (`transformations.py:6-74`; unknown tables fall through unchanged,
    * which is how `servers_temp` flows).
    *
    * `daily_log` renames `fileName`→`FileName` FIRST, so the subsequent
    * `drop(columns=['fileName'], errors='ignore')` at `transformations.py:20`
    * is a no-op on a source that had `fileName` — the reference's transform
    * output KEEPS `FileName`. Replicated order-faithfully here: the drop
    * names only the source-cased spelling, and only the write-side schema
    * enforcement ([[graft.model.SchemaRegistry.enforce]]) excludes it when
    * the registry doesn't declare it.
    */
  val forTable: Map[String, DataFrame => DataFrame] = Map(
    "daily_log" -> ((df: DataFrame) =>
      dropColumns(renameColumns(df, dailyLogRenames), "fileName")),
    "backup_log" -> ((df: DataFrame) => renameColumns(df, backupLogRenames)),
    "database_list" -> ((df: DataFrame) => castBooleans(df, databaseListBoolColumns))
  ).withDefaultValue(identity[DataFrame])

  /** P7: empty-input guard (`etl_process.py:21,24-25`) — the reference skips
    * transform+load when the extract is empty. `isEmpty` is a `limit(1)`
    * probe, not a full count, but on a remote source it is still a second
    * query before the load's own scan. `Etl.runTable` therefore runs it
    * only where an empty write would change the destination: a truncate
    * (it would empty the table), an unpartitioned append (it adds a
    * schema-only part file), a first load (it creates the directory) and
    * any sink leg not shown otherwise (BigQuery). A DAY-partitioned append
    * into an existing table skips it: its write's own row count decides.
    */
  def nonEmptyGuard(df: DataFrame): Option[DataFrame] =
    if (df.isEmpty) None else Some(df)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Structural BigQuery sink adapter — the production write path mirroring
  * the reference's load job (`bigquery_operations.py:21-48`), expressed as
  * the public `spark-bigquery-connector` options map the same way
  * [[Jdbc]] structurally mirrors the SQLAlchemy extract side:
  *
  *  - table ref `project.dataset.table` (`bigquery_operations.py:24`);
  *  - DAY time-partitioning on a declared field → `partitionField` +
  *    `partitionType=DAY` options (`bigquery_operations.py:30-34`);
  *  - write disposition: daily ⇒ WRITE_APPEND ⇒ `SaveMode.Append`,
  *    full ⇒ WRITE_TRUNCATE ⇒ `SaveMode.Overwrite`
  *    (`bigquery_operations.py:36`);
  *  - declared schema bound before the write (`bigquery_operations.py:27`)
  *    — handled by [[graft.model.SchemaRegistry.enforce]] via the
  *    [[Sinks.SinkAdapter]] seam, exactly as on the parquet path.
  *
  * The connector jar and network are absent in this environment, so
  * `adapter()` is exercised structurally (option map + mode unit tests);
  * the parquet twin carries the verified end-to-end behavior.
  */
final case class BigQuerySinkConfig(
    project: String,
    dataset: String,
    // "direct" = BigQuery Storage Write API; "indirect" stages via GCS and
    // needs temporaryGcsBucket.
    writeMethod: String = "direct",
    temporaryGcsBucket: Option[String] = None)

object BigQuerySink {

  def tableRef(cfg: BigQuerySinkConfig, table: String): String =
    s"${cfg.project}.${cfg.dataset}.$table"

  /** The reference's WRITE_APPEND / WRITE_TRUNCATE split. */
  def saveMode(daily: Boolean): SaveMode =
    if (daily) SaveMode.Append else SaveMode.Overwrite

  /** Connector options for one table write. */
  def options(
      cfg: BigQuerySinkConfig,
      table: String,
      dayPartitionField: Option[String]): Map[String, String] = {
    val base = Map(
      "table" -> tableRef(cfg, table),
      "writeMethod" -> cfg.writeMethod)
    val gcs = cfg.temporaryGcsBucket.map("temporaryGcsBucket" -> _)
    val part = dayPartitionField.toSeq.flatMap(f =>
      Seq("partitionField" -> f, "partitionType" -> "DAY"))
    base ++ gcs ++ part
  }

  /** The BigQuery leg of the sink seam. `write` counts its rows inside the
    * load job, like the parquet leg; `countAudit` is the
    * `get_table(...).num_rows` read-back (`bigquery_operations.py:46-48`),
    * spelled as a connector read so it stays a metadata-only count. Whether
    * an empty load job leaves the table untouched cannot be checked here,
    * so `emptyWriteIsNoOp` stays false and callers keep their empty-input
    * guard on this leg.
    */
  def adapter(
      spark: SparkSession,
      cfg: BigQuerySinkConfig,
      table: String): Sinks.SinkAdapter = new Sinks.SinkAdapter {
    val name: String = table
    def write(df: DataFrame, daily: Boolean, dayPartitionField: Option[String]): Long =
      Sinks.countedWrite(tableRef(cfg, table), df) {
        _.write
          .format("bigquery")
          .mode(saveMode(daily))
          .options(options(cfg, table, dayPartitionField))
          .save()
      }
    def countAudit(): Long =
      spark.read.format("bigquery")
        .option("table", tableRef(cfg, table))
        .load()
        .count()
  }
}

package graft.perfbench

import java.time.LocalDate

import graft.Etl.TableSpec
import graft.sources.JdbcDialect

/** The ETL workloads' fixed parts: table specs, the seeded plan
  * `perfbench/inputs.py` generated, and the Derby load.
  */
object Inputs {

  /** Row counts of one ETL input set. `daily` and `backup` hold one entry
    * per day: `histDays` history days, then `windowDays` increment days.
    */
  final case class EtlPlan(
      firstDay: LocalDate,
      histDays: Int,
      windowDays: Int,
      daily: IndexedSeq[Long],
      backup: IndexedSeq[Long],
      servers: Long) {
    def day(i: Int): LocalDate = firstDay.plusDays(i.toLong)
    def windowStart: LocalDate = day(histDays)
    def window: Seq[LocalDate] = (0 until windowDays).map(i => day(histDays + i))
    def rowsPerDay(table: String): IndexedSeq[Long] = table match {
      case "daily_log"  => daily
      case "backup_log" => backup
    }
  }

  /** The reference's allowlisted tables (`mysql_operations.py:45`) with its
    * incremental and DAY-partition choices (`mysql_operations.py:21`,
    * `bigquery_operations.py:30-34`).
    */
  val Specs: Seq[TableSpec] = Seq(
    TableSpec("daily_log", incrementalCol = Some("backup_date"), dayPartitionField = Some("BackupDate")),
    TableSpec("backup_log", incrementalCol = Some("backup_date")),
    TableSpec("servers_temp"))

  /** The plan `perfbench/inputs.py` wrote next to the inputs. */
  def readPlan(runDir: String): EtlPlan = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(runDir, "plan.json")))
    EtlPlan(LocalDate.parse((j \ "first_day").extract[String]),
      (j \ "hist_days").extract[Int], (j \ "window_days").extract[Int],
      (j \ "daily_log").extract[Seq[Long]].toIndexedSeq,
      (j \ "backup_log").extract[Seq[Long]].toIndexedSeq,
      (j \ "servers_temp").extract[Long])
  }

  /** Derby tables with quoted identifiers, so the source keeps the
    * reference's lower-case column names, bulk-loaded from the generator's
    * CSV files.
    */
  private val derbyColumns: Map[String, Seq[(String, String)]] = Map(
    "daily_log" -> Seq("ID" -> "BIGINT", "backup_date" -> "TIMESTAMP", "server" -> "VARCHAR(64)",
      "database" -> "VARCHAR(64)", "size" -> "DOUBLE", "state" -> "VARCHAR(16)",
      "last_update" -> "TIMESTAMP", "fileName" -> "VARCHAR(128)"),
    "backup_log" -> Seq("id" -> "BIGINT", "backup_date" -> "TIMESTAMP", "server" -> "VARCHAR(64)",
      "size" -> "DOUBLE", "filepath" -> "VARCHAR(128)", "last_update" -> "TIMESTAMP"),
    "servers_temp" -> Seq("server" -> "VARCHAR(64)", "ip" -> "VARCHAR(32)", "os" -> "VARCHAR(16)",
      "cpu_pct" -> "DOUBLE", "mem_pct" -> "DOUBLE", "checked_at" -> "TIMESTAMP"))

  def loadDerby(url: String, csvDir: String): Unit = {
    val q = JdbcDialect.Derby.quote _
    val conn = java.sql.DriverManager.getConnection(s"$url;create=true")
    try {
      derbyColumns.foreach { case (t, cols) =>
        conn.createStatement().execute(
          s"CREATE TABLE ${q(t)} (${cols.map { case (c, ty) => s"${q(c)} $ty" }.mkString(", ")})")
        val call = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, ?, ?, ',', '\"', 'UTF-8', 0)")
        call.setString(1, t)
        call.setString(2, s"$csvDir/$t.csv")
        call.execute()
      }
    } finally conn.close()
  }
}

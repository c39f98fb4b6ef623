package graft

import java.sql.DriverManager
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.jdbc.JdbcDialects

import graft.operators.Transforms
import graft.sources.{Jdbc, JdbcConfig, JdbcDialect, Tables, TypedTemporalDialect}

/** Live end-to-end exercise of the JDBC extract path (reference S5,
  * `mysql_operations.py:8-41`) against EMBEDDED Derby — the engine Spark
  * bundles for its Hive metastore, so the real driver-load → partitioned
  * range scan → pushed WHERE → catalog discovery chain runs with no
  * external database or network. The other dialects differ only by the
  * strings this config emits; those are pinned structurally below.
  */
class JdbcSpec extends SparkSpec {

  private lazy val cfg: JdbcConfig = {
    System.setProperty("derby.stream.error.file", "/tmp/derby_test.log")
    val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString + "/db"
    val conn = DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
    val st = conn.createStatement()
    st.execute("CREATE TABLE APP.BACKUPS (ID INT NOT NULL, NAME VARCHAR(32), BACKUP_DATE TIMESTAMP)")
    st.execute("CREATE VIEW APP.BACKUPS_V AS SELECT ID, NAME FROM APP.BACKUPS")
    val ins = conn.prepareStatement("INSERT INTO APP.BACKUPS VALUES (?, ?, ?)")
    (0 until 100).foreach { i =>
      ins.setInt(1, i)
      ins.setString(2, s"row$i")
      // first 40 rows on 2026-03-01, rest on 2026-03-02 (UTC wall-clock;
      // session timezone is UTC so java.sql.Timestamp.valueOf strings and
      // Spark's pushed literals agree)
      ins.setTimestamp(3, java.sql.Timestamp.valueOf(
        if (i < 40) s"2026-03-01 0${i % 10}:15:00" else s"2026-03-02 0${i % 10}:45:00"))
      ins.execute()
    }
    // day boundaries: midnight opens its own day and closes the previous
    Seq(100 -> "2026-03-01 00:00:00", 101 -> "2026-03-02 00:00:00").foreach { case (i, ts) =>
      ins.setInt(1, i)
      ins.setString(2, s"row$i")
      ins.setTimestamp(3, java.sql.Timestamp.valueOf(ts))
      ins.execute()
    }
    st.execute("CREATE TABLE APP.DAYS (ID INT NOT NULL, D DATE)")
    st.execute("INSERT INTO APP.DAYS VALUES (1, '2026-02-28'), (2, '2026-03-01'), " +
      "(3, '2026-03-01'), (4, '2026-03-02')")
    ins.close(); st.close(); conn.close()
    JdbcConfig(s"jdbc:derby:$dir", user = "app", password = "app", dialect = JdbcDialect.Derby)
  }

  test("partitioned full scan reads every row across N range partitions") {
    val df = Jdbc.read(spark, cfg, "APP.BACKUPS", partitioning = Some(("ID", 0L, 100L, 4)))
    assert(df.rdd.getNumPartitions == 4, "partitioned read must fan out to numPartitions tasks")
    assert(df.count() == 102)
    assert(df.columns.map(_.toLowerCase).sorted.sameElements(Array("backup_date", "id", "name")))
  }

  private def scans(df: DataFrame): Seq[RowDataSourceScanExec] =
    df.queryExecution.executedPlan.collectLeaves().collect { case s: RowDataSourceScanExec => s }

  /** The SQL text the JDBC scan sends to the database. */
  private def remoteSql(df: DataFrame): String = scans(df).map { s =>
    s.rdd.getClass.getMethod("getExternalEngineQuery").invoke(s.rdd).toString
  }.mkString

  private def ids(df: DataFrame): Set[Int] = df.select("ID").collect().map(_.getInt(0)).toSet

  test("incremental day filter is pushed into the remote WHERE clause") {
    val day1 = LocalDate.of(2026, 3, 1)
    val df = Tables.incremental(Jdbc.read(spark, cfg, "APP.BACKUPS"), "BACKUP_DATE", day1)
    assert(df.count() == 41, "half-open UTC day range must select exactly day-1 rows")
    // the range predicate must reach the source scan, not run post-scan in
    // Spark — the scan node's (untruncated) metadata lists the pushed
    // filters on BACKUP_DATE
    val pushed = scans(df).map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("GreaterThanOrEqual(BACKUP_DATE") &&
      pushed.contains("LessThan(BACKUP_DATE"),
      s"day bounds not pushed to JDBC source: $pushed")
    // ... as typed timestamp literals holding Spark's own rendering
    val sql = remoteSql(df)
    assert(sql.contains("{ts '2026-03-01 00:00:00.0'}") && sql.contains("{ts '2026-03-02 00:00:00.0'}"),
      s"bounds not sent as typed literals: $sql")
    // midnight lands in the day it opens, never in the day it closes
    assert(ids(df).contains(100) && !ids(df).contains(101))
    val day2 = Tables.incremental(Jdbc.read(spark, cfg, "APP.BACKUPS"), "BACKUP_DATE", day1.plusDays(1))
    assert(day2.count() == 61 && ids(day2).contains(101) && !ids(day2).contains(100))
  }

  test("incremental day filter on a DATE column pushes typed date literals") {
    val df = Tables.incremental(Jdbc.read(spark, cfg, "APP.DAYS"), "D", LocalDate.of(2026, 3, 1))
    assert(ids(df) == Set(2, 3))
    val sql = remoteSql(df)
    assert(sql.contains("{d '2026-03-01'}") && sql.contains("{d '2026-03-02'}"),
      s"bounds not sent as typed literals: $sql")
  }

  test("the empty-extract guard probes a Derby day through the typed wrapper") {
    val day = (d: Int) =>
      Tables.incremental(Jdbc.read(spark, cfg, "APP.BACKUPS"), "BACKUP_DATE", LocalDate.of(2026, 3, d))
    assert(Transforms.nonEmptyGuard(day(5)).isEmpty)
    assert(Transforms.nonEmptyGuard(day(1)).isDefined)
  }

  /** The typed wrapper `JdbcDialects` picks for each product dialect. */
  private def typedDialects: Seq[(String, TypedTemporalDialect)] = {
    Jdbc.read(spark, cfg, "APP.DAYS") // Jdbc's initializer installs the wrappers
    JdbcDialect.all.map { d =>
      val url = s"jdbc:${d.name}://host/db"
      JdbcDialects.get(url) match {
        case t: TypedTemporalDialect => url -> t
        case other => fail(s"$url resolves to ${other.getClass.getName}, not the typed wrapper")
      }
    }
  }

  test("every product dialect renders temporal values as JDBC escape literals") {
    val ts = java.sql.Timestamp.valueOf("2026-03-01 00:00:00")
    val instant = ts.toInstant
    typedDialects.foreach { case (url, d) =>
      // the text inside is Spark's built-in rendering, unchanged
      assert(d.builtin.compileValue(ts) == "'2026-03-01 00:00:00.0'", url)
      assert(d.compileValue(ts) == "{ts '2026-03-01 00:00:00.0'}", url)
      assert(d.compileValue(instant) == s"{ts ${d.builtin.compileValue(instant)}}", url)
      assert(d.compileValue(ts.toLocalDateTime) == "{ts '2026-03-01 00:00:00'}", url)
      assert(d.compileValue(java.sql.Date.valueOf("2026-03-01")) == "{d '2026-03-01'}", url)
      assert(d.compileValue(LocalDate.of(2026, 3, 1)) == "{d '2026-03-01'}", url)
      assert(d.compileValue("2026-03-01") == "'2026-03-01'", url)
      assert(d.compileValue(7) == d.builtin.compileValue(7), url)
    }
  }

  test("the typed wrapper declares every method its built-in dialect overrides") {
    val api = classOf[org.apache.spark.sql.jdbc.JdbcDialect]
    // `$` names are default-argument getters: the inherited ones call the
    // forwarded method, so they need no forward of their own
    def overridesApi(m: java.lang.reflect.Method): Boolean =
      java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.isSynthetic && !m.getName.contains("$") &&
        scala.util.Try(api.getMethod(m.getName, m.getParameterTypes: _*))
          .toOption.exists(_.getDeclaringClass != classOf[Object])
    typedDialects.foreach { case (url, d) =>
      val missing = d.builtin.getClass.getDeclaredMethods.filter(overridesApi).filter { m =>
        scala.util.Try(classOf[TypedTemporalDialect].getDeclaredMethod(m.getName, m.getParameterTypes: _*)).isFailure
      }
      assert(missing.isEmpty, s"$url: not forwarded: ${missing.map(_.getName).sorted.mkString(", ")}")
    }
  }

  test("catalog discovery lists base tables only (views excluded)") {
    val names = Jdbc.discoverBaseTables(spark, cfg, "APP")
      .collect().map(_.getString(0)).toSet
    assert(names.contains("BACKUPS"), s"missing base table in $names")
    assert(!names.contains("BACKUPS_V"), "views must be excluded (reference S3 semantics)")
  }

  test("dialect seams: driver, quoting, catalog SQL per engine") {
    import JdbcDialect._
    assert(MySql.quote("a`b") == "`a``b`")
    assert(Postgres.quote("a\"b") == "\"a\"\"b\"")
    assert(MsSql.quote("a]b") == "[a]]b]")
    assert(Derby.quote("x") == "\"x\"")
    assert(JdbcConfig("u", "u", "p").driver == "com.mysql.cj.jdbc.Driver")
    assert(JdbcConfig("u", "u", "p", dialect = MsSql).driver
      == "com.microsoft.sqlserver.jdbc.SQLServerDriver")
    assert(JdbcConfig("u", "u", "p", dialect = Postgres,
      driverOverride = Some("x.Y")).driver == "x.Y")
    // catalog queries: single-quote escaping of the database literal, and
    // the base-table-only predicate each engine spells
    assert(MySql.catalogQuery("d'b").contains("'d''b'"))
    assert(MySql.catalogQuery("db").contains("table_type = 'BASE TABLE'"))
    assert(MsSql.catalogQuery("db").contains("table_catalog = 'db'"))
    assert(Derby.catalogQuery("APP").contains("TABLETYPE = 'T'"))
  }
}

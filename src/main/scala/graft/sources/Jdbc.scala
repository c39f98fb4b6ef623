package graft.sources

import java.sql.{Connection, ResultSetMetaData, SQLException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.index.TableIndex
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.execution.datasources.v2.TableSampleInfo
import org.apache.spark.sql.jdbc.{JdbcDialects, JdbcSQLQueryBuilder, JdbcType, JdbcDialect => SparkDialect}
import org.apache.spark.sql.types.{DataType, MetadataBuilder}

/** SQL dialect seam for the JDBC source: identifier quoting and catalog
  * discovery differ per engine, and the reference README claims
  * MySQL/MSSQL/PostgreSQL support while implementing only MySQL
  * (`README.md:2` vs `mysql_operations.py`). Each dialect carries its
  * default driver class, its identifier-quote style, and its
  * base-table catalog query (the portable spelling of
  * `SHOW FULL TABLES WHERE Table_type = 'BASE TABLE'`,
  * `mysql_operations.py:31-36`).
  *
  * Derby is here because Spark bundles the embedded Derby engine
  * (`/opt/spark/jars/derby-*.jar`, shipped for the Hive metastore), which
  * makes the WHOLE JDBC path — driver load, partitioned range scan,
  * pushed WHERE clause, catalog discovery — executable end-to-end in a
  * sandbox with no external database (see `JdbcSpec`).
  */
sealed abstract class JdbcDialect(
    val name: String,
    val defaultDriver: String,
    quoteOpen: String,
    quoteClose: String) {
  /** Quote one identifier part, doubling any embedded closer. */
  def quote(id: String): String =
    quoteOpen + id.replace(quoteClose, quoteClose + quoteClose) + quoteClose
  /** Single-quoted SQL string literal (shared across all dialects). */
  protected final def lit(s: String): String = "'" + s.replace("'", "''") + "'"
  /** One-column (`table_name`) query listing base tables of `database`. */
  def catalogQuery(database: String): String
}

object JdbcDialect {
  case object MySql extends JdbcDialect("mysql", "com.mysql.cj.jdbc.Driver", "`", "`") {
    def catalogQuery(database: String): String =
      s"""SELECT table_name FROM information_schema.tables
         | WHERE table_schema = ${lit(database)} AND table_type = 'BASE TABLE'""".stripMargin
  }
  case object Postgres extends JdbcDialect("postgresql", "org.postgresql.Driver", "\"", "\"") {
    def catalogQuery(database: String): String =
      s"""SELECT table_name FROM information_schema.tables
         | WHERE table_schema = ${lit(database)} AND table_type = 'BASE TABLE'""".stripMargin
  }
  case object MsSql extends JdbcDialect(
      "sqlserver", "com.microsoft.sqlserver.jdbc.SQLServerDriver", "[", "]") {
    // MSSQL scopes information_schema per-database; the schema filter is the
    // catalog column there.
    def catalogQuery(database: String): String =
      s"""SELECT table_name FROM information_schema.tables
         | WHERE table_catalog = ${lit(database)} AND table_type = 'BASE TABLE'""".stripMargin
  }
  case object Derby extends JdbcDialect("derby", "org.apache.derby.jdbc.EmbeddedDriver", "\"", "\"") {
    // Derby predates information_schema: base tables are TABLETYPE='T' in
    // SYS.SYSTABLES, schema name via SYSSCHEMAS. The quoted lower-case
    // alias keeps the output column byte-identical across dialects (Derby
    // upper-cases unquoted identifiers).
    def catalogQuery(database: String): String =
      s"""SELECT t.TABLENAME AS "table_name" FROM SYS.SYSTABLES t
         | JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID
         | WHERE s.SCHEMANAME = ${lit(database)} AND t.TABLETYPE = 'T'""".stripMargin
  }
  val all: Seq[JdbcDialect] = Seq(MySql, Postgres, MsSql, Derby)
}

/** Production JDBC source — the Spark-native successor of the reference's
  * SQLAlchemy extract layer (`mysql_operations.py:8-41`).
  *
  * Differences by design:
  *  - credentials go through the options map, never string-interpolated SQL
  *    (the reference f-strings the table name and date into the query,
  *    `mysql_operations.py:23,25` — injection-prone);
  *  - reads are partitioned (`partitionColumn/lowerBound/upperBound/
  *    numPartitions`) so a large table lands as N parallel range scans
  *    instead of one driver-side materialization (`pd.read_sql`,
  *    `mysql_operations.py:27`);
  *  - the incremental predicate is [[Tables.incremental]]'s Column filter
  *    over [[Jdbc.read]], which Catalyst compiles into the remote `WHERE`
  *    clause (observable in the JDBC scan's PushedFilters), equivalent to
  *    `mysql_operations.py:21-23`; its time bounds reach the database as
  *    typed literals ([[TypedTemporalDialect]]).
  *
  * The live path is exercised end-to-end against embedded Derby in
  * `JdbcSpec`; MySQL/Postgres/MSSQL differ only by the options this config
  * emits (driver class, quoting, catalog SQL), pinned structurally there.
  */
final case class JdbcConfig(
    url: String,
    user: String,
    password: String,
    dialect: JdbcDialect = JdbcDialect.MySql,
    driverOverride: Option[String] = None,
    fetchSize: Int = 10000) {
  def driver: String = driverOverride.getOrElse(dialect.defaultDriver)
}

object Jdbc {

  // every product dialect's scans push typed time bounds from here on
  JdbcDialect.all.foreach(d => TypedTemporalDialect.install(s"jdbc:${d.name}:"))

  private def reader(spark: SparkSession, cfg: JdbcConfig) =
    spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("driver", cfg.driver)
      .option("fetchsize", cfg.fetchSize)

  /** S1 over JDBC. `partitioning = (column, lower, upper, n)` splits the scan
    * into n range predicates executed in parallel by n tasks.
    */
  def read(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String,
      partitioning: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = reader(spark, cfg).option("dbtable", table)
    val withParts = partitioning.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", n)
    }
    withParts.load()
  }

  /** S3 over JDBC: base-table discovery through the dialect's catalog
    * query, returning a one-column (`table_name`) frame.
    */
  def discoverBaseTables(spark: SparkSession, cfg: JdbcConfig, database: String): DataFrame =
    reader(spark, cfg)
      .option("dbtable", s"(${cfg.dialect.catalogQuery(database)}) AS t")
      .load()
}

/** Spark's built-in dialect for one URL prefix, with pushed temporal
  * values rendered as JDBC escape literals: `{ts '…'}` for a
  * `Timestamp`/`Instant`/`LocalDateTime`, `{d '…'}` for a
  * `Date`/`LocalDate`. The quoted text inside is exactly the built-in's
  * rendering, so a bound names the same instant; only its SQL type changes.
  * The built-in renders a plain string constant, and an engine that
  * compares a TIMESTAMP column with a string re-parses the constant per
  * row (Derby's `SQLTimestamp.compare` builds calendars for every row a
  * scan qualifies); an escape literal is a typed constant, converted
  * once per statement, which every JDBC driver accepts.
  *
  * Every method the built-in overrides is forwarded, so the wrapper reads,
  * quotes, limits and classifies errors as the built-in does. Predicate
  * compilation is forwarded only where the built-in overrides it
  * (MySQL, PostgreSQL, SQL Server compile with their own SQL builders,
  * bound to the built-in's literal rendering); elsewhere (Derby) Spark's
  * default builder renders each literal through this `compileValue`.
  * `JdbcSpec` fails if a Spark upgrade adds an override not forwarded here.
  */
final class TypedTemporalDialect(val builtin: SparkDialect) extends SparkDialect {

  private val overrides: Set[String] = builtin.getClass.getDeclaredMethods.map(_.getName).toSet

  override def compileValue(value: Any): Any = {
    val escape = value match {
      case _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime => Some("ts")
      case _: java.sql.Date | _: java.time.LocalDate => Some("d")
      case _ => None
    }
    (escape, builtin.compileValue(value)) match {
      case (Some(e), s: String) if s.length >= 2 && s.head == '\'' && s.last == '\'' => s"{$e $s}"
      case (_, rendered) => rendered
    }
  }

  override def compileExpression(expr: Expression): Option[String] =
    if (overrides("compileExpression")) builtin.compileExpression(expr)
    else super.compileExpression(expr)

  override def getJdbcSQLQueryBuilder(options: JDBCOptions): JdbcSQLQueryBuilder =
    if (overrides("getJdbcSQLQueryBuilder")) builtin.getJdbcSQLQueryBuilder(options)
    else super.getJdbcSQLQueryBuilder(options)

  override def canHandle(url: String): Boolean = builtin.canHandle(url)
  override def getCatalystType(
      sqlType: Int, typeName: String, size: Int, md: MetadataBuilder): Option[DataType] =
    builtin.getCatalystType(sqlType, typeName, size, md)
  override def getJDBCType(dt: DataType): Option[JdbcType] = builtin.getJDBCType(dt)
  override def convertJavaTimestampToTimestamp(t: java.sql.Timestamp): java.sql.Timestamp =
    builtin.convertJavaTimestampToTimestamp(t)
  override def convertJavaDateToDate(d: java.sql.Date): java.sql.Date = builtin.convertJavaDateToDate(d)
  override def convertJavaTimestampToTimestampNTZ(t: java.sql.Timestamp): java.time.LocalDateTime =
    builtin.convertJavaTimestampToTimestampNTZ(t)
  override def convertTimestampNTZToJavaTimestamp(ldt: java.time.LocalDateTime): java.sql.Timestamp =
    builtin.convertTimestampNTZToJavaTimestamp(ldt)
  override def quoteIdentifier(colName: String): String = builtin.quoteIdentifier(colName)
  override def getTruncateQuery(table: String, cascade: Option[Boolean]): String =
    builtin.getTruncateQuery(table, cascade)
  override def beforeFetch(connection: Connection, properties: Map[String, String]): Unit =
    builtin.beforeFetch(connection, properties)
  override def isSupportedFunction(funcName: String): Boolean = builtin.isSupportedFunction(funcName)
  override def schemasExists(conn: Connection, options: JDBCOptions, schema: String): Boolean =
    builtin.schemasExists(conn, options, schema)
  override def listSchemas(conn: Connection, options: JDBCOptions): Array[Array[String]] =
    builtin.listSchemas(conn, options)
  override def isCascadingTruncateTable(): Option[Boolean] = builtin.isCascadingTruncateTable()
  override def isSyntaxErrorBestEffort(exception: SQLException): Boolean =
    builtin.isSyntaxErrorBestEffort(exception)
  override def renameTable(oldTable: Identifier, newTable: Identifier): String =
    builtin.renameTable(oldTable, newTable)
  override def getAddColumnQuery(tableName: String, columnName: String, dataType: String): String =
    builtin.getAddColumnQuery(tableName, columnName, dataType)
  override def getRenameColumnQuery(
      tableName: String, columnName: String, newName: String, dbMajorVersion: Int): String =
    builtin.getRenameColumnQuery(tableName, columnName, newName, dbMajorVersion)
  override def getUpdateColumnTypeQuery(
      tableName: String, columnName: String, newDataType: String): String =
    builtin.getUpdateColumnTypeQuery(tableName, columnName, newDataType)
  override def getUpdateColumnNullabilityQuery(
      tableName: String, columnName: String, isNullable: Boolean): String =
    builtin.getUpdateColumnNullabilityQuery(tableName, columnName, isNullable)
  override def getTableCommentQuery(table: String, comment: String): String =
    builtin.getTableCommentQuery(table, comment)
  override def getSchemaCommentQuery(schema: String, comment: String): String =
    builtin.getSchemaCommentQuery(schema, comment)
  override def removeSchemaCommentQuery(schema: String): String = builtin.removeSchemaCommentQuery(schema)
  override def dropSchema(schema: String, cascade: Boolean): String = builtin.dropSchema(schema, cascade)
  override def createIndex(
      indexName: String,
      tableIdent: Identifier,
      columns: Array[NamedReference],
      columnsProperties: java.util.Map[NamedReference, java.util.Map[String, String]],
      properties: java.util.Map[String, String]): String =
    builtin.createIndex(indexName, tableIdent, columns, columnsProperties, properties)
  override def indexExists(
      conn: Connection, indexName: String, tableIdent: Identifier, options: JDBCOptions): Boolean =
    builtin.indexExists(conn, indexName, tableIdent, options)
  override def dropIndex(indexName: String, tableIdent: Identifier): String =
    builtin.dropIndex(indexName, tableIdent)
  override def listIndexes(
      conn: Connection, tableIdent: Identifier, options: JDBCOptions): Array[TableIndex] =
    builtin.listIndexes(conn, tableIdent, options)
  override def isObjectNotFoundException(e: SQLException): Boolean = builtin.isObjectNotFoundException(e)
  override def classifyException(
      e: Throwable,
      condition: String,
      messageParameters: Map[String, String],
      description: String,
      isRuntime: Boolean): Throwable with org.apache.spark.SparkThrowable =
    builtin.classifyException(e, condition, messageParameters, description, isRuntime)
  override def getLimitClause(limit: Integer): String = builtin.getLimitClause(limit)
  override def supportsLimit: Boolean = builtin.supportsLimit
  override def supportsOffset: Boolean = builtin.supportsOffset
  override def supportsTableSample: Boolean = builtin.supportsTableSample
  override def getTableSample(sample: TableSampleInfo): String = builtin.getTableSample(sample)
  override def supportsHint: Boolean = builtin.supportsHint
  override def supportsJoin: Boolean = builtin.supportsJoin
  override def updateExtraColumnMeta(
      conn: Connection, rsmd: ResultSetMetaData, columnIdx: Int, metadata: MetadataBuilder): Unit =
    builtin.updateExtraColumnMeta(conn, rsmd, columnIdx, metadata)
}

object TypedTemporalDialect {

  /** Replace the dialect `JdbcDialects` picks for `url` with its typed
    * wrapper. The built-in leaves the registry (two dialects that both
    * claim a URL fold into Spark's `AggregatedDialect`, which renders
    * values itself), but only after the wrapper is in, so a concurrent
    * lookup never falls through to Spark's no-op dialect. That no-op
    * dialect, returned when nothing claims `url`, is never wrapped: it
    * claims every URL.
    */
  private[sources] def install(url: String): Unit =
    JdbcDialects.get(url) match {
      case d if d.getClass.getName == "org.apache.spark.sql.jdbc.NoopDialect$" => ()
      case d =>
        JdbcDialects.registerDialect(new TypedTemporalDialect(d))
        JdbcDialects.unregisterDialect(d)
    }
}

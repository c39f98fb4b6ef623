package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.SchemaRegistry
import graft.operators.Transforms
import graft.sources.{Sinks, Tables}

/** Reference-parity operators (SURVEY.md §2), each as a named query with a
  * DuckDB oracle. Conventions shared by every registry in this package:
  * results are totally ordered on a unique key, timestamps leave as
  * formatted strings (DuckDB keeps nanos, Spark micros — raw timestamp
  * columns would hash-mismatch), computed integers are cast to BIGINT
  * (Spark's size/row_number return INT where DuckDB returns BIGINT), and
  * float aggregates are rounded.
  */
object ParityQueries {

  private val Fmt = "yyyy-MM-dd HH:mm:ss"
  private val OracleFmt = "%Y-%m-%d %H:%M:%S"

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Deterministic scratch dir for sink-exercising queries; overwrite mode
    * keeps reruns idempotent. Keyed collision-free ([[ScratchKeys]]).
    */
  private def scratch(sfDir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_sink_${ScratchKeys.forPath(sfDir)}/$name"

  /** Inline registry for K1/K6 — same JSON shape as the reference's
    * `MYSQL_to_BigQuery_tables.json` (`config.py:27-29`). Widens customer's
    * INT32 nationkey to INT64, so enforcement visibly does work.
    */
  val registryJson: String =
    """{
      |  "customer": [
      |    {"name": "c_custkey",    "type": "INTEGER"},
      |    {"name": "c_name",       "type": "STRING"},
      |    {"name": "c_nationkey",  "type": "INTEGER"},
      |    {"name": "c_acctbal",    "type": "FLOAT"},
      |    {"name": "c_mktsegment", "type": "STRING"}
      |  ],
      |  "daily_log": [
      |    {"name": "ID",         "type": "INTEGER"},
      |    {"name": "BackupDate", "type": "TIMESTAMP"},
      |    {"name": "Server",     "type": "STRING"},
      |    {"name": "Size",       "type": "FLOAT"}
      |  ]
      |}""".stripMargin

  lazy val registry: SchemaRegistry.Registry = SchemaRegistry.fromJson(registryJson)

  /** The customer registry entry after a migration: `loyalty_tier` added
    * (absent from the source), `c_nationkey` removed (still in the source),
    * `c_mktsegment` moved ahead of `c_acctbal` — all three drift cases.
    */
  lazy val evolvedCustomerSchema: StructType = SchemaRegistry.fromJson(
    """{
      |  "customer": [
      |    {"name": "c_custkey",    "type": "INTEGER"},
      |    {"name": "c_name",       "type": "STRING"},
      |    {"name": "c_mktsegment", "type": "STRING"},
      |    {"name": "c_acctbal",    "type": "FLOAT"},
      |    {"name": "loyalty_tier", "type": "STRING"}
      |  ]
      |}""".stripMargin)("customer")

  /** Events recast to the reference's `daily_log` source shape
    * (FIXTURES.md A): ID, backup_date, server, size, fileName.
    */
  private def eventsAsDailyLog(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(
      col("event_id").as("ID"),
      col("ts").as("backup_date"),
      col("event_type").as("server"),
      col("value").as("size"),
      col("props").as("fileName"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1: full scan, all columns.
    "s1_full_scan" -> ((s, d) => t(s, d, "customer").orderBy("c_custkey")),

    // S2: incremental (daily) scan by date equality on the ts column —
    // the fused path pushes the range onto the raw nanos column.
    "s2_incremental_scan" -> ((s, d) =>
      Tables.loadIncremental(s, d, "events", "ts", java.time.LocalDate.parse("2024-01-15"))
        .select(
          col("event_id"),
          date_format(col("ts"), Fmt).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")),

    // S3: catalog discovery from the data directory.
    "s3_catalog" -> ((s, d) => Tables.catalog(s, d)),

    // S4: discovery intersected with an allowlist.
    "s4_allowlist" -> ((s, d) =>
      Tables.catalog(s, d, Some(Set("events", "lineitem", "orders")))),

    // P1: type-driven timestamp→string reformat (all timestamp columns).
    "p1_date_format" -> ((s, d) =>
      Transforms.formatTimestamps(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),

    // P2+P3+P5: daily_log dispatch — rename to PascalCase; the reference's
    // post-rename drop of 'fileName' is a no-op, so FileName survives.
    "p2_rename_dispatch" -> ((s, d) =>
      Transforms.forTable("daily_log")(eventsAsDailyLog(s, d))
        .select(
          col("ID"),
          date_format(col("BackupDate"), Fmt).as("BackupDate"),
          col("Server"), col("Size"), col("FileName"))
        .orderBy("ID")),

    // P3: absence-tolerant drop.
    "p3_drop" -> ((s, d) =>
      Transforms.dropColumns(t(s, d, "events"), "props", "ts", "no_such_column")
        .orderBy("event_id")),

    // P4: guarded boolean casts (nonzero→true), absent column ignored.
    "p4_bool_cast" -> ((s, d) =>
      Transforms.castBooleans(
          t(s, d, "lineitem")
            .withColumn("ln_flag", col("l_linenumber"))
            .withColumn("disc_flag", col("l_discount")),
          Seq("ln_flag", "disc_flag", "absent_col"))
        .select("l_orderkey", "l_linenumber", "ln_flag", "disc_flag")
        .orderBy("l_orderkey", "l_linenumber")),

    // P5: dispatch default — unknown table passes through unchanged.
    "p5_dispatch_identity" -> ((s, d) =>
      Transforms.forTable("region")(t(s, d, "region")).orderBy("r_regionkey")),

    // P6: date-equality predicate (pushdown-eligible).
    "p6_date_predicate" -> ((s, d) =>
      Tables.incremental(t(s, d, "lineitem"), "l_shipdate",
          java.time.LocalDate.parse("1996-11-01"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber")),

    // P7: empty-input guard — filtered-to-empty extract yields empty output.
    "p7_empty_guard" -> ((s, d) => {
      val probe = t(s, d, "events")
        .filter(col("event_type") === "no_such_type")
        .select("event_id", "user_id")
      Transforms.nonEmptyGuard(probe).getOrElse(probe.limit(0)).orderBy("event_id")
    }),

    // K1+K6: registry-declared schema bound before write (INT32→INT64).
    "k1_schema_enforce" -> ((s, d) =>
      SchemaRegistry.enforce(t(s, d, "customer"),
          SchemaRegistry.schemaFor(registry, "customer"))
        .orderBy("c_custkey")),

    // K1 evolution: the registry gained a column (loyalty_tier → typed
    // NULLs), dropped one (c_nationkey → source column discarded) and
    // reordered the rest — the Evolve policy lands the declared shape; the
    // Strict policy on the same drift is pinned to fail in OperatorsSpec.
    "k6_schema_evolve" -> ((s, d) =>
      SchemaRegistry.evolve(t(s, d, "customer"),
          evolvedCustomerSchema, SchemaRegistry.EvolutionPolicy.Evolve)
        .orderBy("c_custkey")),

    // K2+K3: full-refresh DAY-partitioned write, read back with the derived
    // partition column.
    "k3_partitioned_write" -> ((s, d) => {
      val out = scratch(d, "daily_log")
      val shaped = Transforms.forTable("daily_log")(eventsAsDailyLog(s, d))
      Sinks.write(shaped, out, daily = false, dayPartitionField = Some("BackupDate"))
      s.read.parquet(out)
        .select(
          col("ID"),
          date_format(col("BackupDate"), Fmt).as("BackupDate"),
          col(Sinks.PartitionCol).cast(StringType).as("p_day"))
        .orderBy("ID")
    }),

    // K-extension: z-ordered layout. Events written range-partitioned and
    // sorted on the interleaved (user_id, minute-of-day) z-value — both
    // fit 11 bits — then the landed files are read back and aggregated.
    // The oracle pins ROW PRESERVATION (a layout rewrite moves bytes,
    // never rows); the pruning payoff (every file's footer min/max bounds
    // both keys) is measured in SinksSpec against a time-sorted layout.
    "k7_zorder_scan" -> ((s, d) => {
      val out = scratch(d, "events_zorder")
      val ev = t(s, d, "events")
        .withColumn("minute_of_day", hour(col("ts")) * 60 + minute(col("ts")))
      Sinks.writeZOrdered(ev, out, "user_id", "minute_of_day",
        files = 16, bits = 11)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // K-extension: ORC interchange. The second columnar format Spark
    // ships natively — a "switch from the reference" user may have ORC
    // tables in the lake. Write events to ORC, read back through the ORC
    // reader, aggregate; the oracle pins byte-faithful roundtrip of every
    // value class in the table (ints, doubles, strings, timestamps).
    "k8_orc_roundtrip" -> ((s, d) => {
      val out = scratch(d, "events_orc")
      t(s, d, "events").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"),
          date_format(max(col("ts")), Fmt).as("max_ts"))
        .orderBy("event_type")
    }),

    // K4 made real: NDJSON interchange — the line-delimited JSON format
    // the reference DECLARES for its load jobs (`bigquery_operations.py`'s
    // `source_format=NEWLINE_DELIMITED_JSON`, a latent no-op there; see
    // SURVEY §2.3). Write orders as NDJSON, read back under the declared
    // schema (fail-fast, no inference), and emit every row — pinning
    // text-format fidelity for ints, doubles, strings, and timestamps.
    "k9_json_roundtrip" -> ((s, d) => {
      val out = scratch(d, "orders_ndjson")
      val orders = t(s, d, "orders")
      orders.write.mode("overwrite").json(out)
      s.read.schema(orders.schema).json(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          date_format(col("o_orderdate"), Fmt).as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // CSV interchange under a declared schema: the row-oriented text
    // format every warehouse migration passes through at least once.
    // Quoted, headered write; schema-bound read (no inference — a type
    // drift fails loudly instead of silently widening to string).
    "k10_csv_roundtrip" -> ((s, d) => {
      val out = scratch(d, "customer_csv")
      val cust = t(s, d, "customer")
      cust.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(cust.schema).option("header", "true").csv(out)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // XML interchange via Spark 4's built-in XML source (the spark-xml
    // package folded into core): write supplier under a rowTag, read back
    // under the declared schema (no inference), and emit every row. The
    // xml_probe column carries the XML metacharacters (<, &, ", ') so the
    // roundtrip proves the writer escapes and the reader un-escapes
    // arbitrary text, and numerics must survive the text format.
    "k11_xml_roundtrip" -> ((s, d) => {
      val out = scratch(d, "supplier_xml")
      val sup = t(s, d, "supplier").withColumn("xml_probe",
        concat(col("s_name"), lit(" <&\"'> "), col("s_nationkey").cast("string")))
      sup.write.mode("overwrite").option("rowTag", "supplier").xml(out)
      s.read.schema(sup.schema).option("rowTag", "supplier").xml(out)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 2).as("s_acctbal"), col("xml_probe"))
        .orderBy("s_suppkey")
    }),

    // K-extension: DYNAMIC partition overwrite — the incremental-reload
    // semantics the reference's daily job actually wants (replace ONE
    // day's partition, leave the rest untouched; static overwrite mode
    // would wipe the whole table). Full day-partitioned load, then the
    // earliest day re-loaded with doubled values under
    // partitionOverwriteMode=dynamic; the read-back proves exactly that
    // partition changed.
    "k14_dynamic_overwrite" -> ((s, d) => {
      val out = scratch(d, "events_dynpart")
      val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("day").parquet(out)
      val day0 = ev.agg(min("day")).head.getDate(0).toString
      graft.GraftSession.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        ev.filter(col("day") === lit(day0))
          .withColumn("value", col("value") * 2)
          .write.mode("overwrite").partitionBy("day").parquet(out)
      }
      s.read.parquet(out)
        .groupBy("day")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("sum_value"))
        .orderBy("day")
    }),

    // K-extension: partition-granular retention sweep (TTL) — the
    // lifecycle verb every day-partitioned 100 TB sink runs nightly:
    // partitions older than the window are dropped as whole-directory
    // metadata deletes (O(expired partitions), no rewrite of surviving
    // data). Cutoff = min day + 3 (data-derived, deterministic); the
    // oracle recomputes the surviving window from the raw table, so a
    // sweep that deletes too much or too little hash-mismatches.
    "k17_retention_sweep" -> ((s, d) => {
      val out = scratch(d, "events_retention")
      val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("day").parquet(out)
      val cutoff = java.sql.Date.valueOf(
        ev.agg(min("day")).head.getDate(0).toLocalDate.plusDays(3))
      Sinks.retentionSweep(s, out, "day", cutoff.toString)
      s.read.parquet(out)
        .groupBy("day")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("sum_value"))
        .orderBy("day")
    }),

    // K-extension: zstd-compressed parquet — the storage-efficiency codec
    // switch a 100 TB lake actually flips, and the load path's codec
    // (`Sinks.write`, which k3_partitioned_write runs). Write under zstd,
    // read back, prove content fidelity; SinksSpec pins the load writer's
    // codec and its size against snappy.
    "k13_zstd_roundtrip" -> ((s, d) => {
      val out = scratch(d, "events_zstd")
      t(s, d, "events").write.mode("overwrite")
        .option("compression", "zstd").parquet(out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"),
          date_format(max(col("ts")), Fmt).as("max_ts"))
        .orderBy("event_type")
    }),

    // K-extension: small-file compaction — fragment events into 64 tiny
    // files, compact to a byte-budgeted file count, and prove the rewrite
    // is lossless (the oracle checks content; SinksSpec pins the file-count
    // mechanics). The maintenance pass any append-mode sink needs at scale.
    "k12_compaction" -> ((s, d) => {
      val frag = scratch(d, "events_frag")
      val comp = scratch(d, "events_compact")
      t(s, d, "events").repartition(64).write.mode("overwrite").parquet(frag)
      Sinks.compact(s, frag, comp, targetFileBytes = 8L << 20)
      s.read.parquet(comp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"),
          date_format(max(col("ts")), Fmt).as("max_ts"))
        .orderBy("event_type")
    }),

    // K-extension: bucketed co-located join round-trip through the CATALOG
    // — orders and customer bucketed on the join key, reopened from the
    // catalog and joined. SinksSpec pins the zero-Exchange plan shape;
    // this row pins that the bucketed write+read+join is LOSSLESS on real
    // tables (the oracle checks joined content, not layout).
    "k15_bucketed_join" -> ((s, d) => {
      val key = ScratchKeys.forPath(d)
      Seq(s"b_orders_$key", s"b_customer_$key")
        .foreach(Sinks.dropManagedTable(s, _))
      Sinks.writeBucketedTable(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"b_orders_$key", buckets = 8, bucketCol = "o_custkey")
      Sinks.writeBucketedTable(
        t(s, d, "customer").select("c_custkey", "c_mktsegment"),
        s"b_customer_$key", buckets = 8, bucketCol = "c_custkey")
      s.table(s"b_orders_$key")
        .join(s.table(s"b_customer_$key"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // K-extension: single-key sorted (clustered) layout — lineitem's fact
    // shape written range-partitioned + sorted on ship date, the
    // complementary layout to k7's z-order (perfect pruning on ONE key).
    // The oracle pins ROW PRESERVATION (a layout rewrite moves bytes,
    // never rows); the disjoint per-file min/max ranges — the pruning
    // payoff — are pinned in SinksSpec.
    "k16_sorted_layout" -> ((s, d) => {
      val out = scratch(d, "orders_sorted")
      Sinks.writeSortedLayout(t(s, d, "orders"), out, "o_orderdate",
        files = 12, tieBreak = Seq("o_orderkey"))
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          date_format(col("o_orderdate"), Fmt).as("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // K5: post-load row-count audit — the product's own footer audit,
    // emitted as the one-row `n` frame the oracle checks.
    "k5_count_audit" -> ((s, d) => {
      val out = scratch(d, "customer_audit")
      Sinks.write(t(s, d, "customer"), out)
      s.range(1).select(lit(Sinks.countAudit(s, out)).as("n"))
    })
  )

  val oracles: Map[String, String] = Map(
    "s1_full_scan" -> "SELECT * FROM customer ORDER BY c_custkey",

    "s2_incremental_scan" ->
      s"""SELECT event_id, strftime(ts, '$OracleFmt') AS ts, user_id, event_type, value, props
         |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15' ORDER BY event_id""".stripMargin,

    "s3_catalog" ->
      """SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),
        |('lineitem'),('nation'),('orders'),('part'),('region'),('supplier'))
        |AS t(table_name) ORDER BY table_name""".stripMargin,

    "s4_allowlist" ->
      """SELECT * FROM (VALUES ('events'),('lineitem'),('orders'))
        |AS t(table_name) ORDER BY table_name""".stripMargin,

    "k15_bucketed_join" ->
      """SELECT c_mktsegment, count(1)::BIGINT AS n_orders,
        |  round(sum(o_totalprice) + 0.000000001, 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "p1_date_format" ->
      s"""SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '$OracleFmt') AS l_shipdate
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p2_rename_dispatch" ->
      s"""SELECT event_id AS ID, strftime(ts, '$OracleFmt') AS BackupDate,
         |event_type AS Server, value AS Size, props AS FileName
         |FROM events ORDER BY ID""".stripMargin,

    "p3_drop" ->
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id",

    "p4_bool_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_linenumber AS BOOLEAN) AS ln_flag,
        |CAST(l_discount AS BOOLEAN) AS disc_flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p5_dispatch_identity" -> "SELECT * FROM region ORDER BY r_regionkey",

    "p6_date_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) = DATE '1996-11-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p7_empty_guard" ->
      "SELECT event_id, user_id FROM events WHERE event_type = 'no_such_type' ORDER BY event_id",

    "k1_schema_enforce" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "k6_schema_evolve" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment,
        |CAST(c_acctbal AS DOUBLE) AS c_acctbal, NULL::VARCHAR AS loyalty_tier
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "k3_partitioned_write" ->
      s"""SELECT event_id AS ID, strftime(ts, '$OracleFmt') AS BackupDate,
         |CAST(CAST(ts AS DATE) AS VARCHAR) AS p_day FROM events ORDER BY ID""".stripMargin,

    "k7_zorder_scan" ->
      """SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "k8_orc_roundtrip" ->
      s"""SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids,
         |       round(sum(value), 2) AS sum_value,
         |       strftime(max(ts), '$OracleFmt') AS max_ts
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "k9_json_roundtrip" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         |round(o_totalprice, 2) AS o_totalprice,
         |strftime(o_orderdate, '$OracleFmt') AS o_orderdate, o_orderpriority
         |FROM orders ORDER BY o_orderkey""".stripMargin,

    "k16_sorted_layout" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         |round(o_totalprice, 2) AS o_totalprice,
         |strftime(o_orderdate, '$OracleFmt') AS o_orderdate
         |FROM orders ORDER BY o_orderkey""".stripMargin,

    "k10_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
        |c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin,

    "k11_xml_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |round(s_acctbal, 2) AS s_acctbal,
        |s_name || ' <&"''> ' || s_nationkey AS xml_probe
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "k14_dynamic_overwrite" ->
      """SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(1) AS n,
        |  round(sum(value * CASE WHEN ts::DATE = (SELECT min(ts::DATE) FROM events)
        |                         THEN 2 ELSE 1 END), 2) AS sum_value
        |FROM events GROUP BY ts::DATE ORDER BY day""".stripMargin,

    "k17_retention_sweep" ->
      """SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(1) AS n,
        |       round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE ts::DATE >= (SELECT min(ts::DATE) + 3 FROM events)
        |GROUP BY ts::DATE ORDER BY day""".stripMargin,

    "k13_zstd_roundtrip" ->
      s"""SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids,
         |       round(sum(value), 2) AS sum_value,
         |       strftime(max(ts), '$OracleFmt') AS max_ts
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "k12_compaction" ->
      s"""SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids,
         |       round(sum(value), 2) AS sum_value,
         |       strftime(max(ts), '$OracleFmt') AS max_ts
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "k5_count_audit" -> "SELECT COUNT(*) AS n FROM customer"
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionMemo
import graft.operators.{Hierarchy, Relational}
import graft.sources.Tables

/** Warehouse-modeling + data-quality tier (extension; the reference's
  * surface stops at flat table loads — `etl_process.py:18` loops plain
  * extract→load with no history modeling and no validation beyond row
  * counts). These are the operations a BI/warehouse user of such a
  * pipeline runs daily: slowly-changing-dimension builds, cohort
  * retention, hierarchy flattening, and the Deequ-style profile /
  * expectation / anomaly checks that gate a load.
  *
  * All single-pass or log-round declarative plans; nothing here collects
  * to the driver.
  */
object WarehouseQueries {

  private val Fmt = "yyyy-MM-dd HH:mm:ss"

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Profiled orders columns: (name, native column, string formatter).
    * min/max are computed on the NATIVE type (string-formatting first
    * would sort "10" < "9") and only then rendered.
    */
  private val profileCols: Seq[(String, String => org.apache.spark.sql.Column)] = Seq(
    "o_orderkey" -> ((c: String) => col(c).cast("string")),
    "o_custkey" -> ((c: String) => col(c).cast("string")),
    "o_orderstatus" -> ((c: String) => col(c)),
    "o_totalprice" -> ((c: String) => format_string("%.2f", col(c))),
    "o_orderdate" -> ((c: String) => date_format(col(c), Fmt)),
    "o_orderpriority" -> ((c: String) => col(c)))

  /** Expectation rules over lineitem: (rule name, predicate SQL shared
    * verbatim by Spark and the DuckDB oracle). NULL counts as a violation
    * (a constraint you cannot evaluate is not satisfied).
    */
  private val rules: Seq[(String, String)] = Seq(
    "discount_le_5pct" -> "l_discount <= 0.05",
    "price_positive" -> "l_extendedprice > 0",
    "quantity_le_30" -> "l_quantity <= 30",
    "quantity_range" -> "l_quantity BETWEEN 1 AND 50",
    "returnflag_domain" -> "l_returnflag IN ('A','N','R')",
    "tax_range" -> "l_tax BETWEEN 0 AND 0.08")

  /** SCD Type-2 dimension versions with NATIVE date validity bounds
    * (custkey, priority, eff_from, eff_to) — the frame behind `q_scd2`
    * (which formats it) and `q_scd2_pit` (which joins facts against it).
    * Same-day duplicates resolve to the max orderkey; consecutive
    * same-priority runs compress; eff_to = next version's eff_from
    * (half-open validity, NULL = current). ALL windows ride the one
    * custkey hash shuffle (PlanSpec-pinned via q_scd2).
    */
  private def scd2Versions(s: SparkSession, d: String): DataFrame = {
    val byCustDayKey = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey").desc)
    val byCust = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    val dedup = t(s, d, "orders")
      .withColumn("prev_day", lag("o_orderdate", 1).over(byCustDayKey))
      .filter(col("prev_day").isNull || col("prev_day") =!= col("o_orderdate"))
    dedup
      .withColumn("prev", lag("o_orderpriority", 1).over(byCust))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("eff_to", lead("o_orderdate", 1).over(byCust))
      .select(
        col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("eff_from"),
        col("eff_to"))
  }

  /** Distinct (basket, item) pairs from lineitem, eagerly materialized and
    * memoized per (session, dir) — q_assoc_rules and q_triangles both
    * consume it (and its pair counts).
    */
  private[queries] def basketItems(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"basket_items:$d") {
      t(s, d, "lineitem")
        .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Co-occurrence pair counts (a < b, count of shared baskets), memoized. */
  private[queries] def basketPairCounts(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"basket_pairs:$d") {
      val items = basketItems(s, d)
      items.as("x")
        .join(items.as("y"),
          col("x.oid") === col("y.oid") && col("x.item") < col("y.item"))
        .groupBy(col("x.item").as("a"), col("y.item").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .localCheckpoint(true)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD Type-2 dimension build: per-customer order-priority history
    // compressed to change runs with [effective_from, effective_to)
    // validity and an is_current flag — the standard warehouse shape for
    // attribute history. ALL window passes partition by custkey alone —
    // the same-day dedup keeps the first row of each date run under a
    // (date asc, orderkey desc) sort instead of a (custkey, date)
    // partitioned row_number — so Catalyst plans ONE hash shuffle and
    // re-sorts within it (PlanSpec pins this; the two-partitioning
    // formulation pays a second full shuffle at scale).
    "q_scd2" -> ((s, d) =>
      scd2Versions(s, d)
        .select(
          col("custkey"),
          col("priority"),
          date_format(col("eff_from"), "yyyy-MM-dd").as("effective_from"),
          date_format(col("eff_to"), "yyyy-MM-dd").as("effective_to"),
          col("eff_to").isNull.as("is_current"))
        .orderBy("custkey", "effective_from")),

    // Point-in-time enrichment against the SCD2 dimension: every lineitem
    // picks the customer's priority version valid AT ITS SHIP DATE —
    // spelled as an AS-OF join (union + one window pass over the custkey
    // shuffle, Relational.asofJoin), NOT a validity-range join: the
    // versions partition time contiguously per key, so "latest version
    // with eff_from <= ship date" IS the BETWEEN semantics, at linear
    // cost where the range-join spelling (the oracle's) builds a per-key
    // cross product. The fact-side enrichment pattern every event/feature
    // pipeline with SCD2 dimensions runs.
    "q_scd2_pit" -> ((s, d) => {
      val facts = t(s, d, "lineitem")
        .join(t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_custkey").as("custkey"), col("l_shipdate"))
      Relational.asofJoin(
          facts, scd2Versions(s, d),
          leftKey = "custkey", rightKey = "custkey",
          leftTime = "l_shipdate", rightTime = "eff_from",
          rightCols = Seq("priority", "eff_from"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("custkey"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          col("priority").as("priority_at_ship"),
          date_format(col("eff_from"), "yyyy-MM-dd").as("priority_since"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Cohort retention: users bucketed by first-seen week, distinct actives
    // per (cohort, weeks-since) cell. The first-seen week comes from a
    // window min over the SAME user_id partitioning the events already
    // shuffle to — no extra join against a firsts table.
    "q_cohort" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id")
      t(s, d, "events")
        .withColumn("cohort_week", date_trunc("week", min(col("ts")).over(byUser)))
        .withColumn("week_offset",
          floor(datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7).cast("bigint"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .select(
          date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Hierarchy flattening: a synthetic taxonomy over part (keys ≤ 10 are
    // roots, every other key's parent is a deterministic arithmetic
    // function of the key) resolved to (node, root, depth) by pointer
    // doubling — O(log depth) self-joins, not per-level recursion. The
    // oracle replays it with a genuine recursive CTE.
    "q_hierarchy" -> ((s, d) => {
      val edges = t(s, d, "part").select(
        col("p_partkey").as("node"),
        when(col("p_partkey") <= 10, lit(null).cast("long"))
          .otherwise(expr("p_partkey DIV (2 + p_partkey % 3)")).as("parent"))
      Hierarchy.flatten(edges).orderBy("node")
    }),

    // The same hierarchy closure through Spark 4's NATIVE recursive CTE
    // (WITH RECURSIVE → UnionLoop execution) — the declarative twin of
    // Hierarchy.flatten's pointer-doubling. Both run against the same
    // recursive-CTE oracle, so the two formulations cross-verify every
    // round. Trade at scale: the recursive CTE iterates once per LEVEL
    // (O(depth) joins, each touching only the frontier — the natural
    // shape for shallow-but-wide taxonomies and the standard SQL users
    // port in), while flatten's doubling pays O(log depth) rounds over
    // the whole node set — the escalation for pathological depth.
    "q_recursive_cte" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("v_part")
      s.sql(
        """WITH RECURSIVE e AS (
          |  SELECT p_partkey AS node,
          |         CASE WHEN p_partkey <= 10 THEN CAST(NULL AS BIGINT)
          |              ELSE p_partkey DIV (2 + p_partkey % 3) END AS parent
          |  FROM v_part),
          |walk(node, root, depth) AS (
          |  SELECT node, node, CAST(0 AS BIGINT) FROM e WHERE parent IS NULL
          |  UNION ALL
          |  SELECT e.node, w.root, w.depth + 1
          |  FROM e JOIN walk w ON e.parent = w.node)
          |SELECT node, root, depth FROM walk ORDER BY node""".stripMargin)
    }),

    // Per-column profile of orders: row/null/distinct counts plus native
    // min/max rendered to strings. One single-column aggregation per
    // profiled column, unioned — on columnar parquet each branch scans
    // ONLY its column (same total bytes as one wide scan) and map-side
    // partial-distinct dedupes before the shuffle, where the one-pass
    // multi-distinct formulation pays a 6x Expand on every row. Distinct
    // counts are EXACT here so the oracle can replay them; the 100 TB
    // variant swaps in approx_count_distinct (the HLL path fn_hll_sketch
    // already pins).
    "dq_profile" -> ((s, d) => {
      val o = t(s, d, "orders")
      profileCols.map { case (c, fmt) =>
        o.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).as("mn"), max(col(c)).as("mx"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), fmt("mn").as("min_value"), fmt("mx").as("max_value"))
      }.reduce(_ unionByName _).orderBy("col_name")
    }),

    // Expectation audit: every rule evaluated in ONE scan (sum of
    // violation indicators), pivoted to a row per rule with its pass
    // verdict — the Deequ-style load gate, shaped so 100 TB pays a single
    // pass regardless of rule count.
    "dq_expectations" -> ((s, d) => {
      val aggs = count(lit(1)).as("n_rows") +: rules.map { case (name, pred) =>
        sum(when(expr(pred), 0L).otherwise(1L)).as(s"viol_$name")
      }
      val stackArgs = rules.map { case (name, _) =>
        s"'$name', n_rows, viol_$name, viol_$name = 0"
      }.mkString(", ")
      t(s, d, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(
          s"stack(${rules.size}, $stackArgs) AS (rule, n_rows, n_violations, pass)"))
        .orderBy("rule")
    }),

    // Association rules over order baskets: pair support, confidence, and
    // lift for co-purchased parts — the market-basket statistic. The
    // basket item set is distinct-ed and eagerly materialized ONCE (it
    // feeds the self-join twice plus both marginals); pairs come from the
    // per-basket self-join (bounded by items-per-order², never parts²).
    // Both the item set and the pair counts are memoized per (session,
    // dir) — q_triangles consumes the same frames, the in-session analogue
    // of materializing the co-occurrence table once for all consumers.
    "q_assoc_rules" -> ((s, d) => {
      val items = basketItems(s, d)
      val itemN = items.groupBy("item").agg(count(lit(1)).as("n_item"))
      val nOrders = items.agg(countDistinct("oid").as("n_orders"))
      basketPairCounts(s, d)
        .join(itemN.select(col("item").as("a"), col("n_item").as("n_a")), "a")
        .join(itemN.select(col("item").as("b"), col("n_item").as("n_b")), "b")
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("n_ab"),
          round(col("n_ab") / col("n_a") + 1e-9, 4).as("confidence"),
          round((col("n_ab") * col("n_orders")) / (col("n_a") * col("n_b")) + 1e-9, 4)
            .as("lift"))
        .orderBy(col("n_ab").desc, col("a"), col("b"))
        .limit(25)
    }),

    // Triangle census of the strong co-purchase graph (pairs co-occurring
    // in ≥ 2 baskets): the graph-analytics staple, counted by closing
    // wedges over the id-oriented edge list (a < b < c — each triangle
    // counted exactly once, no symmetric blow-up). The support threshold
    // is what keeps the wedge join tractable as baskets scale; the full
    // co-occurrence graph's wedge count grows with degree² while the
    // strong graph stays sparse. Pair counts come from the memoized
    // basket frame q_assoc_rules also consumes.
    "q_triangles" -> ((s, d) => {
      val edges = basketPairCounts(s, d)
        .filter(col("n_ab") >= 2)
        .select("a", "b")
        .localCheckpoint(true)
      val nNodes = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      val nTri = edges.as("e1")
        .join(edges.as("e2"), col("e1.b") === col("e2.a"))
        .join(edges.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("n_triangles"))
      nNodes.crossJoin(nEdges).crossJoin(nTri)
    }),

    // k-core decomposition (k=3) of the strong co-purchase graph: the
    // maximal subgraph where every part co-occurs strongly with ≥ 3 other
    // CORE parts — the cohesion census a plain degree filter over-counts
    // (it counts neighbors that are themselves about to be peeled; the
    // sf0.01 graph needs 10 cascade rounds to stabilize). At sf0.1 the
    // strong graph is sparser relative to its basket space and the 3-core
    // is legitimately EMPTY (2 peel rounds) — the empty result is the
    // correct answer, verified as such.
    "q_kcore" -> ((s, d) => {
      val edges = basketPairCounts(s, d).filter(col("n_ab") >= 2).select("a", "b")
      graft.operators.Graphs.kCore(edges, k = 3)
        .orderBy("node")
    }),

    // Deterministic PageRank (10 fixed iterations, damping 0.85) over the
    // strong co-purchase graph — which parts sit central in baskets. The
    // oracle replays every iteration with a recursive CTE; ranks are
    // rounded to 6 decimals BEFORE ordering so cross-engine summation
    // noise (≪1e-9 after 10 rounds) cannot flip the top-20.
    "q_pagerank" -> ((s, d) => {
      val edges = basketPairCounts(s, d).filter(col("n_ab") >= 2).select("a", "b")
      graft.operators.Graphs.pageRank(edges, iters = 10)
        .select(col("node"), round(col("rank") + 1e-9, 6).as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    }),

    // Label-propagation communities (4 synchronous rounds, ties to the
    // smallest label) over the strong co-purchase graph — the DENSITY
    // counterpart of the component queries: two near-cliques joined by
    // one bridge edge are one connected component but two communities.
    // All-integer and fully deterministic, so the oracle replays every
    // round — exact assignment parity, like the CC family.
    "q_communities" -> ((s, d) => {
      val edges = basketPairCounts(s, d).filter(col("n_ab") >= 2).select("a", "b")
      val lp = graft.operators.Graphs.labelPropagation(edges, iters = 4)
      val w = Window.partitionBy("label")
      lp.select(col("node"), col("label").as("community"),
          count(lit(1)).over(w).as("community_n"))
        .orderBy("node")
    }),

    // BFS depths (≤ 6 hops) from the lowest-id node of the strong
    // co-purchase graph — reachability rings around a product. Fixed round
    // count; the oracle dedups per level with a UNION recursive CTE, so
    // its working set is (node, dist) pairs, never enumerated paths.
    "q_bfs_depth" -> ((s, d) => {
      val edges = basketPairCounts(s, d).filter(col("n_ab") >= 2).select("a", "b")
        .localCheckpoint(true)
      val source = edges.agg(min("a")).head.getLong(0)
      graft.operators.Graphs.bfsDepths(edges, source, maxHops = 6)
        .orderBy("node")
    }),

    // Rolling DAU/WAU: each (user, active-day) fans out to the 7 report
    // days it supports, one distinct-count per report day — the standard
    // trick that turns a sliding DISTINCT window (quadratic re-scan) into
    // one explode + one aggregation.
    "q_rolling_wau" -> ((s, d) => {
      val active = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      active
        .select(col("user_id"), col("d"),
          explode(sequence(col("d"), date_add(col("d"), 6))).as("report_day"))
        .groupBy("report_day")
        .agg(
          countDistinct(when(col("d") === col("report_day"), col("user_id"))).as("dau"),
          countDistinct("user_id").as("wau"))
        .select(date_format(col("report_day"), "yyyy-MM-dd").as("report_day"),
          col("dau"), col("wau"))
        .orderBy("report_day")
    }),

    // Recursive CTE through the SQL surface (Spark 4.x UnionLoop): rolled-up
    // cost in integer cents along each node's ancestor path over the same
    // derived taxonomy as q_hierarchy — the BOM-explode shape. Complements
    // the pointer-doubling operator: one resolves hierarchies inside the
    // DataFrame API, this one serves users who arrive with WITH RECURSIVE
    // SQL. Integer cents, not decimal, so path sums are bit-exact across
    // engines.
    "q_path_rollup" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      s.sql(
        """WITH RECURSIVE walk AS (
          |  SELECT p_partkey AS node, p_partkey AS cur,
          |         CAST(round(p_retailprice * 100) AS BIGINT) AS cost_cents,
          |         0 AS depth
          |  FROM part_v
          |  UNION ALL
          |  SELECT w.node, p.p_partkey AS cur,
          |         w.cost_cents + CAST(round(p.p_retailprice * 100) AS BIGINT),
          |         w.depth + 1
          |  FROM walk w
          |  JOIN part_v p
          |    ON w.cur > 10 AND p.p_partkey = w.cur DIV (2 + w.cur % 3))
          |SELECT node, CAST(max(depth) AS BIGINT) AS depth,
          |       max_by(cost_cents, depth) AS path_cost_cents
          |FROM walk GROUP BY node ORDER BY node""".stripMargin)
    }),

    // SQL pipe syntax (Spark 4.x): the linear |> operator chain — the
    // other new SQL surface besides recursive CTEs that a
    // switch-from-the-reference SQL user may arrive with. Same TPC-H Q1
    // shape as q1_pricing_summary, expressed as a pipeline.
    "q_pipe_syntax" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
      s.sql(
        """FROM lineitem_pipe_v
          ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          ||> AGGREGATE count(*) AS n, round(sum(l_quantity), 2) AS qty
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // Markov transition matrix over per-user event sequences: P(next type |
    // current type) from lag pairs — the session-model statistic. One
    // shuffle for the lag, one for the pair counts; the per-source totals
    // come from a window over the SAME (prev) grouping.
    "q_transitions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val byPrev = Window.partitionBy("prev_type")
      t(s, d, "events")
        .withColumn("prev_type", lag("event_type", 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") / sum("n").over(byPrev) + 1e-9, 4))
        .orderBy("prev_type", "event_type")
    }),

    // Peak concurrency by sweep line: each event opens a 30-minute
    // interval; +1/−1 boundary points, running sum per event_type, report
    // each type's peak and when it was first reached. Half-open intervals:
    // at a shared instant the −1 applies before the +1 (delta asc in the
    // sort), so touching intervals never double-count. An explicit ROWS
    // frame plus a unique total order (t, delta, event_id) keeps the
    // running sum identical across engines.
    "q_concurrency" -> ((s, d) => {
      // boundary points via explode, not a self-union: one scan of the
      // events table instead of two (PlanSpec pins the single scan).
      val pts = t(s, d, "events").select(
          col("event_type"), col("event_id"),
          explode(array(
            struct(col("ts").as("t"), lit(1L).as("delta")),
            struct((col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
              lit(-1L).as("delta")))).as("pt"))
        .select(col("event_type"), col("pt.t").as("t"),
          col("pt.delta").as("delta"), col("event_id"))
      val sweep = Window.partitionBy("event_type")
        .orderBy(col("t"), col("delta"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byType = Window.partitionBy("event_type")
      pts
        .withColumn("running", sum("delta").over(sweep))
        .withColumn("peak", max("running").over(byType))
        .filter(col("running") === col("peak"))
        .groupBy("event_type")
        .agg(max("peak").as("peak"),
          date_format(min("t"), Fmt).as("first_peak_at"))
        .orderBy("event_type")
    }),

    // Windowed EWMA (decay 0.8 over the 8 most recent values per user):
    // the finite-window closed form as eight explicit lags, so the plan is
    // one window pass with no recursion and the weights are decimal
    // literals both engines parse to identical doubles.
    "q_ewma" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val w = (0 until 8).map(k => BigDecimal("0.8").pow(k))
      val lags = col("value") +: (1 until 8).map(k => lag(col("value"), k).over(byUser))
      val num = (0 until 8).map(k =>
        when(lags(k).isNotNull, lags(k) * lit(w(k).toDouble)).otherwise(lit(0.0)))
        .reduce(_ + _)
      val den = (0 until 8).map(k =>
        when(lags(k).isNotNull, lit(w(k).toDouble)).otherwise(lit(0.0)))
        .reduce(_ + _)
      t(s, d, "events")
        .withColumn("ewma", round(num / den + 1e-9, 4))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), Fmt).as("ts"), col("value"), col("ewma"))
        .orderBy("user_id", "event_id")
    }),

    // RFM segmentation: customers scored into quintile cells on recency
    // (days since last order), frequency (order count), and monetary
    // (total spend) — the classic CRM segmentation. Three ntile windows
    // over the SAME customer-aggregate frame (dimension-sized), each with
    // a full tie-break so quintile assignment is deterministic.
    "q_rfm" -> ((s, d) => {
      val cust = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
      val asOf = t(s, d, "orders").agg(max(to_date(col("o_orderdate"))).as("as_of"))
      val scored = cust.crossJoin(broadcast(asOf))
        .withColumn("recency_days", datediff(col("as_of"), col("last_day")))
        .withColumn("r_score", ntile(5).over(
          Window.orderBy(col("recency_days"), col("o_custkey"))))
        .withColumn("f_score", ntile(5).over(
          Window.orderBy(col("freq").desc, col("o_custkey"))))
        .withColumn("m_score", ntile(5).over(
          Window.orderBy(col("monetary").desc, col("o_custkey"))))
      scored.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          round(sum("monetary").cast("double") + 1e-9, 2).as("cell_revenue"))
        .select(col("r_score").cast("bigint").as("r_score"),
          col("f_score").cast("bigint").as("f_score"),
          col("m_score").cast("bigint").as("m_score"),
          col("n_customers"), col("cell_revenue"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // ABC (Pareto) analysis: parts classified by cumulative revenue share
    // — A up to 70%, B to 90%, C the tail. One aggregation + one global
    // cumulative window over the sorted revenue (global ORDER is the
    // honest cost; at scale the window runs over the aggregated per-part
    // frame, which is dimension-sized, not fact-sized). Revenue in
    // DECIMAL so the running share is bit-stable.
    "q_abc_analysis" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("revenue"))
      val w = Window.orderBy(col("revenue").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(lit(1))
      rev
        .withColumn("cum_share",
          (sum("revenue").over(w) / sum("revenue").over(tot)).cast("double"))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.7, "A")
            .when(col("cum_share") <= 0.9, "B").otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          round(sum("revenue").cast("double") + 1e-9, 2).as("class_revenue"))
        .orderBy("abc_class")
    }),

    // Time-to-convert: per user, hours from first view to first purchase
    // (users who purchased after viewing); median and p90 of the
    // distribution — the canonical product-analytics latency metric.
    // Exact microsecond arithmetic end-to-end; only the final percentiles
    // are interpolated.
    "q_time_to_convert" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firsts = ev.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_buy"))
        .filter(col("first_view").isNotNull && col("first_buy").isNotNull &&
          col("first_buy") > col("first_view"))
        .withColumn("hours",
          (unix_micros(col("first_buy")) - unix_micros(col("first_view")))
            / lit(3600000000.0))
      firsts.agg(
          count(lit(1)).as("n_converted"),
          round(percentile(col("hours"), lit(0.5)) + 1e-9, 4).as("median_hours"),
          round(percentile(col("hours"), lit(0.9)) + 1e-9, 4).as("p90_hours"))
    }),

    // Winsorization: clip extended prices to the per-flag [p05, p95] band
    // — the outlier treatment that precedes robust aggregates. Percentile
    // bounds from one aggregation, broadcast back, clip + re-aggregate.
    // Spark `percentile` and DuckDB `quantile_cont` share the interpolated
    // definition (already pinned by q_percentiles).
    "q_winsorize" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val bounds = li.groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.05)).as("lo"),
          percentile(col("l_extendedprice"), lit(0.95)).as("hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .withColumn("clipped",
          least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(avg("l_extendedprice") + 1e-9, 4).as("mean_raw"),
          round(avg("clipped") + 1e-9, 4).as("mean_winsor"),
          round(min("clipped") + 1e-9, 4).as("min_w"),
          round(max("clipped") + 1e-9, 4).as("max_w"))
        .orderBy("l_returnflag")
    }),

    // Median absolute deviation per group — the robust dispersion
    // statistic: median via interpolated percentile, then the median of
    // absolute deviations from it.
    "q_mad" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val med = li.groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("med"))
      li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("med")))
        .groupBy("l_returnflag")
        .agg(round(max("med") + 1e-9, 4).as("median"),
          round(percentile(col("adev"), lit(0.5)) + 1e-9, 4).as("mad"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Spearman rank correlation of quantity vs price per return flag:
    // average ranks from a rank window plus a tie-count window (both on
    // the same group partitioning), then the sum-form Pearson on the
    // ranks. Rank sums are integers-in-doubles on both engines; only the
    // final ratio is rounded.
    "q_spearman" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_returnflag").as("g"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
      val rx = rank().over(Window.partitionBy("g").orderBy("x"))
      val ry = rank().over(Window.partitionBy("g").orderBy("y"))
      val cx = count(lit(1)).over(Window.partitionBy("g", "x"))
      val cy = count(lit(1)).over(Window.partitionBy("g", "y"))
      val ranked = li
        .withColumn("ra", rx + (cx - 1) / 2.0)
        .withColumn("rb", ry + (cy - 1) / 2.0)
      ranked.groupBy("g")
        .agg(count(lit(1)).cast("double").as("n"),
          sum("ra").as("sa"), sum("rb").as("sb"),
          sum(col("ra") * col("rb")).as("sab"),
          sum(col("ra") * col("ra")).as("saa"),
          sum(col("rb") * col("rb")).as("sbb"))
        .select(col("g"),
          round((col("n") * col("sab") - col("sa") * col("sb"))
            / sqrt((col("n") * col("saa") - col("sa") * col("sa"))
              * (col("n") * col("sbb") - col("sb") * col("sb"))) + 1e-9, 4)
            .as("rho"),
          col("n").cast("bigint").as("n"))
        .orderBy("g")
    }),

    // Uniqueness audit: claimed primary keys actually unique — count vs
    // distinct per key, one branch per table (each a map-side partial
    // distinct over just the key columns).
    "dq_uniqueness" -> ((s, d) => {
      val keys: Seq[(String, Seq[String])] = Seq(
        "customer" -> Seq("c_custkey"),
        "events" -> Seq("event_id"),
        "lineitem" -> Seq("l_orderkey", "l_linenumber"),
        "orders" -> Seq("o_orderkey"),
        "part" -> Seq("p_partkey"),
        "supplier" -> Seq("s_suppkey"))
      keys.map { case (table, kc) =>
        t(s, d, table).agg(
            count(lit(1)).as("n_rows"),
            countDistinct(kc.head, kc.tail: _*).as("n_keys"))
          .select(lit(table).as("table_name"),
            lit(kc.mkString(",")).as("key_cols"),
            col("n_rows"), col("n_keys"),
            (col("n_rows") === col("n_keys")).as("is_unique"))
      }.reduce(_ unionByName _).orderBy("table_name")
    }),

    // Referential-integrity audit: orphaned foreign keys per relationship
    // via left_anti counts — the classic warehouse load gate for a
    // star-schema copy pipeline like the reference's.
    "dq_ref_integrity" -> ((s, d) => {
      val rels: Seq[(String, String, String, String, String)] = Seq(
        ("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"),
        ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"))
      rels.map { case (name, ct, ck, pt, pk) =>
        val child = t(s, d, ct)
        val orphans = child.join(t(s, d, pt), child(ck) === col(pk), "left_anti")
        child.agg(count(lit(1)).as("n_rows"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"),
            (col("n_orphans") === 0).as("intact"))
      }.reduce(_ unionByName _).orderBy("relation")
    }),

    // Distribution-drift monitor (PSI): events split into a reference
    // window (first 15 days) and a current window; value deciles computed
    // on the REFERENCE only (broadcast edges), per-type Population
    // Stability Index over the bin shares with +1/+10 Laplace smoothing.
    // The ML-ops gate for "did this feature's distribution move" — one
    // extra scan over the monitored column, everything else broadcast.
    // Bins empty in BOTH windows contribute no row in either engine, so
    // the skip is consistent by construction.
    "dq_drift" -> ((s, d) => {
      val ev = t(s, d, "events")
      val split = ev.agg(date_add(min(to_date(col("ts"))), 15).as("cut"))
      val tagged = ev.crossJoin(broadcast(split))
        .withColumn("is_ref", to_date(col("ts")) < col("cut"))
      val edges = tagged.filter(col("is_ref"))
        .agg(percentile(col("value"), lit(0.1)).as("e1"),
          (2 to 9).map(i => percentile(col("value"), lit(i / 10.0)).as(s"e$i")): _*)
      val binned = tagged.crossJoin(broadcast(edges))
        .withColumn("bin",
          (1 to 9).map(i => when(col("value") > col(s"e$i"), 1).otherwise(0))
            .reduce(_ + _))
      val byType = Window.partitionBy("event_type")
      binned.groupBy("event_type", "bin")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
        .withColumn("n_ref", sum("c_ref").over(byType))
        .withColumn("n_cur", sum("c_cur").over(byType))
        .withColumn("q", (col("c_ref") + 1.0) / (col("n_ref") + 10.0))
        .withColumn("p", (col("c_cur") + 1.0) / (col("n_cur") + 10.0))
        .groupBy("event_type")
        .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))) + 1e-9, 4)
            .as("psi"),
          max("n_ref").as("n_ref"), max("n_cur").as("n_cur"))
        .orderBy("event_type")
    }),

    // Freshness audit: per-stream staleness against the corpus as-of date
    // — the load-gate check that a source stopped emitting (the reference
    // runs a daily cron with no such alarm; `run_etl.sh:7`). One
    // aggregation plus a broadcast one-row as-of join.
    "dq_freshness" -> ((s, d) => {
      val ev = t(s, d, "events")
      val perType = ev.groupBy("event_type")
        .agg(max(to_date(col("ts"))).as("last_day"), count(lit(1)).as("n_rows"))
      val asOf = ev.agg(max(to_date(col("ts"))).as("as_of"))
      perType.crossJoin(broadcast(asOf))
        .select(col("event_type"),
          date_format(col("last_day"), "yyyy-MM-dd").as("last_day"),
          datediff(col("as_of"), col("last_day")).cast("bigint").as("days_stale"),
          (datediff(col("as_of"), col("last_day")) > 2).as("is_stale"),
          col("n_rows"))
        .orderBy("event_type")
    }),

    // Anomaly detection: per-event-type z-score against the group mean /
    // sample stddev, reporting |z| > 3 outliers. Group moments come from
    // an unbounded window over the SAME event_type partitioning — one
    // shuffle, no join-back, no second scan.
    "dq_anomaly" -> ((s, d) => {
      val byType = Window.partitionBy("event_type")
      t(s, d, "events")
        .withColumn("mu", avg("value").over(byType))
        .withColumn("sigma", stddev_samp("value").over(byType))
        // sigma = 0 (constant group) or NULL (single row) would yield
        // NaN/Inf z — and NaN compares GREATER than 3.0 in Spark while
        // DuckDB's division may differ, a latent cross-engine mismatch.
        // A zero-variance group has no outliers by definition: guard it.
        .filter(col("sigma").isNotNull && col("sigma") > 0)
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(
          col("event_id"), col("event_type"), col("value"),
          round(col("z") + 1e-9, 3).as("z"))
        .orderBy("event_id")
    }))

  val oracles: Map[String, String] = Map(

    "q_scd2" ->
      """WITH dedup AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                            ORDER BY o_orderkey DESC) AS rn
        |  FROM orders),
        |hist AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY o_orderdate) AS prev
        |  FROM dedup WHERE rn = 1),
        |runs AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate) AS eff_to
        |  FROM hist WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey AS custkey, o_orderpriority AS priority,
        |       strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
        |       strftime(eff_to, '%Y-%m-%d') AS effective_to,
        |       eff_to IS NULL AS is_current
        |FROM runs ORDER BY custkey, effective_from""".stripMargin,

    // Validity-range spelling of the point-in-time join — the quadratic
    // shape the as-of formulation avoids; equality is the claim that the
    // window pass implements BETWEEN semantics exactly.
    "q_scd2_pit" ->
      """WITH dedup AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                            ORDER BY o_orderkey DESC) AS rn
        |  FROM orders),
        |hist AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY o_orderdate) AS prev
        |  FROM dedup WHERE rn = 1),
        |runs AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate) AS eff_to
        |  FROM hist WHERE prev IS NULL OR prev <> o_orderpriority),
        |f AS (
        |  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS custkey, l.l_shipdate
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT f.l_orderkey, f.l_linenumber, f.custkey,
        |       strftime(f.l_shipdate, '%Y-%m-%d') AS ship_date,
        |       r.o_orderpriority AS priority_at_ship,
        |       strftime(r.o_orderdate, '%Y-%m-%d') AS priority_since
        |FROM f LEFT JOIN runs r ON f.custkey = r.o_custkey
        |  AND f.l_shipdate >= r.o_orderdate
        |  AND (r.eff_to IS NULL OR f.l_shipdate < r.eff_to)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_cohort" ->
      """WITH f AS (
        |  SELECT user_id, ts,
        |         date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS cohort_week
        |  FROM events)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |       (date_diff('day', cohort_week, date_trunc('week', ts)) // 7)::BIGINT AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_hierarchy" ->
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS node,
        |         CASE WHEN p_partkey <= 10 THEN NULL
        |              ELSE p_partkey // (2 + p_partkey % 3) END AS parent
        |  FROM part),
        |walk(node, root, depth) AS (
        |  SELECT node, node, 0 FROM e WHERE parent IS NULL
        |  UNION ALL
        |  SELECT e.node, w.root, w.depth + 1 FROM e JOIN walk w ON e.parent = w.node)
        |SELECT node, root, depth::BIGINT AS depth FROM walk ORDER BY node""".stripMargin,

    // identical closure, replayed for the native-recursion twin
    "q_recursive_cte" ->
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS node,
        |         CASE WHEN p_partkey <= 10 THEN NULL
        |              ELSE p_partkey // (2 + p_partkey % 3) END AS parent
        |  FROM part),
        |walk(node, root, depth) AS (
        |  SELECT node, node, 0 FROM e WHERE parent IS NULL
        |  UNION ALL
        |  SELECT e.node, w.root, w.depth + 1 FROM e JOIN walk w ON e.parent = w.node)
        |SELECT node, root, depth::BIGINT AS depth FROM walk ORDER BY node""".stripMargin,

    "dq_profile" -> {
      val perCol = Seq(
        ("o_orderkey", "min(o_orderkey)::VARCHAR", "max(o_orderkey)::VARCHAR"),
        ("o_custkey", "min(o_custkey)::VARCHAR", "max(o_custkey)::VARCHAR"),
        ("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        ("o_totalprice", "printf('%.2f', min(o_totalprice))", "printf('%.2f', max(o_totalprice))"),
        ("o_orderdate", "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
        ("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"))
      perCol.map { case (c, mn, mx) =>
        s"""SELECT '$c' AS col_name, count(1) AS n_rows,
           |  count(1) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           |  $mn AS min_value, $mx AS max_value FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "dq_expectations" ->
      rules.map { case (name, pred) =>
        s"""SELECT '$name' AS rule, count(1) AS n_rows,
           |  sum(CASE WHEN $pred THEN 0 ELSE 1 END)::BIGINT AS n_violations,
           |  sum(CASE WHEN $pred THEN 0 ELSE 1 END) = 0 AS pass FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY rule"),

    "q_assoc_rules" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
        |n AS (SELECT count(DISTINCT oid) AS n_orders FROM i),
        |c AS (SELECT item, count(1) AS n_item FROM i GROUP BY item),
        |p AS (
        |  SELECT x.item AS a, y.item AS b, count(1) AS n_ab
        |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
        |  GROUP BY 1, 2)
        |SELECT a, b, n_ab,
        |  round(n_ab / ca.n_item + 0.000000001, 4) AS confidence,
        |  round((n_ab * n_orders) / (ca.n_item * cb.n_item) + 0.000000001, 4) AS lift
        |FROM p JOIN c ca ON p.a = ca.item JOIN c cb ON p.b = cb.item, n
        |ORDER BY n_ab DESC, a, b LIMIT 25""".stripMargin,

    "q_triangles" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
        |e AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |nn AS (
        |  SELECT count(1) AS n_nodes
        |  FROM (SELECT a AS v FROM e UNION SELECT b FROM e)),
        |ne AS (SELECT count(1) AS n_edges FROM e),
        |nt AS (
        |  SELECT count(1) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_nodes, n_edges, n_triangles FROM nn, ne, nt""".stripMargin,

    // Peel rounds unrolled as CTE pairs (e_t = edges among round-(t−1)
    // survivors; d_t = nodes with in-subgraph degree ≥ 3). 14 rounds: the
    // sf0.01 cascade needs 10, sf0.1 needs 2, and extra rounds past the
    // fixpoint are idempotent — so the unroll is convergence-safe at both
    // verified SFs without a recursive multi-self-reference (whose
    // working-table semantics differ across engines).
    // AS MATERIALIZED on every round CTE: each e_t references e_{t-1}
    // three times (edge scan + both endpoint IN-filters), so an INLINING
    // planner would expand the chain 3^rounds times — the same
    // exponential-plan hazard the Spark loop avoids by RDD-bridging each
    // round (Graphs.kCore); materialization bounds the oracle at one
    // evaluation per round.
    "q_kcore" -> {
      val rounds = 14
      val steps = (1 to rounds).map { t =>
        s"""e$t AS MATERIALIZED (
           |  SELECT src, dst FROM e${t - 1}
           |  WHERE src IN (SELECT src FROM d${t - 1})
           |    AND dst IN (SELECT src FROM d${t - 1})),
           |d$t AS MATERIALIZED (
           |  SELECT src FROM e$t GROUP BY src HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
         |p AS MATERIALIZED (
         |  SELECT x.item AS a, y.item AS b
         |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
         |  GROUP BY 1, 2 HAVING count(1) >= 2),
         |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |d0 AS MATERIALIZED (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
         |$steps
         |SELECT src AS node, count(*) AS core_deg
         |FROM e$rounds GROUP BY src ORDER BY node""".stripMargin
    },

    // every LPA round replayed: count neighbor labels, argmax with ties
    // to the smallest label — all-integer, so parity is exact
    "q_communities" -> {
      def step(prev: String) =
        s"""SELECT node, label FROM (
           |  SELECT c.node, c.label,
           |    row_number() OVER (PARTITION BY c.node ORDER BY c.c DESC, c.label) AS rn
           |  FROM (SELECT s.u AS node, l.label, count(1) AS c
           |        FROM sym s JOIN $prev l ON s.v = l.node
           |        GROUP BY s.u, l.label) c)
           |WHERE rn = 1""".stripMargin
      s"""WITH
         |i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
         |p AS (
         |  SELECT x.item AS a, y.item AS b
         |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
         |  GROUP BY 1, 2 HAVING count(1) >= 2),
         |sym AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b, a FROM p),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
         |l1 AS (${step("l0")}),
         |l2 AS (${step("l1")}),
         |l3 AS (${step("l2")}),
         |l4 AS (${step("l3")})
         |SELECT node, label AS community,
         |  count(1) OVER (PARTITION BY label) AS community_n
         |FROM l4 ORDER BY node""".stripMargin
    },

    "q_pagerank" ->
      """WITH RECURSIVE
        |i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
        |p AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |ee AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |deg AS (SELECT src, count(1) AS d FROM ee GROUP BY src),
        |n AS (SELECT count(*) AS cnt FROM deg),
        |pr(iter, node, rank) AS (
        |  SELECT 0, src, 1.0::DOUBLE / cnt FROM deg, n
        |  UNION ALL
        |  SELECT iter + 1, ee.dst,
        |         0.15::DOUBLE / (SELECT cnt FROM n) + 0.85 * sum(rank / d)
        |  FROM pr JOIN ee ON pr.node = ee.src JOIN deg ON deg.src = pr.node
        |  WHERE iter < 10
        |  GROUP BY iter + 1, ee.dst)
        |SELECT node, round(rank + 0.000000001, 6) AS rank
        |FROM pr WHERE iter = 10
        |ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    "q_bfs_depth" ->
      """WITH RECURSIVE
        |i AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
        |p AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM i x JOIN i y ON x.oid = y.oid AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |ee AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |walk(node, dist) AS (
        |  SELECT (SELECT min(a) FROM p), 0
        |  UNION
        |  SELECT ee.dst, walk.dist + 1
        |  FROM walk JOIN ee ON walk.node = ee.src WHERE walk.dist < 6)
        |SELECT node, min(dist)::BIGINT AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    "q_rolling_wau" ->
      """WITH ad AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events),
        |f AS (
        |  SELECT user_id, d,
        |         unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS report_day
        |  FROM ad)
        |SELECT strftime(report_day, '%Y-%m-%d') AS report_day,
        |  count(DISTINCT CASE WHEN d = report_day THEN user_id END) AS dau,
        |  count(DISTINCT user_id) AS wau
        |FROM f GROUP BY report_day ORDER BY report_day""".stripMargin,

    "q_path_rollup" ->
      """WITH RECURSIVE walk AS (
        |  SELECT p_partkey AS node, p_partkey AS cur,
        |         CAST(round(p_retailprice * 100) AS BIGINT) AS cost_cents,
        |         0 AS depth
        |  FROM part
        |  UNION ALL
        |  SELECT w.node, p.p_partkey AS cur,
        |         w.cost_cents + CAST(round(p.p_retailprice * 100) AS BIGINT),
        |         w.depth + 1
        |  FROM walk w
        |  JOIN part p
        |    ON w.cur > 10 AND p.p_partkey = w.cur // (2 + w.cur % 3))
        |SELECT node, CAST(max(depth) AS BIGINT) AS depth,
        |       max_by(cost_cents, depth) AS path_cost_cents
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    "q_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_transitions" ->
      """WITH l AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type, count(1) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  round(n / (sum(n) OVER (PARTITION BY prev_type)) + 0.000000001, 4) AS p
        |FROM c ORDER BY prev_type, event_type""".stripMargin,

    "q_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, event_id, ts AS start_t,
        |         ts + INTERVAL 30 MINUTE AS end_t
        |  FROM events),
        |pts AS (
        |  SELECT event_type, start_t AS t, 1::BIGINT AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT event_type, end_t, -1::BIGINT, event_id FROM iv),
        |r AS (
        |  SELECT event_type, t, delta,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM pts),
        |p AS (
        |  SELECT event_type, t, running,
        |    max(running) OVER (PARTITION BY event_type) AS peak
        |  FROM r)
        |SELECT event_type, max(peak)::BIGINT AS peak,
        |       strftime(min(t), '%Y-%m-%d %H:%M:%S') AS first_peak_at
        |FROM p WHERE running = peak GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_ewma" -> {
      val w = (0 until 8).map(k => BigDecimal("0.8").pow(k).toString)
      val lagCols = (1 until 8).map(k =>
        s"lag(value, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l$k")
        .mkString(",\n    ")
      val num = (s"value * ${w(0)}" +: (1 until 8).map(k =>
        s"CASE WHEN l$k IS NULL THEN 0 ELSE l$k * ${w(k)} END")).mkString(" + ")
      val den = (s"${w(0)}" +: (1 until 8).map(k =>
        s"CASE WHEN l$k IS NULL THEN 0 ELSE ${w(k)} END")).mkString(" + ")
      s"""WITH l AS (
         |  SELECT user_id, event_id, ts, value,
         |    $lagCols
         |  FROM events)
         |SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value,
         |  round(($num) / ($den) + 0.000000001, 4) AS ewma
         |FROM l ORDER BY user_id, event_id""".stripMargin
    },

    "q_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey, max(o_orderdate::DATE) AS last_day,
        |         count(1) AS freq,
        |         sum(o_totalprice::DECIMAL(18,2)) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |a AS (SELECT max(o_orderdate::DATE) AS as_of FROM orders),
        |s AS (
        |  SELECT o_custkey, monetary,
        |    ntile(5) OVER (ORDER BY date_diff('day', last_day, as_of), o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        |  FROM cust, a)
        |SELECT r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
        |       m_score::BIGINT AS m_score,
        |       count(1) AS n_customers,
        |       round(sum(monetary)::DOUBLE + 0.000000001, 2) AS cell_revenue
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_abc_analysis" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS revenue
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT l_partkey, revenue,
        |    (sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     / sum(revenue) OVER ())::DOUBLE AS cum_share
        |  FROM rev)
        |SELECT CASE WHEN cum_share <= 0.7 THEN 'A'
        |            WHEN cum_share <= 0.9 THEN 'B' ELSE 'C' END AS abc_class,
        |  count(1) AS n_parts,
        |  round(sum(revenue)::DOUBLE + 0.000000001, 2) AS class_revenue
        |FROM c GROUP BY 1 ORDER BY abc_class""".stripMargin,

    "q_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
        |  FROM events GROUP BY user_id),
        |h AS (
        |  SELECT (epoch_us(first_buy) - epoch_us(first_view)) / 3600000000.0 AS hours
        |  FROM f
        |  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        |    AND first_buy > first_view)
        |SELECT count(1) AS n_converted,
        |  round(quantile_cont(hours, 0.5) + 0.000000001, 4) AS median_hours,
        |  round(quantile_cont(hours, 0.9) + 0.000000001, 4) AS p90_hours
        |FROM h""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         quantile_cont(l_extendedprice, 0.05) AS lo,
        |         quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(1) AS n,
        |  round(avg(l_extendedprice) + 0.000000001, 4) AS mean_raw,
        |  round(avg(least(greatest(l_extendedprice, lo), hi)) + 0.000000001, 4) AS mean_winsor,
        |  round(min(least(greatest(l_extendedprice, lo), hi)) + 0.000000001, 4) AS min_w,
        |  round(max(least(greatest(l_extendedprice, lo), hi)) + 0.000000001, 4) AS max_w
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_mad" ->
      """WITH m AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(max(med) + 0.000000001, 4) AS median,
        |  round(quantile_cont(abs(l_extendedprice - med), 0.5) + 0.000000001, 4) AS mad,
        |  count(1) AS n
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_spearman" ->
      """WITH r AS (
        |  SELECT l_returnflag AS g,
        |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + (count(1) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS ra,
        |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |      + (count(1) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS rb
        |  FROM lineitem),
        |s AS (
        |  SELECT g, count(1)::DOUBLE AS n, sum(ra) AS sa, sum(rb) AS sb,
        |         sum(ra * rb) AS sab, sum(ra * ra) AS saa, sum(rb * rb) AS sbb
        |  FROM r GROUP BY g)
        |SELECT g,
        |  round((n * sab - sa * sb)
        |    / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) + 0.000000001, 4) AS rho,
        |  n::BIGINT AS n
        |FROM s ORDER BY g""".stripMargin,

    "dq_uniqueness" -> {
      val rows = Seq(
        ("customer", Seq("c_custkey")),
        ("events", Seq("event_id")),
        ("lineitem", Seq("l_orderkey", "l_linenumber")),
        ("orders", Seq("o_orderkey")),
        ("part", Seq("p_partkey")),
        ("supplier", Seq("s_suppkey"))).map { case (table, kc) =>
        val tup = if (kc.size > 1) s"(${kc.mkString(", ")})" else kc.head
        s"""SELECT '$table' AS table_name, '${kc.mkString(",")}' AS key_cols,
           |  count(1) AS n_rows, count(DISTINCT $tup) AS n_keys,
           |  count(1) = count(DISTINCT $tup) AS is_unique FROM $table""".stripMargin
      }
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    "dq_ref_integrity" -> {
      val rows = Seq(
        ("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"),
        ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"))
        .map { case (name, ct, ck, pt, pk) =>
          s"""SELECT '$name' AS relation,
             |  (SELECT count(1) FROM $ct) AS n_rows,
             |  (SELECT count(1) FROM $ct c WHERE NOT EXISTS
             |     (SELECT 1 FROM $pt p WHERE c.$ck = p.$pk)) AS n_orphans,
             |  (SELECT count(1) FROM $ct c WHERE NOT EXISTS
             |     (SELECT 1 FROM $pt p WHERE c.$ck = p.$pk)) = 0 AS intact""".stripMargin
        }
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },

    "dq_drift" -> {
      val binExpr = (1 to 9)
        .map(i => s"(CASE WHEN value > e$i THEN 1 ELSE 0 END)").mkString(" + ")
      val edgeCols = (1 to 9)
        .map(i => s"quantile_cont(value, 0.${i}) AS e$i").mkString(", ")
      s"""WITH cut AS (SELECT min(ts::DATE) + 15 AS cut FROM events),
         |tagged AS (
         |  SELECT event_type, value, ts::DATE < cut AS is_ref FROM events, cut),
         |e AS (SELECT $edgeCols FROM tagged WHERE is_ref),
         |b AS (SELECT event_type, is_ref, $binExpr AS bin FROM tagged, e),
         |c AS (
         |  SELECT event_type, bin,
         |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
         |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cur
         |  FROM b GROUP BY 1, 2),
         |w AS (
         |  SELECT *, sum(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         |            sum(c_cur) OVER (PARTITION BY event_type) AS n_cur
         |  FROM c),
         |p AS (
         |  SELECT event_type, (c_cur + 1.0) / (n_cur + 10.0) AS p,
         |         (c_ref + 1.0) / (n_ref + 10.0) AS q, n_ref, n_cur
         |  FROM w)
         |SELECT event_type,
         |  round(sum((p - q) * ln(p / q)) + 0.000000001, 4) AS psi,
         |  max(n_ref)::BIGINT AS n_ref, max(n_cur)::BIGINT AS n_cur
         |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "dq_freshness" ->
      """WITH p AS (
        |  SELECT event_type, max(ts::DATE) AS last_day, count(1) AS n_rows
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(ts::DATE) AS as_of FROM events)
        |SELECT event_type, strftime(last_day, '%Y-%m-%d') AS last_day,
        |  date_diff('day', last_day, as_of) AS days_stale,
        |  date_diff('day', last_day, as_of) > 2 AS is_stale, n_rows
        |FROM p, g ORDER BY event_type""".stripMargin,

    "dq_anomaly" ->
      """WITH m AS (
        |  SELECT event_id, event_type, value,
        |         avg(value) OVER (PARTITION BY event_type) AS mu,
        |         stddev_samp(value) OVER (PARTITION BY event_type) AS sigma
        |  FROM events)
        |SELECT event_id, event_type, value,
        |       round((value - mu) / sigma + 0.000000001, 3) AS z
        |FROM m
        |WHERE sigma IS NOT NULL AND sigma > 0
        |  AND abs((value - mu) / sigma) > 3 ORDER BY event_id""".stripMargin)
}

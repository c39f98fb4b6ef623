package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables

/** Extension-tier relational analytics (SURVEY.md §2.5): joins of every
  * flavor, hash aggregation with partial/map-side combine, grouping sets,
  * window functions, set operations, top-k, as-of and range joins, and JSON
  * extraction. All declarative DataFrame plans — Catalyst picks broadcast vs
  * shuffle joins (small dims are explicitly hinted), AQE handles runtime
  * re-planning at scale.
  */
object RelationalQueries {

  private val Fmt = "yyyy-MM-dd HH:mm:ss"
  private val OracleFmt = "%Y-%m-%d %H:%M:%S"

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: scan-side filter, hash agg with map-side combine.
    "q1_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q3 shape: 3-way join, agg, top-k on rounded revenue.
    "q3_top_orders" -> ((s, d) => {
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp") &&
                col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(
          col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 5-way star join with broadcast dims, agg per nation.
    "q5_region_revenue" -> ((s, d) => {
      val dims = broadcast(
        t(s, d, "nation")
          .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(dims, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Distinct aggregation (exact) + plain aggregates per group.
    "q_agg_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n"),
          round(sum("value"), 2).as("sum_value"),
          round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type")),

    // ROLLUP hierarchy totals; NULL group markers coalesced for stable order.
    "q_rollup" -> ((s, d) =>
      t(s, d, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .select(
          coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("chars"))
        .orderBy("lang", "source")),

    // CUBE over event_type × weekday.
    "q_cube" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("dow", weekday(col("ts")).cast("bigint"))
        .cube("event_type", "dow")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("dow"), lit(-1L)).as("dow"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "dow")),

    // GROUPING SETS via the SQL surface on registered views.
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_v")
      s.sql(
        """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
          |       count(1) AS n_docs
          |FROM documents_v
          |GROUP BY GROUPING SETS ((lang), (source))
          |ORDER BY lang, source""".stripMargin)
    }),

    // Left outer join + count, keeping zero-order customers.
    "q_outer_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_spend"))
        .orderBy("c_custkey")),

    // Semi + anti joins, tagged and unioned.
    "q_semi_anti" -> ((s, d) => {
      val customer = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val noOrders = customer
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("tag"), col("c_custkey"))
      val hasOpen = customer
        .join(orders.filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("has_open_order").as("tag"), col("c_custkey"))
      noOrders.unionByName(hasOpen).orderBy("tag", "c_custkey")
    }),

    // Set operations: union distinct / intersect / except, tagged.
    "q_setops" -> ((s, d) => {
      val bigSpenders = t(s, d, "orders").filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("custkey")).distinct()
      val building = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      bigSpenders.union(building).distinct().withColumn("op", lit("union"))
        .unionByName(bigSpenders.intersect(building).withColumn("op", lit("intersect")))
        .unionByName(bigSpenders.except(building).withColumn("op", lit("except")))
        .select("op", "custkey")
        .orderBy("op", "custkey")
    }),

    // Window: ranking with deterministic tie-break, top 3 orders/customer.
    "q_window_topk" -> ((s, d) =>
      Relational.topKPerGroup(
          t(s, d, "orders"),
          Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey")),
          k = 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")),

    // Window: running sum + lag over event time per user.
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("running_value",
          round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .select(
          col("user_id"), col("event_id"),
          date_format(col("ts"), Fmt).as("ts"),
          col("running_value"), col("prev_type"))
        .orderBy("user_id", "event_id")
    }),

    // Global sort + limit (top-k) with full tie-break.
    "q_sort_limit" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(15)),

    // As-of join: each event matched to the user's latest prior order.
    "q_asof_join" -> ((s, d) => {
      // Dedup right side to unique (key, time): max orderkey wins.
      val o = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      Relational.asofJoin(
          t(s, d, "events").select("event_id", "user_id", "ts"),
          o, leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightCols = Seq("o_orderkey", "o_orderdate"))
        .select(
          col("event_id"), col("user_id"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))
        .orderBy("event_id")
    }),

    // Range join: equi key + bounded time interval.
    "q_range_join" -> ((s, d) =>
      t(s, d, "lineitem").as("l")
        .join(t(s, d, "orders").as("o"),
          col("l.l_orderkey") === col("o.o_orderkey") &&
          col("l.l_shipdate") >= col("o.o_orderdate") &&
          col("l.l_shipdate") <= col("o.o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("o_orderstatus")),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` share the definition; rounded).
    "q_percentiles" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.95)), 4).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Multiplicity-preserving set ops: INTERSECT ALL / EXCEPT ALL keep
    // duplicate cardinality (the plain variants dedup), pinned on a column
    // with real duplicates.
    "q_setops_all" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val hi = li.filter(col("l_quantity") > 25).select("l_suppkey")
      val ret = li.filter(col("l_returnflag") === "R").select("l_suppkey")
      hi.intersectAll(ret).withColumn("op", lit("intersect_all"))
        .unionByName(hi.exceptAll(ret).withColumn("op", lit("except_all")))
        .select("op", "l_suppkey")
        .orderBy("op", "l_suppkey")
    }),

    // Fixed-width histogram binning — the OLAP distribution primitive.
    "q_histogram" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 10000).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice") + 1e-9, 2).as("lo"),
          round(max("l_extendedprice") + 1e-9, 2).as("hi"))
        .orderBy("bin")),

    // Skew-treated aggregation: same hot-key construction as q_skew_join,
    // two-phase (key, salt) -> key aggregation; the oracle is the plain
    // single-phase GROUP BY it must equal (sums are decimal-exact and
    // counts integral, so the two-phase regrouping cannot drift).
    "q_salted_agg" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("k",
          when(col("event_id") % 10 < 4, lit(0L)).otherwise(col("user_id")))
      Relational.saltedAgg(ev, "k", salts = 8, saltSource = "event_id",
          partial = Seq(count(lit(1)).as("pn"),
            sum(col("value").cast("decimal(18,6)")).as("psum")),
          merge = Seq(sum("pn").as("n"),
            sum("psum").cast("double").as("sum_value")))
        .select(col("k"), col("n"), round(col("sum_value") + 1e-9, 2).as("sum_value"))
        .orderBy("k")
    }),

    // Latest-wins upsert (MERGE): a 10% slice of orders arrives re-priced
    // with a newer version date; the result keeps exactly one row per key,
    // updates beating base. Timestamps leave as strings per convention.
    "q_upsert" -> ((s, d) => {
      val base = t(s, d, "orders")
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", round(col("o_totalprice") * 1.1 + 1e-9, 2))
        .withColumn("o_orderdate", col("o_orderdate") + expr("interval 1000 days"))
      Relational.upsert(base, updates, "o_orderkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), Fmt).as("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // LATERAL correlated subquery with LIMIT — the "top-N related rows per
    // outer row" shape users write naturally; Spark must decorrelate it
    // (no per-row re-execution of the inner query), which is the property
    // that makes it runnable at scale. Restricted to urgent orders so the
    // output stays review-sized.
    "q_lateral_topn" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders_lat")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem_lat")
      s.sql(
        """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
          |FROM (SELECT * FROM v_orders_lat
          |      WHERE o_orderpriority = '1-URGENT') o
          |JOIN LATERAL (
          |  SELECT l_linenumber, l_extendedprice FROM v_lineitem_lat
          |  WHERE l_orderkey = o.o_orderkey
          |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
          |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin)
    }),

    // Incremental rollup maintenance — the materialized-view pattern that
    // avoids full recomputes at 100 TB: yesterday's aggregate table merged
    // with the new day's partial aggregate by RE-AGGREGATING the partials
    // (counts/sums add, min/max fold; avg derives from merged sums, never
    // averaged averages). The oracle is the FULL recompute over all rows —
    // equality IS the merge-correctness claim.
    "q_incr_rollup" -> ((s, d) => {
      val cut = lit("1997-01-01").cast("timestamp")
      def partial(df: DataFrame) = df
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"))
      val li = t(s, d, "lineitem")
      partial(li.filter(col("l_shipdate") < cut))
        .unionByName(partial(li.filter(col("l_shipdate") >= cut)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("n").cast("long").as("n"),
          sum("sum_qty").as("sum_qty"),
          min("min_price").as("min_price"),
          max("max_price").as("max_price"))
        .withColumn("avg_qty", round(col("sum_qty") / col("n") + 1e-9, 4))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Incremental QUANTILE maintenance — q_incr_rollup's missing piece at
    // 100 TB: counts/sums/min/max merge trivially, but a quantile needs a
    // mergeable summary. Per-day partials are fixed-256-bin histogram
    // counts over the group's [min, max] (the range itself merges by
    // min/max fold); merging days = summing counts; the quantile reads
    // the merged CDF (first bin whose cumulative count reaches q·total —
    // the same "smallest value with cdf ≥ q" definition percentile_disc
    // uses, so the exact value's bin IS the looked-up bin). In-query
    // certificate: (a) merged-from-dailies estimate equals the direct
    // single-pass estimate EXACTLY (integer counts ⇒ merge-order
    // invariance), (b) the bin-midpoint estimate lands within half a bin
    // width of exact percentile_disc, per group and quantile. The oracle
    // pins exact counts + all-TRUE, so approximation quality is itself
    // hash-verified (the fn_hll_sketch convention).
    "q_incr_quantiles" -> ((s, d) => {
      val B = 256
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val rng = ev.groupBy("event_type").agg(
        min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n_rows"))
        .withColumn("w", (col("hi") - col("lo")) / B)
      val binned = ev.join(broadcast(rng), "event_type")
        .withColumn("bin",
          when(col("w") === 0, lit(0)) // constant group: one bin, zero error
            .otherwise(least(lit(B - 1),
              floor((col("value") - col("lo")) / col("w")).cast("int"))))
      def estFrom(hist: DataFrame): DataFrame = {
        val byType = Window.partitionBy("event_type")
        hist
          .withColumn("cum", sum("n").over(byType.orderBy("bin")))
          .withColumn("total", sum("n").over(byType))
          .groupBy("event_type").agg(
            min(when(col("cum") >= col("total") * 0.5, col("bin"))).as("b50"),
            min(when(col("cum") >= col("total") * 0.9, col("bin"))).as("b90"))
      }
      val daily = binned.groupBy("event_type", "day", "bin").agg(count(lit(1)).as("n"))
      val merged = estFrom(daily.groupBy("event_type", "bin").agg(sum("n").as("n")))
      val direct = estFrom(binned.groupBy("event_type", "bin").agg(count(lit(1)).as("n")))
        .select(col("event_type"), col("b50").as("d50"), col("b90").as("d90"))
      val exact = ev.groupBy("event_type").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("x50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("x90"))
      merged.join(direct, "event_type")
        .join(broadcast(rng), "event_type").join(exact, "event_type")
        .select(col("event_type"), col("n_rows"),
          (col("b50") === col("d50") && col("b90") === col("d90")).as("merge_ok"),
          (abs(col("lo") + (col("b50") + 0.5) * col("w") - col("x50"))
            <= col("w") / 2 + 1e-9).as("p50_ok"),
          (abs(col("lo") + (col("b90") + 0.5) * col("w") - col("x90"))
            <= col("w") / 2 + 1e-9).as("p90_ok"))
        .orderBy("event_type")
    }),

    // Incremental quantiles with NO range assumption — the production
    // replacement for q_incr_quantiles' fixed-[lo,hi] histogram, whose
    // partials must be re-binned when a new day extends the range. KLL
    // sketches (Spark's built-in kll_sketch_agg_double, same Datasketches
    // family as fn_hll_sketch) are mergeable with a rank-error bound that
    // depends only on k, never on the value range: per-day sketch
    // partials, union-merged with kll_merge_agg_double, so day N+1 folds
    // in as one more merge regardless of its values. Certificate design
    // note: Datasketches KLL compaction is RANDOMIZED (an unseeded coin
    // picks the compaction offset once n > k), so merged estimates are
    // neither run-deterministic nor merge-order-invariant — an exact
    // equality check like q_incr_quantiles' merge_ok is unattainable by
    // construction. The honest mergeability certificate is the library's
    // own guarantee, checked against ground truth: the merged sketch's
    // p50/p90 estimates must have TRUE (exact, recomputed from the data)
    // ranks within the k=200 normalized rank-error bound of the target
    // rank, for BOTH an ascending-by-day and a descending-by-day merge
    // order, certified at 2x the 99%-confidence bound so the booleans are
    // stable across runs. The sketch's tracked n (exact in KLL through
    // any merge tree) must equal the true count — the deterministic half
    // of the mergeability claim. Oracle pins exact counts + all-TRUE.
    "q_incr_quantiles_kll" -> ((s, d) => {
      val K = 200
      val eps = 2 * org.apache.datasketches.kll.KllSketch.getNormalizedRankError(K, false)
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      // consumed twice (asc + desc merges) — materialize the tiny
      // (groups x days, ~KB sketches) partial frame once, per-suite
      // convention for multi-consumed small frames
      val daily = ev.groupBy("event_type", "day")
        .agg(expr(s"kll_sketch_agg_double(value, $K)").as("sk"), count(lit(1)).as("n"))
        .localCheckpoint(true)
      // two distinct merge orders: partial aggregation consumes each
      // partition in its sorted order, so sorting the one-partition-per-
      // group layout by day asc vs desc merges the identical day sketches
      // through two different merge trees
      def mergedEst(order: org.apache.spark.sql.Column, suffix: String): DataFrame =
        daily.repartition(col("event_type")).sortWithinPartitions(order)
          .groupBy("event_type")
          .agg(expr("kll_merge_agg_double(sk)").as("msk"), sum("n").as("n" + suffix))
          .select(col("event_type"), col("n" + suffix),
            expr("kll_sketch_get_n_double(msk)").as("skn" + suffix),
            expr("kll_sketch_get_quantile_double(msk, 0.5d)").as("e50" + suffix),
            expr("kll_sketch_get_quantile_double(msk, 0.9d)").as("e90" + suffix))
      val est = mergedEst(col("day").asc, "_a").join(
        mergedEst(col("day").desc, "_b").drop("n_b"), "event_type")
      // exact inclusive ranks of the four estimates, from the raw data
      val certs = ev.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          max("n_a").as("n_a"), max("skn_a").as("skn_a"), max("skn_b").as("skn_b"),
          (sum(when(col("value") <= col("e50_a"), 1).otherwise(0)) / count(lit(1))).as("r50_a"),
          (sum(when(col("value") <= col("e90_a"), 1).otherwise(0)) / count(lit(1))).as("r90_a"),
          (sum(when(col("value") <= col("e50_b"), 1).otherwise(0)) / count(lit(1))).as("r50_b"),
          (sum(when(col("value") <= col("e90_b"), 1).otherwise(0)) / count(lit(1))).as("r90_b"))
      val out = certs.select(col("event_type"), col("n_rows"),
        (col("n_a") === col("n_rows") && col("skn_a") === col("n_rows") &&
          col("skn_b") === col("n_rows")).as("n_ok"),
        (abs(col("r50_a") - 0.5) <= eps).as("p50_ok"),
        (abs(col("r90_a") - 0.9) <= eps).as("p90_ok"),
        (abs(col("r50_b") - 0.5) <= eps).as("p50b_ok"),
        (abs(col("r90_b") - 0.9) <= eps).as("p90b_ok"))
        .orderBy("event_type")
      out
    }),

    // Snapshot diff — change-data capture between two loads of the same
    // table (the reference's daily reload, made auditable): full outer
    // join on the key classifies every row as added / removed / changed,
    // unchanged rows drop out. Deterministic synthetic snapshots: "old"
    // misses keys ≡3 (mod 13) (not yet arrived), "new" misses keys ≡7
    // (mod 13) (deleted since) and reprices keys ≡0 (mod 5) by an exact
    // +10.0 so change detection is bit-safe on DOUBLE.
    "q_snapshot_diff" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val old = o.filter(col("o_orderkey") % 13 =!= 3)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val neu = o.filter(col("o_orderkey") % 13 =!= 7)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("new_price"))
      old.join(neu, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("old_price").isNull, lit("added"))
            .when(col("new_price").isNull, lit("removed"))
            .when(col("old_price") =!= col("new_price"), lit("changed"))
            .otherwise(lit("unchanged")))
        .filter(col("change_type") =!= "unchanged")
        .select("o_orderkey", "change_type", "old_price", "new_price")
        .orderBy("o_orderkey")
    }),

    // Skew-treated join: 40% of event rows collapse onto one hot key, then
    // the salted join spreads that key over 8 reducers. The oracle is the
    // PLAIN join — row-identity with the unsalted result is the whole
    // salting contract (the skew win itself, ~25% on a ×16 lineitem
    // fan-out at local[32] with broadcast disabled, is recorded under
    // BASELINE.md "Skew treatment").
    "q_skew_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("k",
          when(col("event_id") % 10 < 4, lit(0L)).otherwise(col("user_id")))
      val dim = ev.select("k").distinct()
        .withColumn("seg", concat(lit("seg_"), (col("k") % 5).cast("string")))
      Relational.saltedJoin(ev, dim, "k", salts = 8, saltSource = "event_id")
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("seg")
    }),

    // Correlated-subquery shapes, written as SQL on purpose: the point is
    // that Catalyst's decorrelation (RewritePredicateSubquery /
    // scalar-subquery rewrite) turns the per-row subquery into a join —
    // PlanSpec asserts the physical plan is a semi join / aggregate+join
    // with no per-row subplan.

    // TPC-H Q4 shape: orders in a date window with EXISTS a late-shipped
    // item, correlated on both the key and the order date.
    "q_exists_correlated" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM v_orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM v_lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 20 DAYS)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // TPC-H Q17 shape: scalar subquery per group — items under half their
    // part's average quantity.
    "q_scalar_subquery" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT l_returnflag, count(*) AS n_small,
          |       round(sum(l_extendedprice), 2) AS small_revenue
          |FROM v_lineitem l1
          |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM v_lineitem l2
          |                    WHERE l2.l_partkey = l1.l_partkey)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // TPC-H Q21 shape: multi-EXISTS + NOT-EXISTS, BOTH correlated against
    // the same fact table as the outer scan (the decorrelation surface Q4
    // doesn't cover — two independent subqueries over lineitem must
    // become two joins of the one fact side, not per-row subplans; the
    // NOT EXISTS additionally correlates on a column of a JOINED outer
    // table, o_orderdate). "Late" adapts Q21's receipt/commit lag to this
    // schema: shipped > 25 days after the order date. PlanSpec pins the
    // semi + anti join shape.
    "q_multi_exists" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, d, "supplier").createOrReplaceTempView("v_supplier")
      s.sql(
        """SELECT s.s_name, count(*) AS numwait
          |FROM v_supplier s
          |JOIN v_lineitem l1 ON s.s_suppkey = l1.l_suppkey
          |JOIN v_orders o ON o.o_orderkey = l1.l_orderkey
          |WHERE o.o_orderstatus = 'F'
          |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 25 DAYS
          |  AND EXISTS (SELECT 1 FROM v_lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 25 DAYS)
          |GROUP BY s.s_name
          |ORDER BY numwait DESC, s.s_name""".stripMargin)
    }),

    // TPC-H Q22 shape: anti join gated by an UNCORRELATED scalar-avg
    // subquery — above-average-balance customers with NO high-value
    // order (this corpus's order generator gives every customer ~10
    // orders, so Q22's literal "no orders at all" is empty; "no order
    // above 400k" keeps the identical anti-join-vs-scalar-avg plan shape
    // with a non-degenerate answer at every SF). The scalar must compile
    // to one one-row aggregate evaluated once and fed into the filter,
    // the NOT EXISTS to one anti join; nation stands in for Q22's
    // phone-prefix country code.
    "q_anti_scalar" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "nation").createOrReplaceTempView("v_nation")
      s.sql(
        """SELECT n.n_name, count(*) AS numcust,
          |       round(sum(c.c_acctbal), 2) AS totacctbal
          |FROM v_customer c JOIN v_nation n ON c.c_nationkey = n.n_nationkey
          |WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM v_customer
          |                     WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM v_orders
          |                  WHERE o_custkey = c.c_custkey
          |                    AND o_totalprice > 400000.0)
          |GROUP BY n.n_name
          |ORDER BY n.n_name""".stripMargin)
    }),

    // Z-TILED layout round trip: events written into 64 Morton-tile
    // directories over (value, user_id), then a 2-d box read back through
    // readZTiled — the tile list is a PARTITION filter (planning-time
    // directory pruning on BOTH columns; 4/64 tiles for this box,
    // spec-pinned in SinksSpec), the residual predicate is exact. The
    // oracle filters the raw table directly, so any tile mis-assignment,
    // boundary slip, or over-pruning loses/admits a row and
    // hash-mismatches.
    "q_ztile_box" -> ((s, d) => ScratchKeys.withScratch("graft_ztile_") { dir =>
      val scratch = dir.toString
      graft.sources.Sinks.writeZTiled(
        t(s, d, "events").select("event_id", "user_id", "value"),
        scratch, "value", "user_id", bitsPerDim = 8, tileBits = 6)
      graft.sources.Sinks.readZTiled(s, scratch, 50.0, 150.0, 30.0, 90.0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id")
        .localCheckpoint(true) // materialize before the scratch dir goes
    }),

    // Approximate tier — the 100 TB defaults, where exact countDistinct
    // means a full shuffle of every key and exact percentiles a full sort.
    // The sketch values themselves can't cross-engine match (each engine's
    // HLL/quantile summary differs), so each query outputs the EXACT value
    // plus a boolean asserting its approximation landed within the
    // algorithm's error bound — both sides deterministic given fixed data,
    // so the hash-compare has real teeth: a sketch drifting out of bound
    // fails correctness.

    // HLL++ distinct counts (rsd 2%) vs exact, per event_type: the bound is
    // 3σ relative plus small-cardinality slack.
    "q_approx_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users") * 0.06 + lit(3)).as("approx_ok"))
        .orderBy("event_type")),

    // GK approximate median (accuracy 10k => rank error <= 1e-4·n) vs the
    // exact interpolated percentile, bounded by the exact p49.5/p50.5 band.
    "q_approx_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("exact_p50"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
          percentile(col("l_extendedprice"), lit(0.495)).as("lo"),
          percentile(col("l_extendedprice"), lit(0.505)).as("hi"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("exact_p50"), col("n"),
          (col("ap50") >= col("lo") && col("ap50") <= col("hi")).as("approx_ok"))
        .orderBy("l_returnflag")),

    // Conversion funnel: for each view, did the same user purchase within
    // the next hour? One shuffle on user, sessionless event-sequence logic
    // via the merge-ordered window (no self-join explosion).
    "q_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val nextPurchaseTs = ev
        .filter(col("event_type").isin("view", "purchase"))
        .withColumn("next_ts", min(when(col("event_type") === "purchase", col("ts")))
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
      nextPurchaseTs
        .filter(col("event_type") === "view")
        .withColumn("converted",
          col("next_ts").isNotNull &&
            unix_micros(col("next_ts")) - unix_micros(col("ts")) <= 3600L * 1000000L)
        .groupBy("converted")
        .agg(count(lit(1)).as("n_views"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("converted")
    }),

    // Pivot: daily event counts, one column per (fixed) event type.
    "q_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, d, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
        .orderBy("day")
    }),

    // Gap-fill + carry-forward: a complete day spine per event type, daily
    // value sums, missing days filled with the last observed value. The
    // spine is generated (sequence/explode), never collected.
    "q_gapfill" -> ((s, d) => {
      val ev = t(s, d, "events")
      val daily = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(round(sum("value"), 2).as("v"))
      val spine = ev.agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .crossJoin(ev.select("event_type").distinct())
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day", "event_type"), "left")
        .withColumn("v_filled", coalesce(last("v", ignoreNulls = true).over(w), lit(0.0)))
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"),
          col("v_filled"))
        .orderBy("day", "event_type")
    }),

    // Semi-structured VARIANT path (Spark 4): parse the props JSON ONCE
    // into the binary-encoded VariantType, then do typed extractions from
    // the parsed value. At scale this is the right shape for repeated
    // extraction — parse_json is paid once per row and each variant_get
    // is a cheap binary probe, where q_json_extract's get_json_object
    // re-parses the string per call. try_variant_get pins the
    // missing-path (NULL, not error) and cast semantics.
    "q_variant" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("v", parse_json(col("props")))
        .select(
          col("event_id"),
          col("event_type"),
          try_variant_get(col("v"), "$.k", "bigint").as("k_int"),
          try_variant_get(col("v"), "$.k", "string").as("k_str"),
          try_variant_get(col("v"), "$.missing", "string").as("k_missing"),
          is_variant_null(col("v")).as("v_is_null"))
        .orderBy("event_id")),

    // JSON extraction from the events props column.
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"))
        .orderBy("event_type"))
  )

  val oracles: Map[String, String] = Map(

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(1) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, count(1) AS n,
        | round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        | count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang, source""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        | coalesce(CAST(isodow(ts) - 1 AS BIGINT), -1) AS dow,
        | count(1) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY CUBE (event_type, (CAST(isodow(ts) - 1 AS BIGINT)))
        |ORDER BY event_type, dow""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        | count(1) AS n_docs
        |FROM documents GROUP BY GROUPING SETS ((lang), (source))
        |ORDER BY lang, source""".stripMargin,

    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_semi_anti" ->
      """SELECT 'no_orders' AS tag, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'has_open_order' AS tag, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY tag, c_custkey""".stripMargin,

    "q_setops" ->
      """WITH big AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0),
        | bld AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT 'union' AS op, custkey FROM (SELECT custkey FROM big UNION SELECT custkey FROM bld)
        |UNION ALL
        |SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM big INTERSECT SELECT custkey FROM bld)
        |UNION ALL
        |SELECT 'except' AS op, custkey FROM (SELECT custkey FROM big EXCEPT SELECT custkey FROM bld)
        |ORDER BY op, custkey""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_running" ->
      s"""SELECT user_id, event_id, strftime(ts, '$OracleFmt') AS ts,
         | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
         | lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 15""".stripMargin,

    "q_asof_join" ->
      """WITH o AS (
        | SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        | FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.o_orderkey,
        | strftime(o.o_orderdate, '%Y-%m-%d') AS order_day
        |FROM events e
        |ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT o_orderstatus, count(1) AS n, round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        | count(1) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_setops_all" ->
      """WITH hi AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 25),
        | ret AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT 'intersect_all' AS op, l_suppkey
        |FROM (SELECT l_suppkey FROM hi INTERSECT ALL SELECT l_suppkey FROM ret)
        |UNION ALL
        |SELECT 'except_all' AS op, l_suppkey
        |FROM (SELECT l_suppkey FROM hi EXCEPT ALL SELECT l_suppkey FROM ret)
        |ORDER BY op, l_suppkey""".stripMargin,

    "q_histogram" ->
      """SELECT floor(l_extendedprice / 10000)::BIGINT AS bin, count(1) AS n,
        | round(min(l_extendedprice) + 0.000000001, 2) AS lo,
        | round(max(l_extendedprice) + 0.000000001, 2) AS hi
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin,

    "q_salted_agg" ->
      """WITH e AS (
        |  SELECT *, CASE WHEN event_id % 10 < 4 THEN 0 ELSE user_id END AS k
        |  FROM events)
        |SELECT k, count(1) AS n,
        |  round(sum(value::DECIMAL(18,6))::DOUBLE + 0.000000001, 2) AS sum_value
        |FROM e GROUP BY k ORDER BY k""".stripMargin,

    "q_upsert" ->
      """WITH u AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         round(o_totalprice * 1.1 + 0.000000001, 2) AS o_totalprice,
        |         o_orderdate + INTERVAL 1000 DAY AS o_orderdate
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |a AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS src
        |  FROM orders
        |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 1 FROM u),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, src DESC) AS rn
        |  FROM a)
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
        |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q_lateral_topn" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        |FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |JOIN LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l ON TRUE
        |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin,

    "q_incr_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(1) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  round(sum(l_quantity) / count(1) + 0.000000001, 4) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_incr_quantiles" ->
      """SELECT event_type, count(1) AS n_rows,
        |  TRUE AS merge_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_incr_quantiles_kll" ->
      """SELECT event_type, count(1) AS n_rows, TRUE AS n_ok,
        |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p50b_ok, TRUE AS p90b_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |snap_a AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM o
        |  WHERE o_orderkey % 13 <> 3),
        |snap_b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS new_price
        |  FROM o WHERE o_orderkey % 13 <> 7),
        |d AS (
        |  SELECT coalesce(snap_a.o_orderkey, snap_b.o_orderkey) AS o_orderkey,
        |    old_price, new_price,
        |    CASE WHEN old_price IS NULL THEN 'added'
        |         WHEN new_price IS NULL THEN 'removed'
        |         WHEN old_price <> new_price THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM snap_a FULL OUTER JOIN snap_b
        |    ON snap_a.o_orderkey = snap_b.o_orderkey)
        |SELECT o_orderkey, change_type, old_price, new_price
        |FROM d WHERE change_type <> 'unchanged' ORDER BY o_orderkey""".stripMargin,

    "q_skew_join" ->
      """WITH e AS (
        |  SELECT *, CASE WHEN event_id % 10 < 4 THEN 0 ELSE user_id END AS k
        |  FROM events),
        |d AS (SELECT DISTINCT k, 'seg_' || (k % 5)::VARCHAR AS seg FROM e)
        |SELECT seg, count(1) AS n, round(sum(value), 2) AS sum_value
        |FROM e JOIN d USING (k) GROUP BY seg ORDER BY seg""".stripMargin,

    "q_exists_correlated" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 20 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n_small,
        |       round(sum(l_extendedprice), 2) AS small_revenue
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_multi_exists" ->
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 25 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 25 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name""".stripMargin,

    "q_anti_scalar" ->
      """SELECT n.n_name, count(*) AS numcust,
        |       round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                     WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_totalprice > 400000.0)
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    // the raw-table filter the z-tiled round trip must reproduce exactly
    "q_ztile_box" ->
      """SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE value BETWEEN 50.0 AND 150.0 AND user_id BETWEEN 30 AND 90
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_percentile" ->
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        | count(1) AS n, TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_funnel" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'purchase')),
        |n AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM f)
        |SELECT (next_ts IS NOT NULL
        |        AND epoch_us(next_ts) - epoch_us(ts) <= 3600000000) AS converted,
        |       count(*) AS n_views, count(DISTINCT user_id) AS n_users
        |FROM n WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY converted""".stripMargin,

    "q_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q_gapfill" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day, event_type
        |  FROM bounds, (SELECT DISTINCT event_type FROM events)),
        |joined AS (
        |  SELECT spine.day, spine.event_type, daily.v
        |  FROM spine LEFT JOIN daily USING (day, event_type))
        |SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
        |  coalesce(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS v_filled
        |FROM joined ORDER BY day, event_type""".stripMargin,

    "q_variant" ->
      """SELECT event_id, event_type,
        | TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        | json_extract_string(props, '$.k') AS k_str,
        | json_extract_string(props, '$.missing') AS k_missing,
        | false AS v_is_null
        |FROM events ORDER BY event_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(1) AS n,
        | round(avg(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)), 4) AS avg_k,
        | max(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}

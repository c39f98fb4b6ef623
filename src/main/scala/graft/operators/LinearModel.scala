package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed linear classifier training + scoring — the
  * "quality/language classifier" stage of an LLM-data pipeline (the
  * FineWeb-Edu / CCNet-style filter: a cheap linear probe distills a
  * labeling rule or judge into a scorer that runs over the whole corpus),
  * built so the ENTIRE training run is bit-exactly replayable in a second
  * SQL engine (extension tier; the reference has no ML surface —
  * SURVEY.md §7).
  *
  * Training is full-batch gradient descent on squared loss with the
  * Elliott squashing link σ(m) = 0.5 + 0.5·m/(1+|m|) (Elliott 1993) —
  * chosen over the logistic sigmoid DELIBERATELY: it uses only +, ×, /,
  * |·|, all IEEE-754-exact and identical across engines, where exp()
  * differs in final ulps between libm implementations and would defeat
  * arithmetic-replay verification. σ is monotone, maps to (0, 1), and
  * its derivative 0.5/(1+|m|)² is the same exact-arithmetic class.
  *
  * Determinism contract (the [[Similarity.kmeansAssign]] discipline):
  * per-row gradient contributions are cast to DECIMAL(28,14) and summed
  * exactly (order-independent, engine-independent), the mean and weight
  * update are plain double arithmetic with a pinned evaluation order,
  * and weights live on the driver between rounds (O(d) — model-parameter
  * scale, like the BPE merge table and index `_meta` reads).
  *
  * Scale shape: one map-side-combinable aggregation per round (d decimal
  * sums + a count — a single hash-free reduce), zero joins, zero
  * shuffles beyond the aggregation's; cost is O(corpus · d · iters).
  * Scoring is row-local arithmetic (codegen'd, no UDF). This is the
  * textbook distributed full-batch GD; at 100 TB rounds are corpus scans,
  * so `iters` stays small and the feature frame should be a materialized
  * projection.
  */
object LinearModel {

  /** Squashing link σ(m) = 0.5 + (0.5·m)/(1+|m|) — evaluation order
    * pinned to match the oracle's SQL text token-for-token.
    */
  def squash(m: Column): Column =
    lit(0.5) + (lit(0.5) * m) / (lit(1.0) + abs(m))

  /** Margin Σ wⱼ·xⱼ as a left-associated addition chain — the order the
    * oracle replays.
    */
  def margin(xCols: Seq[Column], w: Seq[Double]): Column = {
    require(xCols.nonEmpty && xCols.size == w.size,
      s"got ${xCols.size} feature columns for ${w.size} weights")
    xCols.zip(w).map { case (x, wi) => x * lit(wi) }.reduceLeft(_ + _)
  }

  /** Train weights (zero-initialized) by `iters` full-batch GD rounds at
    * learning rate `lr` over feature columns `xCols` (doubles; include an
    * explicit all-ones bias column) against `yCol` ∈ {0.0, 1.0}.
    * Returns the learned weight vector.
    */
  def trainSquashedLinear(
      feats: DataFrame,
      xCols: Seq[String],
      yCol: String,
      lr: Double,
      iters: Int): Array[Double] = {
    require(iters >= 1 && lr > 0, s"iters=$iters, lr=$lr must be positive")
    // NULLs must fail loudly up front: a null feature value would be
    // silently DROPPED from its gradient component's sum while still
    // counted in n (biasing that component against the exact-replay
    // contract), and an all-null column would NPE mid-training with no
    // column name. One pre-pass names the offender instead.
    val nullCond = (xCols :+ yCol).map(col(_).isNull).reduce(_ || _)
    val bad = feats.filter(nullCond).limit(1).collect()
    require(bad.isEmpty,
      s"trainSquashedLinear: NULL in feature/label row ${bad.headOption
        .map(_.toString).getOrElse("")} — impute or filter before training " +
        s"(columns checked: ${(xCols :+ yCol).mkString(", ")})")
    var w = Array.fill(xCols.size)(0.0)
    for (_ <- 1 to iters) {
      val m = margin(xCols.map(col), w.toSeq)
      val p = squash(m)
      val ds = lit(0.5) / ((lit(1.0) + abs(m)) * (lit(1.0) + abs(m)))
      val err = p - col(yCol)
      val gradCols = xCols.zipWithIndex.map { case (c, j) =>
        sum(((err * ds) * col(c)).cast("decimal(28,14)")).cast("double").as(s"g$j")
      }
      val r = feats.agg(count(lit(1)).as("n"), gradCols: _*).head()
      val n = r.getLong(0)
      require(n > 0, "trainSquashedLinear: empty feature frame")
      w = w.zipWithIndex.map { case (wj, j) => wj - lr * (r.getDouble(j + 1) / n) }
    }
    w
  }

  /** [[trainSquashedLinear]] with a driver fast path: under `maxRows`
    * the rows are collected and trained on the driver ([[gdOnRows]]);
    * past it, the UNCHANGED distributed [[trainSquashedLinear]] trains
    * instead of refusing, so a corpus-proportional feature frame (one
    * row per document, no sampling step) keeps training at any scale.
    *
    * Exists because a k-feature GD round as a distributed aggregate pays
    * Catalyst planning + codegen PER ITERATION — negligible at k=5,
    * pathological at k=65 (seconds per round before any data is
    * touched) — while the driver loop plans nothing per round. The two
    * paths round decimal casts differently only on boundary doubles (see
    * [[gdOnRows]]); corpora near the cap boundary should pin one path
    * explicitly if last-decimal weight reproducibility across scales
    * matters.
    */
  def trainSquashedLinearAuto(
      feats: DataFrame,
      xCols: Seq[String],
      yCol: String,
      lr: Double,
      iters: Int,
      maxRows: Long = 1000000L): Array[Double] = {
    // < Int.MaxValue: limit() takes an Int, and (maxRows + 1).toInt on a
    // larger value wraps negative → a confusing AnalysisException instead
    // of this contract error
    require(maxRows > 0 && maxRows < Int.MaxValue,
      s"maxRows=$maxRows must be in (0, ${Int.MaxValue})")
    // one row past the cap DETECTS the overflow without collecting an
    // unbounded frame
    val rows = feats.select((xCols :+ yCol).map(col): _*)
      .limit((maxRows + 1).toInt).collect()
    if (rows.length > maxRows) trainSquashedLinear(feats, xCols, yCol, lr, iters)
    else gdOnRows(rows, xCols.size, lr, iters)
  }

  /** Driver-side twin of [[trainSquashedLinear]] over collected rows —
    * ORACLE-IDENTICAL arithmetic: the margin is the identical
    * left-associated double chain, each gradient term quantizes to
    * DECIMAL(28,14) with the rint-based half-even cast the ORACLE engine
    * (DuckDB) uses — which deliberately DIVERGES from Spark's
    * double→decimal cast (shortest-string HALF_UP) on boundary doubles,
    * so this loop is replay-verified against the oracle but NOT
    * bit-identical to the distributed twin on data that hits such a
    * boundary (the tested corpora do not) — the accumulation is exact
    * decimal (order-free — the reason the house uses decimal sums), and
    * the update is one double division.
    */
  private def gdOnRows(
      rows: Array[org.apache.spark.sql.Row],
      k: Int,
      lr: Double,
      iters: Int): Array[Double] = {
    require(iters >= 1 && lr > 0, s"iters=$iters, lr=$lr must be positive")
    require(rows.nonEmpty, "trainSquashedLinearAuto: empty feature frame")
    rows.foreach { r =>
      require(!(0 to k).exists(r.isNullAt),
        s"trainSquashedLinearAuto: NULL in feature/label row $r")
    }
    val xs = rows.map(r => Array.tabulate(k)(r.getDouble))
    val ys = rows.map(_.getDouble(k))
    val n = rows.length
    val w = Array.fill(k)(0.0)
    // double→DECIMAL(28,14) exactly as the ORACLE engine casts it:
    // rint(d · 10¹⁴) — one double multiply, then round-half-even on the
    // product (measured against DuckDB on 120/120 boundary doubles where
    // shortest-string HALF_UP and exact-binary rounding disagree; the
    // r14 word-bin student never hit such a boundary, the r15 char-gram
    // student's larger-magnitude terms hit them every few thousand casts
    // and drifted the 50-round chains apart at the 10th decimal).
    // Bounded |d| < 9.2e4 by the Long mantissa — gradient terms here are
    // O(scale · fraction) ≈ O(10).
    def toDecimal14(d: Double): java.math.BigDecimal = {
      val p = Math.rint(d * 1e14)
      require(math.abs(p) < Long.MaxValue.toDouble,
        s"toDecimal14 overflow: $d")
      java.math.BigDecimal.valueOf(p.toLong, 14)
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(java.math.BigDecimal.ZERO)
      var i = 0
      while (i < n) {
        val x = xs(i)
        var m = x(0) * w(0)
        var j = 1
        while (j < k) { m += x(j) * w(j); j += 1 }
        val p = 0.5 + (0.5 * m) / (1.0 + math.abs(m))
        val ds = 0.5 / ((1.0 + math.abs(m)) * (1.0 + math.abs(m)))
        val err = p - ys(i)
        j = 0
        while (j < k) {
          sums(j) = sums(j).add(toDecimal14((err * ds) * x(j)))
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < k) {
        w(j) = w(j) - lr * (sums(j).doubleValue() / n)
        j += 1
      }
    }
    w
  }

  /** Score rows under fixed weights: σ(margin) rounded to 7 decimals
    * BEFORE any comparison (the cross-engine ranking rule), plus the
    * thresholded prediction.
    */
  def scoreSquashedLinear(
      feats: DataFrame,
      xCols: Seq[String],
      w: Seq[Double],
      scoreCol: String = "score",
      predCol: String = "pred"): DataFrame = {
    val s = round(squash(margin(xCols.map(col), w)), 7)
    feats.withColumn(scoreCol, s).withColumn(predCol, col(scoreCol) >= 0.5)
  }

  /** Isotonic-regression calibration fit (pool-adjacent-violators; Ayer
    * et al. 1955, Zadrozny & Elkan 2002) — the calibration pass a
    * model-based quality filter needs before its scores can gate data as
    * KEEP PROBABILITIES (the `tx_clf_calibration` audit measures the
    * distortion; this removes it): given per-score-level label
    * statistics, fit the least-squares MONOTONE map score → P(y=1).
    *
    * Computed via the minimax closed form of the PAV solution
    * (Robertson, Wright & Dykstra 1988, eq. 1.9–1.13):
    *
    *   cal(i) = min_{k ≥ i} max_{j ≤ i} mean(y over levels j..k)
    *
    * which replays as pure relational algebra — integer prefix sums over
    * the level table, one (j ≤ k) pair frame, a running max per k, a min
    * per i — instead of the sequential pooling stack, so a second SQL
    * engine reproduces it bit-for-bit: every interval mean is ONE double
    * division of exact integer sums (identical across engines), and
    * max/min comparisons on identical doubles are exact. This is the
    * same "replace the sequential algorithm by its closed form" device
    * as the classifier's recursive-CTE GD replay.
    *
    * Input `levels`: (lvl: double — the DISTINCT score level, n: long —
    * rows at that level, pos: long — positives at that level). Output:
    * (lvl, cal) with cal the fitted monotone probability, UNROUNDED
    * (callers round for presentation; comparisons happen on the exact
    * doubles).
    *
    * Scale shape: the level table is bounded by the score grid (4-decimal
    * levels → ≤ 10001 rows) regardless of corpus size, so the O(m²) pair
    * frame is CONSTANT-bounded and corpus-independent — only the
    * upstream level aggregation scans the data. The windows partition by
    * a constant because m is model-sized, the same single-partition
    * discipline as the MW/GD weight frames.
    */
  def isotonicFit(levels: DataFrame): DataFrame = {
    val one = Window.partitionBy(lit(1)).orderBy("lvl")
    val cum = one.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val li = levels
      .select(col("lvl"), col("n").cast("long").as("n"),
        col("pos").cast("long").as("pos"))
      .withColumn("i", row_number().over(one))
      .withColumn("cn", sum("n").over(cum))
      .withColumn("cpos", sum("pos").over(cum))
      .localCheckpoint(true) // level-table-sized; feeds two join sides
    val a = li.select(col("i").as("ji"), col("lvl"),
      (col("cn") - col("n")).as("cn0"), (col("cpos") - col("pos")).as("cpos0"))
    val b = li.select(col("i").as("ki"), col("cn").as("cnk"),
      col("cpos").as("cposk"))
    val wk = Window.partitionBy("ki").orderBy("ji")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.join(b, col("ji") <= col("ki"))
      .withColumn("mn", (col("cposk") - col("cpos0")).cast("double")
        / (col("cnk") - col("cn0")).cast("double"))
      .withColumn("mxv", max("mn").over(wk))
      .groupBy("ji", "lvl").agg(min("mxv").as("cal"))
      .select("lvl", "cal")
  }

  /** Apply a fitted isotonic map as a STEP FUNCTION: each row's score
    * level maps to the calibrated value of the greatest fitted level
    * ≤ it, clamping below the smallest level to the first value (scores
    * above the largest level take its value by the same rule). The map
    * is level-table-sized, so both joins broadcast; `lvlCol` must be on
    * the same rounded grid the fit was built from.
    *
    * The level resolution groups by a synthetic per-row id, NOT by the
    * input columns — duplicate input rows each keep their own output row
    * and non-groupable column types (map, …) pass through untouched; the
    * original columns ride the group as `first()` of values that are
    * identical within it by construction (the non-equi join only
    * replicates the row).
    */
  def isotonicApply(
      scored: DataFrame,
      lvlCol: String,
      fit: DataFrame,
      outCol: String = "cal_score"): DataFrame = {
    val keys = scored.columns.toSeq
    val calL = fit.select(col("lvl").as("__clvl"), col("cal").as("__cal"))
      .localCheckpoint(true)
    val first0 = calL.orderBy("__clvl").limit(1)
      .select(col("__cal").as("__cal0"))
    val aggs = keys.map(c => first(col(c)).as(c)) :+
      max_by(col("__cal"), col("__clvl")).as("__calm")
    scored.withColumn("__iso_rid", monotonically_increasing_id())
      .join(broadcast(calL), col("__clvl") <= col(lvlCol), "left")
      .groupBy(col("__iso_rid"))
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(first0))
      .withColumn(outCol, coalesce(col("__calm"), col("__cal0")))
      .drop("__iso_rid", "__calm", "__cal0")
  }

  import org.apache.spark.sql.{SaveMode, SparkSession}
  import graft.sources.{Sinks, TableFamily}

  /** The persisted linear model: `_weights` (j, feature, w), `_meta` (d). */
  val Linear = new TableFamily("_weights", "_meta")

  /** [[Linear]] with its isotonic calibration map `_cal` (lvl, cal). */
  val Calibrated = new TableFamily("_weights", "_cal", "_meta")

  /** Persist a trained model as the 6th persisted family: `_weights`
    * ((j, feature, w) — the feature NAME travels with each weight, so
    * serving can never scramble the order) then `_meta` LAST (the
    * completeness-marker discipline every index family follows).
    */
  def writeLinearModel(
      spark: SparkSession,
      tablePrefix: String,
      xCols: Seq[String],
      w: Seq[Double]): Unit = {
    require(xCols.size == w.size && w.nonEmpty,
      s"${xCols.size} feature names for ${w.size} weights")
    spark.createDataFrame(w.indices.map(j => (j, xCols(j), w(j))))
      .toDF("j", "feature", "w")
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_weights")
    spark.createDataFrame(Seq(Tuple1(w.size))).toDF("d")
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_meta")
  }

  /** Persist a trained model WITH its isotonic calibration map — the
    * serving artifact a probability-gating filter actually needs (raw
    * squashed-linear scores are measurably miscalibrated; see the
    * calibration audit): `_weights` as in [[writeLinearModel]], `_cal`
    * ((lvl, cal) — the fitted step map from [[isotonicFit]], level
    * grid = the score rounding the caller fit on), then `_meta` LAST as
    * the completeness marker. Both artifacts are model-sized (d weights,
    * grid-bounded levels), so serving broadcasts them.
    */
  def writeCalibratedLinearModel(
      spark: SparkSession,
      tablePrefix: String,
      xCols: Seq[String],
      w: Seq[Double],
      fit: DataFrame): Unit = {
    require(xCols.size == w.size && w.nonEmpty,
      s"${xCols.size} feature names for ${w.size} weights")
    spark.createDataFrame(w.indices.map(j => (j, xCols(j), w(j))))
      .toDF("j", "feature", "w")
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_weights")
    fit.select(col("lvl"), col("cal"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_cal")
    spark.createDataFrame(Seq(Tuple1(w.size))).toDF("d")
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_meta")
  }

  /** Score a batch against a PERSISTED calibrated model: the
    * [[scoreAgainstLinearModel]] name-bound scoring plus the stored step
    * map applied to the 4-decimal score level — output adds `lvl` and
    * `cal_score` (unrounded; callers round for presentation). The
    * calibrated score is what gates data as a keep PROBABILITY; `pred`
    * stays the raw-score threshold gate the holdout certificate covers.
    */
  def scoreAgainstCalibratedModel(
      feats: DataFrame,
      tablePrefix: String): DataFrame = {
    val spark = feats.sparkSession
    val tp = Sinks.activeTablePrefix(spark, tablePrefix)
    val scored = scoreAgainstLinearModel(feats, tablePrefix)
      .withColumn("lvl", round(col("score") + 1e-9, 4))
    isotonicApply(scored, "lvl", spark.table(s"${tp}_cal"))
  }

  /** Score a batch against a PERSISTED model — the online half of the
    * train/serve split: generation-resolved, and the feature columns are
    * bound BY STORED NAME in stored order, so a caller holding the
    * feature frame in any column order scores identically (a missing
    * feature column fails loudly at resolution). Empty batches pass.
    */
  def scoreAgainstLinearModel(
      feats: DataFrame,
      tablePrefix: String,
      scoreCol: String = "score",
      predCol: String = "pred"): DataFrame = {
    val spark = feats.sparkSession
    val tp = Sinks.activeTablePrefix(spark, tablePrefix)
    // generation-immutable model state memoized per session
    // (SessionMemo): serving parities re-read weights + meta per micro-batch
    val rows = graft.SessionMemo.cached(spark, s"${tp}_meta", "weights") {
      spark.table(s"${tp}_weights")
        .orderBy("j").select("feature", "w").collect()
    }
    val names = rows.map(_.getString(0)).toSeq
    val w = rows.map(_.getDouble(1)).toSeq
    val d = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(0)
    require(d == w.size,
      s"model '$tablePrefix': _meta says $d weights, _weights has ${w.size}")
    scoreSquashedLinear(feats, names, w, scoreCol, predCol)
  }
}

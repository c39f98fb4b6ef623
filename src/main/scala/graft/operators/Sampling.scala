package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._

/** Deterministic sampling for training-data pipelines (extension tier,
  * SURVEY.md §7). `df.sample()` is seed-dependent per partitioning and
  * unreproducible across engines; these samplers decide membership from a
  * salted content hash instead, so
  *  - the same row is kept or dropped on EVERY run, engine, and partition
  *    layout (resumable pipelines, auditable samples),
  *  - sampling composes with dedup (a survivor stays a survivor),
  *  - the DuckDB oracle can replay the exact membership test.
  * Cost is one hash per row, no shuffle — the filter pushes into the scan
  * stage at any scale.
  */
object Sampling {

  /** The shared membership test: the row's salted-hash bucket in
    * [0, 1000). A row is kept iff its bucket is below the keep rate —
    * every sampler (and the oracle SQL) derives from this one expression.
    */
  private def bucketOf(key: Column, salt: String): Column =
    pmod(h60(concat(lit(s"$salt:"), key)), lit(1000L))

  private def requirePermille(p: Int): Unit =
    require(p >= 0 && p <= 1000, s"permille=$p must be in [0, 1000]")

  /** Per-stratum keep rates (missing strata keep nothing), e.g. downsampling over-represented languages. One hash per
    * row, membership decided row-locally — no per-stratum counts, no
    * shuffle, unlike `sampleBy` (which is also seed/partitioning
    * dependent).
    */
  def stratifiedHashSample(
      df: DataFrame,
      stratumCol: Column,
      key: Column,
      permilleByStratum: Map[String, Int],
      salt: String): DataFrame = {
    permilleByStratum.values.foreach(requirePermille)
    val rate = permilleByStratum.foldLeft(lit(0)) { case (acc, (s, p)) =>
      when(stratumCol === s, lit(p)).otherwise(acc)
    }
    df.filter(bucketOf(key, salt) < rate)
  }

  /** Temperature-rebalanced sampling at α = 0.5 — the square-root scaling
    * used to flatten skewed group distributions (over-represented
    * languages/domains) in multilingual pretraining mixes: each group's
    * keep-rate is floor(1000·√(n_min/n_g) + ε) permille, so a group
    * n_min-sized keeps everything and a k×-larger group keeps √(1/k).
    *
    * Unlike [[stratifiedHashSample]] the rates derive from the DATA: one
    * small aggregation over group counts, broadcast back onto the corpus,
    * then the same salted-hash membership rule. √ of a rational is
    * IEEE-exactly-rounded, so the computed rate is bit-identical across
    * engines (no pow(), whose last-ulp drift could flip the floor).
    *
    * Output: the sampled rows plus the group's `n_group` and applied
    * `rate_permille` (audit columns a curation run records).
    */
  def sqrtBalancedSample(
      df: DataFrame,
      groupCol: Column,
      key: Column,
      salt: String): DataFrame = {
    val counts = df.groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("n_group"))
    val minN = counts.agg(min("n_group").as("__nmin"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("__g"), col("n_group"),
        floor(lit(1000) * sqrt(col("__nmin").cast("double") / col("n_group"))
          + 1e-9).cast("int").as("rate_permille"))
    df.join(broadcast(rates), groupCol === col("__g"))
      .filter(bucketOf(key, salt) < col("rate_permille"))
      .drop("__g")
  }

  /** Token-budget mixture sampling — the data-mixing recipe that turns a
    * heterogeneous corpus into a training mix: given target mixture weights
    * per group (permille of the budget that each group should contribute)
    * and a global unit budget (tokens/chars/bytes — whatever `unitCol`
    * measures), derive each group's keep-rate
    *
    *   rate_g = min(1000, ⌊budget · w_g / units_g⌋) permille
    *
    * so a group's expected sampled mass is its budget share, capped at
    * keeping everything when the group is smaller than its allocation
    * (the cap is the under-represented-group case every published mix —
    * Pile/ROOTS/Dolma-style — hits in practice). Membership is then the
    * same salted-hash rule as every other sampler here: reproducible
    * across runs, engines, and partitionings.
    *
    * All-integer rate arithmetic (the numerator is reduced to an exact
    * multiple before dividing, operands < 2^53), so the oracle replays the
    * exact rates; one small aggregation over group unit sums, broadcast
    * back, zero additional shuffle on the corpus itself.
    *
    * Output: the sampled rows plus `group_units` and `rate_permille`
    * audit columns. Groups without a weight keep nothing.
    */
  def budgetMixtureSample(
      df: DataFrame,
      groupCol: Column,
      key: Column,
      unitCol: Column,
      weightPermille: Map[String, Int],
      budget: Long,
      salt: String): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    weightPermille.values.foreach(requirePermille)
    val sizes = df.groupBy(groupCol.as("__g"))
      .agg(sum(unitCol.cast("long")).as("group_units"))
    val w = weightPermille.foldLeft(lit(0L)) { case (acc, (g, p)) =>
      when(col("__g") === g, lit(p.toLong)).otherwise(acc)
    }
    val num = lit(budget) * w
    val rates = sizes.select(col("__g"), col("group_units"),
      least(lit(1000L),
        ((num - pmod(num, col("group_units"))) / col("group_units")).cast("long"))
        .cast("int").as("rate_permille"))
    df.join(broadcast(rates), groupCol === col("__g"))
      .filter(bucketOf(key, salt) < col("rate_permille"))
      .drop("__g")
  }

  /** Uniform integer priority in [0, 2^20): rank rows by it (ascending,
    * id tie-break) and take the first k for a deterministic fixed-SIZE
    * sample — the reproducible twin of reservoir sampling. Row-local, no
    * shuffle until the top-k itself, which Spark executes as
    * TakeOrderedAndProject (per-partition heaps, no full sort).
    */
  def uniformPriority(key: Column, salt: String): Column =
    pmod(h60(concat(lit(s"$salt:"), key)), lit(1L << 20))

  /** Weighted-sampling priority (without replacement): the row with the
    * k smallest `floor(r · 2^20 / w)` values is the sample, where
    * r = h60-uniform in [0, 2^20) and w ≥ 1 is the row's integer weight —
    * the integer fixed-point form of the exponential-race key −ln(u)/w
    * (A-ES / Efraimidis–Spirakis), so inclusion probability is
    * weight-increasing and first-order proportional to w for small
    * sampling fractions. All-integer arithmetic: the numerator is reduced
    * to an exact multiple of w before dividing, and both operands sit
    * below 2^53, so the IEEE division is exact and every engine computes
    * the identical priority (pow()/ln() last-ulp drift could flip ranks).
    */
  def weightedPriority(key: Column, weight: Column, salt: String): Column = {
    val r = pmod(h60(concat(lit(s"$salt:"), key)), lit(1L << 20))
    val w = greatest(weight.cast("long"), lit(1L))
    val num = r * lit(1L << 20)
    ((num - pmod(num, w)) / w).cast("long")
  }

  /** DoReMi-style domain mixture weights (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * multiplicative-weights ascent over per-domain EXCESS LOSS — how much
    * worse a weak proxy model is than a strong reference model on each
    * domain. Domains with headroom (the proxy has the most left to learn)
    * get upweighted; the published recipe then trains on the TIME-AVERAGED
    * weights, which this returns alongside the final iterate.
    *
    * Two deliberate departures from the paper, both documented because the
    * sandbox cannot train a transformer proxy per round:
    *  - the excess losses are FIXED inputs (one corpus aggregation — here,
    *    per-domain mean of clip(unigram NLL − Kneser-Ney bigram NLL, 0),
    *    the weak-vs-strong LM gap from this repo's own scorers) rather
    *    than re-measured under each round's mixture, so this is the
    *    Group-DRO multiplicative-weights core of Algorithm 1 with a static
    *    proxy;
    *  - the exponentiated update exp(η·λ) is replaced by its linearized
    *    multiplicative-weights form (1 + η·λ) — the other canonical MW
    *    update (Arora–Hazan–Kale) — because exp() last-ulp drift across
    *    engines would make the replay inexact, the same reason the
    *    quality classifier uses an exp-free squashing link.
    *
    * Per round: αᵢ ← αᵢ·(1 + η·λᵢ), normalize (exact DECIMAL(28,14) sum,
    * so the total is shuffle-order-free), then mix with uniform
    * α ← (1−c)·α + c/k (the paper's smoothing, which keeps every domain
    * sampled). The weight state is a k-row frame — model-sized, like the
    * BPE vocabulary — so each round is a handful of narrow k-row jobs and
    * the corpus is touched exactly once, upstream, to measure λ. At 100 TB
    * only that one λ aggregation scales with the data.
    *
    * Input: (domain, lam) — one row per domain, λ ≥ 0. Output: (domain,
    * lam, alpha_final, alpha_avg) with α columns as raw doubles (callers
    * round for display); alpha_avg is the mean of the post-smoothing
    * iterates over the `rounds` rounds.
    */
  def doremiMixture(
      excess: DataFrame,
      eta: Double,
      smooth: Double,
      rounds: Int): DataFrame = {
    require(eta > 0, s"eta=$eta must be positive")
    require(smooth >= 0 && smooth < 1, s"smooth=$smooth must be in [0, 1)")
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val base = excess.select(col("domain"), col("lam")).localCheckpoint(true)
    // k derives from the row count, and every per-round constant (the
    // uniform init 1/k, the smoothing floor c/k) assumes one row per
    // domain — a duplicated domain would silently skew both and emit
    // duplicate output rows, so fail fast (the frame is k rows; both
    // counts are trivial)
    val (k, kd) = {
      val r = base.agg(count(lit(1)), countDistinct(col("domain"))).head()
      (r.getLong(0).toDouble, r.getLong(1))
    }
    require(k >= 1, "excess frame must have at least one domain row")
    require(k == kd.toDouble,
      s"excess frame has ${k.toLong} rows but $kd distinct domains — " +
        "one (domain, lam) row per domain required")
    var w = base
      .withColumn("alpha", lit(1.0) / lit(k))
      .withColumn("ravg", lit(0.0))
    for (_ <- 1 to rounds) {
      val up = w.withColumn("ap",
        col("alpha") * (lit(1.0) + lit(eta) * col("lam")))
      val tot = up.agg(
        sum(col("ap").cast("decimal(28,14)")).cast("double").as("s"))
      w = up.crossJoin(broadcast(tot))
        .withColumn("alpha",
          lit(1.0 - smooth) * (col("ap") / col("s"))
            + lit(smooth) / lit(k))
        .withColumn("ravg", col("ravg") + col("alpha"))
        .select("domain", "lam", "alpha", "ravg")
        .localCheckpoint(true)
    }
    w.select(col("domain"), col("lam"), col("alpha").as("alpha_final"),
      (col("ravg") / lit(rounds.toDouble)).as("alpha_avg"))
  }
}

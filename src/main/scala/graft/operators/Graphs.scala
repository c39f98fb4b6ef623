package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over edge lists (the co-occurrence graphs the dedup /
  * basket tiers already build). Connected components live in
  * [[Dedup.connectedComponents]]; this hosts the rank/propagation family.
  *
  * Shuffle-width discipline: the iterative loops size their shuffle width
  * to the MEASURED edge count (an iterative plan multiplies per-stage
  * overhead by the round count, so a 3k-edge graph must not pay the batch
  * width ten times over, while a billion-edge graph gets its parallelism
  * back from the same formula). That width is applied by running the loop
  * in a CHILD session — `sparkSession.newSession()` shares the
  * SparkContext, catalog, and cache but ISOLATES runtime conf — never by
  * mutating the caller's session conf, which would race any query planned
  * concurrently on the same session (Etl.run plans per-table pipelines on
  * Overlap.map threads sharing one session). Inputs are bridged in and results bridged
  * back out via the session-neutral RDD, so downstream plans over the
  * result use the caller's own width.
  */
object Graphs {

  /** Child session whose only divergence from the caller's conf is the
    * loop's measured shuffle width. `newSession()` alone rebuilds session
    * state from the BUILDER-time options, silently dropping anything the
    * caller set via `spark.conf.set` at runtime (AQE toggles, broadcast
    * thresholds, timezone) — so the parent's current runtime conf is
    * copied over explicitly; static/readonly entries are skipped.
    */
  private def loopSession(parent: SparkSession, parts: Long): SparkSession = {
    val child = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(child.conf.set(k, v))
    }
    child.conf.set("spark.sql.shuffle.partitions", parts.toString)
    child
  }

  /** Measured width: one partition per 500k directed edges, capped at the
    * caller's configured width (never widen beyond it on a small graph).
    */
  private def measuredParts(parent: SparkSession, directedEdges: Long): Long = {
    val base = scala.util.Try(
      parent.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(200L)
    math.max(1L, math.min(base, directedEdges / 500000L + 1))
  }

  /** Re-root a frame's rows under `target` so all planning downstream of
    * the bridge happens under the target session's conf.
    */
  private def bridge(target: SparkSession, df: DataFrame): DataFrame =
    target.createDataFrame(df.rdd, df.schema)

  /** Deterministic PageRank over an UNDIRECTED edge list (a, b) — fixed
    * iteration count, no convergence test, so results are reproducible
    * run-to-run and replayable by the oracle's recursive CTE.
    *
    * Per round: one hash join (ranks onto edge sources) + one aggregation
    * (contribution sums per destination) — the standard linear-per-round
    * shape; superseded round blocks are released deterministically, same
    * loop discipline as connectedComponents. Every node of an undirected
    * edge list has degree ≥ 1, so there is no dangling-mass term. The node
    * count is collected once (metadata-scale, like a fixture bound) and
    * folded into the teleport literal.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val parent = edges.sparkSession
    // Materialize the symmetrized edge list under the PARENT width first
    // (one shuffle-free union of projections; the groupBy below is the
    // only one-time shuffle and AQE right-sizes it), then measure.
    val ee0 = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .union(edges.select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = ee0.count()
      if (m == 0) {
        return parent.emptyDataFrame
          .withColumn("node", lit(0L)).withColumn("rank", lit(0.0)).limit(0)
      }
      val child = loopSession(parent, measuredParts(parent, m))
      // Bridge the cached edge list into the child: the bridge RDD reads
      // the parent's in-memory blocks, so the child pays no recompute.
      val ee = bridge(child, ee0).persist(StorageLevel.MEMORY_AND_DISK)
      val deg = ee.groupBy("src").agg(count(lit(1)).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = deg.count()
      try {
        // Each round references the previous ranks exactly ONCE, so the
        // whole iteration composes into a single linear-depth lazy plan —
        // one job with `iters` sequential shuffle stages, instead of a job
        // (and its scheduling + materialization cost) per round. Contrast
        // bfsDepths, whose round references state twice and MUST
        // materialize per round to avoid exponential plan blowup. The
        // final checkpoint executes the composed plan once and frees the
        // edge/degree blocks.
        var ranks = deg.select(col("src").as("node"), lit(1.0 / n).as("rank"))
        var iter = 0
        while (iter < iters) {
          ranks = ee.join(ranks, ee("src") === ranks("node"))
            .join(deg, "src")
            .select(col("dst"), (col("rank") / col("d")).as("c"))
            .groupBy(col("dst").as("node"))
            .agg((lit((1 - damping) / n) + lit(damping) * sum("c")).as("rank"))
          iter += 1
        }
        bridge(parent, ranks.localCheckpoint(true))
      } finally { deg.unpersist(); ee.unpersist() }
    } finally ee0.unpersist()
  }

  /** Synchronous label-propagation community detection over an UNDIRECTED
    * edge list (a, b) — the lightweight community algorithm (Raghavan et
    * al. 2007) in its deterministic synchronous form: every node starts
    * labeled with itself; each round EVERY node simultaneously adopts
    * the most frequent label among its neighbors, ties to the SMALLEST
    * label (asynchronous/randomized variants converge faster but are
    * irreproducible — a non-starter for an oracle-gated pipeline).
    * Fixed `iters`, no convergence test, so the oracle replays every
    * round exactly: all-integer arithmetic (counts and ids), so there
    * is not even a rounding rule to share.
    *
    * Per round: one hash join (labels onto edge targets), one count
    * aggregation on (node, label), one row_number window on node —
    * the Pregel message-pass shape, linear in edges per round. Each
    * round references the previous labels exactly once, so the loop
    * composes into one linear-depth lazy plan (the pageRank
    * discipline); the final checkpoint runs it once. Complements the
    * component tier: connectedComponents finds REACHABILITY classes,
    * LPA finds DENSITY classes — two near-cliques joined by one bridge
    * edge are one component but two communities.
    *
    * Returns (node, label) — every node of the edge list, labeled by
    * its community representative.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val parent = edges.sparkSession
    val sym0 = edges.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .union(edges.select(col("b").cast("long").as("u"), col("a").cast("long").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = sym0.count()
      if (m == 0) {
        return parent.emptyDataFrame
          .withColumn("node", lit(0L)).withColumn("label", lit(0L)).limit(0)
      }
      val child = loopSession(parent, measuredParts(parent, m))
      val sym = bridge(child, sym0).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        var labels = sym.select(col("u").as("node")).distinct()
          .select(col("node"), col("node").as("label"))
        var iter = 0
        while (iter < iters) {
          val counts = sym.join(labels, sym("v") === labels("node"))
            .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("u").orderBy(col("c").desc, col("label"))
          labels = counts.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("u").as("node"), col("label"))
          iter += 1
        }
        bridge(parent, labels.localCheckpoint(true))
      } finally sym.unpersist()
    } finally sym0.unpersist()
  }

  /** k-core decomposition of an UNDIRECTED edge list (a, b): iteratively
    * peel nodes of degree < k until the remaining subgraph's minimum
    * degree is ≥ k (the standard cohesion measure — the k-core is the
    * maximal subgraph where every node has ≥ k neighbors WITHIN the
    * subgraph; a plain degree filter over-counts neighbors that are
    * themselves about to be peeled).
    *
    * Per round: one degree aggregation + two semi-joins filtering edges to
    * surviving endpoints — linear in the current edge count, which shrinks
    * monotonically. Rounds are eager (the edge state is referenced by both
    * semi-joins; lazy composition would double the plan per round) with
    * superseded blocks released deterministically. Converges in ≤ rounds
    * proportional to the longest peel cascade; `maxRounds` fails loudly
    * rather than spinning (a converging peel strictly shrinks the edge
    * set, so maxRounds rounds bound cascades of that depth).
    *
    * Returns (node, core_deg): the members of the k-core with their
    * within-core degree. Empty when no k-core exists.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val parent = edges.sparkSession
    val ee0 = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .union(edges.select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = ee0.count()
      if (m == 0) {
        return parent.emptyDataFrame
          .withColumn("node", lit(0L)).withColumn("core_deg", lit(0L)).limit(0)
      }
      val child = loopSession(parent, measuredParts(parent, m))
      var ee = bridge(child, ee0).persist(StorageLevel.MEMORY_AND_DISK)
      var edgeCount = ee.count()
      var rounds = 0
      var converged = false
      while (!converged && edgeCount > 0 && rounds < maxRounds) {
        val keep = ee.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("src")
        // the round references `ee` three times (the edge scan + both
        // semi-join keep sides derive from it), so composing rounds lazily
        // would grow the LOGICAL plan ~3× per round — exponential analyzer
        // cost long before any data moves (persist caches blocks but does
        // not truncate lineage). Bridge each round through its RDD, the
        // same discipline as Dedup.connectedComponents' star rounds.
        val plan = ee
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
        val next = child.createDataFrame(plan.rdd, plan.schema)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val c = next.count()
        if (c == edgeCount) { next.unpersist(); converged = true }
        else { ee.unpersist(); ee = next; edgeCount = c; rounds += 1 }
      }
      if (!converged && edgeCount > 0)
        throw new IllegalStateException(
          s"kCore did not converge in $maxRounds rounds (edges remaining: $edgeCount)")
      val out = bridge(parent,
        ee.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
          .localCheckpoint(true))
      ee.unpersist()
      out
    } finally ee0.unpersist()
  }

  /** BFS depths from `source` over an UNDIRECTED edge list (a, b), capped
    * at `maxHops` — fixed round count (deterministic, oracle-replayable by
    * a UNION-deduped recursive CTE) rather than a convergence test. Each
    * round is one hash join + one min-aggregation; the working set is
    * bounded by (reachable nodes), never by path count, because the
    * min-dist aggregation dedups every round. Unreachable-within-cap nodes
    * are absent from the result.
    */
  def bfsDepths(
      edges: DataFrame,
      source: Long,
      maxHops: Int = 6): DataFrame = {
    val parent = edges.sparkSession
    val ee0 = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .union(edges.select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = ee0.count()
      val child = loopSession(parent, measuredParts(parent, m))
      val ee = bridge(child, ee0).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        var state = child.range(1)
          .select(lit(source).as("node"), lit(0L).as("dist"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        var iter = 0
        while (iter < maxHops) {
          val next = state.join(ee, state("node") === ee("src"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
            .union(state)
            .groupBy("node").agg(min("dist").as("dist"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          next.count()
          state.unpersist()
          state = next
          iter += 1
        }
        val out = bridge(parent, state.localCheckpoint(true))
        state.unpersist()
        out
      } finally ee.unpersist()
    } finally ee0.unpersist()
  }
}

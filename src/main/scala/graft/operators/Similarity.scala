package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._
import graft.sources.TableFamily

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — extension tier (SURVEY.md §7).
  *
  * Two paths:
  *  - brute-force exact top-k: the correctness baseline; a query×corpus
  *    join that is fine for a bounded query set (broadcast the queries),
  *    and the yardstick the ANN path's recall is measured against;
  *  - hyperplane-LSH bucketed top-k: the 100 TB path — each vector gets
  *    `tables` signature keys from sign patterns against deterministic
  *    random hyperplanes; candidates are bucket collisions, so the join is
  *    a hash shuffle on the bucket key instead of a cross product.
  *
  * Hyperplanes are integer weight vectors derived from h60 (deterministic,
  * engine-portable), precomputed once on the driver and embedded as
  * literals — the Spark analogue of broadcasting the projection matrix —
  * while the oracle recomputes the same weights via md5 in SQL.
  */
object Similarity {

  /** Integer hyperplane weights in [-1000, 1000]:
    * w(p, d) = h60(p + "," + d) % 2001 - 1000.
    * DuckDB mirror: (('0x'||substr(md5(p||','||d),1,15))::BIGINT % 2001) - 1000.
    */
  def planeWeights(planes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(planes, dims)((p, d) => h60Local(s"$p,${d + 1}") % 2001 - 1000)

  /** Sign-bit signature of one plane group: bit j set iff emb · plane_j ≥ 0.
    * Dot products run in double with left-to-right fold order (oracle
    * matches the same order via range(1, dims+1)).
    */
  def hyperplaneSignature(emb: Column, weights: Array[Array[Long]]): Column = {
    val bits = weights.zipWithIndex.map { case (w, j) =>
      val dot = dotD(emb, typedlit(w.toSeq))
      when(dot >= 0, 1L << j).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversification pass a RAG serving stack runs between retrieval
    * and the context window: from a per-query CANDIDATE set, greedily pick
    * `kSel` documents maximizing
    *
    *   mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ selected} cos(d, s)
    *
    * so near-duplicate passages don't crowd out coverage (the first pick
    * is pure relevance — the penalty over an empty selected set is 0).
    *
    * Candidates arrive as a frame (query_id, doc_id, emb, rel) so the
    * generation tier is the caller's choice: brute top-N for the exact/
    * oracle path, an IVF probe at scale — MMR itself never touches the
    * corpus. Cost is serving-sized and corpus-independent: one
    * (queries × N²) pairwise-cosine table built once, then `kSel` rounds
    * of anti-join + max-aggregation over the (queries × N) candidate
    * frame, each a handful of narrow kilobyte-scale jobs
    * (localCheckpointed per round, the CC/BPE round-loop discipline).
    *
    * Determinism: rel is expected pre-rounded (7dp, as bruteForceTopK and
    * the IVF probes emit); pairwise cosines round to 7dp before the max;
    * the mmr score rounds to 7dp before the argmax, which breaks ties by
    * doc_id — so no cross-engine double noise can flip a pick and the
    * DuckDB oracle replays every round exactly.
    *
    * Output: (query_id, step, doc_id, rel, pen, mmr), steps 1..kSel in
    * selection order.
    */
  def mmrSelect(candidates: DataFrame, kSel: Int, lambda: Double): DataFrame = {
    require(kSel >= 1, s"kSel=$kSel must be >= 1")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda=$lambda must be in (0, 1]")
    // The greedy rounds run ROW-LOCALLY per query over the packed
    // candidate array: one shuffle (the groupBy) + one fold, replacing
    // the former per-round driver loop (kSel rounds x anti-join +
    // penalty aggregation + window + two checkpoints ≈ 30 sub-second
    // jobs per call, pure fixed overhead at serving grain — measured
    // r15). The candidate set is serving-sized BY CONTRACT (a probe's
    // top-N, never the corpus), so a per-query array is exactly the
    // scale the operator already assumed; the arithmetic below is
    // token-for-token the old plan's (same dot/norm evaluation order,
    // same 7dp rounds, same +1e-9 nudge, same (mmr desc, doc_id asc)
    // argmax), so picks — and the replay oracles — are bit-identical.
    val cand = candidates.select("query_id", "doc_id", "emb", "rel")
    val accType = "array<struct<step:bigint,doc_id:bigint,rel:double," +
      "pen:double,mmr:double,emb:array<double>>>"
    val sel = aggregate(
      sequence(lit(1), lit(kSel)),
      array().cast(accType),
      (acc, t) => {
        val unpicked = filter(col("__cs"), c =>
          !exists(acc, p => p.getField("doc_id") === c.getField("doc_id")))
        val scored = transform(unpicked, c => {
          // max penalty over the already-selected set; sims rounded to
          // 7dp BEFORE the max exactly like the old pair table
          val pen = coalesce(
            array_max(transform(acc, p =>
              round(dotD(c.getField("emb"), p.getField("emb"))
                / (l2Norm(c.getField("emb")) * l2Norm(p.getField("emb"))), 7))),
            lit(0.0))
          // the house +1e-9 nudge before rounding: the score is compared
          // across engines, and a product landing exactly on a half-digit
          // boundary rounds differently in BigDecimal-HALF_UP vs float
          // rounding; the shift is monotone so the argmax never changes
          val mmr = round(
            lit(lambda) * c.getField("rel") - lit(1.0 - lambda) * pen
              + lit(1e-9), 7)
          struct(mmr.as("mmr"),
            (-c.getField("doc_id")).as("negid"),
            c.getField("doc_id").as("doc_id"),
            c.getField("rel").as("rel"), pen.as("pen"),
            c.getField("emb").as("emb"))
        })
        // lexicographic max = (mmr desc, doc_id asc); negid is unique per
        // candidate so later fields never decide
        val b = array_max(scored)
        when(b.isNotNull,
          concat(acc, array(struct(
            t.cast("long").as("step"),
            b.getField("doc_id").as("doc_id"),
            b.getField("rel").as("rel"),
            b.getField("pen").as("pen"),
            b.getField("mmr").as("mmr"),
            b.getField("emb").as("emb")))))
          .otherwise(acc)
      })
    cand.groupBy("query_id")
      .agg(array_sort(collect_list(
        struct(col("doc_id"), col("emb"), col("rel")))).as("__cs"))
      .select(col("query_id"), explode(sel).as("__p"))
      .select(col("query_id"), col("__p.step").as("step"),
        col("__p.doc_id").as("doc_id"), col("__p.rel").as("rel"),
        col("__p.pen").as("pen"), col("__p.mmr").as("mmr"))
  }

  /** Exact top-k neighbors for each row of `queries` against `corpus`,
    * excluding self-matches. Queries are broadcast (bounded query set);
    * ranking is (cosine desc, neighbor id asc) with the cosine rounded to
    * 7 decimals so cross-engine double noise cannot flip ranks.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
      .withColumn("qn", l2Norm(col("qe")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
      .withColumn("cn", l2Norm(col("ce")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotD(col("qe"), col("ce")) / (col("qn") * col("cn")), 7))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Exact maximum-inner-product top-k via the norm-augmentation
    * reduction (Shrivastava & Li, NeurIPS 2014): augmenting every corpus
    * vector to [x ; sqrt(M² − |x|²)] (M = max corpus norm) gives all of
    * them norm M, so cosine against [q ; 0] equals dot/(|q|·M) — strictly
    * monotone in the inner product. Ranking by that cosine IS MIPS, which
    * is what lets any cosine-ANN index (the hyperplane-LSH / IVF paths
    * here) serve inner-product queries at scale without a dedicated MIPS
    * index. The max-norm is a one-row aggregate kept in-plan via a
    * broadcast cross join — no driver collect.
    */
  def mipsTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
      .withColumn("cn2", dotD(col("ce"), col("ce")))
    val m2 = c.agg(max("cn2").as("m2"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
      .withColumn("qn", l2Norm(col("qe")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .crossJoin(broadcast(m2))
      .withColumn("dot", dotD(col("qe"), col("ce")))
      // rounded to 7 decimals BEFORE ranking, same as bruteForceTopK, so
      // cross-engine double noise cannot flip ranks.
      .withColumn("augcos", round(col("dot") / (col("qn") * sqrt(col("m2"))), 7))
    val w = Window.partitionBy("query_id").orderBy(col("augcos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("dot") + 1e-9, 4).as("dot"))
  }

  /** Contrastive hard-negative mining — the training-PAIR step after
    * near-dup resolution: for every ANCHOR (a vector that participates in
    * at least one near-duplicate pair), the top-k highest-cosine corpus
    * vectors that are NOT in the anchor's duplicate CLUSTER. Those are
    * the "hard negatives" an embedding-model trainer wants: maximally
    * confusable, yet verified non-duplicates — excluding by the connected
    * CLUSTER (not just direct pair partners) so a transitive duplicate
    * can never leak in as a negative.
    *
    * `dupEdges` is an (a, b) near-dup pair frame (e.g.
    * [[Dedup.embeddingPairs]] output); cluster membership comes from
    * [[Dedup.connectedComponents]] over it. Eligibility is a null-safe
    * rep comparison: a neighbor in NO cluster is always eligible, a
    * clustered neighbor iff its rep differs (self shares the anchor's
    * rep, so self-exclusion is implied).
    *
    * Scale shape: the anchor set (clustered vectors) broadcasts like
    * [[bruteForceTopK]]'s query set — exact and oracle-replayable, the
    * per-anchor cost is one corpus scan. When anchors are a corpus-scale
    * fraction, the production path is the persisted-IVF probe
    * ([[ivfTopKAgainstIndex]]) at k + slack followed by this same
    * cluster anti-filter, with slack ≥ the largest duplicate cluster
    * intersecting the probed cells — the brute formulation here is the
    * exact baseline that certifies it.
    *
    * Pass a MATERIALIZED `dupEdges` frame (the suite's pair-edge memos
    * are localCheckpointed): handing the live LSH/chunk-join plan here
    * makes the CC rounds reference it repeatedly, and AQE's per-stage
    * plan logging then expands the shared subtree into a string large
    * enough to stall or OOM the driver (measured on the ×10 batch).
    */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dupEdges: DataFrame,
      k: Int,
      anchorPred: Column = lit(true),
      maxAnchors: Long = 200_000L): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(maxAnchors >= 1, s"maxAnchors=$maxAnchors must be positive")
    // a dense near-dup graph's component DIAMETER grows with corpus size;
    // past its driver bound the CC's star rounds converge in O(log n)
    // rounds at any diameter
    val cc = Dedup.connectedComponents(dupEdges)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
      .withColumn("cn", l2Norm(col("ce")))
      .join(cc.select(col("id").as("neighbor_id"), col("rep").as("nrep")),
        Seq("neighbor_id"), "left")
    // `anchorPred` restricts WHICH anchors get mined this call (the
    // production shape: negatives are mined per training batch, not for
    // every clustered vector at once — per-anchor cost is a corpus scan,
    // so the caller sizes the anchor batch, the corpus sizes the scan).
    // The anchor set is BROADCAST below, so the "caller sizes the batch"
    // contract is enforced, not assumed: the set materializes once
    // (localCheckpoint — also what the broadcast ships), and a batch
    // over `maxAnchors` fails loudly instead of OOMing the driver with a
    // corpus-scale broadcast. Corpus-fraction anchor sets belong on
    // [[hardNegativesIndexed]], which probes the persisted IVF index.
    val anchors = corpus.select(col(idCol).as("query_id"), col(embCol).as("qe"))
      .filter(anchorPred)
      .join(cc.select(col("id").as("query_id"), col("rep").as("qrep")), "query_id")
      .withColumn("qn", l2Norm(col("qe")))
      .localCheckpoint(true)
    val nAnchors = anchors.count()
    require(nAnchors <= maxAnchors,
      s"hardNegatives: anchor batch has $nAnchors vectors (> maxAnchors=" +
        s"$maxAnchors) — a broadcast this size is a driver OOM, not a " +
        "plan; mine per training batch via anchorPred, raise maxAnchors " +
        "deliberately, or use hardNegativesIndexed (IVF-probed shortlist)")
    // project the vectors AWAY before the ranking window: an
    // anchors×corpus row stream carrying two 64-dim arrays through the
    // window shuffle is the memory cliff (measured: OOM at the ×10
    // decade); after this projection each row is 3 scalars and Spark's
    // WindowGroupLimit keeps per-partition top-k before the shuffle
    val scored = broadcast(anchors).join(c,
        col("query_id") =!= col("neighbor_id") && !(col("nrep") <=> col("qrep")))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("ce")) / (col("qn") * col("cn")), 7).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Production hard-negative mining — [[hardNegatives]]' contract served
    * off the persisted IVF index instead of a per-anchor corpus scan: the
    * anchor's candidates come from its `nprobe` nearest cells (the
    * bucketed `_lists` layout — O(probed-cell vectors) per anchor, never
    * the corpus), and the duplicate-CLUSTER anti-filter applies INSIDE
    * the probe, BEFORE the ranking window. That placement is the scale
    * design: the top-k is taken among eligible candidates directly, so
    * the probe depth is k itself — a giant duplicate cluster (the ×10
    * decade's 0.38-threshold graph has one) costs nothing extra, where a
    * shortlist-then-filter composition would need a shortlist as deep as
    * the cluster (measured 16× SLOWER than brute before this fix).
    *
    * What remains approximate is IVF recall alone — a true near-neighbor
    * in an unprobed cell — the standard ANN trade; `sim_hard_negatives`'
    * certificate measures it against the brute baseline, and bit-parity
    * at nprobe = nlist (no unprobed cells) is spec-pinned.
    *
    * Scale shape vs the brute verb: anchors are never broadcast (the
    * probe joins anchors×probed-cells on `cid` — a shuffle join), so a
    * corpus-scale anchor fraction is a legitimate batch here; with the
    * production nlist ≈ √N the probed fraction is assign·nprobe/nlist ≪ 1.
    * Measured 2026-08-15 on a 32-core box (BASELINE.md "hard-negative
    * mining: brute vs IVF-indexed"): 1.05–2.02× over brute at the √N
    * config, 2.02× on the ×10 batch.
    */
  def hardNegativesIndexed(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dupEdges: DataFrame,
      k: Int,
      tablePrefix: String,
      nprobe: Int = 4,
      anchorPred: Column = lit(true)): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val cc = Dedup.connectedComponents(dupEdges).localCheckpoint(true)
    // anchor frame exposes `query_id` — the same name the brute verb's
    // anchorPred filters on, so batching predicates are interchangeable
    val anchors = corpus.select(col(idCol).as("query_id"), col(embCol).as("qe"))
      .filter(anchorPred)
      .join(cc.select(col("id").as("query_id"), col("rep").as("qrep")), "query_id")
      .localCheckpoint(true)
    val nreps = cc.select(col("id").as("neighbor_id"), col("rep").as("nrep"))
    // eligibility joins per (anchor, candidate) pair before the window:
    // null-safe rep inequality — a never-clustered neighbor is always
    // eligible, self shares the anchor's rep (anchors are clustered by
    // construction), so self-exclusion is implied like the brute verb
    val eligible = (cand: DataFrame) => cand
      .join(anchors.select(col("query_id"), col("qrep")), "query_id")
      .join(nreps, Seq("neighbor_id"), "left")
      .filter(!(col("nrep") <=> col("qrep")))
      .drop("qrep", "nrep")
    ivfTopKAgainstIndexPlan(anchors.select(col("query_id"), col("qe")),
        tablePrefix, "query_id", "qe", k = k, nprobe = nprobe,
        candidateHook = eligible)
      .localCheckpoint(true)
  }

  /** IVF coarse quantizer: deterministic Lloyd k-means entirely in
    * DataFrame operators. Initial centroids are the `nlist` vectors with
    * the smallest ids (deterministic — no random init, so results are
    * reproducible run to run); each round assigns every vector to its
    * nearest centroid (broadcast centroids + lexicographic-min argmin, so
    * distance ties break on centroid id) and recomputes centroids as
    * per-dimension means. Empty clusters keep their previous centroid.
    *
    * Scale shape: centroids are small (`nlist` rows) and always broadcast;
    * the assignment is the standard IVF n×nlist product evaluated as a
    * broadcast nested loop, and the recompute is one explode + two
    * aggregations — every step is linear in the corpus per round.
    * Returns (cid, cvec: array<double>).
    */
  def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      nlist: Int,
      iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("vid"),
      col(embCol).cast("array<double>").as("v"))
    // The centroid set is carried between rounds as DRIVER-LOCAL data
    // (r16, guide §2.4/§2.6): it is driver-bounded BY DESIGN — every
    // assignment broadcasts it — so the per-round second aggregation,
    // join-back and checkpoint (three Exchange-bearing jobs per round,
    // the dominant fixed cost of every index build at bench grain)
    // collapse into one bounded collect of the per-(cid, dim) means, and
    // broadcasting the resulting LocalRelation builds the hash relation
    // with NO job at all. Arithmetic is untouched: the means aggregation
    // below is the same distributed decimal-exact pass; only the
    // assembly (dim sort, empty-cluster coalesce) moved to the driver.
    // Init: the nlist smallest-id vectors, cid = 1-based rank by id (the
    // old row_number window over an orderBy+limit, driver-assembled).
    var cents: Seq[(Long, Any)] =
      vecs.orderBy("vid").limit(nlist).collect().toSeq
        .zipWithIndex.map { case (r, i) => ((i + 1).toLong, r.get(1)) }
    for (_ <- 1 to iters) {
      // carry v through the argmin aggregation instead of joining back
      // to vecs — one stage fewer per round, same rows
      val assigned = assignToCentroids(vecs, "vid", "v",
        localCentsFrame(spark, cents), keepVec = true)
      val byCid = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        // mean in DECIMAL: double summation order varies with shuffle
        // scheduling, and a last-bit centroid difference can flip a
        // near-tie assignment — decimal addition is exact, so the
        // quantizer is bit-deterministic run to run.
        .groupBy("cid", "dim").agg(avg(col("x").cast("decimal(28,14)")).cast("double").as("m"))
        .collect() // nlist × dims rows — the same bound the broadcast enforces
        .groupBy(_.getLong(0))
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, prev) =>
        (cid, byCid.get(cid).map(sortedMeans(_, 1, 2)).getOrElse(prev))
      }
    }
    localCentsFrame(spark, cents)
  }

  /** Per-dim means of one centroid sorted by dim — the driver twin of
    * `array_sort(collect_list(struct(dim, m)))` + a getField transform
    * (dims are distinct per group, so m never decides the sort; a NULL
    * mean stays a NULL element, as collect_list kept it).
    */
  private def sortedMeans(rs: Array[org.apache.spark.sql.Row],
      dimAt: Int, mAt: Int): Any =
    rs.sortBy(_.getInt(dimAt)).map(r =>
      if (r.isNullAt(mAt)) null else java.lang.Double.valueOf(r.getDouble(mAt))).toSeq

  /** (cid, cvec) centroid set as a LocalRelation frame — broadcasting it
    * (every assignment does) builds the relation without launching a
    * scan job, and writes of the final set are one bounded local-scan
    * write like the checkpointed frame before it.
    */
  private def localCentsFrame(
      spark: org.apache.spark.sql.SparkSession, cents: Seq[(Long, Any)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType), nullable = true)))
    val rows = new java.util.ArrayList[Row](cents.size)
    cents.foreach { case (cid, v) => rows.add(Row(cid, v)) }
    spark.createDataFrame(rows, schema)
  }

  /** Deterministic distributed k-means CLUSTERING — the curation-facing
    * sibling of [[ivfCentroids]] (SemDeDup-style semantic bucketing,
    * topic grouping, per-cluster sampling all start from "assign every
    * document to one of k centroids"). Same determinism rules as the
    * coarse quantizer (smallest-id init, ties to the smaller cid, empty
    * clusters keep their previous centroid) but with arithmetic chosen
    * so a SQL engine can replay EVERY step bit-for-bit, which upgrades
    * the oracle from a recall certificate to exact assignment parity:
    *  - centroid means are exact-DECIMAL sums cast to double, divided by
    *    the count in double (the [[graft.queries.SimilarityQueries]]
    *    `sim_label_centroids` formula) — shuffle order cannot perturb a
    *    bit, and the replay is `CAST(SUM(DECIMAL) AS DOUBLE)/COUNT(*)`;
    *  - assignment distances (|c|² − 2·v·c; the |v|² term is constant
    *    per vector) are ROUNDED to 7 decimals before the argmin, the
    *    [[bruteForceTopK]] rule that keeps cross-engine double noise
    *    from flipping a near-tie.
    *
    * `iters` (assign → recompute) rounds refine the smallest-id seeds;
    * the returned frame is the assignment against the FINAL centroids:
    * (id, cid, dist) with dist rounded to 4 decimals for emission. Scale
    * shape: centroids always broadcast (k rows), each round is one
    * broadcast nested-loop product plus one narrow aggregation — linear
    * in the corpus per round, no all-pairs anywhere.
    */
  def kmeansAssign(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int = 2): DataFrame = {
    val vecs = kmeansVecs(corpus, idCol, embCol)
    assignAgainstCentroids(vecs, kmeansCentroids(vecs, k, iters))
      .withColumnRenamed("vid", idCol)
  }

  /** The trained centroid frame behind [[kmeansAssign]] — exposed so the
    * MODEL can persist separately from the assignment (see
    * [[writeKmeansModel]]): train offline/once, assign online/per batch,
    * the same split every ML-adjacent pipeline runs. Returns
    * (cid, cvec).
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k and iters=$iters must be positive")
    val spark = vecs.sparkSession
    // driver-carried centroid rounds — see ivfCentroids (r16): the
    // means aggregation stays the same distributed decimal-exact pass;
    // assembly (dim sort, empty-cluster coalesce) and the init rank
    // moved to the driver, and the per-round broadcast of a
    // LocalRelation launches no job.
    var cents: Seq[(Long, Any)] =
      vecs.orderBy("vid").limit(k).collect().toSeq
        .zipWithIndex.map { case (r, i) => ((i + 1).toLong, r.get(1)) }
    for (_ <- 1 to iters) {
      // carry v through the argmin aggregation (first() of identical
      // values per group) instead of joining back to vecs — one stage
      // fewer per round, same rows (the pqCodebooks shape)
      val assigned = assignToCentroidsRounded(vecs, "vid", "v",
        localCentsFrame(spark, cents), keepVec = true)
      val byCid = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double")
          / count(lit(1))).as("m"))
        .collect() // k × dims rows — the broadcast bound again
        .groupBy(_.getLong(0))
      cents = cents.map { case (cid, prev) =>
        (cid, byCid.get(cid).map(sortedMeans(_, 1, 2)).getOrElse(prev))
      }
    }
    localCentsFrame(spark, cents)
  }

  /** Normalized (vid, v) input frame with the ragged/NULL-vector refusal
    * shared by the train and serve paths — a ragged OR NULL vector would
    * not fail: dotD null-pads and the argmin falls back to the cid
    * tie-break, silently poisoning clusters. Null-safe <=>: size(null)
    * is null, which =!= would let through (same guard as the index
    * builders).
    */
  private def kmeansVecs(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    val vecs = corpus.select(col(idCol).cast("long").as("vid"),
        col(embCol).cast("array<double>").as("v"))
      .localCheckpoint(true) // re-read every round
    // one aggregation answers every guard question (r16 — was a max-dims
    // job PLUS a ragged-row probe job): dims consistent ⟺ no NULL
    // vectors and min(size) == max(size)
    val g = vecs.agg(min(size(col("v"))), max(size(col("v"))),
      count(when(col("v").isNull, 1))).head()
    require(!g.isNullAt(1),
      "kmeansAssign: corpus is empty or every vector is NULL")
    require(g.getLong(2) == 0L && g.getInt(0) == g.getInt(1),
      s"kmeansAssign: corpus contains NULL vectors or vectors whose dimension != ${g.getInt(1)}")
    vecs
  }

  private def assignAgainstCentroids(vecs: DataFrame, cents: DataFrame): DataFrame =
    assignToCentroidsRounded(vecs, "vid", "v", cents, keepDist = true)
      .select(col("vid"), col("cid"), round(col("d") + 1e-9, 4).as("dist"))

  /** The persisted k-means model: `_cents` (cid, cvec), `_meta` (k, iters). */
  val Kmeans = new TableFamily("_cents", "_meta")

  /** Persist a trained k-means model as catalog tables — the clustering
    * tier's train/serve split: `<prefix>_cents` (cid, cvec — k rows) and
    * `<prefix>_meta` (k, iters, written LAST, the suite-wide
    * completeness-marker discipline). The model is metadata-scale and
    * broadcast at assignment, so serving never re-trains; retraining is
    * `Kmeans.rebuild` over this writer, the generation cutover every
    * persisted family uses.
    */
  def writeKmeansModel(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      k: Int,
      iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    val cents = kmeansCentroids(kmeansVecs(corpus, idCol, embCol), k, iters)
    cents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_cents")
    spark.createDataFrame(Seq((k, iters))).toDF("k", "iters")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Assign a batch against a PERSISTED k-means model (see
    * [[writeKmeansModel]]) — the online half of the train/serve split:
    * generation-resolved, broadcast centroids, per-row argmin; a batch
    * assigned through the stored model is byte-identical to having been
    * in [[kmeansAssign]]'s final assignment over the same centroids
    * (the streaming serving-parity query pins exactly that). Same
    * ragged/NULL refusal as training — serving is the entry point most
    * likely fed by a different process than the trainer.
    */
  def assignAgainstKmeansModel(
      batch: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String): DataFrame = {
    val spark = batch.sparkSession
    val tp = activeIvfPrefix(spark, tablePrefix)
    // stored model is generation-immutable — memoized per session
    // (SessionMemo): the centroid scan + the separate dim head were two
    // driver jobs per serving micro-batch
    val (cents, dim) = cachedCentsLocal(spark, tp)
    // the dimension contract comes from the STORED model, not from batch
    // self-consistency: a uniformly-wrong-width batch would null-pad in
    // dotD and assign on the cid tie-break — refuse loudly instead
    // (null-safe <=> also rejects NULL vectors). An EMPTY batch passes
    // and returns empty — streams deliver those, and dying on one would
    // kill the serving query. The guard rides the checkpoint job (r16).
    val vecs = checkpointRequiring(
      batch.select(col(idCol).cast("long").as("vid"),
        col(embCol).cast("array<double>").as("v")),
      size(col("v")) <=> lit(dim),
      s"assignAgainstKmeansModel: batch contains NULL vectors or vectors whose " +
        s"dimension != $dim (dimension of model '$tablePrefix' centroids)")
    assignAgainstCentroids(vecs, cents)
      .withColumnRenamed("vid", idCol)
  }

  /** [[assignToCentroids]] with the distance rounded to 7 decimals BEFORE
    * the argmin — the oracle-replayable variant [[kmeansAssign]] rides
    * (the IVF quantizer keeps the unrounded original: its probes are
    * certified by recall, not replayed bit-for-bit by SQL).
    */
  private def assignToCentroidsRounded(
      df: DataFrame, rowId: String, vCol: String, cents: DataFrame,
      keepDist: Boolean = false, keepVec: Boolean = false): DataFrame = {
    val aggs = min(col("dc")).as("dc") +:
      (if (keepVec) Seq(first(col(vCol)).as(vCol)) else Nil)
    val picked = df.crossJoin(broadcast(
        cents.select(col("cid"), col("cvec"),
          (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
      .select(col(rowId), col(vCol),
        struct(round(col("cn2") - lit(2.0) * dotD(col(vCol), col("cvec")), 7).as("d"),
          col("cid")).as("dc"))
      .groupBy(rowId).agg(aggs.head, aggs.tail: _*)
    val outCols = (col(rowId) +: col("dc.cid").as("cid") +:
      (if (keepDist) Seq(col("dc.d").as("d")) else Nil)) ++
      (if (keepVec) Seq(col(vCol)) else Nil)
    picked.select(outCols: _*)
  }

  /** Eagerly checkpoint `df` while asserting `cond` on EVERY row in the
    * SAME job — the dim-guard fold (r16, guide §2.6): the index builders
    * used to pay one job to materialize the batch and a second
    * `filter(!cond).isEmpty` job to verify the dimension contract; the
    * per-row `assert_true` rides the checkpoint scan instead (it returns
    * NULL on a passing row, so the filter keeps every row, and aborts
    * the job on a violating one). The abort is rethrown as the SAME
    * IllegalArgumentException the separate guard raised, so callers and
    * docs keep the `requirement failed` contract.
    */
  private[graft] def checkpointRequiring(
      df: DataFrame, cond: Column, msg: String): DataFrame =
    try df.filter(assert_true(cond, lit(msg)).isNull).localCheckpoint(true)
    catch {
      case e: Throwable if {
        var c: Throwable = e; var hit = false
        while (c != null && !hit) {
          hit = c.getMessage != null && c.getMessage.contains(msg)
          c = c.getCause
        }
        hit
      } => throw new IllegalArgumentException(s"requirement failed: $msg")
    }

  /** Nearest-centroid assignment: broadcast the centroid table, score
    * -2·v·c + |c|² (the |v|² term is constant per vector so argmin ignores
    * it), take the lexicographic min of (dist, cid). Returns (rowId, cid).
    * `carry` columns ride the argmin aggregation as `first()` of
    * per-group-identical values (the keepVec device generalized): a
    * caller that already computed row-local payload (PQ codes, norms)
    * gets it back WITHOUT a join back to the source frame — one
    * Exchange + join fewer per build/append (r16, guide §2.4).
    */
  private[graft] def assignToCentroids(
      df: DataFrame, rowId: String, vCol: String, cents: DataFrame,
      keepVec: Boolean = false, carry: Seq[String] = Nil): DataFrame = {
    val keep = (if (keepVec) Seq(vCol) else Nil) ++ carry
    val aggs = min(col("dc")).as("dc") +: keep.map(c => first(col(c)).as(c))
    val picked = df.crossJoin(broadcast(
        cents.select(col("cid"), col("cvec"), (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
      .select((Seq(col(rowId), col(vCol)) ++ carry.map(col) :+
        struct((col("cn2") - lit(2.0) * dotD(col(vCol), col("cvec"))).as("d"),
          col("cid")).as("dc")): _*)
      .groupBy(rowId).agg(aggs.head, aggs.tail: _*)
    picked.select((col(rowId) +: col("dc.cid").as("cid") +: keep.map(col)): _*)
  }

  /** Multi-assignment variant: each vector is listed under its `nAssign`
    * nearest centroids (SOAR-style dual assignment at nAssign=2 — the
    * standard fix for coarse-cell boundary misses: a neighbor that sits
    * between two cells is findable through EITHER, so a query probing the
    * "wrong" one of the pair still sees it). Index size grows `nAssign`×;
    * probe cost per cell is unchanged. Same determinism rules as
    * [[assignToCentroids]] (array_sort on (d, cid) structs — distance
    * ties break to the smaller centroid id); nAssign=1 delegates to the
    * single-assignment plan so existing parity pins hold bit-for-bit.
    */
  private[graft] def assignToCentroidsMulti(
      df: DataFrame, rowId: String, vCol: String, cents: DataFrame, nAssign: Int,
      keepVec: Boolean = false, carry: Seq[String] = Nil): DataFrame =
    if (nAssign <= 1) assignToCentroids(df, rowId, vCol, cents, keepVec, carry)
    else {
      val keep = (if (keepVec) Seq(vCol) else Nil) ++ carry
      val aggs = slice(array_sort(collect_list(col("dc"))), 1, nAssign).as("dcs") +:
        keep.map(c => first(col(c)).as(c))
      df.crossJoin(broadcast(
          cents.select(col("cid"), col("cvec"), (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
        .select((Seq(col(rowId), col(vCol)) ++ carry.map(col) :+
          struct((col("cn2") - lit(2.0) * dotD(col(vCol), col("cvec"))).as("d"),
            col("cid")).as("dc")): _*)
        .groupBy(rowId)
        .agg(aggs.head, aggs.tail: _*)
        .select((col(rowId) +: explode(col("dcs")).as("dc") +: keep.map(col)): _*)
        .select((col(rowId) +: col("dc.cid").as("cid") +: keep.map(col)): _*)
    }

  /** IVF approximate top-k: corpus vectors are inverted-listed under their
    * nearest centroid; each query probes only its `nprobe` nearest lists
    * and re-ranks candidates by exact cosine. Unlike the LSH path a vector
    * lives in exactly one list, so candidates need no dedup; recall is
    * governed by nprobe/nlist and measured against [[bruteForceTopK]] in
    * the spec. The probe join is a hash join on the centroid id — at
    * 100 TB the inverted lists are the partitioning, and only
    * nprobe/nlist of the corpus is touched per query.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 3,
      assign: Int = 1): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, embCol, nlist, iters)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val listed = c.join(
      assignToCentroidsMulti(c, "neighbor_id", "ce", cents, assign), "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val probes = q.crossJoin(broadcast(
        cents.select(col("cid"), col("cvec"), (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
      .select(col("query_id"), col("qe"),
        (col("cn2") - lit(2.0) * dotD(col("qe"), col("cvec"))).as("d"), col("cid"))
    val pw = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probed = probes.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))
    val cand0 = probed.join(listed, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
    // multi-assigned vectors can surface through two probed cells — dedupe
    // BEFORE ranking or row_number counts the same neighbor twice
    val cand = if (assign > 1) cand0.dropDuplicates("query_id", "neighbor_id") else cand0
    val scored = cand.select(
      col("query_id"), col("neighbor_id"),
      round(dotD(col("qe"), col("ce")) / (l2Norm(col("qe")) * l2Norm(col("ce"))), 7).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign signatures of
    * `planesPerTable` hyperplanes each; candidates are rows sharing any
    * table's bucket with the query; exact cosine re-ranks candidates.
    * Recall < 1 by construction — measured against [[bruteForceTopK]] in the
    * test suite. Cost: one explode (×tables) + hash join on (table, bucket).
    *
    * `dims` must equal the embedding length: the dot product is null on a
    * length mismatch, which nulls every bucket and silently returns zero
    * candidates (asserted in the spec, documented here because the plan
    * cannot know the array length statically).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      tables: Int = 4,
      planesPerTable: Int = 4,
      dims: Int = 64): DataFrame = {
    val allPlanes = planeWeights(tables * planesPerTable, dims)
    def sigs(df: DataFrame, id: String, e: String): DataFrame = {
      val keyCols = (0 until tables).map { t =>
        val w = allPlanes.slice(t * planesPerTable, (t + 1) * planesPerTable)
        // reference the source column, not the alias defined in this same
        // select — a lateral alias under explode() breaks Spark 4 analysis.
        struct(lit(t).as("tbl"), hyperplaneSignature(col(embCol), w).as("bucket"))
      }
      df.select(col(idCol).as(id), col(embCol).as(e),
        explode(array(keyCols: _*)).as("bk"))
    }
    val qs = sigs(queries, "query_id", "qe")
    val cs = sigs(corpus, "neighbor_id", "ce")
    val cand = qs.join(cs, qs("bk") === cs("bk") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qe"), col("neighbor_id"), col("ce"))
      .distinct()
    // explicit projection boundary: the window below must not see the cos
    // alias laterally (Spark 4 analyzer rejects the merged form).
    val scored = cand.select(
      col("query_id"), col("neighbor_id"),
      round(dotD(col("qe"), col("ce")) / (l2Norm(col("qe")) * l2Norm(col("ce"))), 7).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Two-stage ANN: a cheap COARSE pass on the first `prefixDims`
    * dimensions shortlists `shortlist` candidates per query, then the
    * exact full-dimension cosine re-ranks the shortlist to top-k — the
    * standard recall/cost dial of production vector search (PCA-truncated
    * or Matryoshka prefix first stage). The expensive full-dim arithmetic
    * runs on |queries| × shortlist rows instead of |queries| × |corpus|.
    * Fully deterministic (coarse scores rounded to 7 decimals, id
    * tie-break), so unlike IVF the whole pipeline has an exact SQL twin.
    * At 100 TB the coarse pass itself would be bucketed too
    * ([[lshTopK]]'s signature join); the stages compose.
    */
  def twoStageTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      prefixDims: Int = 16,
      shortlist: Int = 32): DataFrame = {
    // norms precomputed per vector BEFORE the join (the bruteForceTopK /
    // embeddingPairs pattern — per-pair norm recompute measured ~3× there):
    // the coarse join evaluates |queries|×|corpus| rows, so per-pair work
    // must be one dot product, nothing else.
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
      .withColumn("qp", slice(col("qe"), 1, prefixDims))
      .withColumn("qn", l2Norm(col("qe")))
      .withColumn("qpn", l2Norm(col("qp")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
      .withColumn("cp", slice(col("ce"), 1, prefixDims))
      .withColumn("cn", l2Norm(col("ce")))
      .withColumn("cpn", l2Norm(col("cp")))
    val coarse = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("coarse",
        round(dotD(col("qp"), col("cp")) / (col("qpn") * col("cpn")), 7))
    val w1 = Window.partitionBy("query_id").orderBy(col("coarse").desc, col("neighbor_id"))
    val short = coarse
      .withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= shortlist)
    val rescored = short.withColumn("cos",
      round(dotD(col("qe"), col("ce")) / (col("qn") * col("cn")), 7))
    val w2 = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    rescored
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Symmetric per-vector int8 scalar quantization — the storage/transfer
    * compression step of a billion-vector ANN index (4× smaller than
    * float32, dot products in integer SIMD on the serving side). Per
    * vector: `scale = max|v| / 127`, `q_i = floor(v_i/scale + 0.5)` clamped
    * to [-127, 127] — `floor(x + 0.5)` rather than `round()` because its
    * semantics are identical in every engine, so the oracle replays it
    * exactly. Reconstruction error is ≤ scale/2 per element by
    * construction. Row-local arithmetic only: no shuffle, embarrassingly
    * parallel at any scale.
    *
    * Returns (idCol, emb double[], scale, q long[]).
    */
  def quantizeI8(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), col(embCol).cast("array<double>").as("emb"))
      // 1e-30 floor: an all-zero vector quantizes to zeros instead of NaN
      .withColumn("scale",
        greatest(array_max(transform(col("emb"), v => abs(v))), lit(1e-30)) / 127)
      .withColumn("q", transform(col("emb"), v =>
        least(greatest(floor(v / col("scale") + 0.5), lit(-127.0)), lit(127.0))
          .cast("long")))

  /** Deterministic ±1 sign matrix for [[randomProject]], derived from the
    * engine-portable h60 so the oracle recomputes every entry:
    * `sign(j, i) = +1 iff h60("salt:j:i") is even`. Driver-side precompute
    * (dOut × dIn entries — metadata-scale), embedded as literals.
    */
  def signMatrix(dIn: Int, dOut: Int, salt: String): Array[Array[Double]] =
    Array.tabulate(dOut, dIn)((j, i) =>
      if (h60Local(s"$salt:$j:$i") % 2 == 0) 1.0 else -1.0)

  /** Johnson–Lindenstrauss random projection with ±1 signs (Achlioptas
    * 2003): project `dIn`-dim embeddings to `dOut` dims via
    * `y_j = Σ_i x_i · sign(j, i) / √dOut` — pairwise distances are
    * preserved in expectation with variance O(1/dOut), so downstream ANN /
    * clustering runs on a 4× (64→16) smaller vector at 4× less dot-product
    * cost. The database-side half of every "reduce then index" vector
    * pipeline.
    *
    * Everything is deterministic and engine-replayable: the sign matrix
    * derives from h60 ([[signMatrix]]), the per-dimension sum folds
    * left-to-right ([[graft.functions.CrossHash.dotD]]), and √dOut is
    * IEEE-exact for the power-of-4 dOut this is used with. Row-local
    * arithmetic — zero shuffle, the projection pushes into the scan stage
    * at any scale.
    *
    * Output: (idCol, j, v) — one row per projected dimension, `v` rounded
    * to 4 decimals (the shared presentation contract with the oracle).
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dIn: Int,
      dOut: Int,
      salt: String): DataFrame = {
    require(dIn >= 1 && dOut >= 1, s"dims must be positive: dIn=$dIn dOut=$dOut")
    val m = signMatrix(dIn, dOut, salt)
    val scale = math.sqrt(dOut.toDouble)
    val proj = array((0 until dOut).map { j =>
      round(dotD(col(embCol), typedlit(m(j).toSeq)) / scale, 4)
    }: _*)
    df.select(col(idCol), posexplode(proj))
      .select(col(idCol), col("pos").cast("long").as("j"), col("col").as("v"))
  }

  /** The persisted IVF index: `_lists`, `_cents`, `_meta` (see [[writeIvfIndex]]). */
  val Ivf = new TableFamily("_lists", "_cents", "_meta")

  /** Persist the IVF index as catalog tables — the production shape of a
    * 100 TB vector store, mirroring [[graft.operators.Dedup.writeMinhashIndex]]:
    * build once, probe per query batch with zero Exchange on the index
    * side, maintain by appending newly-listed vectors.
    *
    * Three tables:
    *  - `<prefix>_lists` (cid, neighbor_id, ce) — the inverted lists,
    *    bucketed+sorted on `cid`, so the probe join consumes the bucket
    *    layout directly (the corpus never reshuffles at probe time; the
    *    small probe side shuffles to match);
    *  - `<prefix>_cents` (cid, cvec) — `nlist` rows, broadcast at probe;
    *  - `<prefix>_meta` (nlist, iters, buckets) — introspection record
    *    (unlike the minhash index there is no silent-mismatch failure
    *    mode: the centroid table itself defines the lists).
    *
    * The quantizer ([[ivfCentroids]]) is bit-deterministic (smallest-id
    * init, decimal means), so a probe through the persisted index returns
    * EXACTLY what inline [[ivfTopK]] returns over the same corpus — the
    * parity the spec pins.
    */
  def writeIvfIndex(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      buckets: Int,
      nlist: Int = 16,
      iters: Int = 3,
      assign: Int = 1): Unit = {
    val cents = ivfCentroids(corpus, idCol, embCol, nlist, iters)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
      .localCheckpoint(true) // consumed by the assignment's argmin pass
    // keepVec carries ce through the argmin aggregation — no join back
    val listed = assignToCentroidsMulti(c, "neighbor_id", "ce", cents, assign,
        keepVec = true)
      .select(col("cid"), col("neighbor_id"), col("ce"))
    graft.sources.Sinks.writeBucketedTable(listed, s"${tablePrefix}_lists", buckets, "cid")
    cents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_cents")
    val meta = corpus.sparkSession.createDataFrame(
      Seq((nlist, iters, buckets, assign))).toDF("nlist", "iters", "buckets", "assign")
    meta.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_meta")
  }

  /** `_meta` field read by NAME with a default for indexes written before
    * the field existed — ordinal reads would silently swap fields if the
    * meta schema ever reordered.
    */
  private def metaInt(meta: org.apache.spark.sql.Row, name: String, default: => Int): Int =
    if (meta.schema.fieldNames.contains(name)) meta.getAs[Int](name) else default

  /** The ACTIVE generation of an index family
    * ([[graft.sources.Sinks.activeTablePrefix]]): every verb resolves
    * through here, so probes, appends, deletes and compaction all follow
    * a rebuild's cutover without call-site changes.
    */
  private def activeIvfPrefix(
      spark: org.apache.spark.sql.SparkSession, prefix: String): String =
    graft.sources.Sinks.activeTablePrefix(spark, prefix)

  /** The `_meta` head row of a RESOLVED generation prefix, memoized per
    * session (r16): generation metadata is immutable — every rewrite of a
    * family under the same name rewrites `_meta` and therefore the
    * [[graft.SessionMemo]] fingerprint the entry is keyed on.
    */
  private def cachedMetaRow(
      spark: org.apache.spark.sql.SparkSession, tp: String): org.apache.spark.sql.Row =
    graft.SessionMemo.cached(spark, s"${tp}_meta", "meta") {
      spark.table(s"${tp}_meta").head()
    }

  /** The `_cents` rows of a resolved generation, memoized like
    * [[cachedMetaRow]] and served as a driver-LOCAL centroid frame plus
    * the quantizer dimension: the per-call table-scan job behind the
    * assignment broadcast AND the separate size() head job disappear
    * (the centroid set is broadcast-bounded by design, so one collected
    * copy per generation per session is the bound already paid).
    */
  private def cachedCentsLocal(
      spark: org.apache.spark.sql.SparkSession, tp: String): (DataFrame, Int) = {
    val rows = graft.SessionMemo.cached(spark, s"${tp}_meta", "cents") {
      spark.table(s"${tp}_cents").collect()
    }
    // the old dim probe read size(cvec) of the scan's first row — the
    // same row this collect returns first
    val dim = rows.head.getSeq[Any](1).size
    (localCentsFrame(spark, rows.toSeq.map(r => (r.getLong(0), r.get(1)))), dim)
  }

  /** The PQ `_books` of a resolved generation as the driver codebook
    * array, memoized like [[cachedMetaRow]] — codebooks are embedded as
    * literals downstream, so the per-call collect was pure re-read.
    */
  private def cachedBooks(
      spark: org.apache.spark.sql.SparkSession, tp: String,
      m: Int, ks: Int): Array[Array[Array[Double]]] =
    graft.SessionMemo.cached(spark, s"${tp}_meta", "books") {
      val books = Array.fill(m, ks)(Array.empty[Double])
      spark.table(s"${tp}_books").collect().foreach { r =>
        books(r.getInt(0))(r.getLong(1).toInt - 1) = r.getSeq[Double](2).toArray
      }
      books
    }

  /** Append new vectors to a persisted IVF index (see [[writeIvfIndex]])
    * under the FROZEN quantizer — the standard production maintenance
    * split: inverted lists grow online per ingest batch, centroids
    * retrain offline (`Ivf.rebuild` over [[writeIvfIndex]], a
    * generation cutover with no serving gap) when drift warrants.
    * Assignment against the existing `_cents` table is deterministic, so
    * appending a batch yields byte-identical lists to
    * having listed those vectors at build time with the same centroids
    * (spec-pinned); appends land bucket-aligned on `cid`, keeping probes
    * zero-Exchange as the index grows. Cost per batch:
    * O(|batch| · nlist) assignment + one bucketed write — never a corpus
    * re-listing.
    */
  def appendToIvfIndex(
      newVecs: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String): Unit = {
    val spark = newVecs.sparkSession
    val tp = activeIvfPrefix(spark, tablePrefix)
    // generation-immutable metadata memoized per session (SessionMemo):
    // the meta head, the centroid set and its dimension cost ~3 driver
    // jobs per micro-batch when re-read every append
    val meta = cachedMetaRow(spark, tp)
    val buckets = metaInt(meta, "buckets", meta.getInt(2))
    val assign = metaInt(meta, "assign", 1)
    val (cents, dim) = cachedCentsLocal(spark, tp)
    // wrong-width OR NULL vectors would assign on null-padded distances
    // (cid tie-break only) instead of failing — refuse loudly via the
    // null-safe <=> so a null embedding cannot slip past the guard; the
    // expected dimension is whatever the stored quantizer carries. The
    // guard rides the checkpoint job (r16 — one batch pass, not two).
    val c = checkpointRequiring(
      newVecs.select(col(idCol).as("neighbor_id"), col(embCol).as("ce")),
      size(col("ce")) <=> lit(dim),
      s"appendToIvfIndex: batch contains vectors whose dimension != $dim " +
        s"(dimension of index '$tablePrefix' centroids)")
    // keepVec carries ce through the argmin aggregation — no join back
    val listed = assignToCentroidsMulti(c, "neighbor_id", "ce", cents, assign,
        keepVec = true)
      .select(col("cid"), col("neighbor_id"), col("ce"))
    listed.write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "cid").sortBy("cid")
      .format("parquet").saveAsTable(s"${tp}_lists")
  }

  /** Product-quantization codebooks: the embedding is split into `m`
    * contiguous `subDim`-dimensional subvectors; each subspace gets its own
    * `ks`-centroid deterministic Lloyd quantizer with the [[ivfCentroids]]
    * rules (smallest-id init, exact decimal means so shuffle order cannot
    * perturb a centroid bit, distance ties to the smaller centroid id,
    * empty clusters keep their previous centroid). All m subspaces train
    * TOGETHER over one exploded (subspace, subvector) frame, so the number
    * of passes over the corpus is `iters` — independent of m — which is
    * what keeps codebook training affordable on a 100 TB corpus (m
    * sequential k-means runs would be m× the scans).
    *
    * The result is metadata (m·ks subvectors), collected to the driver and
    * embedded as literals downstream — the same "broadcast the projection
    * matrix" pattern as [[planeWeights]]. `books(j)(cid-1)` = centroid
    * vector of subspace j.
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      ks: Int,
      subDim: Int,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    val subCols = (0 until m).map(j =>
      struct(lit(j).as("j"), slice(col("v"), j * subDim + 1, subDim).as("sv")))
    val subs = corpus
      .select(col(idCol).cast("long").as("vid"),
        col(embCol).cast("array<double>").as("v"))
      .select(col("vid"), explode(array(subCols: _*)).as("e"))
      .select(col("vid"), col("e.j").as("j"), col("e.sv").as("sv"))
      .localCheckpoint(true) // re-read every iteration
    // Codebooks are driver-carried between rounds like ivfCentroids
    // (r16): they are collected to the driver at the END by contract
    // (embedded as literals downstream), so carrying them locally DURING
    // training removes the per-round second aggregation, join-back and
    // checkpoint jobs. Init: subspace j's seeds are the j-subvectors of
    // the ks smallest-id vectors — the old per-j row_number window picks
    // exactly those rows (every vector appears in every subspace), so
    // one bounded take of the ks smallest vectors seeds all m subspaces.
    // Spark's slice(v, start, len) clips like Scala's slice and is NULL
    // on a NULL vector — mirrored here.
    val seed = corpus
      .select(col(idCol).cast("long").as("vid"),
        col(embCol).cast("array<double>").as("v"))
      .orderBy("vid").limit(ks).collect()
    var cents: Seq[(Int, Long, Any)] =
      for (j <- 0 until m; (r, i) <- seed.zipWithIndex.toSeq) yield {
        val sv =
          if (r.isNullAt(1)) null
          else r.getSeq[Any](1).slice(j * subDim, j * subDim + subDim)
        (j, (i + 1).toLong, sv)
      }
    val spark = corpus.sparkSession
    for (_ <- 1 to iters) {
      val assigned = subs.join(broadcast(
          localPqCentsFrame(spark, cents)
            .select(col("j"), col("cid"), col("cvec"),
              dotD(col("cvec"), col("cvec")).as("cn2"))), "j")
        .select(col("vid"), col("j"), col("sv"),
          struct((col("cn2") - lit(2.0) * dotD(col("sv"), col("cvec"))).as("d"),
            col("cid")).as("dc"))
        // every row of a (vid, j) group carries the same sv, so first() is
        // value-deterministic here
        .groupBy("vid", "j").agg(min("dc").as("dc"), first("sv").as("sv"))
      val byJC = assigned
        .select(col("j"), col("dc.cid").as("cid"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy("j", "cid", "dim")
        .agg(avg(col("x").cast("decimal(28,14)")).cast("double").as("mn"))
        .collect() // m·ks·subDim rows — driver metadata by contract
        .groupBy(r => (r.getInt(0), r.getLong(1)))
      cents = cents.map { case (j, cid, prev) =>
        (j, cid, byJC.get((j, cid)).map(sortedMeans(_, 2, 3)).getOrElse(prev))
      }
    }
    val out = Array.fill(m, ks)(Array.empty[Double])
    cents.foreach { case (j, cid, v) =>
      out(j)(cid.toInt - 1) =
        v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].doubleValue).toArray
    }
    out
  }

  /** (j, cid, cvec) per-subspace codebook set as a LocalRelation frame —
    * the [[localCentsFrame]] sibling for [[pqCodebooks]]' training join.
    */
  private def localPqCentsFrame(
      spark: org.apache.spark.sql.SparkSession, cents: Seq[(Int, Long, Any)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType), nullable = true)))
    val rows = new java.util.ArrayList[Row](cents.size)
    cents.foreach { case (j, cid, v) => rows.add(Row(j, cid, v)) }
    spark.createDataFrame(rows, schema)
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, TPAMI 2011) with
    * asymmetric-distance (ADC) scoring: every corpus vector is compressed
    * to m codebook codes (4 bits each at the default ks=16 — 8 packed
    * bytes vs 256 for the 64-dim float32 vector, 32×), a query scores the
    * ENTIRE code table with m table lookups per candidate instead of a
    * dims-wide dot product, and
    * only the `shortlist` best approximate candidates per query are
    * re-ranked by the exact full-dimension cosine.
    *
    * Scale shape — the part that matters at 100 TB: the wide scoring join
    * carries ONLY (id, m codes, reconstructed-norm²); the full embedding
    * arrays are joined back for the bounded |queries|·shortlist re-rank
    * frame alone, so the bytes scanned per candidate drop ~32× versus
    * brute force. The approximate cosine uses the reconstruction-norm
    * denominator (‖ĉ‖ = sqrt(Σⱼ ‖c_code‖²) — exact for the quantized
    * vector since subspaces are disjoint), is rounded to 7 decimals and
    * tie-broken on neighbor id, so the whole pipeline is deterministic:
    * codebooks are bit-deterministic, encode/ADC are row-local arithmetic
    * on literal centroids. Recall < 1 by construction — certified
    * corpus-level against [[bruteForceTopK]] like the IVF/LSH paths.
    *
    * Vectors are L2-NORMALIZED before training and encoding — the standard
    * cosine-PQ preprocessing (quantize direction, not magnitude). On this
    * synthetic corpus the norms are near-uniform so the step measures
    * neutral; it is kept because real embedding corpora have varying
    * magnitudes and the cost is one row-local map. What recall actually
    * responds to here is subspace count: m=16 (4-dim subspaces) recalls
    * 0.93 at sf0.1 where m=8 managed 0.40–0.74 across every ks/shortlist
    * tried. The exact re-rank uses the original vectors — cosine is
    * scale-invariant, so normalization changes nothing downstream.
    */
  /** L2-normalize an array<double> column (guarded against zero vectors) —
    * the cosine-PQ preprocessing shared by the inline and persisted paths.
    */
  private[graft] def normalizedArr(e: Column): Column = {
    val n = greatest(l2Norm(e), lit(1e-30))
    transform(e, x => x / n)
  }

  /** PQ encode columns `code0..code{m-1}`: per-subspace
    * argmin_c (‖c‖² − 2·sub_j·c) over the literal codebooks (the ‖sub‖²
    * term is constant per row); distance ties break to the smaller code
    * id. Row-local, no shuffle — the 100 TB encode is a map-only pass.
    */
  private[graft] def pqCodeCols(
      books: Array[Array[Array[Double]]], subDim: Int, cen: Column): Seq[Column] = {
    val bookNorm2 = books.map(_.map(c => c.map(x => x * x).sum))
    books.indices.map { j =>
      val cands = books(j).zipWithIndex.map { case (cv, i) =>
        struct(
          (lit(bookNorm2(j)(i))
            - lit(2.0) * dotD(slice(cen, j * subDim + 1, subDim), typedlit(cv.toSeq))).as("d"),
          lit(i + 1).as("cid"))
      }
      array_min(array(cands: _*)).getField("cid").as(s"code$j")
    }
  }

  /** Reconstruction-norm² Σⱼ ‖c_code‖² from the selected `code*` columns —
    * exact for the quantized vector since subspaces are disjoint.
    */
  private[graft] def pqCn2aCol(books: Array[Array[Array[Double]]]): Column = {
    val bookNorm2 = books.map(_.map(c => c.map(x => x * x).sum))
    greatest(books.indices.map(j =>
        element_at(typedlit(bookNorm2(j).toSeq), col(s"code$j"))).reduce(_ + _),
      lit(1e-30))
  }

  /** All m PQ codes as ONE `array<int>` column: resolves to the native
    * one-call expression [[graft.functions.PqEncode]] when
    * [[graft.GraftExtensions]] is registered — the m·ks inlined
    * dot-product candidates of [[pqCodeCols]] blew janino's 64 KB
    * method limit at m=16·ks=16, so every encode stage fell back to
    * interpreted execution and re-codegen'd the oversized source per
    * action (r15 verdict #7) — and falls back to the [[pqCodeCols]]
    * formulation (the executable spec the oracle certificates replay)
    * otherwise. Values element-for-element identical, incl. the
    * NULL-vector → all-code-1 and ragged-slice → code-1 shapes the
    * builders' guards refuse upstream.
    */
  private[graft] def pqCodesArray(
      books: Array[Array[Array[Double]]], subDim: Int, cen: Column): Column =
    if (graft.functions.CrossHash.hasNativeFunction("graft_pq_encode"))
      call_function("graft_pq_encode", cen,
        typedlit(books.map(_.map(_.toSeq).toSeq).toSeq), lit(subDim))
    else array(pqCodeCols(books, subDim, cen): _*)

  /** [[pqCn2aCol]] reading the packed `codes` array instead of the
    * per-subspace `code*` columns — same element_at lookups, same values.
    */
  private[graft] def pqCn2aFromCodes(
      books: Array[Array[Array[Double]]], codes: Column): Column = {
    val bookNorm2 = books.map(_.map(c => c.map(x => x * x).sum))
    greatest(books.indices.map(j =>
        element_at(typedlit(bookNorm2(j).toSeq), element_at(codes, j + 1))).reduce(_ + _),
      lit(1e-30))
  }

  /** Per-subspace ADC lookup tables `qtab_j[c] = qsub_j · c_c` over the
    * normalized query — precomputed once per query, the ADC table of the
    * original scheme.
    */
  private[graft] def pqQueryTabCols(
      books: Array[Array[Array[Double]]], subDim: Int, qen: Column): Seq[Column] =
    books.indices.map { j =>
      array(books(j).map(cv =>
          dotD(slice(qen, j * subDim + 1, subDim), typedlit(cv.toSeq))): _*)
        .as(s"qtab$j")
    }

  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int = 16,
      ks: Int = 16,
      shortlist: Int = 128,
      iters: Int = 2,
      dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m

    val c0 = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).cast("array<double>").as("ce"))
    val cN = c0.withColumn("cen", normalizedArr(col("ce")))
    val books = pqCodebooks(cN, "neighbor_id", "cen", m, ks, subDim, iters)

    val coded = cN.select(col("neighbor_id"),
        pqCodesArray(books, subDim, col("cen")).as("codes"))
      .withColumn("cn2a", pqCn2aFromCodes(books, col("codes")))

    val q0 = queries.select(col(idCol).as("query_id"),
        col(embCol).cast("array<double>").as("qe"))
      .withColumn("qn", l2Norm(col("qe")))
    val qN = q0.withColumn("qen", normalizedArr(col("qe")))
    val q1 = qN.select((col("query_id") +: pqQueryTabCols(books, subDim, col("qen"))): _*)

    // both sides unit-normalized, so approx cosine = adc / ‖ĉ‖ (the
    // reconstruction norm ≈ 1 corrects the quantized side's residual)
    val adc = (0 until m).map(j =>
      element_at(col(s"qtab$j"), element_at(col("codes"), j + 1))).reduce(_ + _)
    val scoredApprox = broadcast(q1).join(coded, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adc / sqrt(col("cn2a")), 7).as("approx"))
    val w1 = Window.partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id"))
    val short = scoredApprox.withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= shortlist)
      .select("query_id", "neighbor_id")

    // exact re-rank on the bounded shortlist: full vectors join back HERE,
    // never into the wide scoring join
    val rescored = broadcast(short.join(q0, "query_id"))
      .join(c0, "neighbor_id")
      .withColumn("cos",
        round(dotD(col("qe"), col("ce")) / (col("qn") * l2Norm(col("ce"))), 7))
    val w2 = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    rescored
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** IVF top-k against a PERSISTED index (see [[writeIvfIndex]]): the same
    * probe arithmetic as [[ivfTopK]], but centroids and inverted lists
    * come from the catalog — no k-means, no corpus re-listing, and the
    * bucketed `_lists` scan feeds the candidate join with no Exchange.
    * Lazy plan builder for the spec; [[ivfTopKAgainstIndex]] is the eager
    * production wrapper.
    */
  private[graft] def ivfTopKAgainstIndexPlan(
      queries: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      k: Int,
      nprobe: Int = 4,
      candidateFilter: Column = lit(true),
      candidateHook: DataFrame => DataFrame = identity): DataFrame = {
    val spark = queries.sparkSession
    val tp = activeIvfPrefix(spark, tablePrefix)
    // generation-immutable model state memoized per session
    // (SessionMemo): the meta head + the centroid scan behind the probe
    // broadcast were two driver jobs per probe call
    val meta = cachedMetaRow(spark, tp)
    val nlist = metaInt(meta, "nlist", meta.getInt(0))
    val assign = metaInt(meta, "assign", 1)
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe=$nprobe outside [1, nlist=$nlist] of index '$tablePrefix'")
    val (cents, _) = cachedCentsLocal(spark, tp)
    // filtered search: the predicate lands on the LISTS SCAN, i.e. this
    // is PRE-filtering — ineligible vectors never become candidates, so
    // top-k is taken among eligible vectors only (post-filtering a
    // truncated top-k would return < k rows and lose eligible
    // neighbors). A sargable predicate (comparison/equality/IN on a
    // column) pushes into the bucketed parquet scan — PushedFilters,
    // row-group skipping, zero extra shuffle (spec-pinned); computed
    // predicates still evaluate codegen'd on the scan output BEFORE the
    // probe join. Production filtered stores denormalize the filterable
    // attributes into the lists table for exactly this reason. A thinner
    // eligible density per probed cell costs recall at fixed nprobe —
    // scale nprobe with selectivity (BASELINE.md "Filtered-search recall",
    // 2026-08-14; `sim_knn_ivf_filtered` certifies the served setting).
    val listed = spark.table(s"${tp}_lists").filter(candidateFilter)
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val probes = q.crossJoin(broadcast(
        cents.select(col("cid"), col("cvec"),
          (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
      .select(col("query_id"), col("qe"),
        (col("cn2") - lit(2.0) * dotD(col("qe"), col("cvec"))).as("d"), col("cid"))
    val pw = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probed = probes.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))
    val cand0 = probed.join(listed, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
    // multi-assigned indexes list a vector under `assign` cells; dedupe
    // before ranking so row_number cannot count a neighbor twice
    val cand1 = if (assign > 1) cand0.dropDuplicates("query_id", "neighbor_id") else cand0
    // per-(query, candidate) eligibility the static candidateFilter can't
    // express (e.g. hard-negative mining's "not in THIS anchor's dup
    // cluster") joins in HERE — before the ranking window, so the top-k
    // is taken among eligible candidates at probe depth k itself
    val cand = candidateHook(cand1)
    val scored = cand.select(
      col("query_id"), col("neighbor_id"),
      round(dotD(col("qe"), col("ce")) / (l2Norm(col("qe")) * l2Norm(col("ce"))), 7).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Eager production entry over [[ivfTopKAgainstIndexPlan]] — the result
    * is top-k per query, bounded and small.
    */
  def ivfTopKAgainstIndex(
      queries: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      k: Int,
      nprobe: Int = 4,
      candidateFilter: Column = lit(true)): DataFrame =
    ivfTopKAgainstIndexPlan(
        queries, tablePrefix, idCol, embCol, k, nprobe, candidateFilter)
      .localCheckpoint(true)

  /** The persisted IVF-PQ index (see [[writeIvfPqIndex]]). */
  val IvfPq = new TableFamily("_codes", "_vecs", "_cents", "_books", "_meta")

  /** Persisted IVF-PQ index — the production vector-store shape (FAISS
    * `IVFx,PQy` with `by_residual=false`): a coarse IVF quantizer prunes
    * which lists a query scans, and inside the lists every vector is a PQ
    * code, so the wide probe join carries 4-bit codes instead of float
    * arrays. Composition of [[writeIvfIndex]] (coarse, raw-vector L2
    * cells, same `ivfCentroids` rules) and [[pqCodebooks]] (fine,
    * normalized-vector subspace codes, `by_residual=false`: residual
    * encoding chiefly benefits L2 metrics, while for cosine/IP the
    * non-residual form is standard practice — and it keeps codebooks
    * decoupled from cell assignment, which is what makes the whole
    * build bit-deterministic). Tables:
    *
    *  - `<prefix>_codes` (cid, neighbor_id, codes array, cn2a) — BUCKETED
    *    on `cid`: probes consume the layout with zero Exchange on the
    *    index side, and the per-candidate bytes are m codes + one norm —
    *    the ~32× scan-width cut is the point of PQ at 100 TB;
    *  - `<prefix>_vecs` (neighbor_id, ce) — full vectors, joined back ONLY
    *    for the bounded |queries|·shortlist exact re-rank;
    *  - `<prefix>_cents` / `<prefix>_books` — coarse centroids (nlist
    *    rows) and PQ codebooks (m·ks rows), both metadata-scale;
    *  - `<prefix>_meta` (nlist, m, ks, subDim, buckets).
    *
    * Everything downstream of training is deterministic (literal-codebook
    * argmin encode, deterministic coarse assignment), so two builds over
    * the same corpus are byte-identical — spec-pinned.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      buckets: Int,
      nlist: Int = 16,
      nlistIters: Int = 3,
      m: Int = 16,
      ks: Int = 16,
      iters: Int = 2,
      dims: Int = 64,
      assign: Int = 1): Unit = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    val spark = corpus.sparkSession

    val cents = ivfCentroids(corpus, idCol, embCol, nlist, nlistIters)
    // a wrong-width OR NULL vector would not fail: slice() pads short
    // subvectors, dotD null-pads, and the argmin tie-break silently writes
    // code 1 — a poisoned index. Refuse loudly instead (null-safe <=>:
    // size(null) is null, which =!= would pass through). The guard rides
    // the checkpoint job itself (r16 — one corpus pass, not two).
    val c = checkpointRequiring(
      corpus.select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("ce")),
      size(col("ce")) <=> lit(dims),
      s"writeIvfPqIndex: corpus contains vectors whose dimension != $dims")
    // consumed by codebooks, encode+assignment, _vecs
    val cN = c.withColumn("cen", normalizedArr(col("ce")))
    val books = pqCodebooks(cN, "neighbor_id", "cen", m, ks, subDim, iters)

    // encode row-locally (one native PqEncode call — see pqCodesArray),
    // then carry (codes, cn2a) THROUGH the coarse argmin aggregation —
    // the r15 coded⋈assigned join-back (one Exchange each side + a hash
    // join) is gone (guide §2.4); values unchanged
    val withCodes = cN
      .select(col("neighbor_id"), col("ce"),
        pqCodesArray(books, subDim, col("cen")).as("codes"))
      .withColumn("cn2a", pqCn2aFromCodes(books, col("codes")))
    val codesTable = assignToCentroidsMulti(withCodes, "neighbor_id", "ce", cents,
        assign, carry = Seq("codes", "cn2a"))
      .select(col("cid"), col("neighbor_id"), col("codes"), col("cn2a"))
    graft.sources.Sinks.writeBucketedTable(codesTable, s"${tablePrefix}_codes", buckets, "cid")

    c.select(col("neighbor_id"), col("ce"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_vecs")
    cents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_cents")
    val bookRows = for (j <- 0 until m; i <- 0 until ks)
      yield (j, (i + 1).toLong, books(j)(i).toSeq)
    spark.createDataFrame(bookRows).toDF("j", "cid", "cvec")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_books")
    spark.createDataFrame(Seq((nlist, m, ks, subDim, buckets, assign)))
      .toDF("nlist", "m", "ks", "subDim", "buckets", "assign")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Append new vectors to a persisted IVF-PQ index (see
    * [[writeIvfPqIndex]]) under the FROZEN coarse quantizer AND frozen PQ
    * codebooks — the same production maintenance split as
    * [[appendToIvfIndex]], extended to the code tier: lists and codes grow
    * online per batch; centroids/codebooks retrain offline (a rebuild)
    * when drift warrants. Assignment and encode are deterministic given
    * the stored quantizers, so appending a batch yields byte-identical
    * `_codes` rows to having coded those vectors at build time
    * (spec-pinned); appends land bucket-aligned on `cid`, keeping probes
    * zero-Exchange as the index grows. Cost per batch: O(|batch| ·
    * (nlist + m·ks)) row-local arithmetic + two appends — never a corpus
    * re-coding.
    */
  def appendToIvfPqIndex(
      newVecs: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String): Unit = {
    val spark = newVecs.sparkSession
    val tp = activeIvfPrefix(spark, tablePrefix)
    // meta fields read by NAME: an ordinal read would silently swap
    // m/ks/subDim if the meta schema ever reordered — poisoned appends.
    // meta/books/cents are generation-immutable and memoized per session
    // (SessionMemo) — re-collecting them cost ~3 driver jobs per
    // micro-batch
    val meta = cachedMetaRow(spark, tp)
    val (m, ks, subDim, buckets) =
      (metaInt(meta, "m", meta.getInt(1)), metaInt(meta, "ks", meta.getInt(2)),
        metaInt(meta, "subDim", meta.getInt(3)), metaInt(meta, "buckets", meta.getInt(4)))
    val assign = metaInt(meta, "assign", 1)
    val books = cachedBooks(spark, tp, m, ks)
    val (cents, _) = cachedCentsLocal(spark, tp)
    // same refusal as writeIvfPqIndex: a wrong-width OR NULL batch vector
    // would encode to silently-poisoned codes (slice pads, dotD null-pads,
    // argmin falls back to code 1) — and append is the entry point most
    // likely to be fed by a DIFFERENT process than the one that built the
    // index. Null-safe <=>: size(null) is null, which =!= lets through.
    // The guard rides the checkpoint job (r16 — one batch pass, not two);
    // the frame is consumed by encode+assignment and _vecs.
    val c = checkpointRequiring(
      newVecs.select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("ce")),
      size(col("ce")) <=> lit(m * subDim),
      s"appendToIvfPqIndex: batch contains vectors whose dimension != ${m * subDim} " +
        s"(index '$tablePrefix' was built with m=$m, subDim=$subDim)")
    val cN = c.withColumn("cen", normalizedArr(col("ce")))
    // encode (one native PqEncode call — see pqCodesArray) + coarse-assign
    // in ONE pass: (codes, cn2a) carried through the argmin aggregation —
    // no join back (r16, guide §2.4)
    val withCodes = cN
      .select(col("neighbor_id"), col("ce"),
        pqCodesArray(books, subDim, col("cen")).as("codes"))
      .withColumn("cn2a", pqCn2aFromCodes(books, col("codes")))
    assignToCentroidsMulti(withCodes, "neighbor_id", "ce", cents, assign,
        carry = Seq("codes", "cn2a"))
      .select(col("cid"), col("neighbor_id"), col("codes"), col("cn2a"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "cid").sortBy("cid")
      .format("parquet").saveAsTable(s"${tp}_codes")
    c.select(col("neighbor_id"), col("ce"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(s"${tp}_vecs")
  }

  /** Delete vectors from a persisted IVF index (see [[writeIvfIndex]]):
    * drops their inverted-list rows via an anti-join rewrite riding the
    * compaction machinery (generation cutover, bucket layout preserved,
    * fragmentation vacuumed in the same pass). Probes afterwards behave
    * exactly as if the vectors had never been indexed (hash-verified by
    * `sim_knn_ivf_delete`). `deletedIds` must expose an `id` column.
    */
  def deleteFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      deletedIds: DataFrame): Unit =
    Ivf.deleteKeys(spark, tablePrefix, deletedIds.select(col("id").as("neighbor_id")), "_lists")

  /** Delete vectors from a persisted IVF-PQ index (see
    * [[writeIvfPqIndex]]): anti-join rewrite of both the bucketed
    * `_codes` and the `_vecs` re-rank side table — a deleted vector must
    * vanish from BOTH, or the shortlist would re-rank ghosts; the single
    * generation cutover makes the pair-removal atomic for readers.
    */
  def deleteFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      deletedIds: DataFrame): Unit =
    IvfPq.deleteKeys(spark, tablePrefix,
      deletedIds.select(col("id").as("neighbor_id")), "_codes", "_vecs")

  /** Exactly-once wrapper around [[appendToIvfIndex]] — the batchId-keyed
    * write-ahead-ledger recipe ([[graft.sources.TableFamily.exactlyOnce]])
    * with [[deleteFromIvfIndex]] as the crash-recovery scrub (anti-join
    * on the batch's ids: exact for any partial state, since `_lists`
    * rows are per-vector). Redelivery of a committed batch skips
    * (None); a retry after a mid-append crash scrubs and re-applies.
    */
  def exactlyOnceAppendToIvfIndex(
      newVecs: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      batchId: Long): Option[Unit] = {
    val spark = newVecs.sparkSession
    graft.sources.TableFamily.exactlyOnce(spark, tablePrefix, batchId) {
      deleteFromIvfIndex(spark, tablePrefix, newVecs.select(col(idCol).as("id")))
    } {
      appendToIvfIndex(newVecs, tablePrefix, idCol, embCol)
    }
  }

  /** Exactly-once wrapper around [[appendToIvfPqIndex]] (same recipe as
    * [[exactlyOnceAppendToIvfIndex]]); the scrub is
    * [[deleteFromIvfPqIndex]], which anti-joins the batch's ids out of
    * BOTH `_codes` and `_vecs`, so a crash between the two table
    * appends also recovers exactly.
    */
  def exactlyOnceAppendToIvfPqIndex(
      newVecs: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      batchId: Long): Option[Unit] = {
    val spark = newVecs.sparkSession
    graft.sources.TableFamily.exactlyOnce(spark, tablePrefix, batchId) {
      deleteFromIvfPqIndex(spark, tablePrefix, newVecs.select(col(idCol).as("id")))
    } {
      appendToIvfPqIndex(newVecs, tablePrefix, idCol, embCol)
    }
  }

  /** Top-k against a persisted IVF-PQ index (see [[writeIvfPqIndex]]):
    * coarse-probe `nprobe` cells against the reopened `_cents`, ADC-score
    * ONLY those cells' PQ codes from the bucketed `_codes` scan (zero
    * Exchange on the index side — the probe side shuffles to match),
    * exact-cosine re-rank of the per-query `shortlist` from `_vecs`.
    * Codebooks collect from `_books` — metadata-scale, like the index
    * `_meta` reads. Lazy plan builder for the spec;
    * [[ivfPqTopKAgainstIndex]] is the eager production wrapper.
    */
  private[graft] def ivfPqTopKAgainstIndexPlan(
      queries: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      k: Int,
      nprobe: Int = 4,
      shortlist: Int = 128,
      candidateFilter: Column = lit(true)): DataFrame = {
    val spark = queries.sparkSession
    val tp = activeIvfPrefix(spark, tablePrefix)
    // by-name meta reads — see appendToIvfPqIndex. meta/books/cents are
    // generation-immutable and memoized per session (SessionMemo):
    // re-collecting them cost ~3 driver jobs per probe call
    val meta = cachedMetaRow(spark, tp)
    val (nlist, m, subDim) = (metaInt(meta, "nlist", meta.getInt(0)),
      metaInt(meta, "m", meta.getInt(1)), metaInt(meta, "subDim", meta.getInt(3)))
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe=$nprobe outside [1, nlist=$nlist] of index '$tablePrefix'")
    val ks = metaInt(meta, "ks", meta.getInt(2))
    val assign = metaInt(meta, "assign", 1)
    val books = cachedBooks(spark, tp, m, ks)
    val (cents, _) = cachedCentsLocal(spark, tp)
    // filtered search: the predicate PRE-filters the codes scan — same
    // semantics and rationale as ivfTopKAgainstIndexPlan. Ineligible
    // vectors never enter the ADC scoring, the shortlist holds eligible
    // candidates only, and the re-rank join on `_vecs` can only ever
    // see eligible ids (it joins back the shortlist).
    val codes = spark.table(s"${tp}_codes").filter(candidateFilter)
    val vecs = spark.table(s"${tp}_vecs")

    val q0 = queries.select(col(idCol).as("query_id"),
        col(embCol).cast("array<double>").as("qe"))
      .withColumn("qn", l2Norm(col("qe")))
    // coarse probe: same arithmetic as ivfTopKAgainstIndexPlan (raw
    // vectors, L2 cells)
    val probes = q0.crossJoin(broadcast(
        cents.select(col("cid"), col("cvec"),
          (l2Norm(col("cvec")) * l2Norm(col("cvec"))).as("cn2"))))
      .select(col("query_id"), col("qe"),
        (col("cn2") - lit(2.0) * dotD(col("qe"), col("cvec"))).as("d"), col("cid"))
    val pw = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probed = probes.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cid"))
    // ADC tables computed ONCE PER QUERY and materialized: the bounded
    // query set makes this metadata-scale, and the checkpoint is the
    // barrier without which ProjectCollapsing inlines the m·ks-entry
    // table expressions into the candidate join and recomputes them PER
    // CANDIDATE row (measured 6.5× at 10× corpus, 2026-08-13, BASELINE.md
    // "10× scale validation"). The qtab columns then reach the cell join
    // as plain data through a query_id equi-join.
    val qtabs = q0.withColumn("qen", normalizedArr(col("qe")))
      .select(Seq(col("query_id")) ++ pqQueryTabCols(books, subDim, col("qen")): _*)
      .localCheckpoint(true)
    val qt = probed.join(qtabs, "query_id")

    val adc = (0 until m).map(j =>
      element_at(col(s"qtab$j"), element_at(col("codes"), j + 1))).reduce(_ + _)
    // no broadcast hint on the cell join: locally the optimizer
    // broadcasts the tiny probe side anyway, and at scale the codes
    // table cannot broadcast — the join then rides the bucket layout
    // with zero Exchange on the index side, which is exactly the path
    // the spec pins by disabling auto-broadcast
    val scoredApprox0 = qt.join(codes, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adc / sqrt(col("cn2a")), 7).as("approx"))
    // multi-assigned codes can surface through two probed cells with the
    // SAME codes/approx — dedupe before ranking so row_number cannot
    // count a neighbor twice (deterministic: duplicate rows are identical)
    val scoredApprox = if (assign > 1)
      scoredApprox0.dropDuplicates("query_id", "neighbor_id") else scoredApprox0
    val w1 = Window.partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id"))
    val short = scoredApprox.withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= shortlist)
      .select("query_id", "neighbor_id")

    // exact re-rank on the bounded shortlist: full vectors join back HERE
    val rescored = broadcast(short.join(q0, "query_id"))
      .join(vecs, "neighbor_id")
      .withColumn("cos",
        round(dotD(col("qe"), col("ce")) / (col("qn") * l2Norm(col("ce"))), 7))
    val w2 = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    rescored
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Eager production entry over [[ivfPqTopKAgainstIndexPlan]]. */
  def ivfPqTopKAgainstIndex(
      queries: DataFrame,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      k: Int,
      nprobe: Int = 4,
      shortlist: Int = 128,
      candidateFilter: Column = lit(true)): DataFrame =
    ivfPqTopKAgainstIndexPlan(
        queries, tablePrefix, idCol, embCol, k, nprobe, shortlist, candidateFilter)
      .localCheckpoint(true)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Overlap, SessionMemo}
import graft.operators.Similarity
import graft.sources.Tables

/** Similarity-search tier over the `embeddings` table (64-dim float
  * vectors): exact brute-force top-k as the baseline, hyperplane-LSH
  * bucketed top-k as the scale path. Oracles recompute the same
  * deterministic plane weights via md5 in SQL.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** Query set: every 50th vector (10 queries at sf0.01). */
  private def queriesOf(df: DataFrame) = df.filter(col("vec_id") % 50 === 0)

  /** Shared read-only BASE indexes at the serving config (full corpus,
    * buckets=8, nlist=16, iters=3, assign=[[IvfAssign]]): several suite
    * queries used to each rebuild this byte-identical index under a
    * private prefix — duplicate quantizer training the suite paid 4–6×
    * per pass. Built once per (session, corpus) here (memoized like the
    * shared frames; [[SharedFrames]] pre-builds them in Bench so the
    * cost lands in the `shared_frame_builds` entry), probed read-only by
    * the probe-shaped queries, and FORKED (`Similarity.Ivf.fork`)
    * by the mutating ones — the production build-once / fork-to-stage
    * discipline, and the deterministic quantizer makes every consumer's
    * rows identical to a private rebuild. Mutating a fork leaves the
    * base intact; the delete queries fold that into their completeness
    * certificates.
    */
  private[queries] def ensureIvfBase(s: SparkSession, d: String): String =
    Similarity.Ivf.buildOnce(s, s"ivf_base_${ScratchKeys.forPath(d)}")(
      Similarity.writeIvfIndex(emb(s, d), "vec_id", "embedding", _,
        buckets = 8, nlist = 16, iters = 3, assign = IvfAssign))

  private[queries] def ensureIvfPqBase(s: SparkSession, d: String): String =
    Similarity.IvfPq.buildOnce(s, s"ivfpq_base_${ScratchKeys.forPath(d)}")(
      Similarity.writeIvfPqIndex(emb(s, d), "vec_id", "embedding", _,
        buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
        assign = IvfAssign))

  /** The exact brute-force top-3 over the full corpus for the query set:
    * the reference every full-corpus ANN recall certificate
    * ([[Parity.recallCertificate]]) is measured against. Memoized per
    * (session, corpus) and pre-built by Bench via [[SharedFrames]].
    */
  private[queries] def exactTop3(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"exact_top3:$d") {
      val e = emb(s, d)
      Similarity.bruteForceTopK(queriesOf(e), e, "vec_id", "embedding", k = 3)
        .localCheckpoint(true)
    }

  /** The exact brute-force top-3 over the survivors of the delete queries'
    * take-down (every 7th vector gone, `vec_id % 7 <> 0`), with the
    * survivor and corpus counts their completeness certificates check:
    * the reference `sim_knn_ivf_delete` and `sim_knn_ivfpq_delete` share.
    * Both frames are memoized per (session, corpus); the counts come from
    * one aggregation and are held as a local one-row frame.
    */
  private[queries] def survivorsTop3(s: SparkSession, d: String): (DataFrame, Long, Long) = {
    val e = emb(s, d)
    val survivor = col("vec_id") % 7 =!= 0
    val brute = SessionMemo.getOrCompute(s, s"survivors_top3:$d") {
      Similarity.bruteForceTopK(queriesOf(e), e.filter(survivor), "vec_id", "embedding", k = 3)
        .localCheckpoint(true)
    }
    val n = SessionMemo.getOrCompute(s, s"survivor_counts:$d") {
      val r = e.agg(count(when(survivor, 1)), count(lit(1))).head()
      s.createDataFrame(Seq((r.getLong(0), r.getLong(1))))
    }.head()
    (brute, n.getLong(0), n.getLong(1))
  }

  /** True iff the active generation of the index at `prefix` lists each
    * of `n` vectors exactly [[IvfAssign]] times in its `member` table
    * (`_lists` or `_codes`): one aggregation pass for total and distinct
    * ids together.
    */
  private[queries] def indexComplete(s: SparkSession, prefix: String, member: String,
      n: Long): Boolean = {
    val r = s.table(s"${graft.sources.Sinks.activeTablePrefix(s, prefix)}$member")
      .agg(count(lit(1)).as("n"), countDistinct(col("neighbor_id")).as("nd")).head()
    r.getLong(0) == IvfAssign * n && r.getLong(1) == n
  }

  /** Shared k-means assignment frame (k=8, iters=2, the serving
    * clustering config): `sim_kmeans_clusters` reports it and
    * `sim_semantic_sample` samples by it — memoized like every other
    * suite-shared frame and pre-built by Bench via [[SharedFrames]].
    */
  private[queries] def kmeansAssignFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"kmeans_k8_i2:$d") {
      Similarity.kmeansAssign(emb(s, d), "vec_id", "embedding", k = 8, iters = 2)
        .localCheckpoint(true)
    }

  /** Oracle tail for both SemDeDup variants: the within-cluster pair
    * pass + keep-smallest anti-join over the `af`/`v` CTEs.
    */
  private def semDedupTailSql: String =
    s"""x AS (SELECT af.vec_id, af.cid, v.ve FROM af JOIN v USING (vec_id)),
       |p AS (
       |  SELECT l.vec_id AS a, r.vec_id AS b, ${cosSql("l.ve", "r.ve")} AS cos
       |  FROM x l JOIN x r ON l.cid = r.cid AND l.vec_id < r.vec_id),
       |drops AS (SELECT DISTINCT b AS vec_id FROM p WHERE cos >= 0.5)
       |SELECT x.vec_id, x.cid FROM x LEFT JOIN drops USING (vec_id)
       |WHERE drops.vec_id IS NULL ORDER BY x.vec_id""".stripMargin

  /** The SemDeDup within-cluster prune shared by the fixed-k and
    * bounded-cluster variants: pairs inside one cluster with cosine ≥
    * 0.5 (rounded to 7 before compare — the cross-engine rule), drop
    * the larger id of every such pair, keep the rest.
    */
  private def semDedupPrune(assign: DataFrame, e: DataFrame): DataFrame = {
    val x = assign.join(e.select(col("vec_id"), col("embedding")), "vec_id")
    val l = x.select(col("cid"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = x.select(col("cid"), col("vec_id").as("b"), col("embedding").as("eb"))
    val drops = l.join(r, Seq("cid")).filter(col("a") < col("b"))
      .filter(round(graft.functions.CrossHash.cosine(
        col("ea").cast("array<double>"), col("eb").cast("array<double>")), 7) >= 0.5)
      .select(col("b").as("vec_id")).distinct()
    x.join(drops, Seq("vec_id"), "left_anti")
      .select("vec_id", "cid").orderBy("vec_id")
  }

  /** Corpus-level recall floor certified by `sim_knn_ivf`: the serving
    * configuration is nlist=16, nprobe=6, assign=2 (SOAR-style dual
    * assignment — every vector listed under its 2 nearest cells, which
    * kills the coarse-cell boundary misses that dominated the old
    * nprobe=4/assign=1 recall of 0.59–0.63). Measured recall vs
    * brute-force top-3 (2026-08-14): 0.967 / 0.933 / 0.892 at sf0.001 /
    * 0.01 / 0.1 (full curve in BASELINE.md "ANN recall–latency
    * frontier"; `sim_knn_ivf` enforces the floor every oracle run) —
    * stable, because the quantizer is deterministic. Individual queries can
    * still recall 0, so the certificate is corpus-level, like any ANN
    * benchmark.
    */
  val IvfRecallFloor = 0.80

  /** The serving-grade probe setting shared by every IVF-family query:
    * cells ranked by centroid distance, 6 of 16 probed, index built with
    * dual assignment. Candidates scanned ≈ 2N·6/16 = 0.75N here (small
    * nlist — at 100 TB nlist grows ~√N and the scanned fraction shrinks
    * to nprobe/nlist ≪ 1); recall/latency trade in BASELINE.md "ANN
    * recall–latency frontier" (2026-08-14).
    */
  val IvfNprobe = 6
  val IvfAssign = 2

  /** Filtered-search serving config + recall floor, certified by
    * `sim_knn_ivf_filtered` (PRE-filtered: the predicate lands on the
    * lists scan, so top-k is taken among eligible vectors only). A
    * filter thins the eligible density of every probed cell, so the
    * probe budget scales up with selectivity — the standard filtered-ANN
    * practice: at the base nprobe=6 the measured recall vs
    * brute-force-over-the-filtered-corpus top-3 (selectivity 1/3,
    * `neighbor_id % 3 = 0`; BASELINE.md "Filtered-search recall",
    * 2026-08-14) is 1.000 / 0.900 / 0.825 at sf0.001 / 0.01 / 0.1; at
    * nprobe=8 it is 1.000 / 0.933 / 0.925 — matching the unfiltered
    * certificate's grade at 1/3 the scanned eligible candidates. Floor
    * 0.075 under the worst measured point, same policy as the sibling
    * floors.
    */
  val IvfFilteredNprobe = 8

  /** Floor for the served-MMR selected-set overlap certificate
    * (sim_rag_mmr): measured min per-query overlap at probe depth 20 /
    * nprobe 8 — see the dated BASELINE.md note for the measured values
    * at both SFs.
    */
  val MmrRecallFloor = 0.70

  /** Probe depth for sim_rag_mmr's served candidate generation: MMR's
    * greedy chain AMPLIFIES a missed candidate (one absent strong pick
    * reroutes every later step), so the served tier probes deeper than
    * the fusion queries — measured: nprobe 8 min-overlap 0.50, nprobe 12
    * reads min 0.75 / mean 0.99 at sf0.1 — the 0.70 floor leaves one
    * step of margin under the measured minimum (dated BASELINE.md note).
    */
  val MmrNprobe = 12
  val IvfFilteredRecallFloor = 0.85

  /** Minimum per-query selected-set overlap for the full batched chain
    * (`sim_rag_batch_mmr`: batched fusion → MMR) vs the exact-chain
    * selection. The candidate tier is the fused top-15 (sparse side
    * EXACT via MaxScore's lossless pruning; dense side ANN), so the only
    * loss is dense-probe recall amplified by the greedy chain — measured
    * min per-query overlap 0.875 / 0.875 / 1.000 at sf0.001 / 0.01 /
    * 0.1 (BASELINE.md "sim_rag_batch_mmr served-chain floor (dated
    * pin)", 2026-08-16); floor ~0.125 under the worst measured point, the
    * sibling floors' policy.
    */
  val RagBatchMmrFloor = 0.75

  /** Production-shaped serving certificate: `sim_knn_ivf_sqrtn` rebuilds
    * the index at nlist = ⌈√N⌉ — the config the "nlist grows ~√N at
    * 100 TB" claim actually asserts — and probes at nprobe = ⌈3·nlist/8⌉
    * (scanned fraction 2·nprobe/nlist ≈ 0.72, at FINER cells than the
    * nlist=16 serving config). Measured recall vs brute-force top-3
    * (2026-08-14): 0.967 / 1.000 / 0.958 at sf0.001 (nlist=23) / sf0.01
    * (nlist=23) / sf0.1 (nlist=45); the 500k-vector frontier at nlist ∈
    * {64, 160, 256, 707} is in BASELINE.md "Production-nlist frontier on
    * the 500k-vector corpus". Floor ~0.1 under the worst measured point,
    * same policy as the sibling floors.
    */
  val SqrtNRecallFloor = 0.85

  /** Corpus-level recall floor certified by `sim_knn_pq` (PQ-ADC with
    * m=16 subspaces × 16 codes, shortlist 128, exact re-rank): measured
    * recall vs brute-force top-3 is 1.000 / 1.000 / 0.925 at sf0.001 /
    * 0.01 / 0.1 — stable run-to-run because codebooks, encode, and ADC
    * are all deterministic, so the floor sits 0.075 under the worst
    * measured point (raised 0.70 → 0.85 in round 8 alongside the IVF
    * floors: a deterministic pipeline doesn't need slack for variance,
    * only for SF-dependence, and all three SFs are measured).
    */
  val PqRecallFloor = 0.85

  /** Corpus-level recall floor certified by `sim_knn_ivfpq` (coarse IVF
    * pruning × PQ-ADC scoring, nprobe=6/nlist=16/assign=2, shortlist
    * 128, exact re-rank): measured 0.967 / 0.933 / 0.867 at sf0.001 /
    * 0.01 / 0.1 (BASELINE.md "ANN recall–latency frontier", 2026-08-14;
    * `sim_knn_ivfpq` enforces the floor every oracle run) — stable
    * because the whole pipeline is deterministic. IVF candidate pruning
    * dominates the loss (PQ-only recalls 0.925+ with the same shortlist),
    * which is exactly what dual assignment fixes: a boundary vector is
    * listed in both its nearest cells, so the compound recall now tracks
    * within ~0.03 of the uncompressed IVF tier instead of collapsing to
    * 0.59.
    */
  val IvfPqRecallFloor = 0.80

  /** Corpus-level recall floor for INDEX-MINED hard negatives
    * (`sim_hard_negatives`: hardNegativesIndexed probes the shared IVF
    * base at the serving nprobe with the duplicate-cluster filter INSIDE
    * the probe) against the exact brute mining. Measured (BASELINE.md
    * "hard-negative mining: brute vs IVF-indexed", 2026-08-15): 0.963 /
    * 0.895 / 0.882 at sf0.001 / 0.01 / 0.1 on the shared
    * nlist=16/nprobe=6 base — deterministic end-to-end, so the floor
    * sits ~0.08 under the worst measured point (the sibling floors'
    * policy). The production √N-nlist shape trades
    * deeper: nlist=142/nprobe=18 at ×10 mines at 2.0× the brute speed
    * scanning 25% of the corpus per anchor, recall 0.789 (same batch).
    */
  val HardNegRecallFloor = 0.80

  /** Top-15 overlap floor for the end-to-end RAG retrieval
    * (`sim_rag_retrieve`): both SERVED tiers (filtered IVF probe at
    * nprobe=8, filtered BM25 probe) fused with RRF must recover the
    * exactly-fused top-15. Measured (BASELINE.md "r11 RAG retrieval
    * overlap", 2026-08-15): 0.800 / 0.867 / 0.933 at sf0.001 / 0.01 / 0.1 — the
    * only loss is dense-tier ANN recall (the sparse tier is exact), RRF's
    * rank discounting dampens it, and the overlap IMPROVES with corpus
    * size as probed cells densify. Floor at the smallest corpus's
    * measured point; deterministic end-to-end.
    */
  val RagFusionRecallFloor = 0.80

  /** Oracle fragment: left-to-right double dot product of two list columns
    * over the first `dims` dimensions.
    */
  private def dotSql(a: String, b: String, dims: Int = 64) =
    s"list_sum(list_transform(range(1, ${dims + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  private def cosSql(a: String, b: String, dims: Int = 64) =
    s"round(${dotSql(a, b, dims)} / (sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)})), 7)"

  /** Oracle replay of an ANN recall certificate: the exact cosine top-3
    * of every query vector (`vec_id % 50 = 0`) among the candidate
    * vectors satisfying `candidates` (`TRUE` for the full corpus), with
    * each of `certs` pinned TRUE — the rows [[Parity.recallCertificate]]
    * emits over [[exactTop3]] or a per-query reference.
    */
  private[queries] def exactTop3Sql(candidates: String, certs: String*): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id, embedding FROM e WHERE $candidates),
       |s AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id, ${cosSql("qe", "embedding")} AS cos
       |  FROM q JOIN c ON vec_id <> qid),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos,
       |  ${certs.map(c => s"TRUE AS $c").mkString(", ")}
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Hand-unrolled MMR greedy rounds (λ=0.7) as step CTEs penᵗ/pkᵗ/selᵗ
    * over caller-defined `cand(query_id, doc_id, emb, rel)`,
    * `pair(query_id, i, j, sim)` and `sel0` CTEs — shared by the
    * `sim_rag_mmr` and `sim_rag_batch_mmr` oracles; every constant
    * forced ::DOUBLE so DuckDB's decimal literals can't diverge from the
    * JVM double arithmetic, every step MATERIALIZED so the t-fold
    * self-reference doesn't inline exponentially.
    */
  /** The batched hybrid-retrieval replay chain ending in
    * `f(query_id, doc_id, dense_rank, sparse_rank, rrf)` — per-query
    * brute dense over all anchors, per-bag BM25 over the indexed (%4<>3)
    * corpus via a (query_id, term) bag table, identical RRF arithmetic —
    * shared by the `sim_rag_batch` and `sim_rag_batch_mmr` oracles
    * (mirroring [[ragBatchFused]]'s exact side).
    */
  private lazy val ragBatchChainSql: String = {
    val bagRows = TextQueries.BmBatchBags.toSeq.sortBy(_._1)
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    val allTerms = TextQueries.BmBatchBags.values.flatten.toSeq.distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < 3),
       |dsc AS (
       |  SELECT q.query_id, e.vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |dr AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id)::BIGINT
       |      AS dense_rank
       |  FROM dsc QUALIFY dense_rank <= 50),
       |bagt AS (
       |  SELECT query_id::BIGINT AS query_id, term
       |  FROM (VALUES $bagRows) v(query_id, term)),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents WHERE doc_id % 4 <> 3),
       |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
       |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
       |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (
       |  SELECT doc_id, term, count(1) AS tf FROM tm
       |  WHERE term IN ($allTerms)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
       |c AS (
       |  SELECT bg.query_id, tf.doc_id, dl,
       |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
       |      * (tf::DOUBLE * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
       |      AS contrib
       |  FROM tf JOIN bagt bg USING (term) JOIN df USING (term)
       |  JOIN l USING (doc_id) CROSS JOIN st),
       |bs AS (
       |  SELECT query_id, doc_id,
       |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
       |  FROM c GROUP BY query_id, doc_id),
       |sr AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id)::BIGINT
       |      AS sparse_rank
       |  FROM bs QUALIFY sparse_rank <= 50),
       |f AS (
       |  SELECT coalesce(dr.query_id, sr.query_id) AS query_id,
       |    coalesce(dr.doc_id, sr.doc_id) AS doc_id, dense_rank, sparse_rank,
       |    round(coalesce(1.0 / (60.0 + dense_rank), 0.0)
       |        + coalesce(1.0 / (60.0 + sparse_rank), 0.0), 7) AS rrf
       |  FROM dr FULL OUTER JOIN sr USING (query_id, doc_id))""".stripMargin
  }

  private def mmrStepsSql(kSel: Int): String = (1 to kSel).map { t =>
    s"""pen$t AS MATERIALIZED (
       |  SELECT p.query_id, p.i AS doc_id, max(p.sim) AS pen
       |  FROM pair p JOIN sel${t - 1} s
       |    ON p.query_id = s.query_id AND p.j = s.doc_id
       |  GROUP BY p.query_id, p.i),
       |pk$t AS MATERIALIZED (
       |  SELECT query_id, $t::BIGINT AS step, doc_id, rel, pen, mmr
       |  FROM (
       |    SELECT c.query_id, c.doc_id, c.rel,
       |      coalesce(n.pen, 0.0::DOUBLE) AS pen,
       |      round(0.7::DOUBLE * c.rel
       |        - (1.0::DOUBLE - 0.7::DOUBLE) * coalesce(n.pen, 0.0::DOUBLE)
       |        + 0.000000001, 7) AS mmr
       |    FROM cand c
       |    ANTI JOIN sel${t - 1} e
       |      ON e.query_id = c.query_id AND e.doc_id = c.doc_id
       |    LEFT JOIN pen$t n
       |      ON n.query_id = c.query_id AND n.doc_id = c.doc_id) z
       |  QUALIFY row_number()
       |    OVER (PARTITION BY query_id ORDER BY mmr DESC, doc_id) = 1),
       |sel$t AS MATERIALIZED (SELECT query_id, doc_id FROM sel${t - 1}
       |  UNION ALL SELECT query_id, doc_id FROM pk$t)"""
  }.mkString(",\n")

  /** Oracle CTE chain replaying [[Similarity.kmeansAssign]] (k=8,
    * iters=2) over the embeddings table: v (double vectors), c0 (seed
    * centroids = 8 smallest ids), a1/c1/a2/c2 (two Lloyd rounds), af
    * (final assignment, with the rounded distance d). Shared by
    * `sim_kmeans_clusters` and every downstream query that consumes the
    * cluster assignment (`sim_semantic_sample`).
    */
  private def kmAssignSql(c: String) =
    s"""SELECT vec_id, cid, d FROM (
       |  SELECT vec_id, cid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM (
       |    SELECT v.vec_id, c.cid,
       |      round(sqrt(${dotSql("c.cvec", "c.cvec")}) * sqrt(${dotSql("c.cvec", "c.cvec")})
       |        - 2 * ${dotSql("v.ve", "c.cvec")}, 7) AS d
       |    FROM v CROSS JOIN $c c)) WHERE rn = 1""".stripMargin

  private def kmUpdateSql(a: String, prev: String) =
    s"""SELECT p.cid, coalesce(n.cvec, p.cvec) AS cvec
       |FROM $prev p LEFT JOIN (
       |  SELECT cid, list(m ORDER BY dim) AS cvec FROM (
       |    SELECT a.cid, r.dim AS dim,
       |      sum((v.ve[r.dim])::DECIMAL(28,14))::DOUBLE / count(1) AS m
       |    FROM $a a JOIN v USING (vec_id), range(1, 65) r(dim)
       |    GROUP BY a.cid, r.dim)
       |  GROUP BY cid) n USING (cid)""".stripMargin

  private[queries] def kmeansCtes: String = kmeansCtesK("8")

  /** [[kmeansCtes]] with the seed count as a SQL fragment — a literal for
    * the fixed serving config, or a scalar subquery (DuckDB allows
    * `LIMIT (SELECT …)`) for data-dependent k like the bounded-cluster
    * SemDeDup's ⌈N/50⌉.
    */
  private[queries] def kmeansCtesK(limitSql: String): String =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, ve AS cvec
       |  FROM (SELECT vec_id, ve FROM v ORDER BY vec_id LIMIT $limitSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmUpdateSql("a1", "c0")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmUpdateSql("a2", "c1")}),
       |af AS (${kmAssignSql("c2")})""".stripMargin

  /** The batched hybrid-retrieval chain shared by `sim_rag_batch` and
    * `sim_rag_batch_mmr`: N query anchors + term bags answered in ONE
    * pass per tier, fused per query with RRF, per-query top-15. Returns
    * (exact, served): the EXACT side (brute dense × one-shot BM25 — the
    * SQL-replayable oracle tier) localCheckpointed, and the SERVED side
    * (IVF batch probe off the shared dense base × batched MaxScore off
    * the shared inverted base, fused identically). Both frames carry
    * (query_id, doc_id, dense_rank, sparse_rank, rrf).
    */
  /** Both fused retrieval frames, memoized per (session, dir): TWO suite
    * queries consume the identical build (`sim_rag_batch` certifies the
    * fused ranking, `sim_rag_batch_mmr` diversifies it), and without the
    * memo each re-ran the full exact side (one brute pass + three
    * corpus-wide BM25 passes) AND the served side (IVF batch probe +
    * batched MaxScore) — the shared-frame discipline (guide §5). The
    * served frame is checkpointed for the same reason the exact one
    * always was: the parity consumer reads it twice.
    */
  private[graft] def ragBatchFused(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // symmetric under soft-reference clearing (r15 ADVICE): if EITHER
    // sibling entry was collected, ONE shared rebuild re-seeds both —
    // the old getOrCompute pair re-ran the entire exact tier (brute
    // top-k + three corpus BM25 passes) just to rebuild the served side.
    (SessionMemo.peek(s, s"rag_fused_exact:$d"),
        SessionMemo.peek(s, s"rag_fused_served:$d")) match {
      case (Some(ex), Some(sv)) => (ex, sv)
      case _ =>
        val (ex, sv) = ragBatchFusedBuild(s, d)
        SessionMemo.put(s, s"rag_fused_exact:$d", ex)
        SessionMemo.put(s, s"rag_fused_served:$d", sv)
        (ex, sv)
    }
  }

  private def ragBatchFusedBuild(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.functions.CrossHash
    import graft.operators.{Text, TextIndex}
    val e = emb(s, d)
    val corpus75 = Tables.load(s, d, "documents")
      .filter(col("doc_id") % 4 =!= 3)
    val anchors = e.filter(col("vec_id") < 3)
    val bags = TextQueries.BmBatchBags
    def fuse(dense: DataFrame, sparse: DataFrame): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id"))
      dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("dense_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("sparse_rank")), lit(0.0)), 7))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 15).drop("rk")
    }
    // the EXACT tier and the SERVED tier never read each other — they
    // share only frozen inputs (corpus, embeddings, the persisted bases)
    // — so they build on two threads at once (guide §2.6, Overlap.both):
    // the build's wall time is the slower tier, not the sum
    Overlap.both {
      // EXACT sides: all three anchors in one brute pass; one-shot BM25
      // per bag over the indexed (%4<>3) corpus, ranked per query
      val denseExact = Similarity.bruteForceTopK(
          anchors, e, "vec_id", "embedding", k = 50)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))
      val wS = Window.partitionBy("query_id")
        .orderBy(col("bm25").desc, col("id"))
      // all three bags in ONE corpus pass (Text.bm25Batch, r16) — the
      // per-bag scores are bit-identical to the per-bag Text.bm25 runs
      // this replaced (decimal contribution sums are order-free; df is
      // per-term), which is the formulation the oracle still replays
      val sparseExact = Text.bm25Batch(
          corpus75, "doc_id", CrossHash.tokens(col("text")), bags)
        .withColumn("sparse_rank", row_number().over(wS).cast("long"))
        .filter(col("sparse_rank") <= 50)
        .select(col("query_id"), col("id").as("doc_id"), col("sparse_rank"))
        .localCheckpoint(true)
      fuse(denseExact, sparseExact).localCheckpoint(true)
    } {
      // SERVED sides: both tiers probe their shared persisted indexes,
      // each in ONE batch pass
      val denseServed = Similarity.ivfTopKAgainstIndex(anchors,
          ensureIvfBase(s, d), "vec_id", "embedding", k = 50,
          nprobe = IvfFilteredNprobe)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))
      // the sparse tier rides the BATCHED MaxScore probe (the r11 #6
      // composition completed at the batch grain): lossless pruning with
      // per-bag essential sets over ONE shared bounds/θ pass, so the
      // exact-fusion oracle is unchanged — green proves the composition.
      // Forced engagement for the same reason as tx_bm25_batch_maxscore.
      val sparseServed = TextIndex.bm25MaxScoreBatchAgainstIndex(
          s, TextQueries.ensureTextBase(s, d), bags, kTop = 50,
          engageMinPostings = 0L)
        .select(col("query_id"), col("id").as("doc_id"),
          col("rank").as("sparse_rank"))
      fuse(denseServed, sparseServed).localCheckpoint(true)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-5 neighbors per query vector (cosine, broadcast queries).
    "sim_knn_brute" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(queriesOf(e), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval — reciprocal-rank fusion (Cormack et al., SIGIR
    // '09) of the DENSE ranking (brute cosine top-50 for the anchor
    // vector, the ANN tier's exact baseline) and the SPARSE ranking
    // (BM25 top-50 for the fixed term bag, the inverted-index tier's
    // scoring) over the shared doc_id == vec_id id space — the RAG
    // retrieval shape neither tier answers alone. Both rankings are
    // top-k-bounded BEFORE fusion (TakeOrdered + a 50-row window, never
    // a corpus-wide global window), the fusion itself is a full-outer
    // join of two 50-row frames, and 1/(60+rank) is exact in binary so
    // the round-7 scores replay bit-for-bit. A doc ranked by both tiers
    // outranks single-tier docs — the oracle replays both rankings and
    // the fusion arithmetic end-to-end.
    "sim_rrf_fusion" -> ((s, d) => {
      import graft.functions.CrossHash
      import graft.operators.Text
      val e = emb(s, d)
      val dense = Similarity.bruteForceTopK(
          e.filter(col("vec_id") === 0L), e, "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
      val docs = Tables.load(s, d, "documents")
      val sparseTop = Text.bm25(docs, "doc_id",
          CrossHash.tokens(col("text")), TextQueries.BmQueryTerms)
        .orderBy(col("bm25").desc, col("id")).limit(50)
        .localCheckpoint(true) // 50 rows — the window below ranks these only
      val sparse = sparseTop
        .withColumn("sparse_rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("id"))).cast("long"))
        .select(col("id").as("doc_id"), col("sparse_rank"))
      dense.join(sparse, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("dense_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("sparse_rank")), lit(0.0)), 7))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(15)
        .select("doc_id", "dense_rank", "sparse_rank", "rrf")
    }),

    // END-TO-END filtered hybrid retrieval — the actual RAG serving
    // shape, composing three oracle-proven pieces as ONE query:
    // metadata-filtered dense (id % 3 = 0, the filtered-ANN contract of
    // sim_knn_ivf_filtered), metadata-filtered sparse (same candidates,
    // Lucene stats semantics of tx_bm25_filtered), reciprocal-rank
    // fusion (sim_rrf_fusion's arithmetic). Emitted rows are the
    // EXACTLY-fused top-15 (brute filtered dense × one-shot filtered
    // BM25 — fully SQL-replayable); the SERVED composition — IVF probe
    // off the shared dense index + BM25 probe off the shared inverted
    // index, fused identically — contributes `rag_recall_ok`, the
    // top-15 overlap certificate ≥ RagFusionRecallFloor, pinned TRUE by
    // the oracle.
    "sim_rag_retrieve" -> ((s, d) => {
      import graft.operators.{Text, TextIndex}
      import graft.functions.CrossHash
      val e = emb(s, d)
      val docsAll = Tables.load(s, d, "documents")
      val anchor = e.filter(col("vec_id") === 0L)
      def fuse(dense: DataFrame, sparse: DataFrame): DataFrame =
        dense.join(sparse, Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60.0) + col("dense_rank")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60.0) + col("sparse_rank")), lit(0.0)), 7))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(15)
      def rankSparse(top: DataFrame): DataFrame = top
        .withColumn("sparse_rank", row_number()
          .over(Window.orderBy(col("bm25").desc, col("id"))).cast("long"))
        .select(col("id").as("doc_id"), col("sparse_rank"))
      // the exact side: brute cosine over the FILTERED corpus; one-shot
      // BM25 over the indexed corpus with filtered CANDIDATES
      val denseExact = Similarity.bruteForceTopK(
          anchor, e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
      val sparseExact = rankSparse(
        Text.bm25(docsAll.filter(col("doc_id") % 4 =!= 3), "doc_id",
            CrossHash.tokens(col("text")), TextQueries.BmQueryTerms)
          .filter(col("id") % 3 === 0)
          .orderBy(col("bm25").desc, col("id")).limit(50)
          .localCheckpoint(true))
      val exact = fuse(denseExact, sparseExact).localCheckpoint(true)
      // the served side: both tiers probe their persisted indexes
      val denseServed = Similarity.ivfTopKAgainstIndex(anchor,
          ensureIvfBase(s, d), "vec_id", "embedding", k = 50,
          nprobe = IvfFilteredNprobe,
          candidateFilter = col("neighbor_id") % 3 === 0)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
      // the sparse tier rides the MaxScore FILTERED probe (r11 verdict
      // #6): lossless pruning composed with the candidate filter, so the
      // exact-fusion oracle is unchanged — green proves the composition.
      // Forced engagement here for the same reason as tx_bm25_maxscore
      // (the adaptive default would rightly decline at bench scale).
      val sparseServed = rankSparse(
        TextIndex.bm25MaxScoreFilteredAgainstIndex(
            s, TextQueries.ensureTextBase(s, d), TextQueries.BmQueryTerms,
            docsAll.filter(col("doc_id") % 3 === 0).select("doc_id"),
            kTop = 50, engageMinPostings = 0L)._1
          .localCheckpoint(true))
      val served = Parity.hits(fuse(denseServed, sparseServed), "doc_id")
      exact.join(served, Seq("doc_id"), "left")
        .withColumn("rag_recall_ok", Parity.recallAtLeast(RagFusionRecallFloor))
        .select("doc_id", "dense_rank", "sparse_rank", "rrf", "rag_recall_ok")
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // BATCHED hybrid retrieval — the production serving fan-in for RAG:
    // N user queries (each an embedding anchor + a term bag) answered in
    // ONE pass per tier — one brute/IVF dense pass over all anchors, one
    // batched BM25 probe over the bag union (the amortization
    // bm25BatchAgainstIndex exists for), per-query RRF fusion. Emitted
    // rows are the EXACTLY-fused per-query top-15 (brute dense × one-shot
    // BM25 per bag — fully SQL-replayable); the SERVED composition (IVF
    // batch probe off the shared dense base + batched BM25 off the shared
    // inverted base, fused identically) contributes `rag_recall_ok`: the
    // MINIMUM per-query top-15 overlap must clear RagFusionRecallFloor,
    // so one starved query in the batch fails the certificate even if the
    // batch average looks fine.
    "sim_rag_batch" -> ((s, d) => {
      val (exact, servedFused) = ragBatchFused(s, d)
      val served = Parity.hits(servedFused, "query_id", "doc_id")
      val perQ = Window.partitionBy("query_id")
      val all = Window.partitionBy(lit(1))
      exact.join(served, Seq("query_id", "doc_id"), "left")
        .withColumn("q_overlap",
          sum(coalesce(col("hit"), lit(0))).over(perQ).cast("double")
            / count(lit(1)).over(perQ))
        .withColumn("rag_recall_ok",
          min(col("q_overlap")).over(all) >= RagFusionRecallFloor)
        .select("query_id", "doc_id", "dense_rank", "sparse_rank", "rrf",
          "rag_recall_ok")
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // The FULL batched serving chain — batched MaxScore sparse + IVF
    // dense probes → per-query RRF fusion → MMR diversification — as ONE
    // oracle-gated query (r12 verdict #6): the per-query fused top-15
    // becomes the MMR candidate set (rel = the fused rrf score, emb
    // joined from the embeddings table — candidates without an embedding
    // drop on BOTH sides, consistently), λ=0.7, 8 picks. Emitted rows
    // replay the EXACT chain end-to-end in the oracle; the SERVED
    // chain's selections contribute `mmr_recall_ok`, the minimum
    // per-query selected-set overlap vs the exact selection, floored at
    // RagBatchMmrFloor.
    "sim_rag_batch_mmr" -> ((s, d) => {
      val (exactFused, servedFused) = ragBatchFused(s, d)
      val c = emb(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
      def toCand(f: DataFrame): DataFrame = f
        .select(col("query_id"), col("doc_id"), col("rrf").as("rel"))
        .join(c, Seq("doc_id"))
        .select("query_id", "doc_id", "emb", "rel")
      val exact = Similarity.mmrSelect(toCand(exactFused), kSel = 8, lambda = 0.7)
        .localCheckpoint(true)
      val served = Parity.hits(
        Similarity.mmrSelect(toCand(servedFused), kSel = 8, lambda = 0.7),
        "query_id", "doc_id")
      val perQ = Window.partitionBy("query_id")
      val all = Window.partitionBy(lit(1))
      exact.join(served, Seq("query_id", "doc_id"), "left")
        .withColumn("q_overlap",
          sum(coalesce(col("hit"), lit(0))).over(perQ).cast("double")
            / count(lit(1)).over(perQ))
        .withColumn("mmr_recall_ok",
          min(col("q_overlap")).over(all) >= RagBatchMmrFloor)
        .select("query_id", "step", "doc_id", "rel", "pen", "mmr",
          "mmr_recall_ok")
        .orderBy("query_id", "step")
    }),

    // MMR diversification (Carbonell & Goldstein 1998) — the re-rank pass
    // between retrieval and the context window: per query, greedily pick
    // 8 of the top-20 candidates maximizing λ·rel − (1−λ)·max-sim-to-
    // selected (λ=0.7), so near-duplicate passages don't crowd out
    // coverage. Candidates here are brute top-20 (the oracle-replayable
    // tier — at scale the same operator consumes an IVF probe's
    // candidates); every pick of every round is replayed exactly by the
    // oracle's hand-unrolled step CTEs.
    "sim_rag_mmr" -> ((s, d) => {
      import graft.functions.CrossHash.{dotD, l2Norm}
      val e = emb(s, d)
      val q = queriesOf(e)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
      def withRel(df: DataFrame): DataFrame = df
        .withColumn("rel", round(dotD(col("qe"), col("emb"))
          / (l2Norm(col("qe")) * l2Norm(col("emb"))), 7))
      val wN = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("doc_id"))
      val cand = withRel(broadcast(q).join(c, col("query_id") =!= col("doc_id")))
        .withColumn("__rn", row_number().over(wN)).filter(col("__rn") <= 20)
        .select("query_id", "doc_id", "emb", "rel")
      val exact = Similarity.mmrSelect(cand, kSel = 8, lambda = 0.7)
        .localCheckpoint(true)
      // the SERVED tier: the same MMR pass over candidates from the
      // shared persisted IVF base (probe depth 20) — the corpus-scale
      // candidate generator the operator contract names. mmr_recall_ok
      // certifies the MINIMUM per-query selected-set overlap vs the
      // exact-candidate selection.
      val servedCand = withRel(
        Similarity.ivfTopKAgainstIndex(e.filter(col("vec_id") % 50 === 0),
            ensureIvfBase(s, d), "vec_id", "embedding", k = 20,
            nprobe = MmrNprobe)
          .select(col("query_id"), col("neighbor_id").as("doc_id"))
          .join(c, "doc_id").join(broadcast(q), "query_id"))
        .select("query_id", "doc_id", "emb", "rel")
      val served = Parity.hits(
        Similarity.mmrSelect(servedCand, kSel = 8, lambda = 0.7), "query_id", "doc_id")
      val perQ = Window.partitionBy("query_id")
      val all = Window.partitionBy(lit(1))
      exact.join(served, Seq("query_id", "doc_id"), "left")
        .withColumn("q_overlap",
          sum(coalesce(col("hit"), lit(0))).over(perQ).cast("double")
            / count(lit(1)).over(perQ))
        .withColumn("mmr_recall_ok",
          min(col("q_overlap")).over(all) >= MmrRecallFloor)
        .select("query_id", "step", "doc_id", "rel", "pen", "mmr",
          "mmr_recall_ok")
        .orderBy("query_id", "step")
    }),

    // Hyperplane-LSH ANN: 4 tables × 4 planes, candidates from bucket
    // collisions, exact cosine re-rank, top-3.
    "sim_knn_lsh" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.lshTopK(queriesOf(e), e, "vec_id", "embedding",
          k = 3, tables = 4, planesPerTable = 4, dims = 64)
        .orderBy("query_id", "rank")
    }),

    // Per-label centroid statistics — the embedding-analysis aggregate
    // (class centroids for drift checks / seeding quantizers): per-label
    // per-dimension mean, computed as an exact DECIMAL sum over the
    // exploded (label, dim, value) frame divided by the count, so the
    // result is bit-deterministic under shuffle ordering and the oracle
    // replays it exactly. One explode + one hash aggregation; at scale
    // this is the standard narrow-shuffle pooling shape.
    "sim_label_centroids" -> ((s, d) =>
      emb(s, d)
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(
          count(lit(1)).as("n"),
          round((sum(col("x").cast("decimal(28,14)")).cast("double") / count(lit(1)))
            + 1e-9, 6).as("mean"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("n"), col("mean"))
        .orderBy("label", "dim")),

    // Distributed k-means clustering as a first-class curation operator
    // (the SemDeDup/topic-bucketing step: "group the corpus into k
    // semantic clusters, then sample/prune per cluster"). Unlike the IVF
    // quantizer — which is certified by probe recall because its decimal
    // AVG has no bit-exact SQL twin — kmeansAssign's arithmetic is chosen
    // to be replayable (exact-decimal SUM / double divide, distances
    // rounded to 7 decimals before argmin), so the oracle re-runs BOTH
    // Lloyd rounds and the final assignment in SQL and the compare is
    // exact assignment parity, not a recall floor.
    "sim_kmeans_clusters" -> ((s, d) => {
      val a = kmeansAssignFrame(s, d)
      val w = Window.partitionBy("cid")
      a.withColumn("cluster_n", count(lit(1)).over(w))
        .select(col("vec_id"), col("cid"), col("dist"), col("cluster_n"))
        .orderBy("vec_id")
    }),

    // SemDeDup proper (Abbas et al. 2023): cluster the corpus with
    // k-means, then prune near-duplicates WITHIN each cluster — the
    // pairwise pass is O(Σ n_c²), bounded because production grows k
    // with the corpus so cluster sizes stay ~constant (the paper's own
    // scaling argument; here k=8 over the suite corpus). A vector is
    // dropped iff a smaller-id vector in ITS cluster has cosine ≥ 0.5
    // (deterministic keep-smallest rule, one shuffle on cid). The
    // whole chain — both Lloyd rounds, the within-cluster pair set,
    // the anti-join — replays in the oracle, so this is exact-parity
    // verified, unlike blocking schemes whose miss rate needs a
    // certificate.
    "sim_semdedup_keep" -> ((s, d) =>
      semDedupPrune(
        kmeansAssignFrame(s, d).select(col("vec_id"), col("cid")), emb(s, d))),

    // The PRODUCTION shape of the same prune: k grows with the corpus so
    // cluster sizes stay ~bounded (target 50 here ⇒ k = ⌈N/50⌉) and the
    // within-cluster pair mass is LINEAR in N — the scaling argument the
    // fixed-k variant's exponent 1.32 (32-core box, 2026-08-14,
    // BASELINE.md "Clustering-tier decade") makes concrete. Data-dependent
    // k is still exactly replayable: the oracle seeds its centroid CTE with
    // LIMIT (SELECT ⌈count/50⌉).
    "sim_semdedup_bounded" -> ((s, d) => {
      val e = emb(s, d)
      val k = math.ceil(e.count() / 50.0).toInt
      semDedupPrune(
        Similarity.kmeansAssign(e, "vec_id", "embedding", k = k, iters = 2)
          .select(col("vec_id"), col("cid")), e)
    }),

    // Clustering feeding curation: the k-means assignment becomes the
    // GROUP of a √-balanced sample — "rebalance the corpus by semantic
    // cluster" instead of by a metadata column (the d_lang_balance rule
    // with a data-derived group). Dominant clusters keep √(n_min/n)
    // of their documents, the smallest keeps everything; membership is
    // the salted-hash rule, so the oracle replays clustering AND
    // sampling end-to-end.
    "sim_semantic_sample" -> ((s, d) =>
      graft.operators.Sampling.sqrtBalancedSample(
          kmeansAssignFrame(s, d), col("cid"), col("vec_id").cast("string"),
          salt = "semsample_v1")
        .select("vec_id", "cid", "n_group", "rate_permille")
        .orderBy("vec_id")),

    // IVF ANN with an in-query recall certificate (the oracle-verified
    // approx-tier pattern, same as q_approx_distinct): iterative k-means
    // has no tractable DuckDB twin, so the emitted ROWS are the exact
    // brute-force top-3 (which the oracle recomputes in SQL) and the IVF
    // path contributes `ivf_recall_ok` — corpus-level recall of the IVF
    // top-3 against the exact top-3, asserted ≥ IvfRecallFloor and pinned
    // TRUE by the oracle. A quantizer/probe regression that drops recall
    // now hash-mismatches like any other wrong answer. The recall window
    // is global but the frame is bounded (|queries| × k rows).
    // Two-stage ANN: 16-dim coarse shortlist (32 candidates) → exact
    // 64-dim re-rank to top-3. Deterministic end-to-end, so the oracle
    // replays BOTH stages exactly — the only ANN variant with a full SQL
    // twin rather than a recall certificate.
    "sim_knn_2stage" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.twoStageTopK(queriesOf(e), e, "vec_id", "embedding",
          k = 3, prefixDims = 16, shortlist = 32)
        .orderBy("query_id", "rank")
    }),

    // Int8 scalar quantization with an in-row reconstruction-error
    // certificate: the oracle recomputes scale/q/error with the same
    // floor(x+0.5) arithmetic, so a quantizer regression (wrong scale,
    // wrong clamp, lossy beyond scale/2) hash-mismatches. Checksums
    // (q_sum, q_l1) pin the full quantized vector without emitting an
    // array column (array outputs break the driver's row-sort compare).
    // Johnson–Lindenstrauss ±1 random projection, 64 → 16 dims: the
    // "reduce then index" step that cuts downstream ANN/clustering dot
    // products 4×. Sign matrix derived from h60 (the oracle recomputes
    // every entry), sums fold left-to-right — fully deterministic, zero
    // shuffle; distance-distortion behavior is pinned in
    // DedupSimilaritySpec over the planted near-dup pairs.
    "sim_rp_project" -> ((s, d) =>
      Similarity.randomProject(emb(s, d), "vec_id", "embedding",
          dIn = 64, dOut = 16, salt = "rp_v1")
        .orderBy("vec_id", "j")),

    "sim_quantize_i8" -> ((s, d) =>
      Similarity.quantizeI8(emb(s, d), "vec_id", "embedding")
        .select(
          col("vec_id"),
          round(col("scale") + 1e-9, 6).as("scale_r"),
          aggregate(col("q"), lit(0L), (a, v) => a + v).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, v) => a + abs(v)).as("q_l1"),
          (aggregate(
              zip_with(col("emb"), col("q"), (v, qi) => abs(v - qi * col("scale"))),
              lit(0.0), (a, x) => greatest(a, x))
            <= col("scale") * 0.5000001).as("err_ok"))
        .orderBy("vec_id")),

    // Maximum-inner-product top-5 via the norm-augmentation reduction to
    // cosine; the oracle replays the same augmented ranking, so a wrong
    // reduction (bad M², norm on the wrong side) hash-mismatches.
    "sim_mips" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.mipsTopK(queriesOf(e), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    "sim_knn_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfTopK(queriesOf(e), e, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = IvfNprobe, assign = IvfAssign)
      Parity.recallCertificate(exactTop3(s, d), ivf, "ivf_recall_ok", IvfRecallFloor)()
    }),

    // IVF index MAINTENANCE: the index is built from the vec_id%10!=0
    // side only (centroids trained on that 90% — the frozen-quantizer
    // production split), then the "day's" vectors append under the
    // existing centroids via appendToIvfIndex, and the probe runs against
    // the grown index. Certificates: corpus-level recall vs the full
    // brute-force top-3 (the appended vectors are live candidates —
    // a dropped append tanks recall below the floor), plus the reopened
    // lists holding EVERY corpus vector exactly once. Byte-parity of
    // append-time vs build-time listing under the same centroids is
    // pinned in DedupSimilaritySpec.
    "sim_knn_ivf_ingest" -> ((s, d) => {
      val e = emb(s, d)
      val prefix = s"ivf_ingest_${ScratchKeys.forPath(d)}"
      Similarity.Ivf.drop(s, prefix)
      Similarity.writeIvfIndex(e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", prefix, buckets = 8, nlist = 16, iters = 3,
        assign = IvfAssign)
      Similarity.appendToIvfIndex(e.filter(col("vec_id") % 10 === 0),
        prefix, "vec_id", "embedding")
      val grown = Similarity.ivfTopKAgainstIndex(queriesOf(e), prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfNprobe)
      Parity.recallCertificate(exactTop3(s, d), grown, "ivf_recall_ok", IvfRecallFloor)(
        "index_ok" -> indexComplete(s, prefix, "_lists", e.count()))
    }),

    // sim_knn_ivf through a PERSISTED index (the d_incremental_indexed
    // twin for the similarity tier): centroids + bucketed inverted lists
    // written as catalog tables via writeIvfIndex, then probed from the
    // reopened tables — no k-means at probe time, zero Exchange on the
    // lists scan (pinned in DedupSimilaritySpec). The deterministic
    // quantizer makes the probe EXACTLY equal inline ivfTopK, so the
    // identical recall oracle hash-verifies the whole write → reopen →
    // probe chain end-to-end. Probes the shared serving-config BASE
    // index (ensureIvfBase — built once per suite, not per query).
    "sim_knn_ivf_indexed" -> ((s, d) => {
      val ivf = Similarity.ivfTopKAgainstIndex(queriesOf(emb(s, d)), ensureIvfBase(s, d),
          "vec_id", "embedding", k = 3, nprobe = IvfNprobe)
      Parity.recallCertificate(exactTop3(s, d), ivf, "ivf_recall_ok", IvfRecallFloor)()
    }),

    // Retrain-and-cutover (blue/green rebuild): the index first serves a
    // STALE generation (60% of the corpus, coarse nlist=8), then
    // Ivf.rebuild retrains on the full corpus at the serving config
    // and flips the <prefix>_current pointer — one small-table overwrite,
    // no serving gap. The post-cutover probe must certify serving-grade
    // recall against the FULL corpus (impossible through the stale
    // generation: 40% of brute-force neighbors don't exist in it), and
    // the certificate additionally pins gen=1 + the retired generation's
    // tables dropped. Emitted rows are brute-force top-3 over the full
    // corpus — the same oracle as sim_knn_ivf_indexed.
    "sim_knn_ivf_rebuild" -> ((s, d) => {
      val e = emb(s, d)
      val prefix = s"ivf_rb_${ScratchKeys.forPath(d)}"
      Similarity.Ivf.drop(s, prefix)
      Similarity.writeIvfIndex(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", prefix, buckets = 8, nlist = 8, iters = 2)
      val gen = Similarity.Ivf.rebuild(s, prefix)(Similarity.writeIvfIndex(e, "vec_id",
        "embedding", _, buckets = 8, nlist = 16, iters = 3, assign = IvfAssign))
      val retired = !s.catalog.tableExists(s"${prefix}_lists")
      val ivf = Similarity.ivfTopKAgainstIndex(queriesOf(e), prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfNprobe)
      Parity.recallCertificate(exactTop3(s, d), ivf, "rebuild_ok", IvfRecallFloor,
        gen == 1L && retired)()
    }),

    // The >16-nlist serving certificate: rebuild the serving nlist=16
    // index at the production shape nlist = ⌈√N⌉ (finer cells, same
    // ~0.72 scanned fraction via nprobe = ⌈3·nlist/8⌉) and certify
    // serving recall through the pointer-resolved rebuilt generation —
    // the round-8 verdict's "recall floors survive a production-shaped
    // nlist" gap, closed as an every-round oracle row rather than a
    // one-time measurement.
    "sim_knn_ivf_sqrtn" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val nlist = math.ceil(math.sqrt(n.toDouble)).toInt
      val nprobe = math.ceil(nlist * 3.0 / 8.0).toInt
      val prefix = s"ivf_sqrtn_${ScratchKeys.forPath(d)}"
      Similarity.Ivf.drop(s, prefix)
      // the serving nlist=16 index being replaced arrives as a FORK of
      // the shared base (snapshot, no retrain) — the staging-copy
      // workflow, and the rebuild below must still retrain + cut over
      // from it
      Similarity.Ivf.fork(s, ensureIvfBase(s, d), prefix)
      val gen = Similarity.Ivf.rebuild(s, prefix)(Similarity.writeIvfIndex(e, "vec_id",
        "embedding", _, buckets = 8, nlist = nlist, iters = 3, assign = IvfAssign))
      val ivf = Similarity.ivfTopKAgainstIndex(queriesOf(e), prefix, "vec_id", "embedding",
          k = 3, nprobe = nprobe)
      Parity.recallCertificate(exactTop3(s, d), ivf, "sqrtn_ok", SqrtNRecallFloor,
        gen == 1L)()
    }),

    // Blue/green rebuild through the FLAGSHIP tier: the IVF-PQ index
    // retrains BOTH quantizer tiers (coarse centroids + the 16 joint PQ
    // codebooks) and re-codes the whole corpus in the staged generation,
    // then flips the pointer — the quadruple-table cutover (codes, vecs,
    // cents, books) that a real vector store performs on quantizer drift.
    // Stale generation = 60% corpus at nlist=8/assign=1; post-cutover
    // probe must certify serving-grade recall vs FULL-corpus brute force
    // (impossible through the stale generation) + gen/retired pins.
    "sim_knn_ivfpq_rebuild" -> ((s, d) => {
      val e = emb(s, d)
      val prefix = s"ivfpq_rb_${ScratchKeys.forPath(d)}"
      Similarity.IvfPq.drop(s, prefix)
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", prefix,
        buckets = 8, nlist = 8, nlistIters = 2, m = 16, ks = 16, iters = 2)
      val gen = Similarity.IvfPq.rebuild(s, prefix)(Similarity.writeIvfPqIndex(e, "vec_id",
        "embedding", _, buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
        assign = IvfAssign))
      val retired = !s.catalog.tableExists(s"${prefix}_codes")
      val ann = Similarity.ivfPqTopKAgainstIndex(queriesOf(e), prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfNprobe, shortlist = 128)
      Parity.recallCertificate(exactTop3(s, d), ann, "rebuild_ok", IvfPqRecallFloor,
        gen == 1L && retired)()
    }),

    // FILTERED vector search — the serving feature real stores need
    // (top-k among vectors satisfying a metadata predicate): the
    // predicate PRE-filters the lists scan, so ineligible vectors never
    // become candidates and the top-k is taken among eligibles only
    // (this modulo predicate evaluates codegen'd on the scan output
    // before the probe join; a sargable one additionally pushes into
    // the parquet read — spec-pinned). Post-filtering a truncated
    // top-k would lose eligible neighbors — this query's oracle (brute
    // force over the FILTERED corpus) catches exactly that bug: a
    // post-filter implementation returns fewer/different rows and
    // hash-mismatches. Probe budget scales with selectivity (nprobe
    // 6→8, see IvfFilteredNprobe). Emitted rows are the exact filtered
    // brute-force top-3; the probe contributes the recall certificate.
    "sim_knn_ivf_filtered" -> ((s, d) => {
      val e = emb(s, d)
      val q = queriesOf(e)
      val prefix = ensureIvfBase(s, d) // read-only probe of the shared base
      val ivf = Similarity.ivfTopKAgainstIndex(q, prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfFilteredNprobe,
          candidateFilter = col("neighbor_id") % 3 === 0)
      val brute = Similarity.bruteForceTopK(
        q, e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", k = 3)
      Parity.recallCertificate(brute, ivf, "filtered_recall_ok", IvfFilteredRecallFloor)()
    }),

    // Product-quantization ANN (ADC): corpus compressed to 16 codebook
    // codes per vector (8 packed bytes — 32× under float32), the wide
    // scan scores codes with table lookups (never touching the full
    // arrays), exact re-rank on a 128-candidate shortlist. Same
    // recall-certificate pattern as sim_knn_ivf — the iterative codebook
    // training has no tractable SQL twin, so the emitted rows are the
    // exact brute-force top-3 and the PQ path contributes `pq_recall_ok`
    // (corpus-level recall ≥ PqRecallFloor, pinned TRUE by the oracle; a
    // codebook/encode/ADC regression that drops recall hash-mismatches).
    // Measured recall: 1.000 / 1.000 / 0.925 at sf0.001 / 0.01 / 0.1.
    "sim_knn_pq" -> ((s, d) => {
      val e = emb(s, d)
      val pq = Similarity.pqTopK(queriesOf(e), e, "vec_id", "embedding",
          k = 3, m = 16, ks = 16, shortlist = 128, iters = 2)
      Parity.recallCertificate(exactTop3(s, d), pq, "pq_recall_ok", PqRecallFloor)()
    }),

    // IVF-PQ index maintenance: build over 90% of the corpus, append the
    // held-out 10% under the FROZEN coarse quantizer and codebooks
    // (assignment and encode are deterministic given the stored
    // quantizers), probe the grown index. Certificates: compound recall
    // vs full brute-force top-3 (dropped appends tank recall — appended
    // vectors are live candidates), plus the reopened codes table holding
    // every corpus vector exactly once. Byte-parity of append-time vs
    // build-time coding is pinned in DedupSimilaritySpec.
    "sim_knn_ivfpq_ingest" -> ((s, d) => {
      val e = emb(s, d)
      val prefix = s"ivfpq_ingest_${ScratchKeys.forPath(d)}"
      // the vacuum advances a generation — scrub pointer + generations too
      Similarity.IvfPq.drop(s, prefix)
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", prefix,
        buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
        assign = IvfAssign)
      Similarity.appendToIvfPqIndex(e.filter(col("vec_id") % 10 === 0),
        prefix, "vec_id", "embedding")
      // vacuum after the append — the production maintenance order (appends
      // fragment, compaction rewrites one file per bucket through the
      // catalog bucket spec); the probe below certifying recall over the
      // COMPACTED index proves the cycle is semantics-preserving under the
      // same oracle that gates the uncompacted path
      Similarity.IvfPq.compact(s, prefix)
      val grown = Similarity.ivfPqTopKAgainstIndex(queriesOf(e), prefix, "vec_id",
          "embedding", k = 3, nprobe = IvfNprobe, shortlist = 128)
      Parity.recallCertificate(exactTop3(s, d), grown, "ivfpq_recall_ok", IvfPqRecallFloor)(
        "index_ok" -> indexComplete(s, prefix, "_codes", e.count()))
    }),

    // Index take-down (IVF): every 7th vector is deleted from the
    // persisted index — an anti-join rewrite of the bucketed lists
    // through the compaction machinery — and the probe afterwards must
    // behave as if they were never indexed. The emitted rows are the
    // brute-force top-3 over the SURVIVING corpus (SQL-expressible, so
    // the oracle recomputes them exactly); the probe contributes the
    // recall certificate — a leftover list row would surface a deleted
    // vector, miss against the survivors-only brute set, and tank the
    // certified recall. The completeness certificate pins the reopened
    // lists to exactly assign × survivors rows.
    "sim_knn_ivf_delete" -> ((s, d) => {
      val e = emb(s, d)
      val q = queriesOf(e)
      val base = ensureIvfBase(s, d)
      val prefix = s"ivf_del_${ScratchKeys.forPath(d)}"
      // the survivors reference never reads the fork — built (or taken
      // from the memo) on a second thread while the snapshot + deletion
      // run (guide §2.6, Overlap.both)
      val ((brute, sN, eN), _) = Overlap.both(survivorsTop3(s, d)) {
        // the take-down is trialed on a FORK of the serving base (snapshot,
        // no retrain) — copy-on-write: index_ok additionally pins that the
        // base still lists the FULL corpus after the fork's deletion
        Similarity.Ivf.fork(s, base, prefix)
        Similarity.deleteFromIvfIndex(s, prefix,
          e.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("id")))
      }
      val ivf = Similarity.ivfTopKAgainstIndex(q, prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfNprobe)
      // the deletion flipped a generation on the fork (resolved inside)
      val complete = indexComplete(s, prefix, "_lists", sN) &&
        s.table(s"${base}_lists").count() == IvfAssign * eN
      Parity.recallCertificate(brute, ivf, "ivf_recall_ok", IvfRecallFloor)(
        "index_ok" -> complete)
    }),

    // Index take-down through the flagship IVF-PQ index: every 7th vector
    // scrubbed from BOTH the bucketed codes and the re-rank vectors table
    // (a leftover in either would resurface a ghost — in the ADC scan or
    // in the shortlist re-rank). Same certificate shape as
    // sim_knn_ivf_delete: brute-force-over-survivors rows, post-deletion
    // recall floor, exactly-assign×survivors completeness.
    "sim_knn_ivfpq_delete" -> ((s, d) => {
      val e = emb(s, d)
      val q = queriesOf(e)
      val base = ensureIvfPqBase(s, d)
      val prefix = s"ivfpq_del_${ScratchKeys.forPath(d)}"
      // the survivors reference never reads the fork — built (or taken
      // from the memo) on a second thread while the snapshot + deletion
      // run (guide §2.6, Overlap.both)
      val ((brute, sN, eN), _) = Overlap.both(survivorsTop3(s, d)) {
        // fork-then-delete (see sim_knn_ivf_delete): the flagship index's
        // take-down trials on a snapshot; index_ok additionally pins the
        // base's codes AND re-rank vectors untouched by the fork's scrub
        Similarity.IvfPq.fork(s, base, prefix)
        Similarity.deleteFromIvfPqIndex(s, prefix,
          e.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("id")))
      }
      val ann = Similarity.ivfPqTopKAgainstIndex(q, prefix, "vec_id", "embedding",
          k = 3, nprobe = IvfNprobe, shortlist = 128)
      // the deletion flipped a generation on the fork — resolve
      val atp = graft.sources.Sinks.activeTablePrefix(s, prefix)
      val complete = indexComplete(s, prefix, "_codes", sN) &&
        s.table(s"${atp}_vecs").count() == sN &&
        s.table(s"${base}_codes").count() == IvfAssign * eN &&
        s.table(s"${base}_vecs").count() == eN
      Parity.recallCertificate(brute, ann, "ivfpq_recall_ok", IvfPqRecallFloor)(
        "index_ok" -> complete)
    }),

    // Persisted IVF-PQ index (FAISS `IVF16,PQ16` shape, by_residual=false):
    // coarse cells prune WHICH lists a query scans (nprobe/nlist), PQ codes
    // shrink WHAT each scanned candidate costs (~32× narrower than float
    // arrays), exact re-rank on the 128-candidate shortlist restores
    // ranking quality. Both compressions stack in one probe against
    // catalog tables — no k-means, no codebook training, zero Exchange on
    // the bucketed codes scan at probe time (spec-pinned). Same
    // recall-certificate pattern as the other ANN paths: emitted rows are
    // brute-force top-3; the IVF-PQ probe contributes `ivfpq_recall_ok`.
    "sim_knn_ivfpq" -> ((s, d) => {
      // read-only probe of the shared base
      val ann = Similarity.ivfPqTopKAgainstIndex(queriesOf(emb(s, d)), ensureIvfPqBase(s, d),
          "vec_id", "embedding", k = 3, nprobe = IvfNprobe, shortlist = 128)
      Parity.recallCertificate(exactTop3(s, d), ann, "ivfpq_recall_ok", IvfPqRecallFloor)()
    })
  )

  val oracles: Map[String, String] = Map(

    "sim_mips" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |m AS (SELECT max(${dotSql("embedding", "embedding")}) AS m2 FROM e),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id,
         |    ${dotSql("qe", "embedding")} AS dot,
         |    round(${dotSql("qe", "embedding")}
         |      / (sqrt(${dotSql("qe", "qe")}) * sqrt(m2)), 7) AS augcos
         |  FROM q JOIN e ON vec_id <> qid, m),
         |r AS (
         |  SELECT query_id, neighbor_id, dot,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY augcos DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, rank, neighbor_id, round(dot + 0.000000001, 4) AS dot
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_knn_2stage" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id, qe, embedding AS ce,
         |    ${cosSql("qe", "embedding", 16)} AS coarse
         |  FROM q JOIN e ON vec_id <> qid),
         |r1 AS (
         |  SELECT query_id, neighbor_id, qe, ce,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY coarse DESC, neighbor_id) AS crank
         |  FROM s),
         |r2 AS (
         |  SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cos
         |  FROM r1 WHERE crank <= 32),
         |r3 AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM r2)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, round(cos, 4) AS cos
         |FROM r3 WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "sim_rp_project" ->
      """WITH sm AS (
        |  SELECT j, i,
        |    CASE WHEN (('0x' || substr(md5('rp_v1:' || j::VARCHAR || ':' || i::VARCHAR),
        |                1, 15))::BIGINT % 2) = 0
        |         THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(0, 16) a(j), range(0, 64) b(i)),
        |sv AS (SELECT j, list(sgn ORDER BY i) AS sv FROM sm GROUP BY j)
        |SELECT e.vec_id, s.j,
        |  round(list_sum(list_transform(range(1, 65),
        |    i -> e.embedding[i]::DOUBLE * s.sv[i])) / sqrt(16.0), 4) AS v
        |FROM embeddings e CROSS JOIN sv s
        |ORDER BY e.vec_id, s.j""".stripMargin,

    "sim_quantize_i8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, emb,
        |    greatest(list_max(list_transform(emb, v -> abs(v))), 1e-30) / 127 AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, emb, scale,
        |    list_transform(emb,
        |      v -> least(greatest(floor(v / scale + 0.5), -127.0), 127.0)) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  round(scale + 1e-9, 6) AS scale_r,
        |  list_sum(qv)::BIGINT AS q_sum,
        |  list_sum(list_transform(qv, x -> abs(x)))::BIGINT AS q_l1,
        |  (list_max(list_transform(range(1, 65), i -> abs(emb[i] - qv[i] * scale)))
        |     <= scale * 0.5000001) AS err_ok
        |FROM q ORDER BY vec_id""".stripMargin,

    "sim_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id, ${cosSql("qe", "embedding")} AS cos
         |  FROM q JOIN e ON vec_id <> qid),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full MMR replay: brute top-20 candidates, the N² pairwise-cosine
    // table, then all 8 greedy rounds hand-unrolled (penᵗ = max sim to
    // the selected set, pkᵗ = the argmax pick, selᵗ = the growing
    // selection) — every constant forced ::DOUBLE so DuckDB's decimal
    // literals can't diverge from the JVM double arithmetic.
    "sim_rag_mmr" -> {
      val steps = mmrStepsSql(8)
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id % 50 = 0),
         |sc AS (
         |  SELECT query_id, vec_id AS doc_id, embedding AS emb,
         |    ${cosSql("qe", "embedding")} AS rel
         |  FROM q JOIN e ON vec_id <> query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, doc_id, emb, rel FROM sc
         |  QUALIFY row_number()
         |    OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) <= 20),
         |pair AS MATERIALIZED (
         |  SELECT a.query_id, a.doc_id AS i, b.doc_id AS j,
         |    ${cosSql("a.emb", "b.emb")} AS sim
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
         |sel0 AS MATERIALIZED (SELECT query_id, doc_id FROM cand WHERE 1 = 0),
         |$steps
         |SELECT query_id, step, doc_id, rel, pen, mmr, TRUE AS mmr_recall_ok
         |FROM (
         |  ${(1 to 8).map(t => s"SELECT * FROM pk$t").mkString(" UNION ALL ")})
         |ORDER BY query_id, step""".stripMargin
    },

    "sim_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
         |dsc AS (
         |  SELECT vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cos
         |  FROM e, q WHERE vec_id <> 0),
         |dr AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT AS dense_rank
         |  FROM dsc QUALIFY dense_rank <= 50),
         |t AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
         |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
         |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
         |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (
         |  SELECT doc_id, term, count(1) AS tf FROM tm
         |  WHERE term IN (${TextQueries.BmQueryTerms.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         |c AS (
         |  SELECT tf.doc_id, dl,
         |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
         |      * (tf::DOUBLE * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
         |      AS contrib
         |  FROM tf JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN st),
         |bs AS (
         |  SELECT doc_id,
         |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
         |  FROM c GROUP BY doc_id),
         |sr AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS sparse_rank
         |  FROM bs QUALIFY sparse_rank <= 50),
         |f AS (
         |  SELECT coalesce(dr.doc_id, sr.doc_id) AS doc_id, dense_rank, sparse_rank,
         |    round(coalesce(1.0 / (60.0 + dense_rank), 0.0)
         |        + coalesce(1.0 / (60.0 + sparse_rank), 0.0), 7) AS rrf
         |  FROM dr FULL OUTER JOIN sr USING (doc_id))
         |SELECT doc_id, dense_rank, sparse_rank, rrf FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,

    // the exactly-fused filtered retrieval: dense brute over the %3
    // corpus slice, sparse BM25 over the indexed (%4<>3) corpus with %3
    // candidates, identical RRF arithmetic; the served-path overlap
    // certificate is pinned TRUE
    "sim_rag_retrieve" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
         |dsc AS (
         |  SELECT vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cos
         |  FROM e, q WHERE vec_id <> 0 AND vec_id % 3 = 0),
         |dr AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT AS dense_rank
         |  FROM dsc QUALIFY dense_rank <= 50),
         |t AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
         |  FROM documents WHERE doc_id % 4 <> 3),
         |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
         |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
         |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (
         |  SELECT doc_id, term, count(1) AS tf FROM tm
         |  WHERE term IN (${TextQueries.BmQueryTerms.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         |c AS (
         |  SELECT tf.doc_id, dl,
         |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
         |      * (tf::DOUBLE * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
         |      AS contrib
         |  FROM tf JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN st),
         |bs AS (
         |  SELECT doc_id,
         |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
         |  FROM c GROUP BY doc_id),
         |sr AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS sparse_rank
         |  FROM bs WHERE doc_id % 3 = 0 QUALIFY sparse_rank <= 50),
         |f AS (
         |  SELECT coalesce(dr.doc_id, sr.doc_id) AS doc_id, dense_rank, sparse_rank,
         |    round(coalesce(1.0 / (60.0 + dense_rank), 0.0)
         |        + coalesce(1.0 / (60.0 + sparse_rank), 0.0), 7) AS rrf
         |  FROM dr FULL OUTER JOIN sr USING (doc_id))
         |SELECT doc_id, dense_rank, sparse_rank, rrf, TRUE AS rag_recall_ok FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,

    // the exactly-fused BATCHED retrieval: per-query brute dense over all
    // anchors, per-bag BM25 over the indexed (%4<>3) corpus via a
    // (query_id, term) bag table, identical RRF arithmetic, per-query
    // top-15; the served-path min-overlap certificate is pinned TRUE
    "sim_rag_batch" ->
      s"""$ragBatchChainSql
         |SELECT query_id, doc_id, dense_rank, sparse_rank, rrf,
         |  TRUE AS rag_recall_ok
         |FROM f
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) <= 15
         |ORDER BY query_id, rrf DESC, doc_id""".stripMargin,

    // the full batched chain — exact fusion top-15 as the MMR candidate
    // set (rel = rrf, emb joined from embeddings — unembedded candidates
    // drop on both sides), all 8 greedy rounds hand-unrolled; the
    // served-chain min-overlap certificate is pinned TRUE
    "sim_rag_batch_mmr" ->
      s"""$ragBatchChainSql,
         |fz AS MATERIALIZED (
         |  SELECT query_id, doc_id, rrf FROM f
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) <= 15),
         |cand AS MATERIALIZED (
         |  SELECT fz.query_id, fz.doc_id, e.embedding AS emb, fz.rrf AS rel
         |  FROM fz JOIN embeddings e ON e.vec_id = fz.doc_id),
         |pair AS MATERIALIZED (
         |  SELECT a.query_id, a.doc_id AS i, b.doc_id AS j,
         |    ${cosSql("a.emb", "b.emb")} AS sim
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
         |sel0 AS MATERIALIZED (SELECT query_id, doc_id FROM cand WHERE 1 = 0),
         |${mmrStepsSql(8)}
         |SELECT query_id, step, doc_id, rel, pen, mmr, TRUE AS mmr_recall_ok
         |FROM (
         |  ${(1 to 8).map(t => s"SELECT * FROM pk$t").mkString(" UNION ALL ")})
         |ORDER BY query_id, step""".stripMargin,

    "sim_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |w AS (
         |  SELECT t, j, list_transform(range(1, 65), d ->
         |    (((('0x' || substr(md5((t * 4 + j)::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
         |       % 2001) - 1000))::DOUBLE) AS wv
         |  FROM range(0, 4) rt(t), range(0, 4) rj(j)),
         |sigs AS (
         |  SELECT vec_id, t,
         |    sum(CASE WHEN list_sum(list_transform(range(1, 65),
         |          d -> embedding[d]::DOUBLE * wv[d])) >= 0
         |        THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS bucket
         |  FROM e, w GROUP BY vec_id, t),
         |q AS (SELECT vec_id AS qid FROM e WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         |  FROM sigs x JOIN q ON x.vec_id = q.qid
         |  JOIN sigs y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |s AS (
         |  SELECT query_id, neighbor_id, ${cosSql("qe.embedding", "ce.embedding")} AS cos
         |  FROM cand JOIN e qe ON cand.query_id = qe.vec_id
         |            JOIN e ce ON cand.neighbor_id = ce.vec_id),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "sim_label_centroids" ->
      """SELECT label, i - 1 AS dim, count(1) AS n,
        |  round(sum((embedding[i]::DOUBLE)::DECIMAL(28,14))::DOUBLE / count(1)
        |    + 0.000000001, 6) AS mean
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,

    // Full Lloyd replay: seeds = 8 smallest ids; each round assigns on
    // round(|c|² − 2·v·c, 7) with ties to the smaller cid, recomputes
    // centroids as exact-decimal sums / double counts (empty clusters
    // carry forward); final assignment against the round-2 centroids.
    "sim_kmeans_clusters" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cid, round(d + 0.000000001, 4) AS dist,
         |  count(1) OVER (PARTITION BY cid) AS cluster_n
         |FROM af ORDER BY vec_id""".stripMargin,

    // kmeans replay (af) + within-cluster pair pass + keep-smallest
    // anti-join — the full SemDeDup chain replayed.
    "sim_semdedup_keep" ->
      s"""WITH $kmeansCtes,
         |$semDedupTailSql""".stripMargin,

    // same chain with the seed count a scalar subquery: k = ⌈N/50⌉
    "sim_semdedup_bounded" ->
      s"""WITH ${kmeansCtesK("(SELECT CAST(ceil(count(1) / 50.0) AS INT) FROM v)")},
         |$semDedupTailSql""".stripMargin,

    // kmeans replay (af) composed with the √-balance membership rule —
    // the same keep-rate/salted-hash arithmetic as d_lang_balance, with
    // the data-derived semantic cluster as the group.
    "sim_semantic_sample" ->
      s"""WITH $kmeansCtes,
         |c AS (SELECT cid, count(*)::BIGINT AS n_group FROM af GROUP BY cid),
         |m AS (SELECT min(n_group) AS nmin FROM c),
         |r AS (
         |  SELECT cid, n_group,
         |    floor(1000 * sqrt(nmin::DOUBLE / n_group) + 0.000000001)::INT
         |      AS rate_permille
         |  FROM c CROSS JOIN m)
         |SELECT af.vec_id, af.cid, r.n_group, r.rate_permille
         |FROM af JOIN r USING (cid)
         |WHERE (('0x' || substr(md5('semsample_v1:' || af.vec_id::VARCHAR), 1, 15))::BIGINT
         |       % 1000) < r.rate_permille
         |ORDER BY af.vec_id""".stripMargin,

    // Every ANN recall certificate's oracle: the exact brute-force top-3
    // recomputed in SQL with its certificates pinned TRUE, so a
    // below-floor recall or a failed lifecycle check hash-mismatches.
    // Quantizer and codebook training have no SQL twin; the index paths
    // prove themselves through these pins.
    "sim_knn_ivf" -> exactTop3Sql("TRUE", "ivf_recall_ok"),
    "sim_knn_ivf_indexed" -> exactTop3Sql("TRUE", "ivf_recall_ok"),
    "sim_knn_ivf_ingest" -> exactTop3Sql("TRUE", "ivf_recall_ok", "index_ok"),
    "sim_knn_ivfpq_ingest" -> exactTop3Sql("TRUE", "ivfpq_recall_ok", "index_ok"),
    // recall through the rebuilt nlist=ceil(sqrt(N)) generation
    "sim_knn_ivf_sqrtn" -> exactTop3Sql("TRUE", "sqrtn_ok"),
    // the post-cutover index must reach serving recall against the full
    // corpus, which the stale 60% generation cannot
    "sim_knn_ivf_rebuild" -> exactTop3Sql("TRUE", "rebuild_ok"),
    "sim_knn_ivfpq_rebuild" -> exactTop3Sql("TRUE", "rebuild_ok"),
    // pre-filter semantics: the exact top-3 among eligible vectors
    "sim_knn_ivf_filtered" -> exactTop3Sql("vec_id % 3 = 0", "filtered_recall_ok"),
    // every 7th vector deleted: the probe must rank against survivors only
    "sim_knn_ivf_delete" -> exactTop3Sql("vec_id % 7 <> 0", "ivf_recall_ok", "index_ok"),
    "sim_knn_ivfpq_delete" -> exactTop3Sql("vec_id % 7 <> 0", "ivfpq_recall_ok", "index_ok"),
    "sim_knn_ivfpq" -> exactTop3Sql("TRUE", "ivfpq_recall_ok"),
    "sim_knn_pq" -> exactTop3Sql("TRUE", "pq_recall_ok")
  )
}

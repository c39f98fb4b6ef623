package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Overlap, SessionMemo}
import graft.functions.CrossHash
import graft.operators.{Dedup, Sampling, Similarity, Text}
import graft.sources.Tables

/** Deduplication tier over the `documents` / `embeddings` tables, each with
  * a full DuckDB oracle built on the engine-portable h60 hash (see
  * [[graft.functions.CrossHash]]). The sf0.01 corpus plants 25 near-dup
  * pairs at word-shingle Jaccard ≥ 0.8 — the LSH pipelines must surface
  * them.
  */
object DedupQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def toks = CrossHash.tokens(col("text"))

  /** Documents with the token array materialized as a column (`__tk`) so
    * shingle transforms slice a bound array instead of re-running the
    * tokenizer per shingle position inside the lambda — measured 6× on
    * the signing stage, 3× on the whole minhash pipeline at sf0.1. Every
    * word-shingle consumer feeds from this projection.
    */
  private def docsTk(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("__tk", toks)

  private def tkShingles(w: Int) = CrossHash.wordShingles(col("__tk"), w)

  /** Shared word-3-shingle MinHash signature frame (k=16): the
    * incremental/indexed/rebuild/band-stats family and StreamQueries'
    * index seeds all consume the SAME per-document signatures — one
    * corpus-wide frame per (session, dir), materialized once
    * ([[SessionMemo]]); registered in [[SharedFrames]] so the bench charges
    * its build to the dedicated shared-frame entry, not to whichever
    * consumer runs first.
    */
  private[queries] def minhashSigsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"minhash_sigs_w3:$d") {
      Dedup.minhashSignatures(
        docsTk(s, d), "doc_id", tkShingles(3), k = 16)
        .localCheckpoint(true)
    }

  /** Shared persisted minhash BASE index (the 90% corpus at the serving
    * banding k=16/bands=4): `d_incremental_indexed` probes it read-only
    * and `d_delete_probe` FORKS it (`Dedup.Minhash.fork`) to
    * trial its take-down — the build-once / fork-to-stage discipline the
    * similarity tier's base indexes follow (see
    * `SimilarityQueries.ensureIvfBase`). Built once per (session,
    * corpus); [[SharedFrames]] pre-builds it in Bench.
    */
  private[queries] def ensureMinhashBase(s: SparkSession, d: String): String =
    Dedup.Minhash.buildOnce(s, s"mh_base_${ScratchKeys.forPath(d)}")(
      Dedup.writeMinhashIndex(minhashSigsFrame(s, d).filter(col("id") % 10 =!= 0), _,
        buckets = 8, k = 16, bands = 4))

  /** Shared duplicate-span frame (word-5-grams, minDocs=2, minRun=2):
    * `d_dup_spans` reports it and `d_dup_spans_removed` excises it — the
    * pipeline shape where the span report is materialized once and feeds
    * both the audit and the rewrite.
    */
  private[queries] def dupSpansFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"dup_spans_w5:$d") {
      Dedup.dupSpans(docsTk(s, d), "doc_id", col("__tk"),
          n = 5, minDocs = 2, minRun = 2)
        .localCheckpoint(true)
    }

  /** Shared duplicated-gram coverage frame (word-5-grams, minDocs=2):
    * THREE queries consume the identical corpus aggregation —
    * `d_dup_coverage` reports it, `d_curate_full` gates on it, and
    * `d_domain_gate` folds it into the domain stats. Output is (id,
    * n_grams, n_dup, dup_frac), doc-count-sized.
    */
  private[queries] def dupCoverageFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"dup_cov_w5:$d") {
      Dedup.dupGramCoverage(t(s, d, "documents"), "doc_id", toks,
          n = 5, minDocs = 2)
        .localCheckpoint(true)
    }

  /** Shared MinHash pair-edge frame: `d_minhash_lsh`, `d_clusters` and
    * `d_dedup_keep` all close over the SAME word-3-shingle edge set
    * (k=16, 4 bands, j ≥ 0.7). A real pipeline materializes the pair table
    * once and every downstream consumer (cluster resolution, survivor
    * filter, reporting) reads that one result — so the suite mirrors it:
    * the eager, `localCheckpoint`ed (tiny: one row per near-dup pair)
    * frame from [[Dedup.minhashPairs]] is computed once per
    * (session, data dir) and reused, instead of re-running the full
    * shingle→signature→band-join pipeline per consumer. Memoized via
    * [[SessionMemo]] (weak session keys, soft frame refs); the frame is
    * already eagerly materialized by `minhashPairs` itself.
    */
  private[queries] def minhashPairEdges(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"minhash_pairs:$d") {
      Dedup.minhashPairs(
        docsTk(s, d), "doc_id", tkShingles(3),
        k = 16, bands = 4, threshold = 0.7, assumeUnboundedVocab = true)
    }

  /** SimHash signature frame shared by `d_simhash` and `d_simhash_pairs` —
    * same production shape: compute the 60-bit signatures once per
    * (session, data dir), materialize (tiny: one long per document), let
    * both consumers reuse.
    */
  private[queries] def simhashFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"simhash_w3:$d") {
      Dedup.simhash(docsTk(s, d), "doc_id", tkShingles(3))
        .localCheckpoint(true)
    }

  /** Shared embedding near-dup pair frame (cosine ≥ 0.38 between vectors
    * sharing the precomputed label — a semantic filter on verified pairs;
    * candidate generation is the label-free chunked block-matrix join,
    * so a bounded label vocabulary can't concentrate a label's O(block²)
    * pairs on one task): `d_embedding_cos` reports it and
    * `d_semantic_keep` resolves it to survivors — same
    * materialize-once-read-twice shape as the MinHash edges (the frame is
    * tiny: one row per near-dup vector pair). chunkRows=256 exercises a
    * real multi-chunk grid (≥2 chunks at sf0.01, 8 at sf0.1) rather than
    * degenerating to one tile at test scale.
    */
  private[queries] def embeddingPairEdges(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"emb_pairs:$d") {
      Dedup.embeddingPairs(
          t(s, d, "embeddings"), "vec_id", "embedding", "label", threshold = 0.38,
          chunkRows = 256)
        .localCheckpoint(true)
    }

  /** Shared oracle CTE body: tokens per document (no WITH keyword, so
    * recursive oracles can prepend WITH RECURSIVE).
    */
  private val ToksBody =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents)""".stripMargin

  private val ToksCte = s"WITH $ToksBody"

  /** Oracle fragment: English stopword hits over `toks` — the
    * [[Text.qualityScore]] fluency term (TextQueries' hitsSql, shared
    * here by the quality-aware survivor oracle).
    */
  private val QualityHitsSql = {
    val list = Text.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($list, t)))"
  }

  /** Shared oracle CTE chain for the word-5-gram duplicate-span marking
    * (full-corpus `minDocs = 2`, runs merged per document) as `s(doc_id,
    * start_pos, n_grams, span_words)` — `d_dup_spans_indexed` and
    * StreamQueries' `st_gram_index_parity` both restrict it to the day's
    * documents, because both paths claim EXACT equality with the
    * full-corpus marking.
    */
  private[queries] val GramSpansIndexedBody = gramSpansBody("TRUE")

  /** [[GramSpansIndexedBody]] with a corpus predicate — `d_delete_spans`
    * restricts the corpus to the docs surviving an index deletion, and
    * the duplicate marking must be computed over exactly that corpus.
    */
  private[queries] def gramSpansBody(corpusPred: String): String =
    s"""$ToksBody,
       |g AS (
       |  SELECT doc_id, i::BIGINT AS pos,
       |         array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
       |  FROM t, unnest(range(1, len(toks) - 3)) u(i) WHERE $corpusPred),
       |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
       |r AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM p),
       |s AS (
       |  SELECT doc_id, min(pos) AS start_pos, count(*)::BIGINT AS n_grams,
       |         (max(pos) - min(pos) + 5)::BIGINT AS span_words
       |  FROM r GROUP BY doc_id, grp)""".stripMargin

  /** Shared oracle CTE chain producing the word-3-shingle MinHash+LSH pair
    * set (k=16, 4 bands, j ≥ 0.7) as `pairs(a, b)` — the edge set that
    * d_minhash_lsh verifies and the cluster/survivor oracles close over
    * (package-visible: `st_dedup_index_parity`'s oracle closes over the
    * same pair set from StreamQueries).
    *
    * Split as `ToksBody` + [[MinhashPairsSansToks]] so composed oracles
    * (d_curate_ccnet) can declare ONE shared `t` superset CTE and splice
    * several chains behind it.
    */
  private[queries] val MinhashPairsSansToks =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
       |  FROM t),
       |hs AS (
       |  SELECT doc_id, sh, list_transform(sh, s ->
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, hs, list_transform(range(0, 16), i ->
       |    list_min(list_transform(hs, h ->
       |      (h * (2 * i + 1) + 97 + 31 * i) % 2147483647))) AS sig
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, b, array_to_string(
       |    list_transform(list_slice(sig, b * 4 + 1, b * 4 + 4), x -> x::VARCHAR), ',') AS key
       |  FROM sig, range(0, 4) r(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT a, b, round(len(list_intersect(sa.hs, sb.hs))::DOUBLE
       |      / len(list_distinct(sa.hs || sb.hs)) + 0.000000001, 4) AS jaccard
       |  FROM cand JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id),
       |pairs AS (SELECT a, b FROM j WHERE jaccard >= 0.7)""".stripMargin

  private[queries] val MinhashPairsBody = s"$ToksBody,\n$MinhashPairsSansToks"

  /** Transitive closure + min-representative over `pairs`, as a recursive
    * CTE chain ending in `rep(id, rep)` — the oracle twin of
    * [[graft.operators.Dedup.connectedComponents]]. [[ClusterRepSansToks]]
    * is the same chain without the `t` CTE, for composed oracles.
    */
  private[queries] val ClusterRepSansToks =
    s"""$MinhashPairsSansToks,
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |walk AS (
       |  SELECT a AS id, b AS reach FROM edges
       |  UNION
       |  SELECT w.id, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a),
       |rep AS (SELECT id, least(min(reach), id) AS rep FROM walk GROUP BY id)""".stripMargin

  private[queries] val ClusterRepBody = s"$ToksBody,\n$ClusterRepSansToks"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup on the order-invariant bag-of-words fingerprint.
    "d_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", Text.bagOfWordsFingerprint(toks))
        .orderBy("rep_doc_id")),

    // MinHash (k=16) + LSH (4 bands × 4 rows) word-3-shingle near-dups
    // (word-shingle vocabulary is open-ended: the probe+persist is skipped
    // inside the shared edge frame).
    "d_minhash_lsh" -> ((s, d) =>
      minhashPairEdges(s, d).orderBy("a", "b")),

    // The acting arm of the d_band_stats audit: same MinHash+LSH pair
    // join with band buckets wider than 3 excluded before the self-join
    // (at sf0.01 this genuinely drops band-0's width-4/5 buckets, so the
    // cap path is exercised, not idle). `n_lost` = pairs the cap cost vs
    // the uncapped edge set (capped candidates are a subset, verify is
    // identical) — oracle-recomputed, so the missed-pair behavior is
    // hash-pinned, not asserted.
    "d_minhash_lsh_capped" -> ((s, d) => {
      val capped = Dedup.minhashPairs(
        docsTk(s, d), "doc_id", tkShingles(3),
        k = 16, bands = 4, threshold = 0.7, assumeUnboundedVocab = true,
        hotBucketCap = 3)
      val nLost = minhashPairEdges(s, d).count() - capped.count()
      capped.withColumn("n_lost", lit(nLost)).orderBy("a", "b")
    }),

    // SimHash signatures (60-bit, relational bit-vote formulation) over
    // word-3-shingles — shingles, not raw tokens: the corpus vocabulary is
    // small, so token-level simhash barely discriminates.
    "d_simhash" -> ((s, d) =>
      simhashFrame(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // SimHash near-dup pairs, hamming ≤ 3 via lossless 4-band blocking,
    // over the shared signature frame.
    "d_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(simhashFrame(s, d), maxHamming = 3)
        .orderBy("a", "b")),

    // Character-4-gram Jaccard, candidates via char-gram MinHash LSH.
    "d_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
          t(s, d, "documents"), "doc_id", col("text"), n = 4, threshold = 0.6)
        .orderBy("a", "b")),

    // Two-table fuzzy join (record linkage): even-doc_id documents matched
    // against odd-doc_id documents on char-4-gram Jaccard — the cross-table
    // sibling of d_ngram_jaccard (same band family, candidates cross-side
    // only, so a planted near-dup pair is found iff its ends land on
    // opposite sides of the split — the two-crawl linkage shape).
    "d_fuzzy_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.fuzzyJoinPairs(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", CrossHash.charGrams(col("text"), 4),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", CrossHash.charGrams(col("text"), 4),
          k = 24, bands = 4, threshold = 0.6)
        .orderBy("left_id", "right_id")
    }),

    // Pairs -> clusters: connected components over the MinHash pair edges,
    // every document labeled with its cluster representative (min doc_id;
    // singletons represent themselves).
    "d_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cc = Dedup.connectedComponents(minhashPairEdges(s, d))
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id").join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // The same operator with driverEdgeLimit = 0, so its O(log n)-round
    // large-star/small-star branch runs where d_clusters takes the driver
    // union-find: identical labels against the identical recursive-CTE
    // oracle certify both branches of the one size gate on the real
    // corpus pair edges rather than spec fixtures.
    "d_clusters_star" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cc = Dedup.connectedComponents(minhashPairEdges(s, d), driverEdgeLimit = 0)
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id").join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // Incremental cluster maintenance — the union-find step between
    // d_incremental_indexed (which finds the day's new PAIRS) and
    // d_clusters (which owns MEMBERSHIP): "yesterday's" labels (CC over
    // the index-side edges) are persisted as a catalog table bucketed on
    // id, then the day's edges (any pair touching the id%10==0 batch)
    // merge against the REOPENED table — rep-level contraction, CC over
    // touched components only, broadcast relabel. Old-side edges ∪
    // day edges = the full corpus edge set, so the oracle is the same
    // full-recompute recursive CTE as d_clusters: equality IS the claim
    // that incremental maintenance loses nothing.
    "d_incremental_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = minhashPairEdges(s, d)
      val oldEdges = edges.filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)
      val newEdges = edges.filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      // pointer-protected label state (Sinks.updateLabelTable): same
      // blue/green generation discipline as the streaming twin — the
      // "yesterday" table is a complete pointer-resolved generation, and
      // the day's update would stage the next one
      val prefix = s"cc_labels_${ScratchKeys.forPath(d)}"
      graft.sources.Sinks.Labels.drop(s, prefix)
      graft.sources.Sinks.updateLabelTable(
        s, prefix, Dedup.connectedComponents(oldEdges), 8)
      val inc = Dedup.incrementalConnectedComponents(
        graft.sources.Sinks.readLabelTable(s, prefix), newEdges)
        .withColumnRenamed("id", "doc_id").withColumnRenamed("rep", "inc_rep")
      docs.select("doc_id").join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("inc_rep"), col("doc_id")).as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // The curation pipeline's LAST step as an oracle-gated artifact:
    // documents land as 8 deterministic shards (salted-hash membership +
    // salted-hash internal order — the reproducible global interleave a
    // training run reads), and the emitted rows are the MANIFEST computed
    // from the WRITTEN files (count, token mass, XOR membership
    // fingerprint per shard). The oracle recomputes all three from the
    // raw table, so a dropped/duplicated/misrouted document anywhere in
    // the write path hash-mismatches. Internal order + one-file-per-shard
    // are spec-pinned (SinksSpec).
    "d_shard_manifest" -> ((s, d) => ScratchKeys.withScratch("graft_shards_") { dir =>
      val scratch = dir.toString
      graft.sources.Sinks.writeTrainingShards(
        t(s, d, "documents").select("doc_id", "lang", "text"),
        "doc_id", scratch, nShards = 8, salt = "shards_v1")
      graft.sources.Sinks.shardManifest(
          s, scratch, "doc_id", size(split(col("text"), "\\s+")).cast("long"),
          salt = "shards_v1")
        .orderBy("shard")
        // materialize before the scratch dir disappears
        .localCheckpoint(true)
    }),

    // Clusters -> survivors: the deduplicated corpus, keeping the smallest
    // doc_id per near-dup cluster (the actual "dedup the corpus"
    // deliverable; left_anti of the losers out of documents).
    "d_dedup_keep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.keepSurvivors(docs, "doc_id", minhashPairEdges(s, d))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // Clusters -> BEST survivors: same near-dup clusters, but the copy
    // kept per cluster is the HIGHEST-quality one (Text.qualityScore,
    // ties to smallest id) instead of the smallest id — the curation rule
    // that keeps the least-damaged variant of a duplicated source. The
    // oracle replays the cluster closure AND the quality argmax.
    "d_dedup_keep_best" -> ((s, d) => {
      val docs = docsTk(s, d)
      Dedup.keepBestSurvivors(docs, "doc_id", minhashPairEdges(s, d),
          Text.qualityScore(col("text"), col("__tk")))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // EXACT set-similarity self-join (prefix filtering) at word-3-shingle
    // Jaccard >= 0.7 — the provably-lossless EXACT twin of d_minhash_lsh
    // (same sets, same threshold, no hashing anywhere): the oracle is the
    // FULL all-pairs answer, so a hash match certifies zero false
    // negatives corpus-wide, exactly the guarantee prefix filtering
    // claims and LSH trades away. Shingles (not unigrams) are the set:
    // this corpus's unigram vocabulary is so small that 40% of ALL pairs
    // clear 0.7 on token sets — a regime where no filter can prune and
    // the answer means nothing.
    "d_setsim_exact" -> ((s, d) =>
      Dedup.setSimilarityJoin(docsTk(s, d), "doc_id", tkShingles(3), threshold = 0.7)
        .orderBy("a", "b")),

    // Deterministic stratified downsample — the corpus-shaping filter a
    // training pipeline runs after dedup: per-language keep rates decided
    // by a salted content hash, reproducible across runs, engines and
    // partition layouts (unlike seed-based sample()).
    "d_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedHashSample(
          t(s, d, "documents"), col("lang"), col("doc_id").cast("string"),
          Map("en" -> 500, "de" -> 300, "es" -> 300, "fr" -> 300, "zh" -> 100),
          salt = "corpus_v1")
        .select("doc_id", "lang").orderBy("doc_id")),

    // Temperature-rebalanced multilingual sampling (α = 0.5): keep-rates
    // derived from the corpus's own language distribution —
    // floor(1000·√(n_min/n_lang)) permille — so the smallest language
    // keeps everything and en (3.4× fr at sf0.01) keeps ~54%. The
    // data-dependent sibling of d_stratified_sample's fixed rates.
    "d_lang_balance" -> ((s, d) =>
      Sampling.sqrtBalancedSample(
          t(s, d, "documents"), col("lang"), col("doc_id").cast("string"),
          salt = "balance_v1")
        .select("doc_id", "lang", "n_group", "rate_permille")
        .orderBy("doc_id")),

    // Fixed-size weighted sample (without replacement): the 50 documents
    // with the smallest integer priority floor(r·2^20 / n_chars) — longer
    // documents are proportionally more likely to be drawn (token-weighted
    // corpus subsampling). All-integer priorities, so the oracle replays
    // the exact ranking; the top-k runs as TakeOrderedAndProject (no full
    // sort, per-partition heaps — the shape that survives 100 TB).
    "d_weighted_sample" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Sampling.weightedPriority(
            col("doc_id").cast("string"), col("n_chars"), "wsample_v1")
            .as("priority"))
        .orderBy("priority", "doc_id").limit(50)
        .orderBy("doc_id")),

    // Deterministic k-per-group sample (reservoir-k twin): rank each
    // group's rows by uniform hash priority, keep the first 10 per lang.
    // One window shuffle on the group key; reproducible across runs,
    // engines, and partitionings, unlike rand()-ranked reservoirs.
    "d_reservoir_group" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(col("priority"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          Sampling.uniformPriority(col("doc_id").cast("string"), "rsv_v1")
            .as("priority"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select("doc_id", "lang", "priority", "rk")
        .orderBy("doc_id")
    }),

    // Embedding cosine near-dups within the precomputed cluster label
    // (label applied as a pair filter; candidates are label-free chunked
    // block-matrix tiles — see Dedup.embeddingPairs).
    "d_embedding_cos" -> ((s, d) =>
      embeddingPairEdges(s, d).orderBy("block", "a", "b")),

    // Geometry-blocked near-dup pairs in the true near-dup regime: IVF
    // multi-assign cells (nlist=16, assign=3) are the blocking key — no
    // metadata column shapes the join — and the ALL-PAIRS oracle at
    // τ=0.5 is the empirical losslessness certificate for this corpus
    // (at τ=0.38 no lossless geometric blocking exists — measured,
    // BASELINE.md).
    "d_embedding_cos_geo" -> ((s, d) =>
      Dedup.embeddingPairsGeo(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.5)
        .orderBy("a", "b")),

    // SemDeDup-style semantic dedup: the embedding near-dup pairs resolved
    // to clusters (same connected-components machinery as the MinHash
    // path), keeping the smallest vec_id per semantic cluster — the
    // embedding-space twin of d_dedup_keep.
    "d_semantic_keep" -> ((s, d) =>
      Dedup.keepSurvivors(
          t(s, d, "embeddings").select("vec_id", "label"),
          "vec_id", embeddingPairEdges(s, d))
        .orderBy("vec_id")),

    // Contrastive hard-negative mining over the same near-dup graph: for
    // every anchor in a duplicate pair, the top-3 most-similar vectors
    // OUTSIDE its duplicate cluster — maximally confusable verified
    // non-duplicates, the training-pair step an embedding-model pipeline
    // runs after dedup. Cluster exclusion (not pair exclusion), so a
    // transitive duplicate can never surface as a negative.
    //
    // Emitted rows are the EXACT brute mining (the oracle replays them in
    // SQL); the PRODUCTION path — hardNegativesIndexed, shortlists off
    // the shared persisted IVF index instead of scanning the corpus per
    // anchor — contributes `mine_recall_ok`: corpus-level recall of the
    // indexed mining against the exact set, ≥ the floor and pinned TRUE
    // by the oracle (the sim_knn_ivf certificate pattern; exact parity
    // at full probe is pinned in DedupSimilaritySpec).
    "sim_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val edges = embeddingPairEdges(s, d).select("a", "b")
      // the exact (brute) and served (index-probe) miners never read each
      // other — built on two threads at once (guide §2.6, Overlap.both)
      val (brute, mined) = Overlap.both {
        Similarity.hardNegatives(e, "vec_id", "embedding", edges, k = 3)
          .localCheckpoint(true)
      } {
        Similarity.hardNegativesIndexed(e, "vec_id", "embedding",
            edges, k = 3,
            tablePrefix = SimilarityQueries.ensureIvfBase(s, d),
            nprobe = SimilarityQueries.IvfNprobe)
          .select("query_id", "neighbor_id")
          .localCheckpoint(true)
      }
      Parity.recallCertificate(brute, mined, "mine_recall_ok",
        SimilarityQueries.HardNegRecallFloor)()
    }),

    // End-to-end corpus curation — the daily training-data pipeline as ONE
    // composed query: dedup survivors (shared pair-edge frame) → language
    // allowlist → quality floor → PII scrub → curated fingerprint. Each
    // stage is individually oracle-verified elsewhere; this row pins their
    // COMPOSITION (stage order, no column drift between stages).
    "d_curate" -> ((s, d) =>
      Dedup.keepSurvivors(t(s, d, "documents"), "doc_id", minhashPairEdges(s, d))
        .withColumn("tk", toks)
        .withColumn("quality", Text.qualityScore(col("text"), col("tk")))
        .filter(col("lang").isin("en", "de", "es", "fr") && col("quality") >= 0.5)
        .select(col("doc_id"), col("lang"),
          size(col("tk")).cast("long").as("n_tokens"), col("quality"),
          md5(Text.piiScrub(col("text"))).as("curated_fp"))
        .orderBy("doc_id")),

    // Incremental ingest dedup: the day's new batch (doc_id % 10 = 0, 10%
    // of the corpus) near-dup-checked against the existing index (the
    // other 90%) — band join new×index only, never a corpus self-join.
    // The signature table is the production shape: computed ONCE per
    // (session, dir) — signatures are per-document, so one corpus-wide
    // frame serves as both the "precomputed index" and the batch side
    // after an id split (`Dedup.minhashSignatures` doc). Emits each
    // flagged new doc with its canonical match.
    "d_incremental" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      Dedup.minhashPairsFromSignatures(
          sigs.filter(col("id") % 10 === 0),
          sigs.filter(col("id") % 10 =!= 0),
          k = 16, bands = 4, threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .orderBy("new_id")
    }),

    // Same incremental contract through the PERSISTED index: the corpus
    // (index side) is written via writeMinhashIndex — band-folded
    // bucketed catalog tables plus the (k, bands) parameter record — and
    // the day's batch is checked against the REOPENED tables. Identical
    // oracle to d_incremental, so the write → reopen → zero-Exchange band
    // join → verify chain is itself hash-verified end-to-end, not only
    // spec-verified.
    "d_incremental_indexed" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      // read-only probe of the shared base index (ensureMinhashBase —
      // built once per suite, not per query)
      val prefix = ensureMinhashBase(s, d)
      Dedup.minhashPairsAgainstIndex(
          sigs.filter(col("id") % 10 === 0), prefix, k = 16, bands = 4, threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .orderBy("new_id")
    }),

    // LSH band-bucket audit over the shared signature frame — the
    // pre-shuffle skew report (buckets, widest bucket, exact candidate
    // volume Σ C(w,2) per band) an operator reads before running the
    // petabyte band self-join. Fully SQL-replayable, so the oracle pins
    // the audit's numbers exactly.
    "d_band_stats" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      Dedup.bandBucketStats(sigs, bands = 4, rows = 4)
    }),

    // Blue/green rebuild for the DEDUP tier (the sim_knn_ivf_rebuild
    // pattern on the minhash index): the index first serves a stale
    // PARAMETER generation — same k but bands=2 (rows=8), whose band
    // keys are strictly STRICTER than the serving bands=4 keys, so the
    // stale index candidates are a proper subset and most planted pairs
    // are invisible through it — then Minhash.rebuild re-signs the
    // corpus at the serving banding and flips the pointer (one
    // small-table overwrite, retired generation dropped last). The
    // post-cutover day probe resolves through the pointer and must match
    // d_incremental_indexed's oracle verbatim (impossible through the
    // stale banding); the certificate pins gen=1 + bare tables retired.
    "d_rebuild_probe" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      val prefix = s"mh_rb_${ScratchKeys.forPath(d)}"
      Dedup.Minhash.drop(s, prefix)
      val corpus = sigs.filter(col("id") % 10 =!= 0)
      Dedup.writeMinhashIndex(corpus, prefix, buckets = 8, k = 16, bands = 2)
      val gen = Dedup.Minhash.rebuild(s, prefix)(
        Dedup.writeMinhashIndex(corpus, _, buckets = 8, k = 16, bands = 4))
      val retired = !s.catalog.tableExists(s"${prefix}_bands")
      Dedup.minhashPairsAgainstIndex(
          sigs.filter(col("id") % 10 === 0), prefix, k = 16, bands = 4, threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .withColumn("rebuild_ok", lit(gen == 1L && retired))
        .orderBy("new_id")
    }),

    // Exactly-once index ingest under at-least-once delivery: the corpus
    // index is grown through exactlyOnceIngestIntoMinhashIndex with BOTH
    // failure modes staged against it — a crash mid-append (batch 1's
    // intent recorded and half its rows already in, no commit) and a
    // checkpoint-lag redelivery (batch 1 delivered again after success).
    // The write-ahead ledger must scrub the partial residue before
    // re-appending and skip the redelivery outright, so the final index
    // is EXACTLY the clean one-shot build: the day's probe runs against
    // it and must match d_incremental_indexed's oracle verbatim. A
    // leaked duplicate row would double n_matches or resurface as an
    // extra band hit and hash-mismatch; the certificate column
    // additionally pins exact sig/band counts and the three verb
    // outcomes (applied, recovered, skipped).
    "d_exactly_once_ingest" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      val prefix = s"mh_eo_${ScratchKeys.forPath(d)}"
      // the crash-recovery scrub advances a generation now — scrub the
      // pointer + old generations too, or a rerun mis-resolves
      Dedup.Minhash.drop(s, prefix)
      val idx = sigs.filter(col("id") % 10 =!= 0)
      // the completeness certificate's index-side count is
      // lifecycle-independent (the shared signature frame) — computed
      // while the crash/recover/skip sequence runs (guide §2.6)
      val (idxN, (applied0, recovered, skipped)) = Overlap.both {
        idx.count()
      } {
        Dedup.writeMinhashIndex(
          idx.filter(col("id") % 3 === 0), prefix, buckets = 8, k = 16, bands = 4)
        val batch0 = idx.filter(col("id") % 3 === 1)
        val batch1 = idx.filter(col("id") % 3 === 2)
        val a0 =
          Dedup.exactlyOnceIngestIntoMinhashIndex(batch0, prefix, batchId = 0)
        // stage the mid-append crash: intent recorded, half the rows in,
        // no commit — exactly the state a died executor leaves behind
        graft.sources.TableFamily.recordLedger(s, prefix, 1L, "intent")
        Dedup.ingestIntoMinhashIndex(batch1.filter(col("id") % 2 === 0), prefix)
        val rec =
          Dedup.exactlyOnceIngestIntoMinhashIndex(batch1, prefix, batchId = 1)
        // checkpoint-lag redelivery of the now-committed batch — must skip
        val skp =
          Dedup.exactlyOnceIngestIntoMinhashIndex(batch1, prefix, batchId = 1)
        (a0, rec, skp)
      }
      // the crash-recovery scrub rode a generation cutover — resolve
      val atp = graft.sources.Sinks.activeTablePrefix(s, prefix)
      val sigsN = s.table(s"${atp}_sigs").count()
      val bandsN = s.table(s"${atp}_bands").count()
      val ok = sigsN == idxN && bandsN == idxN * 4 &&
        applied0.isDefined && recovered.isDefined && skipped.isEmpty
      Dedup.minhashPairsAgainstIndex(
          sigs.filter(col("id") % 10 === 0), prefix, k = 16, bands = 4,
          threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .withColumn("exactly_once_ok", lit(ok))
        .orderBy("new_id")
    }),

    // Index take-down (minhash): the corpus index loses a third of its
    // documents via deleteFromMinhashIndex — an anti-join rewrite through
    // the compaction machinery — and the day's probe must behave exactly
    // as if those documents had never been indexed: the oracle recomputes
    // the pair set and drops every pair whose index side was deleted.
    // Deletion correctness IS this equality; a leftover band row would
    // resurface a deleted doc as a match and hash-mismatch.
    "d_delete_probe" -> ((s, d) => {
      val sigs = minhashSigsFrame(s, d)
      val prefix = s"mh_del_${ScratchKeys.forPath(d)}"
      // the take-down trials on a FORK of the shared base (copy-on-write
      // pinned in SinksSpec/DedupSimilaritySpec) — no corpus re-signing
      Dedup.Minhash.fork(s, ensureMinhashBase(s, d), prefix)
      Dedup.deleteFromMinhashIndex(s, prefix,
        sigs.filter(col("id") % 10 =!= 0 && col("id") % 3 === 0).select("id"))
      Dedup.minhashPairsAgainstIndex(
          sigs.filter(col("id") % 10 === 0), prefix, k = 16, bands = 4, threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .orderBy("new_id")
    }),

    // Index take-down (gram df): the gram index stores per-gram document
    // frequencies, so deletion DECREMENTS — the deleted docs' distinct
    // grams are recomputed from their text and subtracted, zero-count
    // grams dropped. The day's span marking afterwards must equal the
    // full-corpus marking with the deleted docs absent (the oracle
    // recomputes exactly that); an off-by-one decrement would leave a
    // gram's df at 1-instead-of-0 or 2-instead-of-1 and flip span rows.
    "d_delete_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = s"gram_del_${ScratchKeys.forPath(d)}"
      Dedup.Grams.drop(s, prefix)
      val idxDocs = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.writeGramIndex(idxDocs, "doc_id", toks, n = 5, prefix, buckets = 8)
      Dedup.deleteFromGramIndex(s, prefix,
        idxDocs.filter(col("doc_id") % 4 === 0), "doc_id", toks)
      Dedup.dupSpansAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", toks, prefix, minRun = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "start_pos")
    }),

    // Index take-down (clusters): removing documents removes graph NODES,
    // which can SPLIT near-dup clusters — label arithmetic alone cannot
    // do that, so edgeDeletionConnectedComponents recomputes connectivity
    // from the persisted pair edges, but only inside components that
    // contained a deleted doc (untouched components pass through
    // byte-identical — spec-pinned). The oracle recomputes CC from
    // scratch over the surviving edge set: equality IS the claim that
    // the affected-component recompute loses nothing.
    "d_delete_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = minhashPairEdges(s, d)
      val labels = Dedup.connectedComponents(edges)
      val deleted = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"))
      val relabeled = Dedup.edgeDeletionConnectedComponents(labels, edges, deleted)
        .withColumnRenamed("id", "doc_id").withColumnRenamed("rep", "new_rep")
      docs.filter(col("doc_id") % 50 =!= 0).select("doc_id")
        .join(relabeled, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("new_rep"), col("doc_id")).as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: a held-out "eval" split (2% of the
    // corpus by id hash) checked for word-5-gram overlap against the
    // training split — 5-grams because the ~40-word generator vocabulary
    // makes shorter grams collide by chance (40^5 ≈ 10^8 combinations ⇒
    // only genuine copying matches; the hits are the planted near-dup
    // pairs that straddle the split).
    "d_decontaminate" -> ((s, d) =>
      Dedup.decontaminate(
          docsTk(s, d), "doc_id",
          tkShingles(5), col("doc_id") % 50 === 7)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Same contract through the Bloom-pruned path — the regime where the
    // benchmark gram table can't broadcast exactly: a 1%-fpp sketch
    // pre-prunes the training gram stream before an UN-hinted (shuffle)
    // verify join. False positives die in the exact join, so the rows
    // are identical to d_decontaminate — the shared oracle pins that
    // every round.
    "d_decontaminate_bloom" -> ((s, d) =>
      Dedup.decontaminateBloom(
          docsTk(s, d), "doc_id",
          tkShingles(5), col("doc_id") % 50 === 7)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Substring-level duplicate spans (the exact-substring dedup modality):
    // maximal runs of consecutive word-5-grams each shared with at least
    // one OTHER document — duplicated passages doc-level Jaccard misses
    // when the surrounding text differs. 5-grams for the same reason as
    // d_decontaminate: the ~40-word generator vocabulary makes shorter
    // grams collide by chance. Cost is O(total grams), never O(doc pairs).
    "d_dup_spans" -> ((s, d) =>
      dupSpansFrame(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "start_pos")),

    // Same substring marking through the PERSISTED gram index: the 90%
    // corpus's gram df table is written bucketed on gram, and the day's
    // batch (doc_id % 10 = 0) is marked against the REOPENED table — a
    // position is duplicated iff its gram is indexed OR shared by ≥ 2 new
    // docs, which equals the full-corpus marking restricted to the batch;
    // the oracle is therefore the batch oracle filtered to the new ids,
    // so the write → reopen → zero-Exchange probe chain is hash-verified
    // end-to-end.
    "d_dup_spans_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = s"gram_index_${ScratchKeys.forPath(d)}"
      Dedup.Grams.drop(s, prefix)
      // the index corpus (doc_id % 10 != 0) arrives in two installments —
      // build + append — then a VACUUM cycle rewrites the fragmented
      // df-partials to one row per gram before the probe, so the oracle
      // that gates the probe also gates compaction's semantics-preservation
      val idxDocs = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.writeGramIndex(
        idxDocs.filter(col("doc_id") % 2 === 1), "doc_id", toks,
        n = 5, prefix, buckets = 8)
      Dedup.ingestIntoGramIndex(
        idxDocs.filter(col("doc_id") % 2 === 0), "doc_id", toks, prefix)
      Dedup.compactGramIndex(s, prefix)
      Dedup.dupSpansAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", toks, prefix, minRun = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "start_pos")
    }),

    // Blue/green rebuild for the GRAM index — the parameter change that
    // invalidates every stored row (gram WIDTH): the stale generation
    // indexes the corpus at n=4, the rebuild re-extracts at the serving
    // n=5 and flips the pointer. dupSpansAgainstIndex reads n from the
    // resolved generation's meta, so a probe through the stale index
    // would mark 4-gram runs — a completely different span report that
    // cannot hash-match the n=5 oracle. Probe result must equal
    // d_dup_spans_indexed's full-corpus marking verbatim + gen/retired.
    "d_rebuild_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = s"gram_rb_${ScratchKeys.forPath(d)}"
      Dedup.Grams.drop(s, prefix)
      val idxDocs = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.writeGramIndex(idxDocs, "doc_id", toks, n = 4, prefix, buckets = 8)
      val gen = Dedup.Grams.rebuild(s, prefix)(
        Dedup.writeGramIndex(idxDocs, "doc_id", toks, n = 5, _, buckets = 8))
      val retired = !s.catalog.tableExists(s"${prefix}_grams")
      Dedup.dupSpansAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", toks, prefix, minRun = 2)
        .withColumnRenamed("id", "doc_id")
        .withColumn("rebuild_ok", lit(gen == 1L && retired))
        .orderBy("doc_id", "start_pos")
    }),

    // The OUTPUT step of substring dedup — duplicated spans EXCISED from
    // the text (Lee et al. 2022 removes the duplicated substring from the
    // training corpus; the span report alone is not the product): every
    // token position covered by a d_dup_spans run is dropped and the
    // survivors re-joined in order. Untouched documents must come back
    // byte-identical, which the hash compare enforces corpus-wide.
    "d_dup_spans_removed" -> ((s, d) =>
      Dedup.removeSpans(docsTk(s, d), "doc_id", col("__tk"), dupSpansFrame(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Per-document duplicated-gram coverage — the aggregate form of
    // d_dup_spans' marking stage: what fraction of each document's 5-gram
    // positions is cross-document duplicated. The "mostly duplicated
    // document" gate a curation pipeline thresholds on.
    "d_dup_coverage" -> ((s, d) =>
      dupCoverageFrame(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Token-budget mixture sampling — the data-mixing recipe: target
    // mixture weights per language (permille of a 60k-char budget),
    // per-group keep-rates derived from the group char sums (all-integer,
    // oracle-replayable), capped at keep-everything for groups smaller
    // than their allocation (zh's 500‰ share caps at 1000 at sf0.01 —
    // the under-represented-group branch is exercised at the correctness
    // gate's scale).
    "d_mixture_sample" -> ((s, d) =>
      Sampling.budgetMixtureSample(
          t(s, d, "documents"), col("lang"), col("doc_id").cast("string"),
          col("n_chars"),
          Map("en" -> 250, "de" -> 100, "es" -> 75, "fr" -> 75, "zh" -> 500),
          budget = 60000L, salt = "mix_v1")
        .select("doc_id", "lang", "n_chars", "group_units", "rate_permille")
        .orderBy("doc_id")),

    // Chunk-level containment: doc pairs sharing ≥ half of the smaller
    // doc's content-defined chunks (mask 16 ⇒ ~23-char expected chunks —
    // sized to this corpus's ~300-char documents so each carries ~13
    // chunks). Surfaces all 25 planted near-dup pairs at sf0.01, plus the
    // containment cases whole-doc Jaccard under-scores.
    "d_cdc_containment" -> ((s, d) =>
      Dedup.cdcContainmentPairs(t(s, d, "documents"), "doc_id", col("text"),
          n = 8, mask = 16, hotCap = 10, minContainment = 0.5)
        .orderBy("id_a", "id_b"))
  )

  /** Shared oracle CTE chain producing the cosine-≥0.38 embedding near-dup
    * edge set within the label block as `pairs(block, a, b, cos)` — the
    * twin of [[embeddingPairEdges]].
    */
  private val EmbPairsBody =
    """e AS (SELECT vec_id, label, embedding FROM embeddings),
      |p AS (
      |  SELECT x.label AS block, x.vec_id AS a, y.vec_id AS b,
      |    round(
      |      list_sum(list_transform(range(1, 65),
      |        i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65),
      |           i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65),
      |           i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)))), 4) AS cos
      |  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id),
      |pairs AS (SELECT block, a, b, cos FROM p WHERE cos >= 0.38)""".stripMargin

  val oracles: Map[String, String] = Map(

    "d_curate" -> {
      import graft.operators.Text.{EmailRe, Ipv4Re, PhoneRe}
      val enList = graft.operators.Text.stopwords("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val enHits = s"len(list_filter(toks, t -> list_contains($enList, t)))"
      s"""WITH RECURSIVE $ClusterRepBody,
         |surv AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM rep r WHERE r.id = d.doc_id AND r.rep < r.id)),
         |tq AS (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(text, '\\s+') AS toks FROM surv),
         |q AS (
         |  SELECT doc_id, lang, text, len(toks)::BIGINT AS n_tokens,
         |    round(
         |      least(len(toks) / 50.0, 1.0) * 0.5
         |      + ($enHits::DOUBLE / len(toks)) * 0.3
         |      + least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks))
         |              / 8.0, 1.0) * 0.2 + 0.000000001, 4) AS quality
         |  FROM tq)
         |SELECT doc_id, lang, n_tokens, quality,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS curated_fp
         |FROM q
         |WHERE lang IN ('en', 'de', 'es', 'fr') AND quality >= 0.5
         |ORDER BY doc_id""".stripMargin
    },

    // the full self-join pair set restricted to (new, index) sides is
    // exactly what the asymmetric band join produces
    "d_incremental" ->
      s"""WITH $MinhashPairsBody,
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    "d_incremental_indexed" ->
      s"""WITH $MinhashPairsBody,
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    // The band replay's bucket-width distribution, re-aggregated — the
    // audit numbers must match the engine's exactly.
    "d_band_stats" ->
      s"""WITH $MinhashPairsBody,
         |w AS (SELECT b, key, count(*)::BIGINT AS w FROM bands GROUP BY b, key)
         |SELECT b AS band, count(*)::BIGINT AS n_buckets, max(w) AS max_width,
         |       sum(CASE WHEN w >= 2 THEN w * (w - 1) // 2 ELSE 0 END)::BIGINT
         |         AS n_cand_pairs
         |FROM w GROUP BY b ORDER BY band""".stripMargin,

    // The post-cutover probe must behave exactly as a fresh serving-band
    // index — d_incremental_indexed's oracle verbatim, plus the pinned
    // rebuild certificate (gen/retired).
    "d_rebuild_probe" ->
      s"""WITH $MinhashPairsBody,
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches,
         |       TRUE AS rebuild_ok
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    // The exactly-once drain must land the index in the clean one-shot
    // state, so the probe's oracle is d_incremental_indexed's verbatim;
    // the certificate column is pinned TRUE (ledger outcomes + exact
    // post-drain index counts).
    "d_exactly_once_ingest" ->
      s"""WITH $MinhashPairsBody,
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches,
         |       TRUE AS exactly_once_ok
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    // The pair universe minus pairs whose index side was deleted — the
    // probe through the post-deletion index must reproduce exactly this.
    "d_delete_probe" ->
      s"""WITH $MinhashPairsBody,
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches
         |FROM hits WHERE index_id % 3 <> 0
         |GROUP BY new_id ORDER BY new_id""".stripMargin,

    // Full-corpus span marking with the deleted docs absent from the
    // corpus: day docs (%10=0) marked against surviving index docs
    // (%10<>0 AND %4<>0) plus intra-day sharing.
    "d_delete_spans" ->
      s"""WITH ${gramSpansBody("(doc_id % 10 = 0 OR doc_id % 4 <> 0)")}
         |SELECT doc_id, start_pos, n_grams, span_words
         |FROM s WHERE n_grams >= 2 AND doc_id % 10 = 0
         |ORDER BY doc_id, start_pos""".stripMargin,

    // CC from scratch over the surviving edges (both endpoints alive) —
    // the affected-component recompute must equal this, including the
    // splits: a component held together by a deleted doc falls apart
    // into separate reps here, and the incremental path must agree.
    "d_delete_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsBody,
         |sp AS (SELECT a, b FROM pairs WHERE a % 50 <> 0 AND b % 50 <> 0),
         |edges AS (SELECT a, b FROM sp UNION SELECT b AS a, a AS b FROM sp),
         |walk AS (
         |  SELECT a AS id, b AS reach FROM edges
         |  UNION
         |  SELECT w.id, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a),
         |rep AS (SELECT id, least(min(reach), id) AS rep FROM walk GROUP BY id)
         |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.id
         |WHERE d.doc_id % 50 <> 0
         |ORDER BY d.doc_id""".stripMargin,

    "d_decontaminate" ->
      s"""$ToksCte,
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
         |    i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
         |  FROM t),
         |b AS (SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 50 = 7),
         |tr AS (SELECT gram, doc_id FROM g WHERE doc_id % 50 <> 7)
         |SELECT doc_id, count(DISTINCT bench_id) AS n_bench_docs,
         |       min(bench_id) AS first_bench_id, count(*) AS n_shared_grams
         |FROM tr JOIN b USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // row-identical to d_decontaminate by construction — same oracle
    "d_decontaminate_bloom" ->
      s"""$ToksCte,
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
         |    i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
         |  FROM t),
         |b AS (SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 50 = 7),
         |tr AS (SELECT gram, doc_id FROM g WHERE doc_id % 50 <> 7)
         |SELECT doc_id, count(DISTINCT bench_id) AS n_bench_docs,
         |       min(bench_id) AS first_bench_id, count(*) AS n_shared_grams
         |FROM tr JOIN b USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_dup_spans" ->
      s"""$ToksCte,
         |g AS (
         |  SELECT doc_id, i::BIGINT AS pos,
         |         array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
         |  FROM t, unnest(range(1, len(toks) - 3)) u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |r AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM p),
         |s AS (
         |  SELECT doc_id, min(pos) AS start_pos, count(*)::BIGINT AS n_grams,
         |         (max(pos) - min(pos) + 5)::BIGINT AS span_words
         |  FROM r GROUP BY doc_id, grp)
         |SELECT doc_id, start_pos, n_grams, span_words
         |FROM s WHERE n_grams >= 2 ORDER BY doc_id, start_pos""".stripMargin,

    // full-corpus marking restricted to the new batch — equality IS the
    // claim that the index probe loses nothing vs the batch recompute
    "d_dup_spans_indexed" ->
      s"""WITH $GramSpansIndexedBody
         |SELECT doc_id, start_pos, n_grams, span_words
         |FROM s WHERE n_grams >= 2 AND doc_id % 10 = 0
         |ORDER BY doc_id, start_pos""".stripMargin,

    // d_dup_spans_indexed's oracle verbatim + the pinned rebuild
    // certificate — the probe through the rebuilt n=5 generation must
    // reproduce the serving-width marking exactly.
    "d_rebuild_spans" ->
      s"""WITH $GramSpansIndexedBody
         |SELECT doc_id, start_pos, n_grams, span_words, TRUE AS rebuild_ok
         |FROM s WHERE n_grams >= 2 AND doc_id % 10 = 0
         |ORDER BY doc_id, start_pos""".stripMargin,

    // the same excision rebuilt from the shared spans CTE: covered
    // positions = every token a span reaches; survivors re-joined with
    // single spaces in position order
    "d_dup_spans_removed" ->
      s"""WITH $GramSpansIndexedBody,
         |spans AS (SELECT doc_id, start_pos, span_words FROM s WHERE n_grams >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, start_pos + i AS pos
         |  FROM spans, unnest(range(0, span_words)) u(i)),
         |tk AS (
         |  SELECT doc_id, i::BIGINT AS pos, toks[i] AS tok
         |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
         |kept AS (
         |  SELECT tk.doc_id, pos, tok FROM tk
         |  ANTI JOIN cov USING (doc_id, pos)),
         |agg AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       (len(t.toks) - coalesce(n_kept, 0))::BIGINT AS n_removed
         |FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "d_dup_coverage" ->
      s"""$ToksCte,
         |g AS (
         |  SELECT doc_id, i::BIGINT AS pos,
         |         array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
         |  FROM t, unnest(range(1, len(toks) - 3)) u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |c AS (
         |  SELECT g.doc_id, count(*)::BIGINT AS n_grams, count(d.gram)::BIGINT AS n_dup
         |  FROM g LEFT JOIN d USING (gram) GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_dup,
         |       round(n_dup::DOUBLE / n_grams + 0.000000001, 4) AS dup_frac
         |FROM c ORDER BY doc_id""".stripMargin,

    "d_mixture_sample" ->
      """WITH c AS (
        |  SELECT lang, sum(n_chars)::BIGINT AS group_units FROM documents GROUP BY lang),
        |r AS (
        |  SELECT lang, group_units,
        |    least(1000, (60000 * CASE lang
        |        WHEN 'en' THEN 250 WHEN 'de' THEN 100 WHEN 'es' THEN 75
        |        WHEN 'fr' THEN 75 WHEN 'zh' THEN 500 ELSE 0 END) // group_units)::INT
        |      AS rate_permille
        |  FROM c)
        |SELECT d.doc_id, d.lang, d.n_chars, r.group_units, r.rate_permille
        |FROM documents d JOIN r USING (lang)
        |WHERE (('0x' || substr(md5('mix_v1:' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000)
        |  < r.rate_permille
        |ORDER BY d.doc_id""".stripMargin,

    "d_cdc_containment" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |e AS (
        |  SELECT doc_id, text,
        |    list_sort(list_distinct(list_concat(
        |      CASE WHEN n < 8 THEN []::BIGINT[] ELSE
        |        list_transform(list_filter(range(1, n - 6),
        |          i -> (('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT % 16) = 0),
        |          i -> i + 7) END,
        |      [n::BIGINT]))) AS ends
        |  FROM t),
        |x AS (SELECT doc_id, text, ends, unnest(range(1, len(ends) + 1)) AS k FROM e),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN k = 1 THEN 1 ELSE ends[k::INT - 1] + 1 END AS st,
        |    ends[k::INT] AS en, text
        |  FROM x),
        |f AS (SELECT DISTINCT doc_id, md5(substr(text, st, en - st + 1)) AS fp FROM c),
        |nch AS (SELECT doc_id, count(*) AS nc FROM f GROUP BY 1),
        |hot AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 10),
        |g AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM hot)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_chunks
        |  FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT p.id_a, p.id_b, p.shared_chunks,
        |    round(p.shared_chunks / least(x1.nc, x2.nc), 4) AS containment
        |  FROM p JOIN nch x1 ON x1.doc_id = p.id_a
        |         JOIN nch x2 ON x2.doc_id = p.id_b)
        |SELECT id_a, id_b, shared_chunks::BIGINT AS shared_chunks, containment
        |FROM j WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "d_exact" ->
      s"""$ToksCte
         |SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
         |       min(doc_id) AS rep_doc_id, count(*) AS n_copies
         |FROM t GROUP BY 1 ORDER BY rep_doc_id""".stripMargin,

    "d_minhash_lsh" ->
      s"""WITH $MinhashPairsBody
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.7 ORDER BY a, b""".stripMargin,

    // capped replay: over-cap (w > 3) band buckets excluded before the
    // candidate join, verify identical; n_lost recomputed as the capped
    // set's deficit vs the uncapped pair set (a strict subset by
    // construction, so a count difference IS the loss)
    "d_minhash_lsh_capped" ->
      s"""WITH $MinhashPairsBody,
         |bw AS (SELECT b, key, count(*) AS w FROM bands GROUP BY b, key),
         |cooled AS (
         |  SELECT bands.doc_id, bands.b, bands.key
         |  FROM bands JOIN bw USING (b, key) WHERE bw.w <= 3),
         |ccand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM cooled x JOIN cooled y
         |    ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
         |cj AS (
         |  SELECT a, b, round(len(list_intersect(sa.hs, sb.hs))::DOUBLE
         |      / len(list_distinct(sa.hs || sb.hs)) + 0.000000001, 4) AS jaccard
         |  FROM ccand JOIN sig sa ON ccand.a = sa.doc_id
         |             JOIN sig sb ON ccand.b = sb.doc_id),
         |cpairs AS (SELECT a, b, jaccard FROM cj WHERE jaccard >= 0.7)
         |SELECT a, b, jaccard,
         |  ((SELECT count(*) FROM pairs) - (SELECT count(*) FROM cpairs))::BIGINT AS n_lost
         |FROM cpairs ORDER BY a, b""".stripMargin,

    "d_clusters" ->
      s"""WITH RECURSIVE $ClusterRepBody
         |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.id
         |ORDER BY d.doc_id""".stripMargin,

    // manifest replayed from the raw table: same salted h60 shard
    // assignment, token counts, and XOR membership fingerprint — any
    // document the written artifact dropped, duplicated, or misrouted
    // changes a count or flips a fingerprint
    "d_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_toks,
        |    ('0x' || substr(md5('shards_v1:shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('shards_v1:fp:' || doc_id::VARCHAR), 1, 15))::BIGINT AS fph
        |  FROM documents)
        |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
        |       bit_xor(fph) AS id_fp
        |FROM t GROUP BY shard ORDER BY shard""".stripMargin,

    "d_clusters_star" ->
      s"""WITH RECURSIVE $ClusterRepBody
         |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.id
         |ORDER BY d.doc_id""".stripMargin,

    // Full recompute over ALL edges — old-side ∪ day edges — so a hash
    // match proves the incremental path equals the from-scratch answer.
    "d_incremental_clusters" ->
      s"""WITH RECURSIVE $ClusterRepBody
         |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.id
         |ORDER BY d.doc_id""".stripMargin,

    "d_dedup_keep" ->
      s"""WITH RECURSIVE $ClusterRepBody
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM rep r WHERE r.id = d.doc_id AND r.rep < r.id)
         |ORDER BY d.doc_id""".stripMargin,

    // Same closure, survivor = quality argmax per cluster (ties to the
    // smaller id) — the quality formula is tx_quality's, verbatim.
    "d_dedup_keep_best" ->
      s"""WITH RECURSIVE $ClusterRepBody,
         |q AS (
         |  SELECT t.doc_id,
         |    round(least(len(toks) / 50.0, 1.0) * 0.5
         |      + ($QualityHitsSql::DOUBLE / len(toks)) * 0.3
         |      + least((length(regexp_replace(dd.text, '\\s+', '', 'g'))::DOUBLE
         |               / len(toks)) / 8.0, 1.0) * 0.2 + 0.000000001, 4) AS q
         |  FROM t JOIN documents dd USING (doc_id)),
         |losers AS (
         |  SELECT r.id FROM rep r JOIN q ON q.doc_id = r.id
         |  QUALIFY row_number() OVER (PARTITION BY r.rep ORDER BY q.q DESC, r.id) > 1)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Exact all-pairs shingle Jaccard — deliberately NOT a replay of the
    // prefix filter: equality proves the prefix path lost no pair (and
    // invented none).
    "d_setsim_exact" ->
      s"""$ToksCte,
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
         |  FROM t),
         |e AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
         |s AS (SELECT doc_id, count(*) AS s FROM e GROUP BY doc_id),
         |i AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM e x JOIN e y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT a, b, round(c::DOUBLE / (sa.s + sb.s - c) + 0.000000001, 4) AS jaccard
         |  FROM i JOIN s sa ON i.a = sa.doc_id JOIN s sb ON i.b = sb.doc_id)
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.7 ORDER BY a, b""".stripMargin,

    "d_simhash" ->
      s"""$ToksCte,
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS dt
         |  FROM t),
         |h AS (
         |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh
         |  FROM sh, unnest(dt) AS u(tok)),
         |v AS (
         |  SELECT doc_id, b,
         |    CASE WHEN sum(((hh >> b) & 1) * 2 - 1) > 0
         |         THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bit
         |  FROM h, range(0, 60) r(b) GROUP BY doc_id, b)
         |SELECT doc_id, sum(bit)::BIGINT AS simhash FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_simhash_pairs" ->
      s"""$ToksCte,
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS dt
         |  FROM t),
         |h AS (
         |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh
         |  FROM sh, unnest(dt) AS u(tok)),
         |v AS (
         |  SELECT doc_id, b,
         |    CASE WHEN sum(((hh >> b) & 1) * 2 - 1) > 0
         |         THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bit
         |  FROM h, range(0, 60) r(b) GROUP BY doc_id, b),
         |s AS (SELECT doc_id, sum(bit)::BIGINT AS simhash FROM v GROUP BY doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
         |FROM s x JOIN s y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin,

    "d_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 2),
        |           i -> substr(text, i, 4))) AS g
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, g, list_transform(g, s ->
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
        |  FROM g),
        |sig AS (
        |  SELECT doc_id, hs, list_transform(range(0, 24), i ->
        |    list_min(list_transform(hs, h ->
        |      (h * (2 * i + 1) + 97 + 31 * i) % 2147483647))) AS sig
        |  FROM hs),
        |bands AS (
        |  SELECT doc_id, b, array_to_string(
        |    list_transform(list_slice(sig, b * 6 + 1, b * 6 + 6), x -> x::VARCHAR), ',') AS key
        |  FROM sig, range(0, 4) r(b)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
        |j AS (
        |  SELECT a, b, round(len(list_intersect(ga.hs, gb.hs))::DOUBLE
        |      / len(list_distinct(ga.hs || gb.hs)) + 0.000000001, 4) AS jaccard
        |  FROM cand JOIN sig ga ON cand.a = ga.doc_id JOIN sig gb ON cand.b = gb.doc_id)
        |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.6 ORDER BY a, b""".stripMargin,

    // Identical signature/band chain to d_ngram_jaccard; candidates are
    // cross-side only (even doc_id = left table, odd = right table) and the
    // pair keeps table-of-origin orientation instead of a < b.
    "d_fuzzy_join" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 2),
        |           i -> substr(text, i, 4))) AS g
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, g, list_transform(g, s ->
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
        |  FROM g),
        |sig AS (
        |  SELECT doc_id, hs, list_transform(range(0, 24), i ->
        |    list_min(list_transform(hs, h ->
        |      (h * (2 * i + 1) + 97 + 31 * i) % 2147483647))) AS sig
        |  FROM hs),
        |bands AS (
        |  SELECT doc_id, b, array_to_string(
        |    list_transform(list_slice(sig, b * 6 + 1, b * 6 + 6), x -> x::VARCHAR), ',') AS key
        |  FROM sig, range(0, 4) r(b)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS left_id, y.doc_id AS right_id
        |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
        |    AND x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
        |j AS (
        |  SELECT left_id, right_id, round(len(list_intersect(ga.hs, gb.hs))::DOUBLE
        |      / len(list_distinct(ga.hs || gb.hs)) + 0.000000001, 4) AS jaccard
        |  FROM cand JOIN sig ga ON cand.left_id = ga.doc_id
        |            JOIN sig gb ON cand.right_id = gb.doc_id)
        |SELECT left_id, right_id, jaccard FROM j WHERE jaccard >= 0.6
        |ORDER BY left_id, right_id""".stripMargin,

    "d_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (('0x' || substr(md5('corpus_v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000)
        |  < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300 WHEN 'es' THEN 300
        |              WHEN 'fr' THEN 300 WHEN 'zh' THEN 100 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "d_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang, n_chars,
        |    (('0x' || substr(md5('wsample_v1:' || doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 1048576) AS r,
        |    greatest(n_chars, 1) AS w
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang, n_chars, (r * 1048576) // w AS priority
        |  FROM p ORDER BY priority, doc_id LIMIT 50)
        |SELECT doc_id, lang, n_chars, priority FROM k ORDER BY doc_id""".stripMargin,

    "d_reservoir_group" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    (('0x' || substr(md5('rsv_v1:' || doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 1048576) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, priority,
        |    row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rk
        |  FROM p)
        |SELECT doc_id, lang, priority, rk FROM r WHERE rk <= 10
        |ORDER BY doc_id""".stripMargin,

    "d_lang_balance" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_group FROM documents GROUP BY lang),
        |m AS (SELECT min(n_group) AS nmin FROM c),
        |r AS (
        |  SELECT lang, n_group,
        |    floor(1000 * sqrt(nmin::DOUBLE / n_group) + 0.000000001)::INT
        |      AS rate_permille
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang, r.n_group, r.rate_permille
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE (('0x' || substr(md5('balance_v1:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 1000) < r.rate_permille
        |ORDER BY d.doc_id""".stripMargin,

    "d_embedding_cos" ->
      s"""WITH $EmbPairsBody
         |SELECT block, a, b, cos FROM pairs ORDER BY block, a, b""".stripMargin,

    // exact all-pairs at τ=0.5, NO label restriction and NO blocking —
    // green iff the IVF multi-assign blocking missed nothing
    "d_embedding_cos_geo" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    round(
        |      list_sum(list_transform(range(1, 65),
        |        i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(range(1, 65),
        |           i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
        |       * sqrt(list_sum(list_transform(range(1, 65),
        |           i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)))), 4) AS cos
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
        |SELECT a, b, cos FROM p WHERE cos >= 0.5 ORDER BY a, b""".stripMargin,

    "d_semantic_keep" ->
      s"""WITH RECURSIVE $EmbPairsBody,
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |walk AS (
         |  SELECT a AS id, b AS reach FROM edges
         |  UNION
         |  SELECT w.id, e2.b AS reach FROM walk w JOIN edges e2 ON w.reach = e2.a),
         |rep AS (SELECT id, least(min(reach), id) AS rep FROM walk GROUP BY id)
         |SELECT v.vec_id, v.label FROM embeddings v
         |WHERE NOT EXISTS (SELECT 1 FROM rep r WHERE r.id = v.vec_id AND r.rep < r.id)
         |ORDER BY v.vec_id""".stripMargin,

    // Same dup-cluster closure; anchors = clustered ids, eligibility =
    // different-or-no cluster, ranking replays the 7-decimal cosine rule.
    "sim_hard_negatives" ->
      s"""WITH RECURSIVE $EmbPairsBody,
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |walk AS (
         |  SELECT a AS id, b AS reach FROM edges
         |  UNION
         |  SELECT w.id, e2.b AS reach FROM walk w JOIN edges e2 ON w.reach = e2.a),
         |rep AS (SELECT id, least(min(reach), id) AS rep FROM walk GROUP BY id),
         |s AS (
         |  SELECT qa.vec_id AS query_id, nb.vec_id AS neighbor_id,
         |    round(
         |      list_sum(list_transform(range(1, 65),
         |        i -> qa.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE))
         |      / (sqrt(list_sum(list_transform(range(1, 65),
         |           i -> qa.embedding[i]::DOUBLE * qa.embedding[i]::DOUBLE)))
         |       * sqrt(list_sum(list_transform(range(1, 65),
         |           i -> nb.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE)))), 7) AS cos
         |  FROM embeddings qa
         |  JOIN rep ra ON ra.id = qa.vec_id
         |  JOIN embeddings nb ON nb.vec_id <> qa.vec_id
         |  LEFT JOIN rep rn ON rn.id = nb.vec_id
         |  WHERE rn.rep IS NULL OR rn.rep <> ra.rep),
         |r2 AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos,
         |  TRUE AS mine_recall_ok
         |FROM r2 WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  )
}

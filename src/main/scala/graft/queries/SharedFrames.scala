package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The suite's shared memoized frames ([[graft.SessionMemo]]), enumerated
  * in one place so the bench can build them in a DEDICATED timed step before
  * per-query timing. Without this, a shared frame's build cost lands on
  * whichever consumer runs first in a pass — and when memory pressure
  * clears a soft reference or evicts checkpoint blocks mid-pass, on a
  * DIFFERENT query in the next pass, which is exactly the rep-variance
  * that made round 8's cluster-family numbers unreadable (reps spanning
  * 3.9× within one run). With the pre-build, per-query times measure the
  * query's own work and the shared-frame cost is one explicit,
  * round-comparable entry.
  *
  * Order is fixed and dependency-respecting (basket_pairs consumes
  * basket_items); every builder is idempotent (memo hit) and
  * materializes eagerly, so the pre-build cost is the true build cost.
  */
private[graft] object SharedFrames {

  /** A shared persisted base as a registrable frame: build it (the
    * family's `buildOnce`) and hand back its one-row `_meta` table.
    */
  private def baseMeta(ensure: (SparkSession, String) => String)
      : (SparkSession, String) => DataFrame =
    (s, d) => s.table(s"${ensure(s, d)}_meta")

  val builders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "minhash_sigs_w3" -> (DedupQueries.minhashSigsFrame _),
    "minhash_pairs" -> (DedupQueries.minhashPairEdges _),
    "dup_spans_w5" -> (DedupQueries.dupSpansFrame _),
    "simhash_w3" -> (DedupQueries.simhashFrame _),
    "emb_pairs" -> (DedupQueries.embeddingPairEdges _),
    "mh_base" -> baseMeta(DedupQueries.ensureMinhashBase),
    // the three curation signal frames — each consumed by its reporting
    // query AND the d_curate_full funnel (dup coverage also by
    // d_domain_gate)
    "dup_cov_w5" -> (DedupQueries.dupCoverageFrame _),
    "rep_signals" -> (TextQueries.repSignalsFrame _),
    "bp_cov3" -> (TextQueries.bpCoverageFrame _),
    "ivf_base" -> baseMeta(SimilarityQueries.ensureIvfBase),
    "ivfpq_base" -> baseMeta(SimilarityQueries.ensureIvfPqBase),
    // the exact full-corpus top-3 every full-corpus ANN recall
    // certificate is measured against
    "exact_top3" -> (SimilarityQueries.exactTop3 _),
    "kmeans_k8_i2" -> (SimilarityQueries.kmeansAssignFrame _),
    // the fused hybrid-retrieval pair (exact + served) — consumed by BOTH
    // sim_rag_batch and sim_rag_batch_mmr; the build is one brute pass +
    // three corpus BM25 passes + the two served probes, and without the
    // prewarm it lands on whichever consumer runs first. Builds the
    // exact frame; the served twin is seeded under its own memo key.
    // Depends on ivf_base (the served dense probe), so it sits after it.
    "rag_fused" -> ((s, d) => SimilarityQueries.ragBatchFused(s, d)._1),
    "bpe_merges6" -> (TextQueries.bpeMerges6 _),
    // the ULM trainer memo (pieces + segmentations), the frozen DoReMi
    // reference artifacts (full-corpus KN base + unigram cf), and the
    // per-doc NLL pair frame: without these the 2-round Viterbi-EM train
    // and the LM stats builds land on st_ulm_serving_parity /
    // st_kn_serving_parity / st_doremi_parity as first-consumer cost —
    // the exact misattribution this registry exists to kill
    "ulm2" -> ((s: SparkSession, d: String) => TextQueries.ulm2(s, d)._2),
    "kn_base" -> baseMeta(TextQueries.ensureKnBase),
    "kn3_base" -> baseMeta(TextQueries.ensureKn3Base),
    // the Wenzek scoring pass + bucket frame (consumed by tx_ppl_buckets
    // AND d_curate_ccnet — without the prewarm the LM-scoring cost lands
    // on whichever of the two runs first)
    "kn3_scored_all" -> (TextQueries.kn3ScoredAllFrame _),
    "ppl_buckets" -> (TextQueries.pplBucketsFrame _),
    "unigram_cf" -> (TextQueries.unigramCfFrame _),
    "doremi_nll" -> (TextQueries.doremiNllFrame _),
    "clf_weights" -> (TextQueries.classifierWeightsFrame _),
    "clf_holdout_weights" -> (TextQueries.holdoutWeightsFrame _),
    "langclf_feats" -> (TextQueries.langClfFeatures _),
    "langclf_weights" -> (TextQueries.langClfWeightsFrame _),
    "langclf_cfeats" -> (TextQueries.langClfCharFeatures _),
    "langclf_cweights" -> (TextQueries.langClfCharWeightsFrame _),
    "clf_cal_fit" -> (TextQueries.calibrationFitFrame _),
    // the flagship's curated-survivor frame (consumed by d_curate_ccnet
    // AND the r15 emit/funnel compositions — the gate chain must not
    // re-run once per consumer); depends on minhash_pairs + ppl_buckets
    // + the holdout/calibration frames above, so it prewarms AFTER them
    "curate_ccnet" -> (TextQueries.curateCcnetFrame _),
    "basket_items" -> (WarehouseQueries.basketItems _),
    "basket_pairs" -> (WarehouseQueries.basketPairCounts _),
    // the perceptual-hash frames (PNG / GIF codec round-trip + hash) —
    // each consumed by its plain AND hot-bucket-capped pair query
    "mm_img_ahash" -> (TextQueries.mmImageAHashFrame _),
    "mm_gif_fhash" -> (TextQueries.mmGifFrameAHashFrame _))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Overlap, SessionMemo}
import graft.functions.CrossHash
import graft.operators.{LinearModel, Multimodal, Sampling, Text, TextIndex}
import graft.sources.Tables

/** Text-analysis + multimodal-plumbing tier over `documents`: language ID,
  * quality scoring, token counting, fingerprinting, frame sampling. Every
  * formula mirrors exactly in the DuckDB oracle.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Suite-shared BPE merge table (6 merges): training runs once per
    * session+dir and the three BPE queries consume the same frame — the
    * in-session analogue of persisting the tokenizer artifact once for
    * all downstream consumers. Safe to memoize: deterministic for the
    * key, and every per-round frame inside bpeMerges is already
    * localCheckpointed.
    */
  private[queries] def bpeMerges6(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"bpe_merges6:$d") {
      Text.bpeMerges(docs(s, d), col("text"), nMerges = 6)
    }

  /** Shared ULM training run (2 Viterbi-EM rounds, maxPieceLen=4, 60
    * multi-char seeds) — `tx_ulm_vocab` reads the piece table,
    * `tx_ulm_encode` the word segmentation table; memoized so the pair
    * trains once per (session, corpus) like [[bpeMerges6]].
    */
  private[queries] def ulm2(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val pieces = SessionMemo.getOrCompute(s, s"ulm2_pieces:$d") {
      val (p, w) = Text.ulmTrain(docs(s, d), col("text"),
        maxPieceLen = 4, seedMulti = 60, rounds = 2)
      SessionMemo.put(s, s"ulm2_segs:$d", w)
      p
    }
    (pieces, SessionMemo.getOrCompute(s, s"ulm2_segs:$d") {
      Text.ulmTrain(docs(s, d), col("text"),
        maxPieceLen = 4, seedMulti = 60, rounds = 2)._2
    })
  }

  private def toks = CrossHash.tokens(col("text"))

  /** Shared persisted FULL-CORPUS KN bigram model — the frozen reference
    * LM the streaming serving/DoReMi twins score against. Built once per
    * (session, corpus) and prewarmed through [[SharedFrames]] so the
    * training pass lands on `shared_frame_builds`, not on whichever
    * streaming parity runs first (the round-8 first-consumer-attribution
    * lesson). The lifecycle queries (`tx_kn_serving`/`_ingest`/`_delete`)
    * keep their own prefixes — they test the WRITE verbs themselves.
    */
  private[queries] def ensureKnBase(s: SparkSession, d: String): String =
    Text.Kn.buildOnce(s, s"knlm_base_${ScratchKeys.forPath(d)}")(
      Text.Kn.write(_, Text.knCounts(docs(s, d), "doc_id", toks)))

  /** Shared persisted full-corpus TRIGRAM KN model — the tenth family's
    * frozen streaming-serving base, same attribution discipline as
    * [[ensureKnBase]].
    */
  private[queries] def ensureKn3Base(s: SparkSession, d: String): String =
    Text.Kn3.buildOnce(s, s"kn3_base_${ScratchKeys.forPath(d)}")(
      Text.Kn3.write(_, Text.kn3Counts(docs(s, d), "doc_id", toks)))

  /** Full-corpus (doc_id, n_trigrams, n_oov, nll) against the shared
    * frozen trigram-KN base — the Wenzek scoring pass, memoized AND
    * checkpointed so the bucketing's rank-statistics passes (quantile
    * boundaries, per-bucket counts) read a materialized frame instead of
    * re-running the LM join chain per pass.
    */
  private[graft] def kn3ScoredAllFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"kn3_scored_all:$d") {
      Text.scoreAgainstKn3Model(docs(s, d), "doc_id", toks, ensureKn3Base(s, d))
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint(true)
    }

  /** CCNet head/middle/tail buckets over the full scoreable corpus
    * (Wenzek et al. 2020 §4.3): exact rank by (nll asc, doc_id) via
    * [[graft.operators.Relational.globalRank]] — value-bucketed
    * per-partition windows + broadcast cumulative offsets, never a
    * corpus-sized single-partition sort (the r13 verdict #1 fix) — then
    * the integer tercile cuts ceil(n/3)/ceil(2n/3) as row-local `when`s
    * against driver-computed constants. Consumed by tx_ppl_buckets and
    * the d_curate_ccnet flagship gate.
    */
  private[queries] def pplBucketsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"ppl_buckets:$d") {
      val scored = kn3ScoredAllFrame(s, d)
      val n = scored.count()
      graft.operators.Relational
        .globalRank(scored, "nll", Seq("doc_id"), "rnk", buckets = 32)
        .withColumn("bucket",
          // integer cuts precomputed on the driver (Long division), the
          // same ceil(n/3)/ceil(2n/3) the oracle's `//` computes
          when(col("rnk") <= lit((n + 2) / 3), "head")
            .when(col("rnk") <= lit((n * 2 + 2) / 3), "middle")
            .otherwise("tail"))
        .localCheckpoint(true)
    }

  /** The CCNet+ flagship's curated-survivor frame (doc_id, lang, text,
    * n_tokens, quality, nll, bucket, cal_keep) — the full gate chain
    * (dedup survivors → lang allowlist → quality floor → Wenzek §4.3
    * perplexity gate → calibrated keep floor), memoized once per
    * (session, corpus) and prewarmed through [[SharedFrames]]:
    * `d_curate_ccnet` projects it, and the EMIT composition
    * (`d_curate_emit`) tokenizes/packs/shards it — without the shared
    * frame the whole chain would run once per consumer.
    *
    * The three gate inputs are independent chains, built at once through
    * nested [[Overlap.both]] calls, each running the plans and actions it
    * would run alone:
    *  - dedup: the MinHash pair edges, then [[graft.operators.Dedup.keepSurvivors]]'s
    *    connected-components pass;
    *  - LM: the trigram-KN base, the full-corpus scoring pass and the
    *    perplexity buckets (the longest chain: it sets the wall time);
    *  - classifier: features, holdout weights, the calibration fit and
    *    the calibrated keep (its isotonic map's checkpoint).
    * The gate join and its checkpoint run on the caller after the join.
    * The chains never request this frame's key, which the caller holds
    * while they run. A failing chain cancels the other two and leaves no
    * entry under this key, so the next call rebuilds.
    */
  private[graft] def curateCcnetFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"curate_ccnet:$d") {
      val (surv, (ppl, cal)) = Overlap.both {
        graft.operators.Dedup.keepSurvivors(
          docs(s, d), "doc_id", DedupQueries.minhashPairEdges(s, d))
      } {
        Overlap.both {
          pplBucketsFrame(s, d)
            .filter(col("bucket") =!= "tail")
            .select(col("doc_id"), col("nll"), col("bucket"))
        } {
          LinearModel.isotonicApply(
              LinearModel.scoreSquashedLinear(
                  classifierFeatures(s, d), ClfXCols, holdoutWeights(s, d))
                .select(col("doc_id"), col("score"),
                  round(col("score") + 1e-9, 4).as("lvl")),
              "lvl", calibrationFitFrame(s, d))
            .select(col("doc_id"),
              round(col("cal_score") + 1e-9, 7).as("cal_keep"))
            .filter(col("cal_keep") >= 0.5)
        }
      }
      val gated = surv
        .withColumn("tk", toks)
        .withColumn("quality", Text.qualityScore(col("text"), col("tk")))
        .filter(col("lang").isin("en", "de", "es", "fr")
          && col("quality") >= 0.5)
      gated.join(ppl, Seq("doc_id")).join(cal, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("text"),
          size(col("tk")).cast("long").as("n_tokens"), col("quality"),
          col("nll"), col("bucket"), col("cal_keep"))
        .localCheckpoint(true)
    }

  /** Shared persisted full-corpus ULM tokenizer (the eighth family) —
    * the frozen artifact the EMIT composition encodes against; built
    * once per (session, corpus) from the memoized [[ulm2]] pieces (the
    * training itself prewarms under `shared_frame_builds`).
    */
  private[queries] def ensureUlmBase(s: SparkSession, d: String): String =
    Text.Ulm.buildOnce(s, s"ulm_base_${ScratchKeys.forPath(d)}")(
      Text.writeUlmModel(ulm2(s, d)._1, _, maxPieceLen = 4))

  private[queries] val LangBins = 64
  private[queries] val LangSalt = 19 // all 16 lexicon words land in distinct bins
  private[queries] val LangCharSalt = 23 // the char-3-gram projection's salt
  // char-gram bin fractions are ~5x smaller than word-bin fractions
  // (hundreds of grams spread over 64 bins vs ~80 tokens over ~31
  // vocabulary bins), so the char student needs a proportionally larger
  // feature scale for the same 50 GD rounds to converge
  private[queries] val LangCharScale = 128.0
  private[queries] val LangCharIters = 150
  private[queries] val LangScale = 32.0
  private[queries] val LangClfIters = 50
  private[queries] val LangAgreeFloor = 0.7
  private[queries] val LangXCols: Seq[String] =
    "x0" +: (1 to LangBins).map(i => s"x$i")

  /** The rule-based TEACHER labeler the langid classifier distills —
    * tx_langid's exact scorer shape (lexicon hit-fraction, argmax with
    * declaration-order tie-break), over four lexicon families with real
    * corpus support. The natural-language lexicons can't serve as the
    * teacher here: the synthetic corpus' `lang` column is provably
    * INDEPENDENT of its text (per-lang rates of every non-English
    * stopword measured 0.0 at all three SFs, 2026-08-16 — see
    * BASELINE.md), so no model can beat the ~0.3 base rate against the
    * label. The machinery — rule teacher → hashed-feature linear student
    * → held-out agreement certificate — is exactly the CCNet/fastText
    * distillation pipeline; only the lexicons are corpus-adapted.
    */
  private[queries] val Dialects: Seq[(String, Seq[String])] = Seq(
    "joins" -> Seq("join", "merge", "hash", "key"),
    "filters" -> Seq("filter", "scan", "sort", "order"),
    "groups" -> Seq("group", "agg", "window", "batch"),
    "tables" -> Seq("table", "row", "column", "line"))

  /** Student features for the distilled langid classifier: x0 = 1 bias,
    * x{b+1} = 32 × (centered fraction of the doc's tokens whose SALTED
    * h60 hash lands in bin b) — the fastText hashing trick at a
    * dimension the oracle replays exactly. Centering by the TRAIN-split
    * bin means is what makes 50 full-batch GD rounds converge (the raw
    * bias/bin scale mismatch stalls the optimizer — measured holdout
    * agreement 0.27 uncentered vs 0.79–0.82 centered); the means are a
    * model-sized aggregate, embedded like any broadcast constant.
    * Everything is one row-local map pass over the corpus.
    */
  private[queries] def langClfFeatures(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"langclf_feats:$d") {
      langClfFeaturesImpl(s, d, grams = toks, salt = LangSalt,
        scale = LangScale)
    }

  /** Char-3-gram student features (r14 verdict #7) — fastText's ACTUAL
    * langid projection (hashed character n-grams) where the word-bin
    * student is corpus-vocabulary-bound: char-grams transfer to unseen
    * words/morphology, which is what a real multilingual gate needs.
    * Same teacher, centering, and scale as [[langClfFeatures]]; only
    * the hashed gram universe changes.
    */
  private[queries] def langClfCharFeatures(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"langclf_cfeats:$d") {
      langClfFeaturesImpl(s, d,
        grams = flatten(transform(toks, t =>
          CrossHash.charGrams(concat(lit("<"), t, lit(">")), 3))),
        salt = LangCharSalt, scale = LangCharScale)
    }

  private def langClfFeaturesImpl(
      s: SparkSession,
      d: String,
      grams: org.apache.spark.sql.Column,
      salt: Int,
      scale: Double): DataFrame = {
    // hash each gram ONCE into its bin id (one md5 per gram), then ALL
    // 64 bin counts come from ONE pass over the id array
    // (CrossHash.binCounts — r16; the previous 64 size(filter) passes
    // were ~2/3 of this frame's build time, and whole-stage codegen's
    // subexpression elimination evaluates the shared histogram once per
    // row under the 64 element_at projections). Hashing inside each
    // bin's filter would cost 64 md5s per gram.
    val binned = docs(s, d)
      .select(col("doc_id"), toks.as("__tk"), grams.as("__gr"))
      .withColumn("__bins", transform(col("__gr"), t =>
        pmod(CrossHash.h60Salted(salt, t), lit(LangBins.toLong))))
      .withColumn("__cnt", CrossHash.binCounts(col("__bins"), LangBins))
    val den = size(col("__gr")).cast("double")
    val nTok = size(col("__tk")).cast("double")
    val raw = (0 until LangBins).map { b =>
      (element_at(col("__cnt"), b + 1)
        .cast("double") / den).as(s"r${b + 1}")
    }
    val dialScores = Dialects.map { case (name, lex) =>
      name -> (size(filter(col("__tk"), t => array_contains(typedlit(lex), t)))
        .cast("double") / nTok)
    }.toMap
    val best = greatest(Dialects.map(dd => dialScores(dd._1)): _*)
    val teacher = Dialects.map(_._1).init.foldRight(
        lit(Dialects.last._1)) { (name, rest) =>
      when(dialScores(name) === best, lit(name)).otherwise(rest)
    }
    val withRaw = binned.select(
        Seq(col("doc_id"), teacher.as("dialect")) ++ raw: _*)
      .localCheckpoint(true)
    // train-split bin means: exact decimal sums, one double division —
    // the cross-engine mean device every replayed oracle uses
    val muRow = withRaw.filter(col("doc_id") % 5 =!= 0)
      .agg(count(lit(1)).as("n"),
        (1 to LangBins).map(b =>
          sum(col(s"r$b").cast("decimal(28,14)")).cast("double")
            .as(s"s$b")): _*)
      .head()
    val n = muRow.getLong(0).toDouble
    val xs = (1 to LangBins).map { b =>
      (lit(scale) * (col(s"r$b") - lit(muRow.getDouble(b) / n)))
        .as(s"x$b")
    }
    withRaw.select(
        Seq(col("doc_id"), col("dialect"), lit(1.0).as("x0")) ++ xs: _*)
      .localCheckpoint(true)
  }

  /** The four one-vs-rest weight vectors, trained on the %5≠0 split —
    * memoized like the other training artifacts (shared-frame
    * attribution) and collected model-sized.
    */
  private[queries] def langClfWeightsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"langclf_w:$d") {
      val tr = langClfFeatures(s, d).filter(col("doc_id") % 5 =!= 0)
      val rows = Dialects.flatMap { case (name, _) =>
        // driver-side (oracle-identical-arithmetic) trainer under the
        // cap: 50 rounds × 65 features as distributed aggregates would
        // pay Catalyst planning per round. The feature frame is
        // corpus-proportional (one row per doc, no sampling step), so
        // past maxRows the Auto verb trains DISTRIBUTED instead of
        // refusing — no cliff at 100 TB (r15 verdict #1).
        val w = LinearModel.trainSquashedLinearAuto(
          tr.withColumn("y", when(col("dialect") === name, 1.0).otherwise(0.0)),
          LangXCols, "y", lr = ClfLr, iters = LangClfIters)
        w.zipWithIndex.map { case (wj, j) => (name, j, wj) }
      }
      import s.implicits._
      rows.toDF("dialect", "j", "w").localCheckpoint(true)
    }

  private[queries] def langClfWeights(
      s: SparkSession, d: String): Map[String, Seq[Double]] =
    collectWeights(langClfWeightsFrame(s, d))

  /** The char-gram student's four one-vs-rest weight vectors — same
    * trainer, split, and rounds as [[langClfWeightsFrame]].
    */
  private[queries] def langClfCharWeightsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"langclf_cw:$d") {
      val tr = langClfCharFeatures(s, d).filter(col("doc_id") % 5 =!= 0)
      val rows = Dialects.flatMap { case (name, _) =>
        // Auto: driver GD under the cap, distributed past it — see
        // langClfWeightsFrame
        val w = LinearModel.trainSquashedLinearAuto(
          tr.withColumn("y", when(col("dialect") === name, 1.0).otherwise(0.0)),
          LangXCols, "y", lr = ClfLr, iters = LangCharIters)
        w.zipWithIndex.map { case (wj, j) => (name, j, wj) }
      }
      import s.implicits._
      rows.toDF("dialect", "j", "w").localCheckpoint(true)
    }

  private[queries] def langClfCharWeights(
      s: SparkSession, d: String): Map[String, Seq[Double]] =
    collectWeights(langClfCharWeightsFrame(s, d))

  private def collectWeights(wf: DataFrame): Map[String, Seq[Double]] =
    wf.collect()
      .groupBy(_.getString(0))
      .map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }

  /** Held-out serving for a distilled langid student: 7dp-rounded
    * squashed scores per dialect, declaration-order argmax, and the
    * `agree_ok` held-out teacher-agreement certificate (≥
    * [[LangAgreeFloor]] vs the ~0.3 base rate — a degenerate fit goes
    * RED, not quietly green). Shared by the word-bin and char-gram
    * students.
    */
  private def langClfServe(
      feats: DataFrame, ws: Map[String, Seq[Double]]): DataFrame = {
    val test = feats.filter(col("doc_id") % 5 === 0)
    val scores = Dialects.map { case (name, _) =>
      name -> round(LinearModel.squash(
        LinearModel.margin(LangXCols.map(col), ws(name))), 7)
    }.toMap
    val best = greatest(Dialects.map(dd => scores(dd._1)): _*)
    val pred = Dialects.map(_._1).init.foldRight(
        lit(Dialects.last._1)) { (name, rest) =>
      when(scores(name) === best, lit(name)).otherwise(rest)
    }
    val scored = test.select(
        col("doc_id"), col("dialect"),
        pred.as("pred_dialect"),
        best.as("best_score"))
      .withColumn("is_match", col("pred_dialect") === col("dialect"))
      .localCheckpoint(true) // feeds the certificate AND the output
    val agree = scored
      .agg(avg(when(col("is_match"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    scored.withColumn("agree_ok", lit(agree >= LangAgreeFloor))
      .orderBy("doc_id")
  }

  /** The suite's corpus-derived blocklist: top-10 word-bigram phrases by
    * count (ties lexicographic) — blocklist-sized, collected like a
    * broadcast. Automaton-illegal grams (empty, or containing an astral
    * codepoint the UTF-16 automaton cursor can't pattern on) are
    * excluded BEFORE the rank (r14 ADVICE: a post-limit sanitize would
    * silently shrink the top-k and misalign the take/drop lifecycle
    * slices against the oracle's LIMIT/OFFSET ranks); the oracles rank
    * the identical universe via the same exclusion predicate.
    */
  private[queries] def top10BigramBlocklist(
      s: SparkSession, d: String): Seq[String] =
    topBigramBlocklist(s, d, 10)

  /** Top-k variant — the serving/streaming lifecycle queries use k=12 so
    * ingest (ranks 11–12) and take-down (ranks 1–2) both act on real
    * entries. Returned IN RANK ORDER ((n desc, gram) — `take`/`drop`
    * slice by rank).
    */
  private[queries] def topBigramBlocklist(
      s: SparkSession, d: String, k: Int): Seq[String] =
    CrossHash.sanitizePatterns( // belt-and-braces: a no-op after the rank-time filter
      docs(s, d).withColumn("__tk", toks)
        .select(explode(CrossHash.wordShingles(col("__tk"), 2)).as("gram"))
        // the same legality predicate sanitizePatterns applies, moved
        // BEFORE the rank so both engines rank the same gram universe
        .filter(col("gram") =!= "" &&
          !col("gram").rlike("[\\x{10000}-\\x{10FFFF}]"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(k)
        .collect().map(_.getString(0)).toSeq)

  /** The blocklist occurrence scan over a documents-shaped frame — one
    * automaton pass per row, per-doc totals. Shared by tx_blocklist_scan
    * (inline top-10), tx_blocklist_serving (the persisted family's
    * resolved set) and the streamed ingest parity.
    */
  private[queries] def blocklistScan(
      dd: DataFrame, pats: Seq[String]): DataFrame =
    dd.select(col("doc_id"),
        posexplode(CrossHash.ahoCountsSafe(col("text"), pats))
          .as(Seq("pid", "cnt")))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_occurrences"),
        sum(when(col("cnt") > 0, 1).otherwise(0)).cast("long")
          .as("n_patterns_hit"))

  /** The blocklist-excision rewrite over a documents-shaped frame — the
    * stateless row-local transform tx_blocklist_scrub runs one-shot and
    * st_blocklist_parity replays per micro-batch: automaton span
    * emission, interval-union excision, removed-volume accounting.
    */
  private[queries] def blocklistScrub(
      dd: DataFrame, pats: Seq[String]): DataFrame =
    dd.select(col("doc_id"), col("text"),
        CrossHash.ahoSpansSafe(col("text"), pats).as("__sp"))
      .select(col("doc_id"),
        Text.exciseSpans(col("text"), col("__sp")).as("clean_text"),
        size(col("__sp")).cast("long").as("n_matches"),
        length(col("text")).cast("long").as("__n0"))
      .withColumn("n_removed_chars", col("__n0") - length(col("clean_text")))
      .select("doc_id", "clean_text", "n_matches", "n_removed_chars")

  /** Shared Gopher repetition-signal frame — consumed by
    * `tx_rep_signals` and the `d_curate_full` funnel's g4 gate.
    * Doc-count-sized.
    */
  private[queries] def repSignalsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"rep_signals:$d") {
      Text.repetitionSignals(docs(s, d), "doc_id", toks).localCheckpoint(true)
    }

  /** Shared boilerplate-coverage frame (top-500 word-3-grams by df) —
    * consumed by `tx_boilerplate` and the `d_curate_full` funnel's g5
    * gate. Doc-count-sized.
    */
  private[queries] def bpCoverageFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"bp_cov3:$d") {
      Text.boilerplateCoverage(
          docs(s, d).withColumn("__tk", toks), "doc_id",
          CrossHash.wordShingles(col("__tk"), 3), topK = 500)
        .localCheckpoint(true)
    }

  /** The image perceptual-hash frame (base corpus + planted twins,
    * PNG encode → decode → 8×8 average-hash), memoized: BOTH banded-pair
    * queries (`mm_ahash_pairs`, `_capped`) consume the identical frame,
    * and the codec round-trip is the dominant cost — without the memo
    * each variant re-encoded and re-decoded the whole corpus. Hash rows
    * are asset-sized, so the checkpoint is small.
    */
  private[queries] def mmImageAHashFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"mm_img_ahash:$d") {
      val base = Multimodal.synthesizePng(docs(s, d), "doc_id")
      val twins = Multimodal.synthesizePngNearDup(
        docs(s, d).filter(col("doc_id") % 25 === 0), "doc_id")
      Multimodal.imageAHash(base.unionByName(twins)).localCheckpoint(true)
    }

  /** The per-frame GIF hash frame (base + twins, GIF decode → per-frame
    * average-hash), memoized for the same two-consumer reason
    * (`mm_video_hash_pairs`, `_capped`). Frame-count-sized rows.
    */
  private[queries] def mmGifFrameAHashFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"mm_gif_fhash:$d") {
      val base = Multimodal.synthesizeGif(docs(s, d), "doc_id")
      val twins = Multimodal.synthesizeGifNearDup(
        docs(s, d).filter(col("doc_id") % 25 === 0), "doc_id")
      Multimodal.gifFrameAHash(base.unionByName(twins)).localCheckpoint(true)
    }

  /** Frozen full-corpus unigram (term, cf) statistics — the second
    * reference artifact of the DoReMi chain, memoized for the same
    * attribution reason as [[ensureKnBase]].
    */
  private[queries] def unigramCfFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"unigram_cf:$d") {
      Text.unigramTf(docs(s, d), "doc_id", toks)
        .groupBy("term").agg(sum("tf").as("cf"))
        .localCheckpoint(true)
    }

  /** Per-document (id, unll, knll, domain) — both DoReMi NLL chains plus
    * the lang domain label, computed once per (session, corpus): the
    * weights query, the realized sampler, the topic variant, and the
    * streaming parity's one-shot side all consume this frame.
    */
  private[queries] def doremiNllFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"doremi_nll:$d") {
      val dd = docs(s, d)
      val u = Text.unigramNll(dd, "doc_id", toks)
        .select(col("id"), col("nll").as("unll"))
      val kn = Text.knBigramNll(dd, "doc_id", toks)
        .select(col("id"), col("nll").as("knll"))
      u.join(kn, Seq("id"))
        .join(dd.select(col("doc_id").as("id"), col("lang").as("domain")),
          Seq("id"))
        .localCheckpoint(true)
    }

  /** Shared persisted inverted-index BASE (the 75% corpus at the serving
    * scoring params k1=1.2/b=0.75): `tx_bm25_indexed` probes it
    * read-only; the mutating verb trials (`tx_bm25_ingest`,
    * `tx_bm25_delete`) FORK it first — the build-once / fork-to-stage
    * discipline every persisted family follows. Built once per
    * (session, corpus).
    */
  private[queries] def ensureTextBase(s: SparkSession, d: String): String =
    TextIndex.Family.buildOnce(s, s"ti_base_${ScratchKeys.forPath(d)}")(
      TextIndex.writeTextIndex(docs(s, d).filter(col("doc_id") % 4 =!= 3), "doc_id", toks,
        _, buckets = 8))

  /** Fixed BM25 query bag — high-signal corpus terms (see the generator's
    * vocabulary in TESTDATA.md); the scoring is term-agnostic.
    */
  val BmQueryTerms: Seq[String] = Seq("spark", "query", "join", "stream")

  /** Deterministically SKEWED corpus for the retrieval cost-defense
    * certificates: the planted stop-term `zstopz` is appended to 90% of
    * documents (doc_id % 10 ≠ 0 — df_frac exactly 0.9000 at every SF,
    * measured), strictly above the generator vocabulary's 0.76–0.79
    * band, and the planted RARE term `zrarez` to 10% (doc_id % 10 = 1) —
    * the df shape real query bags have and the synthetic vocabulary
    * lacks (uniformly hot, so nothing organic is selective). The
    * construction is pure doc_id algebra, so a DuckDB oracle rebuilds
    * the identical corpus (the `d_minhash_lsh_capped` planted-skew
    * idiom) — which is what lets the elision THRESHOLD and the MaxScore
    * pruning be hash-proven instead of spec-argued.
    */
  private[queries] def skewedDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("lang"),
      when(col("doc_id") % 10 === 1, concat(col("text"), lit(" zstopz zrarez")))
        .when(col("doc_id") % 10 =!= 0, concat(col("text"), lit(" zstopz")))
        .otherwise(col("text")).as("text"))

  /** The skewed corpus as its oracle rebuilds it — interpolated into the
    * BM25 replays so the Spark construction and the SQL replay cannot
    * drift apart.
    */
  private[queries] val SkewTextSql: String =
    "CASE WHEN doc_id % 10 = 1 THEN text || ' zstopz zrarez' " +
      "WHEN doc_id % 10 <> 0 THEN text || ' zstopz' ELSE text END"

  /** Elision/MaxScore threshold between the planted stop-term (0.90) and
    * the hottest organic term (≤ 0.785 at both gated SFs).
    */
  private[queries] val SkewDfFrac = 0.85

  /** The skewed bag: the serving terms plus the planted stop-term — the
    * unvetted RAG bag the elision defense exists for.
    */
  private[queries] val SkewBag: Seq[String] = BmQueryTerms :+ "zstopz"

  /** The MaxScore bag adds the rare term: a selective query polluted by a
    * stop-term — the regime where the θ floor comes from the rare term's
    * candidates and the stop-term's postings never reach the scorer.
    */
  private[queries] val MaxScoreBag: Seq[String] = SkewBag :+ "zrarez"

  /** Batched-MaxScore request: the full skewed bag, a purely organic bag
    * (nothing plantable to prune — per-bag independence is the point),
    * and the maximally selective rare+stop pair.
    */
  private[queries] val MsBatchBags: Map[Long, Seq[String]] = Map(
    0L -> MaxScoreBag,
    1L -> Seq("table", "row", "scan"),
    2L -> Seq("zstopz", "zrarez"))

  /** Shared persisted index over [[skewedDocs]] (FULL corpus, default
    * scoring params) — probed read-only by the elision and MaxScore
    * certificates; built once per (session, corpus) like
    * [[ensureTextBase]].
    */
  private[queries] def ensureSkewBase(s: SparkSession, d: String): String =
    TextIndex.Family.buildOnce(s, s"ti_skew_${ScratchKeys.forPath(d)}")(
      TextIndex.writeTextIndex(skewedDocs(s, d), "doc_id", toks, _, buckets = 8))

  /** Fixed batch of query bags for the multi-query served probe —
    * overlapping vocabularies on purpose (bag 0 shares nothing with bag
    * 1; "batch"/"data"/"window" are corpus-common), so per-query df vs
    * batch-union term handling is actually exercised.
    */
  private[queries] val BmBatchBags: Map[Long, Seq[String]] = Map(
    0L -> BmQueryTerms,
    1L -> Seq("table", "row", "scan"),
    2L -> Seq("window", "filter", "merge", "batch", "data"))

  /** Oracle fragment: stopword hits for one language. */
  private def hitsSql(lang: String): String = {
    val list = Text.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($list, t)))"
  }

  private def scoreSql(lang: String): String =
    s"round(${hitsSql(lang)}::DOUBLE / len(toks), 4)"

  private[queries] val ClfXCols = Seq("x1", "x2", "x3", "x4")
  private[queries] val ClfLr = 16.0
  private[queries] val ClfIters = 50

  /** Classifier feature projection over a documents-shaped frame
    * (doc_id, x1..x4, y): bias, the three quality-score signals UNROUNDED
    * (volume, en-stopword ratio, avg word length — each a ratio of exact
    * integers, so the doubles are engine-identical), and the teacher
    * label y = 1.0 iff the composite quality gate clears 0.62 (≈ the
    * corpus median — a balanced split at both SFs). The label is a
    * NONLINEAR function of the features (the round() grid + the
    * threshold), so distilling it through the squashing link is a genuine
    * fit, not an identity. Pure row-local projection — the serving path
    * applies it per micro-batch.
    */
  private[queries] def classifierFeatureCols(df: DataFrame): DataFrame = {
    val tk = toks
    val enHits = size(filter(tk,
      t => array_contains(typedlit(Text.stopwords("en")), t)))
    df.select(
      col("doc_id"),
      lit(1.0).as("x1"),
      least(size(tk) / lit(50.0), lit(1.0)).as("x2"),
      (enHits.cast("double") / size(tk)).as("x3"),
      least((length(regexp_replace(col("text"), "\\s+", "")).cast("double")
        / size(tk)) / lit(8.0), lit(1.0)).as("x4"),
      when(Text.qualityScore(col("text"), tk) >= 0.62, 1.0)
        .otherwise(0.0).as("y"))
  }

  /** The corpus feature frame, materialized once per (session, dir):
    * training scans it `ClfIters` times, scoring once.
    */
  private[queries] def classifierFeatures(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"clf_features:$d") {
      classifierFeatureCols(docs(s, d)).localCheckpoint(true)
    }

  /** Suite-shared learned weights (trains once per session+dir; the
    * weights ride a 4-row memoized frame so Bench charges training to the
    * shared-frame entry).
    */
  private[queries] def classifierWeightsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"clf_weights:$d") {
      // the driver-side ORACLE-IDENTICAL trainer (the langid students'
      // trainer — same arithmetic, same GD-replay oracles): the
      // distributed twin pays Catalyst planning + codegen + job launch
      // PER ROUND (measured r15: ~0.2 s × 50 rounds ≈ 7 s for a 5000-row
      // checkpointed frame whose per-round aggregation is microseconds
      // of actual work). classifierFeatures is corpus-proportional (one
      // row per doc, no sampling step), so the Auto verb keeps the
      // driver fast path under the cap and falls back to the UNCHANGED
      // distributed trainSquashedLinear past it — trains at any scale
      // instead of refusing (r15 verdict #1); scoring (the corpus-scan
      // side) stays distributed either way.
      val w = LinearModel.trainSquashedLinearAuto(
        classifierFeatures(s, d), ClfXCols, "y", ClfLr, ClfIters)
      s.createDataFrame(w.toSeq.zipWithIndex.map { case (v, j) => (j, v) })
        .toDF("j", "w").localCheckpoint(true)
    }

  private[queries] def classifierWeights(s: SparkSession, d: String): Seq[Double] =
    classifierWeightsFrame(s, d).orderBy("j").select("w")
      .collect().map(_.getDouble(0)).toSeq

  /** The HOLDOUT-trained weights (doc_id % 5 ≠ 0 only), memoized like
    * [[classifierWeightsFrame]]: `tx_clf_holdout` and the calibration
    * pair train once between them, and the 50-round GD lands on the
    * shared-frame entry.
    */
  private[queries] def holdoutWeightsFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"clf_holdout_weights:$d") {
      // driver GD under the cap, distributed past it — see
      // classifierWeightsFrame
      val w = LinearModel.trainSquashedLinearAuto(
        classifierFeatures(s, d).filter(col("doc_id") % 5 =!= 0),
        ClfXCols, "y", ClfLr, ClfIters)
      s.createDataFrame(w.toSeq.zipWithIndex.map { case (v, j) => (j, v) })
        .toDF("j", "w").localCheckpoint(true)
    }

  private[queries] def holdoutWeights(s: SparkSession, d: String): Seq[Double] =
    holdoutWeightsFrame(s, d).orderBy("j").select("w")
      .collect().map(_.getDouble(0)).toSeq

  /** The isotonic calibration map fitted on the TRAIN split's 4-decimal
    * score levels under the holdout weights — memoized because three
    * queries consume it (the calibrated audit, the persisted-serving
    * round trip, and the streaming twin) and the fit is deterministic
    * for (session, corpus). Grid-bounded (≤ 10⁴ levels), so the memo is
    * model-sized.
    */
  private[queries] def calibrationFitFrame(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrCompute(s, s"clf_cal_fit:$d") {
      val levels = LinearModel.scoreSquashedLinear(
          classifierFeatures(s, d).filter(col("doc_id") % 5 =!= 0),
          ClfXCols, holdoutWeights(s, d))
        .select(round(col("score") + 1e-9, 4).as("lvl"), col("y"))
        .groupBy("lvl")
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos"))
      LinearModel.isotonicFit(levels).localCheckpoint(true)
    }

  /** Oracle fragment: the full GD replay as ONE recursive CTE over the
    * weight row (the q_pagerank iteration idiom — a per-round CTE chain
    * hits DuckDB's binder recursion ceiling and its CTE-inlining blowup
    * long before 50 rounds). Each recursive step inlines the margin
    * (left-associated Σ wⱼ·xⱼ, token-for-token the Spark evaluation
    * order), sums the DECIMAL(28,14) per-row gradient contributions
    * exactly, and emits the updated weight row; `mf` re-derives the
    * margin under the FINAL weights for scoring.
    */
  /** Shared oracle body ending in `sc(doc_id, y, s7)` — the FULL
    * classifier replay (feature derivation, every GD round via the
    * recursive weight-row CTE, final margin + 7-decimal score):
    * `tx_quality_classifier` reports it, the streaming serving parity
    * consumes it with a pinned-TRUE certificate.
    */
  private[queries] def classifierCtes: String = classifierCtesImpl(holdout = false)

  /** The holdout variant: train on doc_id % 5 ≠ 0, score the held-out
    * fifth — same replay, different frames bound to the GD loop and the
    * scoring margin.
    */
  private[queries] def classifierHoldoutCtes: String = classifierCtesImpl(holdout = true)

  private def classifierCtesImpl(holdout: Boolean): String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, lang, text, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |""".stripMargin + classifierCtesSansT(holdout)

  /** [[classifierCtesImpl]] without its leading `WITH RECURSIVE t` header —
    * for composed oracles that declare one shared `t` superset (the `t`
    * here is already the (doc_id, lang, text, toks) superset the other
    * chains' narrower `t`s project from).
    */
  private def classifierCtesSansT(holdout: Boolean): String = {
    val trainWhere = if (holdout) " WHERE doc_id % 5 <> 0" else ""
    val testCte =
      if (holdout) "ftest AS (SELECT * FROM fall WHERE doc_id % 5 = 0),\n" else ""
    s"""fall AS (
       |  SELECT doc_id,
       |    1.0 AS x1,
       |    least(len(toks) / 50.0, 1.0) AS x2,
       |    ${hitsSql("en")}::DOUBLE / len(toks) AS x3,
       |    least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
       |           / len(toks)) / 8.0, 1.0) AS x4,
       |    CASE WHEN round(
       |      least(len(toks) / 50.0, 1.0) * 0.5
       |      + (${hitsSql("en")}::DOUBLE / len(toks)) * 0.3
       |      + least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
       |               / len(toks)) / 8.0, 1.0) * 0.2 + 0.000000001, 4) >= 0.62
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM t),
       |f AS (SELECT * FROM fall$trainWhere),
       |$testCte${gdCtes(ClfIters, ClfLr.toString, if (holdout) "ftest" else "f")},
       |sc AS (
       |  SELECT doc_id, y,
       |         round(0.5 + (0.5 * m) / (1.0 + abs(m)), 7) AS s7
       |  FROM mf)""".stripMargin
  }

  private def gdCtes(iters: Int, lr: String, scoreFrom: String): String = {
    val sig = "(0.5 + (0.5 * m) / (1.0 + abs(m)))"
    val ds = "(0.5 / ((1.0 + abs(m)) * (1.0 + abs(m))))"
    val grads = (1 to 4).map { j =>
      s"w$j - $lr * (sum(CAST((($sig - y) * $ds) * x$j AS DECIMAL(28,14)))::DOUBLE / count(*))"
    }.mkString(",\n|    ")
    s"""gd(it, w1, w2, w3, w4) AS (
       |  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
       |  UNION ALL
       |  SELECT it + 1,
       |    $grads
       |  FROM (
       |    SELECT gd.it, gd.w1, gd.w2, gd.w3, gd.w4,
       |           f.x1, f.x2, f.x3, f.x4, f.y,
       |           (((f.x1 * gd.w1) + (f.x2 * gd.w2)) + (f.x3 * gd.w3))
       |             + (f.x4 * gd.w4) AS m
       |    FROM gd, f WHERE gd.it < $iters) z
       |  GROUP BY it, w1, w2, w3, w4),
       |mf AS (
       |  SELECT $scoreFrom.doc_id, $scoreFrom.y,
       |    ((($scoreFrom.x1 * fw.w1) + ($scoreFrom.x2 * fw.w2)) + ($scoreFrom.x3 * fw.w3))
       |      + ($scoreFrom.x4 * fw.w4) AS m
       |  FROM $scoreFrom, (SELECT w1, w2, w3, w4 FROM gd WHERE it = $iters) fw)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Language ID: per-language stopword scores, argmax with fixed
    // preference-order tie-break, compared against the metadata lang.
    "tx_langid" -> ((s, d) => {
      val scored = docs(s, d).withColumn("tk", toks)
      val scores = Text.langs.map(l => l -> Text.langScore(col("tk"), l)).toMap
      scored.select(
          col("doc_id"),
          col("lang"),
          Text.langPredict(scores).as("pred_lang"),
          greatest(Text.langs.map(scores): _*).as("best_score"))
        .withColumn("is_match", col("pred_lang") === col("lang"))
        .orderBy("doc_id")
    }),

    // Distilled language-ID CLASSIFIER (r13 verdict #6) — tx_langid's
    // hand-rule scorer distilled into the CCNet-shaped TRAINED model:
    // four one-vs-rest squashed-linear probes over salted hashed
    // word-unigram bins (h60 mod 64, train-mean-centered — the fastText
    // hashing trick at a dimension the oracle can replay), trained
    // full-batch GD on the %5≠0 split only, argmax-served on the UNSEEN
    // fifth with the declaration-order tie-break. The teacher is the
    // lexicon rule in [[Dialects]] (the labeled `lang` column is
    // provably text-independent in this corpus — see the Dialects doc).
    // The oracle replays ALL FOUR GD chains (4 × 50 rounds × 65 weights
    // as recursive CTEs), the centering, the scoring, and the argmax —
    // the learned weights themselves are hash-verified. `agree_ok`
    // certifies held-out teacher agreement ≥ 0.7 vs a ~0.3 base rate
    // (measured 0.79/0.82/0.81 at the three SFs — the holdout_acc_ok
    // idiom: a degenerate fit goes RED, not quietly green).
    "tx_langid_clf" -> ((s, d) =>
      langClfServe(langClfFeatures(s, d), langClfWeights(s, d))),

    // The char-3-gram langid student (r14 verdict #7) — the same
    // distillation pipeline over fastText's actual feature universe:
    // hashed character 3-grams instead of word unigrams, so the model
    // transfers to unseen words where the word-bin student is
    // corpus-vocabulary-bound. Same teacher, split, trainer, rounds,
    // and held-out agreement certificate; the oracle replays all four
    // GD chains over the char-gram bins.
    "tx_langid_chargram" -> ((s, d) =>
      langClfServe(langClfCharFeatures(s, d), langClfCharWeights(s, d))),

    // Quality scoring: volume / fluency-proxy / lexical-weight composite.
    // Rule-distillation linear probe (the FineWeb-Edu-shaped classifier
    // filter, with the hand-written quality gate as the teacher): full-
    // batch GD (50 rounds, lr=16, Elliott squashing link — exp-free so
    // every arithmetic step is engine-exact) distills the thresholded
    // composite quality rule back out of its raw signals, then scores the
    // corpus (student/teacher agreement 0.91/0.93 at sf0.01/0.1 vs a 0.55
    // base rate). The oracle replays ALL FIFTY GD rounds — the learned
    // weights themselves are hash-verified, not just the scores.
    "tx_quality_classifier" -> ((s, d) => {
      val feats = classifierFeatures(s, d)
      LinearModel.scoreSquashedLinear(feats, ClfXCols, classifierWeights(s, d))
        .select(col("doc_id"),
          round(col("score") + 1e-9, 4).as("score"),
          col("pred").as("pred_keep"),
          (col("y") === 1.0).as("is_good"))
        .orderBy("doc_id")
    }),

    // Calibration audit for the quality classifier — the reliability
    // diagram a model-based filter needs before its scores can gate data
    // (a miscalibrated filter silently shifts the kept distribution):
    // predicted scores bucket into deciles, each bin reports mean
    // prediction vs empirical positive rate and their gap, plus the
    // expected calibration error (ECE, the n-weighted mean gap). The
    // oracle replays the full 50-round GD training and every bin stat.
    "tx_clf_calibration" -> ((s, d) => {
      val feats = classifierFeatures(s, d)
      val scored = LinearModel.scoreSquashedLinear(
        feats, ClfXCols, classifierWeights(s, d))
      val agg = scored
        .withColumn("bin",
          least(floor(col("score") * 10 + lit(1e-9)), lit(9L)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round((sum(col("score").cast("decimal(28,14)")).cast("double")
            / count(lit(1))) + 1e-9, 7).as("avg_pred"),
          round((sum(col("y").cast("decimal(28,14)")).cast("double")
            / count(lit(1))) + 1e-9, 7).as("pos_rate"))
        .withColumn("gap",
          round(abs(col("avg_pred") - col("pos_rate")) + 1e-9, 7))
      val all = Window.partitionBy(lit(1))
      agg.withColumn("ece", round(
          (sum((col("gap") * col("n")).cast("decimal(28,14)")).over(all)
            .cast("double") / sum(col("n")).over(all)) + 1e-9, 7))
        .orderBy("bin")
    }),

    // CALIBRATED classifier scoring — the fix the calibration audit
    // demanded (tx_clf_calibration measured ECE 0.260/0.238: scores
    // compress toward 0.5 under the exp-free link): fit isotonic
    // regression (PAV, via its relational minimax closed form) on the
    // TRAIN split's (4-decimal score level → empirical positive rate)
    // table, then score the held-out fifth through the calibrated step
    // map. Reported per held-out decile-of-calibrated-score: bin stats,
    // the post-calibration ECE, the RAW-score ECE on the same split, and
    // `improved` = calibrated < raw — the certificate that the fitted
    // map actually moves scores onto the probability scale. The oracle
    // replays the full holdout GD training, the level aggregation, the
    // complete PAV minimax, the step-map application, and both ECE
    // chains.
    "tx_clf_calibrated" -> ((s, d) => {
      val feats = classifierFeatures(s, d)
      val w = holdoutWeights(s, d)
      val test = feats.filter(col("doc_id") % 5 === 0)
      val fit = calibrationFitFrame(s, d)
      val scoredTest = LinearModel.scoreSquashedLinear(test, ClfXCols, w)
        .select(col("doc_id"), col("y"), col("score"),
          round(col("score") + 1e-9, 4).as("lvl"))
      val applied = LinearModel.isotonicApply(scoredTest, "lvl", fit)
        .withColumn("cal7", round(col("cal_score") + 1e-9, 7))
        .localCheckpoint(true) // feeds both ECE chains below
      // NOTE the raw chain bins `score` directly: scoreSquashedLinear
      // already rounds to 7dp at the source (LinearModel.scala), so
      // `score` IS the oracle's s7 — both ECE chains and the lvl
      // derivation sit on the identical 7dp grid, no double-rounding gap
      def eceOf(df: DataFrame, scoreC: String): DataFrame = df
        .withColumn("bin",
          least(floor(col(scoreC) * 10 + lit(1e-9)), lit(9L)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round((sum(col(scoreC).cast("decimal(28,14)")).cast("double")
            / count(lit(1))) + 1e-9, 7).as("avg_pred"),
          round((sum(col("y").cast("decimal(28,14)")).cast("double")
            / count(lit(1))) + 1e-9, 7).as("pos_rate"))
        .withColumn("gap",
          round(abs(col("avg_pred") - col("pos_rate")) + 1e-9, 7))
      def eceScalar(bins: DataFrame): Double = bins.agg(round(
        (sum((col("gap") * col("n")).cast("decimal(28,14)")).cast("double")
          / sum(col("n"))) + 1e-9, 7)).head().getDouble(0)
      val calBins = eceOf(applied, "cal7").localCheckpoint(true)
      val eceCal = eceScalar(calBins)
      val eceRaw = eceScalar(eceOf(applied, "score"))
      // `improved` pins TRUE in the oracle (the holdout_acc_ok idiom): a
      // calibration pass that fails to beat the raw-score ECE goes RED,
      // not quietly false-and-green
      calBins
        .withColumnRenamed("avg_pred", "avg_cal")
        .withColumn("ece_cal", lit(eceCal))
        .withColumn("ece_raw", lit(eceRaw))
        .withColumn("improved", lit(eceCal < eceRaw))
        .select("bin", "n", "avg_cal", "pos_rate", "gap",
          "ece_cal", "ece_raw", "improved")
        .orderBy("bin")
    }),

    // Persisted CALIBRATED-classifier serving — the sixth family extended
    // with its calibration artifact (write weights + `_cal` step map ->
    // reopen -> score-from-stored): the held-out fifth scores against the
    // STORED artifacts, so the raw score, the step-map lookup, and the
    // calibrated probability all come off disk, generation-resolved. The
    // oracle replays holdout training, the PAV fit, and the step-map
    // application — a stored map drifting from the fitted one
    // hash-mismatches.
    "tx_clf_cal_serving" -> ((s, d) => {
      val prefix = s"clf_cal_${ScratchKeys.forPath(d)}"
      LinearModel.Calibrated.drop(s, prefix)
      LinearModel.writeCalibratedLinearModel(s, prefix, ClfXCols,
        holdoutWeights(s, d), calibrationFitFrame(s, d))
      LinearModel.scoreAgainstCalibratedModel(
          classifierFeatures(s, d).filter(col("doc_id") % 5 === 0), prefix)
        .select(col("doc_id"),
          round(col("score") + 1e-9, 4).as("score"),
          round(col("cal_score") + 1e-9, 7).as("cal_score"),
          (col("y") === 1.0).as("is_good"))
        .orderBy("doc_id")
    }),

    // Held-out generalization check — the train/eval split discipline:
    // the probe trains on doc_id % 5 != 0 ONLY and scores the unseen
    // fifth; `holdout_acc_ok` certifies held-out agreement >= 0.8
    // (measured 0.930/0.936 at sf0.01/0.1 vs a 0.54 test base rate), so
    // a memorization-only or degenerate fit fails the gate. The oracle
    // replays the split, the 50 train rounds, and the test scoring.
    "tx_clf_holdout" -> ((s, d) => {
      val feats = classifierFeatures(s, d)
      val test = feats.filter(col("doc_id") % 5 === 0)
      val w = holdoutWeights(s, d)
      val scored = LinearModel.scoreSquashedLinear(test, ClfXCols, w)
        .select(col("doc_id"),
          round(col("score") + 1e-9, 4).as("score"),
          col("pred").as("pred_keep"),
          (col("y") === 1.0).as("is_good"))
        .localCheckpoint(true) // consumed by the certificate AND the output
      val acc = scored
        .agg(avg(when(col("pred_keep") === col("is_good"), 1.0).otherwise(0.0)))
        .head().getDouble(0)
      scored.withColumn("holdout_acc_ok", lit(acc >= 0.8)).orderBy("doc_id")
    }),

    "tx_quality" -> ((s, d) =>
      docs(s, d).withColumn("tk", toks)
        .select(
          col("doc_id"),
          Text.tokenCount(col("tk")).as("n_tokens"),
          round(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
            / size(col("tk")), 4).as("avg_word_len"),
          Text.qualityScore(col("text"), col("tk")).as("quality"))
        .orderBy("doc_id")),

    // Token counting: whitespace words, BPE-ish regex tokens, and a
    // ceil(len/4) subword estimate.
    "tx_tokens" -> ((s, d) =>
      docs(s, d).withColumn("tk", toks)
        .select(
          col("doc_id"),
          Text.tokenCount(col("tk")).as("n_tokens"),
          Text.bpeishCount(col("text")).as("n_bpeish"),
          aggregate(
            transform(col("tk"), t => ceil(length(t) / 4.0)),
            lit(0L), (acc, v) => acc + v).as("n_subwords"))
        .orderBy("doc_id")),

    // Fingerprints: whole-doc md5, bag-of-words md5, winnowing-style
    // min-8-gram rolling hash.
    "tx_fingerprint" -> ((s, d) =>
      docs(s, d).withColumn("tk", toks)
        .select(
          col("doc_id"),
          Text.docFingerprint(col("text")).as("doc_fp"),
          Text.bagOfWordsFingerprint(col("tk")).as("bow_fp"),
          Text.minGramFingerprint(col("text"), 8).as("min_gram_fp"))
        .orderBy("doc_id")),

    // Normalization: the canonical lowercase/strip/collapse pipeline, with
    // the fingerprint of the normalized form.
    "tx_normalize" -> ((s, d) =>
      docs(s, d).select(
          col("doc_id"),
          Text.normalize(col("text")).as("norm_text"),
          md5(Text.normalize(col("text"))).as("norm_fp"),
          length(Text.normalize(col("text"))).cast("long").as("norm_len"))
        .orderBy("doc_id")),

    // TF-IDF: top-5 terms per document by smoothed tf-idf, ties broken by
    // term — corpus-statistics relevance weighting (df + idf join-back).
    "tx_tfidf" -> ((s, d) => {
      val scored = Text.tfidf(docs(s, d), "doc_id", toks)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("id").as("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // BM25: every document scored against a fixed query-term bag, top 20
    // by (score desc, doc_id) via TakeOrderedAndProject — no global window.
    "tx_bm25" -> ((s, d) =>
      Text.bm25(docs(s, d), "doc_id", toks, BmQueryTerms)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)),

    // Corpus-level chunk dedup + document reassembly — the MassiveText-
    // style "remove duplicated paragraphs corpus-wide" pass on the CDC
    // segmentation: each chunk survives only at its first (doc_id,
    // chunk_no) occurrence, documents are rebuilt from their survivors,
    // fully-duplicated documents collapse to empty with n_kept = 0. The
    // first-occurrence argmin is a map-side-combinable min(struct), not
    // a window. The oracle replays segmentation, argmin and reassembly.
    "tx_chunk_dedup" -> ((s, d) =>
      Text.chunkDedup(docs(s, d), "doc_id", col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // DSIR data selection: hashed-unigram bag models over the TARGET
    // slice (lang = 'en') vs the RAW corpus, add-one smoothed; every doc
    // scored by mean log importance ratio, deterministic top-50 by
    // (weight, id). Selecting with lang hidden from the scorer, the
    // top-50 should be (and is) overwhelmingly the target language —
    // the oracle replays bins, both models, and the decimal-summed
    // per-doc ratio.
    "tx_dsir_sample" -> ((s, d) =>
      Text.dsirWeights(docs(s, d), "doc_id", toks, col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("dsir_w").desc, col("doc_id"))
        .limit(50)),

    // SERVED BM25 — the sparse-retrieval index family's read-only probe:
    // top-20 against the persisted inverted index (postings bucketed by
    // term → bucket-pruned scan, stats partials summed, df computed live
    // from the probed terms). Must equal the one-shot Text.bm25 over the
    // indexed subset — the oracle replays exactly that.
    "tx_bm25_indexed" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.bm25AgainstIndex(s, prefix, BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
    }),

    // Metadata-filtered serving probe (the RAG filter clause): top-20
    // among lang='en' documents only, with idf/avgdl deliberately
    // corpus-global (Lucene/ES semantics — a filter must not re-rank the
    // surviving matches; the dense tier's filtered probe documents the
    // opposite, pre-filter contract). The oracle keeps stats over the
    // indexed corpus and applies the predicate to candidates only — a
    // stats-shifting implementation would hash-mismatch.
    "tx_bm25_filtered" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.bm25FilteredAgainstIndex(s, prefix, BmQueryTerms,
          docs(s, d).filter(col("lang") === "en").select("doc_id"), kTop = 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
    }),

    // Hot-term audit over the persisted postings (the d_band_stats
    // discipline for retrieval): per-term df + corpus fraction, hottest
    // first — what an operator reads before probing with an unvetted
    // bag; the acting defenses are idf (semantic), the maxDfFrac elision
    // verb (cost; spec-proven) and compaction (layout).
    "tx_postings_stats" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.postingsStats(s, prefix, topN = 10)
    }),

    // Exact phrase search over the positional postings — per-term
    // occurrence positions shifted by the term's phrase offset and
    // set-intersected (IIR §2.4), ranked by occurrence count. The oracle
    // replays positions with ordinality and the same INTERSECT.
    "tx_phrase_search" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.phraseSearchAgainstIndex(s, prefix, Seq("table", "hash"), kTop = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("n_hits").desc, col("doc_id"))
    }),

    // Ordered proximity: every 'table' anchor with a 'hash' within the
    // next 3 positions, distinct anchors per doc — the NEAR/k verb; the
    // oracle replays the per-doc position range pairing.
    "tx_near_search" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.proximitySearchAgainstIndex(
          s, prefix, "table", "hash", maxDist = 3, kTop = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("n_hits").desc, col("doc_id"))
    }),

    // Batched serving probe: three query bags answered in ONE pruned
    // postings pass (term-union literal pushdown keeps the bucket
    // pruning; per-query fan-out is a broadcast join; per-query top-5 is
    // one WindowGroupLimit window). Must equal three independent
    // single-query probes — the oracle replays each bag's BM25 from the
    // same corpus statistics.
    "tx_bm25_batch" -> ((s, d) => {
      val prefix = ensureTextBase(s, d)
      TextIndex.bm25BatchAgainstIndex(s, prefix, BmBatchBags, kTop = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("query_id", "rank")
    }),

    // Common-term elision, HASH-PROVEN at a real threshold (the round-10
    // verdict's weak-on-evidence gap): the skewed base plants `zstopz`
    // at df 0.90 over the 0.76–0.79 organic band, the probe runs the
    // serving bag + the stop-term THROUGH THE FILTERED SHAPE (lang='en'
    // candidates — the elision now threads all three probe shapes) at
    // maxDfFrac = 0.85, and the oracle REPLAYS the boundary (rebuilds
    // the skewed corpus from doc_id algebra, recomputes df, applies the
    // same `df ≤ 0.85·n` double comparison). Wrong threshold, wrong df
    // base, or elision leaking into stats each hash-mismatch.
    "tx_bm25_elided" -> ((s, d) => {
      val prefix = ensureSkewBase(s, d)
      TextIndex.bm25FilteredAgainstIndex(s, prefix, SkewBag,
          docs(s, d).filter(col("lang") === "en").select("doc_id"),
          kTop = 20, maxDfFrac = SkewDfFrac)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
    }),

    // MaxScore top-k pruning — the LOSSLESS cost defense the elision
    // approximates: per-term upper bounds from the `_maxscores`
    // partials, θ from the rarest term's exact scores, the stop-term's
    // postings never reach the scoring pipeline — and the top-20 must
    // still equal the EXHAUSTIVE scoring bit-for-bit, which is exactly
    // what the oracle replays (pruning needs no replay of its own: green
    // IS the losslessness proof, the d_setsim_exact discipline). The
    // certificate column additionally pins that pruning ENGAGED (a
    // never-pruning implementation would pass the rows but fail the
    // audit).
    // engageMinPostings = 0 FORCES the θ phase: this certificate proves
    // the pruning MACHINERY (lossless + actually engaged — nPruned > 0
    // is the unambiguous signal; nEssential < nTerms is also true for a
    // merely-absent term). The adaptive default gate is proven
    // separately (OperatorsSpec equality on both sides of the
    // threshold; the break-even measured 2026-08-15 is in BASELINE.md
    // "MaxScore pruning").
    "tx_bm25_maxscore" -> ((s, d) => {
      val prefix = ensureSkewBase(s, d)
      val (top, audit) = TextIndex.bm25MaxScoreWithAudit(
        s, prefix, MaxScoreBag, kTop = 20, engageMinPostings = 0L)
      top.select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .withColumn("pruned_ok",
          lit(audit.theta.isDefined && audit.nPruned > 0))
    }),

    // Batched MaxScore — the serving fan-in with per-bag pruning but
    // SHARED passes (one bounds scan, one θ pass, one final pass for the
    // whole request batch). Per-bag independence matters: bag 0 and the
    // rare+stop bag 2 must prune while the purely organic bag 1 scores
    // whatever its own floor allows — and every bag's top-5 must equal
    // the exhaustive batched scoring bit-for-bit, which is exactly what
    // the oracle replays. The certificate pins that bags 0 and 2 engaged.
    "tx_bm25_batch_maxscore" -> ((s, d) => {
      val prefix = ensureSkewBase(s, d)
      val (top, audits) = TextIndex.bm25MaxScoreBatchWithAudit(
        s, prefix, MsBatchBags, kTop = 5, engageMinPostings = 0L)
      top.withColumnRenamed("id", "doc_id")
        .withColumn("pruned_ok", lit(
          audits(0L).nPruned > 0 && audits(2L).nPruned > 0))
        .orderBy("query_id", "rank")
    }),

    // Exactly-once retrieval ingest under at-least-once delivery — the
    // minhash tier's d_exactly_once_ingest discipline on the inverted
    // index: the day's batch arrives twice-ish (a mid-append crash with
    // intent recorded and half the rows in, then a full redelivery after
    // success). The ledger must scrub the partial residue (physical
    // excision through the bucket-preserving compaction path + stats
    // re-sum) and skip the redelivery, leaving the index EXACTLY the
    // clean build: the probe must match the full-corpus one-shot BM25,
    // and the certificate pins stats-vs-corpus totals and the three verb
    // outcomes.
    "tx_bm25_ingest" -> ((s, d) => {
      val prefix = s"ti_eo_${ScratchKeys.forPath(d)}"
      TextIndex.Family.drop(s, prefix)
      TextIndex.Family.fork(s, ensureTextBase(s, d), prefix)
      val day = docs(s, d).filter(col("doc_id") % 4 === 3)
      val batch0 = day.filter(col("doc_id") % 2 === 0)
      val batch1 = day.filter(col("doc_id") % 2 =!= 0)
      // the corpus-count certificate is lifecycle-independent — computed
      // while the crash/recover/skip sequence runs (guide §2.6)
      val (nAll, (applied0, recovered, skipped)) = Overlap.both {
        docs(s, d).count()
      } {
        val a0 = TextIndex.exactlyOnceIngestIntoTextIndex(
          batch0, "doc_id", toks, prefix, batchId = 0)
        // stage the mid-append crash: intent recorded, part of the batch
        // landed, no commit — the state a died executor leaves behind
        graft.sources.TableFamily.recordLedger(s, prefix, 1L, "intent")
        TextIndex.ingestIntoTextIndex(
          batch1.filter(col("doc_id") % 3 === 0), "doc_id", toks, prefix,
          batchId = 1)
        val rec = TextIndex.exactlyOnceIngestIntoTextIndex(
          batch1, "doc_id", toks, prefix, batchId = 1)
        // checkpoint-lag redelivery of the committed batch — must skip
        val skp = !TextIndex.exactlyOnceIngestIntoTextIndex(
          batch1, "doc_id", toks, prefix, batchId = 1)
        (a0, rec, skp)
      }
      // the crash-recovery scrub excises through a generation cutover, so
      // post-recovery tables resolve through the pointer
      val atp = graft.sources.Sinks.activeTablePrefix(s, prefix)
      val statsN = s.table(s"${atp}_stats")
        .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
      val lensN = s.table(s"${atp}_doclens").count()
      // the stats-repair audit must find NOTHING to repair after a clean
      // recovery (stored partials == doclens truth == corpus) — pinning
      // that the scrub + re-ingest left no repairable staleness behind
      val audit = TextIndex.repairTextIndexStats(s, prefix).head()
      val statsClean = !audit.getAs[Boolean]("repaired") &&
        audit.getAs[Long]("n_docs_truth") == nAll
      val ok = applied0 && recovered && skipped && statsN == nAll &&
        lensN == nAll && statsClean
      TextIndex.bm25AgainstIndex(s, prefix, BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .withColumn("ingest_ok", lit(ok))
    }),

    // Retrieval take-down + vacuum: a third of the indexed documents are
    // tombstoned (stats compensated by a negative partial; postings left
    // in place — probes anti-join the tombstones and df is computed from
    // the surviving probed postings, so correctness is immediate), then
    // the index is COMPACTED (tombstoned rows folded out through the
    // bucket-preserving rewrite, stats re-summed, tombstones truncated)
    // and the probe must be bit-identical pre/post vacuum. The oracle
    // recomputes BM25 with the deleted docs absent — n_docs, avgdl and
    // df all shift, so a stale stat or a leaked posting hash-mismatches.
    "tx_bm25_delete" -> ((s, d) => {
      val prefix = s"ti_del_${ScratchKeys.forPath(d)}"
      TextIndex.Family.fork(s, ensureTextBase(s, d), prefix)
      TextIndex.deleteFromTextIndex(s, prefix,
        docs(s, d).filter(col("doc_id") % 4 =!= 3 && col("doc_id") % 3 === 0)
          .select("doc_id"))
      val before = TextIndex.bm25AgainstIndex(s, prefix, BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .localCheckpoint(true)
      TextIndex.compactTextIndex(s, prefix)
      val after = TextIndex.bm25AgainstIndex(s, prefix, BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .localCheckpoint(true)
      // one tagged-union aggregation job (see Parity.multisetEqual)
      val same = Parity.multisetEqual(before, after)
      // compaction flips a generation now — resolve through the pointer
      val tombEmpty = s.table(
        s"${graft.sources.Sinks.activeTablePrefix(s, prefix)}_tombstones").isEmpty
      before.withColumn("compact_ok", lit(same && tombEmpty))
    }),

    // Blue/green rebuild of the retrieval index — scoring-parameter
    // change (k1/b), which silently shifts every stored-parameter score:
    // the index first serves a stale (k1=2.0, b=0.5) generation whose
    // top-20 DIFFERS from the serving parameters', then the PARAM-ONLY
    // rebuild verb (restampTextIndex) stages a copy with a fresh _meta
    // and flips the pointer — postings are parameter-free, so nothing
    // re-tokenizes (the full-corpus Family.rebuild remains the
    // bucket/corpus-change verb, spec-exercised in OperatorsSpec). The
    // stale fixture itself is staged by FORKING the shared base and
    // over-stamping its _meta — the whole query runs zero tokenization
    // passes (round-10 verdict: measure the verb, not repeated base
    // builds). The post-cutover probe must match the serving-parameter
    // oracle verbatim — impossible through the stale meta — and the
    // certificate pins gen=1 + bare tables retired.
    "tx_bm25_rebuild" -> ((s, d) => {
      val prefix = s"ti_rb_${ScratchKeys.forPath(d)}"
      TextIndex.Family.drop(s, prefix)
      TextIndex.Family.fork(s, ensureTextBase(s, d), prefix)
      s.createDataFrame(Seq((2.0, 0.5, 8))).toDF("k1", "b", "buckets")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${prefix}_meta")
      val gen = TextIndex.restampTextIndex(s, prefix, k1 = 1.2, b = 0.75)
      val retired = !s.catalog.tableExists(s"${prefix}_postings")
      TextIndex.bm25AgainstIndex(s, prefix, BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .withColumn("rebuild_ok", lit(gen == 1L && retired))
    }),

    // Repetition signals: Gopher-style duplicate/top-gram mass counts per
    // document with an integer-arithmetic `repetitive` gate (top word ≥
    // 1/8 of tokens, or top bigram ≥ 1/20 of bigrams) — flags 202/500
    // documents at sf0.01, so both gate outcomes are exercised.
    "tx_rep_signals" -> ((s, d) =>
      repSignalsFrame(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Content-defined chunking: documents cut at rolling-hash boundaries
    // (h60 of each 8-gram, mask 64 → ~71-char expected chunks), one
    // fingerprinted row per chunk — the chunk-level dedup / incremental
    // re-processing primitive. Edits move only the chunks they touch.
    "tx_cdc_chunks" -> ((s, d) =>
      Text.cdcChunkFrame(docs(s, d), "doc_id", col("text"), n = 8, mask = 64)
        .orderBy("doc_id", "chunk_no")),

    // Context-window packing: the training-data step that lays documents
    // head-to-tail into fixed token windows (concatenate-and-chop, the
    // standard pretraining packing). Sequential layout is an inherently
    // serial prefix sum, so it is computed per SHARD — the window is
    // partitioned, never global, which is what keeps it parallel at
    // 100 TB (one window per shard ≈ one packing stream per writer task).
    "tx_pack_ctx" -> ((s, d) => {
      val ctx = 512
      val w = Window.partitionBy("shard").orderBy("doc_id")
      docs(s, d)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).cast("long").as("shard"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("start_off"),
          floor((col("cum") - col("n_tokens")) / ctx).as("bin_first"),
          floor((col("cum") - 1) / ctx).as("bin_last"))
        .orderBy("doc_id")
    }),

    // RAG-style chunking: overlapping sliding word-windows (size 32,
    // stride 24 ⇒ 8-token overlap), one fingerprinted row per chunk. The
    // chunk table is what an embedding/retrieval stage consumes; the
    // explode parallelizes per-document, no shuffle before it, so at
    // 100 TB the chunker is a pure map stage.
    "tx_chunk_overlap" -> ((s, d) => {
      val size32 = 32
      val stride = 24
      docs(s, d).withColumn("tk", toks)
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(0),
            greatest(size(col("tk")) - 1, lit(0)), lit(stride))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("start"),
          slice(col("tk"), col("start") + 1, lit(size32)).as("chunk"))
        .select(col("doc_id"), col("start"),
          size(col("chunk")).cast("long").as("n_toks"),
          md5(array_join(col("chunk"), " ")).as("chunk_fp"))
        .orderBy("doc_id", "start")
    }),

    // PII scrubbing: deterministic synthetic PII (email / phone / IPv4
    // derived from doc_id) appended to every document, then scrubbed to
    // typed placeholders; `pii_free` certifies no residual match. Both
    // engines build and scrub the identical dirty string, so the scrubbed
    // text itself is hash-compared.
    "tx_pii_scrub" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1 555 01"), col("doc_id").cast("string"),
        lit(" at 10.0.0."), pmod(col("doc_id"), lit(256)).cast("string"))
      val clean = Text.piiScrub(dirty)
      docs(s, d).select(
          col("doc_id"),
          clean.as("clean"),
          (!(clean rlike Text.EmailRe) && !(clean rlike Text.Ipv4Re)
            && !(clean rlike Text.PhoneRe)).as("pii_free"))
        .orderBy("doc_id")
    }),

    // Unigram-LM scoring: the corpus's own unigram distribution as a
    // perplexity proxy — per-document mean negative log-likelihood.
    // Rare-token-heavy documents (noise, IDs) score high.
    "tx_unigram_nll" -> ((s, d) =>
      Text.unigramNll(docs(s, d), "doc_id", toks)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Bigram LM NLL (add-one smoothing): P(b|a) = (c(a,b)+1)/(c(a)+V),
    // mean -ln P per document — the fluency signal one step up the
    // KenLM ladder from tx_unigram_nll.
    "tx_bigram_nll" -> ((s, d) =>
      Text.bigramNll(docs(s, d), "doc_id", toks)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Interpolated Kneser-Ney bigram NLL — the CCNet-style perplexity
    // quality filter the add-one ladder approximates: closed-form
    // discount D = n1/(n1+2·n2), continuation probabilities from
    // distinct-predecessor counts. The oracle replays every count table
    // and the discount arithmetic term for term.
    "tx_kn_nll" -> ((s, d) =>
      Text.knBigramNll(docs(s, d), "doc_id", toks)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // DoReMi domain mixture weights (Xie et al. 2023): per-domain excess
    // loss = mean clip(unigram NLL − KN bigram NLL, 0) — the weak-proxy
    // vs strong-reference gap from this suite's own LM scorers — then 10
    // multiplicative-weights rounds with uniform smoothing; the paper
    // trains on the time-averaged weights (alpha_avg). The oracle replays
    // BOTH per-doc NLL chains, the per-domain excess aggregation, and all
    // ten MW rounds (recursive CTE over the pivoted 5-domain weight row).
    "tx_doremi_weights" -> ((s, d) => {
      val ex = doremiNllFrame(s, d)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          (sum(greatest(col("unll") - col("knll"), lit(0.0))
              .cast("decimal(28,14)")).cast("double")
            / count(lit(1))).as("lam"))
        .localCheckpoint(true) // 5 rows — both consumers below reuse it
      Sampling.doremiMixture(ex.select("domain", "lam"),
          eta = 10.0, smooth = 0.1, rounds = 10)
        .join(ex.select("domain", "n_docs"), Seq("domain"))
        .select(col("domain"), col("n_docs"),
          round(col("lam") + 1e-9, 7).as("lam_excess"),
          round(col("alpha_final") + 1e-9, 7).as("alpha_final"),
          round(col("alpha_avg") + 1e-9, 7).as("alpha_avg"))
        .orderBy("domain")
    }),

    // TOPIC-conditioned DoReMi — the paper's actual setting (domains are
    // unlabeled; Xie et al. cluster the corpus and reweight clusters):
    // the k=8 k-means assignment over the documents' embeddings (the
    // suite-shared exact-replay clustering) supplies the domain label in
    // place of `lang`, then the identical excess-loss aggregation and 10
    // multiplicative-weights rounds run over the 8 cluster-domains. The
    // oracle replays the FULL composition — both Lloyd rounds, both NLL
    // chains, the per-cluster excess aggregation, and all 10 MW rounds
    // over the pivoted 8-domain weight row (an empty cluster would break
    // the k=8 pivot loudly, by design). Docs without an embedding (none
    // at the gated SFs' embedded slice) drop from the mixture on both
    // sides consistently.
    "tx_doremi_topic" -> ((s, d) => {
      val cid = SimilarityQueries.kmeansAssignFrame(s, d)
        .select(col("vec_id").as("id"), col("cid").cast("long").as("domain"))
      val ex = doremiNllFrame(s, d).drop("domain")
        .join(cid, Seq("id"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          (sum(greatest(col("unll") - col("knll"), lit(0.0))
              .cast("decimal(28,14)")).cast("double")
            / count(lit(1))).as("lam"))
        .localCheckpoint(true) // 8 rows — both consumers below reuse it
      Sampling.doremiMixture(ex.select("domain", "lam"),
          eta = 10.0, smooth = 0.1, rounds = 10)
        .join(ex.select("domain", "n_docs"), Seq("domain"))
        .select(col("domain"), col("n_docs"),
          round(col("lam") + 1e-9, 7).as("lam_excess"),
          round(col("alpha_final") + 1e-9, 7).as("alpha_final"),
          round(col("alpha_avg") + 1e-9, 7).as("alpha_avg"))
        .orderBy("domain")
    }),

    // The DoReMi mixture REALIZED as training data: the learned
    // time-averaged weights (rounded 7dp, floored to permille — exact on
    // both engines) become the budget sampler's mixture, the budget is
    // 40% of corpus character units in exact integer arithmetic, and
    // membership is the salted-hash rule — so the optimized mixture turns
    // into a reproducible sampled corpus in one composition, and the
    // oracle replays NLLs -> MW rounds -> rates -> every membership test.
    "tx_doremi_sample" -> ((s, d) => {
      val dd = docs(s, d)
      val ex = doremiNllFrame(s, d)
        .groupBy("domain")
        .agg((sum(greatest(col("unll") - col("knll"), lit(0.0))
            .cast("decimal(28,14)")).cast("double")
          / count(lit(1))).as("lam"))
        .localCheckpoint(true)
      val wp = Sampling.doremiMixture(ex, eta = 10.0, smooth = 0.1, rounds = 10)
        .select(col("domain"), round(col("alpha_avg") + lit(1e-9), 7).as("aw"))
        .collect() // 5 rows — the mixture is model-sized
        .map(r => r.getString(0) -> (r.getDouble(1) * 1000).toInt).toMap
      val tot = dd.agg(sum("n_chars")).head().getLong(0)
      val budget = (tot - tot % 5) / 5 * 2 // 40% of units, exact integers
      Sampling.budgetMixtureSample(dd, col("lang"),
          col("doc_id").cast("string"), col("n_chars"), wp, budget,
          salt = "doremi_v1")
        .select("doc_id", "lang", "n_chars", "group_units", "rate_permille")
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney TRIGRAM NLL — the recursion at the order
    // production perplexity filters run (CCNet's KenLM shape): raw-count
    // discounting at the top, continuation counts at both lower levels,
    // per-order closed-form discounts. Docs with < 3 tokens emit no row.
    "tx_kn3_nll" -> ((s, d) =>
      Text.knTrigramNll(docs(s, d), "doc_id", toks)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Persisted KN-LM SERVING — the ninth family's write -> reopen ->
    // score-from-stored round trip (the KenLM-artifact shape): the bigram
    // count partials land on disk (`Text.Kn.write`), the % 7 slice scores
    // against the STORED statistics (generation-resolved fold, same
    // arithmetic as tx_kn_nll to the last double op), and the oracle
    // recomputes the full-corpus chain for the slice — a stored partial
    // that drifted from the corpus counts hash-mismatches.
    "tx_kn_serving" -> ((s, d) => {
      val prefix = s"knlm_serve_${ScratchKeys.forPath(d)}"
      Text.Kn.drop(s, prefix)
      Text.Kn.write(prefix, Text.knCounts(docs(s, d), "doc_id", toks))
      Text.scoreAgainstKnModel(docs(s, d).filter(col("doc_id") % 7 === 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // KN-LM INGEST-fold ≡ retrain: train on two-thirds of the corpus,
    // fold the remaining third in as append-only count deltas (one pass
    // over the NEW docs only), score — the oracle is the FULL-corpus
    // chain, so green proves the delta fold is bit-identical to a
    // retrain over old+new.
    "tx_kn_ingest" -> ((s, d) => {
      val prefix = s"knlm_ing_${ScratchKeys.forPath(d)}"
      Text.Kn.drop(s, prefix)
      Text.Kn.write(prefix,
        Text.knCounts(docs(s, d).filter(col("doc_id") % 3 =!= 0), "doc_id", toks))
      Text.Kn.ingest(prefix,
        Text.knCounts(docs(s, d).filter(col("doc_id") % 3 === 0), "doc_id", toks))
      Text.scoreAgainstKnModel(docs(s, d).filter(col("doc_id") % 7 === 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // KN-LM DELETE ≡ retrain-without: train on everything, append
    // NEGATIVE deltas for the % 5 slice (right-to-forget at LM-statistics
    // cost — the corpus is never rescanned), score the surviving slice.
    // The oracle computes the chain over the corpus WITHOUT the deleted
    // docs, so green proves zeroed types drop out of every derived
    // statistic (type counts, continuation counts, the discount itself).
    "tx_kn_delete" -> ((s, d) => {
      val prefix = s"knlm_del_${ScratchKeys.forPath(d)}"
      Text.Kn.drop(s, prefix)
      Text.Kn.write(prefix, Text.knCounts(docs(s, d), "doc_id", toks))
      Text.Kn.delete(prefix,
        Text.knCounts(docs(s, d).filter(col("doc_id") % 5 === 0), "doc_id", toks))
      Text.scoreAgainstKnModel(
          docs(s, d).filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Persisted TRIGRAM KN-LM SERVING — the TENTH family's write ->
    // reopen -> score-from-stored round trip at the order production
    // perplexity filters actually run (CCNet/KenLM run order ≥ 3): the
    // trigram-type count partials land on disk (`Text.Kn3.write`), the % 7
    // slice scores against the STORED statistics (generation-resolved
    // fold, tx_kn3_nll's arithmetic to the last double op), and the
    // oracle recomputes the full-corpus chain for the slice.
    "tx_kn3_serving" -> ((s, d) => {
      val prefix = s"kn3_serve_${ScratchKeys.forPath(d)}"
      Text.Kn3.drop(s, prefix)
      Text.Kn3.write(prefix, Text.kn3Counts(docs(s, d), "doc_id", toks))
      Text.scoreAgainstKn3Model(docs(s, d).filter(col("doc_id") % 7 === 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Trigram-KN INGEST-fold ≡ retrain (the tx_kn_ingest idiom one order
    // up): train on two-thirds, fold the last third in as append-only
    // type-count deltas, score — the oracle is the FULL-corpus chain, so
    // green proves the delta fold is bit-identical to a retrain through
    // every derived statistic of every order.
    "tx_kn3_ingest" -> ((s, d) => {
      val prefix = s"kn3_ing_${ScratchKeys.forPath(d)}"
      Text.Kn3.drop(s, prefix)
      Text.Kn3.write(prefix,
        Text.kn3Counts(docs(s, d).filter(col("doc_id") % 3 =!= 0), "doc_id", toks))
      Text.Kn3.ingest(prefix,
        Text.kn3Counts(docs(s, d).filter(col("doc_id") % 3 === 0), "doc_id", toks))
      Text.scoreAgainstKn3Model(docs(s, d).filter(col("doc_id") % 7 === 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Trigram-KN DELETE ≡ retrain-without: negative deltas for the % 5
    // slice, score the surviving slice; the oracle computes the chain
    // WITHOUT the deleted docs — zeroed trigram types must drop out of
    // the (a,b) sums, the (b,c) continuation table, the bottom-level
    // continuation counts, and both discounts.
    "tx_kn3_delete" -> ((s, d) => {
      val prefix = s"kn3_del_${ScratchKeys.forPath(d)}"
      Text.Kn3.drop(s, prefix)
      Text.Kn3.write(prefix, Text.kn3Counts(docs(s, d), "doc_id", toks))
      Text.Kn3.delete(prefix,
        Text.kn3Counts(docs(s, d).filter(col("doc_id") % 5 === 0), "doc_id", toks))
      Text.scoreAgainstKn3Model(
          docs(s, d).filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 0),
          "doc_id", toks, prefix)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing — the tenth family composed into
    // the curation decision it exists for (Wenzek et al. 2020 §4.3:
    // score every document against the frozen LM, split the corpus into
    // head/middle/tail by perplexity terciles, gate on the bucket): every
    // scoreable doc scores against the SHARED persisted trigram-KN base,
    // ranks by (nll asc, doc_id), and buckets at the rank-based tercile
    // cuts ceil(n/3) / ceil(2n/3) — integer cuts on an exactly-ordered
    // rank, so no quantile approximation is involved and the oracle
    // replays the whole chain (stats fold, scoring, rank, cuts).
    //
    // The rank is the EXACT distributed rank (`Relational.globalRank`:
    // value-bucketed per-partition row_number + broadcast cumulative
    // offsets — the r13 verdict #1 fix), never a corpus-sized
    // single-partition window; the scored frame is checkpointed once so
    // the rank's two statistics passes don't re-run the LM join chain.
    "tx_ppl_buckets" -> ((s, d) =>
      pplBucketsFrame(s, d)
        .select("doc_id", "n_trigrams", "nll", "rnk", "bucket")
        .orderBy("doc_id")),

    // The CCNet+ curation flagship (r13 verdict #2): d_curate's stages —
    // MinHash-cluster dedup survivors, language allowlist, quality
    // floor, PII-scrubbed fingerprint — COMPOSED with the two MODEL
    // gates the last two rounds built: the Wenzek §4.3 perplexity gate
    // (keep head+middle against the frozen trigram-KN family; the tail
    // tercile is the likely-noise cut CCNet drops) and the calibrated
    // keep-probability floor (isotonic-calibrated holdout classifier,
    // P(keep) ≥ 0.5). Stage order is pinned by the composed oracle,
    // which replays EVERYTHING in one WITH chain: minhash bands →
    // transitive closure, the quality formula, the full trigram-KN
    // chain + exact tercile rank, holdout GD training + PAV fit + step
    // apply, then the gates. Every stage is row-local or a broadcast
    // join against model-sized artifacts once the shared frames exist —
    // the corpus is never shuffled beyond the dedup band join.
    "d_curate_ccnet" -> ((s, d) =>
      curateCcnetFrame(s, d)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
          col("nll"), col("bucket"), col("cal_keep"),
          md5(Text.piiScrub(col("text"))).as("curated_fp"))
        .orderBy("doc_id")),

    // The end-to-end training-data EMIT (r14 verdict #1) — the pipeline's
    // actual PRODUCT as one lineage: the flagship's curated survivors →
    // per-doc token counts under the PERSISTED ULM tokenizer (the eighth
    // family, frozen on the full corpus) → context-window packing (the
    // tx_pack_ctx per-shard prefix-sum layout, 512-token windows) →
    // deterministic training shards on disk (salted-hash membership +
    // salted-hash internal order) → the emitted rows are the MANIFEST
    // computed from the WRITTEN files: per shard, doc count, tokenizer
    // token mass, packed window count, the XOR membership fingerprint,
    // and an XOR fingerprint of every document's first packed window —
    // so a write path that dropped/duplicated/misrouted a document OR
    // perturbed the pack order anywhere flips a fingerprint. The oracle
    // replays the entire chain: every curation gate, the 2-round
    // Viterbi-EM tokenizer, the shard assignment, the per-shard packing
    // prefix sum, and both fingerprints.
    //
    // At 100 TB: beyond the flagship's own shuffles the emit adds ONE
    // shuffle (the shard repartition — the unavoidable deterministic
    // interleave) and one window per shard (= one packing stream per
    // writer task, the tx_pack_ctx argument); the tokenizer join is a
    // vocabulary-sized broadcast.
    //
    // The tokenizer (ULM training + family write) builds on an Overlap
    // side while the curated frame's chains run; the encode, shard write
    // and manifest run after the join.
    "d_curate_emit" -> ((s, d) => {
      val (prefix, cur) = Overlap.both(ensureUlmBase(s, d))(curateCcnetFrame(s, d))
      val words = cur.select(explode(toks).as("word"))
        .filter(col("word") =!= "").distinct()
      // vocabulary-sized; materialized before the explode-join (the
      // tx_ulm_serving projection-boundary discipline)
      val enc = Text.encodeAgainstUlmModel(words, "word", prefix)
        .select("word", "n_pieces").localCheckpoint(true)
      val nTok = cur.select(col("doc_id"), explode(toks).as("word"))
        .filter(col("word") =!= "")
        .join(enc, "word")
        .groupBy("doc_id").agg(sum("n_pieces").cast("long").as("n_toks"))
      val emitRows = cur.select(col("doc_id"), col("lang"),
          md5(Text.piiScrub(col("text"))).as("curated_fp"))
        .join(nTok, Seq("doc_id"))
      ScratchKeys.withScratch("graft_emit_") { dir =>
        val scratch = dir.toString
        graft.sources.Sinks.writeTrainingShards(
          emitRows, "doc_id", scratch, nShards = 8, salt = "emit_v1")
        val ctx = 512
        val w = Window.partitionBy("shard").orderBy("__ord", "doc_id")
        // read back with the schema just written (emitRows' columns, then
        // the order key, then the shard partition column): no inference job
        val written = StructType((emitRows.schema.fields :+
          StructField("__ord", LongType) :+ StructField("shard", LongType)).map(_.copy(nullable = true)))
        val packed = s.read.schema(written).parquet(scratch)
          .withColumn("cum", sum("n_toks").over(w))
          .withColumn("bin_first",
            floor((col("cum") - col("n_toks")) / ctx).cast("long"))
        packed.groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_toks").cast("long").as("n_tokens"),
            floor((sum("n_toks") + lit(ctx - 1)) / ctx).cast("long")
              .as("n_windows"),
            call_function("bit_xor", CrossHash.h60(
              concat(lit("emit_v1:fp:"), col("doc_id").cast("string"))))
              .as("id_fp"),
            call_function("bit_xor", CrossHash.h60(
              concat(lit("emit_v1:lfp:"), col("doc_id").cast("string"),
                lit(":"), col("bin_first").cast("string"))))
              .as("layout_fp"))
          .orderBy("shard")
          // materialize before the scratch dir disappears
          .localCheckpoint(true)
      }
    }),

    // The FULL curation funnel (r14 verdict #4) — d_curate_ccnet's gates
    // plus the three quality signals the suite proves separately but the
    // flagship never consumed: the Gopher repetition gate
    // (tx_rep_signals' top-word/top-bigram dominance rule), the
    // boilerplate-coverage floor (tx_boilerplate's top-500 3-gram
    // blocklist, bp_frac ≤ 0.10), and the duplicated-gram floor
    // (d_dup_coverage's cross-document 5-gram fraction, dup_frac ≤ 0.5).
    // Stage order is PINNED (dedup → lang → quality → repetition →
    // boilerplate → dup-coverage → perplexity → calibrated-keep) by the
    // per-stage survivor-count certificate: every row carries the funnel
    // n_s1..n_s8 (count after each cumulative gate), all replayed by the
    // oracle — a reordered or silently-skipped stage flips a count. All
    // signal frames are linear aggregations or broadcast joins; beyond
    // the dedup band join nothing shuffles the corpus by anything but
    // doc_id.
    "d_curate_full" -> ((s, d) => {
      val dd = docs(s, d)
      val surv = graft.operators.Dedup.keepSurvivors(
          dd, "doc_id", DedupQueries.minhashPairEdges(s, d))
        .withColumn("tk", toks)
        .withColumn("quality", Text.qualityScore(col("text"), col("tk")))
        .withColumn("n_tokens", size(col("tk")).cast("long"))
      // the three signal frames are suite-shared (tx_rep_signals /
      // tx_boilerplate / d_dup_coverage / d_domain_gate consume the
      // identical corpus aggregations) — memoized, never re-derived here
      val rep = repSignalsFrame(s, d)
        .select(col("id").as("doc_id"), col("repetitive"))
      val bp = bpCoverageFrame(s, d)
        .select(col("id").as("doc_id"), col("bp_frac"))
      val dup = DedupQueries.dupCoverageFrame(s, d)
        .select(col("id").as("doc_id"), col("dup_frac"))
      val ppl = pplBucketsFrame(s, d)
        .select(col("doc_id"), col("nll"), col("bucket"))
      val cal = LinearModel.isotonicApply(
          LinearModel.scoreSquashedLinear(
              classifierFeatures(s, d), ClfXCols, holdoutWeights(s, d))
            .select(col("doc_id"), col("score"),
              round(col("score") + 1e-9, 4).as("lvl")),
          "lvl", calibrationFitFrame(s, d))
        .select(col("doc_id"),
          round(col("cal_score") + 1e-9, 7).as("cal_keep"))
      // short docs have no 3-grams/5-grams → no coverage row → clean 0.0
      val flags = surv
        .join(rep, Seq("doc_id"), "left")
        .join(bp, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .join(ppl, Seq("doc_id"), "left")
        .join(cal, Seq("doc_id"), "left")
        .withColumn("bp_frac", coalesce(col("bp_frac"), lit(0.0)))
        .withColumn("dup_frac", coalesce(col("dup_frac"), lit(0.0)))
        .withColumn("g2", col("lang").isin("en", "de", "es", "fr"))
        .withColumn("g3", col("quality") >= 0.5)
        .withColumn("g4", !coalesce(col("repetitive"), lit(false)))
        .withColumn("g5", col("bp_frac") <= 0.10)
        .withColumn("g6", col("dup_frac") <= 0.5)
        .withColumn("g7", col("bucket").isNotNull && col("bucket") =!= "tail")
        .withColumn("g8", col("cal_keep").isNotNull && col("cal_keep") >= 0.5)
        .localCheckpoint(true) // feeds the funnel agg AND the survivors
      val gates = Seq("g2", "g3", "g4", "g5", "g6", "g7", "g8")
      val aggCols = count(lit(1)).as("n_s1") +: (1 to 7).map { i =>
        val conj = gates.take(i).map(col).reduce(_ && _)
        sum(when(conj, 1L).otherwise(0L)).as(s"n_s${i + 1}")
      }
      val funnel = flags.agg(aggCols.head, aggCols.tail: _*)
      flags.filter(gates.map(col).reduce(_ && _))
        .crossJoin(broadcast(funnel))
        .select(Seq(col("doc_id"), col("lang"), col("n_tokens"),
          col("quality"), col("bp_frac"), col("dup_frac"), col("nll"),
          col("bucket"), col("cal_keep"),
          md5(Text.piiScrub(col("text"))).as("curated_fp")) ++
          (1 to 8).map(i => col(s"n_s$i")): _*)
        .orderBy("doc_id")
    }),

    // DOMAIN-level curation gate (r14 verdict #5) — CCNet curates per
    // DOMAIN, not per document: every document gets its deterministic
    // source URL, parse_url(HOST) yields the domain, ONE aggregation
    // derives the per-domain stat frame (doc count, exact-decimal mean
    // quality, high-duplication doc count), and the gate blocks the
    // bottom-3 domains by mean quality PLUS any domain whose
    // high-duplication fraction exceeds 10% (exact integer comparison —
    // 10·n_highdup > n_docs, no float boundary). The blocked set
    // persists through the ELEVENTH family (the blocklist artifact
    // lifecycle — a domain ban is a maintained legal/quality artifact,
    // not a per-query collect) and the gate itself is a broadcast
    // anti-membership filter: at 100 TB the corpus shuffles once on
    // domain for the stats and never again. The oracle replays the URL
    // synthesis, the quality and dup-coverage chains, the stat frame,
    // both block rules, and the final membership filter.
    "d_domain_gate" -> ((s, d) => {
      val dd = docs(s, d).withColumn("tk", toks)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), col("doc_id").cast("string")))
        .withColumn("domain", parse_url(col("url"), lit("HOST")))
        .withColumn("quality", Text.qualityScore(col("text"), col("tk")))
      val dup = DedupQueries.dupCoverageFrame(s, d)
        .select(col("id").as("doc_id"), col("dup_frac"))
      // domain-table-sized (|domains| rows) — the broadcast artifact
      val stats = dd.join(dup, Seq("doc_id"), "left")
        .groupBy("domain")
        .agg(count(lit(1)).as("dom_docs"),
          round(sum(col("quality").cast("decimal(28,14)")).cast("double")
            / count(lit(1)) + 1e-9, 4).as("dom_mean_q"),
          sum(when(coalesce(col("dup_frac"), lit(0.0)) > 0.5, 1L)
            .otherwise(0L)).as("dom_highdup"))
        .localCheckpoint(true)
      val bottom = stats.orderBy(col("dom_mean_q"), col("domain"))
        .limit(3).select("domain")
      val dupBad = stats.filter(col("dom_highdup") * 10 > col("dom_docs"))
        .select("domain")
      val blocked = bottom.union(dupBad).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val prefix = s"domblk_${ScratchKeys.forPath(d)}"
      Text.Blocklist.drop(s, prefix)
      Text.writeBlocklist(s, prefix, blocked)
      val live = Text.resolveBlocklist(s, prefix)
      dd.join(broadcast(stats), Seq("domain"))
        .filter(!col("domain").isin(live: _*))
        .select(col("doc_id"), col("domain"), col("dom_docs"),
          col("dom_mean_q"), col("dom_highdup"),
          lit(live.size.toLong).as("n_blocked"))
        .orderBy("doc_id")
    }),

    // Boilerplate-gram coverage: the top-500 word-3-grams by document
    // frequency form the blocklist; each document reports what fraction of
    // its distinct grams is blocklisted (the curation gate input).
    "tx_boilerplate" -> ((s, d) =>
      bpCoverageFrame(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Multi-pattern blocklist scan — the contamination/banned-phrase
    // primitive at its real shape: ONE automaton pass per document counts
    // every occurrence (overlapping included) of every pattern, O(text +
    // matches) per row no matter how many patterns are loaded (a regex
    // alternation or per-pattern contains() is O(text × patterns) and
    // collapses at 10⁵ patterns). Patterns here are the corpus's top-10
    // bigram phrases (tx_ngram_freq's statistic — blocklist-sized,
    // collected like a broadcast); the oracle replays the same counts by
    // per-pattern position scan, so the automaton's match semantics are
    // hash-proven against the naive spec.
    "tx_blocklist_scan" -> ((s, d) =>
      blocklistScan(docs(s, d), top10BigramBlocklist(s, d))
        .orderBy("doc_id")),

    // Blocklist SERVING — the persisted family exercised through its
    // full lifecycle in one query (the tx_kn_serving idiom, r13 verdict
    // #5): seed the ELEVENTH family with the top-10 phrase blocklist,
    // INGEST two additions (ranks 11–12), take DOWN the top two (the
    // legal-removal verb), then scan the corpus with the automaton built
    // from the RESOLVED generation — ranks 3–12. The oracle recomputes
    // the final set relationally (top-12 OFFSET 2) and replays the scan,
    // so a resolve that leaked a deleted pattern or dropped an ingested
    // one hash-mismatches.
    "tx_blocklist_serving" -> ((s, d) => {
      val prefix = s"blk_${ScratchKeys.forPath(d)}"
      Text.Blocklist.drop(s, prefix)
      val top12 = topBigramBlocklist(s, d, 12)
      Text.writeBlocklist(s, prefix, top12.take(10))
      Text.ingestIntoBlocklist(s, prefix, top12.drop(10))
      Text.deleteFromBlocklist(s, prefix, top12.take(2))
      blocklistScan(docs(s, d), Text.resolveBlocklist(s, prefix))
        .orderBy("doc_id")
    }),

    // Blocklist EXCISION — the scan made to act (r12 verdict #5): the
    // automaton emits every match as a (start, len) span and the excision
    // fold removes the UNION of the covered character intervals, leaving
    // untouched documents byte-identical. Same top-10 bigram-phrase
    // blocklist as tx_blocklist_scan; the oracle replays the per-pattern
    // position scan and the span removal as a covered-position anti-join
    // with ordered reassembly — a span merge that dropped or doubled one
    // character anywhere hash-mismatches.
    "tx_blocklist_scrub" -> ((s, d) =>
      blocklistScrub(docs(s, d), top10BigramBlocklist(s, d))
        .orderBy("doc_id")),

    // Blocklist REDACTION — the third verb of the scan family (count /
    // excise / redact): each maximal run of overlapping match spans is
    // replaced by ONE `<BLOCKED>` placeholder (the piiScrub typed-
    // placeholder discipline), so downstream consumers see where and how
    // many regions were removed without the banned content. The oracle
    // replays the position scan, the strictly-greater island rule over
    // the (start, end)-sorted spans, and the ordered reassembly with the
    // placeholder at each island start.
    "tx_blocklist_redact" -> ((s, d) => {
      val pats = top10BigramBlocklist(s, d)
      docs(s, d).select(col("doc_id"), col("text"),
          CrossHash.ahoSpansSafe(col("text"), pats).as("__sp"))
        .select(col("doc_id"),
          Text.redactSpans(col("text"), col("__sp")).as("red_text"),
          Text.mergedSpanCount(col("__sp")).as("n_regions"),
          size(col("__sp")).cast("long").as("n_matches"))
        .orderBy("doc_id")
    }),

    // Corpus n-gram frequency table — the training-data corpus statistic:
    // top word bigrams by count, ties broken lexicographically.
    "tx_ngram_freq" -> ((s, d) =>
      docs(s, d).withColumn("__tk", toks)
        .select(explode(CrossHash.wordShingles(col("__tk"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20)),

    // Distributed BPE merge training — tokenizer training as a corpus
    // operator: six merge rounds over the frequency-weighted word table
    // (corpus pass happens ONCE; every round is vocabulary-sized),
    // argmax pair by (count desc, lexicographic). The oracle replays the
    // identical rounds as hand-unrolled recursive CTEs: the greedy
    // left-to-right merge is the same fold, expressed as a per-word
    // position recursion.
    "tx_bpe_merges" -> ((s, d) =>
      bpeMerges6(s, d).orderBy("rank")),

    // BPE encoding — token counting under the LEARNED tokenizer (the
    // budget/packing statistic real pipelines need, vs tx_tokens'
    // whitespace count): train six merges, encode the DISTINCT-word
    // table with the collected merge array (row-local nested fold, zero
    // shuffle), join subword counts back to the corpus. Because encoding
    // replays training's per-merge greedy passes in rank order, the
    // oracle's training-final symbol table IS the encoded vocabulary —
    // the oracle therefore verifies the train→encode consistency
    // property itself, not just the counts.
    "tx_bpe_encode" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = bpeMerges6(s, d)
      val words = dd.select(explode(toks).as("word"))
        .filter(col("word") =!= "").distinct()
      val enc = Text.bpeEncodeWords(words, "word", merges)
        .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
      dd.select(col("doc_id"), explode(toks).as("word"))
        .filter(col("word") =!= "")
        .join(enc, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subtoks"))
        .withColumn("subtok_ratio",
          round(col("n_subtoks").cast("double") / col("n_words") + 1e-9, 4))
        .orderBy("doc_id")
    }),

    // Subword vocabulary usage: frequency-weighted symbol histogram of
    // the encoded corpus (which learned units actually carry the data —
    // the tokenizer-health statistic behind fertility/coverage reports).
    // Same encode machinery; aggregation rides the vocabulary table.
    "tx_bpe_vocab" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = bpeMerges6(s, d)
      val wf = dd.select(explode(toks).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      // materialize the encoded vocabulary (vocab-sized — the artifact a
      // real pipeline persists) BEFORE exploding: the explode makes
      // InferFiltersFromGenerate add size(syms)>0 / isnotnull(syms)
      // predicates, and pushdown re-derives the fold behind them through
      // the aggregation onto EVERY corpus token — measured 8.3 s vs
      // 0.3 s at sf0.1 (the plan showed the fold inside a Filter below
      // the word groupBy). Same projection-boundary discipline as the
      // round-7 tokenizer-materialization sweep.
      Text.bpeEncodeWords(wf, "word", merges)
        .localCheckpoint(true)
        .select(explode(col("syms")).as("sym"), col("freq"))
        .groupBy("sym").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("sym")).limit(30)
    }),

    // Unigram-LM (SentencePiece) tokenizer TRAINING — BPE's production
    // sibling: substring-seeded piece vocabulary, two hard-EM rounds
    // (Viterbi E-step as a row-local lattice fold over the distinct-word
    // table, count M-step), integer-scaled log-probs so every DP
    // comparison is exact BIGINT arithmetic. The oracle replays the
    // WHOLE training — seed selection, both EM rounds' per-word Viterbi
    // recursions, the final distribution — so a tie-break or discount
    // drift anywhere in the chain hash-mismatches. Output: the top-30
    // pieces of the final vocabulary by usage (piece, cnt, lp).
    "tx_ulm_vocab" -> ((s, d) =>
      ulm2(s, d)._1
        .orderBy(col("cnt").desc, col("piece")).limit(30)),

    // Unigram-LM encoding — token counting under the TRAINED piece
    // model (the Viterbi twin of tx_bpe_encode): per-document word and
    // subtoken counts from the final EM round's segmentation table,
    // joined back to the corpus on the distinct-word key.
    "tx_ulm_encode" -> ((s, d) => {
      val enc = ulm2(s, d)._2.select("word", "n_pieces")
      docs(s, d).select(col("doc_id"), explode(toks).as("word"))
        .filter(col("word") =!= "")
        .join(enc, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subtoks"))
        .withColumn("subtok_ratio",
          round(col("n_subtoks").cast("double") / col("n_words") + 1e-9, 4))
        .orderBy("doc_id")
    }),

    // Persisted-tokenizer SERVING — the eighth persisted family's
    // write -> reopen -> encode-from-stored round trip: the trained piece
    // table lands on disk (writeUlmModel), the corpus's distinct words
    // are encoded against the STORED artifact (generation-resolved, same
    // Viterbi fold as training), and serve_ok pins that the served
    // segmentation table is row-identical to the in-session trainer's.
    // The oracle replays the full training, so a model table that stored
    // drifted log-probs (or a serving fold that diverged from training)
    // hash-mismatches the doc-level counts too.
    "tx_ulm_serving" -> ((s, d) => {
      val prefix = s"ulm_serve_${ScratchKeys.forPath(d)}"
      Text.Ulm.drop(s, prefix)
      val (pieces, segs) = ulm2(s, d)
      Text.writeUlmModel(pieces, prefix, maxPieceLen = 4)
      val words = docs(s, d).select(explode(toks).as("word"))
        .filter(col("word") =!= "").distinct()
      // vocabulary-sized; materialized before the explode-join like
      // tx_bpe_vocab (the projection-boundary discipline)
      val enc = Text.encodeAgainstUlmModel(words, "word", prefix)
        .localCheckpoint(true)
      val trained = segs.select("word", "n_pieces", "segs")
      val served = enc.select("word", "n_pieces", "segs")
      // one tagged-union aggregation job (see Parity.multisetEqual)
      val parity = Parity.multisetEqual(served, trained)
      docs(s, d).select(col("doc_id"), explode(toks).as("word"))
        .filter(col("word") =!= "")
        .join(enc.select("word", "n_pieces"), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subtoks"))
        .withColumn("subtok_ratio",
          round(col("n_subtoks").cast("double") / col("n_words") + 1e-9, 4))
        .withColumn("serve_ok", lit(parity))
        .orderBy("doc_id")
    }),

    // PMI word co-occurrence: which token pairs appear in the same
    // document far more than chance — the collocation statistic behind
    // phrase mining and tokenizer-merge candidates. Scale shape: the
    // vocabulary is bounded FIRST (top 150 tokens by document frequency,
    // a broadcast), so the per-document pair join is |vocab-hits/doc|²
    // per document, never corpus × corpus.
    "tx_pmi" -> ((s, d) => {
      val dt = docs(s, d)
        .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
      // eager-materialize the two tiny frames (150 + 1 rows): both feed
      // BOTH sides of the self-join, and without the checkpoint each side
      // re-runs the full corpus-wide df aggregation.
      val vocab = dt.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(150)
        .localCheckpoint(true)
      val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs")).localCheckpoint(true)
      val dv = dt.join(broadcast(vocab), "tok")
      dv.as("x")
        .join(dv.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.tok") < col("y.tok"))
        .groupBy(col("x.tok").as("a"), col("y.tok").as("b"),
          col("x.df").as("df_a"), col("y.df").as("df_b"))
        .agg(count(lit(1)).as("n_ab"))
        .crossJoin(broadcast(nDocs))
        .select(col("a"), col("b"), col("n_ab"),
          round(log((col("n_ab") * col("n_docs")) / (col("df_a") * col("df_b"))) + 1e-9, 4)
            .as("pmi"))
        .orderBy(col("n_ab").desc, col("a"), col("b"))
        .limit(25)
    }),

    // Zipf fit: ln(freq) ~ ln(rank) least-squares slope over the top-100
    // tokens — the corpus-health statistic (natural text sits near −1;
    // synthetic/templated corpora flatten). The regression is the explicit
    // sum-form on 100 rows, identical in both engines.
    "tx_zipf" -> ((s, d) => {
      val top = docs(s, d)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(100)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("freq").desc, col("tok"))))
      top
        .select(log(col("rnk").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(
          col("n").cast("bigint").as("n_tokens"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")) + 1e-9, 4).as("slope"),
          round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
            / col("n") + 1e-9, 4).as("intercept"))
    }),

    // Multimodal frame sampling: documents as binary payloads chopped into
    // 64-byte frames, one content fingerprint per frame (the video-shaped
    // path — see graft.operators.Multimodal).
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.fromText(docs(s, d), "doc_id", "text"), frameBytes = 64)
        .orderBy("asset_id", "frame_no"))
  ,
    // Multimodal REAL decode: synthesize one deterministic PNG per document
    // (javax.imageio encoder), decode it back to pixels in the
    // mapPartitions slot, and emit decoded dimensions + channel means. The
    // raster is a pure function of (asset_id, x, y, channel), so the oracle
    // recomputes the identical statistics arithmetically — a hash match
    // certifies the decoder reproduced the original pixels (PNG lossless),
    // not merely that bytes flowed through.
    "mm_features" -> ((s, d) =>
      Multimodal.decodeImageFeatures(
          Multimodal.synthesizePng(docs(s, d), "doc_id"))
        .select(col("asset_id"), col("width"), col("height"),
          round(col("mean_r") + 1e-9, 6).as("mean_r"),
          round(col("mean_g") + 1e-9, 6).as("mean_g"),
          round(col("mean_b") + 1e-9, 6).as("mean_b"))
        .orderBy("asset_id"))
  ,
    // Image PERCEPTUAL near-dup — the dedup modality exact/byte hashing
    // cannot cover: every 25th document gets a planted twin whose raster
    // differs by ONE pixel (+1 per channel at (0,0)), so payload bytes
    // differ but the picture is the same. Real PNG encode+decode on both
    // populations, 8×8 integer average-hash, banded hamming pairs
    // (8 × 8-bit bands — pigeonhole-lossless for hamming ≤ 7). The
    // oracle recomputes every hash bit arithmetically and takes ALL
    // pairs at the threshold, so equality certifies both the decode
    // fidelity and the banding's losslessness, corpus-wide, each round.
    "mm_ahash_pairs" -> ((s, d) => {
      // τ=3: the planted byte-different twins land at hamming ≤ 2. The
      // non-twin pairs in the result are TRUE perceptual matches of this
      // corpus, not noise: every synthetic raster is the same linear
      // gradient (slopes 11/17) at a different offset, so visually-alike
      // images abound and a perceptual hash is SUPPOSED to pair them —
      // which also makes this corpus a worst-case stress of the banded
      // join's bucket handling. Banding stays lossless for any τ ≤ 7.
      Multimodal.aHashPairs(mmImageAHashFrame(s, d), maxHamming = 3)
        .orderBy("a", "b")
    })
  ,
    // The hot-bucket-capped variant of mm_ahash_pairs — this corpus's
    // shared-gradient structure makes some band buckets genuinely
    // degenerate (hundreds of identical band values), which is exactly
    // the O(width²) blow-up the cap bounds at petabyte scale. Buckets
    // wider than 50 are excluded before the self-join; a true pair is
    // lost only if EVERY band it collides in is over-cap (the minhash
    // cap's bound). The oracle replays the capped banding exactly, so
    // the cap's semantics — not just its existence — are hash-verified.
    "mm_ahash_pairs_capped" -> ((s, d) =>
      Multimodal.aHashPairs(mmImageAHashFrame(s, d),
          maxHamming = 3, hotBucketCap = 50)
        .orderBy("a", "b"))
  ,
    // Video near-dup via frame-hash CONTAINMENT — the clip-level member
    // of the perceptual trio (image aHash, audio energy hash): every
    // 25th clip gets a planted twin with ONE pixel of ONE frame
    // retouched, both populations decode through the real GIF reader,
    // each frame gets an 8×8 integer average-hash, and clips pair when
    // ≥ half the smaller clip's frames have an identical-hash frame in
    // the other (2·m ≥ nf — all-integer, no float share). The twin's
    // untouched frames match exactly, so it always clears the bar; the
    // hash-equality join doubles as the blocking key (one shuffle,
    // O(bucket²)). The oracle replays every frame hash and the
    // containment filter arithmetically.
    "mm_video_hash_pairs" -> ((s, d) =>
      Multimodal.clipContainmentPairs(mmGifFrameAHashFrame(s, d))
        .orderBy("a", "b"))
  ,
    // Capped video containment — frame hashes shared by > 50 frames
    // corpus-wide (this corpus's shared-gradient degenerate buckets)
    // are excluded before the join, bounding the candidate volume at
    // C(50, 2) per hash; a clip pair is lost only when too few of its
    // shared frames survive the cap to clear the 2·m ≥ nf bar. The
    // oracle replays the capped banding exactly.
    "mm_video_hash_pairs_capped" -> ((s, d) =>
      Multimodal.clipContainmentPairs(mmGifFrameAHashFrame(s, d),
          hotBucketCap = 50)
        .orderBy("a", "b"))
  ,
    // Audio PERCEPTUAL near-dup — the WAV sibling of mm_ahash_pairs:
    // every 25th clip gets a planted twin whose sample 0 is bumped by
    // one quantization step (inaudible, byte-different), both
    // populations run through the real RIFF encode+decode, and the
    // 64-band integer energy hash pairs them through the SAME banded
    // hamming join the image tier uses. The twins land at hamming 0 (a
    // one-step sample change moves one frame's energy by ~2v out of
    // ~10⁹ — no mean-compare bit flips); the remaining pairs are true
    // contour matches of this corpus: ids whose sample streams differ
    // by a constant offset share their relative energy SHAPE, which a
    // loudness-contour fingerprint is supposed to pair. The oracle
    // recomputes every bit and takes all pairs at τ=3, certifying both
    // decode fidelity and banding losslessness.
    "mm_audio_hash_pairs" -> ((s, d) => {
      val base = Multimodal.synthesizeWav(docs(s, d), "doc_id")
      val twins = Multimodal.synthesizeWavNearDup(
        docs(s, d).filter(col("doc_id") % 25 === 0), "doc_id")
      Multimodal.aHashPairs(
          Multimodal.audioEnergyHash(base.unionByName(twins)), maxHamming = 3)
        .orderBy("a", "b")
    })
  ,
    // Multimodal REAL audio decode — the WAV twin of mm_features: one
    // deterministic PCM16 clip per document encoded through the JDK's
    // javax.sound.sampled WAV writer, decoded back to samples in the
    // partition iterator, reduced to waveform statistics. The stats are
    // EXACT integer sums (amplitude, energy, zero crossings) the oracle
    // recomputes arithmetically — a hash match certifies bit-lossless
    // sample recovery through the RIFF container, not just byte plumbing;
    // RMS is derived from the exact energy at presentation time.
    "mm_audio_features" -> ((s, d) =>
      Multimodal.decodeAudioFeatures(
          Multimodal.synthesizeWav(docs(s, d), "doc_id"))
        .select(col("asset_id"), col("n_samples"), col("sum_amp"), col("sum_sq"),
          col("zero_cross"),
          round(sqrt(col("sum_sq").cast("double") / col("n_samples")) + 1e-9, 4)
            .as("rms"))
        .orderBy("asset_id"))
  ,
    // Frame-level audio energies — the real-decode framing step (VAD /
    // feature-extraction window shape): decoded PCM cut into 80-sample
    // frames, one row per frame with exact integer energy. The oracle
    // replays the same framing arithmetically; a hash match certifies
    // per-frame sample recovery, not just clip totals.
    "mm_audio_frames" -> ((s, d) =>
      Multimodal.decodeAudioFrames(
          Multimodal.synthesizeWav(docs(s, d), "doc_id"), frameSamples = 80)
        .orderBy("asset_id", "frame_no"))
  ,
    // Multimodal REAL resize — decode + nearest-neighbor resample to a
    // fixed 8x8 thumbnail grid + channel means over the resampled
    // raster. The sampled source coordinate is integer floor division,
    // so the oracle replays the exact grid; emitting the decoded source
    // dims alongside pins the decoder's geometry too.
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeImageFeatures(
          Multimodal.synthesizePng(docs(s, d), "doc_id"), outW = 8, outH = 8)
        .select(col("asset_id"), col("src_w"), col("src_h"),
          round(col("mean_r") + 1e-9, 6).as("mean_r"),
          round(col("mean_g") + 1e-9, 6).as("mean_g"),
          round(col("mean_b") + 1e-9, 6).as("mean_b"))
        .orderBy("asset_id"))
  ,
    // Audio resample by integer decimation — the audio twin of mm_resize:
    // decode, keep every 4th sample, exact integer stats over the
    // decimated stream; source sample count rides along so a decoder
    // that dropped samples shifts the kept index set and mismatches.
    "mm_audio_resample" -> ((s, d) =>
      Multimodal.decimateAudioFeatures(
          Multimodal.synthesizeWav(docs(s, d), "doc_id"), factor = 4)
        .orderBy("asset_id"))
  ,
    // Multimodal REAL multi-frame decode — the video-shaped twin of
    // mm_features: one deterministic animated GIF per document (JDK GIF
    // sequence writer, explicit 256-gray palette so the codec is exactly
    // lossless), decoded frame-by-frame in the partition iterator, one
    // row per frame with exact integer pixel sums. The oracle replays
    // the raster arithmetic per frame; a hash match certifies every
    // frame's pixels survived the multi-frame container round-trip —
    // the per-frame 101 stride means a frame-disposal bug (frame 0
    // replayed) or a dropped frame cannot pass.
    "mm_video_frames" -> ((s, d) =>
      Multimodal.decodeGifFrames(
          Multimodal.synthesizeGif(docs(s, d), "doc_id"))
        .orderBy("asset_id", "frame_no")),

    // Keyframe selection over the decoded clip: exact integer L1 delta
    // vs the previous frame, keyframe iff the clip opens or the mean
    // per-pixel change clears 128 (scene cut). The ±101-stride synthetic
    // frames give per-frame deltas that mix 101- and 155-valued pixel
    // changes, so the threshold genuinely splits frames per asset — and
    // the oracle replays every pixel's |v_f − v_{f−1}| from the
    // generator arithmetic, certifying the detector saw the true frames.
    "mm_keyframes" -> ((s, d) =>
      Multimodal.decodeGifKeyframes(
          Multimodal.synthesizeGif(docs(s, d), "doc_id"))
        .orderBy("asset_id", "frame_no"))
  )

  /** Generated BPE oracle: `n` hand-unrolled merge rounds. Each round r
    * derives pair counts from the round-(r−1) symbol table, picks the
    * (count desc, l, r) argmax, and applies it with a per-word position
    * recursion — `acc[-1] = l AND next = r` replaces the accumulator's
    * last element, the exact fold `Text.bpeMerges` runs via `aggregate()`.
    */
  private def bpeChainSql(n: Int): String = {
    val rounds = (1 to n).map { r =>
      val prev = s"s${r - 1}"
      // MATERIALIZED is load-bearing: each round references the previous
      // round's symbol table from three places, so inlined CTEs would
      // re-derive the whole chain ~3^rounds times (measured: n=3 already
      // 8× slower than the materialized n=6) — the same blowup the k-core
      // oracle pins engine-side.
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq)::BIGINT AS cnt
         |  FROM $prev, unnest(range(1, len(syms))) u(i)
         |  GROUP BY 1, 2),
         |t$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |a$r AS (
         |  SELECT word, freq, syms, 1 AS pos, [syms[1]] AS acc FROM $prev
         |  UNION ALL
         |  SELECT a.word, a.freq, a.syms, a.pos + 1,
         |    CASE WHEN a.acc[-1] = t.l AND a.syms[a.pos + 1] = t.r
         |         THEN a.acc[1:len(a.acc) - 1] || [t.l || t.r]
         |         ELSE a.acc || [a.syms[a.pos + 1]] END
         |  FROM a$r a, t$r t WHERE a.pos < len(a.syms)),
         |s$r AS MATERIALIZED (SELECT word, freq, acc AS syms FROM a$r WHERE pos = len(syms))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |w AS (
       |  SELECT word, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |    FROM documents) u
       |  WHERE word <> '' GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
       |  FROM w),
       |$rounds""".stripMargin
  }

  private def bpeOracle(n: Int): String = {
    val out = (1 to n).map(r => s"SELECT $r AS rank, l, r, cnt FROM t$r")
      .mkString("\nUNION ALL\n")
    s"""${bpeChainSql(n)}
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** Encode oracle: the round-n symbol table IS the encoded vocabulary
    * (encoding replays training's per-merge passes in rank order, and the
    * corpus is its own training set), so per-document subtoken counts are
    * a join of corpus tokens against s{n}.
    */
  private def bpeEncodeOracle(n: Int): String =
    s"""${bpeChainSql(n)},
       |enc AS (SELECT word, len(syms)::BIGINT AS n_sub FROM s$n),
       |dt AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents)
       |SELECT dt.doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_subtoks,
       |  round(sum(n_sub)::DOUBLE / count(*) + 0.000000001, 4) AS subtok_ratio
       |FROM dt JOIN enc USING (word)
       |WHERE word <> ''
       |GROUP BY dt.doc_id
       |ORDER BY dt.doc_id""".stripMargin

  private def bpeVocabOracle(n: Int): String =
    s"""${bpeChainSql(n)}
       |SELECT sym, sum(freq)::BIGINT AS cnt
       |FROM (SELECT unnest(syms) AS sym, freq FROM s$n) u
       |GROUP BY sym
       |ORDER BY cnt DESC, sym
       |LIMIT 30""".stripMargin

  /** Generated unigram-LM oracle: full replay of `Text.ulmTrain` — the
    * substring seed (all single chars + top-60 multis), and per EM round
    * the Viterbi lattice DP as a per-word position recursion carrying
    * the whole best-prefix array (candidates = the ≤4 pieces ending at
    * the new position, folded with the same score-desc / n_pieces-asc /
    * shortest-first rule as `Text.viterbiFold`) followed by the count
    * M-step. Integer-scaled log-probs make every DP sum/comparison exact
    * BIGINT arithmetic on both engines. MATERIALIZED discipline as in
    * [[bpeChainSql]].
    */
  private def ulmChainSql(rounds: Int): String = {
    // floor-snapped integer log-prob of a (piece, cnt) table `src`
    def pcSql(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece, floor(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM $src)::DOUBLE)
         |    * 10000000 + 0.5 + 0.001)::BIGINT AS lp
         |  FROM $src)""".stripMargin
    // one fold step of the candidate-selection CASE chain
    def fold(a: String, b: String): String =
      s"""CASE WHEN $b IS NULL THEN $a WHEN $a IS NULL THEN $b
         |       WHEN $b.s > $a.s OR ($b.s = $a.s AND $b.np < $a.np) THEN $b
         |       ELSE $a END""".stripMargin
    def viterbi(r: Int, pc: String): String = {
      val cands = (1 to 4).map { k =>
        val lo = s"a.pos + ${2 - k}"
        s"""      CASE WHEN p$k.piece IS NOT NULL AND a.acc[$lo] IS NOT NULL
           |           THEN {'s': a.acc[$lo].s + p$k.lp,
           |                 'np': a.acc[$lo].np + 1,
           |                 'segs': a.acc[$lo].segs || [p$k.piece]} END AS c$k"""
          .stripMargin
      }.mkString(",\n")
      val joins = (1 to 4).map { k =>
        val guard = if (k == 1) "" else s"a.pos >= ${k - 1} AND "
        s"    LEFT JOIN $pc p$k ON $guard" +
          s"p$k.piece = a.word[a.pos + ${2 - k} : a.pos + 1]"
      }.mkString("\n")
      s"""v$r AS (
         |  SELECT word, freq, 0 AS pos,
         |    [{'s': 0::BIGINT, 'np': 0, 'segs': CAST([] AS VARCHAR[])}] AS acc
         |  FROM w
         |  UNION ALL
         |  SELECT word, freq, pos + 1 AS pos,
         |    acc || [${fold("sel3", "c4")}] AS acc
         |  FROM (
         |  SELECT word, freq, pos, acc, ${fold("sel2", "c3")} AS sel3, c4
         |  FROM (
         |  SELECT word, freq, pos, acc, ${fold("c1", "c2")} AS sel2, c3, c4
         |  FROM (
         |    SELECT a.word, a.freq, a.pos, a.acc,
         |$cands
         |    FROM v$r a
         |$joins
         |    WHERE a.pos < len(a.word)) l0) l1) l2),
         |f$r AS MATERIALIZED (
         |  SELECT word, freq, acc[len(word) + 1] AS fin
         |  FROM v$r WHERE pos = len(word)),
         |cnt$r AS MATERIALIZED (
         |  SELECT piece, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT f.freq, unnest(f.fin.segs) AS piece FROM f$r f) u
         |  GROUP BY piece)""".stripMargin
    }
    val roundSql = (1 to rounds).map(r =>
      viterbi(r, s"pc${r - 1}") +
        (if (r < rounds) ",\n" + pcSql(s"pc$r", s"cnt$r") else "")
    ).mkString(",\n")
    s"""WITH RECURSIVE
       |w AS (
       |  SELECT word, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |    FROM documents) u
       |  WHERE word <> '' GROUP BY word),
       |sub AS (
       |  SELECT piece, sum(freq)::BIGINT AS cnt FROM (
       |    SELECT w.freq, w.word[i : i + k - 1] AS piece
       |    FROM w, unnest(range(1, len(word) + 1)) u(i), unnest(range(1, 5)) v(k)
       |    WHERE i + k - 1 <= len(word)) p
       |  GROUP BY piece),
       |seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM sub WHERE len(piece) = 1
       |  UNION ALL
       |  FROM (SELECT piece, cnt FROM sub WHERE len(piece) >= 2
       |        ORDER BY cnt DESC, piece LIMIT 60)),
       |${pcSql("pc0", "seed")},
       |$roundSql""".stripMargin
  }

  private def ulmVocabOracle(rounds: Int): String =
    s"""${ulmChainSql(rounds)},
       |${"pcF AS MATERIALIZED ("}
       |  SELECT piece, floor(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM cnt$rounds)::DOUBLE)
       |    * 10000000 + 0.5 + 0.001)::BIGINT AS lp
       |  FROM cnt$rounds)
       |SELECT piece, cnt, lp
       |FROM cnt$rounds JOIN pcF USING (piece)
       |ORDER BY cnt DESC, piece
       |LIMIT 30""".stripMargin

  private[queries] def ulmEncodeOracle(rounds: Int, extraCols: String = ""): String =
    s"""${ulmChainSql(rounds)},
       |enc AS (SELECT word, fin.np::BIGINT AS n_pieces FROM f$rounds),
       |dt AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents)
       |SELECT dt.doc_id, count(*)::BIGINT AS n_words,
       |  sum(n_pieces)::BIGINT AS n_subtoks,
       |  round(sum(n_pieces)::DOUBLE / count(*) + 0.000000001, 4) AS subtok_ratio$extraCols
       |FROM dt JOIN enc USING (word)
       |WHERE word <> ''
       |GROUP BY dt.doc_id
       |ORDER BY dt.doc_id""".stripMargin

  /** Shared CTE chain replaying [[graft.operators.Multimodal.imageAHash]]
    * over base + single-pixel-perturbed twin populations: ids/g/s/lm/t/
    * bits/hh — `hh` is (asset_id, h_lo, h_hi). Consumed by the exact
    * (`mm_ahash_pairs`) and hot-bucket-capped (`mm_ahash_pairs_capped`)
    * oracles.
    */
  private def ahashHashCtes: String =
    """ids AS (
      |  SELECT doc_id AS asset_id, doc_id AS rid, 0 AS pert FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id, 1 FROM documents WHERE doc_id % 25 = 0),
      |g AS (SELECT asset_id, rid, pert,
      |        (rid % 13 + 4) AS w, (rid % 11 + 4) AS h FROM ids),
      |s AS (
      |  SELECT g.asset_id, r2.gy * 8 + r1.gx AS i,
      |    (r1.gx * g.w) // 8 AS sx, (r2.gy * g.h) // 8 AS sy, g.rid, g.pert
      |  FROM g, range(0, 8) r1(gx), range(0, 8) r2(gy)),
      |lm AS (
      |  SELECT asset_id, i,
      |    (((rid * 37 + sx * 11 + sy * 17) % 256 + bump) % 256
      |     + ((rid * 37 + sx * 11 + sy * 17 + 29) % 256 + bump) % 256
      |     + ((rid * 37 + sx * 11 + sy * 17 + 58) % 256 + bump) % 256) // 3 AS lum
      |  FROM (SELECT *,
      |          CASE WHEN pert = 1 AND sx = 0 AND sy = 0 THEN 1 ELSE 0 END AS bump
      |        FROM s)),
      |t AS (SELECT asset_id, i, lum,
      |        sum(lum) OVER (PARTITION BY asset_id) AS total FROM lm),
      |bits AS (SELECT asset_id, i,
      |           CASE WHEN 64 * lum > total THEN 1 ELSE 0 END AS bit FROM t),
      |hh AS (SELECT asset_id,
      |    sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS h_lo,
      |    sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS h_hi
      |  FROM bits GROUP BY asset_id)""".stripMargin

  /** Shared CTE chain replaying [[graft.operators.Multimodal.gifFrameAHash]]
    * over base + one-frame-retouched twin clips: ids/g/fr/s/lm/t/bits/hh
    * — `hh` is (asset_id, f, h_lo, h_hi). Consumed by the exact and
    * hot-bucket-capped video containment oracles.
    */
  private def videoHashCtes: String =
    """ids AS (
      |  SELECT doc_id AS asset_id, doc_id AS rid, 0 AS pert FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id, 1 FROM documents WHERE doc_id % 25 = 0),
      |g AS (SELECT asset_id, rid, pert, (rid % 5 + 2) AS nf,
      |        (rid % 9 + 4) AS w, (rid % 7 + 4) AS h FROM ids),
      |fr AS (SELECT g.*, ff.f FROM g, range(0, 7) ff(f) WHERE ff.f < g.nf),
      |s AS (
      |  SELECT asset_id, f, r2.gy * 8 + r1.gx AS i,
      |    (r1.gx * w) // 8 AS sx, (r2.gy * h) // 8 AS sy, rid, pert
      |  FROM fr, range(0, 8) r1(gx), range(0, 8) r2(gy)),
      |lm AS (
      |  SELECT asset_id, f, i,
      |    ((rid * 37 + f * 101 + sx * 11 + sy * 17) % 256
      |     + CASE WHEN pert = 1 AND f = 0 AND sx = 0 AND sy = 0
      |            THEN 1 ELSE 0 END) % 256 AS lum
      |  FROM s),
      |t AS (SELECT asset_id, f, i, lum,
      |        sum(lum) OVER (PARTITION BY asset_id, f) AS total FROM lm),
      |bits AS (SELECT asset_id, f, i,
      |           CASE WHEN 64 * lum > total THEN 1 ELSE 0 END AS bit FROM t),
      |hh AS (SELECT asset_id, f,
      |    sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS h_lo,
      |    sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS h_hi
      |  FROM bits GROUP BY asset_id, f)""".stripMargin

  /** Parameterized BM25 replay — the inverted-index probes' oracle: the
    * exact `tx_bm25` SQL with the corpus restricted by `docWhere` (the
    * build/ingest/delete doc-set algebra) and the scoring params
    * interpolated (Scala's shortest-round-trip double printing and
    * DuckDB's literal parsing agree bit-for-bit, same device as every
    * interpolated constant here). `extraCols` appends pinned-TRUE
    * certificate columns.
    */
  private[queries] def bm25OracleSql(
      docWhere: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      extraCols: String = "",
      candWhere: String = "",
      textSql: String = "text",
      terms: Seq[String] = BmQueryTerms,
      elideFrac: Option[Double] = None): String = {
    val termList = terms.map(q => s"'$q'").mkString(", ")
    // candWhere (over the documents columns) restricts CANDIDATES only —
    // stats/df stay over the docWhere corpus (the filtered probe's
    // Lucene-semantics contract)
    val candJoin =
      if (candWhere.isEmpty) ""
      else s" JOIN t USING (doc_id) WHERE $candWhere"
    // elideFrac replays the probe's common-term elision boundary: a term
    // contributes iff its df fraction stays at or under the threshold —
    // the SAME double comparison the Spark side evaluates
    val elide = elideFrac
      .map(f => s"\n  WHERE df::DOUBLE <= $f * n_docs").getOrElse("")
    s"""WITH t AS (
       |  SELECT doc_id, lang, regexp_split_to_array($textSql, '\\s+') AS toks
       |  FROM documents$docWhere),
       |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
       |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
       |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (
       |  SELECT doc_id, term, count(1) AS tf FROM tm
       |  WHERE term IN ($termList) GROUP BY doc_id, term),
       |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
       |c AS (
       |  SELECT tf.doc_id, dl,
       |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
       |      * (tf::DOUBLE * ${k1 + 1})
       |      / (tf + $k1 * (${1 - b} + $b * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
       |      AS contrib
       |  FROM tf JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN st$elide),
       |s AS (
       |  SELECT doc_id, dl,
       |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
       |  FROM c GROUP BY doc_id, dl)
       |SELECT doc_id, dl, bm25$extraCols FROM s$candJoin
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** DSIR replay — shared by the one-shot query and the streaming
    * model-maintenance parity (`st_dsir_parity`): bins, both smoothed
    * bag models, the decimal-summed per-doc ratio, deterministic top-50.
    */
  private[queries] def dsirOracleSql(extraCols: String = ""): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |tm AS (SELECT doc_id, (lang = 'en') AS is_t, unnest(toks) AS term FROM t),
       |b AS (
       |  SELECT doc_id, is_t,
       |    (('0x' || substr(md5(term), 1, 15))::BIGINT % 128) AS bin
       |  FROM tm),
       |raw AS (SELECT bin, count(1) AS cr FROM b GROUP BY bin),
       |tgt AS (SELECT bin, count(1) AS ct FROM b WHERE is_t GROUP BY bin),
       |tots AS (
       |  SELECT count(1) AS tot_r,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS tot_t
       |  FROM b),
       |llr AS (
       |  SELECT raw.bin,
       |    ln((coalesce(ct, 0) + 1)::DOUBLE / (tot_t + 128))
       |      - ln((cr + 1)::DOUBLE / (tot_r + 128)) AS llr
       |  FROM raw LEFT JOIN tgt USING (bin) CROSS JOIN tots),
       |dtf AS (SELECT doc_id, bin, count(1) AS tf FROM b GROUP BY doc_id, bin),
       |wts AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS dl,
       |    round(sum((tf * llr)::DECIMAL(28,14))::DOUBLE / sum(tf)
       |      + 0.000000001, 4) AS dsir_w
       |  FROM dtf JOIN llr USING (bin) GROUP BY doc_id)
       |SELECT doc_id, dl, dsir_w$extraCols FROM wts
       |ORDER BY dsir_w DESC, doc_id LIMIT 50""".stripMargin

  /** Generated KN serving-chain oracle: the tx_kn_nll replay with the
    * STATS corpus and the SCORED slice parameterized — every KN-family
    * lifecycle verb (serve / ingest-fold / delete) promises exactly
    * "bit-identical to the chain over the right corpus, scored on the
    * right slice", so all three queries share this builder. n_oov is
    * 0 by construction (each scored doc lives inside the stats corpus)
    * and the literal pin makes a serving-side OOV regression loud.
    */
  private[queries] def knServeSql(
      statsWhere: String,
      scoreWhere: String,
      extraCols: String = ""): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2),
       |btf AS (SELECT doc_id, a, b, count(1) AS tf FROM bi GROUP BY doc_id, a, b),
       |cab AS (SELECT a, b, sum(tf)::BIGINT AS cab FROM btf$statsWhere GROUP BY a, b),
       |ca AS (SELECT a, sum(cab)::BIGINT AS ca, count(1)::BIGINT AS n1a
       |       FROM cab GROUP BY a),
       |nb AS (SELECT b, count(1)::BIGINT AS nb FROM cab GROUP BY b),
       |kg AS (SELECT count(1)::BIGINT AS n_types,
       |    coalesce(sum(CASE WHEN cab = 1 THEN 1 END), 0)::BIGINT AS n1,
       |    coalesce(sum(CASE WHEN cab = 2 THEN 1 END), 0)::BIGINT AS n2
       |  FROM cab),
       |disc AS (SELECT *,
       |    CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
       |         ELSE n1::DOUBLE / (n1 + 2 * n2)::DOUBLE END AS d
       |  FROM kg),
       |stf AS (SELECT * FROM btf$scoreWhere),
       |c AS (
       |  SELECT doc_id, tf,
       |    tf::DOUBLE * -ln(
       |      greatest(cab::DOUBLE - d, 0) / ca::DOUBLE
       |      + (d * n1a::DOUBLE / ca::DOUBLE)
       |        * (nb::DOUBLE / n_types::DOUBLE)) AS contrib
       |  FROM stf JOIN cab USING (a, b) JOIN ca USING (a) JOIN nb USING (b)
       |  CROSS JOIN disc)
       |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams, 0::BIGINT AS n_oov,
       |  round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll$extraCols
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared calibrated-serving replay chain: holdout GD (the
    * [[classifierHoldoutCtes]] tail gives `sc` = test scores; mtr/sctr
    * re-derive the TRAIN scores under the same final weights), the
    * 4-decimal level table with integer (n, pos) stats, the COMPLETE PAV
    * fit via its minimax closed form (every interval mean one double
    * division of exact integer prefix sums — li/pr/mx/calt), and the
    * step-map application (arg_max over levels ≤ the score, clamped to
    * the first level) over `applyFrom`, ending in
    * `ap(doc_id, y, s7, cal7)`. `preCtes` interposes the score source
    * (the streaming twin unions train + test into `sall`).
    */
  private def clfCalChainSql(applyFrom: String, preCtes: String = ""): String =
    s"$classifierHoldoutCtes,\n" + clfCalChainSansT(applyFrom, preCtes)

  /** The calibration tail of [[clfCalChainSql]] (score train split → level
    * table → PAV minimax → step-apply to `applyFrom`), without the
    * classifier CTes — composed oracles splice it after
    * [[classifierCtesSansT]] behind their own shared `t`.
    */
  private[queries] def clfCalChainSansT(
      applyFrom: String, preCtes: String = ""): String =
    s"""mtr AS (
       |  SELECT f.doc_id, f.y,
       |    (((f.x1 * fw.w1) + (f.x2 * fw.w2)) + (f.x3 * fw.w3))
       |      + (f.x4 * fw.w4) AS m
       |  FROM f, (SELECT w1, w2, w3, w4 FROM gd WHERE it = $ClfIters) fw),
       |sctr AS (
       |  SELECT doc_id, y,
       |    round(0.5 + (0.5 * m) / (1.0 + abs(m)), 7) AS s7
       |  FROM mtr),
       |lv AS (
       |  SELECT round(s7 + 0.000000001, 4) AS lvl,
       |    count(1)::BIGINT AS n, sum(y)::BIGINT AS pos
       |  FROM sctr GROUP BY 1),
       |li AS MATERIALIZED (
       |  SELECT lvl, n, pos,
       |    row_number() OVER (ORDER BY lvl) AS i,
       |    sum(n) OVER (ORDER BY lvl
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
       |    sum(pos) OVER (ORDER BY lvl
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos
       |  FROM lv),
       |pr AS MATERIALIZED (
       |  SELECT a.i AS ji, a.lvl AS lvl, b.i AS ki,
       |    (b.cpos - (a.cpos - a.pos))::DOUBLE
       |      / (b.cn - (a.cn - a.n))::DOUBLE AS mn
       |  FROM li a JOIN li b ON a.i <= b.i),
       |mx AS (
       |  SELECT ji, lvl,
       |    max(mn) OVER (PARTITION BY ki ORDER BY ji
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mxv
       |  FROM pr),
       |calt AS MATERIALIZED (
       |  SELECT ji, lvl, min(mxv) AS cal FROM mx GROUP BY ji, lvl),
       |c0 AS (SELECT cal AS cal0 FROM calt ORDER BY lvl LIMIT 1),$preCtes
       |ste AS (SELECT doc_id, y, s7, round(s7 + 0.000000001, 4) AS lvl
       |        FROM $applyFrom),
       |ap AS MATERIALIZED (
       |  SELECT t.doc_id, any_value(t.y) AS y, any_value(t.s7) AS s7,
       |    round(coalesce(arg_max(c.cal, c.lvl), (SELECT cal0 FROM c0))
       |      + 0.000000001, 7) AS cal7
       |  FROM ste t LEFT JOIN calt c ON c.lvl <= t.lvl
       |  GROUP BY t.doc_id)""".stripMargin

  /** [[ulmChainSql]] without its leading `WITH RECURSIVE` — for composed
    * oracles that already opened their own recursive WITH list (the
    * kn3ChainSansT device; CTE names w, sub, seed, s0, pcN, vN, fN,
    * cntN are collision-checked against the curate chain's).
    */
  private def ulmChainSansWith(rounds: Int): String = {
    val full = ulmChainSql(rounds)
    val stripped = full.stripPrefix("WITH RECURSIVE\n")
    require(stripped != full, "ulmChainSql prefix drifted")
    stripped
  }

  /** The shared CCNet+ curate replay — the full gate chain ending in the
    * survivor CTE `cgate(doc_id, lang, text, n_tokens, quality, nll,
    * bucket, cal7)`: one `t` superset CTE, minhash bands + transitive
    * closure (dedup survivors), the trigram-KN chain + exact tercile
    * rank (the perplexity gate), holdout GD + PAV + step apply (the
    * calibrated keep floor), then the gates. `d_curate_ccnet` projects
    * cgate; `d_curate_emit` tokenizes/packs/shards it.
    */
  private lazy val curateChainSql: String = {
    val head =
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, text, regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |""".stripMargin
    val buckets =
      """rk AS (
        |  SELECT doc_id, nll,
        |    row_number() OVER (ORDER BY nll, doc_id)::BIGINT AS rnk,
        |    count(1) OVER ()::BIGINT AS n
        |  FROM scd),
        |bk AS (
        |  SELECT doc_id, nll,
        |    CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
        |         WHEN rnk <= (n * 2 + 2) // 3 THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM rk),
        |""".stripMargin
    val gate =
      s""",
         |q AS (
         |  SELECT doc_id, lang, text, len(toks)::BIGINT AS n_tokens,
         |    round(
         |      least(len(toks) / 50.0, 1.0) * 0.5
         |      + (${hitsSql("en")}::DOUBLE / len(toks)) * 0.3
         |      + least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks))
         |              / 8.0, 1.0) * 0.2 + 0.000000001, 4) AS quality
         |  FROM t
         |  WHERE NOT EXISTS (SELECT 1 FROM rep r
         |                    WHERE r.id = t.doc_id AND r.rep < r.id)),
         |cgate AS (
         |  SELECT q.doc_id, q.lang, q.text, q.n_tokens, q.quality,
         |    bk.nll, bk.bucket, ap.cal7
         |  FROM q JOIN bk USING (doc_id) JOIN ap USING (doc_id)
         |  WHERE q.lang IN ('en', 'de', 'es', 'fr') AND q.quality >= 0.5
         |    AND bk.bucket <> 'tail' AND ap.cal7 >= 0.5)""".stripMargin
    head + DedupQueries.ClusterRepSansToks + ",\n" +
      kn3ChainSansT("", "") + ",\n" + buckets +
      classifierCtesSansT(holdout = true) + ",\n" +
      clfCalChainSansT("sall",
        "\n       |sall AS (SELECT * FROM sctr UNION ALL SELECT * FROM sc),") +
      gate
  }

  /** The tx_langid_clf replay: the salted word-bin projection, the
    * lexicon-rule teacher label, the exact train-split centering, all
    * FOUR one-vs-rest GD chains (recursive CTEs over the 65-weight rows
    * — the gdCtes device generalized to k features and a per-dialect
    * label), the 7dp-rounded scoring of the held-out fifth, and the
    * declaration-order argmax. agree_ok pinned TRUE.
    */
  /** The word-unigram bin projection (tx_langid_clf's universe). */
  private lazy val LangWordBinsSql: String =
    s"""list_transform(regexp_split_to_array(text, '\\s+'), t ->
       |      ('0x' || substr(md5('$LangSalt:' || t), 1, 15))::BIGINT
       |        % $LangBins)""".stripMargin

  /** The char-3-gram bin projection (tx_langid_chargram's universe):
    * boundary-padded per-token 3-grams — fastText's subword universe
    * (`<wo`, `wor`, ..., `rd>`), which keeps prefix/suffix signal and
    * drops cross-word noise grams.
    */
  private lazy val LangCharBinsSql: String =
    // single-|| lines must not LEAD a line here: this fragment embeds in
    // langClfSql's template whose own stripMargin would eat the first |
    s"""flatten(list_transform(regexp_split_to_array(text, '\\s+'), t ->
       |      list_transform(range(1, length(t) + 1), i ->
       |        ('0x' || substr(md5('$LangCharSalt:' ||
       |          substr('<' || t || '>', i, 3)), 1, 15))::BIGINT
       |          % $LangBins)))""".stripMargin

  private def langClfSql(binsSql: String, scale: Double, iters: Int): String = {
    val k = LangBins + 1
    val sig = "(0.5 + (0.5 * m) / (1.0 + abs(m)))"
    val ds = "(0.5 / ((1.0 + abs(m)) * (1.0 + abs(m))))"
    val lr = ClfLr.toString
    val names = Dialects.map(_._1)
    // bin ids computed ONCE per gram (one md5), then 64 integer filters
    // — a per-bin md5 would cost 64 hashes per gram on 5k docs
    val rdefs = (1 to LangBins).map { b =>
      s"    len(list_filter(bins, v -> v = ${b - 1}))::DOUBLE / len(bins) AS r$b"
    }.mkString(",\n")
    val fdefs = Dialects.map { case (name, lex) =>
      val l = lex.map(w => s"'$w'").mkString("[", ", ", "]")
      s"    len(list_filter(toks, t -> list_contains($l, t)))::DOUBLE / len(toks) AS f_$name"
    }.mkString(",\n")
    val fCols = names.map(n => s"f_$n").mkString(", ")
    val dialCase = names.init.map(n =>
      s"WHEN f_$n = greatest($fCols) THEN '$n'")
      .mkString("CASE ", " ", s" ELSE '${names.last}' END")
    val sums = (1 to LangBins).map(b =>
      s"    sum(CAST(r$b AS DECIMAL(28,14)))::DOUBLE AS s$b").mkString(",\n")
    val xdefs = (1 to LangBins).map(b =>
      s"    $scale * (r$b - (mu.s$b / mu.n)) AS x$b").mkString(",\n")
    def marginOf(fAlias: String, wAlias: String): String =
      (0 until k).map(j => s"($fAlias.x$j * $wAlias.w$j)")
        .reduceLeft((a, b) => s"($a + $b)")
    val wCols = (0 until k).map(j => s"w$j").mkString(", ")
    val zeros = (0 until k).map(_ => "0.0::DOUBLE").mkString(", ")
    def gdDialect(l: String): String = {
      val grads = (0 until k).map { j =>
        s"    w$j - $lr * (sum(CAST((($sig - y) * $ds) * x$j" +
          s" AS DECIMAL(28,14)))::DOUBLE / count(*))"
      }.mkString(",\n")
      val gsel = (0 until k).map(j => s"gd_$l.w$j").mkString(", ")
      val fsel = (0 until k).map(j => s"f.x$j").mkString(", ")
      s"""gd_$l(it, $wCols) AS (
         |  SELECT 0, $zeros
         |  UNION ALL
         |  SELECT it + 1,
         |$grads
         |  FROM (
         |    SELECT gd_$l.it, $gsel, $fsel,
         |      CASE WHEN f.dialect = '$l' THEN 1.0 ELSE 0.0 END AS y,
         |      ${marginOf("f", s"gd_$l")} AS m
         |    FROM gd_$l, lftr f WHERE gd_$l.it < $iters) z
         |  GROUP BY it, $wCols),
         |fw_$l AS (SELECT $wCols FROM gd_$l WHERE it = $iters),
         |sc_$l AS (
         |  SELECT doc_id, round(0.5 + (0.5 * m) / (1.0 + abs(m)), 7) AS s_$l
         |  FROM (SELECT f.doc_id, ${marginOf("f", "fw")} AS m
         |        FROM lfte f, fw_$l fw) z)""".stripMargin
    }
    val scJoins = names.map(l => s"JOIN sc_$l USING (doc_id)").mkString(" ")
    val sCols = names.map(l => s"s_$l").mkString(", ")
    val argmax = names.init.map(l =>
      s"WHEN s_$l = greatest($sCols) THEN '$l'")
      .mkString("CASE ", " ", s" ELSE '${names.last}' END")
    s"""WITH RECURSIVE tt AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks,
       |    $binsSql AS bins
       |  FROM documents),
       |lr0 AS MATERIALIZED (
       |  SELECT doc_id,
       |$rdefs,
       |$fdefs
       |  FROM tt),
       |lb AS MATERIALIZED (
       |  SELECT *, $dialCase AS dialect FROM lr0),
       |mu AS MATERIALIZED (
       |  SELECT count(1) AS n,
       |$sums
       |  FROM lb WHERE doc_id % 5 <> 0),
       |lf AS MATERIALIZED (
       |  SELECT doc_id, dialect, 1.0::DOUBLE AS x0,
       |$xdefs
       |  FROM lb CROSS JOIN mu),
       |lftr AS MATERIALIZED (SELECT * FROM lf WHERE doc_id % 5 <> 0),
       |lfte AS MATERIALIZED (SELECT * FROM lf WHERE doc_id % 5 = 0),
       |${names.map(gdDialect).mkString(",\n")}
       |SELECT lfte.doc_id, lfte.dialect,
       |  $argmax AS pred_dialect,
       |  greatest($sCols) AS best_score,
       |  ($argmax = lfte.dialect) AS is_match,
       |  TRUE AS agree_ok
       |FROM lfte $scJoins
       |ORDER BY lfte.doc_id""".stripMargin
  }

  /** The blocklist-SERVING replay: the post-lifecycle live set (top-12
    * bigram phrases minus the top-2 take-downs = LIMIT 10 OFFSET 2 on the
    * same (n desc, gram) order) and the per-pattern position scan —
    * shared by tx_blocklist_serving and the streamed ingest parity,
    * whose resolved sets must coincide.
    */
  private[queries] def blocklistServeSql(extraCols: String = ""): String =
    s"""WITH t AS (
       |  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT gram FROM (
       |    SELECT unnest(list_transform(range(1, len(toks)),
       |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
       |    FROM t)
       |  WHERE gram <> ''
       |    AND NOT regexp_matches(gram, '[\\x{10000}-\\x{10FFFF}]')),
       |top AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(1) AS n FROM g GROUP BY gram
       |    ORDER BY n DESC, gram LIMIT 10 OFFSET 2)),
       |m AS (
       |  SELECT t.doc_id,
       |    CASE WHEN length(text) >= length(gram)
       |      THEN len(list_filter(range(1, length(text) - length(gram) + 2),
       |        i -> substr(text, i, length(gram)) = gram))
       |      ELSE 0 END AS cnt
       |  FROM t CROSS JOIN top)
       |SELECT doc_id, sum(cnt)::BIGINT AS n_occurrences,
       |  sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_patterns_hit$extraCols
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The blocklist-excision replay: corpus top-10 bigram phrases, the
    * per-pattern position scan, interval-union removal as a
    * covered-position anti-join with ordered reassembly. Shared by
    * tx_blocklist_scrub (one-shot) and st_blocklist_parity (the streamed
    * rewrite must drain to the identical rows).
    */
  private[queries] lazy val blocklistScrubSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, text, regexp_split_to_array(text, '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT gram FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
      |    FROM t)
      |  WHERE gram <> ''
      |    AND NOT regexp_matches(gram, '[\x{10000}-\x{10FFFF}]')),
      |top AS (
      |  SELECT gram FROM (
      |    SELECT gram, count(1) AS n FROM g GROUP BY gram
      |    ORDER BY n DESC, gram LIMIT 10)),
      |sp AS MATERIALIZED (
      |  SELECT t.doc_id, i AS s, i + length(gram) - 1 AS e
      |  FROM t CROSS JOIN top,
      |    unnest(list_filter(range(1, length(text) - length(gram) + 2),
      |      i -> substr(text, i, length(gram)) = gram)) AS u(i)),
      |cov AS (
      |  SELECT DISTINCT doc_id, p
      |  FROM sp, unnest(range(s, e + 1)) AS r(p)),
      |ch AS (
      |  SELECT doc_id, i, substr(text, i, 1) AS chr
      |  FROM t, unnest(range(1, length(text) + 1)) AS r(i)),
      |kept AS (
      |  SELECT ch.doc_id, string_agg(chr, '' ORDER BY i) AS clean_text
      |  FROM ch ANTI JOIN cov ON ch.doc_id = cov.doc_id AND ch.i = cov.p
      |  GROUP BY ch.doc_id),
      |cnt AS (SELECT doc_id, count(1)::BIGINT AS n_matches
      |        FROM sp GROUP BY doc_id)
      |SELECT t.doc_id,
      |  coalesce(k.clean_text, '') AS clean_text,
      |  coalesce(c.n_matches, 0)::BIGINT AS n_matches,
      |  (length(t.text) - length(coalesce(k.clean_text, '')))::BIGINT
      |    AS n_removed_chars
      |FROM t LEFT JOIN kept k USING (doc_id) LEFT JOIN cnt c USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** The st_clf_cal_serving_parity oracle source: every doc (train ∪
    * test) scored under the holdout weights, then calibrated.
    */
  private[queries] def clfCalAllDocsSql(extraCols: String): String =
    s"""${clfCalChainSql("sall",
        "\n       |sall AS (SELECT * FROM sctr UNION ALL SELECT * FROM sc),")}
       |SELECT doc_id, round(s7 + 0.000000001, 4) AS score,
       |  cal7 AS cal_score$extraCols
       |FROM ap ORDER BY doc_id""".stripMargin

  /** Generated TRIGRAM-KN serving-chain oracle — [[knServeSql]] one order
    * up: the tx_kn3_nll replay with the STATS corpus and the SCORED slice
    * parameterized, shared by the three tenth-family lifecycle queries
    * and the streaming parity. n_oov is pinned 0 for the same reason.
    */
  private[queries] def kn3ServeSql(
      statsWhere: String,
      scoreWhere: String,
      extraCols: String = ""): String =
    s"""${kn3ChainSql(statsWhere, scoreWhere)}
       |SELECT doc_id, n_trigrams, n_oov, nll$extraCols
       |FROM scd ORDER BY doc_id""".stripMargin

  /** The chain half of [[kn3ServeSql]], ending in the per-doc score CTE
    * `scd(doc_id, n_trigrams, n_oov, nll)` — the perplexity-bucketing
    * oracle appends its rank/tercile tail to it.
    */
  private[queries] def kn3ChainSql(
      statsWhere: String,
      scoreWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |""".stripMargin + kn3ChainSansT(statsWhere, scoreWhere)

  /** [[kn3ChainSql]] without its leading `t` CTE — for composed oracles
    * that declare one shared `t(doc_id, …, toks)` superset.
    */
  private[queries] def kn3ChainSansT(
      statsWhere: String,
      scoreWhere: String): String =
    s"""tg AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
       |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
       |  WHERE len(toks) >= 3),
       |ttf AS (SELECT doc_id, a, b, c, count(1) AS tf FROM tg
       |        GROUP BY doc_id, a, b, c),
       |cabc AS (SELECT a, b, c, sum(tf)::BIGINT AS cabc FROM ttf$statsWhere
       |         GROUP BY a, b, c),
       |ab AS (SELECT a, b, sum(cabc)::BIGINT AS cab2, count(1)::BIGINT AS n3a
       |       FROM cabc GROUP BY a, b),
       |g3 AS (SELECT
       |    coalesce(sum(CASE WHEN cabc = 1 THEN 1 END), 0)::BIGINT AS n1_3,
       |    coalesce(sum(CASE WHEN cabc = 2 THEN 1 END), 0)::BIGINT AS n2_3
       |  FROM cabc),
       |cont AS (SELECT b, c, count(1)::BIGINT AS nbc FROM cabc GROUP BY b, c),
       |bmid AS (SELECT b, sum(nbc)::BIGINT AS nbdot, count(1)::BIGINT AS nbmid
       |         FROM cont GROUP BY b),
       |g2 AS (SELECT
       |    coalesce(sum(CASE WHEN nbc = 1 THEN 1 END), 0)::BIGINT AS n1_2,
       |    coalesce(sum(CASE WHEN nbc = 2 THEN 1 END), 0)::BIGINT AS n2_2
       |  FROM cont),
       |cc AS (SELECT c, count(1)::BIGINT AS ncc FROM cont GROUP BY c),
       |gbg AS (SELECT count(1)::BIGINT AS nbg FROM cont),
       |dd AS (SELECT
       |    CASE WHEN n1_3 + 2 * n2_3 = 0 THEN 0.0
       |         ELSE n1_3::DOUBLE / (n1_3 + 2 * n2_3)::DOUBLE END AS d3,
       |    CASE WHEN n1_2 + 2 * n2_2 = 0 THEN 0.0
       |         ELSE n1_2::DOUBLE / (n1_2 + 2 * n2_2)::DOUBLE END AS d2,
       |    nbg
       |  FROM g3 CROSS JOIN g2 CROSS JOIN gbg),
       |stf AS (SELECT * FROM ttf$scoreWhere),
       |x AS (
       |  SELECT doc_id, tf,
       |    tf::DOUBLE * -ln(
       |      greatest(cabc::DOUBLE - d3, 0) / cab2::DOUBLE
       |      + (d3 * n3a::DOUBLE / cab2::DOUBLE)
       |        * (greatest(nbc::DOUBLE - d2, 0) / nbdot::DOUBLE
       |          + (d2 * nbmid::DOUBLE / nbdot::DOUBLE)
       |            * (ncc::DOUBLE / nbg::DOUBLE))) AS contrib
       |  FROM stf JOIN cabc USING (a, b, c) JOIN ab USING (a, b)
       |  JOIN cont USING (b, c) JOIN bmid USING (b) JOIN cc USING (c)
       |  CROSS JOIN dd),
       |scd AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS n_trigrams, 0::BIGINT AS n_oov,
       |    round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll
       |  FROM x GROUP BY doc_id)""".stripMargin

  /** The shared DoReMi replay chain: both per-doc NLL chains (the
    * tx_unigram_nll and tx_kn_nll oracles verbatim, renamed CTEs), the
    * per-domain excess-loss aggregation `ex` (exact DECIMAL sum), then
    * all 10 multiplicative-weights rounds as ONE recursive CTE over the
    * pivoted 5-domain weight row (the classifier GD-replay idiom —
    * per-round normalization is the same left-associated DECIMAL(28,14)
    * chain Spark's order-free decimal sum computes), unpivoted back to
    * rows as `fw(domain, alpha, ravg)`. Consumers append their final
    * SELECT (the weights query) or further CTEs (the sampler).
    */
  private[queries] lazy val doremiChainSql: String = {
    def upd(a: String, l: String) = s"$a * (1.0 + 10.0 * $l)"
    val doms = Seq("de" -> "lde", "en" -> "len_", "es" -> "les",
      "fr" -> "lfr", "zh" -> "lzh")
    val pCols = doms.map { case (g, l) => s"a$g * (1.0 + 10.0 * $l) AS p$g" }
      .mkString(",\n       |        ")
    val sSum = doms.map { case (g, l) =>
      s"CAST(${upd(s"a$g", l)} AS DECIMAL(28,14))" }
      .mkString("(", "\n       |          + ", ")::DOUBLE AS s")
    val nCols = doms.map { case (g, _) =>
      s"(1.0 - 0.1) * (p$g / s) + (0.1 / 5.0) AS n$g" }
      .mkString(",\n       |      ")
    val lamPiv = doms.map { case (g, l) =>
      s"max(CASE WHEN domain = '$g' THEN lam END) AS $l" }
      .mkString(",\n       |  ")
    val unpiv = doms.map { case (g, _) =>
      s"SELECT '$g' AS domain, a$g AS alpha, r$g AS ravg FROM fin" }
      .mkString("\n       |  UNION ALL ")
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |utm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |utf AS (SELECT doc_id, term, count(1) AS tf FROM utm GROUP BY doc_id, term),
       |ucf AS (SELECT term, sum(tf)::BIGINT AS cf FROM utf GROUP BY term),
       |utot AS (SELECT sum(cf)::BIGINT AS tot FROM ucf),
       |uc AS (
       |  SELECT doc_id, tf, tf::DOUBLE * -ln(cf::DOUBLE / tot::DOUBLE) AS contrib
       |  FROM utf JOIN ucf USING (term) CROSS JOIN utot),
       |ud AS (
       |  SELECT doc_id,
       |    round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS unll
       |  FROM uc GROUP BY doc_id),
       |bi AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2),
       |btf AS (SELECT doc_id, a, b, count(1) AS tf FROM bi GROUP BY doc_id, a, b),
       |cab AS (SELECT a, b, sum(tf)::BIGINT AS cab FROM btf GROUP BY a, b),
       |ca AS (SELECT a, sum(cab)::BIGINT AS ca, count(1)::BIGINT AS n1a
       |       FROM cab GROUP BY a),
       |nb AS (SELECT b, count(1)::BIGINT AS nb FROM cab GROUP BY b),
       |kg AS (SELECT count(1)::BIGINT AS n_types,
       |    coalesce(sum(CASE WHEN cab = 1 THEN 1 END), 0)::BIGINT AS n1,
       |    coalesce(sum(CASE WHEN cab = 2 THEN 1 END), 0)::BIGINT AS n2
       |  FROM cab),
       |disc AS (SELECT *,
       |    CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
       |         ELSE n1::DOUBLE / (n1 + 2 * n2)::DOUBLE END AS d
       |  FROM kg),
       |kc AS (
       |  SELECT doc_id, tf,
       |    tf::DOUBLE * -ln(
       |      greatest(cab::DOUBLE - d, 0) / ca::DOUBLE
       |      + (d * n1a::DOUBLE / ca::DOUBLE)
       |        * (nb::DOUBLE / n_types::DOUBLE)) AS contrib
       |  FROM btf JOIN cab USING (a, b) JOIN ca USING (a) JOIN nb USING (b)
       |  CROSS JOIN disc),
       |kd AS (
       |  SELECT doc_id,
       |    round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS knll
       |  FROM kc GROUP BY doc_id),
       |ex AS (
       |  SELECT lang AS domain, count(1)::BIGINT AS n_docs,
       |    sum(greatest(unll - knll, 0.0)::DECIMAL(28,14))::DOUBLE / count(1) AS lam
       |  FROM ud JOIN kd USING (doc_id) JOIN t USING (doc_id)
       |  GROUP BY lang),
       |lp AS (SELECT
       |  $lamPiv
       |  FROM ex),
       |mw(it, ade, aen, aes, afr, azh, rde, ren, res, rfr, rzh) AS (
       |  -- anchor literals TYPE the recursive columns: a bare 0.0 is
       |  -- DECIMAL(2,1) in DuckDB and would silently round every
       |  -- accumulated iterate to one decimal place
       |  SELECT 0, (1.0/5.0)::DOUBLE, (1.0/5.0)::DOUBLE, (1.0/5.0)::DOUBLE,
       |         (1.0/5.0)::DOUBLE, (1.0/5.0)::DOUBLE,
       |         0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
       |  UNION ALL
       |  SELECT it + 1, nde, nen, nes, nfr, nzh,
       |    rde + nde, ren + nen, res + nes, rfr + nfr, rzh + nzh
       |  FROM (
       |    SELECT it, rde, ren, res, rfr, rzh,
       |      $nCols
       |    FROM (
       |      SELECT it, rde, ren, res, rfr, rzh,
       |        $pCols,
       |        $sSum
       |      FROM mw, lp WHERE it < 10) z1) z2),
       |fin AS (SELECT * FROM mw WHERE it = 10),
       |fw AS (
       |  $unpiv)""".stripMargin
  }

  /** The TOPIC-conditioned DoReMi replay: the full k-means chain
    * (SimilarityQueries.kmeansCtes — seeds, both Lloyd rounds, the final
    * assignment `af`), both per-doc NLL chains (the [[doremiChainSql]]
    * text verbatim), the per-CLUSTER excess-loss aggregation, then the
    * 10 MW rounds as one recursive CTE over the pivoted 8-domain weight
    * row — numeric cluster domains 1..8, uniform init (1.0/8.0)::DOUBLE
    * and smoothing floor 0.1/8.0 (both exact: division by the
    * power-of-two domain count is exact in binary, so the decimal
    * literals land on the identical doubles the JVM computes).
    */
  private[queries] lazy val doremiTopicSql: String = {
    val doms = (1 to 8).toSeq
    val pCols = doms.map(c => s"a$c * (1.0 + 10.0 * l$c) AS p$c")
      .mkString(",\n       |        ")
    val sSum = doms.map(c => s"CAST(a$c * (1.0 + 10.0 * l$c) AS DECIMAL(28,14))")
      .mkString("(", "\n       |          + ", ")::DOUBLE AS s")
    val nCols = doms.map(c => s"(1.0 - 0.1) * (p$c / s) + (0.1 / 8.0) AS n$c")
      .mkString(",\n       |      ")
    val lamPiv = doms.map(c => s"max(CASE WHEN domain = $c THEN lam END) AS l$c")
      .mkString(",\n       |  ")
    val unpiv = doms.map(c =>
        s"SELECT $c::BIGINT AS domain, a$c AS alpha, r$c AS ravg FROM fin")
      .mkString("\n       |  UNION ALL ")
    val aCols = doms.map(c => s"a$c").mkString(", ")
    val rCols = doms.map(c => s"r$c").mkString(", ")
    val initA = doms.map(_ => "(1.0/8.0)::DOUBLE").mkString(", ")
    val initR = doms.map(_ => "0.0::DOUBLE").mkString(", ")
    val stepA = doms.map(c => s"n$c").mkString(", ")
    val stepR = doms.map(c => s"r$c + n$c").mkString(", ")
    s"""WITH RECURSIVE ${SimilarityQueries.kmeansCtes},
       |t AS (
       |  SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |utm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |utf AS (SELECT doc_id, term, count(1) AS tf FROM utm GROUP BY doc_id, term),
       |ucf AS (SELECT term, sum(tf)::BIGINT AS cf FROM utf GROUP BY term),
       |utot AS (SELECT sum(cf)::BIGINT AS tot FROM ucf),
       |uc AS (
       |  SELECT doc_id, tf, tf::DOUBLE * -ln(cf::DOUBLE / tot::DOUBLE) AS contrib
       |  FROM utf JOIN ucf USING (term) CROSS JOIN utot),
       |ud AS (
       |  SELECT doc_id,
       |    round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS unll
       |  FROM uc GROUP BY doc_id),
       |bi AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2),
       |btf AS (SELECT doc_id, a, b, count(1) AS tf FROM bi GROUP BY doc_id, a, b),
       |cab AS (SELECT a, b, sum(tf)::BIGINT AS cab FROM btf GROUP BY a, b),
       |ca AS (SELECT a, sum(cab)::BIGINT AS ca, count(1)::BIGINT AS n1a
       |       FROM cab GROUP BY a),
       |nb AS (SELECT b, count(1)::BIGINT AS nb FROM cab GROUP BY b),
       |kg AS (SELECT count(1)::BIGINT AS n_types,
       |    coalesce(sum(CASE WHEN cab = 1 THEN 1 END), 0)::BIGINT AS n1,
       |    coalesce(sum(CASE WHEN cab = 2 THEN 1 END), 0)::BIGINT AS n2
       |  FROM cab),
       |disc AS (SELECT *,
       |    CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
       |         ELSE n1::DOUBLE / (n1 + 2 * n2)::DOUBLE END AS d
       |  FROM kg),
       |kc AS (
       |  SELECT doc_id, tf,
       |    tf::DOUBLE * -ln(
       |      greatest(cab::DOUBLE - d, 0) / ca::DOUBLE
       |      + (d * n1a::DOUBLE / ca::DOUBLE)
       |        * (nb::DOUBLE / n_types::DOUBLE)) AS contrib
       |  FROM btf JOIN cab USING (a, b) JOIN ca USING (a) JOIN nb USING (b)
       |  CROSS JOIN disc),
       |kd AS (
       |  SELECT doc_id,
       |    round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS knll
       |  FROM kc GROUP BY doc_id),
       |ex AS (
       |  SELECT af.cid::BIGINT AS domain, count(1)::BIGINT AS n_docs,
       |    sum(greatest(unll - knll, 0.0)::DECIMAL(28,14))::DOUBLE / count(1) AS lam
       |  FROM ud JOIN kd USING (doc_id) JOIN af ON af.vec_id = ud.doc_id
       |  GROUP BY af.cid),
       |lp AS (SELECT
       |  $lamPiv
       |  FROM ex),
       |mw(it, $aCols, $rCols) AS (
       |  -- anchor literals TYPE the recursive columns (the doremiChainSql
       |  -- note); 1.0/8.0 and 0.1/8.0 are exact in both decimal and binary
       |  SELECT 0, $initA,
       |         $initR
       |  UNION ALL
       |  SELECT it + 1, $stepA,
       |    $stepR
       |  FROM (
       |    SELECT it, $rCols,
       |      $nCols
       |    FROM (
       |      SELECT it, $rCols,
       |        $pCols,
       |        $sSum
       |      FROM mw, lp WHERE it < 10) z1) z2),
       |fin AS (SELECT * FROM mw WHERE it = 10),
       |fw AS (
       |  $unpiv)""".stripMargin
  }

  val oracles: Map[String, String] = {
    val toksCte =
      """WITH t AS (
        |  SELECT doc_id, lang, text, regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents)""".stripMargin

    val bestSql = s"greatest(${Text.langs.map(scoreSql).mkString(", ")})"
    val predSql = Text.langs.init.foldRight(s"'${Text.langs.last}'") { (l, rest) =>
      s"CASE WHEN ${scoreSql(l)} = best THEN '$l' ELSE $rest END"
    }

    Map(
      "tx_langid" ->
        s"""$toksCte,
           |scored AS (SELECT doc_id, lang, toks, $bestSql AS best FROM t)
           |SELECT doc_id, lang, $predSql AS pred_lang, best AS best_score,
           |       ($predSql = lang) AS is_match
           |FROM scored ORDER BY doc_id""".stripMargin,

      // all five one-vs-rest GD chains + scoring + argmax, replayed
      "tx_langid_clf" -> langClfSql(LangWordBinsSql, LangScale, LangClfIters),

      // The char-gram student's replay — identical GD/centering/argmax
      // machinery over the char-3-gram bin projection.
      "tx_langid_chargram" -> langClfSql(LangCharBinsSql, LangCharScale, LangCharIters),

      "tx_quality_classifier" ->
        s"""$classifierCtes
           |SELECT doc_id, round(s7 + 0.000000001, 4) AS score,
           |       s7 >= 0.5 AS pred_keep, (y = 1.0) AS is_good
           |FROM sc ORDER BY doc_id""".stripMargin,

      // the full GD replay + the binning/ECE arithmetic: bins from the
      // nudged floor of s7*10 (both engines floor the same double), bin
      // stats as exact decimal sums, ECE from the ROUNDED gaps
      "tx_clf_calibration" ->
        s"""$classifierCtes,
           |cb AS (
           |  SELECT doc_id, y, s7,
           |    least(CAST(floor(s7 * 10 + 0.000000001) AS BIGINT), 9) AS bin
           |  FROM sc),
           |ca AS (
           |  SELECT bin, count(1)::BIGINT AS n,
           |    round((sum(s7::DECIMAL(28,14))::DOUBLE / count(1)) + 0.000000001, 7) AS avg_pred,
           |    round((sum(y::DECIMAL(28,14))::DOUBLE / count(1)) + 0.000000001, 7) AS pos_rate
           |  FROM cb GROUP BY bin),
           |cg AS (SELECT *,
           |    round(abs(avg_pred - pos_rate) + 0.000000001, 7) AS gap
           |  FROM ca),
           |ce AS (SELECT sum((gap * n)::DECIMAL(28,14))::DOUBLE / sum(n) AS ece_raw
           |       FROM cg)
           |SELECT bin, n, avg_pred, pos_rate, gap,
           |  round(ece_raw + 0.000000001, 7) AS ece
           |FROM cg CROSS JOIN ce ORDER BY bin""".stripMargin,

      // The calibrated-scoring replay: holdout GD (classifierHoldoutCtes
      // gives sc = test scores; mtr/sctr re-derive the TRAIN scores under
      // the same final weights), the 4-decimal level table with integer
      // (n, pos) stats, the COMPLETE PAV fit via its minimax closed form
      // (every interval mean one double division of exact integer prefix
      // sums — li/pr/mx/calt), the step-map application (arg_max over
      // levels ≤ the score, clamped to the first level), and both ECE
      // chains over the held-out fifth. `improved` is pinned TRUE.
      "tx_clf_calibrated" ->
        s"""${clfCalChainSql("sc")},
           |cb AS (
           |  SELECT doc_id, y, cal7,
           |    least(CAST(floor(cal7 * 10 + 0.000000001) AS BIGINT), 9) AS bin
           |  FROM ap),
           |cba AS (
           |  SELECT bin, count(1)::BIGINT AS n,
           |    round((sum(cal7::DECIMAL(28,14))::DOUBLE / count(1))
           |      + 0.000000001, 7) AS avg_cal,
           |    round((sum(y::DECIMAL(28,14))::DOUBLE / count(1))
           |      + 0.000000001, 7) AS pos_rate
           |  FROM cb GROUP BY bin),
           |cg AS (SELECT *,
           |    round(abs(avg_cal - pos_rate) + 0.000000001, 7) AS gap
           |  FROM cba),
           |ce AS (SELECT round((sum((gap * n)::DECIMAL(28,14))::DOUBLE / sum(n))
           |    + 0.000000001, 7) AS ece_cal FROM cg),
           |rb AS (
           |  SELECT doc_id, y, s7,
           |    least(CAST(floor(s7 * 10 + 0.000000001) AS BIGINT), 9) AS bin
           |  FROM ap),
           |rba AS (
           |  SELECT bin, count(1)::BIGINT AS n,
           |    round((sum(s7::DECIMAL(28,14))::DOUBLE / count(1))
           |      + 0.000000001, 7) AS avg_pred,
           |    round((sum(y::DECIMAL(28,14))::DOUBLE / count(1))
           |      + 0.000000001, 7) AS pos_rate
           |  FROM rb GROUP BY bin),
           |rg AS (SELECT bin, n,
           |    round(abs(avg_pred - pos_rate) + 0.000000001, 7) AS gap
           |  FROM rba),
           |re AS (SELECT round((sum((gap * n)::DECIMAL(28,14))::DOUBLE / sum(n))
           |    + 0.000000001, 7) AS ece_raw FROM rg)
           |SELECT bin, n, avg_cal, pos_rate, gap, ece_cal, ece_raw,
           |  TRUE AS improved
           |FROM cg CROSS JOIN ce CROSS JOIN re ORDER BY bin""".stripMargin,

      // The persisted calibrated-serving round trip: the same replay as
      // tx_clf_calibrated through `ap`, reported per held-out doc — a
      // stored weight or calibration row drifting from the trained/
      // fitted artifacts hash-mismatches.
      "tx_clf_cal_serving" ->
        s"""${clfCalChainSql("sc")}
           |SELECT doc_id, round(s7 + 0.000000001, 4) AS score,
           |  cal7 AS cal_score, (y = 1.0) AS is_good
           |FROM ap ORDER BY doc_id""".stripMargin,

      // train on 4/5, score the unseen fifth; the certificate is
      // pinned TRUE — a sub-floor held-out accuracy hash-mismatches
      "tx_clf_holdout" ->
        s"""$classifierHoldoutCtes
           |SELECT doc_id, round(s7 + 0.000000001, 4) AS score,
           |       s7 >= 0.5 AS pred_keep, (y = 1.0) AS is_good,
           |       TRUE AS holdout_acc_ok
           |FROM sc ORDER BY doc_id""".stripMargin,

      "tx_quality" ->
        s"""$toksCte
           |SELECT doc_id,
           |  len(toks)::BIGINT AS n_tokens,
           |  round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks), 4)
           |    AS avg_word_len,
           |  round(
           |    least(len(toks) / 50.0, 1.0) * 0.5
           |    + (${hitsSql("en")}::DOUBLE / len(toks)) * 0.3
           |    + least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks))
           |            / 8.0, 1.0) * 0.2 + 0.000000001, 4) AS quality
           |FROM t ORDER BY doc_id""".stripMargin,

      "tx_tokens" ->
        s"""$toksCte
           |SELECT doc_id,
           |  len(toks)::BIGINT AS n_tokens,
           |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpeish,
           |  list_sum(list_transform(toks, tk -> ceil(length(tk) / 4.0)))::BIGINT AS n_subwords
           |FROM t ORDER BY doc_id""".stripMargin,

      "tx_fingerprint" ->
        s"""$toksCte
           |SELECT doc_id,
           |  md5(regexp_replace(text, '\\s+', ' ', 'g')) AS doc_fp,
           |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bow_fp,
           |  list_min(list_transform(range(1, length(text) - 6),
           |    i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT)) AS min_gram_fp
           |FROM t ORDER BY doc_id""".stripMargin,

      "tx_normalize" ->
        """WITH n AS (
          |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
          |  FROM documents)
          |SELECT doc_id, norm_text, md5(norm_text) AS norm_fp,
          |       length(norm_text)::BIGINT AS norm_len
          |FROM n ORDER BY doc_id""".stripMargin,

      "tx_tfidf" ->
        s"""$toksCte,
           |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(1) AS tf FROM tm GROUP BY doc_id, term),
           |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
           |n AS (SELECT count(1) AS n_docs FROM documents),
           |sc AS (
           |  SELECT doc_id, tf.term, tf, df,
           |    round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1) + 0.000000001, 4) AS tfidf
           |  FROM tf JOIN df USING (term) CROSS JOIN n),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           |  FROM sc)
           |SELECT doc_id, rank, term, tf, df, tfidf
           |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

      "tx_bm25" -> {
        val terms = BmQueryTerms.map(q => s"'$q'").mkString(", ")
        s"""$toksCte,
           |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
           |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
           |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (
           |  SELECT doc_id, term, count(1) AS tf FROM tm
           |  WHERE term IN ($terms) GROUP BY doc_id, term),
           |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
           |c AS (
           |  SELECT tf.doc_id, dl,
           |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
           |      * (tf::DOUBLE * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
           |      AS contrib
           |  FROM tf JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN st),
           |s AS (
           |  SELECT doc_id, dl,
           |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
           |  FROM c GROUP BY doc_id, dl)
           |SELECT doc_id, dl, bm25 FROM s
           |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
      },

      // first-occurrence chunk dedup + reassembly (the cdc_chunks ends
      // replay, with the chunk TEXT kept for the string_agg rebuild)
      "tx_chunk_dedup" ->
        """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
          |e AS (
          |  SELECT doc_id, text,
          |    list_sort(list_distinct(list_concat(
          |      CASE WHEN n < 8 THEN []::BIGINT[] ELSE
          |        list_transform(list_filter(range(1, n - 6),
          |          i -> (('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT % 64) = 0),
          |          i -> i + 7) END,
          |      [n::BIGINT]))) AS ends
          |  FROM t),
          |x AS (SELECT doc_id, text, ends, unnest(range(1, len(ends) + 1)) AS k FROM e),
          |c AS (
          |  SELECT doc_id, (k - 1)::BIGINT AS chunk_no,
          |    substr(text,
          |      (CASE WHEN k = 1 THEN 1 ELSE ends[k::INT - 1] + 1 END)::INT,
          |      (ends[k::INT] - CASE WHEN k = 1 THEN 1 ELSE ends[k::INT - 1] + 1 END + 1)::INT)
          |      AS chunk
          |  FROM x),
          |f AS (SELECT doc_id, chunk_no, chunk, md5(chunk) AS fp FROM c),
          |w AS (
          |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_no) AS rn
          |  FROM f),
          |kp AS (
          |  SELECT doc_id, string_agg(chunk, '' ORDER BY chunk_no) AS new_text,
          |    count(*) AS n_kept
          |  FROM w WHERE rn = 1 GROUP BY doc_id),
          |tot AS (SELECT doc_id, count(*) AS n_chunks FROM f GROUP BY doc_id)
          |SELECT tot.doc_id, coalesce(new_text, '') AS new_text,
          |  coalesce(n_kept, 0)::BIGINT AS n_kept,
          |  (n_chunks - coalesce(n_kept, 0))::BIGINT AS n_dropped
          |FROM tot LEFT JOIN kp USING (doc_id) ORDER BY tot.doc_id""".stripMargin,

      // hashed-unigram importance weights: target = en docs, raw = all
      "tx_dsir_sample" -> dsirOracleSql(),

      // served probe over the 75% base index
      "tx_bm25_indexed" -> bm25OracleSql(" WHERE doc_id % 4 <> 3"),

      // hottest terms of the indexed subset
      "tx_postings_stats" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
          |  FROM documents WHERE doc_id % 4 <> 3),
          |u AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
          |d AS (SELECT term, count(*)::BIGINT AS df FROM u GROUP BY term),
          |n AS (SELECT count(*) AS nd FROM t)
          |SELECT term, df, round(df::DOUBLE / nd + 0.000000001, 4) AS df_frac
          |FROM d, n ORDER BY df DESC, term LIMIT 10""".stripMargin,

      // positional-intersection phrase replay over the indexed subset
      "tx_phrase_search" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
          |  FROM documents WHERE doc_id % 4 <> 3),
          |u AS (
          |  SELECT doc_id, unnest(toks) AS term,
          |    generate_subscripts(toks, 1) AS i
          |  FROM t),
          |h AS (
          |  SELECT doc_id, (i - 1)::BIGINT AS start FROM u WHERE term = 'table'
          |  INTERSECT
          |  SELECT doc_id, (i - 2)::BIGINT AS start FROM u WHERE term = 'hash'),
          |g AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM h GROUP BY doc_id),
          |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t)
          |SELECT doc_id, dl, n_hits FROM g JOIN l USING (doc_id)
          |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

      // NEAR/3 replay: distinct 'table' anchors with a close 'hash'
      "tx_near_search" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
          |  FROM documents WHERE doc_id % 4 <> 3),
          |u AS (
          |  SELECT doc_id, unnest(toks) AS term,
          |    generate_subscripts(toks, 1) AS i
          |  FROM t),
          |h AS (
          |  SELECT DISTINCT a.doc_id, a.i AS pa
          |  FROM u a JOIN u b ON a.doc_id = b.doc_id
          |    AND b.i > a.i AND b.i <= a.i + 3
          |  WHERE a.term = 'table' AND b.term = 'hash'),
          |g AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM h GROUP BY doc_id),
          |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t)
          |SELECT doc_id, dl, n_hits FROM g JOIN l USING (doc_id)
          |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

      // the batched probe: each bag replayed from shared corpus stats
      "tx_bm25_batch" -> {
        val qtVals = BmBatchBags.toSeq.sortBy(_._1).flatMap { case (q, ts) =>
          ts.map(t => s"($q, '$t')")
        }.mkString(", ")
        s"""WITH qt(query_id, term) AS (VALUES $qtVals),
           |t AS (
           |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           |  FROM documents WHERE doc_id % 4 <> 3),
           |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
           |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
           |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (
           |  SELECT doc_id, term, count(1) AS tf FROM tm
           |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
           |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
           |c AS (
           |  SELECT qt.query_id, tf.doc_id, dl,
           |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
           |      * (tf::DOUBLE * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
           |      AS contrib
           |  FROM tf JOIN qt USING (term) JOIN df USING (term)
           |    JOIN l USING (doc_id) CROSS JOIN st),
           |s AS (
           |  SELECT query_id, doc_id, dl,
           |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
           |  FROM c GROUP BY query_id, doc_id, dl),
           |r AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
           |  FROM s)
           |SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           |  doc_id, dl, bm25
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      },

      // candidates filtered to en, statistics NOT (Lucene semantics)
      "tx_bm25_filtered" -> bm25OracleSql(" WHERE doc_id % 4 <> 3",
        candWhere = "lang = 'en'"),

      // the elision boundary replayed end-to-end: skewed corpus rebuilt
      // from doc_id algebra, df recomputed, terms above 0.85·n dropped
      // from the contribution set, candidates filtered to en
      "tx_bm25_elided" -> bm25OracleSql("",
        candWhere = "lang = 'en'",
        textSql = SkewTextSql,
        terms = SkewBag,
        elideFrac = Some(SkewDfFrac)),

      // MaxScore is lossless for top-k: the oracle is the EXHAUSTIVE
      // scoring of the full skewed bag — any pruning miss hash-mismatches
      "tx_bm25_maxscore" -> bm25OracleSql("",
        extraCols = ", TRUE AS pruned_ok",
        textSql = SkewTextSql,
        terms = MaxScoreBag),

      // batched MaxScore: the exhaustive BATCH replay over the skewed
      // corpus — per-bag pruning must change nothing
      "tx_bm25_batch_maxscore" -> {
        val qtVals = MsBatchBags.toSeq.sortBy(_._1).flatMap { case (q, ts) =>
          ts.map(t => s"($q, '$t')")
        }.mkString(", ")
        s"""WITH qt(query_id, term) AS (VALUES $qtVals),
           |t AS (
           |  SELECT doc_id, regexp_split_to_array($SkewTextSql, '\\s+') AS toks
           |  FROM documents),
           |l AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
           |st AS (SELECT count(1) AS n_docs, sum(dl)::BIGINT AS tot_dl FROM l),
           |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (
           |  SELECT doc_id, term, count(1) AS tf FROM tm
           |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
           |df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
           |c AS (
           |  SELECT qt.query_id, tf.doc_id, dl,
           |    ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
           |      * (tf::DOUBLE * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs)))
           |      AS contrib
           |  FROM tf JOIN qt USING (term) JOIN df USING (term)
           |    JOIN l USING (doc_id) CROSS JOIN st),
           |s AS (
           |  SELECT query_id, doc_id, dl,
           |    round(sum(contrib::DECIMAL(28,14))::DOUBLE + 0.000000001, 4) AS bm25
           |  FROM c GROUP BY query_id, doc_id, dl),
           |r AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
           |  FROM s)
           |SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           |  doc_id, dl, bm25, TRUE AS pruned_ok
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      },

      // base + exactly-once day ingest = the full corpus; cert pinned TRUE
      "tx_bm25_ingest" -> bm25OracleSql("", extraCols = ", TRUE AS ingest_ok"),

      // base minus the tombstoned third — n_docs/avgdl/df all shift
      "tx_bm25_delete" -> bm25OracleSql(
        " WHERE doc_id % 4 <> 3 AND NOT (doc_id % 3 = 0)",
        extraCols = ", TRUE AS compact_ok"),

      // post-cutover probe resolves to the serving params (the stale
      // k1=2.0/b=0.5 generation's top-20 scores differ)
      "tx_bm25_rebuild" -> bm25OracleSql(" WHERE doc_id % 4 <> 3",
        extraCols = ", TRUE AS rebuild_ok"),

      "tx_rep_signals" ->
        """WITH d AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
          |ug AS (SELECT doc_id, unnest(w) AS g FROM d),
          |uc AS (SELECT doc_id, g, count(*) AS c FROM ug GROUP BY 1, 2),
          |u AS (
          |  SELECT doc_id, sum(c)::BIGINT AS n_words,
          |    count(*)::BIGINT AS n_distinct_words, max(c)::BIGINT AS top_word_n
          |  FROM uc GROUP BY 1),
          |bg AS (
          |  SELECT doc_id,
          |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g
          |  FROM d),
          |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
          |b AS (
          |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
          |    count(*)::BIGINT AS n_distinct_bigrams, max(c)::BIGINT AS top_bigram_n
          |  FROM bc GROUP BY 1)
          |SELECT u.doc_id, n_words, n_distinct_words, top_word_n,
          |  coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
          |  coalesce(n_distinct_bigrams, 0)::BIGINT AS n_distinct_bigrams,
          |  coalesce(top_bigram_n, 0)::BIGINT AS top_bigram_n,
          |  (top_word_n * 8 >= n_words
          |   OR (coalesce(n_bigrams, 0) > 0
          |       AND coalesce(top_bigram_n, 0) * 20 >= coalesce(n_bigrams, 0)))
          |    AS repetitive
          |FROM u LEFT JOIN b ON u.doc_id = b.doc_id
          |ORDER BY u.doc_id""".stripMargin,

      "tx_pack_ctx" ->
        """WITH t AS (
          |  SELECT doc_id, doc_id % 8 AS shard,
          |    len(regexp_split_to_array(text, '\s+')) AS n_tokens
          |  FROM documents),
          |w AS (
          |  SELECT doc_id, shard, n_tokens,
          |    (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS cum
          |  FROM t)
          |SELECT doc_id, shard::BIGINT AS shard, n_tokens::BIGINT AS n_tokens,
          |  (cum - n_tokens)::BIGINT AS start_off,
          |  floor((cum - n_tokens) / 512)::BIGINT AS bin_first,
          |  floor((cum - 1) / 512)::BIGINT AS bin_last
          |FROM w ORDER BY doc_id""".stripMargin,

      "tx_chunk_overlap" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
          |  FROM documents),
          |st AS (
          |  SELECT doc_id, toks,
          |    unnest(range(0, greatest(len(toks), 1), 24)) AS start
          |  FROM t),
          |c AS (
          |  SELECT doc_id, start,
          |    list_slice(toks, start + 1, start + 32) AS chunk
          |  FROM st)
          |SELECT doc_id, start::BIGINT AS start,
          |  len(chunk)::BIGINT AS n_toks,
          |  md5(array_to_string(chunk, ' ')) AS chunk_fp
          |FROM c ORDER BY doc_id, start""".stripMargin,

      "tx_cdc_chunks" ->
        """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
          |e AS (
          |  SELECT doc_id, text,
          |    -- list_sort: DuckDB's list_distinct hash-scrambles order
          |    -- (Spark's array_distinct preserves it); ends are ascending
          |    -- by construction, so sorting restores the identical array
          |    list_sort(list_distinct(list_concat(
          |      CASE WHEN n < 8 THEN []::BIGINT[] ELSE
          |        list_transform(list_filter(range(1, n - 6),
          |          i -> (('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT % 64) = 0),
          |          i -> i + 7) END,
          |      [n::BIGINT]))) AS ends
          |  FROM t),
          |x AS (SELECT doc_id, text, ends, unnest(range(1, len(ends) + 1)) AS k FROM e),
          |c AS (
          |  SELECT doc_id, k - 1 AS chunk_no,
          |    CASE WHEN k = 1 THEN 1 ELSE ends[k::INT - 1] + 1 END AS st,
          |    ends[k::INT] AS en, text
          |  FROM x)
          |SELECT doc_id, chunk_no::BIGINT AS chunk_no,
          |  (en - st + 1)::BIGINT AS chunk_len,
          |  md5(substr(text, st, en - st + 1)) AS chunk_fp
          |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

      "tx_pii_scrub" -> {
        import graft.operators.Text.{EmailRe, Ipv4Re, PhoneRe}
        s"""WITH dirty AS (
           |  SELECT doc_id,
           |    text || ' contact u' || doc_id::VARCHAR || '@mail.example.com or +1 555 01'
           |      || doc_id::VARCHAR || ' at 10.0.0.' || (doc_id % 256)::VARCHAR AS dt
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(dt, '$EmailRe', '<EMAIL>', 'g'),
           |        '$Ipv4Re', '<IP>', 'g'),
           |      '$PhoneRe', '<PHONE>', 'g') AS clean
           |  FROM dirty)
           |SELECT doc_id, clean,
           |  (NOT regexp_matches(clean, '$EmailRe') AND NOT regexp_matches(clean, '$Ipv4Re')
           |   AND NOT regexp_matches(clean, '$PhoneRe')) AS pii_free
           |FROM c ORDER BY doc_id""".stripMargin
      },

      "tx_unigram_nll" ->
        s"""$toksCte,
           |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(1) AS tf FROM tm GROUP BY doc_id, term),
           |cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
           |tot AS (SELECT sum(cf)::BIGINT AS tot FROM cf),
           |c AS (
           |  SELECT doc_id, tf,
           |    tf::DOUBLE * -ln(cf::DOUBLE / tot::DOUBLE) AS contrib
           |  FROM tf JOIN cf USING (term) CROSS JOIN tot)
           |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
           |  round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll
           |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // Mirrors Text.bigramNll: c(a) is the PREDECESSOR sum over the
      // bigram table, V the distinct-unigram vocabulary; docs with < 2
      // tokens emit no row.
      "tx_bigram_nll" ->
        s"""$toksCte,
           |bi AS (
           |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
           |  FROM t, unnest(range(1, len(toks))) AS u(i)
           |  WHERE len(toks) >= 2),
           |tf AS (SELECT doc_id, a, b, count(1) AS tf FROM bi GROUP BY doc_id, a, b),
           |cab AS (SELECT a, b, sum(tf)::BIGINT AS cab FROM tf GROUP BY a, b),
           |ca AS (SELECT a, sum(cab)::BIGINT AS ca FROM cab GROUP BY a),
           |v AS (SELECT count(DISTINCT term)::BIGINT AS v
           |      FROM (SELECT unnest(toks) AS term FROM t)),
           |c AS (
           |  SELECT doc_id, tf,
           |    tf::DOUBLE * -ln((cab + 1)::DOUBLE / (ca + v)::DOUBLE) AS contrib
           |  FROM tf JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v)
           |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
           |  round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll
           |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // Mirrors Text.knBigramNll: same count tables as tx_bigram_nll's
      // oracle plus the Kneser-Ney machinery — distinct-successor/
      // predecessor counts off the bigram TYPE table, the closed-form
      // discount, and the interpolated probability assembled in the
      // identical fixed order of double ops.
      "tx_kn_nll" ->
        s"""$toksCte,
           |bi AS (
           |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
           |  FROM t, unnest(range(1, len(toks))) AS u(i)
           |  WHERE len(toks) >= 2),
           |tf AS (SELECT doc_id, a, b, count(1) AS tf FROM bi GROUP BY doc_id, a, b),
           |cab AS (SELECT a, b, sum(tf)::BIGINT AS cab FROM tf GROUP BY a, b),
           |ca AS (SELECT a, sum(cab)::BIGINT AS ca, count(1)::BIGINT AS n1a
           |       FROM cab GROUP BY a),
           |nb AS (SELECT b, count(1)::BIGINT AS nb FROM cab GROUP BY b),
           |kn AS (SELECT count(1)::BIGINT AS n_types,
           |    coalesce(sum(CASE WHEN cab = 1 THEN 1 END), 0)::BIGINT AS n1,
           |    coalesce(sum(CASE WHEN cab = 2 THEN 1 END), 0)::BIGINT AS n2
           |  FROM cab),
           |disc AS (SELECT *,
           |    CASE WHEN n1 + 2 * n2 = 0 THEN 0.0
           |         ELSE n1::DOUBLE / (n1 + 2 * n2)::DOUBLE END AS d
           |  FROM kn),
           |c AS (
           |  SELECT doc_id, tf,
           |    tf::DOUBLE * -ln(
           |      greatest(cab::DOUBLE - d, 0) / ca::DOUBLE
           |      + (d * n1a::DOUBLE / ca::DOUBLE)
           |        * (nb::DOUBLE / n_types::DOUBLE)) AS contrib
           |  FROM tf JOIN cab USING (a, b) JOIN ca USING (a) JOIN nb USING (b)
           |  CROSS JOIN disc)
           |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
           |  round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll
           |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // Mirrors Text.knTrigramNll: the trigram TYPE table feeds every
      // statistic — (a,b) predecessor sums, the (b,c) continuation table
      // (from which the mid denominators, the bottom continuation
      // probabilities, AND the D2 count-of-counts all derive), and the
      // two per-order discounts — assembled in the identical fixed order
      // of double ops.
      "tx_kn3_nll" ->
        s"""$toksCte,
           |tg AS (
           |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
           |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
           |  WHERE len(toks) >= 3),
           |tf AS (SELECT doc_id, a, b, c, count(1) AS tf FROM tg
           |       GROUP BY doc_id, a, b, c),
           |cabc AS (SELECT a, b, c, sum(tf)::BIGINT AS cabc FROM tf GROUP BY a, b, c),
           |ab AS (SELECT a, b, sum(cabc)::BIGINT AS cab2, count(1)::BIGINT AS n3a
           |       FROM cabc GROUP BY a, b),
           |g3 AS (SELECT
           |    coalesce(sum(CASE WHEN cabc = 1 THEN 1 END), 0)::BIGINT AS n1_3,
           |    coalesce(sum(CASE WHEN cabc = 2 THEN 1 END), 0)::BIGINT AS n2_3
           |  FROM cabc),
           |cont AS (SELECT b, c, count(1)::BIGINT AS nbc FROM cabc GROUP BY b, c),
           |bmid AS (SELECT b, sum(nbc)::BIGINT AS nbdot, count(1)::BIGINT AS nbmid
           |         FROM cont GROUP BY b),
           |g2 AS (SELECT
           |    coalesce(sum(CASE WHEN nbc = 1 THEN 1 END), 0)::BIGINT AS n1_2,
           |    coalesce(sum(CASE WHEN nbc = 2 THEN 1 END), 0)::BIGINT AS n2_2
           |  FROM cont),
           |cc AS (SELECT c, count(1)::BIGINT AS ncc FROM cont GROUP BY c),
           |gbg AS (SELECT count(1)::BIGINT AS nbg FROM cont),
           |dd AS (SELECT
           |    CASE WHEN n1_3 + 2 * n2_3 = 0 THEN 0.0
           |         ELSE n1_3::DOUBLE / (n1_3 + 2 * n2_3)::DOUBLE END AS d3,
           |    CASE WHEN n1_2 + 2 * n2_2 = 0 THEN 0.0
           |         ELSE n1_2::DOUBLE / (n1_2 + 2 * n2_2)::DOUBLE END AS d2,
           |    nbg
           |  FROM g3 CROSS JOIN g2 CROSS JOIN gbg),
           |x AS (
           |  SELECT doc_id, tf,
           |    tf::DOUBLE * -ln(
           |      greatest(cabc::DOUBLE - d3, 0) / cab2::DOUBLE
           |      + (d3 * n3a::DOUBLE / cab2::DOUBLE)
           |        * (greatest(nbc::DOUBLE - d2, 0) / nbdot::DOUBLE
           |          + (d2 * nbmid::DOUBLE / nbdot::DOUBLE)
           |            * (ncc::DOUBLE / nbg::DOUBLE))) AS contrib
           |  FROM tf JOIN cabc USING (a, b, c) JOIN ab USING (a, b)
           |  JOIN cont USING (b, c) JOIN bmid USING (b) JOIN cc USING (c)
           |  CROSS JOIN dd)
           |SELECT doc_id, sum(tf)::BIGINT AS n_trigrams,
           |  round((sum(contrib::DECIMAL(28,14))::DOUBLE / sum(tf)) + 0.000000001, 4) AS nll
           |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // The three KN-family lifecycle oracles: serving and ingest-fold
      // both promise full-corpus statistics (green ingest = delta fold ≡
      // retrain); delete promises the retrain-without-the-slice chain.
      "tx_kn_serving" -> knServeSql("", " WHERE doc_id % 7 = 0"),
      "tx_kn_ingest" -> knServeSql("", " WHERE doc_id % 7 = 0"),
      "tx_kn_delete" -> knServeSql(" WHERE doc_id % 5 <> 0",
        " WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0"),

      // The tenth-family (trigram KN) lifecycle oracles — same promises
      // one order up: serving and ingest-fold read the full-corpus
      // chain, delete the retrain-without-the-slice chain.
      // The bucketing replay: the full-corpus kn3 chain, then the
      // rank-based tercile cuts — integer division on an exactly-ordered
      // (nll, doc_id) rank, no quantile approximation anywhere.
      "tx_ppl_buckets" ->
        s"""${kn3ChainSql("", "")},
           |rk AS (
           |  SELECT doc_id, n_trigrams, nll,
           |    row_number() OVER (ORDER BY nll, doc_id)::BIGINT AS rnk,
           |    count(1) OVER ()::BIGINT AS n
           |  FROM scd)
           |SELECT doc_id, n_trigrams, nll, rnk,
           |  CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
           |       WHEN rnk <= (n * 2 + 2) // 3 THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM rk ORDER BY doc_id""".stripMargin,

      "tx_kn3_serving" -> kn3ServeSql("", " WHERE doc_id % 7 = 0"),
      "tx_kn3_ingest" -> kn3ServeSql("", " WHERE doc_id % 7 = 0"),
      "tx_kn3_delete" -> kn3ServeSql(" WHERE doc_id % 5 <> 0",
        " WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0"),

      // The full CCNet+ pipeline in ONE replay: one shared `t` superset
      // CTE, then the spliced sans-t chains — minhash bands + transitive
      // closure (dedup survivors), the trigram-KN chain + exact tercile
      // rank (the perplexity gate), holdout GD + PAV + step apply over
      // all docs (the calibrated keep floor) — and the final gate SELECT.
      "d_curate_ccnet" -> {
        import graft.operators.Text.{EmailRe, Ipv4Re, PhoneRe}
        s"""$curateChainSql
           |SELECT doc_id, lang, n_tokens, quality, nll, bucket,
           |  cal7 AS cal_keep,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
           |    '$PhoneRe', '<PHONE>', 'g')) AS curated_fp
           |FROM cgate
           |ORDER BY doc_id""".stripMargin
      },

      // The EMIT replay: the full curate chain (above), the 2-round
      // Viterbi-EM tokenizer chain (the tx_ulm_serving oracle verbatim),
      // curated-doc token counts under the trained pieces, the salted
      // shard/order/fingerprint hashes (the d_shard_manifest md5-h60
      // replay), the per-shard packing prefix sum, and the manifest
      // aggregate with both XOR fingerprints.
      "d_curate_emit" ->
        s"""$curateChainSql,
           |${ulmChainSansWith(2)},
           |em_enc AS (SELECT word, fin.np::BIGINT AS n_pieces FROM f2),
           |em_dt AS (
           |  SELECT t.doc_id, unnest(t.toks) AS word
           |  FROM t JOIN cgate USING (doc_id)),
           |em_tok AS (
           |  SELECT doc_id, sum(n_pieces)::BIGINT AS n_toks
           |  FROM em_dt JOIN em_enc USING (word)
           |  WHERE word <> '' GROUP BY doc_id),
           |em_sh AS (
           |  SELECT doc_id, n_toks,
           |    ('0x' || substr(md5('emit_v1:shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
           |    ('0x' || substr(md5('emit_v1:ord:' || doc_id::VARCHAR), 1, 15))::BIGINT AS ordh,
           |    ('0x' || substr(md5('emit_v1:fp:' || doc_id::VARCHAR), 1, 15))::BIGINT AS fph
           |  FROM em_tok),
           |em_pk AS (
           |  SELECT doc_id, n_toks, shard, fph,
           |    sum(n_toks) OVER (PARTITION BY shard ORDER BY ordh, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
           |      AS start_off
           |  FROM em_sh)
           |SELECT shard, count(*)::BIGINT AS n_docs,
           |  sum(n_toks)::BIGINT AS n_tokens,
           |  ((sum(n_toks) + 511) // 512)::BIGINT AS n_windows,
           |  bit_xor(fph) AS id_fp,
           |  bit_xor(('0x' || substr(md5('emit_v1:lfp:' || doc_id::VARCHAR
           |    || ':' || (start_off // 512)::VARCHAR), 1, 15))::BIGINT)
           |    AS layout_fp
           |FROM em_pk GROUP BY shard ORDER BY shard""".stripMargin,

      // The domain-gate replay: the synthesized host, the quality and
      // 5-gram dup-coverage chains, the per-domain stat aggregation
      // (exact DECIMAL mean), the bottom-3 + high-dup block rules, and
      // the membership filter.
      "d_domain_gate" ->
        s"""WITH t AS (
           |  SELECT doc_id, source, text,
           |    regexp_split_to_array(text, '\\s+') AS toks
           |  FROM documents),
           |u AS (SELECT doc_id, source || '.example.com' AS domain FROM t),
           |qd AS (
           |  SELECT doc_id,
           |    round(least(len(toks) / 50.0, 1.0) * 0.5
           |      + (${hitsSql("en")}::DOUBLE / len(toks)) * 0.3
           |      + least((length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
           |               / len(toks)) / 8.0, 1.0) * 0.2 + 0.000000001, 4)
           |      AS quality
           |  FROM t),
           |dg_g AS (
           |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
           |  FROM t, unnest(range(1, len(toks) - 3)) v(i)),
           |dg_d AS (SELECT gram FROM dg_g
           |         GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |dg_c AS (
           |  SELECT g.doc_id,
           |    round(count(d.gram)::DOUBLE / count(*) + 0.000000001, 4) AS dup_frac
           |  FROM dg_g g LEFT JOIN dg_d d USING (gram) GROUP BY g.doc_id),
           |ds AS (
           |  SELECT domain, count(*)::BIGINT AS dom_docs,
           |    round(sum(CAST(quality AS DECIMAL(28,14)))::DOUBLE / count(*)
           |      + 0.000000001, 4) AS dom_mean_q,
           |    sum(CASE WHEN coalesce(dup_frac, 0.0) > 0.5 THEN 1 ELSE 0 END)::BIGINT
           |      AS dom_highdup
           |  FROM u JOIN qd USING (doc_id) LEFT JOIN dg_c USING (doc_id)
           |  GROUP BY domain),
           |bot AS (SELECT domain FROM ds ORDER BY dom_mean_q, domain LIMIT 3),
           |blk AS (SELECT domain FROM bot
           |        UNION
           |        SELECT domain FROM ds WHERE 10 * dom_highdup > dom_docs),
           |nb AS (SELECT count(*)::BIGINT AS n_blocked FROM blk)
           |SELECT u.doc_id, u.domain, ds.dom_docs, ds.dom_mean_q,
           |  ds.dom_highdup, nb.n_blocked
           |FROM u JOIN ds USING (domain) CROSS JOIN nb
           |WHERE u.domain NOT IN (SELECT domain FROM blk)
           |ORDER BY u.doc_id""".stripMargin,

      // The full-funnel replay: the curate chain's survivor/quality/
      // bucket/calibration CTEs plus the three signal replays
      // (tx_rep_signals, tx_boilerplate, d_dup_coverage — renamed frs_/
      // fbp_/fdc_), the cumulative-gate funnel counts, and the gated
      // final SELECT carrying them as certificate columns.
      "d_curate_full" -> {
        import graft.operators.Text.{EmailRe, Ipv4Re, PhoneRe}
        s"""$curateChainSql,
           |frs_uc AS (
           |  SELECT doc_id, g, count(*) AS c
           |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
           |frs_u AS (
           |  SELECT doc_id, sum(c)::BIGINT AS n_words,
           |    max(c)::BIGINT AS top_word_n
           |  FROM frs_uc GROUP BY 1),
           |frs_bc AS (
           |  SELECT doc_id, g, count(*) AS c
           |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |          i -> toks[i] || ' ' || toks[i + 1])) AS g FROM t)
           |  GROUP BY 1, 2),
           |frs_b AS (
           |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
           |    max(c)::BIGINT AS top_bigram_n
           |  FROM frs_bc GROUP BY 1),
           |frs AS (
           |  SELECT u.doc_id,
           |    (top_word_n * 8 >= n_words
           |     OR (coalesce(n_bigrams, 0) > 0
           |         AND coalesce(top_bigram_n, 0) * 20
           |             >= coalesce(n_bigrams, 0))) AS repetitive
           |  FROM frs_u u LEFT JOIN frs_b b ON u.doc_id = b.doc_id),
           |fbp_g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(toks) - 1),
           |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
           |  FROM t),
           |fbp_df AS (SELECT gram, count(1) AS df FROM fbp_g GROUP BY gram),
           |fbp_top AS (SELECT gram FROM fbp_df ORDER BY df DESC, gram LIMIT 500),
           |fbp AS (
           |  SELECT doc_id,
           |    round(sum((gram IN (SELECT gram FROM fbp_top))::INT)::DOUBLE
           |      / count(1) + 0.000000001, 4) AS bp_frac
           |  FROM fbp_g GROUP BY doc_id),
           |fdc_g AS (
           |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
           |  FROM t, unnest(range(1, len(toks) - 3)) u(i)),
           |fdc_d AS (SELECT gram FROM fdc_g
           |          GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |fdc AS (
           |  SELECT g.doc_id,
           |    round(count(d.gram)::DOUBLE / count(*) + 0.000000001, 4) AS dup_frac
           |  FROM fdc_g g LEFT JOIN fdc_d d USING (gram) GROUP BY g.doc_id),
           |ffl AS (
           |  SELECT q.doc_id, q.lang, q.text, q.n_tokens, q.quality,
           |    coalesce(fbp.bp_frac, 0.0) AS bp_frac,
           |    coalesce(fdc.dup_frac, 0.0) AS dup_frac,
           |    bk.nll, bk.bucket, ap.cal7,
           |    (q.lang IN ('en', 'de', 'es', 'fr')) AS g2,
           |    (q.quality >= 0.5) AS g3,
           |    (NOT coalesce(frs.repetitive, FALSE)) AS g4,
           |    (coalesce(fbp.bp_frac, 0.0) <= 0.10) AS g5,
           |    (coalesce(fdc.dup_frac, 0.0) <= 0.5) AS g6,
           |    (bk.bucket IS NOT NULL AND bk.bucket <> 'tail') AS g7,
           |    (ap.cal7 IS NOT NULL AND ap.cal7 >= 0.5) AS g8
           |  FROM q LEFT JOIN frs USING (doc_id) LEFT JOIN fbp USING (doc_id)
           |    LEFT JOIN fdc USING (doc_id) LEFT JOIN bk USING (doc_id)
           |    LEFT JOIN ap USING (doc_id)),
           |ffn AS (
           |  SELECT count(*)::BIGINT AS n_s1,
           |    sum(CASE WHEN g2 THEN 1 ELSE 0 END)::BIGINT AS n_s2,
           |    sum(CASE WHEN g2 AND g3 THEN 1 ELSE 0 END)::BIGINT AS n_s3,
           |    sum(CASE WHEN g2 AND g3 AND g4 THEN 1 ELSE 0 END)::BIGINT AS n_s4,
           |    sum(CASE WHEN g2 AND g3 AND g4 AND g5 THEN 1 ELSE 0 END)::BIGINT AS n_s5,
           |    sum(CASE WHEN g2 AND g3 AND g4 AND g5 AND g6 THEN 1 ELSE 0 END)::BIGINT AS n_s6,
           |    sum(CASE WHEN g2 AND g3 AND g4 AND g5 AND g6 AND g7 THEN 1 ELSE 0 END)::BIGINT AS n_s7,
           |    sum(CASE WHEN g2 AND g3 AND g4 AND g5 AND g6 AND g7 AND g8 THEN 1 ELSE 0 END)::BIGINT AS n_s8
           |  FROM ffl)
           |SELECT f.doc_id, f.lang, f.n_tokens, f.quality, f.bp_frac,
           |  f.dup_frac, f.nll, f.bucket, f.cal7 AS cal_keep,
           |  md5(regexp_replace(regexp_replace(regexp_replace(f.text,
           |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
           |    '$PhoneRe', '<PHONE>', 'g')) AS curated_fp,
           |  n.n_s1, n.n_s2, n.n_s3, n.n_s4, n.n_s5, n.n_s6, n.n_s7, n.n_s8
           |FROM ffl f CROSS JOIN ffn n
           |WHERE f.g2 AND f.g3 AND f.g4 AND f.g5 AND f.g6 AND f.g7 AND f.g8
           |ORDER BY f.doc_id""".stripMargin
      },

      // Full DoReMi replay: both per-doc NLL chains (the tx_unigram_nll
      // and tx_kn_nll oracles verbatim, renamed CTEs), the per-domain
      // excess-loss aggregation (exact DECIMAL sum), then all 10
      // multiplicative-weights rounds as ONE recursive CTE over the
      // pivoted 5-domain weight row (the classifier GD-replay idiom —
      // per-round normalization is the same left-associated
      // DECIMAL(28,14) chain Spark's order-free decimal sum computes).
      "tx_doremi_weights" ->
        s"""$doremiChainSql
           |SELECT domain, n_docs,
           |  round(lam + 0.000000001, 7) AS lam_excess,
           |  round(alpha + 0.000000001, 7) AS alpha_final,
           |  round(ravg / 10.0 + 0.000000001, 7) AS alpha_avg
           |FROM ex JOIN fw USING (domain)
           |ORDER BY domain""".stripMargin,

      // Topic-conditioned DoReMi: the kmeans chain supplies the domain,
      // everything downstream is the tx_doremi_weights replay over 8
      // numeric cluster-domains.
      "tx_doremi_topic" ->
        s"""$doremiTopicSql
           |SELECT domain, n_docs,
           |  round(lam + 0.000000001, 7) AS lam_excess,
           |  round(alpha + 0.000000001, 7) AS alpha_final,
           |  round(ravg / 10.0 + 0.000000001, 7) AS alpha_avg
           |FROM ex JOIN fw USING (domain)
           |ORDER BY domain""".stripMargin,

      // The DoReMi mixture REALIZED: the learned time-averaged weights
      // (rounded, floored to permille) drive the deterministic budget
      // sampler over the same corpus — optimize the mixture, then sample
      // it. The oracle replays the whole pipeline: both NLL chains, the
      // ten MW rounds, the permille/rate integer arithmetic, and the
      // salted-hash membership test of every emitted row.
      "tx_doremi_sample" ->
        s"""$doremiChainSql,
           |aw AS (
           |  SELECT domain, floor(round(ravg / 10.0 + 0.000000001, 7) * 1000)::INT AS wp
           |  FROM fw),
           |gu AS (SELECT lang, sum(n_chars)::BIGINT AS group_units
           |       FROM documents GROUP BY lang),
           |tt AS (SELECT sum(n_chars)::BIGINT AS tot FROM documents),
           |bg AS (SELECT ((tot - tot % 5) // 5 * 2)::BIGINT AS budget FROM tt),
           |rt AS (
           |  SELECT lang, group_units,
           |    least(1000, (budget * wp) // group_units)::INT AS rate_permille
           |  FROM gu JOIN aw ON aw.domain = gu.lang CROSS JOIN bg)
           |SELECT d.doc_id, d.lang, d.n_chars, rt.group_units, rt.rate_permille
           |FROM documents d JOIN rt USING (lang)
           |WHERE (('0x' || substr(md5('doremi_v1:' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000)
           |  < rt.rate_permille
           |ORDER BY d.doc_id""".stripMargin,

      "tx_boilerplate" ->
        s"""$toksCte,
           |g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
           |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
           |  FROM t),
           |df AS (SELECT gram, count(1) AS df FROM g GROUP BY gram),
           |top AS (SELECT gram FROM df ORDER BY df DESC, gram LIMIT 500),
           |d AS (
           |  SELECT doc_id, count(1) AS n_grams,
           |    sum((gram IN (SELECT gram FROM top))::INT)::BIGINT AS n_bp
           |  FROM g GROUP BY doc_id)
           |SELECT doc_id, n_grams::BIGINT AS n_grams, n_bp,
           |  round(n_bp::DOUBLE / n_grams + 0.000000001, 4) AS bp_frac
           |FROM d ORDER BY doc_id""".stripMargin,

      "tx_zipf" ->
        """WITH tok AS (
          |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents),
          |f AS (
          |  SELECT tok, count(1) AS freq FROM tok GROUP BY tok
          |  ORDER BY freq DESC, tok LIMIT 100),
          |r AS (
          |  SELECT ln((row_number() OVER (ORDER BY freq DESC, tok))::DOUBLE) AS x,
          |         ln(freq::DOUBLE) AS y
          |  FROM f),
          |s AS (
          |  SELECT count(1)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
          |         sum(x * y) AS sxy, sum(x * x) AS sxx
          |  FROM r)
          |SELECT n::BIGINT AS n_tokens,
          |  round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.000000001, 4) AS slope,
          |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
          |    + 0.000000001, 4) AS intercept
          |FROM s""".stripMargin,

      "tx_bpe_merges" -> bpeOracle(6),

      "tx_bpe_encode" -> bpeEncodeOracle(6),

      "tx_bpe_vocab" -> bpeVocabOracle(6),

      // Full unigram-LM training replays: seed + 2 Viterbi-EM rounds —
      // see ulmChainSql.
      "tx_ulm_vocab" -> ulmVocabOracle(2),
      "tx_ulm_encode" -> ulmEncodeOracle(2),
      // the persisted-model serving path must be row-identical to the
      // one-shot (the oracle replays the training; serve_ok pins the
      // write -> reopen -> encode-from-stored round trip)
      "tx_ulm_serving" -> ulmEncodeOracle(2,
        extraCols = ",\n  TRUE AS serve_ok"),

      "tx_pmi" ->
        s"""$toksCte,
           |dt AS (
           |  SELECT DISTINCT doc_id, tok
           |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
           |df AS (SELECT tok, count(1) AS df FROM dt GROUP BY tok),
           |vocab AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 150),
           |dv AS (SELECT dt.doc_id, dt.tok, v.df FROM dt JOIN vocab v USING (tok)),
           |n AS (SELECT count(1) AS n_docs FROM documents),
           |p AS (
           |  SELECT x.tok AS a, y.tok AS b, x.df AS df_a, y.df AS df_b,
           |         count(1) AS n_ab
           |  FROM dv x JOIN dv y ON x.doc_id = y.doc_id AND x.tok < y.tok
           |  GROUP BY 1, 2, 3, 4)
           |SELECT a, b, n_ab,
           |  round(ln((n_ab * n_docs) / (df_a * df_b)) + 0.000000001, 4) AS pmi
           |FROM p, n ORDER BY n_ab DESC, a, b LIMIT 25""".stripMargin,

      // Per-pattern position scan replaying the automaton's match set
      // exactly: count start positions where the length-|p| slice equals
      // the pattern — overlapping matches included, the Aho–Corasick
      // semantics.
      "tx_blocklist_scan" ->
        s"""$toksCte,
           |g AS (
           |  SELECT gram FROM (
           |    SELECT unnest(list_transform(range(1, len(toks)),
           |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
           |    FROM t)
           |  WHERE gram <> ''
           |    AND NOT regexp_matches(gram, '[\\x{10000}-\\x{10FFFF}]')),
           |top AS (
           |  SELECT gram FROM (
           |    SELECT gram, count(1) AS n FROM g GROUP BY gram
           |    ORDER BY n DESC, gram LIMIT 10)),
           |m AS (
           |  SELECT t.doc_id,
           |    CASE WHEN length(text) >= length(gram)
           |      THEN len(list_filter(range(1, length(text) - length(gram) + 2),
           |        i -> substr(text, i, length(gram)) = gram))
           |      ELSE 0 END AS cnt
           |  FROM t CROSS JOIN top)
           |SELECT doc_id, sum(cnt)::BIGINT AS n_occurrences,
           |  sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END)::BIGINT AS n_patterns_hit
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // The excision replay: the same top-10 blocklist and per-pattern
      // position scan as tx_blocklist_scan, every match expanded to its
      // covered positions, kept characters reassembled in order
      // (string_agg ORDER BY position) — the relational spec of the
      // interval-union removal the Spark fold performs row-locally.
      "tx_blocklist_scrub" -> blocklistScrubSql,

      // the post-lifecycle live set (write 1–10, ingest 11–12, delete
      // 1–2) replayed relationally + the same position scan
      "tx_blocklist_serving" -> blocklistServeSql(),

      // The redaction replay: position scan + the strictly-greater island
      // rule over (start, end)-sorted spans (a window max over preceding
      // rows), kept characters UNION island-start placeholders,
      // reassembled in position order.
      "tx_blocklist_redact" ->
        s"""$toksCte,
           |g AS (
           |  SELECT gram FROM (
           |    SELECT unnest(list_transform(range(1, len(toks)),
           |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
           |    FROM t)
           |  WHERE gram <> ''
           |    AND NOT regexp_matches(gram, '[\\x{10000}-\\x{10FFFF}]')),
           |top AS (
           |  SELECT gram FROM (
           |    SELECT gram, count(1) AS n FROM g GROUP BY gram
           |    ORDER BY n DESC, gram LIMIT 10)),
           |sp AS MATERIALIZED (
           |  SELECT t.doc_id, i AS s, i + length(gram) - 1 AS e
           |  FROM t CROSS JOIN top,
           |    unnest(list_filter(range(1, length(text) - length(gram) + 2),
           |      i -> substr(text, i, length(gram)) = gram)) AS u(i)),
           |spo AS (
           |  SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
           |        ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      THEN 1 ELSE 0 END AS ni
           |  FROM sp),
           |marks AS (SELECT doc_id, s AS pos, '<BLOCKED>' AS chr
           |          FROM spo WHERE ni = 1),
           |cov AS (
           |  SELECT DISTINCT doc_id, p
           |  FROM sp, unnest(range(s, e + 1)) AS r(p)),
           |ch AS (
           |  SELECT doc_id, i AS pos, substr(text, i, 1) AS chr
           |  FROM t, unnest(range(1, length(text) + 1)) AS r(i)),
           |keptch AS (
           |  SELECT ch.doc_id, ch.pos, ch.chr
           |  FROM ch ANTI JOIN cov ON ch.doc_id = cov.doc_id AND ch.pos = cov.p),
           |uni AS (SELECT * FROM keptch UNION ALL SELECT * FROM marks),
           |red AS (
           |  SELECT doc_id, string_agg(chr, '' ORDER BY pos) AS red_text
           |  FROM uni GROUP BY doc_id),
           |nreg AS (SELECT doc_id, sum(ni)::BIGINT AS n_regions
           |         FROM spo GROUP BY doc_id),
           |cnt AS (SELECT doc_id, count(1)::BIGINT AS n_matches
           |        FROM sp GROUP BY doc_id)
           |SELECT t.doc_id,
           |  coalesce(r.red_text, '') AS red_text,
           |  coalesce(g2.n_regions, 0)::BIGINT AS n_regions,
           |  coalesce(c.n_matches, 0)::BIGINT AS n_matches
           |FROM t LEFT JOIN red r USING (doc_id)
           |LEFT JOIN nreg g2 USING (doc_id) LEFT JOIN cnt c USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin,

      "tx_ngram_freq" ->
        s"""$toksCte,
           |g AS (
           |  SELECT unnest(list_transform(range(1, len(toks)),
           |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
           |  FROM t)
           |SELECT gram, count(1) AS n FROM g GROUP BY gram
           |ORDER BY n DESC, gram LIMIT 20""".stripMargin,

      // Mirrors Multimodal.pixelValue / pngWidth / pngHeight exactly: the
      // raster the Spark side encodes into a real PNG and decodes back.
      "mm_features" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 13 + 4) AS w, (doc_id % 11 + 4) AS h
          |           FROM documents),
          |px AS (SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM m),
          |v AS (SELECT asset_id, w, h, p % w AS x, p // w AS y FROM px)
          |SELECT asset_id, w::INT AS width, h::INT AS height,
          |       round(avg((asset_id * 37 + x * 11 + y * 17) % 256) + 0.000000001, 6) AS mean_r,
          |       round(avg((asset_id * 37 + x * 11 + y * 17 + 29) % 256) + 0.000000001, 6) AS mean_g,
          |       round(avg((asset_id * 37 + x * 11 + y * 17 + 58) % 256) + 0.000000001, 6) AS mean_b
          |FROM v GROUP BY asset_id, w, h ORDER BY asset_id""".stripMargin,

      // Replays Multimodal.imageAHash bit-for-bit from the pixel function
      // (base + single-pixel-perturbed twin populations), then takes ALL
      // pairs at the hamming threshold — equality with the Spark side's
      // BANDED pairs certifies the banding lossless at <= 7.
      "mm_ahash_pairs" ->
        s"""WITH $ahashHashCtes,
          |p AS (
          |  SELECT x.asset_id AS a, y.asset_id AS b,
          |    (bit_count(xor(x.h_lo, y.h_lo))
          |     + bit_count(xor(x.h_hi, y.h_hi)))::BIGINT AS hamming
          |  FROM hh x JOIN hh y ON x.asset_id < y.asset_id)
          |SELECT a, b, hamming FROM p WHERE hamming <= 3 ORDER BY a, b""".stripMargin,

      // The capped variant replayed exactly: band values from the SAME
      // hashes, buckets wider than 50 dropped, candidates only from
      // surviving shared bands, exact hamming verify.
      "mm_ahash_pairs_capped" ->
        s"""WITH $ahashHashCtes,
          |bands AS (
          |  SELECT asset_id, h_lo, h_hi, j.band_no,
          |    CASE WHEN j.band_no < 4 THEN (h_lo >> (8 * j.band_no)) & 255
          |         ELSE (h_hi >> (8 * (j.band_no - 4))) & 255 END AS band_val
          |  FROM hh, range(0, 8) j(band_no)),
          |keep AS (
          |  SELECT band_no, band_val FROM bands
          |  GROUP BY band_no, band_val HAVING count(1) <= 50),
          |kb AS (SELECT b.* FROM bands b JOIN keep USING (band_no, band_val)),
          |cand AS (
          |  SELECT DISTINCT x.asset_id AS a, y.asset_id AS b,
          |    x.h_lo AS la, x.h_hi AS ha, y.h_lo AS lb, y.h_hi AS hb
          |  FROM kb x JOIN kb y
          |    ON x.band_no = y.band_no AND x.band_val = y.band_val
          |      AND x.asset_id < y.asset_id)
          |SELECT a, b,
          |  (bit_count(xor(la, lb)) + bit_count(xor(ha, hb)))::BIGINT AS hamming
          |FROM cand
          |WHERE (bit_count(xor(la, lb)) + bit_count(xor(ha, hb))) <= 3
          |ORDER BY a, b""".stripMargin,

      // Replays Multimodal.gifFrameAHash per frame from gifPixel, then
      // the exact-equality frame join + integer containment filter.
      "mm_video_hash_pairs" ->
        s"""WITH $videoHashCtes,
          |mt AS (
          |  SELECT DISTINCT x.asset_id AS a, y.asset_id AS b, x.f AS fa
          |  FROM hh x JOIN hh y
          |    ON x.h_lo = y.h_lo AND x.h_hi = y.h_hi AND x.asset_id < y.asset_id),
          |m AS (SELECT a, b, count(1)::BIGINT AS m_a FROM mt GROUP BY a, b)
          |SELECT m.a, m.b, m.m_a, (g.rid % 5 + 2)::BIGINT AS nf_a
          |FROM m JOIN g ON g.asset_id = m.a
          |WHERE m.m_a * 2 >= (g.rid % 5 + 2) ORDER BY a, b""".stripMargin,

      // The hot-bucket-capped variant: frame hashes shared by more than
      // 50 frames corpus-wide are excluded BEFORE the join; nf stays
      // the true frame count, so capping only reduces m_a.
      "mm_video_hash_pairs_capped" ->
        s"""WITH $videoHashCtes,
          |keep AS (SELECT h_lo, h_hi FROM hh
          |         GROUP BY h_lo, h_hi HAVING count(1) <= 50),
          |kh AS (SELECT hh.* FROM hh JOIN keep USING (h_lo, h_hi)),
          |mt AS (
          |  SELECT DISTINCT x.asset_id AS a, y.asset_id AS b, x.f AS fa
          |  FROM kh x JOIN kh y
          |    ON x.h_lo = y.h_lo AND x.h_hi = y.h_hi AND x.asset_id < y.asset_id),
          |m AS (SELECT a, b, count(1)::BIGINT AS m_a FROM mt GROUP BY a, b)
          |SELECT m.a, m.b, m.m_a, (g.rid % 5 + 2)::BIGINT AS nf_a
          |FROM m JOIN g ON g.asset_id = m.a
          |WHERE m.m_a * 2 >= (g.rid % 5 + 2) ORDER BY a, b""".stripMargin,

      // Replays Multimodal.audioEnergyHash bit-for-bit from the sample
      // function (base + one-step-perturbed twins), all pairs at τ=3.
      "mm_audio_hash_pairs" ->
        """WITH ids AS (
          |  SELECT doc_id AS asset_id, doc_id AS rid, 0 AS pert FROM documents
          |  UNION ALL
          |  SELECT doc_id + 10000000, doc_id, 1 FROM documents WHERE doc_id % 25 = 0),
          |sm AS (
          |  SELECT g.asset_id, r.i, (g.rid % 256) + 64 AS n,
          |    ((g.rid * 31 + r.i * 7919) % 65536
          |     + CASE WHEN g.pert = 1 AND r.i = 0 THEN 1 ELSE 0 END) % 65536
          |    - 32768 AS v
          |  FROM ids g, range(0, 320) r(i)
          |  WHERE r.i < (g.rid % 256) + 64),
          |en AS (SELECT asset_id, (i * 64) // n AS f, sum(v * v) AS e
          |       FROM sm GROUP BY asset_id, (i * 64) // n),
          |t AS (SELECT asset_id, f, e,
          |        sum(e) OVER (PARTITION BY asset_id) AS total FROM en),
          |bits AS (SELECT asset_id, f AS i,
          |           CASE WHEN 64 * e > total THEN 1 ELSE 0 END AS bit FROM t),
          |hh AS (SELECT asset_id,
          |    sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END) AS h_lo,
          |    sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END) AS h_hi
          |  FROM bits GROUP BY asset_id),
          |p AS (
          |  SELECT x.asset_id AS a, y.asset_id AS b,
          |    (bit_count(xor(x.h_lo, y.h_lo))
          |     + bit_count(xor(x.h_hi, y.h_hi)))::BIGINT AS hamming
          |  FROM hh x JOIN hh y ON x.asset_id < y.asset_id)
          |SELECT a, b, hamming FROM p WHERE hamming <= 3 ORDER BY a, b""".stripMargin,

      // Mirrors Multimodal.wavSamples / sampleValue exactly: the waveform
      // the Spark side encodes into a real WAV and decodes back.
      "mm_audio_features" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 256 + 64) AS n FROM documents),
          |ix AS (SELECT asset_id, n, unnest(range(0, n)) AS i FROM m),
          |v AS (SELECT asset_id, n, i,
          |        ((asset_id * 31 + i * 7919) % 65536 - 32768) AS v FROM ix),
          |s AS (SELECT asset_id, n, i, v,
          |        lag(v) OVER (PARTITION BY asset_id ORDER BY i) AS pv FROM v)
          |SELECT asset_id, max(n)::BIGINT AS n_samples, sum(v)::BIGINT AS sum_amp,
          |  sum(v * v)::BIGINT AS sum_sq,
          |  sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
          |      THEN 1 ELSE 0 END)::BIGINT AS zero_cross,
          |  round(sqrt(sum(v * v)::DOUBLE / max(n)) + 0.000000001, 4) AS rms
          |FROM s GROUP BY asset_id ORDER BY asset_id""".stripMargin,

      // Mirrors resizeImageFeatures' nearest-neighbor grid exactly:
      // sample source pixel (x'*w // 8, y'*h // 8) of the synthetic
      // raster, average per channel over the 8x8 thumbnail.
      "mm_resize" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 13 + 4) AS w, (doc_id % 11 + 4) AS h
          |           FROM documents),
          |px AS (SELECT asset_id, w, h, unnest(range(0, 64)) AS p FROM m),
          |v AS (SELECT asset_id, w, h,
          |        ((p % 8) * w) // 8 AS x, ((p // 8) * h) // 8 AS y FROM px)
          |SELECT asset_id, w::INT AS src_w, h::INT AS src_h,
          |       round(avg((asset_id * 37 + x * 11 + y * 17) % 256) + 0.000000001, 6) AS mean_r,
          |       round(avg((asset_id * 37 + x * 11 + y * 17 + 29) % 256) + 0.000000001, 6) AS mean_g,
          |       round(avg((asset_id * 37 + x * 11 + y * 17 + 58) % 256) + 0.000000001, 6) AS mean_b
          |FROM v GROUP BY asset_id, w, h ORDER BY asset_id""".stripMargin,

      // Same waveform contract as mm_audio_features, framed into
      // 80-sample windows (last partial).
      "mm_audio_frames" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 256 + 64) AS n FROM documents),
          |ix AS (SELECT asset_id, n, unnest(range(0, n)) AS i FROM m),
          |v AS (SELECT asset_id, n, i, (i // 80) AS frame_no,
          |        ((asset_id * 31 + i * 7919) % 65536 - 32768) AS v FROM ix)
          |SELECT asset_id, frame_no::BIGINT AS frame_no,
          |  count(*)::BIGINT AS n_samples, sum(v * v)::BIGINT AS sum_sq
          |FROM v GROUP BY asset_id, frame_no
          |ORDER BY asset_id, frame_no""".stripMargin,

      // Same waveform contract as mm_audio_features, decimated to every
      // 4th sample; zero crossings are over the KEPT samples only.
      "mm_audio_resample" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 256 + 64) AS n FROM documents),
          |ix AS (SELECT asset_id, n, unnest(range(0, n)) AS i FROM m),
          |v AS (SELECT asset_id, n, i,
          |        ((asset_id * 31 + i * 7919) % 65536 - 32768) AS v
          |      FROM ix WHERE i % 4 = 0),
          |s AS (SELECT asset_id, n, i, v,
          |        lag(v) OVER (PARTITION BY asset_id ORDER BY i) AS pv FROM v)
          |SELECT asset_id, max(n)::BIGINT AS src_samples,
          |  count(*)::BIGINT AS n_samples, sum(v)::BIGINT AS sum_amp,
          |  sum(v * v)::BIGINT AS sum_sq,
          |  sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
          |      THEN 1 ELSE 0 END)::BIGINT AS zero_cross
          |FROM s GROUP BY asset_id ORDER BY asset_id""".stripMargin,

      // Mirrors Multimodal.gifFrames / gifWidth / gifHeight / gifPixel
      // exactly: the per-frame gray raster the Spark side encodes into a
      // real animated GIF and decodes back.
      "mm_video_frames" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 5 + 2) AS nf,
          |                  (doc_id % 9 + 4) AS w, (doc_id % 7 + 4) AS h
          |           FROM documents),
          |fr AS (SELECT asset_id, w, h, unnest(range(0, nf)) AS f FROM m),
          |px AS (SELECT asset_id, f, w, h, unnest(range(0, w * h)) AS p FROM fr),
          |v AS (SELECT asset_id, f, w, h,
          |        (asset_id * 37 + f * 101 + (p % w) * 11 + (p // w) * 17) % 256 AS v
          |      FROM px)
          |SELECT asset_id, f::BIGINT AS frame_no, w::INT AS width, h::INT AS height,
          |       sum(v)::BIGINT AS sum_px, sum(v * v)::BIGINT AS sum_sq
          |FROM v GROUP BY asset_id, f, w, h
          |ORDER BY asset_id, frame_no""".stripMargin,

      // per-pixel |v_f − v_{f−1}| replay of the generator arithmetic;
      // frame 0 is a keyframe by definition with delta 0
      "mm_keyframes" ->
        """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 5 + 2) AS nf,
          |                  (doc_id % 9 + 4) AS w, (doc_id % 7 + 4) AS h
          |           FROM documents),
          |fr AS (SELECT asset_id, w, h, unnest(range(0, nf)) AS f FROM m),
          |px AS (SELECT asset_id, f, w, h, unnest(range(0, w * h)) AS p FROM fr),
          |v AS (SELECT asset_id, f, w, h,
          |        (asset_id * 37 + f * 101 + (p % w) * 11 + (p // w) * 17) % 256 AS v,
          |        CASE WHEN f > 0 THEN
          |          (asset_id * 37 + (f - 1) * 101 + (p % w) * 11 + (p // w) * 17) % 256
          |        END AS pv
          |      FROM px),
          |d AS (SELECT asset_id, f, w, h,
          |        sum(CASE WHEN pv IS NULL THEN 0 ELSE abs(v - pv) END) AS delta
          |      FROM v GROUP BY asset_id, f, w, h)
          |SELECT asset_id, f::BIGINT AS frame_no, delta::BIGINT AS delta_l1,
          |       (f = 0 OR delta >= 128.0 * w * h) AS is_key
          |FROM d ORDER BY asset_id, frame_no""".stripMargin,

      "mm_frames" ->
        """WITH m AS (SELECT doc_id AS asset_id, text, length(text) AS nb FROM documents),
          |i AS (SELECT asset_id, text, unnest(range(0, (nb + 63) // 64)) AS frame_no FROM m),
          |f AS (SELECT asset_id, frame_no, substr(text, (frame_no * 64 + 1)::INT, 64) AS fr FROM i)
          |SELECT asset_id, frame_no::BIGINT AS frame_no, md5(fr) AS frame_fingerprint,
          |       length(fr)::BIGINT AS frame_bytes
          |FROM f ORDER BY asset_id, frame_no""".stripMargin
    )
  }
}

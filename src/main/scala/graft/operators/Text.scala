package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._
import graft.sources.{PartialFamily, TableFamily}

/** Text-analysis operators for training-data pipelines — language ID,
  * quality scoring, token counting, document fingerprinting (extension
  * tier, SURVEY.md §7). Pure Column expressions over built-in functions:
  * no UDFs, everything stays codegen-eligible and the DuckDB oracle can
  * mirror each formula exactly.
  */
object Text {

  /** Function-word lists per language for the n-gram/stopword language-ID
    * heuristic. Fixed and deterministic; order of `langs` is the tie-break
    * preference order.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "que", "y", "en", "los", "se", "una"),
    "fr" -> Seq("le", "les", "des", "et", "un", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  val langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  private def hits(toks: Column, lang: String): Column =
    size(filter(toks, t => array_contains(typedlit(stopwords(lang)), t)))

  /** Per-language stopword-hit score: hits / token count, rounded. */
  def langScore(toks: Column, lang: String): Column =
    round(hits(toks, lang).cast("double") / size(toks), 4)

  /** Predicted language: argmax score with ties broken by `langs` order.
    * Chained CASE keeps the expression portable to the oracle.
    */
  def langPredict(scores: Map[String, Column]): Column = {
    val best = greatest(langs.map(scores): _*)
    langs.foldRight(lit(langs.last)) { (l, rest) =>
      when(scores(l) === best, lit(l)).otherwise(rest)
    }
  }

  /** Whitespace token count. */
  def tokenCount(toks: Column): Column = size(toks).cast("long")

  /** BPE-ish subword count: alpha runs, digit runs, and any other
    * non-space character each count as one token — the usual cheap proxy
    * for tokenizer cost before a real BPE pass.
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  /** Quality-score components + composite in [0, 1]:
    * volume (tokens/50 capped), fluency proxy (English stopword ratio),
    * lexical weight (avg word length / 8 capped). Weights 0.5/0.3/0.2.
    */
  def qualityScore(text: Column, toks: Column): Column = {
    val tc = size(toks).cast("double")
    val avgLen = length(regexp_replace(text, "\\s+", "")).cast("double") / tc
    val stopRatio = hits(toks, "en").cast("double") / tc
    // + 1e-9 before rounding: the score lives on a grid of exact decimals
    // (tc/100 + 3·hits/(10·tc) + chars/(40·tc)) that can land EXACTLY on a
    // 4th-decimal half (e.g. 0.25125); Spark rounds the decimal string
    // (HALF_UP → .2513) while DuckDB rounds the binary double (→ .2512).
    // The epsilon pushes ties off the boundary identically in both engines.
    round(
      least(tc / 50.0, lit(1.0)) * 0.5 +
        stopRatio * 0.3 +
        least(avgLen / 8.0, lit(1.0)) * 0.2 + 1e-9,
      4)
  }

  /** Canonical text normalization for training corpora: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace runs, trim. The
    * usual first stage before dedup/fingerprinting so formatting noise
    * doesn't defeat content hashing.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Whole-document fingerprint: md5 of the whitespace-normalized text. */
  def docFingerprint(text: Column): Column =
    md5(regexp_replace(text, "\\s+", " "))

  /** Bag-of-words fingerprint: md5 over the sorted distinct token set —
    * invariant to word order and repetition; the key for "exact up to
    * reordering" dedup.
    */
  def bagOfWordsFingerprint(toks: Column): Column =
    md5(array_join(array_sort(array_distinct(toks)), " "))

  /** Winnowing-style content fingerprint: the minimum h60 over character
    * 8-grams — a single stable representative of the rolling-hash window
    * set, robust to small edits anywhere but at the minimizer.
    */
  def minGramFingerprint(text: Column, n: Int = 8): Column =
    array_min(transform(charGrams(text, n), g => h60(g)))

  /** Content-defined chunk END positions (1-based, inclusive): a chunk
    * ends wherever the rolling n-gram hash hits the mask
    * (h60(gram) % mask == 0 → cut after that gram), plus the document end.
    * Content-defined boundaries survive insertions/deletions anywhere
    * except the edited window — the property that makes chunk-level dedup
    * and incremental re-processing work on shifting documents, where
    * fixed-offset framing would re-chunk everything downstream of an edit.
    * Expected chunk length ≈ mask + n − 1; no min/max clamp (a production
    * chunker adds one — it only adds CASE arms to the same expression).
    * Documents shorter than n yield the single chunk [1, len].
    *
    * Resolves to the native one-pass expression
    * [[graft.functions.CdcEnds]] when GraftExtensions is registered (the
    * builtin formulation re-scans the string per gram — quadratic per
    * document — and allocates a gram string + md5 hex per position);
    * falls back to the bit-identical builtin otherwise.
    */
  def cdcChunkEnds(text: Column, n: Int = 8, mask: Int = 64): Column =
    if (hasNativeFunction("graft_cdc_ends"))
      call_function("graft_cdc_ends", text.cast("string"), lit(n), lit(mask))
    else cdcChunkEndsBuiltin(text, n, mask)

  /** Pre-promotion formulation of [[cdcChunkEnds]] — the readable spec of
    * the semantics, for sessions without GraftExtensions.
    */
  def cdcChunkEndsBuiltin(text: Column, n: Int = 8, mask: Int = 64): Column = {
    val gramEnds =
      when(length(text) < n, lit(Array.empty[Int]).cast("array<int>"))
        .otherwise(transform(
          filter(sequence(lit(1), length(text) - (n - 1)),
            i => h60(substr(text, i, lit(n))) % mask === 0),
          i => i + (n - 1)))
    // distinct: a boundary on the final gram coincides with the appended
    // document end and must not fabricate an empty trailing chunk.
    array_distinct(concat(gramEnds, array(length(text))))
  }

  /** One row per content-defined chunk of each document:
    * `(idCol, chunk_no, chunk_len, chunk_fp)` with `chunk_fp` = md5 of the
    * chunk text. The chunk-level unit of work for dedup, containment
    * detection and incremental re-processing — downstream consumers join
    * on `chunk_fp`, never on positions, so shifted documents still match.
    * One projection + one `posexplode`; embarrassingly parallel, no
    * shuffle.
    */
  def cdcChunkFrame(
      df: DataFrame, idCol: String, text: Column,
      n: Int = 8, mask: Int = 64, keepText: Boolean = false): DataFrame = {
    val tmp = Seq("__cdc_t", "__cdc_ends", "__cdc_k", "__cdc_e")
    require(!df.columns.exists(tmp.contains),
      s"cdcChunkFrame reserves temp columns ${tmp.mkString(", ")}")
    val exploded = df
      .select(col(idCol), text.as("__cdc_t"),
        cdcChunkEnds(text, n, mask).as("__cdc_ends"))
      .select(col(idCol), col("__cdc_t"), col("__cdc_ends"),
        posexplode(col("__cdc_ends")).as(Seq("__cdc_k", "__cdc_e")))
    val start = when(col("__cdc_k") === 0, lit(1))
      .otherwise(element_at(col("__cdc_ends"), col("__cdc_k")) + 1)
    val base = Seq(
      col(idCol),
      col("__cdc_k").cast("long").as("chunk_no"),
      (col("__cdc_e") - start + 1).cast("long").as("chunk_len"),
      md5(substr(col("__cdc_t"), start, col("__cdc_e") - start + 1)).as("chunk_fp"))
    // keepText: carry the chunk text itself — what [[chunkDedup]]'s
    // reassembly consumes; off by default so fingerprint-only consumers
    // never materialize the corpus twice
    val cols =
      if (keepText)
        base :+ substr(col("__cdc_t"), start, col("__cdc_e") - start + 1).as("chunk")
      else base
    exploded.select(cols: _*)
  }

  /** PII patterns shared by the scrubber and its oracle — RE2-compatible
    * (no lookaround/backrefs), so Spark's Java regex and DuckDB's RE2
    * match identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  /** PII scrubbing for training corpora: emails, IPv4 addresses and
    * phone-like digit runs replaced by typed placeholder tokens. Order
    * matters: emails first (their local parts contain digits), then IPv4
    * (dotted quads would otherwise be half-eaten by the phone run), then
    * phone runs. Pure `regexp_replace` chain — codegen-eligible, no UDF.
    */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-(document, term) TF-IDF over the whole corpus — the standard
    * corpus-statistics relevance weight. Smoothed idf (sklearn's default):
    * idf = ln((N + 1) / (df + 1)) + 1, so corpus-wide terms still score
    * above zero.
    *
    * Relational shape: one explode + groupBy for tf, a reaggregation of tf
    * for df (a term's df = how many (doc, term) rows it has), a hash join
    * back on term, and the 1-row corpus count broadcast — no collect,
    * linear in corpus size. At 100 TB the (doc, term) frame feeds two
    * consumers; a real pipeline materializes it once (the suite's query is
    * single-pass per consumer, which re-scans — the scan is the cheap
    * part).
    *
    * Output (id, term, tf, df, tfidf), tfidf rounded to 4 decimals with
    * the cross-engine epsilon.
    */
  def tfidf(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val tf = docs.select(col(idCol).as("id"), explode(toks).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf",
        log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1)
      .select(col("id"), col("term"), col("tf"), col("df"),
        round(col("tf") * col("idf") + 1e-9, 4).as("tfidf"))
  }

  /** Corpus-level CHUNK dedup with document reassembly — the
    * MassiveText/RefinedWeb "remove duplicated paragraphs across the
    * corpus" pass, on content-defined chunks (the corpus here has no
    * newline structure, so [[cdcChunkEnds]] supplies the segmentation;
    * a real corpus would pass paragraph bounds the same way): every
    * chunk keeps only its FIRST occurrence corpus-wide (minimum
    * (doc_id, chunk_no) per fingerprint — deterministic), and each
    * document is rebuilt from its surviving chunks in order. A document
    * that was entirely duplicated elsewhere collapses to the empty
    * string but keeps its row (the caller decides whether to drop it —
    * `n_kept = 0` is the signal).
    *
    * Shape: one chunk explode, one map-side-combinable `min(struct)` per
    * fingerprint (NOT a window — the first-occurrence argmin reduces
    * before the shuffle), one join back, one per-doc reassembly
    * aggregation. All shuffles key on fingerprint or doc id; nothing is
    * quadratic in corpus size, and the widest row is one document.
    *
    * Output (id, new_text, n_kept, n_dropped), one row per input doc.
    */
  def chunkDedup(
      docs: DataFrame, idCol: String, text: Column,
      n: Int = 8, mask: Int = 64): DataFrame = {
    // one chunk derivation in the codebase: cdcChunkFrame owns the
    // boundary arithmetic; this pass only adds the keep/reassemble logic
    val chunks = cdcChunkFrame(
        docs.select(col(idCol).as("id"), text.as("__txt")),
        "id", col("__txt"), n, mask, keepText = true)
      .select(col("id"), col("chunk_no"), col("chunk"),
        col("chunk_fp").as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val firsts = chunks.groupBy("fp")
        .agg(min(struct(col("id"), col("chunk_no"))).as("f"))
        .select(col("fp"), col("f.id").as("id"), col("f.chunk_no").as("chunk_no"))
      val kept = chunks.join(firsts, Seq("fp", "id", "chunk_no"))
        .groupBy("id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("chunk_no"), col("chunk")))),
            x => x.getField("chunk")), "").as("new_text"),
          count(lit(1)).as("n_kept"))
      val totals = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
      totals.join(kept, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("new_text"), lit("")).as("new_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .localCheckpoint(true)
    } finally chunks.unpersist()
  }

  /** DSIR-style data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): fit hashed
    * bag-of-words models over a TARGET subset and the RAW corpus
    * (unigram counts folded into `bins` buckets via the cross-engine
    * [[graft.functions.CrossHash.h60]], add-one smoothed), then score
    * every document by its mean log importance ratio
    * w(d) = Σ_bin tf_d(bin)·(ln p_target(bin) − ln p_raw(bin)) / |d|.
    * High-weight documents "look like" the target domain; selection is
    * the deterministic top-k by (weight, id) — the rank-based variant of
    * DSIR's Gumbel resampling (same ordering statistic, reproducible).
    *
    * Scale shape: one explode → (id, bin) aggregation, two bin-count
    * aggregations over `bins` rows (broadcast back), one per-doc sum.
    * Per-bin contributions are DECIMAL(28,14)-summed so shuffle order
    * cannot change the double total — the BM25 determinism device.
    *
    * Output (id, dl, dsir_w) with dsir_w rounded to 4 decimals.
    */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      targetPred: Column,
      bins: Int = 128): DataFrame = {
    val tf = tokenBins(docs, idCol, toks, targetPred, bins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val binPart = tf.groupBy("bin").agg(
        count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      val dtfPart = tf.groupBy("id", "bin").agg(count(lit(1)).as("tf"))
      dsirWeightsFromPartials(binPart, dtfPart, bins).localCheckpoint(true)
    } finally tf.unpersist()
  }

  private def tokenBins(
      docs: DataFrame, idCol: String, toks: Column,
      targetPred: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    docs
      .select(col(idCol).as("id"), targetPred.as("is_t"), explode(toks).as("term"))
      .withColumn("bin", graft.functions.CrossHash.h60(col("term")) % bins)
  }

  /** One micro-batch's DSIR model partials — the streaming maintenance
    * verb (`st_dsir_parity`'s foreachBatch body): (bin, cr, ct) model
    * counts plus (id, bin, tf) doc counts, both ADDITIVE, so appending
    * per batch and re-summing at read time reconstructs the one-shot
    * model exactly regardless of how the corpus was split into batches.
    */
  def dsirPartials(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      targetPred: Column,
      bins: Int = 128): (DataFrame, DataFrame) = {
    val tf = tokenBins(docs, idCol, toks, targetPred, bins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val binPart = tf.groupBy("bin").agg(
          count(lit(1)).as("cr"),
          sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
        .localCheckpoint(true)
      val dtfPart = tf.groupBy("id", "bin").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      (binPart, dtfPart)
    } finally tf.unpersist()
  }

  /** Score documents from ACCUMULATED model partials (see
    * [[dsirPartials]]) — identical arithmetic to [[dsirWeights]]: counts
    * re-sum associatively, the smoothed log-ratio is computed once per
    * bin, per-doc contributions are DECIMAL-summed.
    */
  def dsirWeightsFromPartials(
      binParts: DataFrame,
      dtfParts: DataFrame,
      bins: Int = 128): DataFrame = {
    val binAgg = binParts.groupBy("bin")
      .agg(sum("cr").as("cr"), sum("ct").as("ct"))
    val tots = binAgg.agg(sum("cr").as("tot_r"), sum("ct").as("tot_t"))
    val binLlr = binAgg.crossJoin(broadcast(tots))
      .select(col("bin"),
        (log((col("ct") + 1).cast("double") / (col("tot_t") + bins))
          - log((col("cr") + 1).cast("double") / (col("tot_r") + bins))).as("llr"))
    dtfParts.groupBy("id", "bin").agg(sum("tf").as("tf"))
      .join(broadcast(binLlr), "bin")
      .groupBy("id")
      .agg(
        sum("tf").as("dl"),
        round(
          sum((col("tf") * col("llr")).cast("decimal(28,14)")).cast("double")
            / sum("tf") + 1e-9, 4).as("dsir_w"))
  }

  /** Gopher-style repetition signals: per document, the total/distinct/
    * top-occurrence counts of its words and word-bigrams, plus a boolean
    * `repetitive` gate — the standard pretraining quality filter for
    * boilerplate and keyword-stuffed pages (fraction of mass in the most
    * common n-gram, duplicate-token fraction).
    *
    * All outputs are INTEGERS compared with integer arithmetic
    * (`top * den >= total` instead of `top/total >= 1/den`), so the gate is
    * bit-identical across engines with no float rounding protocol.
    *
    * Shape: one tagged explode (unigrams and bigrams in the same pass) →
    * two hash aggregations, both keyed fine-grained on (id, gram) /
    * (id, n) — linear, skew-free, no per-row quadratic array scans, which
    * is what keeps it viable for book-length documents at 100 TB.
    */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      topWordDen: Int = 8,
      topBigramDen: Int = 20): DataFrame = {
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val tagged = docs.select(col(idCol).as("id"),
      explode(concat(
        transform(toks, w => struct(lit(1).as("n"), w.as("g"))),
        transform(bigrams, bg => struct(lit(2).as("n"), bg.as("g"))))).as("t"))
    val counts = tagged
      .groupBy(col("id"), col("t.n").as("n"), col("t.g").as("g"))
      .agg(count(lit(1)).as("c"))
    val per = counts.groupBy("id", "n")
      .agg(sum("c").cast("long").as("tot"),
        count(lit(1)).cast("long").as("nd"),
        max("c").cast("long").as("top"))
    per.groupBy("id")
      .agg(
        max(when(col("n") === 1, col("tot"))).as("n_words"),
        max(when(col("n") === 1, col("nd"))).as("n_distinct_words"),
        max(when(col("n") === 1, col("top"))).as("top_word_n"),
        coalesce(max(when(col("n") === 2, col("tot"))), lit(0L)).as("n_bigrams"),
        coalesce(max(when(col("n") === 2, col("nd"))), lit(0L)).as("n_distinct_bigrams"),
        coalesce(max(when(col("n") === 2, col("top"))), lit(0L)).as("top_bigram_n"))
      .withColumn("repetitive",
        col("top_word_n") * topWordDen >= col("n_words") ||
          (col("n_bigrams") > 0 &&
            col("top_bigram_n") * topBigramDen >= col("n_bigrams")))
  }

  /** Okapi BM25 relevance of every document against a fixed bag of query
    * terms: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * The explode is filtered to the query terms BEFORE aggregating, so the
    * shuffled frame is |docs|·|queryTerms| at worst, not the full posting
    * list; corpus stats (N, Σdl) are one broadcast row. Per-document
    * contributions are summed in DECIMAL so the score is bit-deterministic
    * under shuffle-order double addition (same device as the k-means
    * means).
    *
    * Output (id, dl, bm25), bm25 rounded to 4 decimals.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol).as("id"), toks.as("tk"))
    val lens = base.select(col("id"), size(col("tk")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val tf = base.select(col("id"), explode(col("tk")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term").join(lens, "id").crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("id", "dl")
      .agg(round(sum(col("contrib").cast("decimal(28,14)")).cast("double") + 1e-9, 4)
        .as("bm25"))
  }

  /** [[bm25]] for SEVERAL query bags in ONE corpus pass (r16): the
    * explode is filtered to the UNION of the bags' terms, tf/df/contrib
    * are per (doc, term) exactly as in the single-bag formulation (df is
    * a per-term corpus statistic, independent of which bag asked for the
    * term), and each bag's score is the decimal sum of ITS terms'
    * contributions — order-free, so per-bag rows are bit-identical to
    * running [[bm25]] once per bag (the formulation the oracle replays)
    * while the corpus is tokenized and aggregated ONCE instead of once
    * per bag. Output (query_id, id, dl, bm25); a bag scores only docs
    * containing at least one of its terms, like the single-bag shape.
    */
  def bm25Batch(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      bags: Map[Long, Seq[String]],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    val union = bags.values.flatten.toSeq.distinct
    val base = docs.select(col(idCol).as("id"), toks.as("tk"))
    val lens = base.select(col("id"), size(col("tk")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val tf = base.select(col("id"), explode(col("tk")).as("term"))
      .filter(col("term").isInCollection(union))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // (query_id, term) membership — duplicate terms within a bag dropped,
    // matching isInCollection's set semantics
    val bagMap = spark.createDataFrame(
        bags.toSeq.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("query_id", "term")
    tf.join(dfreq, "term").join(lens, "id").crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .join(broadcast(bagMap), "term")
      .groupBy("query_id", "id", "dl")
      .agg(round(sum(col("contrib").cast("decimal(28,14)")).cast("double") + 1e-9, 4)
        .as("bm25"))
  }

  /** Unigram language-model scoring — the perplexity-proxy quality signal
    * a pretraining pipeline computes when no external LM is available: fit
    * the corpus's own unigram distribution p(w) = count(w)/Σcount, then
    * score each document by its mean negative log-likelihood
    * nll(d) = Σ_w tf(w)·(−ln p(w)) / |d|. Documents full of corpus-rare
    * tokens (noise, mojibake, boilerplate IDs) score high; fluent
    * corpus-typical text scores low.
    *
    * Shape: one explode → (doc, term, tf) agg, a term-frequency
    * reaggregation (the vocabulary — orders of magnitude smaller than the
    * corpus, broadcastable), a hash join back, and a per-doc sum. Same
    * determinism device as BM25: per-token contributions summed in
    * DECIMAL so shuffle order cannot change the double sum.
    *
    * Output (id, n_tokens, nll), nll rounded to 4 decimals.
    */
  def unigramNll(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val tf = unigramTf(docs, idCol, toks)
    unigramScoreAgainstStats(tf, tf.groupBy("term").agg(sum("tf").as("cf")))
      .drop("n_oov")
  }

  /** Per-document term frequencies (id, term, tf) — the shared front half
    * of unigram scoring, so serving can score a batch against FROZEN
    * corpus statistics (the [[knScoreAgainstStats]] split one order down).
    */
  private[graft] def unigramTf(
      docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol).as("id"), explode(toks).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** Score a per-doc tf frame against a (term, cf) statistics table —
    * the corpus total derives from the stats table itself, so the whole
    * frozen artifact is ONE table (the `_cab` discipline).
    *
    * Terms ABSENT from the stats table (possible only when serving docs
    * outside the frozen corpus) are surfaced, not hidden — the
    * [[knScoreAgainstStats]] OOV contract one order down: they contribute
    * nothing to the mean, `n_oov` counts their occurrences, `n_tokens`
    * still counts every token, and `nll` is NULL for a fully-OOV doc.
    * When every term is in-stats (all this suite's serving queries) the
    * output is bit-identical to the old inner-join formulation.
    */
  private[graft] def unigramScoreAgainstStats(
      tf: DataFrame, cf: DataFrame): DataFrame = {
    val tot = cf.agg(sum("cf").as("tot"))
    tf.join(cf, Seq("term"), "left").crossJoin(broadcast(tot))
      .withColumn("contrib", when(col("cf").isNotNull,
        col("tf").cast("double")
          * -log(col("cf").cast("double") / col("tot").cast("double"))))
      .groupBy("id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        coalesce(sum(when(col("cf").isNull, col("tf"))), lit(0L))
          .cast("long").as("n_oov"),
        round((sum(col("contrib").cast("decimal(28,14)")).cast("double")
          / sum(when(col("cf").isNotNull, col("tf")))) + 1e-9, 4).as("nll"))
  }

  /** Per-document bigram language-model NLL with add-one smoothing —
    * the next step up from [[unigramNll]] on the KenLM ladder and the
    * stronger fluency/perplexity signal quality pipelines gate on (word
    * salad scores near the unigram NLL but far above the bigram one;
    * boilerplate scores far below both):
    *
    *   P(b | a) = (c(a,b) + 1) / (c(a) + V)
    *
    * where c(a,b) are corpus bigram counts, c(a) = Σ_b c(a,b) is the
    * PREDECESSOR count (self-consistent with the bigram table — doc-final
    * tokens don't condition anything), and V is the distinct-unigram
    * vocabulary (the add-one denominator mass). Per doc: mean −ln P over
    * its bigrams; documents with < 2 tokens have no bigrams and emit no
    * row (nothing to score).
    *
    * Shape: one bigram explode (index-zip, no self-join) → per-doc tf →
    * corpus counts by re-aggregation (never a second corpus scan) →
    * joins on (a, b)/(a) → decimal-summed fold, same cross-engine
    * determinism recipe as [[unigramNll]]. V and nothing else
    * broadcasts; all joins key on bigram/unigram terms — plain hash
    * shuffles at any corpus size.
    */
  def bigramNll(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val t = docs.select(col(idCol).as("id"), toks.as("tk"))
    val bi = t.filter(size(col("tk")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("a"),
          element_at(col("tk"), i + 2).as("b")))).as("bg"))
      .select(col("id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val tf = bi.groupBy("id", "a", "b").agg(count(lit(1)).as("tf"))
    val cab = tf.groupBy("a", "b").agg(sum("tf").as("cab"))
    val ca = cab.groupBy("a").agg(sum("cab").as("ca"))
    val v = t.select(explode(col("tk")).as("w")).agg(countDistinct("w").as("v"))
    tf.join(cab, Seq("a", "b")).join(ca, Seq("a")).crossJoin(broadcast(v))
      .withColumn("contrib",
        col("tf").cast("double")
          * -log((col("cab") + 1).cast("double") / (col("ca") + col("v")).cast("double")))
      .groupBy("id")
      .agg(sum("tf").cast("long").as("n_bigrams"),
        round((sum(col("contrib").cast("decimal(28,14)")).cast("double")
          / sum("tf")) + 1e-9, 4).as("nll"))
  }

  /** Per-document bigram NLL under an interpolated KNESER-NEY LM — the
    * CCNet-style perplexity quality filter the add-one [[bigramNll]]
    * approximates (Ney, Essen & Kneser 1994; Chen & Goodman 1999 §2.7 is
    * the exact formulation used):
    *
    *   P(b | a) = max(c(a,b) − D, 0)/c(a·) + D·N1+(a·)/c(a·) · P_cont(b)
    *   P_cont(b) = N1+(·b) / N1+(··)      (continuation probability)
    *   D = n1 / (n1 + 2·n2)               (the closed-form discount)
    *
    * where c(a·) is the predecessor sum, N1+(a·)/N1+(·b) count distinct
    * successors/predecessors, N1+(··) the distinct bigram types, and
    * n1/n2 the bigram types with count 1/2. Scored on the training
    * corpus itself every doc bigram has c(a,b) ≥ 1, and the interpolated
    * continuation mass keeps every probability strictly positive, so no
    * add-k floor is needed — this is the principled discount: a once-seen
    * bigram's probability leans on how PROMISCUOUS its successor is
    * (distinct predecessors), not on its raw count, which is exactly
    * what separates fluent-but-rare phrasing from pasted noise.
    *
    * Every ingredient is a plain aggregation over the bigram-type table
    * (continuation counts are `count(1)` group-bys — never a second
    * corpus scan), and the discount arithmetic is fixed-order double ops
    * over exact integer counts, so a SQL oracle replays it term for term
    * (the [[bigramNll]] decimal-sum + round-4 determinism recipe).
    *
    * Output (id, n_bigrams, nll), docs with < 2 tokens emit no row —
    * exactly [[bigramNll]]'s shape, so the two signals diff directly.
    */
  def knBigramNll(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val tf = bigramTf(docs, idCol, toks)
    val cab = tf.groupBy("a", "b").agg(sum("tf").as("cab"))
    knScoreAgainstStats(tf, cab).drop("n_oov")
  }

  /** Per-document bigram term frequencies (id, a, b, tf) — the shared
    * front half of KN training AND serving; docs with < 2 tokens emit no
    * row.
    */
  private def bigramTf(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val t = docs.select(col(idCol).as("id"), toks.as("tk"))
    t.filter(size(col("tk")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("a"),
          element_at(col("tk"), i + 2).as("b")))).as("bg"))
      .select(col("id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy("id", "a", "b").agg(count(lit(1)).as("tf"))
  }

  /** The KN scoring back half, shared by [[knBigramNll]] (stats from the
    * scored docs themselves) and [[scoreAgainstKnModel]] (stats from a
    * persisted family): every per-(a)/(b)/global statistic derives from
    * the bigram TYPE table `cab` alone — one pass per statistic family:
    * predecessor sums + distinct-successor counts keyed by a,
    * distinct-predecessor counts keyed by b, and the global type/discount
    * tallies (broadcast).
    *
    * Bigrams ABSENT from `cab` (possible only when serving docs outside
    * the trained corpus) are surfaced, not hidden: they contribute
    * nothing to the mean, and `n_oov` counts their occurrences — the
    * caller owns the OOV policy, the [[encodeAgainstUlmModel]] contract.
    * When every bigram is in-stats (all this suite's serving queries)
    * the output is bit-identical to [[knBigramNll]].
    *
    * Output (id, n_bigrams, n_oov, nll); nll is NULL for a doc whose
    * every bigram is OOV.
    */
  private def knScoreAgainstStats(tf: DataFrame, cabStats: DataFrame): DataFrame = {
    // Not materialized: the four branches share one exchange within the
    // scoring job; a checkpoint here measured 2× slower (tx_kn_nll 0.98 → 2.0 s).
    knScoreBody(tf, cabStats, knDerivedCa(cabStats), knDerivedNb(cabStats),
      knDerivedGlob(cabStats))
  }

  private def knDerivedCa(cab: DataFrame): DataFrame =
    cab.groupBy("a").agg(sum("cab").as("ca"), count(lit(1)).as("n1a"))

  private def knDerivedNb(cab: DataFrame): DataFrame =
    cab.groupBy("b").agg(count(lit(1)).as("nb"))

  private def knDerivedGlob(cab: DataFrame): DataFrame =
    cab.agg(count(lit(1)).as("n_types"),
      coalesce(sum(when(col("cab") === 1, 1L)), lit(0L)).as("n1"),
      coalesce(sum(when(col("cab") === 2, 1L)), lit(0L)).as("n2"))

  /** The KN scoring arithmetic over explicitly-supplied derived
    * statistics — the single body both the inline (lazy, in-plan
    * ReuseExchange) and serving (memoized per fold generation) paths
    * share, so the arithmetic cannot drift between them.
    */
  private def knScoreBody(
      tf: DataFrame,
      cab: DataFrame,
      ca: DataFrame,
      nb: DataFrame,
      glob: DataFrame): DataFrame = {
    tf.join(cab, Seq("a", "b"), "left")
      .join(ca, Seq("a"), "left").join(nb, Seq("b"), "left")
      .crossJoin(broadcast(glob))
      // a corpus with NO once- or twice-seen bigram types (synthetic
      // small-vocabulary corpora at scale) has no discount mass to
      // estimate — D = 0 degenerates KN to the ML bigram model, which is
      // the correct limit (and the n1+2·n2 denominator would be 0)
      .withColumn("d", when(col("n1") + lit(2L) * col("n2") === 0L, lit(0.0))
        .otherwise(col("n1").cast("double")
          / (col("n1") + lit(2L) * col("n2")).cast("double")))
      .withColumn("pml",
        greatest(col("cab").cast("double") - col("d"), lit(0.0))
          / col("ca").cast("double"))
      .withColumn("lam", col("d") * col("n1a").cast("double")
        / col("ca").cast("double"))
      .withColumn("pcont",
        col("nb").cast("double") / col("n_types").cast("double"))
      .withColumn("contrib", when(col("cab").isNotNull, col("tf").cast("double")
        * -log(col("pml") + col("lam") * col("pcont"))))
      .groupBy("id")
      .agg(sum("tf").cast("long").as("n_bigrams"),
        coalesce(sum(when(col("cab").isNull, col("tf"))), lit(0L))
          .cast("long").as("n_oov"),
        round((sum(col("contrib").cast("decimal(28,14)")).cast("double")
          / sum(when(col("cab").isNotNull, col("tf")))) + 1e-9, 4).as("nll"))
  }

  /** Boilerplate-gram coverage — the df-ranked blocklist form of CCNet/
    * RefinedWeb boilerplate removal, adapted to corpora without line
    * structure: the `topK` word-n-grams by document frequency (ties broken
    * lexicographically) form the boilerplate set, and each document reports
    * how much of it they cover. A curation pipeline gates on `bp_frac`;
    * this operator emits the signal rather than hard-coding the cut.
    *
    * Shape: gram explode → df agg → global top-K (TakeOrdered — a partial
    * top-K per partition then one merge, never a full sort) → broadcast
    * join back to the per-doc gram frame. The blocklist is `topK` rows by
    * construction, so the join back is always a broadcast hash join — the
    * corpus side never shuffles.
    *
    * Output (id, n_grams, n_bp, bp_frac) — distinct grams per doc, how
    * many are in the blocklist, and the fraction rounded to 4 decimals.
    */
  def boilerplateCoverage(
      docs: DataFrame,
      idCol: String,
      grams: Column,
      topK: Int = 500): DataFrame = {
    val g = docs.select(col(idCol).as("id"),
      explode(array_distinct(grams)).as("gram"))
    val top = g.groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram")).limit(topK)
      .select(col("gram"), lit(1).as("bp"))
    g.join(broadcast(top), Seq("gram"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("bp"), lit(0L)).cast("long").as("n_bp"))
      .withColumn("bp_frac",
        round(col("n_bp").cast("double") / col("n_grams") + 1e-9, 4))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-training step of an LLM data pipeline, re-expressed
    * relationally: the corpus collapses to one (word, freq, symbol-list)
    * table (symbols start as characters), then each merge round is
    *
    *  1. adjacent-pair counts: one explode of per-word pair lists + one
    *     frequency-weighted aggregation — the ONLY per-round shuffle,
    *     and it runs over the distinct-word table (vocabulary-sized,
    *     thousands of rows), never the corpus;
    *  2. argmax pair (count desc, then lexicographic — fully
    *     deterministic), a one-row frame broadcast back;
    *  3. greedy left-to-right merge application per word via
    *     `aggregate()` over the symbol list — the classic BPE scan is a
    *     fold: replace the accumulator's last element when (last, next)
    *     equals the merge pair. The merged symbol is strictly longer
    *     than its left part, so it can never chain into an overlapping
    *     second merge — greedy non-overlap for free. Row-local, no
    *     shuffle.
    *
    * The driver-side loop is over MERGE ROUNDS (parameter-sized, like
    * the CC/k-core round loops); each round localCheckpoints the
    * vocabulary table so the plan stays flat. At 100 TB the corpus pass
    * happens once (the word-count aggregation); every round after that
    * touches only the vocabulary, which is why production BPE trainers
    * run on word counts — this is that exact shape.
    *
    * Returns the merge table (rank, l, r, cnt): rank-r merge joined
    * symbols l+r, which occurred cnt times (frequency-weighted) at the
    * time of merging.
    */
  def bpeMerges(df: DataFrame, textCol: Column, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges=$nMerges must be >= 1")
    var vocab = df
      .select(explode(tokens(textCol)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to nMerges) {
      val pairCounts = vocab.select(col("freq"),
          explode(when(size(col("syms")) > 1,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(
                element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
      val top = pairCounts
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .select(lit(r).as("rank"), col("l"), col("r"), col("cnt"))
        .localCheckpoint(true)
      merges += top
      val t = broadcast(top.select(col("l").as("__ml"), col("r").as("__mr")))
      vocab = vocab.crossJoin(t)
        .withColumn("syms", mergeFold(col("syms"), col("__ml"), col("__mr")))
        .drop("__ml", "__mr")
        .localCheckpoint(true)
    }
    merges.result().reduce(_ unionByName _)
  }

  /** One learned merge (l, r) applied to a symbol sequence in a single
    * greedy left-to-right fold: replace the accumulator's last element
    * when (last, next) equals the merge pair. Shared by training
    * (`bpeMerges`) and encoding (`bpeEncodeWords`) so the two stay
    * step-identical — which is exactly why encoding the training corpus
    * reproduces training's final symbol table (the property the
    * `tx_bpe_encode`/`tx_bpe_vocab` oracles lean on).
    */
  private def mergeFold(syms: Column, l: Column, r: Column): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) => when(
        try_element_at(acc, lit(-1)) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(x))))

  /** BPE encoding — apply a learned merge table to segment words into
    * subword symbols (the tokenize step that follows `bpeMerges`' train
    * step). The merge table is tokenizer-parameter-scale, so it collects
    * to the driver (metadata-sized, like the persisted-index `_meta`
    * reads) and becomes ONE array literal; the whole encode is then a
    * nested fold — outer over merges in rank order, inner the same
    * greedy left-to-right `mergeFold` used in training — entirely
    * row-local, zero shuffle. Callers encode the DISTINCT-word table and
    * join back to the corpus (the same vocabulary trick training uses),
    * so the per-word O(|merges|·|word|) scan cost is paid once per
    * distinct word, never per corpus occurrence; at 100 TB the corpus
    * only ever sees one explode and one equi-join on `word`.
    *
    * Words the merge table never saw segment fine (merges simply don't
    * fire); empty strings yield empty symbol lists. Returns `words` plus
    * a `syms` array<string> column.
    *
    * Consumers that EXPLODE `syms` should materialize this frame first
    * (it is vocabulary-sized — the artifact a real pipeline persists):
    * `InferFiltersFromGenerate` adds `size(syms) > 0` / `isnotnull(syms)`
    * predicates above the alias, and predicate pushdown re-derives the
    * fold behind them through any upstream aggregation — onto every
    * corpus token if the word table's lineage is still attached
    * (measured 8.3 s vs 0.3 s at sf0.1 in `tx_bpe_vocab`).
    */
  def bpeEncodeWords(words: DataFrame, wordCol: String, merges: DataFrame): DataFrame = {
    val ms: Seq[(String, String)] = merges.orderBy("rank").select("l", "r")
      .collect().toSeq.map(row => (row.getString(0), row.getString(1)))
    val chars = when(length(col(wordCol)) > 0,
        transform(sequence(lit(1), length(col(wordCol))),
          i => col(wordCol).substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))
    // typedlit emits a single array literal (not a per-element
    // CreateArray), so a production-sized merge table stays one constant.
    words.withColumn("syms",
      aggregate(typedlit(ms), chars,
        (syms, m) => mergeFold(syms, m.getField("_1"), m.getField("_2"))))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training (Kudo 2018) —
    * BPE's production sibling: instead of greedy merges, a PIECE
    * vocabulary with probabilities, trained by EM and applied by Viterbi
    * segmentation. This is the hard-EM (Viterbi-EM) variant: the E-step
    * segments every distinct word under the current piece log-probs (the
    * classic lattice DP, run as a row-local [[viterbiFold]] — the same
    * fold shape as [[mergeFold]]), the M-step re-estimates piece
    * probabilities from frequency-weighted usage counts (one
    * vocabulary-table aggregation). Hard-EM keeps every step an exact
    * integer/argmax computation, which is what lets a SQL oracle replay
    * the ENTIRE training — seed, both EM rounds, final probabilities —
    * and hash-match it (the soft-EM forward-backward marginals have no
    * bit-exact SQL twin; same trade the k-means queries make vs the IVF
    * trainer).
    *
    * Determinism devices:
    *   - log-probs are INTEGER-scaled: lp = floor(ln(cnt/tot)·10⁷ + 0.5
    *     + 10⁻³) — every DP sum and comparison is exact BIGINT
    *     arithmetic, so engines cannot drift (the only double op is the
    *     one ln per piece, nudged off grid boundaries like every rounded
    *     aggregate in this repo);
    *   - Viterbi tie-break: higher score, then FEWER pieces, then the
    *     earliest candidate in shortest-piece-first order — pinned in
    *     [[viterbiFold]] and replayed by the oracle's CASE chain.
    *
    * Seeding: all single characters (coverage guarantee) plus the top
    * `seedMulti` substrings of length 2..`maxPieceLen` by
    * frequency-weighted occurrence count (cnt desc, piece) — the
    * suffix-array seed of the paper collapsed to the substring-count
    * form a relational engine computes in one explode+aggregate.
    * Round-1 Viterbi reaches every word through the single chars;
    * round r+1's vocabulary is exactly the pieces round r USED, so
    * reachability is invariant across rounds.
    *
    * Scale shape: the corpus is touched ONCE (the word-count
    * aggregation); every EM round runs over the distinct-word table
    * (vocabulary-sized) with a row-local DP and one aggregation — the
    * same "train on word counts" shape production SentencePiece uses.
    * The piece table is tokenizer-parameter-scale and collects to the
    * driver per round (the [[bpeEncodeWords]] merge-table precedent).
    *
    * Returns (pieces, segs): the final piece table (piece, cnt, lp) —
    * usage counts and integer-scaled log-probs of the final
    * distribution — and the final word segmentation table (word, freq,
    * n_pieces, segs); callers join `segs` back to the corpus to encode
    * (the distinct-word trick — the corpus never re-scans).
    */
  def ulmTrain(
      df: DataFrame,
      textCol: Column,
      maxPieceLen: Int = 4,
      seedMulti: Int = 60,
      rounds: Int = 2): (DataFrame, DataFrame) = {
    require(maxPieceLen >= 1 && seedMulti >= 0 && rounds >= 1,
      s"ulmTrain(maxPieceLen=$maxPieceLen, seedMulti=$seedMulti, rounds=$rounds)")
    val spark = df.sparkSession
    val words = df
      .select(explode(tokens(textCol)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val subs = words.select(col("freq"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
          k => col("word").substr(i, k))))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    var pieces = subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(seedMulti))
      .localCheckpoint(true)
    var segs: DataFrame = null
    for (_ <- 1 to rounds) {
      val lpMap = piecesWithLp(pieces).select("piece", "lp").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      segs = words.withColumn("vit",
          element_at(viterbiFold(col("word"), lpMap, maxPieceLen),
            length(col("word")) + 1))
        .select(col("word"), col("freq"),
          col("vit.np").cast("long").as("n_pieces"), col("vit.segs").as("segs"))
        .localCheckpoint(true)
      pieces = segs.select(col("freq"), explode(col("segs")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .localCheckpoint(true)
    }
    (piecesWithLp(pieces), segs)
  }

  /** Integer-scaled log-probs for a (piece, cnt) table: lp =
    * floor(ln(cnt/Σcnt)·10⁷ + 0.5 + 10⁻³) — the one double op of the
    * ULM trainer, immediately snapped to the BIGINT grid.
    */
  private def piecesWithLp(pieces: DataFrame): DataFrame = {
    val tot = broadcast(pieces.agg(sum("cnt").as("tot")))
    pieces.crossJoin(tot)
      .select(col("piece"), col("cnt"),
        floor(log(col("cnt").cast("double") / col("tot").cast("double"))
          * lit(1e7) + lit(0.5) + lit(1e-3)).cast("long").as("lp"))
  }

  /** The persisted unigram-LM tokenizer: `_pieces` is the (piece, cnt,
    * lp) vocabulary, `_meta` the max piece length.
    */
  val Ulm = new TableFamily("_pieces", "_meta")

  /** Persist a trained unigram-LM tokenizer — the EIGHTH persisted family
    * (after minhash/gram/IVF/IVF-PQ/k-means/linear/text): in production a
    * tokenizer is trained once and FROZEN; every downstream job encodes
    * against the stored artifact, never a retrain. `_pieces` is the
    * (piece, cnt, lp) vocabulary ([[ulmTrain]]'s first return),
    * tokenizer-parameter-scale; `_meta` (max_piece_len) lands LAST as the
    * completeness marker, the family discipline.
    */
  def writeUlmModel(
      pieces: DataFrame,
      tablePrefix: String,
      maxPieceLen: Int): Unit = {
    val spark = pieces.sparkSession
    pieces.select("piece", "cnt", "lp")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_pieces")
    spark.createDataFrame(Seq(Tuple1(maxPieceLen))).toDF("max_piece_len")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tablePrefix}_meta")
  }

  /** Encode a distinct-word frame against a PERSISTED tokenizer — the
    * serving half of the train/serve split: generation-resolved, the
    * stored pieces collect to the driver (tokenizer-parameter-scale, the
    * [[bpeEncodeWords]] merge-table precedent) and the same row-local
    * [[viterbiFold]] used in training segments each word, so encoding the
    * training corpus reproduces training's segmentation table exactly
    * (the property the serving certificates pin). Words the frozen
    * vocabulary cannot reach (an unseen character) return NULL
    * `n_pieces`/`segs` — the caller owns the OOV policy (production
    * tokenizers byte-fall-back; this corpus-trained model surfaces the
    * gap instead of hiding it). Returns `words` plus (n_pieces, segs).
    */
  def encodeAgainstUlmModel(
      words: DataFrame,
      wordCol: String,
      tablePrefix: String): DataFrame = {
    val spark = words.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val maxLen = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(0)
    val lp = spark.table(s"${tp}_pieces").select("piece", "lp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    words.withColumn("__vit",
        element_at(viterbiFold(col(wordCol), lp, maxLen),
          length(col(wordCol)) + 1))
      .withColumn("n_pieces", col("__vit.np").cast("long"))
      .withColumn("segs", col("__vit.segs"))
      .drop("__vit")
  }

  /** Interpolated Kneser-Ney TRIGRAM NLL — [[knBigramNll]] taken to the
    * order production perplexity filters actually run (CCNet's KenLM is
    * this same recursion two levels deeper): the top level discounts raw
    * trigram counts, and BOTH lower levels use CONTINUATION counts (how
    * many distinct contexts a gram completes), the Chen & Goodman
    * discipline that separates fluent-but-rare phrasing from pasted
    * boilerplate:
    *
    *   P(c|a,b)  = max(c(abc)−D₃,0)/c(ab·) + D₃·N1+(ab·)/c(ab·) · P(c|b)
    *   P(c|b)    = max(N1+(·bc)−D₂,0)/N1+(·b·)
    *                 + D₂·N1+(b·)/N1+(·b·) · P_cont(c)
    *   P_cont(c) = N1+(·c) / N1+(··)
    *
    * with per-order closed-form discounts D = n1/(n1+2·n2) computed from
    * that order's count-of-count tallies (raw trigram counts for D₃,
    * continuation counts for D₂), degenerating to 0 when the order has no
    * once/twice-seen types (the ML limit, as in the bigram scorer). All
    * lower-order statistics derive from the trigram TYPE table alone —
    * each a single type-table-sized aggregation — and the arithmetic is
    * fixed-order double ops over exact integer counts, so the oracle
    * replays it term for term.
    *
    * Output (id, n_trigrams, nll); docs with < 3 tokens emit no row.
    */
  def knTrigramNll(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val tf = trigramTf(docs, idCol, toks)
    val cabc = tf.groupBy("a", "b", "c").agg(sum("tf").as("cabc"))
    knTrigramScoreAgainstStats(tf, cabc).drop("n_oov")
  }

  /** Per-document trigram term frequencies (id, a, b, c, tf) — the shared
    * front half of trigram-KN training AND serving ([[bigramTf]] one
    * order up); docs with < 3 tokens emit no row.
    */
  private[graft] def trigramTf(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val t = docs.select(col(idCol).as("id"), toks.as("tk"))
    t.filter(size(col("tk")) >= 3)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 3),
        i => struct(element_at(col("tk"), i + 1).as("a"),
          element_at(col("tk"), i + 2).as("b"),
          element_at(col("tk"), i + 3).as("c")))).as("tg"))
      .select(col("id"), col("tg.a").as("a"), col("tg.b").as("b"),
        col("tg.c").as("c"))
      .groupBy("id", "a", "b", "c").agg(count(lit(1)).as("tf"))
  }

  /** The trigram-KN scoring back half, shared by [[knTrigramNll]] (stats
    * from the scored docs themselves) and [[scoreAgainstKn3Model]] (stats
    * from the persisted family): every statistic of every order derives
    * from the trigram TYPE table `cabcStats` alone. Trigrams ABSENT from
    * the stats (serving docs outside the trained corpus) follow the
    * [[knScoreAgainstStats]] OOV contract: they contribute nothing to
    * the mean, `n_oov` counts their occurrences, and nll is NULL for a
    * fully-OOV doc. Output (id, n_trigrams, n_oov, nll).
    */
  private def knTrigramScoreAgainstStats(
      tf: DataFrame, cabcStats: DataFrame): DataFrame = {
    // Not materialized, as in knScoreAgainstStats: a checkpoint here
    // measured slower (tx_kn3_nll 0.97 → 2.4 s).
    val cabc = cabcStats
    val cont = kn3DerivedCont(cabc)
    knTrigramScoreBody(tf, cabc, kn3DerivedAb(cabc), cont,
      kn3DerivedBmid(cont), kn3DerivedCc(cont),
      kn3DerivedG3(cabc), kn3DerivedG2(cont), kn3DerivedGBg(cont))
  }

  private[graft] def kn3DerivedAb(cabc: DataFrame): DataFrame =
    cabc.groupBy("a", "b")
      .agg(sum("cabc").as("cab2"), count(lit(1)).as("n3a"))

  // continuation table: N1+(·bc) = distinct predecessors per (b,c) —
  // every lower-order statistic derives from THIS table
  private[graft] def kn3DerivedCont(cabc: DataFrame): DataFrame =
    cabc.groupBy("b", "c").agg(count(lit(1)).as("nbc"))

  private[graft] def kn3DerivedBmid(cont: DataFrame): DataFrame =
    cont.groupBy("b").agg(sum("nbc").as("nbdot"), count(lit(1)).as("nbmid"))

  private[graft] def kn3DerivedCc(cont: DataFrame): DataFrame =
    cont.groupBy("c").agg(count(lit(1)).as("ncc"))

  private[graft] def kn3DerivedG3(cabc: DataFrame): DataFrame =
    cabc.agg(
      coalesce(sum(when(col("cabc") === 1, 1L)), lit(0L)).as("n1_3"),
      coalesce(sum(when(col("cabc") === 2, 1L)), lit(0L)).as("n2_3"))

  private def kn3G2n1 = coalesce(sum(when(col("nbc") === 1, 1L)), lit(0L)).as("n1_2")
  private def kn3G2n2 = coalesce(sum(when(col("nbc") === 2, 1L)), lit(0L)).as("n2_2")
  private def kn3GBgN = count(lit(1)).as("nbg")

  private[graft] def kn3DerivedG2(cont: DataFrame): DataFrame =
    cont.agg(kn3G2n1, kn3G2n2)

  private[graft] def kn3DerivedGBg(cont: DataFrame): DataFrame =
    cont.agg(kn3GBgN)

  /** [[kn3DerivedG2]] and [[kn3DerivedGBg]] in one aggregation:
    * (n1_2, n2_2, nbg).
    */
  private[graft] def kn3DerivedG2Bg(cont: DataFrame): DataFrame =
    cont.agg(kn3G2n1, kn3G2n2, kn3GBgN)

  /** The trigram-KN scoring arithmetic over explicitly-supplied derived
    * statistics — one body for the inline (lazy) and serving (memoized
    * per generation) paths, so the arithmetic cannot drift.
    */
  private[graft] def knTrigramScoreBody(
      tf: DataFrame,
      cabc: DataFrame,
      ab: DataFrame,
      cont: DataFrame,
      bmid: DataFrame,
      cc: DataFrame,
      g3: DataFrame,
      g2: DataFrame,
      gBg: DataFrame): DataFrame = {
    tf.join(cabc, Seq("a", "b", "c"), "left").join(ab, Seq("a", "b"), "left")
      .join(cont, Seq("b", "c"), "left").join(bmid, Seq("b"), "left")
      .join(cc, Seq("c"), "left")
      .crossJoin(broadcast(g3)).crossJoin(broadcast(g2))
      .crossJoin(broadcast(gBg))
      .withColumn("d3",
        when(col("n1_3") + lit(2L) * col("n2_3") === 0L, lit(0.0))
          .otherwise(col("n1_3").cast("double")
            / (col("n1_3") + lit(2L) * col("n2_3")).cast("double")))
      .withColumn("d2",
        when(col("n1_2") + lit(2L) * col("n2_2") === 0L, lit(0.0))
          .otherwise(col("n1_2").cast("double")
            / (col("n1_2") + lit(2L) * col("n2_2")).cast("double")))
      .withColumn("pcont",
        col("ncc").cast("double") / col("nbg").cast("double"))
      .withColumn("pmid",
        greatest(col("nbc").cast("double") - col("d2"), lit(0.0))
          / col("nbdot").cast("double")
          + (col("d2") * col("nbmid").cast("double")
            / col("nbdot").cast("double")) * col("pcont"))
      .withColumn("contrib", when(col("cabc").isNotNull,
        col("tf").cast("double")
          * -log(
            greatest(col("cabc").cast("double") - col("d3"), lit(0.0))
              / col("cab2").cast("double")
            + (col("d3") * col("n3a").cast("double")
              / col("cab2").cast("double")) * col("pmid"))))
      .groupBy("id")
      .agg(sum("tf").cast("long").as("n_trigrams"),
        coalesce(sum(when(col("cabc").isNull, col("tf"))), lit(0L))
          .cast("long").as("n_oov"),
        round((sum(col("contrib").cast("decimal(28,14)")).cast("double")
          / sum(when(col("cabc").isNotNull, col("tf")))) + 1e-9, 4).as("nll"))
  }

  /** Excise every character covered by a span set from `text` — the
    * blocklist-removal verb ([[graft.functions.CrossHash.ahoSpans]]
    * emits the spans; this acts on them): the union of the (start, len)
    * intervals is removed and the surviving regions concatenate in
    * order. Row-local O(matches) fold, no shuffle: the accumulator
    * carries (merged end so far, output prefix); each span — spans MUST
    * be sorted by (start, len), which ahoSpans guarantees — appends the
    * gap before it (if any) and extends the merged end, and the
    * finalizer appends the tail after the last covered position. A doc
    * with no matches reproduces its text BYTE-IDENTICALLY
    * (substr(1, len) of an untouched accumulator). Positions are
    * 1-based codepoints (substr semantics) — exactly what BOTH
    * [[graft.functions.AhoAutomaton.spansAll]] dispatch targets emit, so
    * the excision is offset-correct even on documents carrying astral
    * characters before a match.
    */
  def exciseSpans(text: Column, spans: Column): Column =
    aggregate(
      spans,
      struct(lit(0).as("pe"), lit("").as("out")),
      (acc, sp) => {
        val pe = acc.getField("pe")
        val st = sp.getField("start")
        val ln = sp.getField("len")
        struct(
          greatest(pe, st + ln - 1).as("pe"),
          concat(acc.getField("out"),
            when(st > pe, text.substr(pe + 1, st - pe - 1))
              .otherwise(lit(""))).as("out"))
      },
      acc => concat(acc.getField("out"),
        text.substr(acc.getField("pe") + 1,
          length(text) - acc.getField("pe"))))

  /** REDACT every span-covered region instead of excising it — the
    * [[piiScrub]] typed-placeholder discipline applied to blocklist
    * matches: each maximal run of OVERLAPPING spans (spans sorted by
    * (start, len), as [[graft.functions.CrossHash.ahoSpans]] emits them;
    * a span starting at exactly prev-end+1 begins a NEW run) is replaced
    * by one `placeholder`, so downstream consumers see that something
    * was removed and how many regions there were, without the banned
    * content. Same row-local O(matches) fold as [[exciseSpans]];
    * untouched documents come back byte-identical.
    */
  def redactSpans(text: Column, spans: Column,
      placeholder: String = "<BLOCKED>"): Column =
    aggregate(
      spans,
      struct(lit(0).as("pe"), lit("").as("out")),
      (acc, sp) => {
        val pe = acc.getField("pe")
        val st = sp.getField("start")
        val ln = sp.getField("len")
        struct(
          greatest(pe, st + ln - 1).as("pe"),
          concat(acc.getField("out"),
            when(st > pe,
              concat(text.substr(pe + 1, st - pe - 1), lit(placeholder)))
              .otherwise(lit(""))).as("out"))
      },
      acc => concat(acc.getField("out"),
        text.substr(acc.getField("pe") + 1,
          length(text) - acc.getField("pe"))))

  /** The number of maximal overlapping-span runs [[redactSpans]] would
    * replace — the redacted-region count, by the same strictly-greater
    * island rule, as one row-local fold.
    */
  def mergedSpanCount(spans: Column): Column =
    aggregate(
      spans,
      struct(lit(0).as("pe"), lit(0L).as("n")),
      (acc, sp) => {
        val pe = acc.getField("pe")
        val st = sp.getField("start")
        val ln = sp.getField("len")
        struct(
          greatest(pe, st + ln - 1).as("pe"),
          (acc.getField("n")
            + when(st > pe, 1L).otherwise(0L)).as("n"))
      },
      acc => acc.getField("n"))

  /** The persisted Kneser-Ney bigram LM: `_cab` holds (a, b, cab)
    * bigram-type count partials, `_meta` the order. Every other KN
    * statistic derives from the fold at serve time, so the corpus pass
    * happens once, ingest and delete pass only over the docs they touch,
    * and a fold after any verb sequence is bit-identical to a retrain on
    * the surviving docs (exact integer sums).
    */
  val Kn = new PartialFamily("_cab", Seq("a", "b"), "cab", "kn_order" -> 2)

  /** The persisted Kneser-Ney trigram LM: [[Kn]] one order up, with
    * (a, b, c, cabc) trigram-type count partials in `_cabc`.
    */
  val Kn3 = new PartialFamily("_cabc", Seq("a", "b", "c"), "cabc", "kn_order" -> 3)

  /** A document frame's bigram-type counts, as [[Kn]] partials. */
  def knCounts(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    bigramTf(docs, idCol, toks).groupBy("a", "b").agg(sum("tf").as("cab"))

  /** A document frame's trigram-type counts, as [[Kn3]] partials. */
  def kn3Counts(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    trigramTf(docs, idCol, toks).groupBy("a", "b", "c").agg(sum("tf").as("cabc"))

  /** Score a document frame against a persisted [[Kn]] model, with
    * [[knBigramNll]]'s arithmetic to the last double op. Output (id,
    * n_bigrams, n_oov, nll) — see [[knScoreAgainstStats]] for the OOV
    * contract. The fold is memoized per `_cab` fingerprint; the derived
    * statistics stay lazy in-plan, where exchange reuse dedupes them
    * (memoizing them measured slower: st_kn_serving_parity 4.23 → 4.39 s).
    */
  def scoreAgainstKnModel(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String): DataFrame =
    knScoreAgainstStats(bigramTf(docs, idCol, toks),
      Kn.served(docs.sparkSession, tablePrefix)._2)

  /** Score a document frame against a persisted [[Kn3]] model, with
    * [[knTrigramNll]]'s arithmetic to the last double op. Output (id,
    * n_trigrams, n_oov, nll). The fold and its seven derived statistics
    * are memoized per `_cabc` fingerprint (measured 0.6 s faster than
    * lazy); the global tallies are collected into LocalRelations, whose
    * broadcasts build with no job.
    */
  def scoreAgainstKn3Model(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String): DataFrame = {
    val spark = docs.sparkSession
    val (key, cabc) = Kn3.served(spark, tablePrefix)
    val cont = graft.SessionMemo.getOrCompute(spark, s"$key/cont") {
      kn3DerivedCont(cabc).localCheckpoint(true)
    }
    val ab = graft.SessionMemo.getOrCompute(spark, s"$key/ab") {
      kn3DerivedAb(cabc).localCheckpoint(true)
    }
    val bmid = graft.SessionMemo.getOrCompute(spark, s"$key/bmid") {
      kn3DerivedBmid(cont).localCheckpoint(true)
    }
    val cc = graft.SessionMemo.getOrCompute(spark, s"$key/cc") {
      kn3DerivedCc(cont).localCheckpoint(true)
    }
    val g3 = graft.SessionMemo.getOrCompute(spark, s"$key/g3") {
      val r = kn3DerivedG3(cabc).head()
      spark.createDataFrame(Seq((r.getLong(0), r.getLong(1))))
        .toDF("n1_3", "n2_3")
    }
    // g2 and gBg come from one job over `cont`, held as two one-row frames
    def g2AndBg(): (DataFrame, DataFrame) = {
      val r = kn3DerivedG2Bg(cont).head()
      (spark.createDataFrame(Seq((r.getLong(0), r.getLong(1)))).toDF("n1_2", "n2_2"),
        spark.createDataFrame(Seq(Tuple1(r.getLong(2)))).toDF("nbg"))
    }
    val g2 = graft.SessionMemo.getOrCompute(spark, s"$key/g2") {
      val (g2, gBg) = g2AndBg()
      graft.SessionMemo.put(spark, s"$key/gbg", gBg)
      g2
    }
    val gBg = graft.SessionMemo.getOrCompute(spark, s"$key/gbg")(g2AndBg()._2)
    knTrigramScoreBody(trigramTf(docs, idCol, toks), cabc, ab, cont, bmid,
      cc, g3, g2, gBg)
  }

  /** The persisted banned-phrase blocklist: `_patterns` holds (pattern,
    * delta) membership partials, `_meta` the seed count. The write verbs
    * below keep the fold 0/1-valued by reading the live set first, so
    * re-adding a live pattern or deleting an absent one is a no-op, and
    * they sanitize their input ([[graft.functions.CrossHash.sanitizePatterns]])
    * so the serving automaton never sees an illegal pattern.
    *
    * Single writer: read-live-then-append is not atomic, so two
    * concurrent ingests of one absent pattern fold it to 2, and one
    * take-down then leaves it live. Compaction folds every live pattern
    * back to 1. Readers are always safe.
    */
  val Blocklist = new PartialFamily("_patterns", Seq("pattern"), "delta",
    "n_seed" -> 0, membership = true)

  /** Write a fresh blocklist at `tablePrefix`: one +1 row per distinct
    * sanitized pattern.
    */
  def writeBlocklist(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      patterns: Seq[String]): Unit = {
    import spark.implicits._
    val pats = graft.functions.CrossHash.sanitizePatterns(patterns).distinct
    Blocklist.write(tablePrefix, pats.map(p => (p, 1L)).toDF("pattern", "delta"), pats.size)
  }

  /** Add the sanitized patterns not already live. */
  def ingestIntoBlocklist(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      patterns: Seq[String]): Unit = {
    import spark.implicits._
    val live = resolveBlocklist(spark, tablePrefix).toSet
    val add = graft.functions.CrossHash.sanitizePatterns(patterns)
      .distinct.filterNot(live)
    if (add.nonEmpty)
      Blocklist.ingest(tablePrefix, add.map(p => (p, 1L)).toDF("pattern", "delta"))
  }

  /** Take down the patterns that are currently live. */
  def deleteFromBlocklist(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      patterns: Seq[String]): Unit = {
    import spark.implicits._
    val live = resolveBlocklist(spark, tablePrefix).toSet
    val del = patterns.distinct.filter(live)
    if (del.nonEmpty)
      Blocklist.delete(tablePrefix, del.map(p => (p, 1L)).toDF("pattern", "delta"))
  }

  /** The live pattern set, sorted (deterministic automaton construction). */
  def resolveBlocklist(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Seq[String] =
    Blocklist.live(spark, tablePrefix).select("pattern").orderBy("pattern")
      .collect().map(_.getString(0)).toSeq

  /** The ULM Viterbi lattice DP as one row-local fold: accumulator
    * acc[j+1] = best (score, n_pieces, segmentation) over the word's
    * first j characters, NULL when unreachable. Step i extends from
    * acc[i−k+1] with the length-k piece ending at i (k = 1..maxPieceLen,
    * piece must be in the vocabulary), choosing by score desc, then
    * n_pieces asc, then the SHORTEST extending piece (candidates are
    * evaluated k-ascending and only a strictly better one replaces).
    * Integer scores — every comparison exact.
    */
  private def viterbiFold(
      word: Column,
      lp: Map[String, Long],
      maxPieceLen: Int): Column = {
    val lpLit = typedlit(lp)
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit(0).as("np"),
        array().cast("array<string>").as("segs"))),
      (acc, i) => {
        // Candidate selection as ONE array_max over (s, −np, −k): the
        // lexicographic max IS the fold's rule — highest score, then
        // fewest pieces, then the SHORTEST extending piece (−k breaks
        // the remaining tie to the candidate evaluated first, i.e.
        // smallest k; −k is unique per candidate so the trailing segs
        // field is never compared). array_max skips NULL elements
        // (unreachable/OOV candidates) and returns NULL over an
        // all-NULL array — exactly the old when-chain's semantics.
        // Replaces a reduceLeft of 4-way whens whose tree re-embedded
        // both branches at every step (~3^maxPieceLen candidate
        // subtree copies): the optimizer walked that tree on EVERY
        // action, costing ~2.8 s of driver time per encode at sf0.1
        // (measured round 15; the selection itself is unchanged, so
        // segmentations are bit-identical and the replay oracles hold).
        val cands = (1 to maxPieceLen).map { k =>
          val piece = word.substr(i - k + 1, lit(k))
          val prev = element_at(acc, i - k + 1)
          val plp = element_at(lpLit, piece)
          when(i >= k && plp.isNotNull && prev.isNotNull,
            struct(
              (prev.getField("s") + plp).as("s"),
              (-(prev.getField("np") + 1)).as("negnp"),
              lit(-k).as("negk"),
              concat(prev.getField("segs"), array(piece)).as("segs")))
        }
        val bestExt = array_max(array(cands: _*))
        val best = when(bestExt.isNotNull,
          struct(
            bestExt.getField("s").as("s"),
            (-bestExt.getField("negnp")).as("np"),
            bestExt.getField("segs").as("segs")))
        concat(acc, array(best))
      })
  }
}

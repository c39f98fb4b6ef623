package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableFamily

/** Persisted inverted text index — the SPARSE-retrieval serving tier, the
  * seventh persisted index family (after minhash / gram / IVF / IVF-PQ /
  * k-means / linear-model). Where the dense tier answers "vectors near
  * this query vector" through IVF cells, this tier answers "documents
  * matching these query terms, BM25-ranked" through bucketed postings
  * lists — the retrieval half of a RAG pipeline that a dense index cannot
  * express (exact term semantics, no training, instant ingest).
  *
  * The reference pipeline has no retrieval at all (it is a table-copy ELT,
  * see `/root/reference/etl_process.py:18-23`); this tier is part of the
  * mandated LLM-pipeline extension surface, reusing the exact BM25
  * arithmetic of [[Text.bm25]] so the one-shot and the served paths are
  * oracle-equal.
  *
  * Catalog layout under `tablePrefix` (generation-resolved through the
  * same `_current` pointer chain as every other family — see
  * [[graft.sources.TableFamily.rebuild]]):
  *
  *   - `_postings` (term, id, tf)  bucketed+sorted by `term` — the
  *     postings lists. A probe filters `term IN (query terms)`, which
  *     Spark serves with BUCKET PRUNING (only the buckets the query terms
  *     hash to are read — `SelectedBucketsCount` in the scan, pinned in
  *     PlanSpec); at 100 TB the probe cost is O(matched postings), never
  *     a corpus scan.
  *   - `_doclens` (id, dl)  bucketed+sorted by `id` — document lengths
  *     for the BM25 length normalization. Joined only against the
  *     (tiny) matched-id set; the index side never re-shuffles.
  *   - `_stats` (batch_id, n_docs, tot_dl) — PARTIAL corpus statistics,
  *     one row per build/ingest/delete verb (deletes append NEGATIVE
  *     compensation rows). Probes sum this metadata-sized table instead
  *     of re-aggregating `_doclens`, so global stats stay O(#batches).
  *   - `_tombstones` (id) — deleted document ids. Probes anti-join their
  *     (small) candidate sets against it; document-frequency is computed
  *     live from the PROBED terms' surviving postings, so deletion
  *     correctness falls out with no stored-df bookkeeping at all.
  *   - `_meta` (k1, b, buckets) — scoring parameters + layout, written
  *     LAST as the completeness marker (crash mid-build leaves a metaless
  *     prefix nothing resolves to).
  */
object TextIndex {

  /** The persisted text index: the member tables listed above. */
  val Family =
    new TableFamily("_postings", "_doclens", "_stats", "_tombstones", "_maxscores", "_meta")

  // positional postings: `pos` (0-based, ascending) enables phrase /
  // proximity probes; tf = size(pos) keeps BM25 reads unchanged
  private def postingsOf(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        posexplode(toks).as(Seq("p", "term")))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p").cast("long"))).as("pos"))

  private def doclensOf(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      size(toks).cast("long").as("dl"))

  /** Per-term score-bound partials for the MaxScore probe: the batch's
    * max tf and document count per term. Both measures MERGE across
    * batches (max of maxes, sum of dfs — ingest rejects duplicate live
    * ids, so summed df is exact for the stored postings), and both stay
    * VALID upper-bound inputs under tombstone deletes (true max_tf can
    * only shrink; true df is bounded below by stored df − tombstone
    * count, which [[bm25MaxScoreWithAudit]] uses for its idf upper
    * bound). Compaction recomputes them exact.
    */
  private def maxscoresOf(posts: DataFrame, batchId: Long): DataFrame =
    posts.groupBy("term")
      .agg(max(col("tf")).cast("long").as("max_tf"), count(lit(1)).as("df"))
      .select(lit(batchId).as("batch_id"), col("term"), col("max_tf"), col("df"))

  /** Build the index over `docs`. Layout + scoring params land in `_meta`
    * (LAST); stats land as the batch_id = -1 base partial.
    */
  def writeTextIndex(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      buckets: Int,
      k1: Double = 1.2,
      b: Double = 0.75): Unit = {
    val spark = docs.sparkSession
    val lens = doclensOf(docs, idCol, toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posts = postingsOf(docs, idCol, toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.sources.Sinks.writeBucketedTable(
        posts, s"${tablePrefix}_postings", buckets, "term")
      graft.sources.Sinks.writeBucketedTable(
        lens, s"${tablePrefix}_doclens", buckets, "id")
      graft.sources.Sinks.writeBucketedTable(
        maxscoresOf(posts, -1L), s"${tablePrefix}_maxscores", buckets, "term")
      lens.agg(lit(-1L).as("batch_id"), count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("tot_dl"))
        .write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${tablePrefix}_stats")
      spark.createDataFrame(Seq((0L, 0L))).toDF("id", "pad")
        .filter(lit(false)).select("id")
        .write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${tablePrefix}_tombstones")
      spark.createDataFrame(Seq((k1, b, buckets))).toDF("k1", "b", "buckets")
        .write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${tablePrefix}_meta")
    } finally { lens.unpersist(); posts.unpersist() }
  }

  /** One ingest cycle: append the batch's postings + doclens
    * bucket-aligned (probes stay zero-rescan as the index grows) and its
    * stats partial. Cost per call is O(|batch| tokens) — one aggregation,
    * two bucketed appends, never a corpus re-scan. This is the
    * `foreachBatch` body of a streaming retrieval ingest
    * (`st_text_index_parity`).
    */
  def ingestIntoTextIndex(
      newDocs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      batchId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val buckets = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(2)
    // an ingested id must be NEW to the index — both collision classes
    // fail loudly, in one probe job (union of two semi-joins, limit 1):
    //   - TOMBSTONED: appending fresh postings/doclens for it would (a)
    //     stay invisible through every probe's tombstone anti-join while
    //     its stats partial counts it, and (b) leave TWO doclens
    //     generations for one id once the tombstone is lifted. The
    //     supported path is compactTextIndex first (physical excision +
    //     tombstone truncation), then ingest normally.
    //   - LIVE: a second doclens row for the id makes every matching
    //     posting join twice in bm25Contribs (doubled contributions) and
    //     _stats counts the doc twice — permanent silent score
    //     corruption. The exactly-once ledger only covers redelivery of
    //     the SAME batchId; an overlapping batch under a new batchId
    //     lands here. Upsert-via-delete (deleteFromTextIndex, then
    //     compact, then ingest) is the only supported overwrite path.
    // Both probes scan narrow metadata-sized tables (id-only / (id, dl)),
    // the batch side broadcasts — O(index metadata), never the postings.
    val newIds = newDocs.select(col(idCol).cast("long").as("id"))
    val conflict = newIds
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_semi")
      .select(col("id"), lit("tombstoned").as("why"))
      .unionByName(newIds
        .join(spark.table(s"${tp}_doclens"), Seq("id"), "left_semi")
        .select(col("id"), lit("live").as("why")))
      .limit(1).collect()
    conflict.headOption.foreach { r =>
      if (r.getString(1) == "tombstoned") throw new IllegalArgumentException(
        s"requirement failed: ingest into '$tablePrefix' includes " +
          s"tombstoned id ${r.getLong(0)} — run compactTextIndex to " +
          "excise tombstoned rows before re-ingesting a deleted document")
      else throw new IllegalArgumentException(
        s"requirement failed: ingest into '$tablePrefix' includes id " +
          s"${r.getLong(0)} already live in the index — re-ingesting " +
          "would double its doclens/stats and silently corrupt every " +
          "matching BM25 score; delete (tombstone) the id, compact, " +
          "then ingest (upsert-via-delete is the only overwrite path)")
    }
    val lens = doclensOf(newDocs, idCol, toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posts = postingsOf(newDocs, idCol, toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // `_maxscores` lands BEFORE `_postings`: a crash between the two
      // appends leaves bounds rows covering postings that never arrived —
      // max_tf stale-HIGH, the direction the MaxScore upper bound
      // tolerates (a ghost-high max_tf only loosens pruning). The reverse
      // order left live postings with NO bounds row, and a term absent
      // from `_maxscores` used to vanish from the essential-candidate
      // set — a silent losslessness break (the probes now also guard
      // that case live, see the orphan handling in [[termBounds]], so
      // the ordering and the guard are independent defenses). Ghost df
      // in the stale bounds never reaches scoring or pruning: probes
      // compute per-term LIVE df from the postings themselves.
      maxscoresOf(posts, batchId).write.mode(SaveMode.Append)
        .bucketBy(buckets, "term").sortBy("term")
        .format("parquet").saveAsTable(s"${tp}_maxscores")
      posts.write.mode(SaveMode.Append)
        .bucketBy(buckets, "term").sortBy("term")
        .format("parquet").saveAsTable(s"${tp}_postings")
      lens.write.mode(SaveMode.Append)
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(s"${tp}_doclens")
      lens.agg(lit(batchId).as("batch_id"), count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("tot_dl"))
        .write.mode(SaveMode.Append)
        .format("parquet").saveAsTable(s"${tp}_stats")
    } finally { lens.unpersist(); posts.unpersist() }
  }

  /** Exactly-once wrapper around [[ingestIntoTextIndex]] — the
    * batchId-keyed write-ahead-ledger recipe with [[deleteFromTextIndex]]
    * as the crash-recovery scrub (per-document rows, so the anti-join
    * scrub applies — unlike the gram index's df partials). Returns true
    * when the batch was applied, false on a redelivery skip.
    */
  def exactlyOnceIngestIntoTextIndex(
      newDocs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      batchId: Long): Boolean = {
    val spark = newDocs.sparkSession
    graft.sources.TableFamily.exactlyOnce(spark, tablePrefix, batchId) {
      hardDeleteFromTextIndex(spark, tablePrefix,
        newDocs.select(col(idCol).cast("long").as("id")))
    } {
      ingestIntoTextIndex(newDocs, idCol, toks, tablePrefix, batchId)
    }.isDefined
  }

  /** Take documents down: tombstone their ids and append a NEGATIVE stats
    * compensation row (their count and summed dl, looked up from
    * `_doclens`). Idempotent — already-tombstoned ids are skipped, so a
    * retried delete cannot double-compensate. Postings rows stay on disk
    * until [[compactTextIndex]]; probes are correct immediately because
    * candidates anti-join the tombstones and df is computed from the
    * surviving postings of the probed terms only.
    *
    * Crash-window ordering: the tombstone append lands FIRST. Dying
    * between the two appends leaves the ids tombstoned but
    * uncompensated — probes are already CORRECT (the docs are
    * invisible; only n_docs/avgdl are slightly stale until
    * [[compactTextIndex]] re-sums stats from the surviving doclens),
    * and the idempotence skip means a retry cannot compensate twice.
    * The reverse order would double-compensate on retry — a permanent
    * stats corruption rather than a repairable staleness.
    */
  def deleteFromTextIndex(
      spark: SparkSession,
      tablePrefix: String,
      ids: DataFrame): Unit = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val fresh = ids.select(col(ids.columns.head).cast("long").as("id"))
      .distinct()
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val comp = fresh.join(spark.table(s"${tp}_doclens"), Seq("id"))
      .agg(lit(-2L).as("batch_id"), (-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("tot_dl"))
      .localCheckpoint(true)
    fresh.write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(s"${tp}_tombstones")
    comp.write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(s"${tp}_stats")
  }

  /** Audit-and-repair for the `_stats` partials — the cheap recovery verb
    * for [[deleteFromTextIndex]]'s crash window (tombstones landed, the
    * negative compensation did not; probes are CORRECT — the docs are
    * invisible — but n_docs/avgdl are stale-high until repaired, and the
    * delete's idempotence skip means a retry cannot close the gap).
    * Recomputes the truth from `_doclens` anti `_tombstones` (one
    * aggregation over narrow metadata tables — never the postings),
    * compares against the summed partials, and on ANY drift APPENDS one
    * compensation partial closing the gap — never an in-place overwrite,
    * so the repair itself has no crash window: a died append leaves the
    * partials exactly as found (parquet commits are staged) and the verb
    * is rerunnable; `_stats` can never transit through missing/empty.
    * Far cheaper than [[compactTextIndex]], which repairs the same
    * staleness only as a side effect of a full postings rewrite.
    *
    * Also audits the `_maxscores` BOUNDS partials for missing terms —
    * live postings with no bounds row, the residue of a pre-r12 ingest
    * ordering (bounds now land before postings) or a lost bounds table.
    * Missing rows are no longer a correctness hazard (the MaxScore
    * probes treat such terms as unconditionally essential — see
    * [[liveTermBounds]]), but they disable pruning for those terms; the
    * repair recomputes the missing terms' partials exactly from their
    * live postings and APPENDS them (same no-crash-window discipline).
    * Stale-high max_tf/ghost df in EXISTING rows is deliberately out of
    * scope — it is safe by construction and only [[compactTextIndex]]
    * re-tightens it.
    *
    * Returns a one-row audit frame (n_docs_stored, tot_dl_stored,
    * n_docs_truth, tot_dl_truth, bounds_missing, repaired) — run it with
    * no drift and it is a read-only no-op (repaired = false), so
    * schedulers can poll it as a drift detector.
    */
  def repairTextIndexStats(spark: SparkSession, tablePrefix: String): DataFrame = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val buckets = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(2)
    val stored = spark.table(s"${tp}_stats")
      .agg(coalesce(sum("n_docs"), lit(0L)), coalesce(sum("tot_dl"), lit(0L)))
      .head()
    val truth = spark.table(s"${tp}_doclens")
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
      .head()
    val drifted = stored.getLong(0) != truth.getLong(0) ||
      stored.getLong(1) != truth.getLong(1)
    if (drifted)
      spark.range(1)
        .select(lit(-3L).as("batch_id"),
          lit(truth.getLong(0) - stored.getLong(0)).as("n_docs"),
          lit(truth.getLong(1) - stored.getLong(1)).as("tot_dl"))
        .write.mode(SaveMode.Append)
        .format("parquet").saveAsTable(s"${tp}_stats")
    // bounds audit: one pass over the LIVE postings (term-keyed partial
    // agg — map-side combine), anti the terms already bounded
    val missingBounds = maxscoresOf(
        spark.table(s"${tp}_postings")
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti"), -3L)
      .join(spark.table(s"${tp}_maxscores").select("term").distinct(),
        Seq("term"), "left_anti")
      .localCheckpoint(true)
    val nMissing = missingBounds.count()
    if (nMissing > 0)
      missingBounds
        .select("batch_id", "term", "max_tf", "df")
        .write.mode(SaveMode.Append)
        .bucketBy(buckets, "term").sortBy("term")
        .format("parquet").saveAsTable(s"${tp}_maxscores")
    spark.createDataFrame(Seq((stored.getLong(0), stored.getLong(1),
        truth.getLong(0), truth.getLong(1), nMissing, drifted || nMissing > 0)))
      .toDF("n_docs_stored", "tot_dl_stored", "n_docs_truth", "tot_dl_truth",
        "bounds_missing", "repaired")
  }

  /** Physical excision (the exactly-once scrub): rewrite postings and
    * doclens without `ids`' rows through the bucket-preserving compaction
    * path, and remove any stats partials those ids contributed by
    * re-summing. Used only by the ledger scrub, where the partial batch's
    * ids are known exactly; routine take-downs use the cheap
    * [[deleteFromTextIndex]].
    */
  private def hardDeleteFromTextIndex(
      spark: SparkSession,
      tablePrefix: String,
      ids: DataFrame): Unit =
    excise(spark, tablePrefix,
      ids.select(col("id")).distinct().localCheckpoint(true),
      truncateTombstones = false)

  /** Physically remove `gone`'s rows from postings + doclens and
    * recompute the `_stats` / `_maxscores` partials exactly from the
    * survivors — the shared body of the ledger scrub
    * ([[hardDeleteFromTextIndex]], where `gone` is a partial batch's
    * ids and the tombstones copy through) and the vacuum
    * ([[compactTextIndex]], where `gone` is the tombstone set and the
    * tombstones truncate). The stats/bounds scans anti-join
    * `_tombstones` so an excision that is NOT the tombstone set (the
    * scrub) still leaves tombstoned docs uncounted.
    *
    * The whole excision rides ONE generation cutover
    * ([[graft.sources.TableFamily.compact]]): a concurrent
    * reader resolves a complete generation at every instant (no
    * rename window), and a crash anywhere leaves either the old or the
    * new generation serving. `tablePrefix` is the family's LOGICAL
    * prefix (pointer-unresolved — the cutover resolves and advances it).
    */
  private def excise(
      spark: SparkSession,
      tablePrefix: String,
      gone: DataFrame,
      truncateTombstones: Boolean): (Int, Int) = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val anti = (df: DataFrame) => df.join(gone, Seq("id"), "left_anti")
    val surviving = anti(spark.table(s"${tp}_doclens"))
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
    val rewrites = Map[String, DataFrame => DataFrame](
      "_postings" -> anti,
      "_doclens" -> anti,
      // score bounds re-tighten EXACTLY from the surviving postings (the
      // partials only ever loosen under deletes — compaction is where
      // they snap back)
      "_maxscores" -> (_ => maxscoresOf(
        anti(spark.table(s"${tp}_postings"))
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti"), -1L)),
      "_stats" -> (_ => surviving
        .agg(lit(-1L).as("batch_id"), count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("tot_dl")))) ++
      (if (truncateTombstones)
        Map[String, DataFrame => DataFrame]("_tombstones" -> (df => df.limit(0)))
      else Map.empty[String, DataFrame => DataFrame])
    val (_, counts) = Family.compact(spark, tablePrefix, rewrites)
    counts("_postings")
  }

  /** BM25 top-k probe against the ACTIVE generation. Exactly
    * [[Text.bm25]]'s arithmetic (decimal-summed contributions, round 4,
    * +1e-9) over the index's stored state:
    *
    *   - postings filtered to the query terms — served by bucket pruning,
    *   - tombstone anti-join on the (small) matched set,
    *   - df computed live from the surviving matched postings (tiny:
    *     only the probed terms), so deletes need no df maintenance,
    *   - global n_docs / avgdl from the summed `_stats` partials
    *     (metadata-sized, broadcast).
    *
    * Returns (id, dl, bm25) ordered by bm25 desc, id — deterministic
    * under the round-4 scores.
    */
  def bm25AgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      kTop: Int,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(kTop >= 1, s"kTop=$kTop must be positive")
    bm25Scores(spark, tablePrefix, queryTerms, maxDfFrac)
      .orderBy(col("bm25").desc, col("id"))
      .limit(kTop)
  }

  /** Hot-term audit — the postings-skew report an operator reads before
    * probing with an unvetted query bag (the `d_band_stats` discipline
    * applied to retrieval): per-term document frequency and its corpus
    * fraction, hottest first. The defenses it informs are (a) SEMANTIC —
    * BM25's idf already drives a near-universal term's contribution
    * toward zero, (b) COST — [[bm25AgainstIndex]]'s `maxDfFrac` elides
    * terms above a df fraction from scoring entirely (Lucene's
    * common-terms cutoff; spec-proven, corpus-level threshold is
    * deployment-tuned), and (c) LAYOUT — [[compactTextIndex]] keeps a
    * hot term's postings from fragmenting across ingest files.
    */
  def postingsStats(
      spark: SparkSession,
      tablePrefix: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN=$topN must be positive")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val stats = spark.table(s"${tp}_stats")
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"))
    // all-deleted (or compensated-to-zero) index: df_frac would divide by
    // zero and emit null rows — fail loudly like the builders' guards
    val nDocs = stats.head().getLong(0)
    require(nDocs > 0,
      s"postingsStats('$tablePrefix'): index holds no live documents " +
        s"(summed _stats n_docs = $nDocs) — df_frac is undefined")
    spark.table(s"${tp}_postings")
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
      .groupBy("term").agg(countDistinct("id").as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("df"),
        round(col("df").cast("double") / col("n_docs") + 1e-9, 4).as("df_frac"))
      .orderBy(col("df").desc, col("term"))
      .limit(topN)
  }

  /** Filtered probe — metadata-restricted retrieval (the RAG shape:
    * "top-k matching these terms, but only documents passing this
    * predicate"). Lucene/ES semantics on purpose: the filter restricts
    * CANDIDATES, never statistics — idf/avgdl stay corpus-global, so
    * adding a filter clause cannot re-rank the surviving matches
    * (contrast the dense tier's `sim_knn_ivf_filtered`, where pre-filter
    * semantics are the contract — both contracts exist in production
    * engines; each tier documents and oracle-proves its own). The
    * allowed-id set joins as a LEFT SEMI against the (already
    * term-bounded) scored candidates.
    */
  def bm25FilteredAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      allowedIds: DataFrame,
      kTop: Int,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val allowed = allowedIds
      .select(col(allowedIds.columns.head).cast("long").as("id")).distinct()
    // maxDfFrac threads into the shared scoring body like the single and
    // batched probes — an unvetted query bag on a FILTERED probe needs
    // the common-term elision cost defense just as much (the filter
    // bounds candidates, not the hot term's postings scan)
    bm25Scores(spark, tablePrefix, queryTerms, maxDfFrac)
      .join(allowed, Seq("id"), "left_semi")
      .orderBy(col("bm25").desc, col("id"))
      .limit(kTop)
  }

  /** Exact phrase search over the POSITIONAL postings: a document
    * matches at start position s iff term_i of the phrase occurs at
    * s + i for every i — the classic positional-intersection probe
    * (Manning et al., IIR §2.4). Each term's occurrence positions are
    * exploded SHIFTED by −i and the per-term (id, start) sets
    * intersected, so duplicate terms in the phrase ("the ... the") and
    * overlapping self-matches are handled by set semantics with no
    * special cases. Every set is bounded by that term's postings (the
    * scan is bucket-pruned like every probe); ranking is occurrence
    * count desc, id.
    *
    * Returns (id, dl, n_hits) — top kTop by (n_hits desc, id).
    */
  def phraseSearchAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      phrase: Seq[String],
      kTop: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchAgainstIndex: empty phrase")
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val post = spark.table(s"${tp}_postings")
      .filter(col("term").isInCollection(phrase.distinct))
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
    val parts = phrase.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === t)
        .select(col("id"), explode(col("pos")).as("p"))
        .select(col("id"), (col("p") - i).as("start"))
    }
    val hits = parts.reduce(_.intersect(_))
    hits.groupBy("id").agg(count(lit(1)).as("n_hits"))
      .join(spark.table(s"${tp}_doclens"), "id")
      .select("id", "dl", "n_hits")
      .orderBy(col("n_hits").desc, col("id"))
      .limit(kTop)
  }

  /** Ordered proximity ("A NEAR/k B") over the positional postings: a
    * document scores one hit per occurrence of `termA` that has an
    * occurrence of `termB` within (0, maxDist] positions AFTER it —
    * distinct anchors, so several B's near one A count once (the
    * deterministic, replayable convention). The position pairing is a
    * per-document range join between two term-bounded position sets;
    * nothing scans beyond the two terms' bucket-pruned postings.
    *
    * Returns (id, dl, n_hits) — top kTop by (n_hits desc, id).
    */
  def proximitySearchAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      termA: String,
      termB: String,
      maxDist: Int,
      kTop: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist=$maxDist must be >= 1")
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val post = spark.table(s"${tp}_postings")
      .filter(col("term").isInCollection(Seq(termA, termB).distinct))
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
    def positions(t: String, as: String) =
      post.filter(col("term") === t)
        .select(col("id"), explode(col("pos")).as(as))
    val hits = positions(termA, "pa")
      .join(positions(termB, "pb"),
        Seq("id")) // per-doc range pairing; both sides term-bounded
      .filter(col("pb") > col("pa") && col("pb") <= col("pa") + maxDist)
      .select("id", "pa").distinct()
    hits.groupBy("id").agg(count(lit(1)).as("n_hits"))
      .join(spark.table(s"${tp}_doclens"), "id")
      .select("id", "dl", "n_hits")
      .orderBy(col("n_hits").desc, col("id"))
      .limit(kTop)
  }

  /** Shared scoring plan of the single-bag probes: (id, dl, bm25) for
    * every surviving document matching >= 1 query term — bucket-pruned
    * postings scan, tombstone anti-join, live df, summed stats partials.
    * `among`, when given, restricts the SCORED documents (a left-semi on
    * id BEFORE the aggregation — the MaxScore probe's candidate bound);
    * df/stats stay corpus-exact either way.
    */
  private def bm25Scores(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      maxDfFrac: Double = 1.0,
      among: Option[DataFrame] = None): DataFrame = {
    val contribs = bm25Contribs(spark, tablePrefix, queryTerms, maxDfFrac)
    among.fold(contribs)(ids => contribs.join(ids, Seq("id"), "left_semi"))
      .groupBy("id", "dl")
      .agg(round(sum(col("contrib").cast("decimal(28,14)")).cast("double") + 1e-9, 4)
        .as("bm25"))
  }

  /** One MaxScore probe's pruning decisions — what the cost-defense
    * certificates read: how many of the query's terms stayed essential,
    * how many were actually PRUNED (`nPruned > 0` is
    * the unambiguous "pruning engaged" signal — `nEssential < nTerms` is
    * also true when a term is merely absent from the corpus), the score
    * floor `theta` the non-essential prefix was pruned against (None =
    * no floor was established — including when the adaptive gate skipped
    * the θ phase entirely), and the summed upper bounds of the pruned
    * terms.
    */
  final case class MaxScoreAudit(
      nTerms: Int,
      nEssential: Int,
      nPruned: Int,
      theta: Option[Double],
      prunedUbSum: Double,
      essentialTerms: Seq[String])

  /** Matched-postings floor below which the MaxScore probes skip the θ
    * phase and answer exhaustively: the θ pass costs a fixed ~2 Spark
    * jobs regardless of corpus size, so below ~10⁶ matched postings the
    * pruned probe is SLOWER than exhaustive even though it cuts
    * scorer-input rows ~8× (measured at 1× and 10× corpus on a 32-core
    * box, BASELINE.md "MaxScore pruning", 2026-08-15 — the wall win is
    * asymptotic). The estimate is Σ stored df over the bag's
    * bounds partials — read from the same bucket-pruned ≤|bag|-row scan
    * the probe needs anyway, so declining costs one metadata scan.
    * Callers with a measured break-even of their own (or a certificate
    * that must pin the pruning machinery) pass their own floor; 0 forces
    * engagement.
    */
  val DefaultEngageMinPostings: Long = 1000000L

  /** Per-probe term state for the MaxScore split, from TWO term-bounded
    * scans:
    *
    *   - `maxTf`: stored max-tf per bounds row (bucket-pruned `_maxscores`
    *     scan). Stale-HIGH is the only staleness the write orderings can
    *     leave (ingest appends bounds BEFORE postings; deletes don't touch
    *     them; compaction re-tightens) — safe for an upper bound.
    *   - `liveDf`: EXACT live document frequency per term, computed from
    *     the bag's own bucket-pruned postings anti the tombstones — never
    *     trusted from the partials. This is what keeps the bounds TIGHT
    *     under deletes (r11 verdict: the global tombstone-count
    *     subtraction disengaged pruning after ANY delete; per-term truth
    *     keeps it engaged when the deleted docs don't contain the bag's
    *     terms) and IMMUNE to bounds-row staleness (ghost df from a
    *     crashed ingest never reaches idf). Costs one pass over the bag's
    *     matched postings — the same rows the final pass reads for live
    *     df anyway, and it only runs once the adaptive gate has decided
    *     the probe is large enough for pruning to pay.
    *   - `orphans`: terms with live postings but NO bounds row (the
    *     pre-reorder ingest crash residue, or a bounds table lost
    *     mid-repair). No upper bound exists for them, so they are
    *     unconditionally ESSENTIAL — a document matching only an orphan
    *     term always reaches the scorer, which is what keeps the probe
    *     lossless under ANY `_maxscores` corruption (the r11 ADVICE
    *     break: such terms used to vanish from the candidate set).
    */
  private final case class TermBounds(
      maxTf: Map[String, Long],
      liveDf: Map[String, Long],
      orphans: Seq[String])

  private def liveTermBounds(
      spark: SparkSession,
      tp: String,
      terms: Seq[String],
      maxTf: Map[String, Long]): TermBounds = {
    val live = spark.table(s"${tp}_postings")
      .filter(col("term").isInCollection(terms))
      .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TermBounds(maxTf, live,
      live.keys.filterNot(maxTf.contains).toSeq.sorted)
  }

  /** BM25 per-term score upper bound at EXACT live df and stored (possibly
    * stale-high) max-tf: idf at the true df times the tf saturation at its
    * dl-normalization minimum.
    */
  private def termUb(
      maxTf: Long, liveDf: Long, nDocs: Long, k1: Double, b: Double): Double = {
    val df = math.max(0.5, math.min(liveDf.toDouble, nDocs.toDouble))
    val idf = math.log(1.0 + ((nDocs - df) + 0.5) / (df + 0.5))
    idf * (maxTf * (k1 + 1)) / (maxTf + k1 * (1 - b))
  }

  /** The shared ascending-ub prefix split: the maximal prefix whose bound
    * sum stays under θ − margin (10⁻³ dominates the round-4 score grid)
    * is prunable. Returns (prunedTerms, prunedUbSum).
    */
  private def prunePrefix(
      sortedAsc: Seq[(String, Double)],
      theta: Option[Double]): (Seq[String], Double) = {
    var acc = 0.0
    val pruned = scala.collection.mutable.ArrayBuffer.empty[String]
    theta.foreach { th =>
      var i = 0
      while (i < sortedAsc.length && acc + sortedAsc(i)._2 <= th - 1e-3) {
        acc += sortedAsc(i)._2
        pruned += sortedAsc(i)._1
        i += 1
      }
    }
    (pruned.toSeq, acc)
  }

  /** BM25 top-k with MaxScore-shaped term pruning (Turtle & Flood 1995;
    * the WAND family's set-oriented adaptation) — LOSSLESS for top-k by
    * construction, the principled version of the `maxDfFrac` elision
    * (which changes scores; this never does):
    *
    *   0. ADAPTIVE ENGAGEMENT: the bounds scan's Σ stored df estimates
    *      the matched postings; below `engageMinPostings` (default: the
    *      measured break-even [[DefaultEngageMinPostings]]) the probe
    *      answers exhaustively and skips every pruning job — the θ
    *      phase's fixed cost only pays above the threshold.
    *   1. Per-term score UPPER BOUNDS: ub(t) = idf(df_live) ·
    *      max_tf·(k1+1) / (max_tf + k1·(1−b)) — the dl-normalization at
    *      its minimum, max_tf from the `_maxscores` partials (only ever
    *      stale-HIGH — safe), df_live computed EXACTLY from the bag's
    *      own bucket-pruned postings (see [[liveTermBounds]] — this is
    *      what keeps pruning engaged under deletes and bounds-partial
    *      staleness). Terms with live postings but no bounds row are
    *      unconditionally essential (losslessness under `_maxscores`
    *      corruption).
    *   2. θ phase: EXACT full scores for the documents matching the
    *      RAREST query term (smallest live df — the cheapest candidate
    *      set); θ = the k-th best. Any k exact scores lower-bound the
    *      true k-th score.
    *   3. Essential split: sorted by ub ascending, the maximal prefix P
    *      with Σub(P) ≤ θ − 10⁻³ (margin dominates the round-4 grid) is
    *      non-essential — a document containing ONLY P terms scores
    *      strictly below θ and can never enter the top-k.
    *   4. Exact scoring (every query term, live df, exact stats) over
    *      documents matching ≥ 1 ESSENTIAL term only.
    *
    * The scan cost a set-oriented engine saves is the scoring pipeline:
    * every term's postings are still read once (live df needs them), but
    * only candidate documents' postings flow through the doclens join +
    * aggregation + top-k — with a hot term pruned, that is the
    * difference between O(hot postings) and O(rare postings) rows in the
    * expensive stages: 12.3% of postings reached the scorer at both
    * decades (BASELINE.md "MaxScore pruning", 2026-08-15).
    *
    * Returns its [[MaxScoreAudit]] and a frame of exactly
    * [[bm25AgainstIndex]]'s shape — (id, dl, bm25), top kTop by
    * (bm25 desc, id) — that must equal it bit-for-bit on any
    * index and bag (the `tx_bm25_maxscore` oracle is the EXHAUSTIVE
    * replay; OperatorsSpec pins equality plus that pruning engaged).
    */
  def bm25MaxScoreWithAudit(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      kTop: Int,
      engageMinPostings: Long = DefaultEngageMinPostings): (DataFrame, MaxScoreAudit) =
    maxScoreProbe(spark, tablePrefix, queryTerms, kTop, engageMinPostings, None)

  /** [[bm25MaxScoreWithAudit]] with a candidate FILTER — the RAG
    * serving shape with the pruning kept: same Lucene semantics as
    * [[bm25FilteredAgainstIndex]] (the filter restricts CANDIDATES,
    * never statistics) and bit-for-bit equal to it. The composition is
    * sound because both sides of the MaxScore argument survive the
    * filter: θ is the k-th exact score of a SUBSET of the allowed
    * documents (any k allowed scores lower-bound the allowed k-th), and
    * the per-term upper bounds are corpus-global, so they bound every
    * allowed document's contribution too.
    */
  def bm25MaxScoreFilteredAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      allowedIds: DataFrame,
      kTop: Int,
      engageMinPostings: Long = DefaultEngageMinPostings): (DataFrame, MaxScoreAudit) = {
    val allowed = allowedIds
      .select(col(allowedIds.columns.head).cast("long").as("id")).distinct()
    maxScoreProbe(spark, tablePrefix, queryTerms, kTop, engageMinPostings,
      Some(allowed))
  }

  private def maxScoreProbe(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      kTop: Int,
      engageMinPostings: Long,
      allowed: Option[DataFrame]): (DataFrame, MaxScoreAudit) = {
    require(queryTerms.nonEmpty, "bm25MaxScoreWithAudit: no query terms")
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (k1, b) = (m.getDouble(0), m.getDouble(1))
    val nDocs = spark.table(s"${tp}_stats")
      .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    require(nDocs > 0,
      s"bm25MaxScoreWithAudit('$tablePrefix'): index holds no live documents")
    val qTerms = queryTerms.distinct
    def exhaustive(): DataFrame = allowed match {
      case Some(ids) => bm25Scores(spark, tablePrefix, qTerms, 1.0)
        .join(ids, Seq("id"), "left_semi")
        .orderBy(col("bm25").desc, col("id")).limit(kTop)
      case None => bm25AgainstIndex(spark, tablePrefix, qTerms, kTop)
    }
    // per-term merged bound partials — bucket-pruned scan, ≤ |bag| rows
    val boundRows = spark.table(s"${tp}_maxscores")
      .filter(col("term").isInCollection(qTerms))
      .groupBy("term")
      .agg(max("max_tf").as("max_tf"), sum("df").as("df"))
      .collect()
    val estMatched = boundRows.map(_.getLong(2)).sum
    if (estMatched < engageMinPostings) {
      // below break-even: one metadata scan spent, every pruning job saved
      val audit = MaxScoreAudit(qTerms.length, qTerms.length, 0, None, 0.0,
        qTerms)
      return (exhaustive(), audit)
    }
    val tb = liveTermBounds(spark, tp, qTerms,
      boundRows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    // live terms: >= 1 surviving posting. Bounded ones carry an ub;
    // orphans are essential unconditionally.
    val bounded = qTerms
      .filter(t => tb.maxTf.contains(t) && tb.liveDf.getOrElse(t, 0L) > 0L)
    // θ phase off the rarest live term (orphans are eligible seeds — a
    // seed only needs live postings, not a bound)
    val liveAll = bounded ++ tb.orphans.filter(qTerms.contains)
    val theta: Option[Double] =
      if (liveAll.isEmpty) None
      else {
        val seed = liveAll.minBy(t => (tb.liveDf(t), t))
        val seedIds0 = spark.table(s"${tp}_postings")
          .filter(col("term") === seed)
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
          .select("id")
        val seedIds = allowed.fold(seedIds0)(ids =>
          seedIds0.join(ids, Seq("id"), "left_semi"))
        val top = bm25Scores(spark, tablePrefix, qTerms, 1.0, Some(seedIds))
          .orderBy(col("bm25").desc, col("id"))
          .limit(kTop).collect()
        if (top.length < kTop) None else Some(top.last.getAs[Double]("bm25"))
      }
    val sortedAsc = bounded
      .map(t => (t, termUb(tb.maxTf(t), tb.liveDf(t), nDocs, k1, b)))
      .sortBy { case (t, u) => (u, t) }
    val (pruned, acc) = prunePrefix(sortedAsc, theta)
    val essential =
      bounded.filterNot(pruned.contains) ++ tb.orphans.filter(qTerms.contains)
    val audit = MaxScoreAudit(qTerms.length, essential.length, pruned.length,
      theta, acc, essential)
    val result =
      if (essential.isEmpty || pruned.isEmpty) exhaustive()
      else {
        val cands0 = spark.table(s"${tp}_postings")
          .filter(col("term").isInCollection(essential))
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
          .select("id").distinct()
        val cands = allowed.fold(cands0)(ids =>
          cands0.join(ids, Seq("id"), "left_semi"))
        bm25Scores(spark, tablePrefix, qTerms, 1.0, Some(cands))
          .orderBy(col("bm25").desc, col("id"))
          .limit(kTop)
      }
    (result, audit)
  }

  /** The ONE BM25 scoring body every probe shape consumes: per surviving
    * (term, id) posting of the query terms, the term's BM25 contribution
    * plus the doc length — bucket-pruned postings scan, tombstone
    * anti-join, live df, summed stats partials, optional common-term
    * elision. The single probe aggregates it by (id, dl); the batched
    * probe first fans it out against its (query_id, term) pairs. One
    * body means the probes cannot drift apart (same elision, same
    * arithmetic, same determinism device).
    */
  private def bm25Contribs(
      spark: SparkSession,
      tablePrefix: String,
      queryTerms: Seq[String],
      maxDfFrac: Double): DataFrame = {
    require(queryTerms.nonEmpty, "bm25AgainstIndex: no query terms")
    require(maxDfFrac > 0 && maxDfFrac <= 1.0,
      s"maxDfFrac=$maxDfFrac must be in (0, 1]")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (k1, b) = (m.getDouble(0), m.getDouble(1))
    val stats = spark.table(s"${tp}_stats")
      .agg(sum("n_docs").as("n_docs"), sum("tot_dl").as("tot_dl"))
    val tomb = spark.table(s"${tp}_tombstones")
    val post = spark.table(s"${tp}_postings")
      .filter(col("term").isInCollection(queryTerms))
      .join(tomb, Seq("id"), "left_anti")
    val dfreq = post.groupBy("term").agg(countDistinct("id").as("df"))
    val joined = post.join(broadcast(dfreq), "term")
      .join(spark.table(s"${tp}_doclens"), "id")
      .crossJoin(broadcast(stats))
    // common-term elision (Lucene's cutoff): terms above the df fraction
    // contribute nothing and their postings never reach the scoring —
    // the probe's COST defense against stop-term bags; default 1.0 keeps
    // the exact-BM25 contract
    val elided =
      if (maxDfFrac >= 1.0) joined
      else joined.filter(
        col("df").cast("double") <= lit(maxDfFrac) * col("n_docs"))
    elided
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .select("term", "id", "dl", "contrib")
  }

  /** Batched multi-query BM25 probe — the serving fan-in shape: N query
    * term bags answered in ONE pass over the index instead of N probes.
    * The bags arrive driver-side (they are the serving request batch),
    * so their term union pushes down as a LITERAL `IN` filter — the scan
    * stays bucket-pruned exactly like the single probe — while the
    * per-query scoring fans out through a broadcast join against the
    * (query_id, term) pairs. Per-query top-k is one window partitioned
    * by query_id (WindowGroupLimit keeps per-partition top-k before the
    * shuffle). Cost: one pruned postings pass for the whole batch —
    * the amortization is the point.
    *
    * Returns (query_id, rank, id, dl, bm25), rank 1..kTop per query.
    */
  def bm25BatchAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      queryBags: Map[Long, Seq[String]],
      kTop: Int,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(queryBags.nonEmpty && queryBags.values.forall(_.nonEmpty),
      "bm25BatchAgainstIndex: every query needs at least one term")
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("bm25").desc, col("id"))
    bm25BatchScores(spark, tablePrefix, queryBags, maxDfFrac, None)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTop)
      .select("query_id", "rank", "id", "dl", "bm25")
  }

  /** The batched probes' shared scoring plan: (query_id, id, dl, bm25)
    * per bag and surviving matched document — the shared [[bm25Contribs]]
    * body (same elision, arithmetic and determinism device as the single
    * probe, so the shapes cannot drift) fanned out against the broadcast
    * (query_id, term) pairs. `among`, when given, restricts the SCORED
    * (query_id, id) pairs with a left-semi BEFORE the aggregation — the
    * batched MaxScore's per-bag candidate bound.
    */
  private def bm25BatchScores(
      spark: SparkSession,
      tablePrefix: String,
      queryBags: Map[Long, Seq[String]],
      maxDfFrac: Double,
      among: Option[DataFrame]): DataFrame = {
    val allTerms = queryBags.values.flatten.toSeq.distinct
    val qt = spark.createDataFrame(
        queryBags.toSeq.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("query_id", "term")
    val fanned = bm25Contribs(spark, tablePrefix, allTerms, maxDfFrac)
      .join(broadcast(qt), "term")
    among.fold(fanned)(ids =>
        fanned.join(ids, Seq("query_id", "id"), "left_semi"))
      .groupBy("query_id", "id", "dl")
      .agg(round(sum(col("contrib").cast("decimal(28,14)")).cast("double") + 1e-9, 4)
        .as("bm25"))
  }

  /** Batched MaxScore — [[bm25MaxScoreWithAudit]]'s lossless pruning
    * at the serving fan-in shape: N query bags answered with per-bag
    * essential sets but SHARED passes (one bounds scan for the bag
    * union, one θ pass scoring every bag's rarest-term candidates, one
    * final pass over the per-bag essential candidates — the batch
    * amortization [[bm25BatchAgainstIndex]] exists for, kept). Each
    * bag's θ comes from its own rarest present term and prunes only that
    * bag's terms, so a selective bag in the batch is never penalized by
    * a stop-term-heavy sibling. Bags that establish no floor (θ
    * undefined) keep every term — the safe fallback; if NO bag prunes,
    * the whole batch falls back to the exhaustive batched probe.
    *
    * Returns exactly [[bm25BatchAgainstIndex]]'s shape — (query_id,
    * rank, id, dl, bm25) — and must equal it bit-for-bit (the
    * `tx_bm25_batch_maxscore` oracle is the exhaustive batch replay).
    */
  def bm25MaxScoreBatchAgainstIndex(
      spark: SparkSession,
      tablePrefix: String,
      queryBags: Map[Long, Seq[String]],
      kTop: Int,
      engageMinPostings: Long = DefaultEngageMinPostings): DataFrame =
    bm25MaxScoreBatchWithAudit(spark, tablePrefix, queryBags, kTop,
      engageMinPostings)._1

  /** [[bm25MaxScoreBatchAgainstIndex]] plus per-bag [[MaxScoreAudit]]s.
    * The adaptive gate is BATCH-level (Σ stored df over the bag union vs
    * `engageMinPostings`) because the θ pass it guards is batch-shared;
    * per-term live df, orphan handling and the essential split follow
    * the single probe exactly (see [[liveTermBounds]]).
    */
  def bm25MaxScoreBatchWithAudit(
      spark: SparkSession,
      tablePrefix: String,
      queryBags: Map[Long, Seq[String]],
      kTop: Int,
      engageMinPostings: Long = DefaultEngageMinPostings): (DataFrame, Map[Long, MaxScoreAudit]) = {
    require(queryBags.nonEmpty && queryBags.values.forall(_.nonEmpty),
      "bm25MaxScoreBatchAgainstIndex: every query needs at least one term")
    require(kTop >= 1, s"kTop=$kTop must be positive")
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (k1, b) = (m.getDouble(0), m.getDouble(1))
    val nDocs = spark.table(s"${tp}_stats")
      .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    require(nDocs > 0,
      s"bm25MaxScoreBatchAgainstIndex('$tablePrefix'): no live documents")
    val allTerms = queryBags.values.flatten.toSeq.distinct
    // ONE bounds scan for the whole batch's term union
    val boundRows = spark.table(s"${tp}_maxscores")
      .filter(col("term").isInCollection(allTerms))
      .groupBy("term")
      .agg(max("max_tf").as("max_tf"), sum("df").as("df"))
      .collect()
    val estMatched = boundRows.map(_.getLong(2)).sum
    if (estMatched < engageMinPostings) {
      val audits = queryBags.map { case (q, ts) =>
        q -> MaxScoreAudit(ts.distinct.length, ts.distinct.length, 0, None,
          0.0, ts.distinct)
      }
      return (bm25BatchAgainstIndex(spark, tablePrefix, queryBags, kTop),
        audits)
    }
    val tb = liveTermBounds(spark, tp, allTerms,
      boundRows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    def liveOf(ts: Seq[String]): Seq[String] =
      ts.distinct.filter(t => tb.liveDf.getOrElse(t, 0L) > 0L)
    // each bag's seed = its rarest LIVE term (exact live df; orphans are
    // eligible seeds)
    val seeds: Seq[(Long, String)] = queryBags.toSeq.flatMap { case (q, ts) =>
      val live = liveOf(ts)
      if (live.isEmpty) None
      else Some(q -> live.minBy(t => (tb.liveDf(t), t)))
    }
    // ONE θ pass: exact full scores for every bag's seed candidates
    val thetas: Map[Long, Double] =
      if (seeds.isEmpty) Map.empty
      else {
        val seedCand = spark.table(s"${tp}_postings")
          .filter(col("term").isInCollection(seeds.map(_._2).distinct))
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
          .join(broadcast(
            spark.createDataFrame(seeds).toDF("query_id", "term")), "term")
          .select("query_id", "id").distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("bm25").desc, col("id"))
        bm25BatchScores(spark, tablePrefix, queryBags, 1.0, Some(seedCand))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === kTop)
          .select("query_id", "bm25").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
    // per-bag essential split (same ascending-ub prefix + margin rule as
    // the single probe); per-bag orphans stay essential unconditionally
    val audits = queryBags.map { case (q, ts) =>
      val live = liveOf(ts)
      val (bounded, orphans) = live.partition(tb.maxTf.contains)
      val sortedAsc = bounded
        .map(t => (t, termUb(tb.maxTf(t), tb.liveDf(t), nDocs, k1, b)))
        .sortBy { case (t, u) => (u, t) }
      val (pruned, acc) = prunePrefix(sortedAsc, thetas.get(q))
      val essential = bounded.filterNot(pruned.contains) ++ orphans
      q -> MaxScoreAudit(ts.distinct.length, essential.length, pruned.length,
        thetas.get(q), acc, essential)
    }
    val anyPruned = audits.values.exists(_.nPruned > 0)
    val result =
      if (!anyPruned)
        bm25BatchAgainstIndex(spark, tablePrefix, queryBags, kTop)
      else {
        val essPairs = audits.toSeq.flatMap { case (q, a) =>
          a.essentialTerms.map(t => (q, t))
        }
        val essCand = spark.table(s"${tp}_postings")
          .filter(col("term").isInCollection(essPairs.map(_._2).distinct))
          .join(spark.table(s"${tp}_tombstones"), Seq("id"), "left_anti")
          .join(broadcast(
            spark.createDataFrame(essPairs).toDF("query_id", "term")), "term")
          .select("query_id", "id").distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("bm25").desc, col("id"))
        bm25BatchScores(spark, tablePrefix, queryBags, 1.0, Some(essCand))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= kTop)
          .select("query_id", "rank", "id", "dl", "bm25")
      }
    (result, audits)
  }

  /** Vacuum: fold tombstoned rows out of postings/doclens (bucket
    * layout preserved — probes keep their pruned scans), re-sum the
    * stats and score-bound partials to one base row each, and truncate
    * the tombstones — all staged as ONE fresh generation and flipped
    * atomically through the `_current` pointer (no reader ever resolves
    * a half-compacted family). Returns (input files, output files) for
    * the postings rewrite.
    */
  def compactTextIndex(spark: SparkSession, tablePrefix: String): (Int, Int) = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val gone = spark.table(s"${tp}_tombstones").localCheckpoint(true)
    excise(spark, tablePrefix, gone, truncateTombstones = true)
  }

  /** Scoring-parameter (k1/b) re-stamp — the PARAM-ONLY rebuild: postings,
    * doclens, stats, bounds and tombstones are parameter-free, so a k1/b
    * change needs no re-tokenization or re-aggregation at all; the new
    * generation is a bucket-preserving copy with a fresh `_meta`, flipped
    * through the same pointer as a `Family.rebuild` over [[writeTextIndex]]
    * (which remains the verb for bucket-count or corpus changes). Returns
    * the new generation.
    */
  def restampTextIndex(
      spark: SparkSession,
      tablePrefix: String,
      k1: Double,
      b: Double): Long = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val buckets = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(2)
    val meta = spark.createDataFrame(Seq((k1, b, buckets)))
      .toDF("k1", "b", "buckets")
    Family.compact(spark, tablePrefix,
      Map[String, DataFrame => DataFrame]("_meta" -> (_ => meta)))._1
  }
}

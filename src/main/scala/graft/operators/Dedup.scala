package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._
import graft.sources.TableFamily

/** Deduplication operators for large text/embedding corpora — the
  * LLM-data-pipeline tier (extension over the reference, which has no dedup;
  * see SURVEY.md §2.5/§7).
  *
  * Scale design: every variant is shuffle-bounded — candidates come from
  * hash-bucket self-joins (LSH bands, simhash bands, blocking keys), never a
  * full cross product, so cost is O(n · bucket_width) not O(n²). At 100 TB
  * the bucket join is a plain hash shuffle on the band key; skewed buckets
  * (degenerate shingles) are AQE's skew-join case.
  */
object Dedup {

  /** Exact dedup: group by a content fingerprint, keep the smallest id as
    * representative. `fingerprint` defaults to md5 of the raw content;
    * callers can pass a normalized fingerprint (e.g. sorted bag of words)
    * for "exact up to normalization" semantics.
    */
  def exact(df: DataFrame, idCol: String, fingerprint: Column): DataFrame =
    df.groupBy(fingerprint.as("fp"))
      .agg(
        min(col(idCol)).as("rep_" + idCol),
        count(lit(1)).as("n_copies"))

  /** Modulus of the derived MinHash family: 2^31 - 1 (Mersenne prime).
    * h stays < 2^31, so a_i * h + b_i never overflows a signed 64-bit int
    * in either engine.
    */
  val MinhashMod = 2147483647L

  /** i-th derived hash of the family over a base hash already reduced
    * mod [[MinhashMod]]: (h * (2i+1) + 97 + 31i) mod M. One md5 per
    * shingle total — deriving the family arithmetically instead of salting
    * k md5 calls measured ~5× faster on the hashing stage.
    */
  private def familyHash(h: Column, i: Int): Column =
    (h * (2 * i + 1) + (97L + 31L * i)) % MinhashMod

  /** Distinct shingles exploded and hashed once: (id, h). The first stage
    * of every MinHash pipeline (batch self-join and incremental alike).
    */
  private def hashedShingles(df: DataFrame, idCol: String, shingles: Column): DataFrame =
    df.select(col(idCol).as("id"), explode(array_distinct(shingles)).as("s"))
      .select(col("id"), (h60(col("s")) % MinhashMod).as("h"))

  /** Signature frame on the array-set (unbounded-vocabulary) verify path:
    * (id, sig, sset, ssz). Shared by [[minhashPairs]] and
    * [[minhashSignatures]] so the two paths cannot drift.
    */
  private def unboundedSigFrame(hashed: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(familyHash(col("h"), i)).as(s"m$i"))
    val aggs = mins :+ collect_set(col("h")).as("sh")
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"),
        col("sh").as("sset"), size(col("sh")).cast("long").as("ssz"))
  }

  /** Lossless size early-reject before the O(|A|+|B|) intersect:
    * j(A,B) ≤ min/max of the set sizes, so a pair below the threshold on
    * sizes alone can never verify. The 1e-4 margin covers the
    * +1e-9/round(…,4) presentation of the final jaccard.
    */
  private def sizeRejectFilter(threshold: Double): Column =
    least(col("sz_a"), col("sz_b")).cast("double") /
      greatest(col("sz_a"), col("sz_b")) >= threshold - 1e-4

  /** |A∪B| = |A|+|B|−|A∩B|: one traversal instead of intersect+union.
    * Expects `inter`, `sz_a`, `sz_b`; single source of the epsilon/rounding
    * presentation both engines replay.
    */
  private def jaccardExpr: Column =
    round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")) + 1e-9, 4)

  /** Vocabulary cap for the bitset verify path: above this many distinct
    * shingle hashes the dense-dictionary bitset no longer pays for itself.
    * The bit_or aggregation evaluates one conditional per bitset word per
    * input row, so its cost is O(rows × vocab/64) — at 4096 the bitset is
    * 64 longs and that overhead stays below the collect_set it replaces;
    * measured at 1 << 16 (1024 words) it regressed the word-shingle
    * pipeline 5× instead.
    */
  val BitsetMaxVocab: Int = 4096

  /** MinHash + LSH near-duplicate pairs.
    *
    * Relational formulation: explode distinct shingles, md5 each ONCE,
    * aggregate all k per-family minima in a single groupBy — then `bands`
    * band keys → self-join per band → distinct candidate pairs → exact
    * Jaccard verify ≥ `threshold`. The band self-join is the only shuffle
    * that grows superlinearly, and only on colliding buckets.
    *
    * The exact-Jaccard verify adapts to the measured vocabulary: when the
    * corpus has at most [[BitsetMaxVocab]] distinct shingle hashes (char
    * n-grams over a bounded alphabet always converge to a small vocabulary;
    * |Σ|^n is a hard cap), each document's shingle set is encoded as a
    * dense bitset via a broadcast hash→bit-position dictionary, and the
    * verify is a popcount over ANDed longs — measured ~10× cheaper than
    * `array_intersect` over the hashed-set arrays, and the per-document
    * aggregation becomes a pure-codegen `bit_or` HashAggregate instead of
    * a `collect_set` ObjectHashAggregate. Unbounded vocabularies (word
    * shingles at corpus scale) keep the array-set verify. Both paths
    * compute the identical |A∩B| (the dictionary is keyed on the hash
    * value itself, so hash collisions collapse identically in both).
    *
    * EAGER: this method runs Spark jobs at call time (the vocabulary probe,
    * unless `assumeUnboundedVocab`, and the final `localCheckpoint` that
    * materializes the pair set so the signature caches can be released
    * immediately) — it returns a materialized result, not a lazy plan.
    * Intermediate persists are released in `finally`, so a mid-build
    * failure does not leak blocks into the block manager.
    *
    * @param shingles column producing the shingle array per row
    * @param assumeUnboundedVocab caller-known-open-ended vocabulary: skip
    *        the measurement probe (and the persist it requires) and take
    *        the array-set verify path directly
    * @return (a, b, jaccard) with a < b, jaccard rounded to 4 decimals
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      shingles: Column,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7,
      assumeUnboundedVocab: Boolean = false,
      hotBucketCap: Int = 0): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands — otherwise signature " +
        "values are silently dropped (or every band key degenerates to \"\" " +
        "and the join becomes an O(n²) cross product)")
    val rows = k / bands
    // assumeUnboundedVocab declares the vocabulary open-ended (word
    // shingles over a real corpus): the collect_set path is taken directly,
    // and since the hashed frame then has exactly ONE consumer, the
    // vocabulary probe AND the persist are both skipped. The default
    // measures the vocabulary and adapts.
    val knownUnbounded = assumeUnboundedVocab
    val hashedPlan = hashedShingles(df, idCol, shingles)
    val hashed =
      if (knownUnbounded) hashedPlan
      // consumed twice (vocabulary measurement + signature aggregation):
      // persisting keeps the shingle explode+md5 pass single-execution.
      else hashedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashPairsBody(hashed, knownUnbounded, k, bands, rows, threshold,
      hotBucketCap = hotBucketCap)
    finally hashed.unpersist()
  }

  /** @param hotBucketCap when > 0, band buckets wider than this are
    *        excluded from candidate generation (left-anti on the measured
    *        widths — the acting arm of [[bandBucketStats]]' audit, same
    *        idiom as [[cdcContainmentJoin]]'s boilerplate-fingerprint
    *        guard). A degenerate bucket (boilerplate shingles hashing a
    *        huge fraction of a petabyte corpus to one band key) would
    *        otherwise emit C(w,2) candidates from that single reducer;
    *        the cap bounds every bucket's contribution at C(cap,2).
    *        MISSED-PAIR BOUND: capping band i loses a true pair ONLY if
    *        every band the pair collides in is over-cap — a pair with
    *        jaccard j collides per band with prob j^rows, so a genuine
    *        near-dup pair (j ≥ threshold, e.g. 0.7^4 ≈ 0.24/band) has
    *        multiple independent escape routes unless it lives inside
    *        boilerplate in EVERY band, which is the boilerplate the cap
    *        exists to drop. `d_minhash_lsh_capped` emits the realized
    *        loss (`n_lost`) as an oracle-verified column. 0 = off.
    */
  private def minhashPairsBody(
      hashed: DataFrame,
      knownUnbounded: Boolean,
      k: Int,
      bands: Int,
      rows: Int,
      threshold: Double,
      candPred: (Column, Column) => Column = (a, b) => a < b,
      hotBucketCap: Int = 0): DataFrame = {
    // the only question is "≤ cap or not" — the limit stops the probe from
    // materializing an unbounded distinct count on huge-vocab corpora, and
    // the same distinct frame feeds the bitset dictionary below.
    val distinctH = hashed.select("h").distinct()
    val vocab =
      if (knownUnbounded) Long.MaxValue
      else distinctH.limit(BitsetMaxVocab + 1).count()

    val mins = (0 until k).map(i => min(familyHash(col("h"), i)).as(s"m$i"))
    val sigCol = array((0 until k).map(i => col(s"m$i")): _*).as("sig")
    // sigd: (id, sig, set-representation, ssz) — representation depends on
    // the vocabulary path. Persisted: consumed by three branches (two
    // band-join sides + the verify join). At cluster scale this is the
    // "materialize signatures before the bucket join" step every LSH
    // pipeline has.
    val (sigd, verify) =
      if (vocab <= BitsetMaxVocab) {
        val nWords = ((vocab + 63) / 64).toInt.max(1)
        val dict = distinctH
          .withColumn("pos",
            row_number().over(org.apache.spark.sql.expressions.Window.orderBy("h")) - 1)
        val positioned = hashed.join(broadcast(dict), "h")
        val wordAggs = (0 until nWords).map { w =>
          bit_or(when(col("pos") >= w * 64 && col("pos") < (w + 1) * 64,
            call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")))
            .otherwise(0L)).as(s"w$w")
        }
        val aggd = positioned.groupBy("id").agg((mins ++ wordAggs).head, (mins ++ wordAggs).tail: _*)
          .select(col("id"), sigCol,
            array((0 until nWords).map(w => col(s"w$w")): _*).as("bits"))
          // |set| = Σ popcount(word): exact distinct-hash count without a
          // count(distinct) in the aggregate.
          .withColumn("ssz",
            aggregate(col("bits"), lit(0L), (acc, w) => acc + bit_count(w)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val v = (j: DataFrame) => j
          .withColumn("inter",
            aggregate(zip_with(col("set_a"), col("set_b"),
              (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
              lit(0L), (acc, c) => acc + c).cast("double"))
        (aggd.withColumnRenamed("bits", "sset"), v)
      } else {
        val aggd = unboundedSigFrame(hashed, k)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val v = (j: DataFrame) => j
          .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("double"))
        (aggd, v)
      }

    try {
    val banded0 = sigd.select(
      col("id"), posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
    // hot-bucket cap: drop over-cap buckets BEFORE the self-join, so the
    // quadratic candidate blow-up never materializes (see param doc)
    val banded =
      if (hotBucketCap > 0)
        banded0.join(
          banded0.groupBy("band", "key").agg(count(lit(1)).as("w"))
            .filter(col("w") > hotBucketCap).select("band", "key"),
          Seq("band", "key"), "left_anti")
      else banded0
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          candPred(col("x.id"), col("y.id")))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val joined = cand
      .join(sigd.select(col("id").as("a"), col("sset").as("set_a"), col("ssz").as("sz_a")), "a")
      .join(sigd.select(col("id").as("b"), col("sset").as("set_b"), col("ssz").as("sz_b")), "b")
      .filter(sizeRejectFilter(threshold))
    val verified = verify(joined)
      .withColumn("jaccard", jaccardExpr)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
    // The pair set is tiny relative to the corpus (bounded by the LSH
    // collision rate); materialize it eagerly so the signature cache can be
    // released immediately (in the enclosing finally) — otherwise every
    // invocation in a long-lived session leaks a persisted signature table
    // into the block manager.
    verified.localCheckpoint(true)
    } finally sigd.unpersist()
  }

  /** The per-document MinHash signature table: (id, sig[k], sset, ssz) —
    * the INDEX a production incremental pipeline materializes once
    * (bucketed on the band keys via
    * [[graft.sources.Sinks.writeBucketedTable]]) and maintains across
    * ingests, so each day's batch only computes its own signatures.
    * Signatures are per-document (no corpus statistics), so a full-corpus
    * signature frame can be computed once and SPLIT into batch/index
    * sides — [[minhashPairsFromSignatures]] consumes any such split.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, shingles: Column, k: Int = 16): DataFrame =
    unboundedSigFrame(hashedShingles(df, idCol, shingles), k)

  /** Band join + exact verify of two prepared signature frames (see
    * [[minhashSignatures]]) — the incremental ingest step once the index
    * side already exists. Same band/verify arithmetic as [[minhashPairs]].
    * EAGER: materializes the pair set, releases both signature caches in
    * finally.
    */
  def minhashPairsFromSignatures(
      newSigs: DataFrame,
      indexSigs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands")
    val rows = k / bands
    // each side's signature frame feeds the band join AND the verify join
    val ns = newSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val xs = indexSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def banded(s: DataFrame, idAs: String) = s.select(col("id").as(idAs),
        posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
      val cand = banded(ns, "new_id").join(banded(xs, "index_id"), Seq("band", "key"))
        .select("new_id", "index_id").distinct()
      verifyNewIndexCandidates(cand, ns, xs, threshold).localCheckpoint(true)
    } finally { ns.unpersist(); xs.unpersist() }
  }

  /** Shared exact-verify tail for the incremental paths: join the
    * candidate (new_id, index_id) pairs back to both signature frames,
    * size-reject, intersect, and threshold — ONE implementation so the
    * inline ([[minhashPairsFromSignatures]]) and persisted-index
    * ([[minhashPairsAgainstIndexPlan]]) paths cannot drift.
    */
  private def verifyNewIndexCandidates(
      cand: DataFrame,
      newSide: DataFrame,
      indexSide: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(newSide.select(col("id").as("new_id"),
        col("sset").as("set_a"), col("ssz").as("sz_a")), "new_id")
      .join(indexSide.select(col("id").as("index_id"),
        col("sset").as("set_b"), col("ssz").as("sz_b")), "index_id")
      .filter(sizeRejectFilter(threshold))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("double"))
      .withColumn("jaccard", jaccardExpr)
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("index_id"), col("jaccard"))

  /** The persisted minhash index: `_bands`, `_sigs`, `_meta` (see [[writeMinhashIndex]]). */
  val Minhash = new TableFamily("_bands", "_sigs", "_meta")

  /** Persist a MinHash LSH index as BUCKETED catalog tables — the
    * cross-session production shape [[minhashSignatures]]'s doc promises:
    * the corpus is signed once, and every later ingest reads the index
    * back with ZERO Exchange under either index scan (asserted in
    * `DedupSimilaritySpec`).
    *
    * Two tables:
    *  - `<prefix>_bands` (bkey, id), bucketed+sorted on `bkey` — the band
    *    index is FOLDED INTO the key (`"band:slice"`), so the band join is
    *    a single-column equi-join on exactly the bucket column. That
    *    matters: Spark's co-partition check requires hash partitioning on
    *    ALL join keys (spark.sql.requireAllClusterKeysForCoPartition), so
    *    a two-column (band, key) join over a key-bucketed table would
    *    re-shuffle the index anyway — the folded key keeps the identical
    *    collision semantics (a pair collides iff some band's slice
    *    matches) while making the bucket layout exactly the join layout;
    *  - `<prefix>_sigs` (id, sig, sset, ssz), bucketed on `id` — the
    *    verify join-back on `index_id` reads it shuffle-free the same way.
    *
    * At 100 TB the bands table is append-maintained per ingest day (new
    * batch's bands union in after checking), so index maintenance is
    * O(|day|), never a corpus re-sign.
    */
  def writeMinhashIndex(
      sigs: DataFrame,
      tablePrefix: String,
      buckets: Int,
      k: Int = 16,
      bands: Int = 4): Unit = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands")
    // both table writes consume sigs — persist so an unmaterialized input
    // (the full corpus signing) executes once, not once per write
    val cached = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = cached.select(col("id"),
        explode(foldedBandKeys(col("sig"), bands, k / bands)).as("bkey"))
        .select(col("bkey"), col("id"))
      graft.sources.Sinks.writeBucketedTable(banded, s"${tablePrefix}_bands", buckets, "bkey")
      graft.sources.Sinks.writeBucketedTable(cached, s"${tablePrefix}_sigs", buckets, "id")
      // parameter record: band keys are (k, bands)-dependent strings, so a
      // reader with different parameters would silently match nothing —
      // the read path validates against this instead
      val meta = cached.sparkSession.createDataFrame(
        Seq((k, bands, buckets))).toDF("k", "bands", "buckets")
      meta.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${tablePrefix}_meta")
    } finally cached.unpersist()
  }

  /** Band keys with the band index folded in (`"<band>:<slice>"`): two
    * documents share a folded key iff they share that band's slice —
    * identical collision semantics to the (band, key) pair, as one
    * single-column join key.
    */
  private def foldedBandKeys(sig: Column, bands: Int, rows: Int): Column =
    zip_with(
      sequence(lit(0), lit(bands - 1)),
      bandKeys(sig, bands, rows),
      (b, k) => concat(b.cast("string"), lit(":"), k))

  /** Incremental pair detection against a PERSISTED index (see
    * [[writeMinhashIndex]]): same band/verify arithmetic as
    * [[minhashPairsFromSignatures]], but the index side comes from the
    * bucketed catalog tables, whose scans feed both joins with no
    * Exchange. Lazy plan builder — the spec inspects the physical plan;
    * [[minhashPairsAgainstIndex]] is the eager production wrapper.
    */
  private[graft] def minhashPairsAgainstIndexPlan(
      newSigs: DataFrame,
      tablePrefix: String,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands")
    val rows = k / bands
    val spark = newSigs.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    // fail loudly on a parameter mismatch: folded band keys are
    // (k, bands)-dependent strings, so querying a k=16/bands=8 index with
    // the bands=4 defaults would return ZERO pairs silently — the
    // worst possible failure for a dedup gate
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (ik, ib) = (m.getInt(0), m.getInt(1))
    require(ik == k && ib == bands,
      s"index '$tablePrefix' was written with k=$ik bands=$ib but queried " +
        s"with k=$k bands=$bands")
    val xb = spark.table(s"${tp}_bands")
      .select(col("bkey"), col("id").as("index_id"))
    val xs = spark.table(s"${tp}_sigs")
    val nb = newSigs.select(col("id").as("new_id"),
      explode(foldedBandKeys(col("sig"), bands, rows)).as("bkey"))
    val cand = nb.join(xb, Seq("bkey"))
      .select("new_id", "index_id").distinct()
    verifyNewIndexCandidates(cand, newSigs, xs, threshold)
  }

  /** Eager production entry over [[minhashPairsAgainstIndexPlan]] —
    * materializes the (small) pair set like every sibling pair builder.
    * The plan consumes `newSigs` twice (folded-band explode + verify
    * join-back), so an unmaterialized signature frame is persisted here
    * for the duration of the probe — otherwise the whole signing pipeline
    * would execute once per consumer.
    */
  def minhashPairsAgainstIndex(
      newSigs: DataFrame,
      tablePrefix: String,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val cached = newSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashPairsAgainstIndexPlan(cached, tablePrefix, k, bands, threshold)
      .localCheckpoint(true)
    finally cached.unpersist()
  }

  /** Execute one ingest cycle of the minhash index's maintenance contract
    * (see [[writeMinhashIndex]]): probe the batch's signatures against the
    * CURRENT index, then append the batch's bands + signatures so later
    * batches dedup against this one too. Probe strictly before append —
    * a batch must never match itself. Parameters (k, bands, buckets) come
    * from the index's own `_meta` record, so every appended band key is
    * generated with exactly the fold the index was built with, and the
    * appends land bucket-aligned (`bucketBy` + `sortBy` matching the
    * existing spec), keeping probes zero-Exchange as the index grows.
    * Returns the batch's (new_id, index_id, jaccard) pairs, eagerly
    * materialized. This is the `foreachBatch` body of a streaming dedup
    * ingest (`st_dedup_index_parity`); per call the cost is
    * O(|batch| · bucket), never a corpus re-sign.
    */
  def ingestIntoMinhashIndex(
      newSigs: DataFrame,
      tablePrefix: String,
      threshold: Double = 0.7): DataFrame = {
    val spark = newSigs.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (k, bands, buckets) = (m.getInt(0), m.getInt(1), m.getInt(2))
    val cached = newSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs =
        minhashPairsAgainstIndexPlan(cached, tablePrefix, k, bands, threshold)
          .localCheckpoint(true)
      val banded = cached.select(col("id"),
        explode(foldedBandKeys(col("sig"), bands, k / bands)).as("bkey"))
        .select(col("bkey"), col("id"))
      banded.write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "bkey").sortBy("bkey")
        .format("parquet").saveAsTable(s"${tp}_bands")
      cached.write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(s"${tp}_sigs")
      pairs
    } finally cached.unpersist()
  }

  /** Exactly-once wrapper around [[ingestIntoMinhashIndex]] — the
    * batchId-keyed write-ahead-ledger recipe
    * ([[graft.sources.TableFamily.exactlyOnce]]) with
    * [[deleteFromMinhashIndex]] as the crash-recovery scrub: a batch
    * redelivered after success skips (None), a retry after a mid-append
    * crash scrubs the partial residue and re-applies. Returns
    * Some(pairs) when the batch was applied.
    */
  def exactlyOnceIngestIntoMinhashIndex(
      newSigs: DataFrame,
      tablePrefix: String,
      batchId: Long,
      threshold: Double = 0.7): Option[DataFrame] = {
    val spark = newSigs.sparkSession
    graft.sources.TableFamily.exactlyOnce(spark, tablePrefix, batchId) {
      deleteFromMinhashIndex(spark, tablePrefix, newSigs.select("id"))
    } {
      ingestIntoMinhashIndex(newSigs, tablePrefix, threshold)
    }
  }

  /** Exactly-once wrapper around [[ingestIntoGramIndex]] (same ledger
    * recipe — see [[graft.sources.TableFamily.exactlyOnce]]). The gram
    * table stores df PARTIALS, not per-document rows, so the anti-join
    * scrub the other indexes use doesn't apply — and the decrementing
    * [[deleteFromGramIndex]] would OVER-subtract after a partial append
    * (it assumes the batch landed fully). Instead every ingest stamps
    * its partial rows with `batchId`, and the crash scrub excises
    * exactly the stamped residue — correct for any partial state.
    * Requires batchId ≥ 0 (−1 is the merged-generation sentinel that
    * compaction/deletion rewrites collapse committed batches into).
    */
  def exactlyOnceIngestIntoGramIndex(
      batch: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      batchId: Long): Option[Unit] = {
    require(batchId >= 0,
      s"batchId=$batchId must be >= 0 (-1 is the merged-generation sentinel)")
    val spark = batch.sparkSession
    graft.sources.TableFamily.exactlyOnce(spark, tablePrefix, batchId) {
      Grams.compact(spark, tablePrefix,
        Map[String, DataFrame => DataFrame](
          "_grams" -> (_.filter(col("batch_id") =!= batchId)))): Unit
    } {
      ingestIntoGramIndex(batch, idCol, toks, tablePrefix, batchId)
    }
  }

  /** Vacuum the gram index (see [[writeGramIndex]] /
    * [[ingestIntoGramIndex]]): ingest appends per-batch (gram, n_docs)
    * PARTIALS, so after N batches a hot gram carries N rows and every
    * bucket N files. Compaction re-aggregates to one row per gram —
    * summing df partials is exact (each document contributes to exactly
    * one partial), so presence probes ([[dupSpansAgainstIndex]]) and
    * df-sum consumers ([[dupSpansAtDayClose]]) return hash-identical
    * results against the compacted index (spec-pinned) — and rewrites
    * the bucket layout to one file per bucket. Returns (files before,
    * files after).
    */
  def compactGramIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): (Int, Int) =
    compactGrams(spark, tablePrefix)(identity)

  /** [[Grams]] compaction whose `_grams` rewrite folds the df partials to
    * one row per gram, applies `adjust` to the folded rows, and stamps
    * them into the merged generation (`batch_id = -1`, see
    * [[writeGramIndex]]) — run only with no ingest in flight. Returns
    * `_grams` (files before, files after).
    */
  private def compactGrams(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String)(adjust: DataFrame => DataFrame): (Int, Int) =
    Grams.compact(spark, tablePrefix,
      Map[String, DataFrame => DataFrame]("_grams" -> (partials =>
        adjust(partials.groupBy("gram").agg(sum("n_docs").as("n_docs")))
          .withColumn("batch_id", lit(-1L)))))._2("_grams")

  /** Delete documents from the minhash index (see [[writeMinhashIndex]]):
    * drops the documents' rows from `_bands` and `_sigs` via an anti-join
    * rewrite riding the compaction machinery (generation cutover, bucket
    * layout preserved, fragmentation vacuumed in the same pass — a
    * deletion IS a rewrite, so it doubles as one). Probes after deletion
    * behave exactly as if the documents had never been indexed
    * (hash-verified by `d_delete_probe`); cost is one index rewrite per
    * delete batch, which is why production runs batch take-downs daily
    * rather than per document. `deletedIds` must expose an `id` column.
    */
  def deleteFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      deletedIds: DataFrame): Unit =
    Minhash.deleteKeys(spark, tablePrefix, deletedIds.select(col("id")), "_bands", "_sigs")

  /** Delete documents from the gram index (see [[writeGramIndex]]): the
    * index stores per-gram document frequencies, not per-document rows,
    * so a deletion DECREMENTS — the deleted documents' distinct grams are
    * recomputed from their text (`deletedDocs` must carry it; the index
    * deliberately doesn't) and subtracted from the aggregated df, with
    * grams whose count reaches zero dropped entirely. Runs inside the
    * compaction rewrite, so partials collapse and the bucket layout is
    * preserved in the same pass. Each deleted document contributed
    * exactly 1 to each of its distinct grams' totals (it arrived in
    * exactly one batch and partials count distinct ids), so subtracting
    * 1 per (deleted doc, gram) is exact — probes afterwards behave as if
    * the documents had never been ingested (hash-verified by
    * `d_delete_spans`).
    */
  def deleteFromGramIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      deletedDocs: DataFrame,
      idCol: String,
      toks: Column): Unit = {
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val n = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(0)
    val delCounts = deletedDocs
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), explode(array_distinct(wordShingles(col("tk"), n))).as("gram"))
      .groupBy("gram").agg(countDistinct(col("id")).as("n_del"))
      .localCheckpoint(true)
    compactGrams(spark, tablePrefix)(
      _.join(delCounts, Seq("gram"), "left")
        .select(col("gram"),
          (col("n_docs") - coalesce(col("n_del"), lit(0L))).as("n_docs"))
        .filter(col("n_docs") > 0)): Unit
  }

  /** Edge-deletion connected components — the take-down counterpart of
    * [[incrementalConnectedComponents]]: removing documents removes graph
    * NODES (and every edge touching them), which can SPLIT components —
    * the one thing label-level arithmetic cannot do incrementally,
    * because the label table doesn't remember which edges held a
    * component together. Hence the contract: the caller persists the
    * pair EDGES alongside the labels (the `d_minhash_lsh` output it
    * already materializes), and deletion recomputes connectivity from
    * the surviving edges — but ONLY inside components that contained a
    * deleted node:
    *
    *  1. affected reps: labels of the deleted ids — one row per touched
    *     component (semi-join, metadata-scale for daily take-downs);
    *  2. untouched components pass through byte-identical (anti-join on
    *     rep — the big label table is filtered, never recomputed;
    *     spec-pinned);
    *  3. surviving members of affected components + their surviving
    *     edges feed [[connectedComponents]] — its driver union-find or
    *     O(log n) star rounds over the affected subgraph only; members
    *     left edge-less become singletons (rep = own id).
    *
    * Deleted ids appear in NO output row. The result equals a full CC
    * recompute over the surviving edge set (hash-verified by
    * `d_delete_clusters` against the recursive-CTE oracle). At 100 TB:
    * labels and edges live as catalog tables; the affected-rep and
    * member sets are daily-take-down-sized, so every join against them
    * is a broadcast or a small shuffle, and the full edge table is
    * touched by exactly one semi-join pass.
    */
  def edgeDeletionConnectedComponents(
      labels: DataFrame,
      edges: DataFrame,
      deletedIds: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 25): DataFrame = {
    val del = deletedIds.select(col("id").cast("long").as("id"))
      .distinct().localCheckpoint(true)
    val affectedReps = labels.join(del, Seq("id"), "left_semi")
      .select(col("rep")).distinct().localCheckpoint(true)
    val untouched = labels.join(affectedReps, Seq("rep"), "left_anti")
      .select(col("id"), col("rep"))
    // surviving members of the touched components
    val members = labels.join(affectedReps, Seq("rep"), "left_semi")
      .select(col("id"))
      .join(del, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // edges with BOTH endpoints surviving members of touched components;
    // edges of untouched components drop out at the first semi-join
    val survivingEdges = e
      .join(members.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(members.select(col("id").as("b")), Seq("b"), "left_semi")
    val recomputed = connectedComponents(survivingEdges, maxIter = maxIter)
    val singletons = members.join(recomputed.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("rep"))
    untouched.unionByName(recomputed).unionByName(singletons)
  }

  /** 60-bit SimHash per row from a token array.
    *
    * Relational formulation: explode distinct tokens, hash each once, then
    * one aggregation computes all 60 bit-votes (sum of ±1 per bit) — a
    * single shuffle on the id, with each token's md5 computed exactly once
    * (an expression-level formulation would recompute it per bit after
    * Catalyst collapses projections).
    */
  def simhash(df: DataFrame, idCol: String, toks: Column): DataFrame = {
    val hashed = df
      .select(col(idCol).as("id"), explode(array_distinct(toks)).as("t"))
      .select(col("id"), h60(col("t")).as("h"))
    val votes = (0 until 60).map { b =>
      sum((shiftright(col("h"), b).bitwiseAND(1) * 2 - 1)).as(s"v$b")
    }
    val bitsSet = (0 until 60).map { b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    hashed.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), bitsSet.reduce(_ + _).as("simhash"))
  }

  /** Near-duplicate pairs by SimHash hamming distance ≤ `maxHamming`.
    *
    * Blocking: the 60-bit simhash cut into `maxHamming + 1` bands — by
    * pigeonhole, any pair within the distance budget matches at least one
    * band exactly, so the band self-join loses nothing while avoiding the
    * O(n²) compare. Output (a, b, hamming).
    */
  def simhashPairs(
      sims: DataFrame,
      idCol: String = "id",
      simCol: String = "simhash",
      maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val width = 60 / nBands
    val mask = (1L << width) - 1
    val bandKeyCols = (0 until nBands).map { i =>
      struct(lit(i).as("band"), (shiftright(col(simCol), i * width).bitwiseAND(mask)).as("key"))
    }
    // persisted: the x/y self-join would otherwise recompute the upstream
    // simhash aggregation once per side.
    val banded = sims.select(
      col(idCol).as("id"), col(simCol).as("sh"),
      explode(array(bandKeyCols: _*)).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = banded.as("x")
      .join(banded.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // as in minhashPairs: eager-materialize the tiny pair set, then release
    // the banded signature cache instead of leaking it into the session.
    val out = pairs.localCheckpoint(true)
    banded.unpersist()
    out
  }

  /** Character n-gram Jaccard near-dup pairs. Candidates come from MinHash
    * LSH over the gram set with 4 bands × 6 rows: the background char-gram
    * Jaccard of unrelated documents here is ~0.26 (tiny shared vocabulary,
    * p90 ≈ 0.35), so the band collision rate needs r=6's steep s-curve —
    * P(collide | j=0.26) ≈ 0.1% vs ≈ 95% at j=0.9. r=4 measured 1.2M
    * candidate pairs at sf0.1 (~80× too many), and the Jaccard verify at
    * ~70µs/pair dominated the whole query; r=6 cuts candidates to ~15k.
    * Length-bucket blocking was worse still (quadratic in bucket width).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      n: Int = 4,
      threshold: Double = 0.6): DataFrame =
    minhashPairs(df, idCol, charGrams(textCol, n), k = 24, bands = 4, threshold = threshold)

  /** LSH band-bucket audit — the hot-bucket guard's evidence surface as
    * an operator: per band, how many buckets the corpus hashes into, the
    * widest bucket, and the exact candidate-pair volume Σ C(w,2) the band
    * self-join will emit. This is the number an operator reads BEFORE
    * running a petabyte self-join: a skewed band key (degenerate
    * shingles, boilerplate) shows up as max_width ≫ p50 and an
    * n_cand_pairs blow-up, and the fix (retune r, hot-cap, salt) is
    * chosen from this report — not discovered mid-shuffle. One explode +
    * two aggregations over the signature frame; never touches documents.
    */
  def bandBucketStats(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands > 0 && rows > 0, s"bands=$bands and rows=$rows must be positive")
    // the audit must not itself be degenerate: a signature shorter than
    // bands·rows would slice short/empty band keys and silently report
    // healthy-looking stats for a banding that drops signature values —
    // refuse row-local (codegen'd), same discipline as minhashPairs'
    // k % bands == 0 require.
    val sig = when(size(col("sig")) >= bands * rows, col("sig"))
      .otherwise(raise_error(concat(
        lit(s"bandBucketStats: signature shorter than bands*rows = ${bands * rows}: "),
        size(col("sig")).cast("string"))))
    val banded = sigs.select(
      posexplode(bandKeys(sig, bands, rows)).as(Seq("band", "key")))
    // integer arithmetic throughout: halve the even factor BEFORE the
    // multiply so C(w,2) stays exact past 2^53 (double division would
    // round) and the product overflows only if the true pair count itself
    // exceeds Long range — this audit exists precisely for the degenerate
    // hot buckets where w is astronomical.
    val cw2 = when(col("w") % 2 === 0,
        call_function("shiftright", col("w"), lit(1)) * (col("w") - lit(1L)))
      .otherwise(col("w") * call_function("shiftright", col("w") - lit(1L), lit(1)))
    banded.groupBy("band", "key").agg(count(lit(1)).as("w"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max("w").as("max_width"),
        sum(when(col("w") >= 2, cw2)
          .otherwise(0L)).cast("long").as("n_cand_pairs"))
      .select(col("band").cast("long").as("band"),
        col("n_buckets"), col("max_width"), col("n_cand_pairs"))
      .orderBy("band")
  }

  /** Two-table fuzzy join (record linkage / entity resolution): pairs
    * (left_id, right_id, jaccard) whose shingle-set Jaccard meets
    * `threshold`, candidates blocked by the SAME MinHash band family on
    * both sides — the cross-table sibling of [[minhashPairs]] (which is a
    * self-join dedup). The canonical use is matching two corpora that
    * describe the same entities with textual noise: two crawls of the same
    * sites, a vendor feed vs a master catalog, near-identical documents
    * split across acquisition batches.
    *
    * Implementation rides [[minhashPairsBody]] verbatim — one shared hashed
    * frame (vocabulary probe, signature aggregation, adaptive bitset/array
    * verify all identical, so the two paths cannot drift) with the side
    * encoded in the id's low bit (left = 2·id, right = 2·id+1; an id
    * outside [0, 2^62) raises loudly row-local rather than silently
    * wrapping). The candidate predicate becomes "x is left ∧ y is right"
    * instead of "x.id < y.id", so candidates are CROSS-side only: two
    * left rows sharing a band never pair (they are the left table's own
    * duplicates — the caller runs [[minhashPairs]] per side for that).
    *
    * 100 TB shape: identical to the self-join path — both sides shuffle
    * once on (band, key), candidates are O(Σ bucket_left × bucket_right)
    * per colliding bucket, never |L|×|R|; band width r tunes the collision
    * rate against the measured background Jaccard exactly as in
    * [[ngramJaccardPairs]], and a skewed band key (boilerplate shingles)
    * is the same AQE-skew / band-retune case as the self-join. Because
    * the id encoding is the only difference, an even/odd split of one
    * table through this method returns exactly the cross-side subset of
    * [[minhashPairs]] on the union (spec-pinned).
    */
  def fuzzyJoinPairs(
      left: DataFrame,
      leftId: String,
      leftShingles: Column,
      right: DataFrame,
      rightId: String,
      rightShingles: Column,
      k: Int = 24,
      bands: Int = 4,
      threshold: Double = 0.6,
      assumeUnboundedVocab: Boolean = false): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands — otherwise signature " +
        "values are silently dropped (or every band key degenerates to \"\" " +
        "and the join becomes an O(n²) cross product)")
    val rows = k / bands
    def sideHashed(df: DataFrame, idCol: String, shingles: Column, side: Int): DataFrame = {
      // side-encode in the low bit; refuse loudly (row-local, codegen'd)
      // instead of wrapping into a colliding encoded id.
      // accept the full [0, 2^62) contract: id = 2^62-1 encodes to
      // 2·id+1 = Long.MaxValue without wrapping, so the guard admits it
      val enc = when(col(idCol).cast("long").between(0L, Long.MaxValue / 2),
        col(idCol).cast("long") * 2 + side)
        .otherwise(raise_error(concat(
          lit("fuzzyJoinPairs: id outside [0, 2^62), cannot side-encode: "),
          col(idCol).cast("string"))))
      hashedShingles(df.select(enc.as("__fj_id"), shingles.as("__fj_sh")),
        "__fj_id", col("__fj_sh"))
    }
    val hashedPlan = sideHashed(left, leftId, leftShingles, 0)
      .unionByName(sideHashed(right, rightId, rightShingles, 1))
    val hashed =
      if (assumeUnboundedVocab) hashedPlan
      else hashedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = minhashPairsBody(hashed, assumeUnboundedVocab, k, bands, rows, threshold,
        candPred = (a, b) => (a % 2 === 0) && (b % 2 === 1))
      // decode via shiftright (integer halving) — a double division would
      // lose bits above 2^53 for large encoded ids.
      pairs.select(
        call_function("shiftright", col("a"), lit(1)).as("left_id"),
        call_function("shiftright", col("b"), lit(1)).as("right_id"),
        col("jaccard"))
    } finally hashed.unpersist()
  }

  /** Connected components over an undirected pair-edge set — the
    * "pairs → clusters" step of corpus dedup. Returns (id, rep) where `rep`
    * is the smallest id in the component, one row per node appearing in
    * any edge (self-loop-only nodes included; singletons are the caller's
    * coalesce).
    *
    * Up to `driverEdgeLimit` edges the whole CC is a driver min-root
    * union-find ([[driverMinRootUnionFind]]). Past it, large-star/small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14) re-wire whole paths toward the component minimum,
    * so the round count is logarithmic in component size, not its
    * diameter (a 4096-node chain converges in a handful of rounds —
    * pinned in DedupSimilaritySpec, with both branches' labels equal
    * there and on seeded random graphs).
    *
    * Round = small-star ∘ large-star over the CURRENT edge set, each one
    * aggregation + one join (per-node neighbor minima — never a neighbor-
    * list explosion), materialized per round with deterministic block
    * release like every iterative loop here. Fixpoint = exact
    * (count, Σa, Σb) signature equality in one aggregate pass, decimal
    * sums so two distinct edge sets can't fold together by overflow.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 25,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // Bounded driver fast path: when the edge set fits `driverEdgeLimit`,
    // the whole CC is a driver min-root union-find — ONE bounded collect
    // (limit pushes down, so the scan early-exits) + one checkpoint,
    // instead of O(log n) star rounds whose ~6 shuffle jobs per round
    // dominate every CC consumer at sub-corpus edge counts. Labels
    // identical (rep = component minimum, every endpoint labeled,
    // self-loops keep their node); an edge set past the bound takes the
    // distributed star rounds — no cliff, no refusal. The collected
    // endpoint set holds up to 2× the edge bound, a constant factor.
    if (driverEdgeLimit > 0 && driverEdgeLimit < Int.MaxValue - 1) {
      val take = raw.limit(driverEdgeLimit.toInt + 1).collect()
      if (take.length <= driverEdgeLimit) {
        return driverMinRootUnionFind(
          edges.sparkSession, take.iterator.map(r => (r.getLong(0), r.getLong(1))))
      }
    }
    // node universe (kept for singleton/self-loop nodes the star edges drop)
    val nodes = raw.select(col("a").as("id")).union(raw.select(col("b").as("id")))
      .distinct().persist(MEMORY_AND_DISK)
    // canonical large→small orientation, loops out
    var e = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct().persist(MEMORY_AND_DISK)

    // large-star: every neighbor v > u re-wires to m(u) = min({u} ∪ Γ(u));
    // each undirected edge is emitted exactly once, from its smaller
    // endpoint, so orientation a > b is preserved.
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mn"))
        .select(col("a").as("u"), least(col("mn"), col("a")).as("m"))
      sym.join(mins, sym("a") === col("u"))
        .filter(col("b") > sym("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star: each node links its smaller neighbors (and itself) to
    // their collective minimum.
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy("a").agg(min("b").as("m"))
      cur.join(mins, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .distinct()
    }
    // count + Σa + Σb + Σxxhash64(a,b): the order-independent hash sum
    // makes an accidental collision between two DIFFERENT consecutive
    // edge sets (which the plain sums admit in principle) a 2^-64 event
    def signature(cur: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal) = {
      val zero = lit(java.math.BigDecimal.ZERO)
      val r = cur.agg(count(lit(1)),
        coalesce(sum(col("a").cast("decimal(38,0)")), zero),
        coalesce(sum(col("b").cast("decimal(38,0)")), zero),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")), zero)).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getDecimal(3))
    }
    var prevSig = signature(e)
    var converged = prevSig._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // The round's plan references `e` several times (sym union + the
      // mins join), so composing rounds lazily would grow the LOGICAL
      // plan ~4× per round — exponential analyzer cost long before any
      // data moves (persist caches blocks but does not truncate logical
      // lineage). Bridge each round through its RDD: the new frame's
      // plan is a flat scan of the materialized rows, so analyzer work
      // stays O(1) per round while blocks release deterministically.
      val plan = smallStar(largeStar(e))
      val next = e.sparkSession.createDataFrame(plan.rdd, plan.schema)
        .persist(MEMORY_AND_DISK)
      val sig = signature(next) // doubles as the materializing action
      e.unpersist()
      converged = sig == prevSig
      prevSig = sig
      e = next
      iter += 1
    }
    if (!converged) {
      e.unpersist(); nodes.unpersist()
      throw new IllegalArgumentException(
        s"requirement failed: connectedComponents did not converge within " +
          s"maxIter=$maxIter rounds — raise maxIter (rounds grow with " +
          "log(component size), so this should be rare)")
    }
    // converged edge set is stars rooted at component minima; re-attach
    // nodes that carried no non-loop edge as their own representatives
    val labels = e.select(col("a").as("id"), col("b").as("rep"))
    val out = nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .localCheckpoint(true)
    e.unpersist(); nodes.unpersist()
    out
  }

  /** Driver min-root union-find over a collected edge iterator — the
    * bounded branch of [[connectedComponents]]. Union by MIN root, so the
    * final find(x) IS the star-round label (rep = component minimum);
    * every endpoint is labeled, a self-loop registers its node. Returned
    * as a 1-partition checkpointed frame, the shape the star rounds'
    * result has for every consumer.
    */
  private def driverMinRootUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      edges: Iterator[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (ra, rb) =>
      nodes += ra; nodes += rb
      val (fa, fb) = (find(ra), find(rb))
      // union by MIN root — the root is always the component minimum
      if (fa < fb) parent(fb) = fa else if (fb < fa) parent(fa) = fb
    }
    val out = nodes.toSeq.map(x => (x, find(x)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          out.map { case (id, rep) => org.apache.spark.sql.Row(id, rep) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rep",
            org.apache.spark.sql.types.LongType, nullable = false))))
      .localCheckpoint(true)
  }

  /** Rep-level contraction of a day's new edges against existing labels:
    * each endpoint maps to its current representative (unknown nodes map
    * to themselves), same-rep edges drop out. What remains is an edge set
    * over REPRESENTATIVES — one edge per component-merging event, never
    * per member — so the downstream CC runs on the components actually
    * being merged today, not the corpus. Exposed for the spec to pin that
    * untouched components never enter the recompute.
    */
  private[graft] def contractedEdges(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String = "a",
      bCol: String = "b"): DataFrame = {
    val e = newEdges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val la = labels.select(col("id").as("a"), col("rep").as("ra"))
    val lb = labels.select(col("id").as("b"), col("rep").as("rb"))
    e.join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("ra"),
        coalesce(col("rb"), col("b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
  }

  /** Incremental connected components — the union-find step that keeps
    * cluster membership current as ingest days add edges, WITHOUT
    * re-running CC over the accumulated edge set. `labels` is the
    * persisted (id, rep) table (rep = component minimum, the
    * [[connectedComponents]] contract); `newEdges` is today's pair output
    * (e.g. [[minhashPairsAgainstIndex]]). Three steps:
    *
    *  1. contract new edges to rep level ([[contractedEdges]]) — at most
    *     |new edges| rows, zero rows for edges inside existing components;
    *  2. run [[connectedComponents]] on the contracted graph with
    *     `driverEdgeLimit = broadcastRelabelLimit`: its node set is
    *     exactly the touched reps + unseen nodes, so the driver
    *     union-find or the O(log n) star rounds see the day's merge
    *     events only;
    *  3. relabel: old labels whose rep merged get the new rep via the
    *     (old rep → new rep) map — rows of untouched components pass
    *     through the left join unchanged, byte-identical; unseen nodes
    *     union in with their contracted-CC label (or themselves).
    *
    * The relabel map is BROADCAST only while it holds at most
    * `broadcastRelabelLimit` entries (the daily contract: one row per
    * component merged today — metadata-scale, and the big label table
    * never shuffles). A pathological batch that touches most components
    * (a backfill, a mass re-link) would make that broadcast unbounded, so
    * above the limit the relabel joins via a plain shuffle instead —
    * correct at any size, at the cost of one reshuffle of the label
    * table. The default (1M entries ≈ 16 MB of packed longs) is far
    * under executor broadcast budgets; for genuinely mega-batch updates
    * prefer a full [[connectedComponents]] recompute, which this
    * guard's shuffle path approximates in cost anyway.
    *
    * Because old reps are their components' minima, the contracted CC's
    * minimum over {merged reps ∪ new node ids} IS the merged component's
    * global minimum — the result equals a full recompute over the union
    * of all edges (oracle-verified by `d_incremental_clusters`, spec-pinned
    * in DedupSimilaritySpec; the over-limit shuffle path is pinned equal
    * to the broadcast path there too).
    *
    * At 100 TB: `labels` lives as a catalog table bucketed on `id` (the
    * endpoint-lookup join consumes the bucket layout; the relabel join
    * broadcasts, so the table is never reshuffled), rewritten only for
    * rows whose rep changed — the maintenance cost is O(|day's edges| +
    * |touched components|), never O(corpus).
    */
  def incrementalConnectedComponents(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 25,
      broadcastRelabelLimit: Long = 1000000L): DataFrame = {
    val e = newEdges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint(true) // consumed by the contraction joins + the new-node scan
    val contracted = contractedEdges(labels, e)
      .localCheckpoint(true) // consumed by the CC's collect or its star rounds
    // eager and tiny: one (id, rep) row per touched rep / unseen node. The
    // contracted graph is metadata-scale BY CONTRACT (one edge per
    // component-merging event), so under the bound the relabel broadcast
    // already enforces, the CC's driver union-find takes it in one
    // collect; a mega-batch past the bound runs the star rounds.
    val repMap = connectedComponents(contracted, "ra", "rb",
      maxIter = maxIter, driverEdgeLimit = broadcastRelabelLimit)
    // rep actually changed — self-labeled rows are relabel no-ops
    val changed = repMap.filter(col("id") =!= col("rep"))
    // repMap is already materialized, so the guard count is a cheap local
    // scan, not a recompute
    val smallEnough = changed.count() <= broadcastRelabelLimit
    def hinted(df: DataFrame): DataFrame = if (smallEnough) broadcast(df) else df
    val touched = changed.select(col("id").as("rep"), col("rep").as("new_rep"))
    val relabeled = labels.join(hinted(touched), Seq("rep"), "left")
      .select(col("id"), coalesce(col("new_rep"), col("rep")).as("rep"))
    val newNodes = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .distinct()
      .join(labels.select(col("id")), Seq("id"), "left_anti")
    val newLabels = newNodes
      .join(hinted(changed.select(col("id"), col("rep").as("new_rep"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("new_rep"), col("id")).as("rep"))
    relabeled.unionByName(newLabels)
  }

  /** Partial-overlap / containment pairs via shared content-defined
    * chunks: documents are cut at rolling-hash boundaries
    * ([[Text.cdcChunkFrame]]), and any two documents sharing enough chunk
    * fingerprints are reported with their containment score
    * `shared / min(|chunks_a|, |chunks_b|)`. This catches what whole-doc
    * MinHash misses: a small document embedded verbatim inside a large one
    * has low global Jaccard but containment ≈ 1.
    *
    * Scale shape: candidates come from the `chunk_fp` self-join — a plain
    * hash shuffle on the fingerprint, O(n · bucket_width), never a cross
    * product. Fingerprints shared by more than `hotCap` documents are
    * boilerplate (headers, license blocks) and are excluded BEFORE the
    * join — the guard that keeps a 100 TB corpus's quadratic hot buckets
    * out (the same role the band-width guard plays in MinHash LSH).
    */
  def cdcContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      n: Int = 8,
      mask: Int = 16,
      hotCap: Int = 10,
      minContainment: Double = 0.5): DataFrame = {
    // distinct (id, fp): shared-chunk counting is per distinct fingerprint
    val fps = chunkFps(df, idCol, textCol, n, mask)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager-materialize the small pair set, then release the fp cache
    // (the minhashPairs/simhashPairs contract)
    try cdcContainmentJoin(fps, hotCap, minContainment).localCheckpoint(true)
    finally fps.unpersist()
  }

  private def chunkFps(
      df: DataFrame, idCol: String, textCol: Column, n: Int, mask: Int): DataFrame =
    Text.cdcChunkFrame(df, idCol, textCol, n, mask)
      .select(col(idCol).as("id"), col("chunk_fp")).distinct()

  /** The candidate/score pipeline of [[cdcContainmentPairs]] over a
    * prepared (id, chunk_fp) frame — factored out lazily (no persist /
    * checkpoint) so plan audits can assert the join shape the public
    * method executes (the checkpointed result's plan is just a
    * materialized-RDD scan).
    */
  private[graft] def cdcContainmentJoin(
      fps: DataFrame, hotCap: Int, minContainment: Double): DataFrame = {
    val counts = fps.groupBy("id").agg(count(lit(1)).as("nc"))
    val cool = fps.join(
      fps.groupBy("chunk_fp").agg(count(lit(1)).as("w"))
        .filter(col("w") > hotCap).select("chunk_fp"),
      Seq("chunk_fp"), "left_anti")
    cool.select(col("id").as("id_a"), col("chunk_fp"))
      .join(cool.select(col("id").as("id_b"), col("chunk_fp")), "chunk_fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_chunks"))
      .join(counts.select(col("id").as("id_a"), col("nc").as("na")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("nc").as("nb")), "id_b")
      .withColumn("containment",
        round(col("shared_chunks") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "shared_chunks", "containment")
  }

  /** Lazy end-to-end plan of [[cdcContainmentPairs]] for plan audits. */
  private[graft] def cdcContainmentPlan(
      df: DataFrame, idCol: String, textCol: Column,
      n: Int = 8, mask: Int = 16,
      hotCap: Int = 10, minContainment: Double = 0.5): DataFrame =
    cdcContainmentJoin(chunkFps(df, idCol, textCol, n, mask), hotCap, minContainment)

  /** The "clusters → survivors" corpus filter: drop every document whose
    * component representative is a smaller id, via `left_anti` on the loser
    * set. No broadcast hint on purpose: at heavy duplication the loser set
    * is a large fraction of the corpus, and AQE already promotes it to a
    * broadcast join when it measures small.
    */
  def keepSurvivors(df: DataFrame, idCol: String, pairEdges: DataFrame): DataFrame = {
    val losers = connectedComponents(pairEdges)
      .filter(col("rep") < col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivor selection — [[keepSurvivors]] with the
    * "which copy do we keep?" decision made on MERIT instead of id order:
    * within each near-dup cluster the document with the HIGHEST
    * `quality` survives (ties to the smallest id, so the choice is
    * total and deterministic); documents in no cluster pass through.
    * This is the curation rule real pipelines want — near-dup clusters
    * mix truncated/boilerplated variants of one source, and "smallest
    * id" keeps an arbitrary one while "highest quality" keeps the least
    * damaged one.
    *
    * Shape: the component labels from [[connectedComponents]] (one
    * bounded driver collect under its edge bound, star rounds past it)
    * join back to (id, quality) — cluster-member-sized, tiny next to
    * the corpus — and one window over the `rep` partitioning picks each
    * cluster's argmax. The corpus itself is touched exactly once, by the
    * final `left_anti` of the losers (same no-broadcast-hint reasoning as
    * [[keepSurvivors]]: AQE promotes the loser side when it measures
    * small). At 100 TB: labels and quality are per-DOC frames, every
    * join/window keys on id/rep — no all-pairs anything.
    *
    * `quality` must be evaluable on `df`'s rows (a column or expression
    * over them).
    */
  def keepBestSurvivors(
      df: DataFrame,
      idCol: String,
      pairEdges: DataFrame,
      quality: Column): DataFrame = {
    val q = df.select(col(idCol).cast("long").as("id"), quality.as("__q"))
    val byCluster = Window.partitionBy("rep")
      .orderBy(col("__q").desc, col("id"))
    val losers = connectedComponents(pairEdges)
      .join(q, "id")
      .withColumn("__rk", row_number().over(byCluster))
      .filter(col("__rk") > 1)
      .select(col("id").cast(df.schema(idCol).dataType).as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** EXACT set-similarity self-join (AllPairs/PPJoin prefix filtering,
    * Bayardo et al. 2007 / Vernica et al. 2010): all pairs whose DISTINCT
    * token sets have Jaccard ≥ `threshold` — with NO false negatives,
    * the guarantee the MinHash path ([[minhashPairs]]) trades away for
    * speed. The two are complementary: LSH when a small miss probability
    * is acceptable, this when the dedup must be provably lossless (legal
    * holds, benchmark decontamination audits).
    *
    * Candidate generation is the prefix-filter theorem, relationally:
    * tokens get a GLOBAL rarity order (document frequency asc, token asc
    * — no global rank materialized, the (df, tok) tuple itself is the
    * order), each document keeps only its first `s − ⌈τ·s⌉ + 1` rarest
    * tokens as its prefix, and candidates are the pairs sharing a PREFIX
    * token (one equi-join on tok). If J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(sa,
    * sb)⌉, and a set's suffix holds fewer than ⌈τ·s⌉ intersection tokens
    * by construction, so both prefixes must contain an intersection token
    * and the classic t-prefix theorem puts a COMMON one in both — every
    * qualifying pair survives. A size filter (min(sa,sb) ≥ τ·max(sa,sb),
    * necessary since J ≤ min/max) prunes candidates before verification;
    * the exact Jaccard verify (one pair×token join + count) removes false
    * positives.
    *
    * 100 TB shape: the join key is PREFIX tokens only — the corpus's
    * RAREST tokens — so bucket widths are bounded by rare-token df, never
    * by stopword df (a stopword enters a prefix only for documents almost
    * entirely made of stopwords); candidate volume is Σ_prefix-tok C(df,
    * 2), the quantity prefix filtering exists to bound. Everything
    * shuffles on tok or (a, b); no all-pairs stage anywhere. The df
    * aggregation and per-doc prefix window ride one (id)-keyed shuffle.
    *
    * Output: (a, b, jaccard) with a < b, jaccard rounded to 4 decimals
    * (+1e-9 boundary nudge, the [[ngramJaccardPairs]] convention).
    */
  def setSimilarityJoin(
      df: DataFrame,
      idCol: String,
      tokens: Column,
      threshold: Double): DataFrame = {
    val toks = setSimTokens(df, idCol, tokens, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the result is pair-bounded; materialize so the persist scope can
    // close before the caller consumes it
    try setSimilarityJoinBody(toks, threshold).localCheckpoint(true)
    finally toks.unpersist()
  }

  /** Lazy end-to-end plan of [[setSimilarityJoin]] for plan audits (the
    * [[cdcContainmentPlan]] convention — the production path checkpoints,
    * which hides the plan).
    */
  private[graft] def setSimilarityJoinPlan(
      df: DataFrame, idCol: String, tokens: Column, threshold: Double): DataFrame =
    setSimilarityJoinBody(setSimTokens(df, idCol, tokens, threshold), threshold)

  private def setSimTokens(
      df: DataFrame, idCol: String, tokens: Column, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1] — at 0 the prefix is the " +
        "whole set and the join degenerates to all-pairs")
    df.select(col(idCol).cast("long").as("id"),
      explode(array_distinct(tokens)).as("tok"))
  }

  private def setSimilarityJoinBody(toks: DataFrame, threshold: Double): DataFrame = {
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("s"))
    val dfT = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc rarity order; tok is distinct within a doc so the order
    // is total and the prefix deterministic
    val byDoc = Window.partitionBy("id").orderBy("df", "tok")
    val prefix = toks.join(dfT, "tok")
      .join(sizes, "id")
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= col("s") - ceil(lit(threshold) * col("s")) + 1)
      .select("id", "tok", "s")
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id") &&
          least(col("x.s"), col("y.s")) >=
            lit(threshold) * greatest(col("x.s"), col("y.s")))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.s").as("sa"), col("y.s").as("sb"))
      .distinct()
    val ta = toks.select(col("id").as("a"), col("tok"))
    val tb = toks.select(col("id").as("b"), col("tok"))
    cand.join(ta, "a").join(tb, Seq("b", "tok"))
      .groupBy("a", "b", "sa", "sb").agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("sa") + col("sb") - col("c"))
          + 1e-9, 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Benchmark decontamination — the train/eval overlap check every
    * pretraining corpus needs before release: a training document is
    * contaminated if it shares at least one word-n-gram with any benchmark
    * document (the n-gram-overlap criterion of the published
    * decontamination protocols; n chosen long enough that chance collisions
    * vanish and only genuine copying matches).
    *
    * `isBench` splits one corpus frame into the two sides. The benchmark
    * side is small by nature (eval suites are thousands of documents
    * against a corpus of billions), so its exploded gram set is BROADCAST
    * and the training side joins map-side — the full corpus never
    * shuffles; only matched (train, bench, gram) rows reach the final
    * small aggregation.
    *
    * Output: one row per contaminated training doc —
    * (id, n_bench_docs, first_bench_id, n_shared_grams).
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      grams: Column,
      isBench: Column): DataFrame = {
    val g = corpus.select(col(idCol).as("id"), isBench.as("is_bench"),
      explode(array_distinct(grams)).as("gram"))
    val bench = g.filter(col("is_bench"))
      .select(col("gram"), col("id").as("bench_id"))
    g.filter(!col("is_bench"))
      .join(broadcast(bench), "gram")
      .groupBy("id")
      .agg(
        countDistinct("bench_id").as("n_bench_docs"),
        min("bench_id").as("first_bench_id"),
        count(lit(1)).as("n_shared_grams"))
  }

  /** [[decontaminate]] for the regime where the benchmark gram table is
    * too large to broadcast EXACTLY (a full eval-suite union easily runs
    * to 10^8 grams — gigabytes as (gram, bench_id) rows, but ~120 MB as
    * a 1%-fpp Bloom filter): a Bloom filter over the distinct benchmark
    * grams (Spark's own `stat.bloomFilter` sketch) is broadcast and
    * pre-prunes the training-side gram stream BEFORE the verify join, so
    * only true hits plus the fpp sliver of false positives reach the
    * shuffle. The verify join then runs WITHOUT a broadcast hint — in
    * this regime it is a shuffle join by assumption, and the bloom
    * pre-prune is exactly what makes that shuffle tiny (|hits| +
    * fpp·|train grams| rows instead of every training gram). False
    * positives cannot reach the output — the exact join discards them —
    * so the result is row-identical to [[decontaminate]]
    * (`d_decontaminate_bloom` pins that with the SAME oracle). The probe
    * is a scalar UDF over the broadcast sketch: no Catalyst expression
    * exposes BloomFilter.mightContain, and the per-row work is two
    * hashes — not a codegen-relevant loss on a stream the filter is
    * about to shrink ~100×.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      idCol: String,
      grams: Column,
      isBench: Column,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    val g = corpus.select(col(idCol).as("id"), isBench.as("is_bench"),
      explode(array_distinct(grams)).as("gram"))
    val bench = g.filter(col("is_bench"))
      .select(col("gram"), col("id").as("bench_id"))
    val distinctBench = bench.select("gram").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = math.max(1L, distinctBench.count())
      val bloom = distinctBench.stat.bloomFilter("gram", n, fpp)
      val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
      try {
        val mightContain = udf((s: String) => s != null && bc.value.mightContain(s))
        // materialize BEFORE releasing the broadcast: the sketch is
        // ~120 MB at the documented scale, and a lazily-returned plan
        // would pin it in driver+executor memory for the session (the
        // contamination report itself is per-contaminated-doc, tiny)
        g.filter(!col("is_bench"))
          .filter(mightContain(col("gram")))
          .join(bench, "gram") // shuffle join of the PRUNED stream — no broadcast
          .groupBy("id")
          .agg(
            countDistinct("bench_id").as("n_bench_docs"),
            min("bench_id").as("first_bench_id"),
            count(lit(1)).as("n_shared_grams"))
          .localCheckpoint(true)
      } finally bc.destroy()
    } finally distinctBench.unpersist()
  }

  /** Positions of word n-grams that also occur in at least `minDocs − 1`
    * OTHER documents: (id, pos, gram) → the cross-document duplicated
    * subset. Shared first stage of [[dupSpans]] and [[dupGramCoverage]].
    *
    * Positions are 1-based word indices (the gram starting at word `pos`),
    * matching the oracle's `range(1, …)` enumeration. Within-document
    * repetition alone does NOT mark a gram — `countDistinct(id)` counts
    * documents, not occurrences — that signal belongs to
    * [[Text.repetitionSignals]].
    */
  private def dupGramPositions(
      df: DataFrame,
      idCol: String,
      toks: Column,
      n: Int,
      minDocs: Int): (DataFrame, DataFrame) = {
    // materialize the token array at a projection boundary BEFORE the
    // shingle transform: slices inside the transform lambda then reference
    // the bound array instead of re-running the tokenizer per position
    // (measured 6× on the explode stage at sf0.1)
    val grams = df.select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), posexplode(wordShingles(col("tk"), n)))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
    val dup = grams.groupBy("gram")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("gram")
    (grams, dup)
  }

  /** Substring-level duplicate spans — the exact-substring dedup modality
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"), re-expressed relationally: instead of a suffix array, mark
    * every word n-gram that occurs in ≥ `minDocs` distinct documents, then
    * merge CONSECUTIVE duplicated gram positions per document into maximal
    * runs. A run of g consecutive duplicated n-grams certifies a duplicated
    * substring of g + n − 1 words — document-level Jaccard never sees these
    * when the surrounding text differs (partial copying, shared quotes,
    * templated sections).
    *
    * Output: (id, start_pos, n_grams, span_words) per maximal run with at
    * least `minRun` grams; `start_pos` is the 1-based word index of the
    * span's first word and `span_words` = (max pos − min pos) + n its word
    * length.
    *
    * Scale shape: cost is O(total grams), NEVER O(doc pairs) — one
    * aggregation on the gram (hash shuffle), a semi-join back on the same
    * key, and one per-document window for the run merge. A boilerplate gram
    * occurring in millions of documents contributes one aggregation row and
    * linear join-back rows — there is no pairwise blowup, which is exactly
    * why span detection complements the pair-producing LSH paths at 100 TB.
    */
  def dupSpans(
      df: DataFrame,
      idCol: String,
      toks: Column,
      n: Int,
      minDocs: Int = 2,
      minRun: Int = 2): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (cross-document)")
    require(minRun >= 1, s"minRun=$minRun must be >= 1")
    val (grams, dup) = dupGramPositions(df, idCol, toks, n, minDocs)
    mergeRuns(grams.join(dup, Seq("gram"), "left_semi"), n, minRun)
  }

  /** Gaps-and-islands run merge over marked (id, pos) gram positions:
    * consecutive positions share (pos − row_number), one window over the
    * per-document shuffle. Shared tail of [[dupSpans]] and
    * [[dupSpansAgainstIndex]] so the batch and incremental paths cannot
    * drift.
    */
  private def mergeRuns(marked: DataFrame, n: Int, minRun: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    marked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp")
      .agg(
        min("pos").as("start_pos"),
        count(lit(1)).as("n_grams"),
        (max("pos") - min("pos") + n).as("span_words"))
      .filter(col("n_grams") >= minRun)
      .drop("grp")
  }

  /** The persisted gram index: `_grams`, `_meta` (see [[writeGramIndex]]). */
  val Grams = new TableFamily("_grams", "_meta")

  /** Persist the cross-document gram index as a bucketed catalog table —
    * the production shape of incremental substring-dedup, mirroring
    * [[writeMinhashIndex]]: the corpus's grams are aggregated once, and
    * each ingest day marks its new documents against the REOPENED table
    * with zero Exchange on the index side.
    *
    * Tables:
    *  - `<prefix>_grams` (gram, n_docs), bucketed+sorted on `gram` — one
    *    row per distinct gram with its document frequency; the probe join
    *    consumes the bucket layout directly;
    *  - `<prefix>_meta` (n, buckets) — the gram width is baked into the
    *    stored strings, so a reader with a different `n` would silently
    *    match nothing; the read path validates against this record.
    *
    * Maintenance contract: per ingest day, append the day's per-batch
    * (gram, n_docs) partials bucket-aligned — presence tests (the probe's
    * need) read appended partials as-is; df consumers re-aggregate by
    * gram, which the bucketing keeps Exchange-free.
    */
  def writeGramIndex(
      df: DataFrame,
      idCol: String,
      toks: Column,
      n: Int,
      tablePrefix: String,
      buckets: Int): Unit = {
    require(n >= 1, s"n=$n must be >= 1")
    // batch_id = -1 marks the merged/base generation; per-batch ingest
    // stamps its own id so the exactly-once crash scrub can excise a
    // partial append exactly (see exactlyOnceIngestIntoGramIndex) —
    // anti-join scrubs don't work here because the table stores df
    // PARTIALS, not per-document rows
    val counts = df
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), explode(array_distinct(wordShingles(col("tk"), n))).as("gram"))
      .groupBy("gram").agg(countDistinct(col("id")).as("n_docs"))
      .withColumn("batch_id", lit(-1L))
    graft.sources.Sinks.writeBucketedTable(counts, s"${tablePrefix}_grams", buckets, "gram")
    val meta = df.sparkSession.createDataFrame(Seq((n, buckets))).toDF("n", "buckets")
    meta.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${tablePrefix}_meta")
  }

  /** Incremental duplicate spans for a NEW batch against the PERSISTED
    * gram index ([[writeGramIndex]]): a new document's gram position is
    * cross-document-duplicated iff the gram exists in the index (≥ 1
    * indexed document has it) OR ≥ 2 distinct new documents share it —
    * exactly the full-recompute `minDocs = 2` marking restricted to the
    * new batch, so the batch oracle verifies this path unchanged.
    *
    * Plan shape: the index side is a deduplicated scan of the bucketed
    * gram table (aggregation reuses the bucket partitioning — no
    * Exchange; asserted in DedupSimilaritySpec); both marks land as
    * LEFT joins against one-row-per-gram sides (no position fan-out),
    * then the shared [[mergeRuns]] tail. Cost is O(|day| grams), never a
    * corpus re-scan.
    */
  def dupSpansAgainstIndex(
      newDocs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      minRun: Int = 2): DataFrame = {
    require(minRun >= 1, s"minRun=$minRun must be >= 1")
    val spark = newDocs.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val n = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(0)
    val grams = newDocs
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), posexplode(wordShingles(col("tk"), n)))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // distinct-per-gram on the appended index: presence is what the
      // probe needs, and the aggregation rides the bucket partitioning
      val idxDup = spark.table(s"${tp}_grams")
        .select(col("gram")).distinct()
        .withColumn("in_index", lit(1L))
      val newDup = grams.groupBy("gram")
        .agg(countDistinct(col("id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gram"), lit(1L).as("in_batch"))
      val marked = grams
        .join(idxDup, Seq("gram"), "left")
        .join(newDup, Seq("gram"), "left")
        .filter(col("in_index").isNotNull || col("in_batch").isNotNull)
        .select("id", "pos")
      mergeRuns(marked, n, minRun).localCheckpoint(true)
    } finally grams.unpersist()
  }

  /** One ingest cycle of the gram index's maintenance contract (see
    * [[writeGramIndex]]): append the batch's per-batch (gram, n_docs)
    * partials bucket-aligned. Gram width and bucket count come from the
    * index's own `_meta` record, so appended grams are generated with
    * exactly the width the index was built with and land in the layout
    * the probes consume. Unlike the minhash ingest (pairs are emitted
    * per batch), span marking is deferred to [[dupSpansAtDayClose]]:
    * a gram shared by two documents in DIFFERENT micro-batches must mark
    * BOTH documents' positions, which no per-batch probe can do for the
    * earlier one — df partials summed at day close can. Cost per call is
    * O(|batch| grams): one aggregation, one bucketed append, no corpus
    * re-scan.
    */
  def ingestIntoGramIndex(
      batch: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val m = graft.SessionMemo.cachedHead(spark, s"${tp}_meta")
    val (n, buckets) = (m.getInt(0), m.getInt(1))
    val counts = batch
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), explode(array_distinct(wordShingles(col("tk"), n))).as("gram"))
      .groupBy("gram").agg(countDistinct(col("id")).as("n_docs"))
      .withColumn("batch_id", lit(batchId))
    graft.sources.Sinks.writeBucketedTable(
      counts, s"${tp}_grams", buckets, "gram",
      org.apache.spark.sql.SaveMode.Append)
  }

  /** Duplicate spans for the day's documents once every batch has been
    * [[ingestIntoGramIndex appended]]: a position is cross-document
    * duplicated iff the TOTAL document frequency of its gram across all
    * index partials is ≥ 2. Each document contributes exactly 1 to each
    * of its distinct grams' totals (it arrives in exactly one batch and
    * partials count distinct ids), so total ≥ 2 ⟺ at least one OTHER
    * document shares the gram — the full-corpus `minDocs = 2` marking
    * restricted to the probed documents, self-counting handled, with no
    * assumption about how the day was split into batches. The summing
    * aggregation rides the gram table's bucket partitioning (zero
    * Exchange on the index side, pinned in DedupSimilaritySpec).
    */
  def dupSpansAtDayClose(
      dayDocs: DataFrame,
      idCol: String,
      toks: Column,
      tablePrefix: String,
      minRun: Int = 2): DataFrame = {
    require(minRun >= 1, s"minRun=$minRun must be >= 1")
    val spark = dayDocs.sparkSession
    val tp = graft.sources.Sinks.activeTablePrefix(spark, tablePrefix)
    val n = graft.SessionMemo.cachedHead(spark, s"${tp}_meta").getInt(0)
    val dupGrams = spark.table(s"${tp}_grams")
      .groupBy("gram").agg(sum("n_docs").as("df"))
      .filter(col("df") >= 2)
      .select("gram")
    val grams = dayDocs
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), posexplode(wordShingles(col("tk"), n)))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
    mergeRuns(grams.join(dupGrams, Seq("gram"), "left_semi"), n, minRun)
      .localCheckpoint(true)
  }

  /** Excise the duplicated spans from the corpus — the OUTPUT step of
    * exact-substring dedup (Lee et al. 2022 §4: the duplicated substring
    * is removed from the training text, not just reported): every token
    * position covered by a run of `spans` is dropped and the survivors
    * are re-joined in order. Documents with no duplicated spans pass
    * through byte-identical; a fully-covered document survives as an
    * empty string (the curation gate downstream decides whether to keep
    * empty rows).
    *
    * `spans` is a PRECOMPUTED span frame (`id, start_pos, n_grams,
    * span_words` — [[dupSpans]]' shape): a real pipeline materializes the
    * span report once and feeds both the audit and the rewrite from it,
    * so the expensive marking never runs twice.
    *
    * Plan shape: one `posexplode` of the token arrays, one anti-join
    * against the exploded covered positions (both sides shuffle on the
    * id), and one per-document sort-aggregation that rebuilds the text
    * (`array_sort` on (pos, tok) structs, then a projection join — no
    * order-dependent `collect_list` assumption). Every term is linear in
    * total token positions; nothing depends on how many documents share
    * a span.
    */
  def removeSpans(
      df: DataFrame,
      idCol: String,
      toks: Column,
      spans: DataFrame): DataFrame = {
    val covered = spans.select(col("id"),
        explode(sequence(col("start_pos"),
          col("start_pos") + col("span_words") - 1)).as("pos"))
      .distinct()
    val tokens = df
      .select(col(idCol).as("id"), toks.as("tk"))
      .select(col("id"), posexplode(col("tk")))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
    val kept = tokens.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"), size(toks).cast("long").as("n_toks"))
      .join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-document duplicated-gram coverage: the fraction of a document's
    * n-gram positions that are cross-document duplicates ([[dupSpans]]'
    * marking stage, aggregated instead of run-merged). The corpus filter
    * built on top drops documents above a coverage threshold — the
    * "mostly-duplicated document" gate (RefinedWeb-style) that doc-level
    * survivor filters under-catch when each individual overlap partner is
    * different.
    *
    * Output: (id, n_grams, n_dup, dup_frac) for every document with at
    * least one gram; `dup_frac` rounded to 4 decimals with the shared
    * +1e-9 presentation nudge.
    */
  def dupGramCoverage(
      df: DataFrame,
      idCol: String,
      toks: Column,
      n: Int,
      minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (cross-document)")
    val (grams, dup) = dupGramPositions(df, idCol, toks, n, minDocs)
    grams.join(dup.withColumn("is_dup", lit(1L)), Seq("gram"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum("is_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_grams") + 1e-9, 4))
  }

  /** Embedding near-dup pairs: cosine ≥ `threshold` restricted to pairs
    * sharing `sameCol` (a precomputed cluster/label — part of the query's
    * SEMANTICS, applied as a filter on verified pairs, never as the join
    * key). At the low thresholds this operator serves (τ well below the
    * true near-dup regime), NO lossless geometric blocking exists — on
    * this corpus every IVF multi-assign config with zero misses at τ=0.38
    * costs at least brute force (measured, dated table in BASELINE.md;
    * the collision probability per hyperplane at τ=0.38 is ≈0.62, so
    * OR-amplified LSH needs table counts whose candidate volume exceeds
    * n²). Exact low-τ similarity join is therefore run as an exact
    * CHUNKED BLOCK-MATRIX self-join: ids hash into ⌈n/chunkRows⌉ chunks,
    * each unordered chunk pair (ca ≤ cb) is one equi-join task on the
    * composite key — the classic O(n·√P) triangular replication scheme.
    * Total compute stays Θ(n²) (information-theoretically required for
    * exact low-τ on near-isotropic vectors) but no task ever holds more
    * than ~chunkRows² candidates: a bounded label vocabulary can no
    * longer concentrate an entire label's O(block²) pairs on one reducer,
    * and parallelism is ⌈n/chunkRows⌉² /2 tasks regardless of skew in
    * `sameCol`. For the true near-dup regime use [[embeddingPairsGeo]].
    *
    * Norms are precomputed per vector (O(n)), so the O(pairs) verify
    * evaluates only the dot product — measured 3× over per-pair norm
    * recompute. The row count (one metadata-cheap count job) sizes the
    * chunk grid.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      sameCol: String,
      threshold: Double,
      chunkRows: Int = 4096): DataFrame = {
    require(chunkRows > 0, s"chunkRows=$chunkRows must be positive")
    val spark = df.sparkSession
    val n = df.count()
    val nchunks = math.max(1L, (n + chunkRows - 1) / chunkRows)
    val v = df.select(col(sameCol).as("grp"), col(idCol).as("id"), col(embCol).as("e"))
      .withColumn("nrm", l2Norm(col("e")))
      .withColumn("c", pmod(xxhash64(col("id")), lit(nchunks)))
    val chunks = spark.range(nchunks)
    // triangular replication: each row rides along to every chunk pair it
    // participates in — x carries its own chunk as ca (joined to all
    // cb ≥ ca), y symmetrically as cb — so the join is a plain equi-join
    // on (ca, cb) whose tasks are exactly the bounded chunk-pair tiles.
    val xr = v.withColumnRenamed("c", "ca")
      .crossJoin(broadcast(chunks.select(col("id").as("cb"))))
      .filter(col("ca") <= col("cb"))
    val yr = v.withColumnRenamed("c", "cb")
      .crossJoin(broadcast(chunks.select(col("id").as("ca"))))
      .filter(col("ca") <= col("cb"))
    xr.as("x").join(yr.as("y"),
        col("x.ca") === col("y.ca") && col("x.cb") === col("y.cb") &&
          (col("x.ca") < col("x.cb") || col("x.id") < col("y.id")))
      .select(
        col("x.grp").as("block"), col("y.grp").as("grp_y"),
        least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        round(dotD(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= threshold && col("block") === col("grp_y"))
      .select(col("block"), col("a"), col("b"), col("cos"))
  }

  /** Geometry-blocked embedding near-dup pairs — the sub-quadratic path
    * for the TRUE near-dup regime (high thresholds): candidates are pairs
    * sharing at least one of each vector's `assign` nearest IVF cells
    * (SOAR-style multi-assignment, [[Similarity.assignToCentroidsMulti]]
    * — a pair straddling a cell boundary is co-listed through either
    * side's secondary cell), verified by exact cosine. Candidate volume is
    * Σ_cells C(w,2) ≈ assign²/nlist · n²/2 — with nlist grown ~√n in
    * production the pair join is O(n^1.5 · assign²), never all-pairs —
    * and the blocking key is pure geometry: no metadata column shapes the
    * join.
    *
    * Approximate by construction: a pair whose assignment sets are
    * disjoint is missed. The regime boundary on this corpus is measured
    * (BASELINE.md): at τ=0.38 zero-miss configs cost ≥ brute force —
    * use [[embeddingPairs]] — while at τ=0.5 nlist=16/assign=3 is
    * empirically lossless at both test SFs; the all-pairs DuckDB oracle
    * on `d_embedding_cos_geo` is that losslessness certificate, re-proven
    * every round. The certificate is corpus- AND config-specific, not a
    * property of the operator: the 2026-08-14 decade (BASELINE.md
    * "Embedding pair-join decade") measured recall decaying to 0.870 at
    * 10× (and 0.502 with nlist grown ~√n at fixed assign) on this
    * near-isotropic corpus, because τ=0.5 is still
    * a ~60° angle there. This operator is the opt-in for genuinely
    * clustered high-τ corpora (SemDeDup at cos≥0.9 on real embeddings);
    * [[embeddingPairs]] is the safe default — always check the recall
    * certificate on the target corpus rather than assuming it.
    */
  def embeddingPairsGeo(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      nlist: Int = 16,
      assign: Int = 3,
      iters: Int = 3): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("e"))
      .withColumn("nrm", l2Norm(col("e")))
    val cents = Similarity.ivfCentroids(df, idCol, embCol, nlist, iters)
    val listed = v.join(
      Similarity.assignToCentroidsMulti(v, "id", "e", cents, assign), "id")
    listed.as("x").join(listed.as("y"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(dotD(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      // multi-assigned pairs can collide through up to `assign` shared
      // cells — the dot product is order-deterministic per pair, so the
      // duplicates are exact and distinct() removes them
      .distinct()
  }
}

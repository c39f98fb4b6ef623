package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** Scale validation for the dedup family beyond sf0.1: synthesizes a 10×
  * documents corpus from sf0.1 (50k docs) and times the dedup queries at 1×
  * and 10× to measure the observed scaling exponent — the evidence behind
  * the "bucketed, not all-pairs" design claims.
  *
  * Corpus synthesis preserves duplicate STRUCTURE instead of multiplying
  * it: each of the 10 copies rewrites every 5th token (offset by copy id)
  * to a copy-unique token, so the planted near-dup pairs inside a copy keep
  * their high Jaccard while cross-copy similarity collapses below every
  * pipeline threshold. Pair density therefore scales ~linearly (10× docs →
  * ~10× pairs), which is the regime the LSH pipelines claim linearity in —
  * naively unioning identical copies would instead make every document a
  * 10-clique and measure the heavy-duplication regime, a different (also
  * valid, but not claimed) stress.
  *
  * Query timing mirrors Bench: JIT warmup at sf0.001 first, SQL cache
  * cleared before each measurement, and the pair-edge memo means
  * d_minhash_lsh pays the shared signature pipeline while
  * d_clusters/d_dedup_keep measure their own incremental cost — the same
  * shape a suite run has.
  */
object ScaleBench {

  private val DedupFamily = Seq(
    "d_exact", "d_minhash_lsh", "d_clusters", "d_dedup_keep",
    "d_simhash", "d_simhash_pairs", "d_ngram_jaccard",
    // round-4 late additions — all documents-only, so the synthetic corpus
    // covers them. Note for d_cdc_containment: chunks short enough to span
    // only unperturbed token runs recur in all 10 copies, so their
    // fingerprints exceed hotCap and the hot-guard drops them — the 10×
    // run exercises exactly the boilerplate-exclusion path that keeps the
    // fp self-join bounded on real corpora.
    "d_cdc_containment", "d_incremental", "d_curate",
    // round-6: star-algorithm CC — same pair-edge memo as d_clusters, so
    // its timing is the algorithm's own incremental cost
    "d_clusters_star",
    // round-5 additions. d_decontaminate's benchmark split stays 2% of the
    // corpus, so the broadcast side grows 10× but remains KBs; copy-unique
    // rewritten tokens kill cross-copy 5-gram overlap, so contamination
    // pairs (like the LSH pairs) scale ~linearly. tx_boilerplate's
    // blocklist is top-500 regardless of corpus size — only the gram
    // explode and df agg grow. tx_unigram_nll grows the vocabulary with
    // the copy-unique tokens (the broadcastable-vocab claim under 10×).
    "d_decontaminate", "tx_boilerplate", "tx_unigram_nll",
    // round-9: the bloom-pruned twin rides the same corpus — its decade
    // exponent should track d_decontaminate's (the sketch build is one
    // extra pass over the bench grams, the join input strictly shrinks)
    "d_decontaminate_bloom",
    // data-derived keep-rates: one tiny agg + broadcast regardless of
    // corpus size — the 10× run checks the rates join stays broadcast
    "d_lang_balance",
    // round-5: PMI shares the documents corpus; the bounded top-150 vocab
    // must stay a broadcast while the df aggregation and pair join grow
    "tx_pmi")

  /** Round-5 warehouse/analytics family over the synthesized 10× TPC-H-ish
    * tables. Copies are key-offset so they form DISJOINT subpopulations
    * (separate customers, baskets, users): pair/edge counts scale
    * linearly, which is exactly the bucketed-join regime the designs
    * claim. Part keys stay CONTIGUOUS across copies so every derived
    * hierarchy parent exists (the tree gets deeper, no dangling pointers).
    */
  private val WarehouseFamily = Seq(
    "q_scd2", "q_cohort", "q_transitions", "q_concurrency", "q_ewma",
    "q_rolling_wau", "q_assoc_rules", "q_triangles", "q_hierarchy",
    // graph tier: disjoint copies multiply strong edges ~linearly (each
    // copy is an independent subgraph), so rank/BFS rounds stay
    // linear-per-round; both operators re-size their shuffle width from
    // the measured 10× edge count
    "q_pagerank", "q_bfs_depth",
    // audits: single-pass aggregations + anti-joins over the 10× tables
    "dq_uniqueness", "dq_ref_integrity")

  /** Round-7: the substring-dedup family — gram df aggregation + semi-join
    * back + per-document window. The 10× corpus's copy-unique rewritten
    * tokens (every 5th position) kill cross-copy 5-gram matches (every
    * 5-gram window contains exactly one rewritten position), while
    * within-copy duplicated grams between planted near-dup docs survive —
    * so duplicated-gram mass scales ~linearly, the claimed regime for the
    * O(total grams) design (cost must never depend on doc-pair counts).
    */
  private val SubstrFamily = Seq("d_dup_spans", "d_dup_coverage")

  /** Round-8: the text-battery family over the 10× documents corpus —
    * the tokenizer/statistics tier that had per-query bench numbers but
    * no measured decade. tx_bpe_merges aggregates the 10× pair counts
    * into the SAME 40-merge budget (per-round shuffles grow with the
    * distinct-word vocabulary, which the copy-unique rewritten tokens
    * grow ~linearly); tx_bpe_encode replays the merge table row-local
    * over 10× words; tx_bigram_nll's bigram table and predecessor sums
    * grow with the vocabulary while V stays broadcast-sized; tx_tfidf /
    * tx_bm25 are df-agg + per-doc join shapes (term-keyed hash shuffles);
    * tx_zipf is one corpus agg + window over the distinct vocabulary.
    * d_fuzzy_join rides along — with a caveat the measurement surfaced:
    * unlike word-5-grams, char-4-grams are LOCAL (a rewritten every-5th
    * token only perturbs its surrounding grams), so copies of the same
    * document keep char-gram Jaccard ≥ 0.6 ACROSS copies and the true
    * pair count grows super-linearly (120 → 1923 at 10×). Time still
    * scales at exp 0.71 because signing dominates and banding is
    * O(n·bucket + pairs) — the honest cost model: output-linear in a
    * pair count the corpus, not the operator, determines.
    */
  private val TextFamily = Seq(
    // bigram NLL runs FIRST deliberately: measured after the BPE queries
    // at 100x it reads 5x slower (166 s vs 33 s) because their memoized
    // encoded-vocabulary frames stay resident and squeeze its three
    // string-keyed shuffles into spill — the d_dup_coverage artifact
    // class, adjudicated with isolation timings in BASELINE.md.
    "tx_bigram_nll", "tx_bpe_merges", "tx_bpe_encode",
    "tx_tfidf", "tx_bm25", "tx_zipf", "d_fuzzy_join")

  /** Round-7: the two non-equi join shapes whose scaling exponent the
    * equi-join skew batch can't see. q_asof_join linearizes a union of
    * both sides through one per-key window (events × orders on offset-
    * disjoint user/customer keys — rows per key grow ~1×, keys grow 10×,
    * so the sort-within-partition cost should scale ~linearly);
    * q_range_join is an equi join on the offset orderkey with a 30-day
    * inequality residual (candidate rows per key are copy-local, so the
    * post-join filter also grows ~linearly — the inequality never turns
    * the equi join into a per-key cross product here).
    */
  private val RangeJoinFamily = Seq("q_asof_join", "q_range_join")

  /** Round-7: ANN-tier scaling with a FIXED query set against a growing
    * corpus — the serving regime (the suite queries grow their query set
    * with the corpus, which measures a different thing). Each copy of the
    * 10× corpus cyclically rotates the embedding dimensions by c·7, so
    * within-copy cosine structure (including the planted near-dup pairs)
    * is preserved EXACTLY while cross-copy similarity collapses to
    * background — per-query true-neighbor structure stays constant and
    * only corpus size grows. Expected exponents ≈ 1 for every path: brute
    * scans the corpus, LSH/PQ/IVF scan their bucketed/compressed fraction
    * — the measurement pins that none of them hides a super-linear step
    * (and separates the IVF index BUILD, paid once, from the probe).
    * Index parameters are held fixed (nlist=16) across scales so the
    * ratio is interpretable; production would grow nlist ~√n, making the
    * probe sub-linear.
    */
  private def runAnn(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Similarity
    import graft.sources.{Sinks, Tables}

    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }

    // fixed query set: the 1× queries (copy 0 of the 10× corpus is
    // byte-identical to the 1× table, so they exist at both scales)
    val q = Tables.load(spark, src, "embeddings")
      .filter(col("vec_id") % 50 === 0).localCheckpoint(true)

    def timeOne(f: => Long): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def suite(dir: String, tag: String): Seq[(String, (Double, Long))] = {
      val e = Tables.load(spark, dir, "embeddings")
      val prefix = s"annscale_$tag"
      Similarity.Ivf.drop(spark, prefix)
      val pqPrefix = s"annscale_pq_$tag"
      Similarity.IvfPq.drop(spark, pqPrefix)
      Seq(
        "ann_brute" -> timeOne(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3).count()),
        "ann_lsh" -> timeOne(
          Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3).count()),
        "ann_pq" -> timeOne(
          Similarity.pqTopK(q, e, "vec_id", "embedding", k = 3).count()),
        "ann_ivf_build" -> timeOne {
          Similarity.writeIvfIndex(e, "vec_id", "embedding", prefix,
            buckets = 8, nlist = 16, iters = 3)
          spark.table(s"${prefix}_lists").count()
        },
        "ann_ivf_probe" -> timeOne(
          Similarity.ivfTopKAgainstIndex(q, prefix, "vec_id", "embedding",
            k = 3, nprobe = 4).count()),
        "ann_ivfpq_build" -> timeOne {
          Similarity.writeIvfPqIndex(e, "vec_id", "embedding", pqPrefix,
            buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2)
          spark.table(s"${pqPrefix}_codes").count()
        },
        "ann_ivfpq_probe" -> timeOne(
          Similarity.ivfPqTopKAgainstIndex(q, pqPrefix, "vec_id", "embedding",
            k = 3, nprobe = 4, shortlist = 128).count()))
    }

    // JIT warmup (untimed) at the smallest SF
    suite("/root/testdata/sf0.001", "warm")
    val x1 = suite(src, "x1").toMap
    val x10 = suite(scaleDir, "x10").toMap
    val names = Seq("ann_brute", "ann_lsh", "ann_pq", "ann_ivf_build", "ann_ivf_probe",
      "ann_ivfpq_build", "ann_ivfpq_probe")
    println(f"${"query"}%-18s ${"x1 sec"}%8s ${"x10 sec"}%8s ${"ratio"}%7s ${"exp"}%5s ${"x1 rows"}%9s ${"x10 rows"}%9s")
    names.foreach { n =>
      val (t1, r1) = x1(n); val (t10, r10) = x10(n)
      val ratio = t10 / t1
      println(f"$n%-18s $t1%8.2f $t10%8.2f $ratio%7.2f ${math.log10(ratio)}%5.2f $r1%9d $r10%9d")
    }
  }

  /** Round-9: fork (snapshot) vs rebuild across the decade — the cost
    * claim behind the staging-copy verb: a rebuild re-trains the
    * quantizers and re-encodes the corpus (pays the training passes
    * again), a fork is bounded per-table rewrites of the finished
    * index. Both are ~linear in corpus size, but the fork's constant
    * excludes ALL training work, so the absolute gap (which is what a
    * production cutover trial pays) widens with corpus size. Measured
    * at x1/x10 for both the IVF and the flagship IVF-PQ family.
    */
  private def runFork(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Similarity
    import graft.sources.{Sinks, Tables}
    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }
    def timeOne(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // JIT warmup (untimed) at the smallest SF
    for ((tag, dir) <- Seq("warm" -> "/root/testdata/sf0.001",
        "x1" -> src, "x10" -> scaleDir)) {
      val e = Tables.load(spark, dir, "embeddings").localCheckpoint(true)
      val n = e.count()
      val b = s"forkb_$tag"; val fk = s"forkc_$tag"
      val pb = s"forkpqb_$tag"; val pf = s"forkpqc_$tag"
      Seq(b, fk).foreach(Similarity.Ivf.drop(spark, _))
      Seq(pb, pf).foreach(Similarity.IvfPq.drop(spark, _))
      val tBuild = timeOne(Similarity.writeIvfIndex(
        e, "vec_id", "embedding", b, buckets = 8, nlist = 16, iters = 3, assign = 2))
      val tFork = timeOne(Similarity.Ivf.fork(spark, b, fk))
      val tPqBuild = timeOne(Similarity.writeIvfPqIndex(
        e, "vec_id", "embedding", pb,
        buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
        assign = 2))
      val tPqFork = timeOne(Similarity.IvfPq.fork(spark, pb, pf))
      if (tag != "warm")
        println(f"FORK $tag%-4s n=$n%8d  ivf_build $tBuild%6.2f s  " +
          f"ivf_fork $tFork%6.2f s  ivfpq_build $tPqBuild%6.2f s  " +
          f"ivfpq_fork $tPqFork%6.2f s")
    }
  }

  /** Round-8: the 100× decade for the two flattest families (gram-family
    * substring dedup; IVF/IVF-PQ probes under the fixed-query serving
    * regime). The 10× ratios are exponent CEILINGS compressed by fixed
    * overhead; a second decade (10×→100×, 500k docs / 500k vectors)
    * turns them into two-point estimates and would expose any
    * super-linear term hiding under the ~1-second floors. Corpus
    * synthesis extends the 10× rules to 100 copies: documents rewrite
    * every 5th token to a copy-unique token (cross-copy gram mass dies
    * at any copy count); embeddings compose the c·7 dimension rotation
    * with a sign flip for copies ≥ 64 (64 rotations × 2 signs = 128
    * distinct isometries ≥ 100 copies), so within-copy cosine structure
    * is preserved exactly while cross-copy similarity stays at
    * background — only corpus size grows. Index parameters stay fixed
    * (nlist=16) for ratio interpretability, as in the 10× batch.
    */
  private def synthesizeScale100(spark: SparkSession, src: String, dir: String): Unit = {
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "lang", "text")
        .withColumn("c", explode(sequence(lit(0), lit(99))))
        .select(
          (col("doc_id") + col("c") * 10000000L).as("doc_id"),
          col("lang"),
          array_join(
            transform(split(col("text"), "\\s+"), (t, i) =>
              when(pmod(i + col("c"), lit(5)) === 0,
                format_string("cp%d_%d", col("c"), i)).otherwise(t)),
            " ").as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(s"SCALE100 documents written to $dir")
    }
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(99))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1)
              * when(col("c") >= 64, lit(-1.0f)).otherwise(lit(1.0f)))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      println(s"SCALE100 embeddings written to $dir")
    }
  }

  private def runX100(
      spark: SparkSession, src: String, scale10: String, scale100: String): Unit = {
    import graft.operators.Similarity
    import graft.sources.{Sinks, Tables}
    synthesizeScale100(spark, src, scale100)
    // the 10× embeddings normally materialize inside runAnn — ensure here
    if (!new java.io.File(s"$scale10/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scale10/embeddings.parquet")
    }

    // gram family across the three scales
    SubstrFamily.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    def timeSuite(dir: String): Map[String, (Double, Long)] =
      SubstrFamily.map { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir).count()
        n -> (((System.nanoTime() - t0) / 1e9, rows))
      }.toMap
    val g1 = timeSuite(src); val g10 = timeSuite(scale10); val g100 = timeSuite(scale100)

    // ANN: fixed 1× query set, growing corpus; builds separated from probes
    val q = Tables.load(spark, src, "embeddings")
      .filter(col("vec_id") % 50 === 0).localCheckpoint(true)
    def annSuite(dir: String, tag: String): Map[String, (Double, Long)] = {
      val e = Tables.load(spark, dir, "embeddings")
      val prefix = s"annx100_$tag"
      Similarity.Ivf.drop(spark, prefix)
      val pqPrefix = s"annx100_pq_$tag"
      Similarity.IvfPq.drop(spark, pqPrefix)
      def timeOne(f: => Long): (Double, Long) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      Map(
        "ann_brute" -> timeOne(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3).count()),
        "ann_ivf_build" -> timeOne {
          Similarity.writeIvfIndex(e, "vec_id", "embedding", prefix,
            buckets = 8, nlist = 16, iters = 3, assign = 2)
          spark.table(s"${prefix}_lists").count()
        },
        "ann_ivf_probe" -> timeOne(
          Similarity.ivfTopKAgainstIndex(q, prefix, "vec_id", "embedding",
            k = 3, nprobe = 6).count()),
        "ann_ivfpq_build" -> timeOne {
          Similarity.writeIvfPqIndex(e, "vec_id", "embedding", pqPrefix,
            buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
            assign = 2)
          spark.table(s"${pqPrefix}_codes").count()
        },
        "ann_ivfpq_probe" -> timeOne(
          Similarity.ivfPqTopKAgainstIndex(q, pqPrefix, "vec_id", "embedding",
            k = 3, nprobe = 6, shortlist = 128).count()))
    }
    annSuite("/root/testdata/sf0.001", "warm")
    val a1 = annSuite(src, "x1")
    val a10 = annSuite(scale10, "x10")
    val a100 = annSuite(scale100, "x100")

    val all1 = g1 ++ a1; val all10 = g10 ++ a10; val all100 = g100 ++ a100
    println(f"${"query"}%-18s ${"x1 s"}%7s ${"x10 s"}%7s ${"x100 s"}%7s " +
      f"${"e(1-10)"}%8s ${"e(10-100)"}%9s ${"x100 rows"}%10s")
    (SubstrFamily ++ Seq("ann_brute", "ann_ivf_build", "ann_ivf_probe",
        "ann_ivfpq_build", "ann_ivfpq_probe")).foreach { n =>
      val (t1, _) = all1(n); val (t10, _) = all10(n); val (t100, r100) = all100(n)
      println(f"$n%-18s $t1%7.2f $t10%7.2f $t100%7.2f " +
        f"${math.log10(t10 / t1)}%8.2f ${math.log10(t100 / t10)}%9.2f $r100%10d")
    }
  }

  /** Second scale decade for the minhash/CC family — the round-8 x100
    * batch covered the gram family and ANN; this one turns the
    * dedup-family 10× exponent ceilings (≤0.43) into two-point
    * estimates for signing+banding (`d_minhash_lsh`) and star-CC over
    * the banded pairs (`d_clusters_star`, which reuses the suite's
    * shared pair-edge memo so its number is the CC increment). The
    * x100 corpus rewrites every 5th token copy-unique, so cross-copy
    * Jaccard sits far below the 0.7 threshold and the planted pair
    * mass scales linearly with the corpus — band-bucket structure, not
    * pair structure, is what's being stressed.
    */
  private def runX100Mh(
      spark: SparkSession, src: String, scale10: String, scale100: String): Unit =
    runX100Family(spark, src, scale10, scale100,
      Seq("d_minhash_lsh", "d_clusters_star"))

  /** Round-8: text family at the 100× decade. d_fuzzy_join is EXCLUDED
    * deliberately: at 100 copies the cross-copy char-gram pair count is
    * ~C(100,2) per template (~25M pairs at 500k docs) — output-linear in
    * a pair count the synthetic corpus inflates quadratically, so the
    * measurement would time the OUTPUT, not the operator (the 10× batch
    * plus the cost-model note in BASELINE.md already adjudicates this).
    */
  private def runX100Text(
      spark: SparkSession, src: String, scale10: String, scale100: String): Unit =
    runX100Family(spark, src, scale10, scale100,
      TextFamily.filterNot(_ == "d_fuzzy_join"))

  private def runX100Family(
      spark: SparkSession, src: String, scale10: String, scale100: String,
      fam: Seq[String]): Unit = {
    synthesizeScale100(spark, src, scale100)
    fam.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    def timeSuite(dir: String): Map[String, (Double, Long)] =
      fam.map { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir).count()
        n -> (((System.nanoTime() - t0) / 1e9, rows))
      }.toMap
    val m1 = timeSuite(src); val m10 = timeSuite(scale10); val m100 = timeSuite(scale100)
    println(f"${"query"}%-18s ${"x1 s"}%7s ${"x10 s"}%7s ${"x100 s"}%7s " +
      f"${"e(1-10)"}%8s ${"e(10-100)"}%9s ${"x100 rows"}%10s")
    fam.foreach { n =>
      val (t1, _) = m1(n); val (t10, _) = m10(n); val (t100, r100) = m100(n)
      println(f"$n%-18s $t1%7.2f $t10%7.2f $t100%7.2f " +
        f"${math.log10(t10 / t1)}%8.2f ${math.log10(t100 / t10)}%9.2f $r100%10d")
    }
  }

  /** Round-16: the parallel-scaling receipt (r15 verdict #2). The sf0.1
    * suite's 8↔32-core ratios are ≈1 because its residual cost after the
    * overhead cuts is per-job fixed cost and driver-side work — the
    * receipt carried no signal about whether the heavy operators
    * PARALLELIZE. This mode times the compute-bound shuffle/aggregation
    * families (minhash sign+band, BM25 stats+scoring, KN bigram fold,
    * distributed k-means rounds, the gram df aggregation) on the ×10
    * decade corpus (500k docs / 500k vectors) at whatever core count
    * `SPARK_GRAFT_CPUS` names; running it at 8 and at 32 yields the
    * ratio table archived in BASELINE.md. Bench env contract untouched —
    * this is a separate tool entry point.
    */
  private def runCoreScale(
      spark: SparkSession, src: String, scaleDir: String, cpus: String): Unit = {
    import graft.operators.{Similarity, Text}
    import graft.sources.Tables
    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }
    val fam = Seq("d_minhash_lsh", "tx_bm25", "tx_bigram_nll", "d_dup_coverage")
    // JIT warmup at the smallest SF, Bench-style
    fam.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    try Text.knBigramNll(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id",
        graft.functions.CrossHash.tokens(col("text"))).count()
      catch { case _: Throwable => () }
    val results = Seq.newBuilder[(String, Double, Long)]
    fam.foreach { n =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, scaleDir).count()
      results += ((n, (System.nanoTime() - t0) / 1e9, rows))
    }
    // KN fold + k-means at the operator level (their suite queries carry
    // index-lifecycle fixtures that would time the lifecycle, not the
    // compute)
    spark.catalog.clearCache()
    val docs10 = Tables.load(spark, scaleDir, "documents")
    var t0 = System.nanoTime()
    val knRows = Text.knBigramNll(docs10, "doc_id",
      graft.functions.CrossHash.tokens(col("text"))).count()
    results += (("kn_bigram_nll", (System.nanoTime() - t0) / 1e9, knRows))
    spark.catalog.clearCache()
    val e10 = Tables.load(spark, scaleDir, "embeddings")
    t0 = System.nanoTime()
    val kmRows = Similarity.kmeansAssign(e10, "vec_id", "embedding", k = 16, iters = 2).count()
    results += (("kmeans_assign", (System.nanoTime() - t0) / 1e9, kmRows))
    results.result().foreach { case (n, sec, rows) =>
      println(f"CORESCALE cpus=$cpus%-3s $n%-18s $sec%8.2f s ($rows%9d rows)")
    }
  }

  /** Round-9: the hot-bucket cap's skew point (the acting arm of the
    * d_band_stats audit, verdict task 4). A corpus where 10% of documents
    * are near-pure boilerplate — one fixed 60-token banner plus a
    * doc-unique tail token — drives every boilerplate document's four
    * band keys into the SAME bucket per band (the banner's 59 shared
    * shingles dominate every MinHash family minimum), which is exactly
    * the degenerate C(w,2) regime bandBucketStats warns about. Measures
    * the uncapped band join (candidates quadratic in the clique width)
    * vs hotBucketCap=64 at 1× and 10×, and pins that the cap's loss is
    * CONFINED to the boilerplate clique: clean-pair recall (uncapped
    * pairs with no boilerplate endpoint) must be 100% — a clique member
    * is findable by d_exact-style fingerprint dedup for a fraction of
    * the cost, which is where a production pipeline catches it.
    */
  private def runHotCap(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Dedup
    import graft.functions.CrossHash
    val banner = (1 to 60).map(i => s"bp$i").mkString(" ")
    def skewed(dir: String) =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 7,
            concat(lit(banner), lit(" tail"), col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
        .withColumn("__tk", CrossHash.tokens(col("text")))
        .localCheckpoint(true)
    for ((tag, dir) <- Seq("x1" -> src, "x10" -> scaleDir)) {
      val docs = skewed(dir)
      val sh = CrossHash.wordShingles(col("__tk"), 3)
      def run(cap: Int): (Double, Long) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val p = Dedup.minhashPairs(docs, "doc_id", sh,
          k = 16, bands = 4, threshold = 0.7, assumeUnboundedVocab = true,
          hotBucketCap = cap)
        val n = p.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (tU, nU) = run(0)
      val (tC, nC) = run(64)
      // clean pairs: no boilerplate endpoint — the cap must lose none
      val unc = Dedup.minhashPairs(docs, "doc_id", sh,
        k = 16, bands = 4, threshold = 0.7, assumeUnboundedVocab = true)
      val cap = Dedup.minhashPairs(docs, "doc_id", sh,
        k = 16, bands = 4, threshold = 0.7, assumeUnboundedVocab = true,
        hotBucketCap = 64)
      val clean = unc.filter(col("a") % 10 =!= 7 && col("b") % 10 =!= 7)
      val cleanN = clean.count()
      val cleanFound = clean.join(cap, Seq("a", "b"), "left_semi").count()
      println(f"HOTCAP $tag uncapped: $tU%7.1f s, $nU%9d pairs | capped(64): " +
        f"$tC%7.1f s, $nC%9d pairs | clean recall $cleanFound/$cleanN")
    }
  }

  /** Round-9: the embedding pair-join decade (verdict task 2's cost
    * point). x10 corpus = the runAnn rotation-isometry synthesis (within-
    * copy cosine structure exact, cross-copy collapses to background), so
    * the true pair set grows ~linearly while candidate spaces grow 100×.
    * Times three shapes at 1×/10×:
    *  - exact chunked block-matrix join at τ=0.38 (label filter) — the
    *    d_embedding_cos plan. Expected ~quadratic TIME (exactness at low
    *    τ costs Θ(n²) compute by the embblock measurement), but bounded
    *    TASKS: the point is the per-reducer blow-up is gone, the compute
    *    spreads over ⌈n/chunkRows⌉²/2 uniform tiles.
    *  - geometry blocking at τ=0.5 with FIXED nlist=16 — what naive
    *    reuse of the test config would do at scale.
    *  - geometry blocking at τ=0.5 with nlist grown ~√n (the production
    *    rule) — candidate fraction assign²/nlist falls with n, so the
    *    pair join is sub-quadratic.
    */
  private def runEmbPairs(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Dedup
    import graft.sources.Tables
    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }
    def timeOne(f: => Long): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    for ((tag, dir) <- Seq("x1" -> src, "x10" -> scaleDir)) {
      val e = Tables.load(spark, dir, "embeddings").localCheckpoint(true)
      val n = e.count()
      val sqrtNlist = math.ceil(math.sqrt(n.toDouble)).toInt
      val (tExact, nExact) = timeOne(
        Dedup.embeddingPairs(e, "vec_id", "embedding", "label",
          threshold = 0.38, chunkRows = 256).count())
      // exact all-pairs at τ=0.5 — the recall denominator for both geo configs
      val nTrue50 = Dedup.embeddingPairs(e.withColumn("one", lit(1)),
        "vec_id", "embedding", "one", threshold = 0.5, chunkRows = 256).count()
      val (tGeoFix, nGeoFix) = timeOne(
        Dedup.embeddingPairsGeo(e, "vec_id", "embedding", threshold = 0.5,
          nlist = 16, assign = 3).count())
      val (tGeoSqrt, nGeoSqrt) = timeOne(
        Dedup.embeddingPairsGeo(e, "vec_id", "embedding", threshold = 0.5,
          nlist = sqrtNlist, assign = 3).count())
      println(f"EMBPAIRS $tag n=$n%7d  exact@.38 $tExact%7.1f s ($nExact%7d pairs)  " +
        f"geo16@.50 $tGeoFix%6.1f s recall=${nGeoFix.toDouble / nTrue50}%.3f  " +
        f"geo_sqrtn=$sqrtNlist%3d@.50 $tGeoSqrt%6.1f s recall=${nGeoSqrt.toDouble / nTrue50}%.3f " +
        f"(true50=$nTrue50)")
    }
  }

  /** Round-9: the layout-verb decade — training-shard writer and z-tile
    * writer/reader at 1× (sf0.1 events, 100k rows) and 10×. Shard and
    * tile COUNTS are held fixed so the ratio isolates per-row cost (at
    * production you grow both with corpus bytes, keeping per-file size
    * constant — the cost model is rows × log(rows/shards) for the
    * within-shard sort, ~linear here). The z-tile box read's pruning
    * fraction must be SCALE-STABLE: tiles are equal z-volume, so the
    * same box touches the same tile set regardless of corpus size.
    */
  private def runLayout(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.sources.{Sinks, Tables}
    def timeOne[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    for ((tag, dir) <- Seq("x1" -> src, "x10" -> scaleDir)) {
      val ev = Tables.load(spark, dir, "events")
        .select("event_id", "user_id", "value").localCheckpoint(true)
      val n = ev.count()
      val shardDir = java.nio.file.Files.createTempDirectory("graft_lb_shards").toString
      val (tShard, _) = timeOne(
        Sinks.writeTrainingShards(ev, "event_id", shardDir, nShards = 32, salt = "lb_v1"))
      val zDir = java.nio.file.Files.createTempDirectory("graft_lb_ztile").toString
      val (tZw, _) = timeOne(
        Sinks.writeZTiled(ev, zDir, "value", "user_id", bitsPerDim = 8, tileBits = 6))
      val (tZr, nHit) = timeOne(
        Sinks.readZTiled(spark, zDir, 50.0, 150.0, 30.0, 90.0).count())
      println(f"LAYOUT $tag n=$n%8d  shards(32) $tShard%6.1f s  " +
        f"ztile_write $tZw%6.1f s  ztile_box_read $tZr%5.2f s ($nHit rows)")
    }
  }

  /** Round-11: hard-negative mining, brute vs IVF-indexed — the
    * probe-bounded serving-cost point plus the recall-floor evidence for
    * `sim_hard_negatives`' certificate. Same fixed-anchor-batch design
    * as the r10 mode (copy-0 ids at the x scales — identical batch, so
    * the decade isolates per-anchor cost growth); at the verify SFs the
    * batch is every clustered vector (the query's own shape). The index
    * is the query tier's config (buckets=8, nlist=16, iters=3,
    * assign=2) and the probe its serving nprobe=6.
    */
  private def runHardNeg(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.{Dedup, Similarity}
    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }
    def measure(tag: String, dir: String, fixedBatch: Boolean): Unit = {
      spark.catalog.clearCache()
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val edges = Dedup.embeddingPairs(e, "vec_id", "embedding", "label",
          threshold = 0.38, chunkRows = 256).select("a", "b")
        .localCheckpoint(true)
      val prefix = s"hn_sb_${tag.replace('.', '_').replace('/', '_')}"
      Similarity.Ivf.drop(spark, prefix)
      // the PRODUCTION index shape (the sqrtn doctrine): nlist ≈ √N keeps
      // the probed fraction assign·nprobe/nlist ≪ 1, which is where the
      // indexed path's cost bound comes from — at the suite's toy
      // nlist=16/nprobe=6 the probe scans 75% of the corpus and indexing
      // can't beat a broadcast brute scan (measured, r11)
      val n = e.count()
      val nlist = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      val nprobe = math.max(2, (nlist + 7) / 8)
      Similarity.writeIvfIndex(e, "vec_id", "embedding", prefix,
        buckets = 8, nlist = nlist, iters = 3, assign = 2)
      val pred = if (fixedBatch) col("query_id") < 10000000L else lit(true)
      val t0 = System.nanoTime()
      val brute = Similarity.hardNegatives(e, "vec_id", "embedding", edges,
          k = 3, anchorPred = pred).localCheckpoint(true)
      val nBrute = brute.count()
      val tB = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val mined = Similarity.hardNegativesIndexed(e, "vec_id", "embedding",
          edges, k = 3, tablePrefix = prefix, nprobe = nprobe, anchorPred = pred)
        .localCheckpoint(true)
      val tI = (System.nanoTime() - t1) / 1e9
      val hits = brute.join(
          mined.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .agg(coalesce(sum("hit"), lit(0L))).head().getLong(0)
      val recall = if (nBrute == 0) 1.0 else hits.toDouble / nBrute
      println(f"HARDNEG $tag%-8s nlist=$nlist%4d nprobe=$nprobe%3d  " +
        f"brute $tB%7.2f s  indexed $tI%7.2f s  " +
        f"speedup ${tB / tI}%5.2f  recall $recall%.3f  ($nBrute%6d exact rows)")
      // the suite certificate's config (the shared nlist=16 base at the
      // serving nprobe=6) — this recall is what HardNegRecallFloor gates
      if (!fixedBatch) {
        val qPrefix = s"${prefix}_q16"
        Similarity.Ivf.drop(spark, qPrefix)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", qPrefix,
          buckets = 8, nlist = 16, iters = 3, assign = 2)
        val mined16 = Similarity.hardNegativesIndexed(e, "vec_id", "embedding",
            edges, k = 3, tablePrefix = qPrefix, nprobe = 6, anchorPred = pred)
          .localCheckpoint(true)
        val hits16 = brute.join(
            mined16.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
            Seq("query_id", "neighbor_id"), "left")
          .agg(coalesce(sum("hit"), lit(0L))).head().getLong(0)
        val r16 = if (nBrute == 0) 1.0 else hits16.toDouble / nBrute
        println(f"HARDNEG $tag%-8s cert config (nlist=16, nprobe=6)  recall $r16%.3f")
      }
    }
    measure("sf0.001", "/root/testdata/sf0.001", fixedBatch = false)
    measure("sf0.01", "/root/testdata/sf0.01", fixedBatch = false)
    measure("x1", src, fixedBatch = false)
    measure("x10fix", scaleDir, fixedBatch = true)
  }

  /** Round-11: MaxScore pruning cost point — exhaustive vs pruned probe
    * over the skewed corpus (the `tx_bm25_maxscore` construction: a
    * planted stop-term at df 0.9 over the ~0.78 organic band), with the
    * honest scanned-postings accounting: total matched postings vs the
    * postings that actually reach the scoring pipeline (candidates of
    * the essential terms). Lossless by construction — the row-equality
    * is re-asserted here too.
    */
  private def runMaxScore(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.TextIndex
    // the tx_bm25_maxscore shape: a selective bag (planted rare term at
    // df 0.1) polluted by a planted stop-term at df 0.9 — θ comes from
    // the rare term's candidates, the stop-term's postings reach the
    // scorer only for those candidates
    val bag = Seq("spark", "query", "join", "stream", "zstopz", "zrarez")
    def measure(tag: String, dir: String): Unit = {
      spark.catalog.clearCache()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 1, concat(col("text"), lit(" zstopz zrarez")))
            .when(col("doc_id") % 10 =!= 0, concat(col("text"), lit(" zstopz")))
            .otherwise(col("text")).as("text"))
      val prefix = s"ms_sb_${tag.replace('.', '_')}"
      TextIndex.Family.drop(spark, prefix)
      TextIndex.writeTextIndex(docs, "doc_id",
        graft.functions.CrossHash.tokens(col("text")), prefix, buckets = 8)
      val t0 = System.nanoTime()
      val full = TextIndex.bm25AgainstIndex(spark, prefix, bag, 20)
        .localCheckpoint(true)
      val tFull = (System.nanoTime() - t0) / 1e9
      // FORCED engagement: the asymptotic path — θ phase always paid,
      // scorer-input rows cut by the essential-candidate restriction
      val t1 = System.nanoTime()
      val (pruned, audit) = TextIndex.bm25MaxScoreWithAudit(
        spark, prefix, bag, 20, engageMinPostings = 0L)
      val prunedM = pruned.localCheckpoint(true)
      val tPruned = (System.nanoTime() - t1) / 1e9
      // ADAPTIVE default: below the measured break-even the gate must
      // decline (≈ exhaustive wall time — the no-regression point); at
      // corpora past DefaultEngageMinPostings matched postings it engages
      val t2 = System.nanoTime()
      val (adaptive, aAudit) =
        TextIndex.bm25MaxScoreWithAudit(spark, prefix, bag, 20)
      val adaptiveM = adaptive.localCheckpoint(true)
      val tAdaptive = (System.nanoTime() - t2) / 1e9
      val equal = prunedM.exceptAll(full).isEmpty && full.exceptAll(prunedM).isEmpty &&
        adaptiveM.exceptAll(full).isEmpty && full.exceptAll(adaptiveM).isEmpty
      val post = spark.table(s"${prefix}_postings")
      val matched = post.filter(col("term").isInCollection(bag)).count()
      val cands = post.filter(col("term").isInCollection(audit.essentialTerms))
        .select("id").distinct()
      val scored = post.filter(col("term").isInCollection(bag))
        .join(cands, Seq("id"), "left_semi").count()
      println(f"MAXSCORE $tag%-8s full $tFull%6.2f s  forced $tPruned%6.2f s  " +
        f"adaptive $tAdaptive%6.2f s (engaged=${aAudit.nPruned > 0})  " +
        f"essential ${audit.nEssential}/${audit.nTerms}  " +
        f"postings->scorer $scored%8d of $matched%8d (${100.0 * scored / matched}%5.1f%%)  " +
        f"lossless=$equal")
    }
    measure("x1", src)
    measure("x10", scaleDir)
  }

  /** Round-12: LM-operator decade points — Kneser-Ney bigram scoring and
    * unigram-LM tokenizer training at ×1 and ×10. Expected shape: KN is
    * bigram-type-table aggregations + term-keyed joins (near-linear in
    * corpus tokens); ULM trains on the DISTINCT-WORD table, and the ×10
    * rotation corpus inflates the vocabulary ~5× (the copy-unique
    * rewritten tokens), so its exponent is against vocabulary growth,
    * not corpus rows — the "train on word counts" scale argument
    * measured.
    */
  private def runLm(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Text
    def measure(tag: String, dir: String): Unit = {
      spark.catalog.clearCache()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val knRows = Text.knBigramNll(docs, "doc_id",
        graft.functions.CrossHash.tokens(col("text"))).count()
      val tKn = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      val (pieces, segs) = Text.ulmTrain(docs, col("text"),
        maxPieceLen = 4, seedMulti = 60, rounds = 2)
      val nPieces = pieces.count()
      val nWords = segs.count()
      val tUlm = (System.nanoTime() - t1) / 1e9
      println(f"LM $tag%-8s kn_nll $tKn%7.2f s ($knRows%8d docs)  " +
        f"ulm_train $tUlm%7.2f s ($nWords%8d words -> $nPieces%6d pieces)")
    }
    measure("x1", src)
    measure("x10", scaleDir)
  }

  /** KN persisted-family lifecycle cost at two decades: build (the one
    * corpus pass), serve off the stored stats, ingest of a ~10% delta
    * (must cost delta-scale, not corpus-scale), and the full retrain the
    * delta fold replaces — the build-once / fold-forever argument
    * measured rather than asserted.
    */
  private def runKnFamily(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Text
    val toks = graft.functions.CrossHash.tokens(col("text"))
    def measure(tag: String, dir: String): Unit = {
      spark.catalog.clearCache()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val prefix = s"sb_knf_$tag"
      Text.Kn.drop(spark, prefix)
      val t0 = System.nanoTime()
      Text.Kn.write(prefix, Text.knCounts(docs, "doc_id", toks))
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val served = Text.scoreAgainstKnModel(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", toks, prefix).count()
      val tServe = (System.nanoTime() - t1) / 1e9
      // a ~10% "new" slice under fresh ids: the delta pass the fold buys
      val delta = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 900000000L)
      val t2 = System.nanoTime()
      Text.Kn.ingest(prefix, Text.knCounts(delta, "doc_id", toks))
      val tIngest = (System.nanoTime() - t2) / 1e9
      Text.Kn.drop(spark, s"${prefix}_rt")
      val t3 = System.nanoTime()
      Text.Kn.write(s"${prefix}_rt", Text.knCounts(docs.unionByName(delta), "doc_id", toks))
      val tRetrain = (System.nanoTime() - t3) / 1e9
      println(f"KNFAM $tag%-4s build $tBuild%7.2f s  serve $tServe%6.2f s " +
        f"($served%6d docs)  ingest(10%%) $tIngest%6.2f s  " +
        f"retrain $tRetrain%7.2f s  ingest/retrain ${tIngest / tRetrain}%5.2f")
    }
    // untimed warm pass: JVM/codegen/parquet-footer costs would otherwise
    // land on the x1 build and invert the decade comparison
    Text.Kn.drop(spark, "sb_knf_warm")
    Text.Kn.write("sb_knf_warm",
      Text.knCounts(spark.read.parquet(s"$src/documents.parquet"), "doc_id", toks))
    Text.scoreAgainstKnModel(
      spark.read.parquet(s"$src/documents.parquet").limit(50),
      "doc_id", toks, "sb_knf_warm").count()
    measure("x1", src)
    measure("x10", scaleDir)
  }

  /** Round-13: serving-chain decade points for the batched hybrid RAG
    * tier. Two measurements: (1) the full chains (`sim_rag_batch` fused
    * probes; `sim_rag_batch_mmr` = + MMR) at ×1/×10 corpus with the
    * persisted bases prebuilt by an untimed warm pass — the corpus-
    * scaling of the probe work; (2) `mmrSelect`'s OWN serving-shape
    * scaling (queries × candidate depth) at fixed corpus, since MMR cost
    * is (Q × N²) by construction and must be corpus-independent —
    * linear in Q, ~quadratic in N, flat in corpus size.
    */
  private def runRagMmr(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    if (!new java.io.File(s"$scaleDir/embeddings.parquet").exists()) {
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") + col("c") * 10000000L).as("vec_id"),
          col("label"),
          transform(sequence(lit(0), lit(63)), i =>
            element_at(col("embedding"), pmod(i + col("c") * 7, lit(64)) + 1))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      println(s"SCALE embeddings written to $scaleDir")
    }
    for (n <- Seq("sim_rag_batch", "sim_rag_batch_mmr")) {
      // untimed warm pass per dir: builds the persisted bases (IVF +
      // inverted index) and shared memos, so the timed pass measures
      // the SERVING chain, not index construction
      for (dir <- Seq(src, scaleDir))
        try SparkEntry.queries(n)(spark, dir).count()
        catch { case e: Throwable => println(s"WARM $n $dir failed: $e") }
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val r1 = SparkEntry.queries(n)(spark, src).count()
      val t1 = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      val r10 = SparkEntry.queries(n)(spark, scaleDir).count()
      val t10 = (System.nanoTime() - t2) / 1e9
      println(f"RAGMMR $n%-18s x1 $t1%7.2f s ($r1%6d rows)  x10 $t10%7.2f s " +
        f"($r10%6d rows)  ratio ${t10 / t1}%6.2f  exp ${math.log10(t10 / t1)}%5.2f")
    }
    // mmrSelect serving shape at fixed corpus: Q anchors × N candidates
    val e = spark.read.parquet(s"$src/embeddings.parquet").localCheckpoint(true)
    def candSet(qMod: Long, n: Int): DataFrame = Similarity
      .bruteForceTopK(e.filter(col("vec_id") % qMod === 0), e,
        "vec_id", "embedding", k = n)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cos").as("rel"))
      .join(e.select(col("vec_id").as("doc_id"), col("embedding").as("emb")),
        Seq("doc_id"))
      .select("query_id", "doc_id", "emb", "rel")
      .localCheckpoint(true)
    for ((qMod, n, tag) <- Seq((200L, 20, "Q10xN20"), (50L, 20, "Q40xN20"),
        (200L, 80, "Q10xN80"))) {
      val cand = candSet(qMod, n)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = Similarity.mmrSelect(cand, kSel = 8, lambda = 0.7).count()
      println(f"RAGMMR mmrSelect $tag%-8s ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
        f"($rows%5d rows)")
    }
  }

  /** Blocklist-scan cost vs PATTERN COUNT at fixed corpus (sf0.1): the
    * Aho–Corasick expression must stay flat as patterns grow (one state
    * transition per character), while the position-scan fold — the naive
    * per-pattern formulation every regex-alternation pipeline degrades
    * to — grows linearly. The fold at 1000 patterns is omitted by
    * design: it is the projected ~10× of its 100-pattern point, and
    * that's the cliff the automaton exists to remove.
    */
  private def runAho(spark: SparkSession, src: String): Unit = {
    import graft.functions.CrossHash
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .localCheckpoint(true)
    val toks = CrossHash.tokens(col("text"))
    val grams = docs
      .select(explode(CrossHash.wordShingles(toks, 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g")).limit(1000)
      .collect().map(_.getString(0)).toSeq
    def time(tag: String, counts: org.apache.spark.sql.Column): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      docs.select(aggregate(counts, lit(0L), (a, v) => a + v).as("s"))
        .agg(sum("s")).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"AHO   $tag%-10s $sec%7.2f s")
      sec
    }
    Seq(10, 100, 1000).foreach { n =>
      val p = grams.take(n)
      val tN = time(s"native$n", CrossHash.ahoCounts(col("text"), p))
      val tF = if (n <= 100)
        f"${time(s"fold$n", CrossHash.ahoCountsFold(col("text"), p))}%7.2f s"
      else "   (omitted: ~10x of fold100)"
      println(f"AHO patterns=$n%4d  automaton $tN%7.2f s  fold $tF")
    }
  }

  /** Round-14 closing: decade receipt for the CCNet+ curation FLAGSHIP —
    * the full composed chain (minhash dedup → lang/quality gates →
    * perplexity tercile gate against the trigram family → calibrated
    * keep floor → PII fingerprint) at ×1/×10 corpus, plus the standalone
    * bucketing pass. The untimed warm pass per dir builds the shared
    * memos (pair edges, the kn3 base + scored frame, the holdout/cal
    * artifacts), so the timed pass measures the chain's own joins and
    * gates — the serving composition, not index construction. The
    * dominant scaling term is the banded minhash self-join (already
    * decade-pinned at e≈0.78 in the x100 batch); everything downstream
    * is row-local or broadcast-joined.
    */
  private def runCcnet(spark: SparkSession, src: String, scaleDir: String): Unit = {
    // the bucketing pass ITSELF (exact rank + tercile cut over the frozen
    // scored frame) — the r13 verdict #1 decade receipt: the query entry
    // reads a memoized checkpoint, so the operator is timed directly
    val times = for (dir <- Seq(src, scaleDir)) yield {
      val scored = graft.queries.TextQueries.kn3ScoredAllFrame(spark, dir)
      scored.count() // warm the memo (builds the kn3 base on first touch)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = scored.count()
      val rows = graft.operators.Relational
        .globalRank(scored, "nll", Seq("doc_id"), "rnk", buckets = 32)
        .withColumn("bucket",
          when(col("rnk") <= lit((n + 2) / 3), "head")
            .when(col("rnk") <= lit((n * 2 + 2) / 3), "middle")
            .otherwise("tail"))
        .count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val Seq((t1, r1), (t10, r10)) = times
    println(f"CCNET bucketing_pass     x1 $t1%7.2f s ($r1%6d rows)  x10 $t10%7.2f s " +
      f"($r10%6d rows)  ratio ${t10 / t1}%6.2f  exp ${math.log10(t10 / t1)}%5.2f")
    // r15: the emit/funnel compositions ride the same frames — their
    // decade receipts land here (warm pass per dir builds the memoized
    // gates + the persisted ULM base; the timed pass measures the
    // composition itself: tokenize-join, pack window, shard write +
    // manifest for the emit; the signal aggregations for the funnel).
    // d_domain_gate is excluded only because the rotation corpus carries
    // no `source` column — its scale shape is one domain aggregation +
    // a broadcast membership filter.
    for (n <- Seq("tx_ppl_buckets", "d_curate_ccnet", "d_curate_emit",
        "d_curate_full")) {
      for (dir <- Seq(src, scaleDir))
        try SparkEntry.queries(n)(spark, dir).count()
        catch { case e: Throwable => println(s"WARM $n $dir failed: $e") }
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val r1 = SparkEntry.queries(n)(spark, src).count()
      val t1 = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      val r10 = SparkEntry.queries(n)(spark, scaleDir).count()
      val t10 = (System.nanoTime() - t2) / 1e9
      println(f"CCNET $n%-16s x1 $t1%7.2f s ($r1%6d rows)  x10 $t10%7.2f s " +
        f"($r10%6d rows)  ratio ${t10 / t1}%6.2f  exp ${math.log10(t10 / t1)}%5.2f")
    }
  }

  /** Round-15: the flagship's SECOND decade (r14 verdict #8) — the
    * `ccnet` batch measured x1/x10; this adds the x100 rotation corpus
    * point (the round-8 `x100` machinery), turning the flagship's
    * exponent into a two-decade estimate like the dedup/ANN families.
    * Same measurement discipline as [[runCcnet]]: memos warmed per dir
    * untimed, cache cleared, then the bucketing pass and the two query
    * entries timed per scale.
    */
  private def runCcnet100(
      spark: SparkSession, src: String, s10: String, s100: String): Unit = {
    val dirs = Seq(src, s10, s100)
    val bp = dirs.map { dir =>
      val scored = graft.queries.TextQueries.kn3ScoredAllFrame(spark, dir)
      scored.count() // warm the memo (builds the kn3 base on first touch)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = scored.count()
      val rows = graft.operators.Relational
        .globalRank(scored, "nll", Seq("doc_id"), "rnk", buckets = 32)
        .withColumn("bucket",
          when(col("rnk") <= lit((n + 2) / 3), "head")
            .when(col("rnk") <= lit((n * 2 + 2) / 3), "middle")
            .otherwise("tail"))
        .count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def exps(ts: Seq[Double]): (Double, Double) =
      (math.log10(ts(1) / ts.head), math.log10(ts(2) / ts(1)))
    val (bpE1, bpE2) = exps(bp.map(_._1))
    println(f"CCNET100 bucketing_pass   x1 ${bp(0)._1}%7.2f s (${bp(0)._2}%7d)  " +
      f"x10 ${bp(1)._1}%7.2f s (${bp(1)._2}%7d)  x100 ${bp(2)._1}%7.2f s " +
      f"(${bp(2)._2}%8d)  e(1-10) $bpE1%5.2f  e(10-100) $bpE2%5.2f")
    for (n <- Seq("tx_ppl_buckets", "d_curate_ccnet")) {
      val ts = dirs.map { dir =>
        try SparkEntry.queries(n)(spark, dir).count()
        catch { case e: Throwable => println(s"WARM $n $dir failed: $e") }
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (e1, e2) = exps(ts.map(_._1))
      println(f"CCNET100 $n%-16s x1 ${ts(0)._1}%7.2f s (${ts(0)._2}%7d)  " +
        f"x10 ${ts(1)._1}%7.2f s (${ts(1)._2}%7d)  x100 ${ts(2)._1}%7.2f s " +
        f"(${ts(2)._2}%8d)  e(1-10) $e1%5.2f  e(10-100) $e2%5.2f")
    }
  }

  /** Round-14: decade receipts for the r13 ACT verbs (the `aho` batch
    * measured counts only).
    *
    * (1) The span REWRITE (ahoSpans → exciseSpans / redactSpans) vs
    * pattern count at fixed corpus (sf0.1): the automaton pass is flat in
    * patterns and the excision fold is O(matches) per row, so the rewrite
    * should inherit the near-flat pattern scaling — growing only with
    * match volume, never with the pattern count itself. The timed
    * aggregate folds output LENGTHS (the runAho discipline: time the
    * operator, not the materialization of rewritten text).
    *
    * (2) The calibrated-classifier serving chain and the distilled
    * language-ID classifier at ×1/×10 corpus, via their real query
    * entries (the runRagMmr design: untimed warm pass per dir builds the
    * memoized training frames, the timed pass measures train-artifact
    * write + featurize + broadcast-scored serve; both are row-local over
    * the corpus with model-sized state, so the decade exponent should
    * sit near 1 — pure linear corpus cost).
    */
  private def runSpans(spark: SparkSession, src: String, scaleDir: String): Unit = {
    import graft.functions.CrossHash
    import graft.operators.Text
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .localCheckpoint(true)
    val toks = CrossHash.tokens(col("text"))
    val grams = docs
      .select(explode(CrossHash.wordShingles(toks, 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g")).limit(1000)
      .collect().map(_.getString(0)).toSeq
    def time(tag: String, out: org.apache.spark.sql.Column): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      docs.select(out.as("v")).agg(sum(length(col("v")))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SPANS $tag%-10s $sec%7.2f s")
      sec
    }
    Seq(10, 100, 1000).foreach { n =>
      val p = grams.take(n)
      def sp = CrossHash.ahoSpans(col("text"), p)
      val tE = time(s"excise$n", Text.exciseSpans(col("text"), sp))
      val tR = time(s"redact$n", Text.redactSpans(col("text"), sp))
      println(f"SPANS patterns=$n%4d  excise $tE%7.2f s  redact $tR%7.2f s")
    }
    for (n <- Seq("tx_clf_cal_serving", "tx_langid_clf")) {
      for (dir <- Seq(src, scaleDir))
        try SparkEntry.queries(n)(spark, dir).count()
        catch { case e: Throwable => println(s"WARM $n $dir failed: $e") }
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val r1 = SparkEntry.queries(n)(spark, src).count()
      val t1 = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      val r10 = SparkEntry.queries(n)(spark, scaleDir).count()
      val t10 = (System.nanoTime() - t2) / 1e9
      println(f"SPANS $n%-20s x1 $t1%7.2f s ($r1%6d rows)  x10 $t10%7.2f s " +
        f"($r10%6d rows)  ratio ${t10 / t1}%6.2f  exp ${math.log10(t10 / t1)}%5.2f")
    }
  }

  def main(args: Array[String]): Unit = {
    // the `corescale` mode runs the compute-bound decade subset at two
    // core counts (SPARK_GRAFT_CPUS) to produce the parallel-scaling
    // receipt the sf0.1 suite cannot (its residual cost is per-job fixed
    // overhead)
    val cpus = GraftSession.cpus
    val spark = GraftSession.getOrCreate(cpus, GraftSession.tmpWarehouse("scalebench"))

    val src = "/root/testdata/sf0.1"
    val scaleDir = args.headOption
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft_scale10")

    if (!new java.io.File(s"$scaleDir/documents.parquet").exists()) {
      val base = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "lang", "text")
      base.withColumn("c", explode(sequence(lit(0), lit(9))))
        .select(
          (col("doc_id") + col("c") * 10000000L).as("doc_id"),
          col("lang"),
          array_join(
            transform(split(col("text"), "\\s+"), (t, i) =>
              when(pmod(i + col("c"), lit(5)) === 0,
                format_string("cp%d_%d", col("c"), i)).otherwise(t)),
            " ").as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
      println(s"SCALE corpus written to $scaleDir")
    }

    if (!new java.io.File(s"$scaleDir/lineitem.parquet").exists()) {
      val copies = explode(sequence(lit(0), lit(9)))
      // disjoint key spaces per copy: independent baskets/customers/users.
      // Part/customer offsets are shared with the fact-side columns that
      // reference them, so the 10× star stays referentially intact (the
      // dq audits run on it) — and part keys stay CONTIGUOUS (copy c in
      // [c*n, (c+1)*n)) so every derived hierarchy parent exists.
      val nParts = spark.read.parquet(s"$src/part.parquet").count()
      spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("c", copies)
        .withColumn("l_orderkey", col("l_orderkey") + col("c") * 1000000000L)
        .withColumn("l_partkey", col("l_partkey") + col("c") * nParts)
        .drop("c").repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/lineitem.parquet")
      spark.read.parquet(s"$src/orders.parquet")
        .withColumn("c", copies)
        .withColumn("o_orderkey", col("o_orderkey") + col("c") * 1000000000L)
        .withColumn("o_custkey", col("o_custkey") + col("c") * 1000000L)
        .drop("c").repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/orders.parquet")
      // events.ts is copied through unchanged so the scaled table keeps
      // the exact on-disk schema (nanos-long or timestamp[us], per
      // corpus generation) that Tables.load normalizes
      spark.read.parquet(s"$src/events.parquet")
        .withColumn("c", copies)
        .withColumn("event_id", col("event_id") + col("c") * 1000000000L)
        .withColumn("user_id", col("user_id") + col("c") * 1000000L)
        .drop("c").repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/events.parquet")
      spark.read.parquet(s"$src/part.parquet")
        .withColumn("c", copies)
        .withColumn("p_partkey", col("p_partkey") + col("c") * nParts)
        .drop("c").repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/part.parquet")
      spark.read.parquet(s"$src/customer.parquet")
        .withColumn("c", copies)
        .withColumn("c_custkey", col("c_custkey") + col("c") * 1000000L)
        .drop("c").repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/customer.parquet")
      // supplier is NOT key-offset: lineitem keeps its l_suppkey values,
      // so one shared supplier dimension resolves all 10 copies (the
      // realistic shape — dimensions grow slower than facts)
      spark.read.parquet(s"$src/supplier.parquet").repartition(4)
        .write.mode("overwrite").parquet(s"$scaleDir/supplier.parquet")
      println(s"SCALE warehouse tables written to $scaleDir")
    }

    // Family selection: no arg or "dedup" → documents family; "warehouse"
    // → the round-5 family; "all" → both.
    val which = args.drop(1).headOption.getOrElse("all")
    if (which == "ann") {
      runAnn(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "hotcap") {
      runHotCap(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "embpairs") {
      runEmbPairs(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "fork") {
      runFork(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "layout") {
      runLayout(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "r10") {
      // progressive per-query prints (x1 then x10 back-to-back per query)
      // so a mid-suite failure still leaves the earlier measurements on
      // stdout
      val fam = Seq("d_setsim_exact", "d_dedup_keep_best",
        "tx_quality_classifier", "tx_bm25_indexed", "tx_chunk_dedup",
        "tx_dsir_sample", "tx_bm25_batch", "tx_bm25_filtered",
        "tx_phrase_search", "tx_near_search", "sim_rrf_fusion")
      fam.foreach { n =>
        try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
        catch { case _: Throwable => () }
      }
      fam.foreach { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val r1 = SparkEntry.queries(n)(spark, src).count()
        val t1 = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val t2 = System.nanoTime()
        val r10 = SparkEntry.queries(n)(spark, scaleDir).count()
        val t10 = (System.nanoTime() - t2) / 1e9
        println(f"R10 $n%-22s x1 $t1%7.2f s ($r1%8d rows)  x10 $t10%7.2f s " +
          f"($r10%9d rows)  ratio ${t10 / t1}%6.2f  exp ${math.log10(t10 / t1)}%5.2f")
      }
      // hard negatives measured in the SERVING shape (the ann-batch
      // design): a FIXED anchor batch — copy-0 ids, present identically
      // at both scales — against the growing corpus. Mining negatives
      // for every clustered vector at once is a deliberate non-goal:
      // the ×10 rotation corpus makes ~3/4 of all vectors anchors, an
      // anchors×corpus brute product nothing should plan.
      import graft.operators.{Dedup, Similarity}
      def mineFixed(dir: String): (Double, Long) = {
        spark.catalog.clearCache()
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val t0 = System.nanoTime()
        // materialize the edge frame exactly like the production memo
        // does — CC-on-a-live-chunked-join-plan makes AQE's per-stage
        // plan logging explode (measured: 20+ min of generateTreeString)
        val edges = Dedup.embeddingPairs(e, "vec_id", "embedding", "label",
          threshold = 0.38, chunkRows = 256).select("a", "b")
          .localCheckpoint(true)
        val n = Similarity.hardNegatives(e, "vec_id", "embedding", edges, k = 3,
          anchorPred = col("query_id") < 10000000L).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (h1, hr1) = mineFixed(src)
      val (h10, hr10) = mineFixed(scaleDir)
      println(f"R10 sim_hard_negatives(fixed-anchor batch) x1 $h1%7.2f s ($hr1%8d rows)  " +
        f"x10 $h10%7.2f s ($hr10%9d rows)  ratio ${h10 / h1}%6.2f  exp ${math.log10(h10 / h1)}%5.2f")
      spark.stop()
      return
    }
    if (which == "corescale") {
      runCoreScale(spark, src, scaleDir, cpus)
      spark.stop()
      return
    }
    if (which == "corescale100") {
      // the ×10 corpus measured overhead-bound at BOTH core counts
      // (8-core ≥ 32-core on several ops) — the scaling receipt needs the
      // ×100 decade, where the shuffles carry enough bytes to matter
      val scale100 = s"${sys.props("java.io.tmpdir")}/graft_scale100"
      synthesizeScale100(spark, src, scale100)
      runCoreScale(spark, src, scale100, cpus)
      spark.stop()
      return
    }
    if (which == "hardneg") {
      runHardNeg(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "maxscore") {
      runMaxScore(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "lm") {
      runLm(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "knfamily") {
      runKnFamily(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "aho") {
      runAho(spark, src)
      spark.stop()
      return
    }
    if (which == "spans") {
      runSpans(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "ccnet") {
      runCcnet(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "ccnet100") {
      val scale100 = s"${sys.props("java.io.tmpdir")}/graft_scale100"
      synthesizeScale100(spark, src, scale100)
      runCcnet100(spark, src, scaleDir, scale100)
      spark.stop()
      return
    }
    if (which == "ragmmr") {
      runRagMmr(spark, src, scaleDir)
      spark.stop()
      return
    }
    if (which == "x100") {
      val scale100 = s"${sys.props("java.io.tmpdir")}/graft_scale100"
      runX100(spark, src, scaleDir, scale100)
      spark.stop()
      return
    }
    if (which == "x100mh") {
      val scale100 = s"${sys.props("java.io.tmpdir")}/graft_scale100"
      runX100Mh(spark, src, scaleDir, scale100)
      spark.stop()
      return
    }
    if (which == "x100text") {
      val scale100 = s"${sys.props("java.io.tmpdir")}/graft_scale100"
      runX100Text(spark, src, scaleDir, scale100)
      spark.stop()
      return
    }
    val family = which match {
      case "dedup" => DedupFamily
      case "warehouse" => WarehouseFamily
      // focused CC comparison: minhash first to pay the shared pair-edge
      // memo, then both component algorithms measure incremental cost
      case "cc" => Seq("d_minhash_lsh", "d_clusters", "d_clusters_star")
      case "rangejoin" => RangeJoinFamily
      case "substr" => SubstrFamily
      case "text" => TextFamily
      // round-8: blue/green rebuild cost at scale — both dedup-tier
      // rebuild queries build a stale generation AND retrain/cut over
      // in-query, so the timing is (build + rebuild + probe); expected
      // ~linear (each generation is one corpus pass through the same
      // write path the build batches measure)
      case "rebuild" => Seq("d_rebuild_probe", "d_rebuild_spans")
      // k-core over 10 disjoint strong-graph copies: rounds are governed
      // by the deepest per-copy cascade (identical in every copy), so the
      // ratio isolates the per-round cost growth
      case "kcore" => Seq("q_kcore")
      // round-9: exact vs bloom-pruned decontamination head-to-head
      case "decon" => Seq("d_decontaminate", "d_decontaminate_bloom")
      // round-9: the multimodal decade — real JDK codec encode+decode per
      // document (PNG / WAV / GIF), embarrassingly parallel partition
      // iterators with no shuffle on the decode path, so the expected
      // exponent is ~1.0 with a flat per-asset cost; the measurement
      // pins that no accidental shuffle/skew crept into the codec tier
      case "mm" => Seq("mm_features", "mm_resize", "mm_audio_features",
        "mm_video_frames", "mm_keyframes")
      // round-9: the clustering-tier decade. kmeans = broadcast
      // nested-loop assignment × rounds (expected ~linear); LPA = one
      // join + agg + window per round over edges (~linear); SemDeDup at
      // FIXED k=8 grows within-cluster pairs as Σ n_c² — this point
      // measures the quadratic that the "grow k with the corpus"
      // doctrine exists to avoid, on purpose, as the honest contrast
      case "cluster" => Seq("sim_kmeans_clusters", "q_communities",
        "sim_semdedup_keep", "sim_semdedup_bounded")
      // round-9: perceptual-hash pair join, uncapped vs hot-bucket-capped
      // — this corpus's shared-gradient structure makes band buckets
      // degenerate BY CONSTRUCTION, so the uncapped point measures the
      // O(width²) growth the cap exists to bound (the image twin of the
      // minhash `hotcap` batch)
      case "phash" => Seq("mm_ahash_pairs", "mm_ahash_pairs_capped",
        "mm_video_hash_pairs", "mm_video_hash_pairs_capped")
      // round-10: the exact set-similarity join (prefix filtering — the
      // claim is that candidate volume is bounded by RARE-token df, so
      // the decade should stay near-linear even though the guarantee is
      // exact), quality-aware survivor selection (keepSurvivors + one
      // window — same CC-bound shape), the classifier (fixed 50-round GD
      // = 50 linear corpus aggregations, expected ~linear), and the
      // hard-negative miner (brute anchors×corpus baseline — expected
      // SUPER-linear on purpose: the honest contrast with the documented
      // IVF-probe + slack serving path, like the embpairs batch)
      case "r10" => Seq("d_setsim_exact", "d_dedup_keep_best",
        "tx_quality_classifier", "sim_hard_negatives")
      case _ => DedupFamily ++ WarehouseFamily ++ RangeJoinFamily
    }

    // JIT warmup (untimed) at the smallest SF, mirroring Bench.
    family.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    def timeSuite(dir: String): Map[String, (Double, Long)] =
      family.map { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir).count()
        n -> (((System.nanoTime() - t0) / 1e9, rows))
      }.toMap

    val x1 = timeSuite(src)
    val x10 = timeSuite(scaleDir)
    println(f"${"query"}%-18s ${"x1 sec"}%8s ${"x10 sec"}%8s ${"ratio"}%7s ${"exp"}%5s ${"x1 rows"}%9s ${"x10 rows"}%9s")
    family.foreach { n =>
      val (t1, r1) = x1(n); val (t10, r10) = x10(n)
      val ratio = t10 / t1
      println(f"$n%-18s $t1%8.2f $t10%8.2f $ratio%7.2f ${math.log10(ratio)}%5.2f $r1%9d $r10%9d")
    }
    spark.stop()
  }
}

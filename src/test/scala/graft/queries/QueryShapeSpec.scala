package graft.queries

import org.apache.spark.sql.functions._

import graft.{SessionMemo, SparkSpec}

/** Structural invariants of the newest query-tier entries — properties the
  * DuckDB hash-compare can't see (it pins equality, not WHY the answer is
  * right).
  */
class QueryShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("certificateQueries: the sf0.1 re-proof subset names real queries") {
    val certs = graft.SparkEntry.certificateQueries
    val all = graft.SparkEntry.queries.keySet
    val ghosts = certs.diff(all)
    assert(ghosts.isEmpty, s"certificate set names unknown queries: $ghosts")
    // every streaming parity is scale-sensitive by construction
    assert(all.filter(_.startsWith("st_")).subsetOf(certs))
    // sentinels for the three certificate families the subset exists for:
    // sketches, ANN floors, index lifecycle
    Seq("fn_hll_sketch", "q_approx_percentile", "sim_knn_ivf",
        "sim_knn_ivf_sqrtn", "d_exactly_once_ingest")
      .foreach(s => assert(certs.contains(s), s"missing sentinel $s"))
  }

  test("tx_chunk_overlap: chunks tile every document with stride-24 starts") {
    import spark.implicits._
    val chunks = TextQueries.queries("tx_chunk_overlap")(spark, sf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max("start").as("last_start"),
        min("start").as("first_start"),
        sum(when(col("n_toks") === 32, 1).otherwise(0)).as("n_full"))
      .as[(Long, Long, Long, Long, Long)]
      .collect()
    val nToks = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (doc, nChunks, lastStart, firstStart, nFull) =>
      val n = nToks(doc)
      assert(firstStart == 0L, s"doc $doc: first chunk must start at 0")
      // starts are 0, 24, 48, … ≤ n-1 ⇒ count = ceil(n/24), so every token
      // index < n is covered by the chunk starting at 24*floor(i/24)
      assert(nChunks == (n + 23) / 24, s"doc $doc: chunk count")
      assert(lastStart == 24L * ((n - 1) / 24), s"doc $doc: last start")
      // all but at most two trailing chunks are full 32-token windows
      assert(nFull >= nChunks - 2, s"doc $doc: full-window count")
    }
  }

  test("q_variant: typed extraction handles missing paths and type casts") {
    import spark.implicits._
    val out = RelationalQueries.queries("q_variant")(spark, sf)
    val row = out.orderBy("event_id").limit(1)
      .select("k_int", "k_str", "k_missing", "v_is_null")
      .as[(Option[Long], Option[String], Option[String], Boolean)]
      .head()
    assert(row._1.isDefined, "k extracts as BIGINT")
    assert(row._2.contains(row._1.get.toString), "string cast of the same path")
    assert(row._3.isEmpty, "missing path yields NULL, not error")
    assert(!row._4, "parsed object is not the JSON null literal")
  }

  test("st_late_data_parity: some stragglers drop, some merge, no duplicate windows") {
    import spark.implicits._
    val out = StreamQueries.queries("st_late_data_parity")(spark, sf)
      .select(col("win_start"), col("n")).as[(String, Long)].collect()
    assert(out.map(_._1).distinct.length == out.length,
      "append mode must emit each finalized window exactly once")
    val total = out.map(_._2).sum
    val all = graft.sources.Tables.load(spark, sf, "events").count()
    val onTime = graft.sources.Tables.load(spark, sf, "events")
      .filter(pmod(col("event_id"), lit(5)) =!= 0).count()
    assert(total < all, "watermark must drop at least one straggler")
    assert(total > onTime, "at least one straggler must merge into a live window")
  }

  test("stream settings reach the drained batches, not the caller's session") {
    val partitions = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val dir = java.nio.file.Files.createTempDirectory("graft_conf_spec").resolve("in").toString
    spark.range(40).repartition(4).write.parquet(dir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Option[String]]]()
    val before = spark.conf.getOption(noData)
    val wasSet = spark.conf.getAll.contains(noData)
    try graft.GraftSession.withConf(spark, partitions -> "3") {
      StreamQueries.drainBatches(StreamQueries.microBatches(spark, dir)) { (batch, _) =>
        seen.add(Seq(batch.sparkSession.conf.getOption(partitions),
          spark.conf.getOption(partitions),
          batch.sparkSession.conf.getOption(noData),
          spark.conf.getOption(noData)))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    import scala.jdk.CollectionConverters._
    assert(seen.size == 4, "one micro-batch per input file")
    seen.asScala.foreach(r => assert(r == Seq(Some("8"), Some("3"), Some("false"), before),
      s"(batch, caller) partitions then (batch, caller) no-data flag: $r"))
    assert(spark.conf.getAll.contains(noData) == wasSet && spark.conf.getOption(noData) == before,
      "the caller's settings are as before the drain, and an unset key stays unset")
  }

  test("stream tier: serving and index-ingest parities certify; the KN servings share one split") {
    // a fresh data dir (links to the same tables) keys fresh fixture dirs,
    // so the ones these queries stream from can be counted
    val d = java.nio.file.Files.createTempDirectory("graft_st_data")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      java.nio.file.Files.createSymbolicLink(d.resolve(f.getName), f.toPath.toAbsolutePath))
    val key = ScratchKeys.forPath(d.toString)
    def fixtures(): Seq[java.io.File] = new java.io.File(sys.props("java.io.tmpdir"))
      .listFiles().toSeq.filter(f => f.getName.startsWith("graft_stream_") && f.getName.contains(key))
    try {
      Seq("st_kn_serving_parity", "st_kn3_serving_parity", "st_text_index_parity").foreach { q =>
        val out = StreamQueries.queries(q)(spark, d.toString).localCheckpoint(true)
        val oks = out.columns.filter(_.endsWith("_ok"))
        assert(out.count() > 0 && oks.nonEmpty, s"$q emits certified rows")
        oks.foreach(c => assert(out.filter(!coalesce(col(c), lit(false))).isEmpty, s"$q: $c"))
        if (q == "st_kn3_serving_parity") {
          val dirs = fixtures().map(_.getName)
          assert(dirs.size == 1, s"both KN servings stream one four-file split: $dirs")
        }
      }
    } finally (fixtures() :+ d.toFile).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("recallCertificate: floor boundary, duplicate served pairs, column and row order") {
    import spark.implicits._
    // shuffled on purpose: the certificate orders by (query_id, rank)
    val ref = Seq((2L, 2L, 21L, 0.6), (1L, 1L, 10L, 0.9), (2L, 1L, 20L, 0.7), (1L, 2L, 11L, 0.8))
      .toDF("query_id", "rank", "neighbor_id", "cos")
    // 3 of the 4 reference rows served, one of them twice
    val served = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    def cert(floor: Double, alsoOk: Boolean = true) =
      Parity.recallCertificate(ref, served, "x_ok", floor, alsoOk)(
        "a_ok" -> true, "b_ok" -> false)
    val out = cert(0.75)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cos", "x_ok", "a_ok", "b_ok"))
    val rows = out.as[(Long, Long, Long, Double, Boolean, Boolean, Boolean)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3, r._4)) ==
      Seq((1L, 1L, 10L, 0.9), (1L, 2L, 11L, 0.8), (2L, 1L, 20L, 0.7), (2L, 2L, 21L, 0.6)),
      "one row per reference row, ordered by (query_id, rank)")
    assert(rows.forall(r => r._5 && r._6 && !r._7), s"recall 0.75 at floor 0.75 certifies: $rows")
    def oks(df: org.apache.spark.sql.DataFrame) = df.select("x_ok").as[Boolean].collect().toSeq
    assert(oks(cert(0.7500001)) == Seq.fill(4)(false), "recall just below the floor fails")
    assert(oks(cert(0.75, alsoOk = false)) == Seq.fill(4)(false), "a failed lifecycle check fails")
  }

  test("ANN tier: certificates hold, full-corpus queries share one memoized reference") {
    val s = spark.newSession()
    val key = s"exact_top3:$sf"
    assert(graft.SessionMemo.peek(s, key).isEmpty)
    val full = Seq("sim_knn_ivf", "sim_knn_ivf_ingest", "st_ann_index_parity")
    val outs = Seq("sim_knn_ivf", "sim_knn_ivf_ingest", "sim_knn_ivfpq_delete",
        "st_ann_index_parity").map { q =>
      val out = graft.SparkEntry.queries(q)(s, sf).localCheckpoint(true)
      if (q == "sim_knn_ivf")
        assert(graft.SessionMemo.peek(s, key).isDefined, "the reference is memoized by the first query")
      val oks = out.columns.filter(_.endsWith("_ok"))
      assert(out.count() > 0 && oks.nonEmpty, s"$q emits certified rows")
      oks.foreach(c => assert(out.filter(!coalesce(col(c), lit(false))).isEmpty, s"$q: $c"))
      q -> out
    }.toMap
    val refs = full.map(q => outs(q).select("query_id", "rank", "neighbor_id", "cos").collect().toSeq)
    assert(refs.distinct.size == 1, s"the full-corpus queries emit one reference: $refs")
    assert(refs.head == SimilarityQueries.exactTop3(s, sf).collect().toSeq)
  }

  test("stream split: a stale fixture dir without parquet files is rebuilt") {
    val d = java.nio.file.Files.createTempDirectory("graft_st_stale")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      java.nio.file.Files.createSymbolicLink(d.resolve(f.getName), f.toPath.toAbsolutePath))
    val split = StreamQueries.Vecs4
    val dir = StreamQueries.fixtureDir(split.name, d.toString, split.table)
    // an older layout's directory at the fixture path: no parquet file in it
    java.nio.file.Files.createDirectories(dir.resolve("embeddings_old"))
    try {
      val out = StreamQueries.queries("st_kmeans_serving_parity")(spark, d.toString)
        .localCheckpoint(true)
      val files = dir.toFile.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 4, s"the split's four files replace the stale dir: ${files.toSeq}")
      val oks = out.columns.filter(_.endsWith("_ok"))
      assert(out.count() > 0 && oks.nonEmpty)
      oks.foreach(c => assert(out.filter(!coalesce(col(c), lit(false))).isEmpty, c))
    } finally Seq(dir.getParent.toFile, d.toFile).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("k11_xml_roundtrip: XML metacharacters survive write+read") {
    val out = ParityQueries.queries("k11_xml_roundtrip")(spark, sf)
    val probes = out.select("xml_probe").collect().map(_.getString(0))
    assert(probes.nonEmpty)
    assert(probes.forall(_.contains(" <&\"'> ")),
      "escaped metacharacters must round-trip verbatim")
  }

  // q_incr_quantiles_kll's mergeability contract, pinned at the two KLL
  // regimes. Exact equality of two merge orders is only guaranteed while
  // every sketch is in EXACT mode (n ≤ k: the sketch stores all items, a
  // merge is a concatenation); once compaction starts, Datasketches flips
  // an unseeded coin per compaction, so different merge orders give
  // different-but-bounded estimates — that bound is the contract there.
  test("kll quantiles: exact mode (n <= k) is merge-order-invariant and exact") {
    import spark.implicits._
    // 120 values across 5 days, k = 200 > 120: every daily sketch and the
    // merged sketch stay exact
    val ev = (1 to 120).map(i => (i % 5, i.toDouble)).toDF("day", "value")
    val daily = ev.groupBy("day")
      .agg(expr("kll_sketch_agg_double(value, 200)").as("sk"))
      .localCheckpoint(true)
    def est(order: org.apache.spark.sql.Column): (Double, Double) =
      daily.repartition(1).sortWithinPartitions(order)
        .agg(expr("kll_merge_agg_double(sk)").as("msk"))
        .selectExpr("kll_sketch_get_quantile_double(msk, 0.5d)",
          "kll_sketch_get_quantile_double(msk, 0.9d)")
        .as[(Double, Double)].head()
    val (a50, a90) = est(col("day").asc)
    val (b50, b90) = est(col("day").desc)
    assert(a50 == b50 && a90 == b90,
      s"exact-mode merges must be order-invariant: ($a50,$a90) vs ($b50,$b90)")
    // inclusive-rank quantile over 1..120: smallest v with rank(v) >= q
    assert(a50 == 60.0, s"p50 of 1..120 must be exact in exact mode, got $a50")
    assert(a90 == 108.0, s"p90 of 1..120 must be exact in exact mode, got $a90")
  }

  test("kll quantiles: compaction mode bounds the true rank in both merge orders") {
    import spark.implicits._
    val k = 200
    val eps = 2 * org.apache.datasketches.kll.KllSketch.getNormalizedRankError(k, false)
    // 8000 values > k forces compaction; seeded shuffle spreads days so
    // each daily sketch also compacts
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1 to 8000).toVector).zipWithIndex
      .map { case (v, i) => (i % 16, v.toDouble) }
    val ev = rows.toDF("day", "value").repartition(4).localCheckpoint(true)
    val daily = ev.groupBy("day")
      .agg(expr(s"kll_sketch_agg_double(value, $k)").as("sk"))
      .localCheckpoint(true)
    for (order <- Seq(col("day").asc, col("day").desc)) {
      val (n, e50, e90) = daily.repartition(1).sortWithinPartitions(order)
        .agg(expr("kll_merge_agg_double(sk)").as("msk"))
        .selectExpr("kll_sketch_get_n_double(msk)",
          "kll_sketch_get_quantile_double(msk, 0.5d)",
          "kll_sketch_get_quantile_double(msk, 0.9d)")
        .as[(Long, Double, Double)].head()
      assert(n == 8000L, "tracked n is exact through any merge tree")
      // true inclusive rank of the estimate over the uniform 1..8000
      def trueRank(v: Double): Double = math.floor(v) / 8000.0
      assert(math.abs(trueRank(e50) - 0.5) <= eps,
        s"p50 estimate $e50 outside rank bound $eps")
      assert(math.abs(trueRank(e90) - 0.9) <= eps,
        s"p90 estimate $e90 outside rank bound $eps")
    }
  }

  test("d_curate_full: the funnel counts are monotone and the survivors are exactly n_s8") {
    val rows = TextQueries.queries("d_curate_full")(spark, sf)
      .localCheckpoint(true)
    val head = rows.select((1 to 8).map(i => col(s"n_s$i")): _*).head()
    val funnel = (0 until 8).map(head.getLong)
    assert(funnel == funnel.sorted.reverse,
      s"cumulative gates can only shrink the survivor set: $funnel")
    assert(rows.count() == funnel.last,
      s"emitted survivors (${rows.count()}) must equal the last funnel stage (${funnel.last})")
  }

  test("d_domain_gate: blocked domains are absent and every kept doc carries its domain's stats") {
    val rows = TextQueries.queries("d_domain_gate")(spark, sf)
      .localCheckpoint(true)
    val nBlocked = rows.select("n_blocked").head().getLong(0)
    assert(nBlocked >= 3L, "the bottom-3 rule always blocks at least 3 domains")
    val keptDomains = rows.select("domain").distinct().count()
    // every domain is either fully kept or fully blocked — the gate is
    // domain-level by construction
    val docsPerDomain = rows.groupBy("domain").count()
      .select("count").distinct().collect().map(_.getLong(0))
    assert(docsPerDomain.forall(_ > 0))
    assert(keptDomains + nBlocked >= 4,
      s"kept $keptDomains + blocked $nBlocked domains should cover the corpus' sources")
  }

  test("d_curate_emit: every shard's window count is the ceil of its token mass") {
    // the result is a localCheckpoint of the manifest (the scratch shard
    // dir is gone by return), so the invariant is pinned on the OUTPUT:
    // ≤ 8 shards, window count = ceil(token mass / 512) per shard
    val df = TextQueries.queries("d_curate_emit")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 8)
    rows.foreach { r =>
      val nTokens = r.getAs[Long]("n_tokens")
      val nWindows = r.getAs[Long]("n_windows")
      assert(nWindows == (nTokens + 511) / 512,
        s"window count must be ceil(token mass / 512): $r")
    }
  }

  /** `body`'s outcome, and the jobs tagged `graft-overlap-*` that started
    * during it and those still running once it returned (listener bus
    * drained first).
    */
  private def overlapJobs[T](body: => T): (scala.util.Try[T], Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-overlap-"))) started.add(js.jobId): Unit
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(je.jobId): Unit
    }
    sc.addSparkListener(listener)
    try {
      val r = scala.util.Try(body)
      drainListenerBus()
      import scala.jdk.CollectionConverters._
      (r, started.asScala.toSet, started.asScala.toSet -- ended.asScala)
    } finally sc.removeSparkListener(listener)
  }

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  test("d_curate_emit: concurrent dependency chains give the rows of one-by-one shared-frame builds") {
    val (rows, tagged, running) = overlapJobs(
      TextQueries.queries("d_curate_emit")(spark.newSession(), sf01).collect().toSeq)
    assert(tagged.nonEmpty, "the dependency chains run on Overlap threads")
    assert(running.isEmpty, s"overlap jobs outlived the call: $running")
    // the builders d_curate_emit reaches, one by one in registry order
    val seq = spark.newSession()
    val reached = Set("minhash_pairs", "ulm2", "kn3_base", "kn3_scored_all",
      "ppl_buckets", "clf_holdout_weights", "clf_cal_fit", "curate_ccnet")
    SharedFrames.builders.filter { case (n, _) => reached(n) }
      .foreach { case (_, build) => build(seq, sf01).count() }
    assert(rows.get == TextQueries.queries("d_curate_emit")(seq, sf01).collect().toSeq)
  }

  test("curateCcnetFrame: a failing chain stops the others and leaves no memo entry") {
    val s = spark.newSession()
    SessionMemo.put(s, s"minhash_pairs:$sf01",
      s.range(1).select(raise_error(lit("injected edge failure")).cast("long").as("a"),
        lit(1L).as("b")))
    val (r, _, running) = overlapJobs(TextQueries.curateCcnetFrame(s, sf01))
    assert(r.isFailure, "the dedup chain's failure propagates")
    val msgs = Iterator.iterate(r.failed.get)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("injected edge failure")), r.failed.get)
    assert(SessionMemo.peek(s, s"curate_ccnet:$sf01").isEmpty)
    assert(running.isEmpty, s"overlap jobs outlived the call: $running")
  }
}

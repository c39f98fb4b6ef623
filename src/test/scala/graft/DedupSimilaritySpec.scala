package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.CrossHash
import graft.operators.{Dedup, Multimodal, Similarity}

/** Behavior specs for the dedup / similarity / multimodal tier on small
  * synthetic frames (the DuckDB oracle covers exact parity; these cover
  * semantics the oracle can't, like LSH recall vs brute force).
  */
class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals here"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  private def toks = CrossHash.tokens(col("text"))

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", md5(col("text")))
      .orderBy("rep_doc_id").select("rep_doc_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash LSH surfaces the planted near-dup and exact-dup pairs only") {
    // 8 bands × 2 rows: near-dup collision probability ≈ 1 - 8e-5 for the
    // j≈0.83 planted pair (and the pipeline is fully deterministic, so a
    // pass here is a pass forever); the 4×4 production curve trades some of
    // that recall for far fewer background candidates.
    val pairs = Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3),
        k = 16, bands = 8, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides (j = 1)
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never pairs
  }

  test("fuzzyJoinPairs: cross-side pairs equal the self-join restricted to cross-side") {
    // Even/odd split of one corpus through the two-table API must return
    // exactly the cross-side subset of minhashPairs on the union — the
    // signatures and band keys are computed by the same body, so the only
    // difference is the candidate predicate.
    val (k, bands, thr) = (16, 8, 0.5)
    val self = Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3),
        k = k, bands = bands, threshold = thr)
      .select("a", "b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val crossOfSelf = self.collect {
      case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (a, b, j)
      case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (b, a, j)
    }
    val fj = Dedup.fuzzyJoinPairs(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", CrossHash.wordShingles(toks, 3),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", CrossHash.wordShingles(toks, 3),
        k = k, bands = bands, threshold = thr)
      .select("left_id", "right_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fj == crossOfSelf)
    assert(fj.exists { case (l, r, _) => l == 4L && r == 1L }) // exact dup straddles the split (j = 1)
    // two left rows sharing every band (1 and... none here) never pair:
    // every returned pair is (even, odd) by construction.
    assert(fj.forall { case (l, r, _) => l % 2 == 0 && r % 2 == 1 })
  }

  test("fuzzyJoinPairs == cross-side of minhashPairs on seeded random corpora") {
    // The parity claim from the fixed fixture, re-pinned on random corpora
    // (seeded — the scalacheck-per-case pipeline cost would be prohibitive;
    // same pattern as the star-CC random-graph pins).
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(18)(i => s"w${i}x")
      val corpus = (0L until 24L).map { id =>
        // half the docs are perturbed copies of a shared template, so
        // near-dup pairs exist across the even/odd boundary
        val base = Vector.tabulate(10)(i => vocab((i * 7 + seed) % vocab.size))
        val toksV =
          if (id % 3 == 0) Vector.fill(10)(vocab(rnd.nextInt(vocab.size)))
          else base.updated(rnd.nextInt(10), vocab(rnd.nextInt(vocab.size)))
        (id, toksV.mkString(" "))
      }.toDF("doc_id", "text")
      val self = Dedup.minhashPairs(corpus, "doc_id", CrossHash.wordShingles(toks, 2),
          k = 16, bands = 8, threshold = 0.4)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val crossOfSelf = self.collect {
        case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (a, b, j)
        case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (b, a, j)
      }
      val fj = Dedup.fuzzyJoinPairs(
          corpus.filter(col("doc_id") % 2 === 0), "doc_id", CrossHash.wordShingles(toks, 2),
          corpus.filter(col("doc_id") % 2 === 1), "doc_id", CrossHash.wordShingles(toks, 2),
          k = 16, bands = 8, threshold = 0.4)
        .select("left_id", "right_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(fj == crossOfSelf, s"seed=$seed")
      assert(crossOfSelf.nonEmpty, s"seed=$seed planted no cross-side pair — fixture too weak")
    }
  }

  test("fuzzyJoinPairs refuses ids outside [0, 2^62) loudly") {
    val bad = Seq((-1L, "negative id document text here")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.fuzzyJoinPairs(
        bad, "doc_id", CrossHash.wordShingles(CrossHash.tokens(col("text")), 3),
        docs, "doc_id", CrossHash.wordShingles(toks, 3)).collect()
    }
    assert(ex.getMessage.contains("cannot side-encode") ||
      Option(ex.getCause).exists(_.getMessage.contains("cannot side-encode")))
  }

  test("persisted minhash index: zero Exchange under index scans, inline pair parity") {
    // corpus where the new batch (id % 10 == 0) contains an exact dup and a
    // near-dup of index-side docs, plus an unrelated doc that must not pair
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "some completely independent sentence about catalyst optimizer rules"),
      (3L, "training corpora need dedup before the tokenizer ever sees them"),
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (20L, "training corpora need dedup before the tokenizer ever sees them"),
      (30L, "nothing in common with any other document in this tiny corpus")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      corpus, "doc_id", CrossHash.wordShingles(toks, 3), k = 16).localCheckpoint(true)
    val newSigs = sigs.filter(col("id") % 10 === 0).localCheckpoint(true)
    val idxSigs = sigs.filter(col("id") % 10 =!= 0).localCheckpoint(true)

    Dedup.writeMinhashIndex(idxSigs, "mh_idx_spec", buckets = 4, k = 16, bands = 8)

    // reopen in a FRESH session (shared catalog, isolated state) — the
    // next-day-ingest shape the index exists for
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false") // keep Exchanges visible
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    val newOnFresh = fresh.createDataFrame(newSigs.rdd, newSigs.schema)
    val lazyPlan = Dedup.minhashPairsAgainstIndexPlan(
      newOnFresh, "mh_idx_spec", k = 16, bands = 8, threshold = 0.5)

    // every bucketed index scan must reach its consuming join with no
    // Exchange in between (the new side shuffles to match; the index never)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val indexScans = paths(lazyPlan.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains("mh_idx_spec")
    }
    assert(indexScans.size == 2, s"expected both index tables scanned, got $indexScans")
    indexScans.foreach { case (scan, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(anc.exists(_.isInstanceOf[BaseJoinExec]), "index scan must feed a join")
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed index scan and its join: $toJoin\n${scan.nodeName}")
    }

    // parameter mismatch must fail loudly, never silently return no pairs
    // (folded band keys are (k, bands)-dependent strings)
    val mismatch = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndexPlan(newOnFresh, "mh_idx_spec", k = 16, bands = 4)
    }
    assert(mismatch.getMessage.contains("written with k=16 bands=8"))

    // identical pair set to the inline (non-persisted) path
    val viaIndex = lazyPlan.select("new_id", "index_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Dedup.minhashPairsFromSignatures(
        newSigs, idxSigs, k = 16, bands = 8, threshold = 0.5)
      .select("new_id", "index_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == inline, s"index path diverged: $viaIndex vs $inline")
    assert(viaIndex.exists { case (n, i, j) => n == 20L && i == 3L && j == 1.0 })
    assert(viaIndex.exists { case (n, i, _) => n == 10L && i == 1L })
    assert(!viaIndex.exists { case (n, _, _) => n == 30L })
  }

  test("persisted IVF index: zero Exchange on the lists scan, exact inline parity") {
    // deterministic 8-dim corpus: 3 well-separated direction clusters so
    // both the quantizer and the top-k are unambiguous
    val corpus = (0 until 60).map { i =>
      val base = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d % 3 == base) 10.0f else 0.1f) + (i * 7 % 13) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 20 === 0)

    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", "ivf_idx_spec",
      buckets = 4, nlist = 4, iters = 2)

    // reopen in a FRESH session (shared catalog, isolated state) — the
    // per-query-batch probe shape the index exists for
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false") // keep Exchanges visible
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    val qOnFresh = fresh.createDataFrame(queries.rdd, queries.schema)
    val lazyPlan = Similarity.ivfTopKAgainstIndexPlan(
      qOnFresh, "ivf_idx_spec", "vec_id", "embedding", k = 3, nprobe = 2)

    // the bucketed lists scan must reach its candidate join with no
    // Exchange in between (the probe side shuffles to match; the corpus
    // never). The centroid table is exempt: it is nlist rows and reaches
    // its join through an explicit broadcast.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val listScans = paths(lazyPlan.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains("ivf_idx_spec_lists")
    }
    assert(listScans.size == 1, s"expected exactly one lists scan, got $listScans")
    listScans.foreach { case (scan, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(anc.exists(_.isInstanceOf[BaseJoinExec]), "lists scan must feed a join")
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed lists scan and its join: $toJoin\n${scan.nodeName}")
    }

    // nprobe beyond the index's nlist must fail loudly
    val bad = intercept[IllegalArgumentException] {
      Similarity.ivfTopKAgainstIndexPlan(
        qOnFresh, "ivf_idx_spec", "vec_id", "embedding", k = 3, nprobe = 9)
    }
    assert(bad.getMessage.contains("nlist=4"))

    // the deterministic quantizer makes the persisted probe EXACTLY the
    // inline ivfTopK result — not recall-close, identical
    val viaIndex = lazyPlan.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaIndex == inline, s"index probe diverged: $viaIndex vs $inline")
    assert(viaIndex.nonEmpty)
  }

  test("IVF index fork: probe parity, copy-on-write, active-generation source, bucket spec kept") {
    val corpus = (0 until 60).map { i =>
      val base = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d % 3 == base) 10.0f else 0.1f) + (i * 7 % 13) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    for (p <- Seq("ivf_snap_src", "ivf_snap_src_g1", "ivf_snap_fork");
         sfx <- Seq("_lists", "_cents", "_meta", "_current"))
      graft.sources.Sinks.dropManagedTable(spark, s"$p$sfx")

    // source index rebuilt once, so its ACTIVE generation is _g1 and the
    // bare tables are gone — the fork must resolve the serving generation
    // through the pointer, not assume bare tables exist
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", "ivf_snap_src",
      buckets = 4, nlist = 4, iters = 2)
    Similarity.Ivf.rebuild(spark, "ivf_snap_src")(Similarity.writeIvfIndex(
      corpus, "vec_id", "embedding", _, buckets = 4, nlist = 4, iters = 2))
    Similarity.Ivf.fork(spark, "ivf_snap_src", "ivf_snap_fork")

    def probe(prefix: String) = Similarity.ivfTopKAgainstIndex(
        queries, prefix, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaSrc = probe("ivf_snap_src")
    assert(viaSrc.nonEmpty)
    assert(probe("ivf_snap_fork") == viaSrc,
      "fork must serve byte-identical answers to its source generation")

    // the copy preserved the bucket layout (zero-Exchange probes on the
    // fork ride the same spec the source was written with)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ivf_snap_fork_lists")).bucketSpec
    assert(spec.exists(b => b.numBuckets == 4 && b.bucketColumnNames == Seq("cid")),
      s"fork lists lost the source bucket spec: $spec")

    // copy-on-write: scrubbing the fork never touches the source (the
    // fork's delete is a generation cutover — resolve through its pointer)
    Similarity.deleteFromIvfIndex(spark, "ivf_snap_fork",
      corpus.filter(col("vec_id") % 2 === 0).select(col("vec_id").as("id")))
    assert(spark.table(s"${graft.sources.Sinks.activeTablePrefix(spark,
      "ivf_snap_fork")}_lists").count() == 30)
    assert(spark.table("ivf_snap_src_g1_lists").count() == 60,
      "deleting from the fork must leave the source lists intact")
    assert(probe("ivf_snap_src") == viaSrc,
      "source probe changed after a fork-side deletion")
  }

  test("aHash pairs the single-pixel twin; byte hashing cannot") {
    import graft.operators.Multimodal
    val ids = Seq(3L, 7L, 10L).toDF("doc_id")
    val base = Multimodal.synthesizePng(ids, "doc_id")
    val twins = Multimodal.synthesizePngNearDup(ids.filter(col("doc_id") === 10L), "doc_id")
    // the twin's PAYLOAD differs from its base (exact dedup blind spot)...
    val basePayload = base.filter(col("asset_id") === 10L)
      .select("payload").head().getAs[Array[Byte]](0)
    val twinPayload = twins.select("payload").head().getAs[Array[Byte]](0)
    assert(!java.util.Arrays.equals(basePayload, twinPayload),
      "twin must be byte-different from its base")
    // ...but the perceptual hash pairs them within the planted budget
    val pairs = Multimodal.aHashPairs(
        Multimodal.imageAHash(base.unionByName(twins)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val twinPair = pairs.filter(p => p._1 == 10L && p._2 == 10000010L)
    assert(twinPair.length == 1, s"planted twin not paired: ${pairs.toSeq}")
    assert(twinPair.head._3 <= 2, s"twin hamming above the planted budget: $twinPair")
  }

  test("clip containment pairs the one-frame-retouched twin") {
    import graft.operators.Multimodal
    val ids = Seq(4L, 9L).toDF("doc_id")
    val base = Multimodal.synthesizeGif(ids, "doc_id")
    val twins = Multimodal.synthesizeGifNearDup(ids.filter(col("doc_id") === 9L), "doc_id")
    val basePayload = base.filter(col("asset_id") === 9L)
      .select("payload").head().getAs[Array[Byte]](0)
    val twinPayload = twins.select("payload").head().getAs[Array[Byte]](0)
    assert(!java.util.Arrays.equals(basePayload, twinPayload),
      "twin clip must be byte-different from its base")
    val pairs = Multimodal.clipContainmentPairs(
        Multimodal.gifFrameAHash(base.unionByName(twins)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val twinPair = pairs.filter(p => p._1 == 9L && p._2 == 10000009L)
    assert(twinPair.length == 1, s"planted twin clip not paired: ${pairs.toSeq}")
    // at most the retouched frame can miss; every other frame matches
    assert(twinPair.head._3 >= twinPair.head._4 - 1,
      s"too few matched frames for the twin: $twinPair")
  }

  test("k-means assignment is invariant to input partitioning (bit-exact)") {
    // THE determinism claim behind the exact-replay oracle: centroid
    // means are exact-decimal sums (shuffle order cannot perturb a bit)
    // and distances round before the argmin — so clustering the same
    // corpus under different partitionings must be byte-identical, not
    // merely close. A double-summed mean would fail this intermittently.
    val corpus = (0 until 90).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 97) * 0.013f).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def run(parts: Int) = Similarity.kmeansAssign(
        corpus.repartition(parts), "vec_id", "embedding", k = 5, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(1); val b = run(7); val c = run(32)
    assert(a == b && b == c, s"partitioning changed the clustering: ${a.size}/${b.size}/${c.size}")
    assert(a.map(_._2).size > 1)
  }

  test("k-means model: persisted-assign parity, blue/green rebuild resolve, ragged refusal") {
    val corpus = (0 until 60).map { i =>
      val base = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d % 3 == base) 10.0f else 0.1f) + (i * 7 % 13) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    for (p <- Seq("km_spec", "km_spec_g1"); sfx <- Seq("_cents", "_meta", "_current"))
      graft.sources.Sinks.dropManagedTable(spark, s"$p$sfx")

    Similarity.writeKmeansModel(corpus, "vec_id", "embedding", "km_spec",
      k = 4, iters = 2)
    def viaModel = Similarity.assignAgainstKmeansModel(
        corpus, "km_spec", "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = Similarity.kmeansAssign(corpus, "vec_id", "embedding",
        k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaModel == inline,
      "assignment through the persisted model must equal the inline train+assign")
    assert(inline.map(_._2).size > 1)

    // retrain at a different k through the pointer cutover: assignment
    // must resolve the NEW generation without call-site changes
    val gen = Similarity.Kmeans.rebuild(spark, "km_spec")(
      Similarity.writeKmeansModel(corpus, "vec_id", "embedding", _, k = 2, iters = 1))
    assert(gen == 1L)
    assert(!spark.catalog.tableExists("km_spec_cents"), "bare generation retired")
    assert(viaModel.map(_._2).max <= 2L,
      "post-cutover assignment must use the k=2 generation's centroids")

    // serving is fed by other processes: ragged batches refuse loudly
    val ragged = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.assignAgainstKmeansModel(ragged, "km_spec", "vec_id", "embedding")
        .collect()
    }
    assert(err.getMessage.contains("dimension"))
  }

  test("persisted IVF-PQ index: zero Exchange on codes scan, no vectors in the wide join, recall") {
    // 3 well-separated direction clusters, 16-dim (m=4 × subDim=4)
    val corpus = (0 until 60).map { i =>
      val base = i % 3
      val v = Array.tabulate(16)(d =>
        (if (d % 3 == base) 10.0f else 0.1f) + (i * 7 % 13) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    Seq("ivfpq_spec_codes", "ivfpq_spec_vecs", "ivfpq_spec_cents",
        "ivfpq_spec_books", "ivfpq_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", "ivfpq_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 16)

    // the codes table carries PQ codes + one norm, never embedding arrays —
    // the scan-width claim the index exists for
    val codeCols = spark.table("ivfpq_spec_codes").schema.fieldNames.toSet
    assert(codeCols == Set("cid", "neighbor_id", "codes", "cn2a"))
    assert(spark.table("ivfpq_spec_codes").count() == 60)
    assert(spark.table("ivfpq_spec_codes")
      .select("neighbor_id").distinct().count() == 60)

    // reopen in a fresh session; bucketed codes scan must feed its join
    // with no Exchange (probe side shuffles to match; the index never)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val qOnFresh = fresh.createDataFrame(queries.rdd, queries.schema)
    val lazyPlan = Similarity.ivfPqTopKAgainstIndexPlan(
      qOnFresh, "ivfpq_spec", "vec_id", "embedding", k = 3, nprobe = 2, shortlist = 32)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val codeScans = paths(lazyPlan.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains("ivfpq_spec_codes")
    }
    assert(codeScans.size == 1, s"expected exactly one codes scan, got $codeScans")
    codeScans.foreach { case (scan, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(anc.exists(_.isInstanceOf[BaseJoinExec]), "codes scan must feed a join")
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed codes scan and its join: $toJoin\n${scan.nodeName}")
    }

    // nprobe beyond nlist fails loudly
    val bad = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKAgainstIndexPlan(
        qOnFresh, "ivfpq_spec", "vec_id", "embedding", k = 3, nprobe = 9)
    }
    assert(bad.getMessage.contains("nlist=4"))

    // deterministic pipeline: two probes are byte-identical, and on this
    // cleanly separable fixture the probe recovers the exact top-3
    val got = lazyPlan.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val again = Similarity.ivfPqTopKAgainstIndex(
        qOnFresh, "ivfpq_spec", "vec_id", "embedding", k = 3, nprobe = 2, shortlist = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == again, "IVF-PQ probe must be deterministic")
    val brute = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val gotRanks = got.map(t => (t._1, t._2, t._3))
    assert(gotRanks == brute,
      s"separable-fixture probe must recover exact top-3: $gotRanks vs $brute")
  }

  test("IVF-PQ append: frozen-quantizer coding equals one-shot coding, probes see it") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(16)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val dayA = corpus.filter(col("vec_id") < 60)
    val dayB = corpus.filter(col("vec_id") >= 60)
    for (t <- Seq("codes", "vecs", "cents", "books", "meta"))
      graft.sources.Sinks.dropManagedTable(spark, s"ivfpq_app_spec_$t")
    Similarity.writeIvfPqIndex(dayA, "vec_id", "embedding", "ivfpq_app_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 16)
    Similarity.appendToIvfPqIndex(dayB, "ivfpq_app_spec", "vec_id", "embedding")

    // append-grown codes must be EXACTLY what direct coding of the full
    // corpus under the STORED (frozen) quantizers produces — assignment
    // and encode are deterministic given centroids+codebooks, so the
    // append path adds nothing the build path wouldn't have
    val codesRows = spark.table("ivfpq_app_spec_codes")
      .select("cid", "neighbor_id", "codes", "cn2a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2), r.getDouble(3)))
      .toSet
    assert(codesRows.size == 80)
    assert(codesRows.map(_._2) == (0 until 80).map(_.toLong).toSet)
    val books = Array.fill(4, 8)(Array.empty[Double])
    spark.table("ivfpq_app_spec_books").collect().foreach { r =>
      books(r.getInt(0))(r.getLong(1).toInt - 1) = r.getSeq[Double](2).toArray
    }
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ce"))
    val cN = c.withColumn("cen", Similarity.normalizedArr(col("ce")))
    val expected = cN
      .select((col("neighbor_id") +: Similarity.pqCodeCols(books, 4, col("cen"))): _*)
      .withColumn("cn2a", Similarity.pqCn2aCol(books))
      .select(col("neighbor_id"),
        array((0 until 4).map(j => col(s"code$j")): _*).as("codes"), col("cn2a"))
      .join(Similarity.assignToCentroids(c, "neighbor_id", "ce",
        spark.table("ivfpq_app_spec_cents")), "neighbor_id")
      .select("cid", "neighbor_id", "codes", "cn2a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2), r.getDouble(3)))
      .toSet
    assert(codesRows == expected,
      "append-grown codes must equal one-shot coding under frozen quantizers")

    // probes reach the appended vectors: a wide top-k from vec 0 must
    // surface appended direction-cluster mates (60, 64, 68, 72, 76)
    val hits = Similarity.ivfPqTopKAgainstIndex(
        corpus.filter(col("vec_id") === 0), "ivfpq_app_spec",
        "vec_id", "embedding", k = 30, nprobe = 2, shortlist = 64)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.exists(_ >= 60L),
      s"probe must surface appended vectors as candidates, got $hits")
  }

  test("IVF append: frozen-quantizer listing equals one-shot listing, probes see it") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val dayA = corpus.filter(col("vec_id") < 60)
    val dayB = corpus.filter(col("vec_id") >= 60)
    Seq("ivf_app_spec_lists", "ivf_app_spec_cents", "ivf_app_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Similarity.writeIvfIndex(dayA, "vec_id", "embedding", "ivf_app_spec",
      buckets = 4, nlist = 4, iters = 2)
    Similarity.appendToIvfIndex(dayB, "ivf_app_spec", "vec_id", "embedding")

    // appended rows must be EXACTLY what a one-shot listing of the full
    // corpus under the same (frozen) centroids would produce — assignment
    // is deterministic given centroids
    val listed = spark.table("ivf_app_spec_lists")
      .select("cid", "neighbor_id").as[(Long, Long)].collect().toSet
    val expected = Similarity.assignToCentroids(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
        "neighbor_id", "ce", spark.table("ivf_app_spec_cents"))
      .select(col("cid"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    assert(listed == expected,
      "append-grown lists must equal one-shot assignment under frozen centroids")
    assert(listed.size == 80)

    // probes reach the appended vectors: a wide top-k from vec 0 must
    // surface its appended direction-cluster mates (60, 64, 68, 72, 76
    // share vec 0's base pattern and rank far above cross-cluster ids)
    val hits = Similarity.ivfTopKAgainstIndex(
        corpus.filter(col("vec_id") === 0), "ivf_app_spec",
        "vec_id", "embedding", k = 30, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.exists(_ >= 60L),
      s"probe must surface appended vectors as candidates, got $hits")
  }

  test("IVF rebuild cutover: probes follow the pointer; pre-flip windows serve the old index") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val q = corpus.filter(col("vec_id") < 3)
    def probe() = Similarity.ivfTopKAgainstIndex(q, "ivf_rb_spec",
        "vec_id", "embedding", k = 3, nprobe = 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    Similarity.Ivf.drop(spark, "ivf_rb_spec")
    Similarity.writeIvfIndex(corpus.filter(col("vec_id") < 60),
      "vec_id", "embedding", "ivf_rb_spec", buckets = 4, nlist = 4, iters = 2)
    val before = probe()

    // pre-flip window: a COMPLETE but unflipped new generation must not
    // serve while the bare index exists — simulate by building g1
    // directly without touching the pointer
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", "ivf_rb_spec_g1",
      buckets = 4, nlist = 8, iters = 2)
    assert(probe() == before,
      "probes must keep serving the old index until the pointer flips")
    Seq("ivf_rb_spec_g1_lists", "ivf_rb_spec_g1_cents", "ivf_rb_spec_g1_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))

    // real rebuild: full corpus, more cells — probes follow, bare is gone
    val gen = Similarity.Ivf.rebuild(spark, "ivf_rb_spec")(Similarity.writeIvfIndex(
      corpus, "vec_id", "embedding", _, buckets = 4, nlist = 8, iters = 2))
    assert(gen == 1L)
    assert(!spark.catalog.tableExists("ivf_rb_spec_lists"),
      "the retired bare generation must be dropped")
    val after = probe()
    // the rebuilt index holds the FULL corpus: ids >= 60 are reachable
    val wide = Similarity.ivfTopKAgainstIndex(q, "ivf_rb_spec",
        "vec_id", "embedding", k = 30, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(wide.exists(_ >= 60L), "rebuilt index must serve the refreshed corpus")
    // appends and deletes resolve through the pointer too; a delete is
    // itself a generation cutover now (g1 → g2, g1 retired)
    Similarity.deleteFromIvfIndex(spark, "ivf_rb_spec",
      corpus.filter(col("vec_id") >= 60).select(col("vec_id").as("id")))
    assert(graft.sources.Sinks.activeTablePrefix(spark, "ivf_rb_spec")
      == "ivf_rb_spec_g2", "a delete must advance the generation")
    assert(!spark.catalog.tableExists("ivf_rb_spec_g1_lists"),
      "the pre-delete generation must be retired")
    assert(spark.table("ivf_rb_spec_g2_lists").count() == 60L)
    // the next rebuild keeps incrementing and retires g2
    assert(Similarity.Ivf.rebuild(spark, "ivf_rb_spec")(Similarity.writeIvfIndex(
      corpus, "vec_id", "embedding", _, buckets = 4, nlist = 4, iters = 2)) == 3L)
    assert(!spark.catalog.tableExists("ivf_rb_spec_g2_lists"))
    assert(probe().nonEmpty && after.nonEmpty)
  }

  test("IVF-PQ rebuild cutover: probes follow the pointer, retired generation dropped") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val sfx = Seq("_codes", "_vecs", "_cents", "_books", "_meta")
    (sfx.map("ivfpq_rb_spec" + _) ++ Seq("ivfpq_rb_spec_current")
      ++ sfx.map("ivfpq_rb_spec_g1" + _))
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Similarity.writeIvfPqIndex(corpus.filter(col("vec_id") < 60),
      "vec_id", "embedding", "ivfpq_rb_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 8)
    assert(Similarity.IvfPq.rebuild(spark, "ivfpq_rb_spec")(Similarity.writeIvfPqIndex(
      corpus, "vec_id", "embedding", _, buckets = 4, nlist = 4, nlistIters = 2,
      m = 4, ks = 8, iters = 2, dims = 8)) == 1L)
    assert(!spark.catalog.tableExists("ivfpq_rb_spec_codes"),
      "the retired bare generation must be dropped")
    // probe resolves through the pointer and reaches the refreshed corpus
    val wide = Similarity.ivfPqTopKAgainstIndex(
        corpus.filter(col("vec_id") === 0), "ivfpq_rb_spec",
        "vec_id", "embedding", k = 30, nprobe = 4, shortlist = 60)
      .select("neighbor_id").as[Long].collect().toSet
    assert(wide.exists(_ >= 60L), "rebuilt index must serve the refreshed corpus")
    // appends resolve too: the grown generation holds 80 + 2 codes
    Similarity.appendToIvfPqIndex(
      corpus.limit(0).union(Seq(
        (100L, Array.tabulate(8)(_ * 0.1f).toSeq),
        (101L, Array.tabulate(8)(d => 1.0f - d * 0.1f).toSeq))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))),
      "ivfpq_rb_spec", "vec_id", "embedding")
    assert(spark.table("ivfpq_rb_spec_g1_codes").count() == 82L)
  }

  test("filtered IVF probe: pre-filter semantics exact under exhaustive probing, sargable push") {
    val corpus = (0 until 60).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    Seq("ivf_flt_spec_lists", "ivf_flt_spec_cents", "ivf_flt_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", "ivf_flt_spec",
      buckets = 4, nlist = 4, iters = 2)
    val q = corpus.filter(col("vec_id") < 3)
    // nprobe = nlist probes every cell, so the filtered result must be
    // EXACTLY brute force over the filtered corpus — pre-filter
    // semantics with no approximation left to hide behind
    val got = Similarity.ivfTopKAgainstIndex(q, "ivf_flt_spec",
        "vec_id", "embedding", k = 3, nprobe = 4,
        candidateFilter = col("neighbor_id") % 3 === 0)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(
        q, corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, "exhaustive filtered probe must equal filtered brute force")
    assert(got.forall(_._3 % 3 == 0), "no ineligible neighbor may surface")
    // a SARGABLE predicate must reach the lists parquet scan
    val p = Similarity.ivfTopKAgainstIndexPlan(q, "ivf_flt_spec",
        "vec_id", "embedding", k = 3, nprobe = 4,
        candidateFilter = col("neighbor_id") <= 40)
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThanOrEqual(neighbor_id,40)"),
      s"sargable candidate filter not pushed into the lists scan:\n$p")
  }

  test("filtered IVF-PQ probe: exhaustive probe + full shortlist equals filtered brute force") {
    val corpus = (0 until 60).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    Seq("ivfpq_flt_spec_codes", "ivfpq_flt_spec_vecs", "ivfpq_flt_spec_cents",
        "ivfpq_flt_spec_books", "ivfpq_flt_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", "ivfpq_flt_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 8)
    val q = corpus.filter(col("vec_id") < 3)
    // nprobe = nlist and shortlist >= |eligible| leave no approximation:
    // the exact re-rank must reproduce filtered brute force verbatim
    val got = Similarity.ivfPqTopKAgainstIndex(q, "ivfpq_flt_spec",
        "vec_id", "embedding", k = 3, nprobe = 4, shortlist = 60,
        candidateFilter = col("neighbor_id") % 3 === 0)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(
        q, corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      "exhaustive filtered IVF-PQ probe must equal filtered brute force")
    assert(got.forall(_._3 % 3 == 0), "no ineligible neighbor may surface")
  }

  test("exactly-once IVF append: redelivery skips, crash-retry scrubs to the clean state") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val seed = corpus.filter(col("vec_id") < 40)
    val batchA = corpus.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val batchB = corpus.filter(col("vec_id") >= 60)
    Similarity.Ivf.drop(spark, "ivf_eo_spec")
    Similarity.writeIvfIndex(seed, "vec_id", "embedding", "ivf_eo_spec",
      buckets = 4, nlist = 4, iters = 2)
    // the crash-recovery scrub is a generation cutover — resolve reads
    def active() = graft.sources.Sinks.activeTablePrefix(spark, "ivf_eo_spec")
    def lists() = spark.table(s"${active()}_lists")
      .select("cid", "neighbor_id").as[(Long, Long)].collect().toSet

    assert(Similarity.exactlyOnceAppendToIvfIndex(
      batchA, "ivf_eo_spec", "vec_id", "embedding", 0L).isDefined)
    val clean = lists()
    // committed redelivery: skip, listing untouched
    assert(Similarity.exactlyOnceAppendToIvfIndex(
      batchA, "ivf_eo_spec", "vec_id", "embedding", 0L).isEmpty)
    assert(lists() == clean)

    // crash mid-append of batch B: intent in, HALF the rows listed
    graft.sources.TableFamily.recordLedger(spark, "ivf_eo_spec", 1L, "intent")
    Similarity.appendToIvfIndex(
      batchB.filter(col("vec_id") % 2 === 0), "ivf_eo_spec", "vec_id", "embedding")
    assert(Similarity.exactlyOnceAppendToIvfIndex(
      batchB, "ivf_eo_spec", "vec_id", "embedding", 1L).isDefined)
    // one row per corpus vector, assignment equal to one-shot listing
    // under the frozen centroids — no residual duplicates, none missing
    val expected = Similarity.assignToCentroids(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
        "neighbor_id", "ce", spark.table(s"${active()}_cents"))
      .select(col("cid"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    assert(lists() == expected,
      "crash-retry must land the listing in the clean one-shot state")
    assert(spark.table(s"${active()}_lists").count() == 80L)
  }

  test("exactly-once gram ingest: stamped scrub excises a partial append exactly") {
    val mkDocs = (r: Range, tag: String) => r.map(i =>
      (i.toLong, s"alpha beta gamma doc$tag$i shared tail words here")).toDF("doc_id", "text")
    val seed = mkDocs(0 until 4, "s")
    val batchA = mkDocs(10 until 14, "a")
    val batchB = mkDocs(20 until 26, "b")
    Dedup.Grams.drop(spark, "gram_eo_spec")
    Dedup.writeGramIndex(seed, "doc_id", toks, 3, "gram_eo_spec", buckets = 4)
    // the crash-recovery scrub is a generation cutover — resolve reads
    def dfTotals() = spark.table(
        s"${graft.sources.Sinks.activeTablePrefix(spark, "gram_eo_spec")}_grams")
      .groupBy("gram").agg(sum("n_docs").as("df"))
      .as[(String, Long)].collect().toMap

    assert(Dedup.exactlyOnceIngestIntoGramIndex(
      batchA, "doc_id", toks, "gram_eo_spec", 0L).isDefined)
    val clean = dfTotals()
    assert(Dedup.exactlyOnceIngestIntoGramIndex(
      batchA, "doc_id", toks, "gram_eo_spec", 0L).isEmpty)
    assert(dfTotals() == clean, "committed redelivery must not change df totals")

    // crash mid-append of batch B: intent recorded, only HALF the
    // batch's partial rows landed (stamped batch_id = 1)
    graft.sources.TableFamily.recordLedger(spark, "gram_eo_spec", 1L, "intent")
    Dedup.ingestIntoGramIndex(
      mkDocs(20 until 23, "b"), "doc_id", toks, "gram_eo_spec", batchId = 1L)
    assert(Dedup.exactlyOnceIngestIntoGramIndex(
      batchB, "doc_id", toks, "gram_eo_spec", 1L).isDefined)
    // reference: seed + A + B ingested cleanly from scratch
    Seq("gram_eo2_spec_grams", "gram_eo2_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeGramIndex(seed, "doc_id", toks, 3, "gram_eo2_spec", buckets = 4)
    Dedup.ingestIntoGramIndex(batchA, "doc_id", toks, "gram_eo2_spec")
    Dedup.ingestIntoGramIndex(batchB, "doc_id", toks, "gram_eo2_spec")
    val oneShot = spark.table("gram_eo2_spec_grams")
      .groupBy("gram").agg(sum("n_docs").as("df"))
      .as[(String, Long)].collect().toMap
    assert(dfTotals() == oneShot,
      "crash-retry must land df totals in the clean one-shot state " +
        "(a decrement-based scrub would have over-subtracted here)")
    // -1 sentinel refused: scrubbing it would nuke merged generations
    intercept[IllegalArgumentException] {
      Dedup.exactlyOnceIngestIntoGramIndex(
        batchB, "doc_id", toks, "gram_eo_spec", -1L)
    }
  }

  test("simhash: identical texts get identical hashes; near-dups are close") {
    val sims = Dedup.simhash(docs, "doc_id", CrossHash.wordShingles(toks, 3))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(4L))
    val hamming12 = java.lang.Long.bitCount(sims(1L) ^ sims(2L))
    val hamming13 = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    assert(hamming12 < hamming13)
  }

  test("simhashPairs band blocking is lossless for hamming <= maxHamming") {
    val sims = Seq((1L, 0L), (2L, 7L), (3L, 0xFFFFL)).toDF("id", "simhash")
    val pairs = Dedup.simhashPairs(sims, maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 3L))) // hamming(0,7)=3 kept; 16-bit distance dropped
  }

  test("connectedComponents: chain + triangle + singleton edge-absence") {
    // components: {1,2,3,4} (a chain, diameter 3 — needs >1 star round),
    // {10,11,12} (triangle), node 99 appears in no edge. Both branches of
    // the size gate: star rounds (driverEdgeLimit = 0) and the driver
    // union-find (default bound).
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    val star = Dedup.connectedComponents(edges, driverEdgeLimit = 0).as[(Long, Long)].collect().toMap
    val driver = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(star == want, s"star rounds: $star")
    assert(driver == star, s"driver union-find: $driver vs $star")
  }

  test("minhash ingest cycles: later batches dedup against earlier appends") {
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", CrossHash.wordShingles(toks, 3), k = 16)
        .localCheckpoint(true)
    val seed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "some completely independent sentence about catalyst optimizer rules"),
      (3L, "training corpora need dedup before the tokenizer ever sees them")
    ).toDF("doc_id", "text")
    Seq("mh_ingest_spec_bands", "mh_ingest_spec_sigs", "mh_ingest_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeMinhashIndex(sigsOf(seed), "mh_ingest_spec", buckets = 4, k = 16, bands = 8)

    // batch A: a near-dup of seed doc 1 plus a doc unlike anything so far
    val batchA = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (40L, "zebras graze quietly beside the river while herons watch the current")
    ).toDF("doc_id", "text")
    val pairsA = Dedup.ingestIntoMinhashIndex(sigsOf(batchA), "mh_ingest_spec", 0.5)
      .select("new_id", "index_id").as[(Long, Long)].collect().toSet
    assert(pairsA == Set((10L, 1L)), s"batch A must only match the seed, got $pairsA")

    // batch B: an exact copy of batch A's doc 40 — which exists ONLY via
    // batch A's append; finding it proves the maintenance step works
    val batchB = Seq(
      (50L, "zebras graze quietly beside the river while herons watch the current")
    ).toDF("doc_id", "text")
    val pairsB = Dedup.ingestIntoMinhashIndex(sigsOf(batchB), "mh_ingest_spec", 0.5)
      .select("new_id", "index_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairsB == Set((50L, 40L, 1.0)),
      s"batch B must find the cross-batch exact dup via the appended index, got $pairsB")

    // appends are cumulative and bucket-aligned: 3 seed + 2 + 1 docs
    assert(spark.table("mh_ingest_spec_sigs").count() == 6L)
    assert(spark.table("mh_ingest_spec_bands").count() == 6L * 8)
  }

  test("exactly-once minhash ingest: redelivery skips, crash-retry scrubs to the clean state") {
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", CrossHash.wordShingles(toks, 3), k = 16)
        .localCheckpoint(true)
    val seed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "zebras graze quietly beside the river while herons watch the current"),
      (11L, "training corpora need dedup before the tokenizer ever sees them"))
      .toDF("doc_id", "text")
    // the crash-recovery scrub is a generation cutover — resolve reads
    def tableState() = Seq("_sigs", "_bands").map { sfx =>
      spark.table(
          s"${graft.sources.Sinks.activeTablePrefix(spark, "mh_eo_spec")}$sfx")
        .collect().map(_.toString).sorted.toSeq
    }
    Dedup.Minhash.drop(spark, "mh_eo_spec")
    Dedup.writeMinhashIndex(sigsOf(seed), "mh_eo_spec", buckets = 4, k = 16, bands = 8)

    // first delivery applies
    assert(Dedup.exactlyOnceIngestIntoMinhashIndex(sigsOf(batch), "mh_eo_spec", 7L).isDefined)
    val clean = tableState()
    // checkpoint-lag redelivery: committed -> skip, tables byte-identical
    assert(Dedup.exactlyOnceIngestIntoMinhashIndex(sigsOf(batch), "mh_eo_spec", 7L).isEmpty)
    assert(tableState() == clean, "redelivery of a committed batch must not touch the index")

    // crash mid-append of batch 8: intent recorded, HALF the rows in, no
    // commit — the retry must scrub the residue and land exactly the
    // clean one-shot state
    val batch8 = Seq(
      (20L, "some completely independent sentence about catalyst optimizer rules"),
      (21L, "herons on the riverbank consider the zebra question at length"))
      .toDF("doc_id", "text")
    graft.sources.TableFamily.recordLedger(spark, "mh_eo_spec", 8L, "intent")
    Dedup.ingestIntoMinhashIndex(
      sigsOf(batch8.filter($"doc_id" === 20L)), "mh_eo_spec", 0.5)
    assert(Dedup.exactlyOnceIngestIntoMinhashIndex(sigsOf(batch8), "mh_eo_spec", 8L).isDefined)
    val recovered = tableState()
    // reference: the same batches applied cleanly into a fresh index
    Seq("mh_eo2_spec_bands", "mh_eo2_spec_sigs", "mh_eo2_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeMinhashIndex(sigsOf(seed), "mh_eo2_spec", buckets = 4, k = 16, bands = 8)
    Dedup.ingestIntoMinhashIndex(sigsOf(batch), "mh_eo2_spec")
    Dedup.ingestIntoMinhashIndex(sigsOf(batch8), "mh_eo2_spec")
    val oneShot = Seq("mh_eo2_spec_sigs", "mh_eo2_spec_bands").map { t =>
      spark.table(t).collect().map(_.toString).sorted.toSeq
    }
    assert(recovered == oneShot,
      "crash-retry must land the index in the clean one-shot state")
    // sanity: the scrubbed half did not double-insert
    val eoAtp = graft.sources.Sinks.activeTablePrefix(spark, "mh_eo_spec")
    assert(spark.table(s"${eoAtp}_sigs").count() == 5L)
    assert(spark.table(s"${eoAtp}_bands").count() == 5L * 8)
  }

  test("minhash/gram rebuild cutover: parameter change re-signs with no serving gap") {
    def sigsOf(df: org.apache.spark.sql.DataFrame, k: Int) =
      Dedup.minhashSignatures(df, "doc_id", CrossHash.wordShingles(toks, 3), k = k)
        .localCheckpoint(true)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "some completely independent sentence about catalyst optimizer rules"))
      .toDF("doc_id", "text")
    (Seq("_bands", "_sigs", "_meta").flatMap(sfx =>
      Seq(s"mh_rb_spec$sfx", s"mh_rb_spec_g1$sfx")) :+ "mh_rb_spec_current")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeMinhashIndex(sigsOf(docs, 16), "mh_rb_spec", buckets = 4, k = 16, bands = 4)
    // retune bands 4 -> 8: a full re-sign behind a pointer flip; probes
    // with the NEW parameters must work immediately after the cutover
    // (they'd throw the parameter-mismatch refusal against the old one)
    assert(Dedup.Minhash.rebuild(spark, "mh_rb_spec")(
      Dedup.writeMinhashIndex(sigsOf(docs, 16), _, buckets = 4, k = 16, bands = 8)) == 1L)
    assert(!spark.catalog.tableExists("mh_rb_spec_bands"))
    val probe = Seq((10L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsAgainstIndex(
        sigsOf(probe, 16), "mh_rb_spec", k = 16, bands = 8, threshold = 0.5)
      .select("new_id", "index_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 1L)), s"post-cutover probe must find the dup, got $pairs")

    // gram twin: width change 3 -> 5 behind the same pointer contract
    (Seq("_grams", "_meta").flatMap(sfx =>
      Seq(s"gram_rb_spec$sfx", s"gram_rb_spec_g1$sfx")) :+ "gram_rb_spec_current")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeGramIndex(docs, "doc_id", toks, 3, "gram_rb_spec", buckets = 4)
    assert(Dedup.Grams.rebuild(spark, "gram_rb_spec")(
      Dedup.writeGramIndex(docs, "doc_id", toks, 5, _, buckets = 4)) == 1L)
    assert(!spark.catalog.tableExists("gram_rb_spec_grams"))
    assert(spark.table("gram_rb_spec_current").head().getLong(0) == 1L)
    // the resolved index now answers with width-5 grams
    val spans = Dedup.dupSpansAgainstIndex(probe, "doc_id", toks, "gram_rb_spec")
    assert(spans.count() > 0, "post-cutover width-5 probe must mark the duplicated span")
  }

  test("minhash index compaction: fewer files, identical probe pairs") {
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", CrossHash.wordShingles(toks, 3), k = 16)
        .localCheckpoint(true)
    val seed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "some completely independent sentence about catalyst optimizer rules")
    ).toDF("doc_id", "text")
    Dedup.Minhash.drop(spark, "mh_cmp_spec")
    Dedup.writeMinhashIndex(sigsOf(seed), "mh_cmp_spec", buckets = 4, k = 16, bands = 8)
    // three append cycles fragment both tables (one file per bucket per cycle)
    for (i <- 0 until 3) {
      val b = Seq((100L + i,
        s"zebras graze quietly beside river number $i while herons watch"))
        .toDF("doc_id", "text")
      Dedup.ingestIntoMinhashIndex(sigsOf(b), "mh_cmp_spec", 0.5)
    }
    val probe = Seq(
      (500L, "the quick brown fox jumps over the lazy dog again and again today"),
      (501L, "zebras graze quietly beside river number 1 while herons watch")
    ).toDF("doc_id", "text")
    val before = Dedup.minhashPairsAgainstIndex(sigsOf(probe), "mh_cmp_spec", 16, 8, 0.5)
      .select("new_id", "index_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(before.contains((500L, 1L, 1.0)) && before.exists(_._1 == 501L))

    val (_, byMember) = Dedup.Minhash.compact(spark, "mh_cmp_spec")
    val counts = Seq(byMember("_bands"), byMember("_sigs"))
    counts.foreach { case (inF, outF) =>
      assert(outF < inF, s"compaction must reduce files: $inF -> $outF")
      assert(outF <= 4, s"one file per bucket expected, got $outF")
    }
    val after = Dedup.minhashPairsAgainstIndex(sigsOf(probe), "mh_cmp_spec", 16, 8, 0.5)
      .select("new_id", "index_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before, s"compaction changed probe results: $after vs $before")
    // row set unchanged — compaction is a layout rewrite for these tables
    // (staged as a fresh generation now — resolve through the pointer)
    val mhAtp = graft.sources.Sinks.activeTablePrefix(spark, "mh_cmp_spec")
    assert(mhAtp == "mh_cmp_spec_g1", s"compaction must advance the generation: $mhAtp")
    assert(spark.table(s"${mhAtp}_sigs").count() == 5L)
    assert(spark.table(s"${mhAtp}_bands").count() == 5L * 8)
  }

  test("gram index compaction: df partials collapse to one row per gram, probes identical") {
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta other words here")
    ).toDF("doc_id", "text")
    Dedup.Grams.drop(spark, "gram_cmp_spec")
    Dedup.writeGramIndex(seed, "doc_id", toks, 3, "gram_cmp_spec", buckets = 4)
    // two ingest cycles append df PARTIALS for overlapping grams
    for (i <- 0 until 2) {
      val b = Seq((10L + i, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text")
      Dedup.ingestIntoGramIndex(b, "doc_id", toks, "gram_cmp_spec")
    }
    val partialRows = spark.table("gram_cmp_spec_grams").count()
    val dayDocs = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    def probeAll() = (
      Dedup.dupSpansAtDayClose(dayDocs, "doc_id", toks, "gram_cmp_spec")
        .as[(Long, Long, Long, Long)].collect().toSet,
      Dedup.dupSpansAgainstIndex(dayDocs, "doc_id", toks, "gram_cmp_spec")
        .as[(Long, Long, Long, Long)].collect().toSet)
    val (closeBefore, probeBefore) = probeAll()
    assert(closeBefore.nonEmpty)

    val (inF, outF) = Dedup.compactGramIndex(spark, "gram_cmp_spec")
    assert(outF < inF, s"compaction must reduce files: $inF -> $outF")
    // partials merged: one row per distinct gram now (compaction staged a
    // fresh generation — resolve through the pointer)
    val gAtp = graft.sources.Sinks.activeTablePrefix(spark, "gram_cmp_spec")
    val compactRows = spark.table(s"${gAtp}_grams").count()
    assert(compactRows < partialRows,
      s"partials must collapse: $partialRows -> $compactRows")
    assert(spark.table(s"${gAtp}_grams")
      .groupBy("gram").count().filter(col("count") > 1).isEmpty,
      "exactly one row per gram after compaction")
    // df totals preserved exactly — sum of partials is the true df
    val (closeAfter, probeAfter) = probeAll()
    assert(closeAfter == closeBefore, "day-close spans changed under compaction")
    assert(probeAfter == probeBefore, "presence-probe spans changed under compaction")
  }

  test("IVF-PQ index compaction: fewer files, identical probe, zero-Exchange preserved") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(16)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    Similarity.IvfPq.drop(spark, "ivfpq_cmp_spec")
    Similarity.writeIvfPqIndex(corpus.filter(col("vec_id") < 50),
      "vec_id", "embedding", "ivfpq_cmp_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 16)
    // three append batches fragment _codes and _vecs
    for (lo <- Seq(50, 60, 70))
      Similarity.appendToIvfPqIndex(
        corpus.filter(col("vec_id") >= lo && col("vec_id") < lo + 10),
        "ivfpq_cmp_spec", "vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    def probe() = Similarity.ivfPqTopKAgainstIndex(
        queries, "ivfpq_cmp_spec", "vec_id", "embedding",
        k = 3, nprobe = 2, shortlist = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val beforeRows = probe()

    val (_, byMember) = Similarity.IvfPq.compact(spark, "ivfpq_cmp_spec")
    val ((cIn, cOut), (vIn, vOut)) = (byMember("_codes"), byMember("_vecs"))
    assert(cOut < cIn, s"codes compaction must reduce files: $cIn -> $cOut")
    assert(cOut <= 4, s"one file per bucket expected, got $cOut")
    assert(vOut < vIn, s"vecs compaction must reduce files: $vIn -> $vOut")
    assert(probe() == beforeRows, "compaction changed probe results")
    assert(spark.table(s"${graft.sources.Sinks.activeTablePrefix(spark,
      "ivfpq_cmp_spec")}_codes").count() == 80L)

    // the compacted table still feeds the probe join with zero Exchange
    // on the index side (bucket spec survived the stage-then-swap)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val qOnFresh = fresh.createDataFrame(queries.rdd, queries.schema)
    val lazyPlan = Similarity.ivfPqTopKAgainstIndexPlan(
      qOnFresh, "ivfpq_cmp_spec", "vec_id", "embedding", k = 3, nprobe = 2, shortlist = 32)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val activeCodes = s"${graft.sources.Sinks.activeTablePrefix(spark,
      "ivfpq_cmp_spec")}_codes"
    val codeScans = paths(lazyPlan.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains(activeCodes)
    }
    assert(codeScans.size == 1)
    codeScans.foreach { case (_, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(anc.exists(_.isInstanceOf[BaseJoinExec]))
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between compacted codes scan and its join: $toJoin")
    }
  }

  test("IVF-PQ deletion: probes never surface deleted vectors, both tables scrubbed") {
    val corpus = (0 until 80).map { i =>
      val base = i % 4
      val v = Array.tabulate(16)(d =>
        (if (d % 4 == base) 9.0f else 0.2f) + (i * 5 % 11) * 0.01f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    Similarity.IvfPq.drop(spark, "ivfpq_del_spec")
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", "ivfpq_del_spec",
      buckets = 4, nlist = 4, nlistIters = 2, m = 4, ks = 8, iters = 2, dims = 16)
    // delete vec 0's entire direction-cluster cohort except itself — a
    // wide probe from vec 0 before deletion surfaces them, after it must not
    val cohort = (4 until 80 by 4).map(_.toLong)
    val before = Similarity.ivfPqTopKAgainstIndex(
        corpus.filter(col("vec_id") === 0), "ivfpq_del_spec",
        "vec_id", "embedding", k = 10, nprobe = 2, shortlist = 64)
      .select("neighbor_id").as[Long].collect().toSet
    assert(before.exists(cohort.contains), s"pre-delete probe must see the cohort")

    Similarity.deleteFromIvfPqIndex(spark, "ivfpq_del_spec",
      cohort.toDF("id"))
    // the pair-removal rode ONE generation cutover — resolve
    val delAtp = graft.sources.Sinks.activeTablePrefix(spark, "ivfpq_del_spec")
    assert(delAtp == "ivfpq_del_spec_g1", s"delete must advance the generation: $delAtp")
    assert(spark.table(s"${delAtp}_codes").count() == 80L - cohort.size)
    assert(spark.table(s"${delAtp}_vecs").count() == 80L - cohort.size)
    val after = Similarity.ivfPqTopKAgainstIndex(
        corpus.filter(col("vec_id") === 0), "ivfpq_del_spec",
        "vec_id", "embedding", k = 10, nprobe = 2, shortlist = 64)
      .select("neighbor_id").as[Long].collect().toSet
    assert(after.intersect(cohort.toSet).isEmpty,
      s"deleted vectors surfaced in post-delete probe: ${after.intersect(cohort.toSet)}")
    assert(after.nonEmpty, "survivors must still be probeable")
  }

  test("incremental CC: untouched labels byte-identical, touched equal full recompute") {
    // yesterday: chain {1,2,3}, pair {10,11}, pair {20,21}, pair {50,51}
    val oldEdges = Seq((2L, 1L), (3L, 2L), (11L, 10L), (21L, 20L), (51L, 50L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(oldEdges)
    // today: merge comps 10+20, a no-op edge inside comp 1, a brand-new
    // pair {40,41}, and new node 5 attaching to comp 1; comp {50,51}
    // untouched by anything
    val newEdges = Seq((20L, 11L), (3L, 2L), (41L, 40L), (5L, 1L)).toDF("a", "b")

    // the recompute never sees untouched components OR non-rep members:
    // contraction maps endpoints to reps and drops same-rep edges
    val cNodes = Dedup.contractedEdges(labels, newEdges)
      .as[(Long, Long)].collect().flatMap(p => Seq(p._1, p._2)).toSet
    assert(cNodes == Set(10L, 20L, 40L, 41L, 1L, 5L),
      s"contracted graph must hold touched reps + unseen nodes only, got $cNodes")

    val persisted = "cc_inc_spec_labels"
    graft.sources.Sinks.dropManagedTable(spark, persisted)
    graft.sources.Sinks.writeBucketedTable(labels, persisted, 4, "id")
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val newOnFresh = fresh.createDataFrame(newEdges.rdd, newEdges.schema)
    val inc = Dedup.incrementalConnectedComponents(fresh.table(persisted), newOnFresh)

    // the persisted label table is never reshuffled: every scan of it
    // (endpoint lookups, relabel, new-node anti join) reaches its join
    // with no Exchange — bucketing on id serves the id-keyed joins, the
    // rep-keyed relabel map is an explicit broadcast
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val labelScans = paths(inc.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains(persisted)
    }
    assert(labelScans.nonEmpty, "expected the persisted label table in the plan")
    labelScans.foreach { case (scan, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed label scan and its join: $toJoin\n${scan.nodeName}")
    }

    val incMap = inc.as[(Long, Long)].collect().toMap
    val oldMap = labels.as[(Long, Long)].collect().toMap
    // untouched component AND unchanged-rep members pass through verbatim
    for (id <- Seq(50L, 51L, 1L, 2L, 3L, 10L, 11L))
      assert(incMap(id) == oldMap(id), s"node $id must keep its old label")
    // the whole result equals CC from scratch over old ∪ new edges
    val fullMap = Dedup.connectedComponents(oldEdges.union(newEdges))
      .as[(Long, Long)].collect().toMap
    assert(incMap == fullMap, s"incremental diverged: $incMap vs $fullMap")
    assert(incMap(20L) == 10L && incMap(21L) == 10L, "components 10 and 20 merged")
    assert(incMap(41L) == 40L && incMap(5L) == 1L)
  }

  test("incremental CC updates compose: any batch split of the edges yields the batch answer") {
    // the property st_incr_cc_parity rests on — each update is the exact
    // component map of the union-so-far, so folding the day's edges in
    // through ANY split (including one that delivers the two halves of a
    // future merge in different batches) ends at the one-shot answer
    val oldEdges = Seq((2L, 1L), (11L, 10L), (21L, 20L), (31L, 30L)).toDF("a", "b")
    val labels0 = Dedup.connectedComponents(oldEdges).localCheckpoint(true)
    val dayEdges = Seq(
      (10L, 1L),  // merges comps 1 and 10
      (40L, 41L), // brand-new pair
      (20L, 11L), // merges comp 20 into the (1,10) union — across splits
      (42L, 40L), // extends the new pair
      (30L, 42L)) // chains comp 30 onto the new component
    val oneShot = Dedup.incrementalConnectedComponents(
        labels0, dayEdges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

    def fold(splits: Seq[Seq[(Long, Long)]]): Map[Long, Long] = {
      var l = labels0
      for (batch <- splits if batch.nonEmpty)
        l = Dedup.incrementalConnectedComponents(l, batch.toDF("a", "b"))
          .localCheckpoint(true)
      l.as[(Long, Long)].collect().toMap
    }
    // three very different splits: singletons in order, singletons in
    // reverse (merge arrives before the component it attaches to), and
    // an uneven 2/1/2 grouping
    assert(fold(dayEdges.map(Seq(_))) == oneShot)
    assert(fold(dayEdges.reverse.map(Seq(_))) == oneShot)
    assert(fold(Seq(dayEdges.take(2), dayEdges.slice(2, 3), dayEdges.drop(3))) == oneShot)
    // and the one-shot itself equals CC from scratch
    val scratch = Dedup.connectedComponents(
        oldEdges.union(dayEdges.toDF("a", "b")))
      .as[(Long, Long)].collect().toMap
    assert(oneShot == scratch)
  }

  test("incremental CC: over-limit relabel takes the shuffle path and equals the broadcast path") {
    // broadcastRelabelLimit = 0 forces EVERY relabel through the plain
    // shuffle join — the guard for pathological batches that touch most
    // components, where an unbounded broadcast would OOM the executors —
    // and the contracted CC through its star rounds (the same bound is
    // its driverEdgeLimit). Same fixture as the byte-identity test:
    // result must be identical.
    val oldEdges = Seq((2L, 1L), (3L, 2L), (11L, 10L), (21L, 20L), (51L, 50L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(oldEdges)
    val newEdges = Seq((20L, 11L), (3L, 2L), (41L, 40L), (5L, 1L)).toDF("a", "b")
    val viaBroadcast = Dedup.incrementalConnectedComponents(labels, newEdges)
      .as[(Long, Long)].collect().toMap
    val viaShuffle = Dedup.incrementalConnectedComponents(
        labels, newEdges, broadcastRelabelLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaShuffle == viaBroadcast,
      s"shuffle relabel diverged: $viaShuffle vs $viaBroadcast")
    // and both still equal CC from scratch
    val scratch = Dedup.connectedComponents(oldEdges.union(newEdges))
      .as[(Long, Long)].collect().toMap
    assert(viaShuffle == scratch)
  }

  test("incremental CC: maxIter bounds the star rounds past the relabel limit") {
    // a 16-node chain of unseen nodes contracts to itself; a chain is no
    // star, so its first round changes the edge set and one round cannot
    // reach the fixpoint
    val labels = Dedup.connectedComponents(Seq((2L, 1L)).toDF("a", "b"))
    val chain = (100L until 115L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Dedup.contractedEdges(labels, chain).count() == 15)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalConnectedComponents(labels, chain, maxIter = 1, broadcastRelabelLimit = 0L)
    }
    assert(e.getMessage.contains("maxIter=1"), e.getMessage)
    // under the bound the driver union-find needs no rounds
    val viaDriver = Dedup.incrementalConnectedComponents(labels, chain, maxIter = 1)
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.incrementalConnectedComponents(labels, chain, broadcastRelabelLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaDriver)
    assert(viaDriver == Map(1L -> 1L, 2L -> 1L) ++ (100L to 115L).map(_ -> 100L))
  }

  test("edge-deletion CC: splits bridged components, untouched labels byte-identical") {
    // chain 1-2-3-4-5 (bridge node 3), pair {10,11}, triangle {20,21,22},
    // pair {50,51} untouched by anything
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (50L, 51L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges)
    // delete the chain's bridge (3) and one triangle corner (22): the
    // chain SPLITS into {1,2} and {4,5}; the triangle survives as {20,21}
    // (still connected via its remaining edge); {10,11} and {50,51} are
    // untouched components
    val deleted = Seq(3L, 22L).toDF("id")
    val out = Dedup.edgeDeletionConnectedComponents(labels, edges, deleted)
    val outMap = out.as[(Long, Long)].collect().toMap

    // deleted ids gone entirely
    assert(!outMap.contains(3L) && !outMap.contains(22L))
    // the split: {1,2} keeps rep 1; {4,5} re-reps at its new minimum 4
    assert(outMap(1L) == 1L && outMap(2L) == 1L)
    assert(outMap(4L) == 4L && outMap(5L) == 4L)
    // triangle minus one corner stays connected
    assert(outMap(20L) == 20L && outMap(21L) == 20L)
    // untouched components byte-identical to the input labels
    val oldMap = labels.as[(Long, Long)].collect().toMap
    for (id <- Seq(10L, 11L, 50L, 51L))
      assert(outMap(id) == oldMap(id), s"untouched node $id must keep its label")
    // equals a full recompute over the surviving edge set
    val surviving = edges.filter(!col("a").isin(3L, 22L) && !col("b").isin(3L, 22L))
    val scratch = Dedup.connectedComponents(surviving)
      .as[(Long, Long)].collect().toMap
    // scratch lacks edge-less survivors; they must appear as singletons
    assert(outMap == scratch ++ (outMap.keySet -- scratch.keySet).map(k => k -> k).toMap)

    // a member left edge-less becomes a singleton: delete 11 → 10 alone
    val out2 = Dedup.edgeDeletionConnectedComponents(
        labels, edges, Seq(11L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(out2(10L) == 10L && !out2.contains(11L))
  }

  test("star CC contracts a 4096-node chain within a logarithmic round budget") {
    // diameter 4095: one-hop label propagation would need 4095 rounds;
    // the large-star/small-star pair must land the same labels inside a
    // 16-round budget (≈ log-scale) or throw — this pins the O(log n)
    // claim the operator exists for. driverEdgeLimit = 0 forces the star
    // rounds (the chain fits the driver union-find bound); the default
    // bound must land the same labels.
    val n = 4096
    val chain = (0L until (n - 1)).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(chain, maxIter = 16, driverEdgeLimit = 0)
    assert(cc.count() == n)
    assert(cc.select("rep").distinct().as[Long].collect().toSeq == Seq(0L))
    val driver = Dedup.connectedComponents(chain, maxIter = 16)
    assert(driver.as[(Long, Long)].collect().toMap == cc.as[(Long, Long)].collect().toMap)
  }

  test("star CC rounds == driver union-find labels on seeded random graphs") {
    // three seeded shapes: sparse multi-component, dense near-single-
    // component, and duplicate/self-loop-heavy — the structures a
    // scalacheck forAll would explore, at a fixed handful of runs (the
    // star branch is an iterative multi-action loop, so per-case cost is
    // scheduler-bound; see the note in PropertySpec). The two branches of
    // the size gate are independent implementations of the contract.
    Seq((42, 40, 28), (7, 24, 40), (13, 12, 30)).foreach { case (seed, nodes, nEdges) =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(nEdges)((rnd.nextLong(nodes).abs, rnd.nextLong(nodes).abs))
      val edges = es.toDF("a", "b")
      val driver = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponents(edges, driverEdgeLimit = 0).as[(Long, Long)].collect().toMap
      assert(star == driver, s"divergence at seed=$seed: $star vs $driver")
    }
  }

  test("star CC handles empty edges, self-loops, and singletons like the driver union-find") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(noEdges, driverEdgeLimit = 0).count() == 0)
    val loops = Seq((5L, 5L), (1L, 2L)).toDF("a", "b")
    val got = Dedup.connectedComponents(loops, driverEdgeLimit = 0).as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
    assert(Dedup.connectedComponents(loops).as[(Long, Long)].collect().toMap == got)
  }

  test("connectedComponents and keepSurvivors handle an empty edge set") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(noEdges).count() == 0)
    val corpus = Seq(1L, 2L, 3L).toDF("doc_id")
    val kept = Dedup.keepSurvivors(corpus, "doc_id", noEdges).as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L)) // clean corpus passes through untouched
  }

  test("keepSurvivors drops all but the min id per cluster, keeps singletons") {
    val corpus = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L), (3L, 4L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val kept = Dedup.keepSurvivors(corpus, "doc_id", edges)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("survivor filters hold on a cluster whose diameter exceeds 20 hops") {
    // a 64-node chain (diameter 63) + triangle {100,101,102} + singletons
    val edges = ((0L until 63L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))).toDF("a", "b")
    val corpus = ((0L until 64L) ++ Seq(100L, 101L, 102L, 200L, 201L)).toDF("doc_id")
      .withColumn("quality",
        when(col("doc_id") < 64, -abs(col("doc_id") - 40)).otherwise(col("doc_id")).cast("double"))
    val kept = Dedup.keepSurvivors(corpus, "doc_id", edges).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 100L, 200L, 201L), s"got $kept")
    val best = Dedup.keepBestSurvivors(corpus, "doc_id", edges, col("quality"))
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(40L, 102L, 200L, 201L), s"got $best")
  }

  test("decontaminate flags only train docs sharing an n-gram with the bench split") {
    val corpus = Seq(
      (1L, "a b c d e f g h"), // shares 5-gram "a b c d e" with bench doc 3
      (2L, "z y x w v u t s"), // clean
      (3L, "a b c d e q r s")  // bench
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(
        corpus, "doc_id", CrossHash.wordShingles(toks, 5), col("doc_id") === 3)
      .select("id", "n_bench_docs", "first_bench_id", "n_shared_grams")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 3L, 1L)))
  }

  test("bloom-pruned decontaminate == exact even when false positives flood the prefilter") {
    // fpp = 0.5 pushes roughly half the CLEAN training grams through the
    // bloom prefilter — every one must die in the exact verify join, so
    // the output is row-identical to the exact path on a corpus large
    // enough that false positives certainly occur
    val corpus = (1L to 200L).map { i =>
      val words =
        if (i == 7) (0 until 8).map(j => s"bench$j")           // the bench doc
        else if (i == 50) (0 until 8).map(j => s"bench$j")     // contaminated twin
        else (0 until 8).map(j => s"w${i}_$j")                 // unique vocabulary
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame) =
      f(corpus, "doc_id", CrossHash.wordShingles(toks, 5), col("doc_id") === 7)
        .select("id", "n_bench_docs", "first_bench_id", "n_shared_grams")
        .as[(Long, Long, Long, Long)].collect().toSet
    val exact = run(Dedup.decontaminate)
    val bloom = run(Dedup.decontaminateBloom(_, _, _, _, fpp = 0.5))
    assert(exact == Set((50L, 1L, 7L, 4L)))
    assert(bloom == exact,
      "bloom false positives must be discarded by the exact verify join")
  }

  test("exact set-similarity join: equals brute-force all-pairs, contains the LSH pairs") {
    val exact = Dedup.setSimilarityJoin(
        docs, "doc_id", CrossHash.wordShingles(toks, 3), threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // scala-side brute force over the same shingle sets
    val sets = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
      }.toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(exact == expected, s"exact=$exact expected=$expected")
    assert(expected.nonEmpty, "fixture must contain qualifying pairs")
    // LSH (probabilistic) can only MISS pairs — never find one the exact
    // join doesn't
    val lsh = Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3),
        k = 16, bands = 4, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("quality-aware survivor selection keeps the cluster's quality argmax") {
    // the EXACT pair set, so the cluster {1,2,4} is deterministic
    val pairs = Dedup.setSimilarityJoin(
      docs, "doc_id", CrossHash.wordShingles(toks, 3), threshold = 0.5)
    // quality = doc_id: the cluster {1,2,4} must keep 4, not min-id 1
    val kept = Dedup.keepBestSurvivors(docs, "doc_id", pairs, col("doc_id").cast("double"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"got $kept")
    // constant quality degenerates to the min-id rule (= keepSurvivors)
    val keptTie = Dedup.keepBestSurvivors(docs, "doc_id", pairs, lit(1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(keptTie == Set(1L, 3L), s"got $keptTie")
  }

  test("hard negatives exclude the whole dup cluster; anchorPred batches anchors") {
    import graft.operators.Similarity
    // 0-1-2 form a dup chain (cluster {0,1,2}); 3,4 are clean
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)), (2L, Array(0.98f, 0.02f)),
      (3L, Array(0.5f, 0.5f)), (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val out = Similarity.hardNegatives(vecs, "vec_id", "embedding", edges, k = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect()
    val byAnchor = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byAnchor.keySet == Set(0L, 1L, 2L), "anchors = clustered ids only")
    // anchor 0's negatives: transitively-linked 2 must NOT appear even
    // though (0,2) is not a direct edge; nearest non-cluster = 3 then 4
    assert(byAnchor(0L) == Seq(3L, 4L), byAnchor.toString)
    // anchor batching: predicate restricts anchors, rows unchanged
    val batch = Similarity.hardNegatives(vecs, "vec_id", "embedding", edges, k = 2,
        anchorPred = col("query_id") === 1L)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect()
    assert(batch.map(_._1).toSet == Set(1L))
    assert(batch.sortBy(_._2).map(_._3).toSeq == byAnchor(1L))

    // the broadcast-size contract is enforced, not assumed: a batch over
    // maxAnchors fails loudly instead of OOMing the driver
    val oversized = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(vecs, "vec_id", "embedding", edges, k = 2,
        maxAnchors = 1L)
    }
    assert(oversized.getMessage.contains("maxAnchors"), oversized.getMessage)
  }

  test("hard negatives: IVF-indexed mining equals brute at full probe; cluster filter inside the probe") {
    import graft.operators.Similarity
    // same separable fixture as the brute spec: cluster {0,1,2}, clean 3,4
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)), (2L, Array(0.98f, 0.02f)),
      (3L, Array(0.5f, 0.5f)), (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    Seq("_cents", "_lists", "_meta")
      .foreach(sfx => graft.sources.Sinks.dropManagedTable(spark, s"hn_ivf_spec$sfx"))
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", "hn_ivf_spec",
      buckets = 2, nlist = 2, iters = 2)
    // nprobe = nlist ⇒ the probe is exhaustive, so the ONLY approximation
    // (IVF recall) is off — indexed mining must equal the brute verb
    // bit-for-bit, PROVING the in-probe cluster filter cannot starve the
    // top-k: anchor 0's two cluster-mates outrank both clean vectors in
    // raw cosine, yet 3 and 4 still surface as its negatives.
    val brute = Similarity.hardNegatives(vecs, "vec_id", "embedding", edges, k = 2)
    val mined = Similarity.hardNegativesIndexed(vecs, "vec_id", "embedding",
      edges, k = 2, tablePrefix = "hn_ivf_spec", nprobe = 2)
    assert(mined.exceptAll(brute).isEmpty && brute.exceptAll(mined).isEmpty,
      s"indexed mining must equal brute at full probe:\n" +
        s"mined=${mined.collect().mkString(",")}\nbrute=${brute.collect().mkString(",")}")
    // anchorPred batches anchors on the indexed path too
    val batch = Similarity.hardNegativesIndexed(vecs, "vec_id", "embedding",
        edges, k = 2, tablePrefix = "hn_ivf_spec", nprobe = 2,
        anchorPred = col("query_id") === 1L)
      .select("query_id").as[Long].collect().toSet
    assert(batch == Set(1L), batch.toString)
  }

  test("brute-force top-k ranks by cosine with id tie-break, excludes self") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((1L, 3L), (2L, 1L), (3L, 2L))) // identical vec first, orthogonal last
  }

  test("LSH top-k is a subset of candidates ranked identically to brute force") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    val recall = lsh.count(brute.contains).toDouble / lsh.size
    assert(recall >= 0.2, s"LSH results should overlap brute-force top-10, got $recall")
  }

  test("IVF top-k: good recall vs brute force, candidates only from probed lists") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 3, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = ivf.count(brute.contains).toDouble / ivf.size
    assert(recall >= 0.2, s"IVF results should overlap brute-force top-10, got $recall")
  }

  test("PQ top-k: high recall vs exact top-3; full shortlist equals brute force") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    // shortlist >= corpus ⇒ every candidate is exactly re-ranked, so PQ
    // degrades to brute force regardless of codebook quality — the
    // correctness of encode/ADC can't mask a broken re-rank (and vice
    // versa, the recall floor below catches a broken ADC ordering)
    val full = Similarity.pqTopK(q, e, "vec_id", "embedding",
        k = 3, m = 16, ks = 16, shortlist = 10000, iters = 1)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(full == brute)
    val pq = Similarity.pqTopK(q, e, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(t => (t._1, t._3))
    val recall = pq.count(bruteIds.contains).toDouble / bruteIds.size
    assert(recall >= graft.queries.SimilarityQueries.PqRecallFloor,
      s"PQ recall vs exact top-3 below floor: $recall")
  }

  test("PQ codebooks are deterministic, correctly shaped, and subspace-local") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    def run() = Similarity.pqCodebooks(e, "vec_id", "emb", m = 4, ks = 8,
      subDim = 16, iters = 2)
    val books = run()
    assert(books.length == 4 && books.forall(_.length == 8))
    assert(books.flatten.forall(_.length == 16))
    assert(books.map(_.toSeq.map(_.toSeq)).toSeq == run().map(_.toSeq.map(_.toSeq)).toSeq)
  }

  test("IVF quantizer is deterministic across invocations") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def run() = Similarity.ivfCentroids(e, "vec_id", "embedding", nlist = 8, iters = 2)
      .select("cid", "cvec").as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("WAV codec: encode->decode recovers exact samples and waveform stats") {
    val ids = Seq(0L, 1L, 5L, 300L)
    val out = Multimodal.decodeAudioFeatures(
        Multimodal.synthesizeWav(ids.toDF("doc_id"), "doc_id"))
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for (id <- ids) {
      val n = Multimodal.wavSamples(id)
      val vs = (0 until n).map(Multimodal.sampleValue(id, _))
      val (_, nn, sa, sq, zc) = out(id)
      assert(nn == n.toLong, s"clip $id sample count")
      assert(sa == vs.map(_.toLong).sum, s"clip $id amplitude sum")
      assert(sq == vs.map(v => v.toLong * v).sum, s"clip $id energy sum")
      assert(zc == vs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)),
        s"clip $id zero crossings")
    }
    // negative ids break the %-vs-floorMod oracle contract — refuse loudly
    val bad = intercept[org.apache.spark.SparkException] {
      Multimodal.synthesizeWav(Seq(-3L).toDF("doc_id"), "doc_id").collect()
    }
    assert(bad.getMessage != null)
  }

  test("audio decimation: keeps every k-th sample with exact stats over the kept stream") {
    val ids = Seq(0L, 5L, 300L)
    val out = Multimodal.decimateAudioFeatures(
        Multimodal.synthesizeWav(ids.toDF("doc_id"), "doc_id"), factor = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for (id <- ids) {
      val n = Multimodal.wavSamples(id)
      val vs = (0 until n by 4).map(Multimodal.sampleValue(id, _))
      val (_, src, kept, sa, sq, zc) = out(id)
      assert(src == n.toLong, s"clip $id source count")
      assert(kept == vs.size.toLong, s"clip $id kept count")
      assert(sa == vs.map(_.toLong).sum && sq == vs.map(v => v.toLong * v).sum,
        s"clip $id decimated sums")
      assert(zc == vs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)),
        s"clip $id decimated zero crossings")
    }
    // factor 1 degenerates to the plain feature decode
    val full = Multimodal.decimateAudioFeatures(
        Multimodal.synthesizeWav(Seq(5L).toDF("doc_id"), "doc_id"), factor = 1)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val base = Multimodal.decodeAudioFeatures(
        Multimodal.synthesizeWav(Seq(5L).toDF("doc_id"), "doc_id"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert((full._3, full._4, full._5, full._6) == (base._2, base._3, base._4, base._5))
  }

  test("GIF codec: animated encode->decode recovers every frame's exact pixels") {
    // ids chosen to vary frame count (id%5+2: 2..6) and geometry
    val ids = Seq(0L, 3L, 7L, 41L, 258L)
    val rows = Multimodal.decodeGifFrames(
        Multimodal.synthesizeGif(ids.toDF("doc_id"), "doc_id"))
      .as[(Long, Long, Int, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    for (id <- ids) {
      val nf = Multimodal.gifFrames(id)
      val w = Multimodal.gifWidth(id); val h = Multimodal.gifHeight(id)
      val got = rows(id)
      assert(got.size == nf, s"clip $id frame count")
      for (f <- 0 until nf) {
        val px = for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.gifPixel(id, f, x, y).toLong
        val (_, fno, gw, gh, sum, sumSq) = got(f)
        assert(fno == f.toLong && gw == w && gh == h, s"clip $id frame $f geometry")
        assert(sum == px.sum, s"clip $id frame $f pixel sum")
        assert(sumSq == px.map(v => v * v).sum, s"clip $id frame $f energy")
      }
    }
    // consecutive frames must actually differ (the disposal-bug canary
    // the per-frame 101 stride exists for) — assert the spec's own
    // premise so a contract edit can't silently weaken the query
    val perFrame = rows(41L).map(_._5)
    assert(perFrame.distinct.size == perFrame.size,
      "frame pixel sums must be pairwise distinct")
    // negative ids break the %-vs-floorMod oracle contract — refuse loudly
    val bad = intercept[org.apache.spark.SparkException] {
      Multimodal.synthesizeGif(Seq(-2L).toDF("doc_id"), "doc_id").collect()
    }
    assert(bad.getMessage != null)
  }

  test("keyframe detector treats a transposed-geometry frame as a scene cut") {
    // GIF frames may legally change geometry mid-clip; a w×h → h×w
    // transpose keeps the flattened pixel COUNT, so a length-only check
    // would diff rasters with no pixel correspondence (delta 0 on the
    // constant rasters below → frame silently non-key). Build such a clip
    // by hand: constant-gray frames 8×4, 4×8, 4×8.
    val grays = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    writer.prepareWriteSequence(null)
    for ((w, h) <- Seq((8, 4), (4, 8), (4, 8))) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, 10)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val bytes = bos.toByteArray
    val media = spark.createDataFrame(
      java.util.Arrays.asList(Row(99L, bytes, Row("image/gif", bytes.length.toLong, 8, 4))),
      Multimodal.mediaSchema)
    val got = Multimodal.decodeGifKeyframes(media)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0L, 0L, true), (1L, 0L, true), (2L, 0L, false)),
      s"transposed frame must be a keyframe, steady frame must not: ${got.toSeq}")
  }

  test("multimodal frame sampling: ceil(n/frame) frames, last partial") {
    val media = Multimodal.fromText(Seq((7L, "a" * 150)).toDF("id", "t"), "id", "t")
    val frames = Multimodal.sampleFrames(media, frameBytes = 64)
      .select("frame_no", "frame_bytes").as[(Long, Long)].collect().toSeq.sorted
    assert(frames == Seq((0L, 64L), (1L, 64L), (2L, 22L)))
  }

  test("multimodal frame sampling: empty payload yields zero frames") {
    val media = Multimodal.fromText(Seq((8L, "")).toDF("id", "t"), "id", "t")
    assert(Multimodal.sampleFrames(media, frameBytes = 64).count() == 0)
  }

  test("assumeUnboundedVocab path returns the same pairs as the adaptive path") {
    // the production word-shingle queries all take the probe-free
    // collect_set path — pin that it produces identical results
    def run(unbounded: Boolean) =
      Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3),
          k = 16, bands = 8, threshold = 0.5, assumeUnboundedVocab = unbounded)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(run(true) == run(false) && run(true).nonEmpty)
  }

  test("minhashPairs rejects a non-divisible band configuration") {
    intercept[IllegalArgumentException] {
      Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3), k = 4, bands = 8)
    }
  }

  test("minhashPairsAgainst == self-join pairs restricted to (new, index) sides") {
    // split the fixture: docs 2,4 arrive as the "new batch", 1,3 are the index
    val newBatch = docs.filter(col("doc_id").isin(2L, 4L))
    val index = docs.filter(col("doc_id").isin(1L, 3L))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", CrossHash.wordShingles(toks, 3), 16)
    val asym = Dedup.minhashPairsFromSignatures(sigs(newBatch), sigs(index),
        k = 16, bands = 8, threshold = 0.5)
      .select("new_id", "index_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashPairs(docs, "doc_id", CrossHash.wordShingles(toks, 3),
        k = 16, bands = 8, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .collect { // reorient (a<b) pairs to (new, index), keep cross-side only
        case (a, b, j) if Set(2L, 4L).contains(a) != Set(2L, 4L).contains(b) =>
          if (Set(2L, 4L).contains(a)) (a, b, j) else (b, a, j)
      }.toSet
    assert(asym == full && asym.nonEmpty)
  }

  test("twoStageTopK with an un-truncated shortlist equals brute force; truncated stays close") {
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") % 20 === 0)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val brute = collect(Similarity.bruteForceTopK(qs, vecs, "vec_id", "embedding", k = 3))
    val untruncated = collect(Similarity.twoStageTopK(qs, vecs, "vec_id", "embedding",
      k = 3, prefixDims = 4, shortlist = 60))
    assert(untruncated == brute,
      "with shortlist >= corpus the coarse stage cannot drop a true neighbor")
    // recall on neighbor identity (rank-free: a dropped neighbor shifts
    // the ranks of everything below it)
    def ids(s: Set[(Long, Long, Long)]) = s.map { case (q, _, n) => (q, n) }
    val truncated = collect(Similarity.twoStageTopK(qs, vecs, "vec_id", "embedding",
      k = 3, prefixDims = 4, shortlist = 20))
    val recall = ids(truncated).intersect(ids(brute)).size.toDouble / brute.size
    assert(recall >= 0.5, s"4-of-8-dim coarse recall collapsed: $recall")
  }

  test("cdcContainmentPairs finds a doc embedded in a larger one; MinHash-style global Jaccard would not") {
    val rnd = new scala.util.Random(7)
    def blob(len: Int) = Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    val small = blob(200)
    val big = small + " " + blob(1400) // small is 1/8 of big's content
    val unrelated = blob(800)
    val df = Seq((1L, small), (2L, big), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.cdcContainmentPairs(df, "doc_id", col("text"), mask = 16)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.8 },
      s"containment should flag the embedded doc, got ${pairs.mkString(", ")}")
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) },
      "unrelated doc must not pair with anything")
  }

  test("dupSpans merges consecutive cross-doc duplicated grams into maximal runs") {
    val docs = Seq(
      (1L, "a b c d e f g x1 y1 z1 q r s t u v w"),
      (2L, "a b c d e f g x2 y2 z2 q r s t u v w"),
      (3L, "totally different words here nothing shared with the others at all"),
      // within-document repetition only: "p p p" recurs but in ONE doc —
      // cross-document marking must ignore it
      (4L, "p p p p p p")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", CrossHash.tokens(col("text")),
        n = 3, minDocs = 2, minRun = 2)
      .select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    // docs 1/2 share "a b c d e f g" (3-gram positions 1..5) and
    // "q r s t u v w" (positions 11..15); the differing x/y/z middle
    // breaks the run — two maximal spans of 7 words each, per doc
    val expected = for (id <- Set(1L, 2L); start <- Set(1L, 11L))
      yield (id, start, 5L, 7L)
    assert(out == expected)
  }

  test("dupSpans minRun filters isolated single-gram matches; minRun=1 keeps them") {
    val docs = Seq(
      (1L, "aa k1 k2 k3 bb cc"),
      (2L, "dd ee k1 k2 k3 ff")
    ).toDF("doc_id", "text")
    val toksCol = CrossHash.tokens(col("text"))
    // exactly one shared 3-gram per doc (different positions) — a run of 1
    assert(Dedup.dupSpans(docs, "doc_id", toksCol, n = 3, minRun = 2).isEmpty)
    val loose = Dedup.dupSpans(docs, "doc_id", toksCol, n = 3, minRun = 1)
      .select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(loose == Set((1L, 2L, 1L, 3L), (2L, 3L, 1L, 3L)))
  }

  test("dupGramCoverage: duplicated fraction per document, zero for unshared docs") {
    val docs = Seq(
      (1L, "a b c d e f g x1 y1 z1 q r s t u v w"),
      (2L, "a b c d e f g x2 y2 z2 q r s t u v w"),
      (3L, "totally different words here nothing shared with the others at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dupGramCoverage(docs, "doc_id", CrossHash.tokens(col("text")),
        n = 3, minDocs = 2)
      .select("id", "n_grams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1/2: 15 gram positions, 10 duplicated (5 + 5)
    assert(out(1L) == ((1L, 15L, 10L, 0.6667)))
    assert(out(2L) == ((2L, 15L, 10L, 0.6667)))
    assert(out(3L) == ((3L, 9L, 0L, 0.0)))
  }

  test("persisted gram index: zero Exchange on the index scan, batch-path parity") {
    val corpus = Seq(
      (1L, "a b c d e f g x1 y1 z1 q r s t u v w"),
      (2L, "totally different words here nothing shared with the others at all"),
      (10L, "a b c d e f g x2 y2 z2 q r s t u v w"),   // new: overlaps doc 1
      (20L, "pp qq rr ss tt uu vv ww zz yy xx nn mm"), // new: overlaps doc 30
      (30L, "oo pp qq rr ss tt uu vv kk jj hh gg ff")  // new: new×new duplication
    ).toDF("doc_id", "text")
    val toksCol = CrossHash.tokens(col("text"))
    val newDocs = corpus.filter(col("doc_id") % 10 === 0)
    Seq("gram_idx_spec_grams", "gram_idx_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeGramIndex(corpus.filter(col("doc_id") % 10 =!= 0), "doc_id",
      toksCol, n = 3, "gram_idx_spec", buckets = 4)

    // reopen in a FRESH session — the next-day-ingest shape
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false") // keep Exchanges visible
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    val newOnFresh = fresh.createDataFrame(newDocs.rdd, newDocs.schema)
    val viaIndex = Dedup.dupSpansAgainstIndex(
      newOnFresh, "doc_id", CrossHash.tokens(col("text")), "gram_idx_spec", minRun = 2)

    // the bucketed gram scan must reach its consuming join with no
    // Exchange (the probe side shuffles to match; the index never). The
    // probe is eager, so the plan is rebuilt lazily here for inspection.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val lazyProbe = fresh.table("gram_idx_spec_grams").select(col("gram")).distinct()
      .withColumn("in_index", lit(1L))
      .join(newOnFresh.select(explode(CrossHash.wordShingles(
        CrossHash.tokens(col("text")), 3)).as("gram")), Seq("gram"))
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths(_, p :: anc))
      }
    val idxScans = paths(lazyProbe.queryExecution.executedPlan, Nil).filter {
      case (s, _) => s.relation.location.rootPaths.mkString.contains("gram_idx_spec")
    }
    assert(idxScans.size == 1, s"expected the gram table scanned once, got $idxScans")
    idxScans.foreach { case (scan, anc) =>
      val toJoin = anc.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(anc.exists(_.isInstanceOf[BaseJoinExec]), "index scan must feed a join")
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed gram scan and its join: $toJoin\n${scan.nodeName}")
    }

    // parity: index probe == full-corpus batch marking restricted to the
    // new ids (index-hit spans for 10, new×new spans for 20/30)
    val batch = Dedup.dupSpans(corpus, "doc_id", toksCol, n = 3, minDocs = 2, minRun = 2)
      .filter(col("id") % 10 === 0)
      .select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    val inc = viaIndex.select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inc == batch, s"index path diverged: $inc vs $batch")
    assert(inc.exists(_._1 == 10L)) // index-hit duplication found
    assert(inc.exists(_._1 == 20L) && inc.exists(_._1 == 30L)) // new×new found
  }

  test("removeDupSpans excises covered tokens; untouched docs byte-identical; full cover -> empty") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),        // shares "a b c d e f" with 2 and 4
      (2L, "x1 a b c d e f y1"),
      (3L, "p q r s t u v w"),        // unique — must pass through byte-identical
      (4L, "a b c d e f")             // every gram duplicated — fully excised
    ).toDF("doc_id", "text")
    val byId = Dedup.removeSpans(corpus, "doc_id", toks,
        Dedup.dupSpans(corpus, "doc_id", toks, n = 3, minDocs = 2, minRun = 2))
      .select("id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) == (("g h", 6L)))     // span pos 1-4 covers tokens 1..6
    assert(byId(2L) == (("x1 y1", 6L)))   // span pos 2-5 covers tokens 2..7
    assert(byId(3L) == (("p q r s t u v w", 0L)))
    assert(byId(4L) == (("", 6L)))        // fully covered survives as empty
    assert(byId.size == 4)
  }

  test("gram-index ingest: cross-micro-batch duplication marks BOTH documents at day close") {
    // corpus doc 1; day docs 10/30 share a 3-gram run ABSENT from the
    // corpus and arrive in DIFFERENT batches — the case a per-batch probe
    // can only half-mark (batch 1 sees the gram in neither the index nor
    // its own batch), and the df-partial day-close rule must fully mark.
    // Doc 20 overlaps the corpus (the index-hit path must still work).
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "xx yy zz ww vv uu one two three four five"),
      (20L, "alpha beta gamma delta epsilon other tail words here now"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (30L, "qq rr ss one two three four five tt pp"))
      .toDF("doc_id", "text")
    val toksCol = CrossHash.tokens(col("text"))
    Seq("gram_ing_spec_grams", "gram_ing_spec_meta")
      .foreach(graft.sources.Sinks.dropManagedTable(spark, _))
    Dedup.writeGramIndex(corpus, "doc_id", toksCol, n = 3, "gram_ing_spec", buckets = 4)
    Dedup.ingestIntoGramIndex(batch1, "doc_id", toksCol, "gram_ing_spec")
    Dedup.ingestIntoGramIndex(batch2, "doc_id", toksCol, "gram_ing_spec")

    val day = batch1.unionByName(batch2)
    val atClose = Dedup.dupSpansAtDayClose(day, "doc_id", toksCol,
        "gram_ing_spec", minRun = 2)
      .select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    // ground truth: full-corpus batch marking restricted to the day docs
    val batch = Dedup.dupSpans(corpus.unionByName(day), "doc_id", toksCol,
        n = 3, minDocs = 2, minRun = 2)
      .filter(col("id") >= 10L)
      .select("id", "start_pos", "n_grams", "span_words")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(atClose == batch, s"day-close diverged: $atClose vs $batch")
    // the cross-batch run ("one two three four five") marks BOTH 10 and 30
    assert(atClose.exists(_._1 == 10L), "earlier batch's doc must be marked")
    assert(atClose.exists(_._1 == 30L), "later batch's doc must be marked")
    assert(atClose.exists(_._1 == 20L), "index-hit doc must be marked")

    // append certificate: every doc contributed exactly 1 per distinct gram
    val dfSum = spark.table("gram_ing_spec_grams").agg(sum("n_docs"))
      .head().getLong(0)
    val expected = corpus.unionByName(day)
      .select(col("doc_id"), explode(array_distinct(
        CrossHash.wordShingles(toksCol, 3))).as("g")).count()
    assert(dfSum == expected, s"df mass $dfSum != distinct (doc, gram) count $expected")

    // the day-close df aggregation must ride the bucket layout — no
    // Exchange between the gram-table scan and its aggregation
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val lazyAgg = spark.table("gram_ing_spec_grams")
      .groupBy("gram").agg(sum("n_docs").as("df"))
    def paths2(p: SparkPlan, anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec => Seq((s, anc))
        case _ => p.children.flatMap(paths2(_, p :: anc))
      }
    paths2(lazyAgg.queryExecution.executedPlan, Nil).foreach { case (_, anc) =>
      assert(anc.exists(_.isInstanceOf[BaseAggregateExec]), "scan must feed the agg")
      assert(!anc.exists(_.isInstanceOf[Exchange]),
        s"Exchange between bucketed gram scan and df aggregation: $anc")
    }
  }

  test("randomProject matches the driver-side computation exactly and is deterministic") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("id", "emb")
    val out = Similarity.randomProject(df, "id", "emb", dIn = 8, dOut = 4, salt = "t_rp")
      .select("id", "j", "v").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.size == 20 * 4)
    val m = Similarity.signMatrix(8, 4, "t_rp")
    for ((id, emb) <- rows; j <- 0 until 4) {
      val expected = BigDecimal(
          emb.zipWithIndex.map { case (x, i) => x.toDouble * m(j)(i) }
            .foldLeft(0.0)(_ + _) / math.sqrt(4.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((id, j.toLong)) == expected, s"id=$id j=$j")
    }
    // the sign matrix really derives from h60 (the oracle's contract)
    for (j <- 0 until 4; i <- 0 until 8)
      assert(m(j)(i) == (if (CrossHash.h60Local(s"t_rp:$j:$i") % 2 == 0) 1.0 else -1.0))
  }

  test("quantizeI8: error bounded by scale/2, q in [-127,127], zero vector safe") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 50L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 6 - 3))) :+
      (99L, Array.fill(16)(0.0f))
    val out = Similarity.quantizeI8(rows.toDF("id", "emb"), "id", "emb")
      .select("id", "emb", "scale", "q")
      .as[(Long, Seq[Double], Double, Seq[Long])].collect()
    assert(out.length == 51)
    out.foreach { case (id, emb, scale, q) =>
      assert(q.forall(x => x >= -127 && x <= 127), s"id=$id q out of range")
      emb.zip(q).foreach { case (v, qi) =>
        assert(math.abs(v - qi * scale) <= scale * 0.5000001,
          s"id=$id reconstruction error beyond scale/2")
      }
      if (id == 99L) assert(q.forall(_ == 0L) && !scale.isNaN)
      else assert(q.map(math.abs).max == 127L, s"id=$id max |q| must hit 127")
    }
  }

  test("multimodal PNG round-trip decodes real pixels, not payload bytes") {
    val media = Multimodal.synthesizePng(Seq(5L, 12L).toDF("id"), "id")
    val rows = media.collect()
    // payloads are genuine PNG files (magic bytes), sized per the contract
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
      val meta = r.getStruct(2)
      assert(meta.getString(0) == "image/png" && meta.getLong(1) == bytes.length.toLong)
    }
    val out = Multimodal.decodeImageFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq(5L, 12L).foreach { id =>
      val r = out(id)
      val w = Multimodal.pngWidth(id); val h = Multimodal.pngHeight(id)
      assert(r.getInt(1) == w && r.getInt(2) == h, "decoded dims != contract dims")
      // decoded channel means must equal the arithmetic raster means exactly
      // (PNG is lossless) — this is what separates a real decode from a hash
      val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
      def mean(c: Int) = px.map { case (x, y) => Multimodal.pixelValue(id, x, y, c) }.sum.toDouble / px.size
      assert(math.abs(r.getDouble(3) - mean(0)) < 1e-12)
      assert(math.abs(r.getDouble(4) - mean(1)) < 1e-12)
      assert(math.abs(r.getDouble(5) - mean(2)) < 1e-12)
    }
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CrossHash
import graft.model.SchemaRegistry
import graft.operators._

/** Unit specs for the reference-parity operators (SURVEY.md §2) and the
  * portable hash/text primitives.
  */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("P1 formatTimestamps reformats every timestamp column, only those") {
    val df = Seq((1L, ts("2024-01-02 03:04:05"), ts("2024-02-03 04:05:06"), "x"))
      .toDF("id", "a", "b", "s")
    val out = Transforms.formatTimestamps(df)
    assert(out.schema("a").dataType == StringType)
    assert(out.schema("b").dataType == StringType)
    assert(out.schema("id").dataType == LongType)
    val r = out.head()
    assert(r.getString(1) == "2024-01-02 03:04:05")
    assert(r.getString(2) == "2024-02-03 04:05:06")
  }

  test("P2 renameColumns tolerates absent sources like pandas.rename") {
    val df = Seq((1L, "a")).toDF("id", "server")
    val out = Transforms.renameColumns(df, Map("server" -> "Server", "ghost" -> "Ghost"))
    assert(out.columns.toSeq == Seq("id", "Server"))
  }

  test("P4 castBooleans: nonzero=true, absent columns ignored") {
    val df = Seq((0, 2.5), (1, 0.0)).toDF("a", "b")
    val out = Transforms.castBooleans(df, Seq("a", "b", "nope"))
    val rows = out.orderBy("a").collect()
    assert(rows.map(_.getBoolean(0)).toSeq == Seq(false, true))
    assert(rows.map(_.getBoolean(1)).toSeq == Seq(true, false))
  }

  test("P5 dispatch: daily_log renames keep FileName (ref drop is a no-op); unknown passes through") {
    val df = Seq((1L, "s", "f.txt")).toDF("ID", "server", "fileName")
    val out = Transforms.forTable("daily_log")(df)
    // the reference renames fileName->FileName BEFORE drop(['fileName']),
    // so the drop never fires and FileName survives the transform
    assert(out.columns.toSeq == Seq("ID", "Server", "FileName"))
    val same = Transforms.forTable("mystery")(df)
    assert(same.columns.toSeq == df.columns.toSeq)
  }

  test("P7 nonEmptyGuard skips empty extracts") {
    assert(Transforms.nonEmptyGuard(Seq(1).toDF("x")).isDefined)
    assert(Transforms.nonEmptyGuard(Seq(1).toDF("x").filter(col("x") > 9)).isEmpty)
  }

  test("K6 SchemaRegistry: parse, hard miss, K1 enforce casts + ordering") {
    val reg = SchemaRegistry.fromJson(
      """{"t": [{"name": "b", "type": "INTEGER"}, {"name": "a", "type": "STRING"}]}""")
    assert(SchemaRegistry.schemaFor(reg, "t").fieldNames.toSeq == Seq("b", "a"))
    intercept[IllegalArgumentException](SchemaRegistry.schemaFor(reg, "missing"))
    val df = Seq(("x", 1)).toDF("a", "b")
    val out = SchemaRegistry.enforce(df, SchemaRegistry.schemaFor(reg, "t"))
    assert(out.columns.toSeq == Seq("b", "a"))
    assert(out.schema("b").dataType == LongType)
  }

  test("h60 column expression equals driver-side h60Local and builtin form") {
    val inputs = Seq("hello", "0:a b c", "7,42", "", "héllo ünïcode")
    val native = inputs.toDF("s").select(CrossHash.h60(col("s"))).as[Long].collect().toSeq
    val builtin = inputs.toDF("s").select(CrossHash.h60Builtin(col("s"))).as[Long].collect().toSeq
    assert(native == inputs.map(CrossHash.h60Local))
    assert(native == builtin)
  }

  test("wordShingles and charGrams produce expected windows") {
    val df = Seq("a b c d").toDF("t")
    val sh = df.select(CrossHash.wordShingles(CrossHash.tokens(col("t")), 3))
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val gr = df.select(CrossHash.charGrams(col("t"), 3)).as[Seq[String]].head()
    assert(gr.size == 5 && gr.head == "a b" && gr.last == "c d")
  }

  test("wordShingles and charGrams are empty (not bogus) on too-short input") {
    val df = Seq("ab").toDF("t")
    assert(df.select(CrossHash.wordShingles(CrossHash.tokens(col("t")), 3))
      .as[Seq[String]].head().isEmpty)
    assert(df.select(CrossHash.charGrams(col("t"), 4)).as[Seq[String]].head().isEmpty)
  }

  test("asofJoin picks latest right row at or before left time, per key") {
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00")), (2L, 10L, ts("2024-01-01 08:00:00")),
        (3L, 20L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "t")
    val right = Seq((10L, ts("2024-01-01 09:00:00"), "early"), (10L, ts("2024-01-01 10:00:00"), "exact"),
        (20L, ts("2024-01-02 00:00:00"), "future"))
      .toDF("k", "rt", "tag")
    val out = Relational.asofJoin(left, right, "user_id", "k", "t", "rt", Seq("tag"))
      .orderBy("event_id").select("event_id", "tag").as[(Long, String)].collect().toSeq
    // event 1: right row at exactly 10:00 visible (>= semantics); event 2: none yet;
    // event 3: only a future right row -> null.
    assert(out == Seq((1L, "exact"), (2L, null), (3L, null)))
  }

  test("Sessions.sessionize splits on gap > threshold only") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 1L, ts("2024-01-01 10:20:00"), 1.0), // 20 min, same session
      (3L, 1L, ts("2024-01-01 11:00:00"), 1.0), // 40 min, new session
      (4L, 2L, ts("2024-01-01 10:00:00"), 1.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Sessions.sessionize(ev, "user_id", "ts", "event_id", gapSeconds = 1800)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("SchemaRegistry.evolve: Evolve fills missing, drops extras, reorders") {
    val declared = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("added", DoubleType)))
    // source: reordered (b before a), has undeclared `extra`, lacks `added`
    val src = Seq(("x", 1, 9.9)).toDF("b", "a", "extra")
    val out = SchemaRegistry.evolve(src, declared, SchemaRegistry.EvolutionPolicy.Evolve)
    assert(out.columns.toSeq == Seq("a", "b", "added"))
    assert(out.schema("a").dataType == LongType)
    assert(out.schema("added").dataType == DoubleType)
    val r = out.head()
    assert(r.getLong(0) == 1L && r.getString(1) == "x" && r.isNullAt(2))
  }

  test("SchemaRegistry.evolve: Strict names both drift directions; reorder alone passes") {
    val declared = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val drifted = Seq(("x", 1, 9.9)).toDF("b", "a", "extra")
    val e = intercept[IllegalArgumentException] {
      SchemaRegistry.evolve(
        drifted.drop("a").withColumn("c", col("b")), declared,
        SchemaRegistry.EvolutionPolicy.Strict)
    }
    assert(e.getMessage.contains("[a]") && e.getMessage.contains("[extra, c]"))
    // pure reorder (+ cast) is not drift under Strict
    val reordered = Seq(("x", 1)).toDF("b", "a")
    val ok = SchemaRegistry.evolve(reordered, declared, SchemaRegistry.EvolutionPolicy.Strict)
    assert(ok.columns.toSeq == Seq("a", "b"))
    assert(ok.head() == org.apache.spark.sql.Row(1L, "x"))
  }

  test("Text.tfidf: hand-computed tf/df/idf on a 2-doc corpus") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = Text.tfidf(docs, "doc_id", CrossHash.tokens(col("text")))
      .select("id", "term", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // idf(df) = ln(3/(df+1)) + 1; N=2
    def idf(df: Long) = math.log(3.0 / (df + 1)) + 1
    def exp(tf: Long, df: Long) =
      BigDecimal(tf * idf(df) + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(
      (1L, "a") -> ((2L, 2L, exp(2, 2))),
      (1L, "b") -> ((1L, 1L, exp(1, 1))),
      (2L, "a") -> ((1L, 2L, exp(1, 2))),
      (2L, "c") -> ((1L, 1L, exp(1, 1)))))
  }

  test("Text.bm25: term frequency raises score, length penalizes, non-matches absent") {
    val docs = Seq(
      (1L, "spark spark spark x"), // tf=3, dl=4
      (2L, "spark x y z"),         // tf=1, dl=4
      (3L, "spark x y z q w e r"), // tf=1, dl=8 — longer doc, lower score
      (4L, "nothing here")         // no query term: absent from output
    ).toDF("doc_id", "text")
    val out = Text.bm25(docs, "doc_id", CrossHash.tokens(col("text")), Seq("spark"))
      .select("id", "bm25").as[(Long, Double)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) > out(2L) && out(2L) > out(3L))
    assert(out.values.forall(_ > 0))
  }

  test("Sampling.sqrtBalancedSample: data-derived sqrt rates, deterministic membership") {
    val rows = (1 to 80).map(i => (i.toLong, if (i <= 64) "big" else "small"))
    val df = rows.toDF("id", "g")
    val out = Sampling.sqrtBalancedSample(df, col("g"), col("id").cast("string"), "t1")
      .select("id", "g", "n_group", "rate_permille")
      .as[(Long, String, Long, Int)].collect().toSeq.sortBy(_._1)
    // rates: small (n=16, the min) keeps all at 1000‰; big (n=64) at
    // floor(1000·√(16/64)) = 500‰
    assert(out.filter(_._2 == "small").forall(r => r._3 == 16L && r._4 == 1000))
    assert(out.filter(_._2 == "big").forall(r => r._3 == 64L && r._4 == 500))
    assert(out.count(_._2 == "small") == 16) // rate 1000 keeps every row
    val bigKept = out.count(_._2 == "big")
    assert(bigKept > 0 && bigKept < 64)
    // deterministic: a second evaluation is identical
    val again = Sampling.sqrtBalancedSample(df, col("g"), col("id").cast("string"), "t1")
      .select("id", "g", "n_group", "rate_permille")
      .as[(Long, String, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(again == out)
  }

  test("Sampling.budgetMixtureSample: budget-derived rates, cap branch, unweighted dropped") {
    val rows =
      (1 to 4).map(i => (i.toLong, "g1", 10L)) ++   // 40 units
      (5 to 6).map(i => (i.toLong, "g2", 5L)) ++    // 10 units
      Seq((7L, "g3", 10L))                          // no weight -> dropped
    val df = rows.toDF("id", "g", "units")
    val out = Sampling.budgetMixtureSample(df, col("g"), col("id").cast("string"),
        col("units"), Map("g1" -> 500, "g2" -> 500), budget = 30L, salt = "t_mix")
      .select("id", "g", "group_units", "rate_permille")
      .as[(Long, String, Long, Int)].collect().toSeq.sortBy(_._1)
    // g1: floor(30·500/40) = 375‰; g2: floor(30·500/10) = 1500 -> capped 1000‰
    assert(out.filter(_._2 == "g1").forall(r => r._3 == 40L && r._4 == 375))
    assert(out.filter(_._2 == "g2").forall(r => r._3 == 10L && r._4 == 1000))
    assert(out.count(_._2 == "g2") == 2)  // rate 1000 keeps every row
    assert(!out.exists(_._2 == "g3"))     // unweighted group keeps nothing
    val again = Sampling.budgetMixtureSample(df, col("g"), col("id").cast("string"),
        col("units"), Map("g1" -> 500, "g2" -> 500), budget = 30L, salt = "t_mix")
      .select("id", "g", "group_units", "rate_permille")
      .as[(Long, String, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(again == out)
  }

  test("Sampling.doremiMixture: hand-computed multiplicative-weights rounds") {
    // two domains: "web" has excess loss 0.5 (headroom), "code" has 0
    // (the proxy already matches the reference there)
    val ex = Seq(("web", 0.5), ("code", 0.0)).toDF("domain", "lam")
    val out = Sampling.doremiMixture(ex, eta = 1.0, smooth = 0.2, rounds = 2)
      .select("domain", "lam", "alpha_final", "alpha_avg")
      .as[(String, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    // replay the exact operator arithmetic: per-round (1 + η·λ) scaling,
    // DECIMAL(28,14) normalization sum (HALF_UP, order-free), uniform mix
    def dec14(x: Double) =
      BigDecimal(x).setScale(14, BigDecimal.RoundingMode.HALF_UP)
    val lam = Map("web" -> 0.5, "code" -> 0.0)
    var a = Map("web" -> 0.5, "code" -> 0.5)
    var r = Map("web" -> 0.0, "code" -> 0.0)
    for (_ <- 1 to 2) {
      val ap = a.map { case (k, v) => k -> v * (1.0 + 1.0 * lam(k)) }
      val s = (dec14(ap("web")) + dec14(ap("code"))).toDouble
      a = ap.map { case (k, v) => k -> ((1.0 - 0.2) * (v / s) + 0.2 / 2.0) }
      r = r.map { case (k, v) => k -> (v + a(k)) }
    }
    // round 1: ap=(0.75, 0.5), s=1.25 → α=(0.58, 0.42); round 2:
    // ap=(0.87, 0.42), s=1.29 → α=(0.8·(29/43)+0.1, 0.8·(14/43)+0.1)
    assert(math.abs(a("web") - (0.8 * 29 / 43.0 + 0.1)) < 1e-12)
    assert(out("web") == (("web", 0.5, a("web"), r("web") / 2.0)))
    assert(out("code") == (("code", 0.0, a("code"), r("code") / 2.0)))
    // the headroom domain is upweighted; the saturated one decays toward
    // the smoothing floor — and the time average lags the final iterate
    assert(a("web") > 0.6 && a("code") < 0.4)
    assert(r("web") / 2.0 < a("web") && r("code") / 2.0 > a("code"))
  }

  test("Text.unigramNll: hand-computed corpus LM mean negative log-likelihood") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1, total=5
    val out = Text.unigramNll(docs, "doc_id", CrossHash.tokens(col("text")))
      .select("id", "n_tokens", "nll").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc1: (2+1)·(−ln 0.4) / 3 = 0.9163; doc2: (−ln 0.4 − ln 0.2) / 2
    assert(out(1L) == ((3L, 0.9163)))
    assert(out(2L) == ((2L, 1.2629)))
  }

  test("Text.bigramNll: hand-computed add-one bigram LM; sub-2-token docs emit no row") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    // bigrams: doc1 = (a,b)x2 + (b,a); doc2 = (a,b)  =>  c(a,b)=3, c(b,a)=1
    // predecessor counts: c(a)=3, c(b)=1; vocab V = {a,b,x} = 3
    // P(b|a) = (3+1)/(3+3) = 2/3; P(a|b) = (1+1)/(1+3) = 1/2
    val out = Text.bigramNll(docs, "doc_id", CrossHash.tokens(col("text")))
      .select("id", "n_bigrams", "nll").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val d1 = (2 * -math.log(2.0 / 3) + -math.log(0.5)) / 3
    assert(out(1L) == ((3L, BigDecimal(d1 + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(2L) == ((1L, BigDecimal(-math.log(2.0 / 3) + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(!out.contains(3L), "a one-token doc has no bigrams and no row")
  }

  test("Text.knBigramNll: hand-computed interpolated Kneser-Ney bigram LM") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "b c a"), (4L, "x"))
      .toDF("doc_id", "text")
    // bigram types: c(a,b)=3, c(b,a)=1, c(b,c)=2, c(c,a)=1
    //   n1 = 2 (ba, ca), n2 = 1 (bc)  =>  D = 2/(2+2) = 0.5
    //   predecessor sums: c(a·)=3 (N1+=1), c(b·)=3 (N1+=2), c(c·)=1 (N1+=1)
    //   continuation: N1+(·b)=1, N1+(·a)=2, N1+(·c)=1 over N1+(··)=4
    // P(b|a) = 2.5/3 + 0.5·(1/3)·(1/4) = 0.875
    // P(a|b) = 0.5/3 + 0.5·(2/3)·(2/4) = 1/3
    // P(c|b) = 1.5/3 + 0.5·(2/3)·(1/4) = 7/12
    // P(a|c) = 0.5/1 + 0.5·(1/1)·(2/4) = 0.75
    val out = Text.knBigramNll(docs, "doc_id", CrossHash.tokens(col("text")))
      .select("id", "n_bigrams", "nll").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def r4(x: Double): Double = BigDecimal(x + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, r4((2 * -math.log(0.875) + -math.log(1.0 / 3)) / 3))))
    assert(out(2L) == ((2L, r4((-math.log(0.875) + -math.log(7.0 / 12)) / 2))))
    assert(out(3L) == ((2L, r4((-math.log(7.0 / 12) + -math.log(0.75)) / 2))))
    assert(!out.contains(4L), "a one-token doc has no bigrams and no row")
    // every probability is strictly positive and the interpolation keeps
    // the rare bigrams ABOVE their discounted ML mass alone — the
    // continuation term is doing its job on this fixture
    assert(out(1L)._2 > 0 && out(3L)._2 > 0)
  }

  test("Text.knTrigramNll: hand-computed interpolated trigram KN") {
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("doc_id", "text")
    // trigram types: abc=2, bca=1, cab=1, abd=1
    //   n1=3, n2=1 => D3 = 3/5 = 0.6
    //   contexts: (a,b): c(ab·)=3, N1+=2; (b,c): 1,1; (c,a): 1,1
    // continuation rows (b,c)/(c,a)/(a,b)/(b,d) all N1+(·xy)=1
    //   => D2 = 4/(4+0) = 1; every N1+(·x·) fold: b->(2,2), c->(1,1),
    //      a->(1,1); P_cont = 1/4 for every token; P_mid = 0.25 everywhere
    // P(c|a,b) = 1.4/3 + (0.6·2/3)·0.25; P(d|a,b) = 0.4/3 + (0.6·2/3)·0.25
    // P(a|b,c) = 0.4/1 + (0.6·1/1)·0.25 = 0.55 = P(b|c,a)
    val out = Text.knTrigramNll(docs, "doc_id", CrossHash.tokens(col("text")))
      .select("id", "n_trigrams", "nll").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def r4(x: Double): Double = BigDecimal(x + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pCab = (2.0 - 0.6) / 3.0 + (0.6 * 2.0 / 3.0) * 0.25
    val pDab = (1.0 - 0.6) / 3.0 + (0.6 * 2.0 / 3.0) * 0.25
    assert(out(1L) ==
      ((4L, r4((2 * -math.log(pCab) + 2 * -math.log(0.55)) / 4))))
    assert(out(2L) == ((1L, r4(-math.log(pDab)))))
    assert(!out.contains(3L), "a two-token doc has no trigrams and no row")
    // the top-order discount bites: the twice-seen trigram scores better
    // than the once-seen one in the same context
    assert(out(1L)._2 < out(2L)._2)
  }

  test("Text KN model family: serve ≡ in-memory, ingest-fold ≡ retrain, " +
      "delete ≡ retrain-without, OOV surfaced") {
    val toks = CrossHash.tokens(col("text"))
    val all = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "b c a"), (4L, "x"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_bigrams", "n_oov", "nll")
        .as[(Long, Long, Long, Option[Double])].collect().toSet
    def reference(statsDocs: org.apache.spark.sql.DataFrame,
        ids: Set[Long]): Set[(Long, Long, Long, Option[Double])] =
      Text.knBigramNll(statsDocs, "doc_id", toks)
        .filter(col("id").isin(ids.toSeq: _*))
        .select(col("id"), col("n_bigrams"), lit(0L).as("n_oov"), col("nll"))
        .as[(Long, Long, Long, Option[Double])].collect().toSet

    // serve from the stored family ≡ the in-memory scorer
    Text.Kn.drop(spark, "t_kn_f")
    Text.Kn.write("t_kn_f", Text.knCounts(all, "doc_id", toks))
    assert(rows(Text.scoreAgainstKnModel(all, "doc_id", toks, "t_kn_f"))
      == reference(all, Set(1L, 2L, 3L)))

    // ingest-fold: train on docs 1-2, fold 3-4 in — scores must equal the
    // full-corpus model (delta fold ≡ retrain)
    Text.Kn.drop(spark, "t_kn_i")
    Text.Kn.write("t_kn_i", Text.knCounts(all.filter(col("doc_id") <= 2), "doc_id", toks))
    Text.Kn.ingest("t_kn_i", Text.knCounts(all.filter(col("doc_id") > 2), "doc_id", toks))
    assert(rows(Text.scoreAgainstKnModel(all, "doc_id", toks, "t_kn_i"))
      == reference(all, Set(1L, 2L, 3L)))

    // delete: negative deltas for doc 2 — surviving docs score exactly as
    // a retrain without it (type (a,c->b? ) counts, continuation counts
    // and the discount all shift)
    Text.Kn.drop(spark, "t_kn_d")
    Text.Kn.write("t_kn_d", Text.knCounts(all, "doc_id", toks))
    Text.Kn.delete("t_kn_d", Text.knCounts(all.filter(col("doc_id") === 2), "doc_id", toks))
    val survivors = all.filter(col("doc_id") =!= 2)
    assert(rows(Text.scoreAgainstKnModel(survivors, "doc_id", toks, "t_kn_d"))
      == reference(survivors, Set(1L, 3L)))

    // compaction: folds base + negative-delta rows to one live row per
    // type behind a generation cutover — scores unchanged, partials shrunk
    val before = spark.table("t_kn_d_cab").count()
    val gen = Text.Kn.compact(spark, "t_kn_d")._1
    assert(gen == 1L)
    assert(spark.table("t_kn_d_g1_cab").count() < before)
    assert(rows(Text.scoreAgainstKnModel(survivors, "doc_id", toks, "t_kn_d"))
      == reference(survivors, Set(1L, 3L)))

    // OOV surfacing: unseen bigrams contribute nothing and are counted;
    // a doc with NO in-stats bigram gets a NULL nll, not a fake score
    val oov = Seq((9L, "a z"), (10L, "a b z z")).toDF("doc_id", "text")
    val scored = rows(Text.scoreAgainstKnModel(oov, "doc_id", toks, "t_kn_f"))
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scored(9L) == ((1L, 1L, None)))
    // doc 10: bigrams ab (in-stats), bz, zz (OOV) -> nll over ab alone
    val pAb = 0.875 // P(b|a) from the fixture above
    def r4(x: Double): Double = BigDecimal(x + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored(10L) == ((3L, 2L, Some(r4(-math.log(pAb))))))
  }

  test("AhoCounts: automaton hand-counts; native ≡ position-scan fold") {
    import graft.functions.AhoAutomaton
    val pats = Seq("ab", "aba", "b", "中文")
    // "ababa": ab ends at 2,4; aba ends at 3,5 (OVERLAPPING — the match
    // the naive leftmost-nonoverlap scan misses); b ends at 2,4
    val auto = new AhoAutomaton(pats.toArray)
    assert(auto.countAll("ababa").toSeq == Seq(2, 2, 2, 0))
    assert(auto.countAll("xx中文中文x").toSeq == Seq(0, 0, 0, 2))
    assert(auto.countAll("").toSeq == Seq(0, 0, 0, 0))
    assert(auto.countAll("b").toSeq == Seq(0, 0, 1, 0))
    // nested patterns: "aba" contains "ab" and "b" — the dictionary-
    // suffix chain must emit all three at their shared end positions
    assert(auto.countAll("aba").toSeq == Seq(1, 1, 1, 0))
    // the session registers GraftExtensions, so ahoCounts resolves to the
    // native expression; the HOF fold is the executable spec — row-for-row
    // equality IS the automaton's correctness proof over real data shapes
    val df = Seq((1L, "ababa"), (2L, "xx中文中文x"), (3L, "a"), (4L, "babab"))
      .toDF("id", "text")
    val nat = df.select(col("id"),
      CrossHash.ahoCounts(col("text"), pats).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    val fold = df.select(col("id"),
      CrossHash.ahoCountsFold(col("text"), pats).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(nat == fold, s"native $nat vs fold $fold")
    assert(nat(4L) == Seq(2, 1, 3, 0))
  }

  test("BinCounts: hand-counts; native one-pass ≡ size(filter) fold") {
    // NULL elements and out-of-range ids are skipped in BOTH formulations
    // (filter(v === b) drops null/true-less rows; the native pass bounds-
    // checks) — the langid feature map's bins are pmod'd so neither case
    // arises there, but the contract is pinned here
    val df = Seq(
      (1L, Seq[java.lang.Long](0L, 1L, 1L, 3L, 3L, 3L)),
      (2L, Seq[java.lang.Long](2L, 2L, 5L, -1L)), // 5 and -1 out of range at nBins=4
      (3L, Seq[java.lang.Long]()),
      (4L, Seq[java.lang.Long](0L, null, 0L))
    ).toDF("id", "bins")
    val nat = df.select(col("id"), CrossHash.binCounts(col("bins"), 4).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    val fold = df.select(col("id"), CrossHash.binCountsFold(col("bins"), 4).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(nat == fold, s"native $nat vs fold $fold")
    assert(nat(1L) == Seq(1, 2, 0, 3))
    assert(nat(2L) == Seq(0, 0, 2, 0))
    assert(nat(3L) == Seq(0, 0, 0, 0))
    assert(nat(4L) == Seq(2, 0, 0, 0))
  }

  test("PqEncode: native one-call codes ≡ array_min candidate fold, incl. NULL/ragged") {
    import graft.operators.Similarity
    // a small trained-looking codebook: m=2 subspaces, ks=3, subDim=2 —
    // plus a deliberately equidistant pair so the cid tie-break is hit
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)), // cids 1 and 3 identical → ties → 1
      Array(Array(0.5, 0.5), Array(-1.0, 2.0), Array(0.0, 0.0)))
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.1, 0.4, 0.6)),
      (2L, Seq[java.lang.Double](0.0, 1.0, -1.0, 2.0)),
      (3L, null), // NULL vector → all code 1 (the spec's struct(null-d, cid) shape)
      (4L, Seq[java.lang.Double](1.0, 0.0, 0.3)), // ragged: subspace 1 slice is short → code 1
      (5L, Seq[java.lang.Double](1.0, null, 0.0, 0.0)) // NULL element → subspace 0 code 1
    ).toDF("id", "cen")
    val nat = df.select(col("id"),
        Similarity.pqCodesArray(books, 2, col("cen").cast("array<double>")).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    val fold = df.select(col("id") +:
        Similarity.pqCodeCols(books, 2, col("cen").cast("array<double>")): _*)
      .select(col("id"), array(col("code0"), col("code1")).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(nat == fold, s"native $nat vs fold $fold")
    assert(nat(3L) == Seq(1, 1))
    assert(nat(4L)(1) == 1)
    assert(nat(5L)(0) == 1)
    // the tie pair: vector aligned with the duplicated centroid must pick
    // the SMALLER cid (1, not 3)
    assert(nat(1L)(0) == 1)
  }

  test("AhoSpans + exciseSpans: span emission, native ≡ fold, interval-union removal") {
    import graft.functions.AhoAutomaton
    val pats = Seq("ab", "aba", "b")
    val auto = new AhoAutomaton(pats.toArray)
    // "ababa": overlapping + nested matches, sorted by (start, len)
    assert(auto.spansAll("ababa").toSeq ==
      Seq((1, 2), (1, 3), (2, 1), (3, 2), (3, 3), (4, 1)))
    val df = Seq((1L, "ababa"), (2L, "xxabcyy"), (3L, "zzz"), (4L, ""),
      (5L, "ab zab")).toDF("id", "text")
    val nat = df.select(col("id"), CrossHash.ahoSpans(col("text"), pats).as("s"))
    val fold = df.select(col("id"), CrossHash.ahoSpansFold(col("text"), pats).as("s"))
    assert(nat.exceptAll(fold).isEmpty && fold.exceptAll(nat).isEmpty,
      "native spans must equal the position-scan fold element for element")
    // excision removes the UNION of covered intervals; untouched docs
    // (incl. the empty string) come back byte-identical
    val clean = df.select(col("id"),
        graft.operators.Text.exciseSpans(col("text"),
          CrossHash.ahoSpans(col("text"), pats)).as("c"))
      .as[(Long, String)].collect().toMap
    assert(clean == Map(1L -> "", 2L -> "xxcyy", 3L -> "zzz", 4L -> "",
      5L -> " z"), clean.toString)
    // redaction: one placeholder per maximal OVERLAPPING-span run
    // (doc 5's two runs are disjoint → two placeholders); untouched docs
    // byte-identical; region counts match
    val red = df.select(col("id"),
        graft.operators.Text.redactSpans(col("text"),
          CrossHash.ahoSpans(col("text"), pats), "<B>").as("r"),
        graft.operators.Text.mergedSpanCount(
          CrossHash.ahoSpans(col("text"), pats)).as("n"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(red == Map(1L -> (("<B>", 1L)), 2L -> (("xx<B>cyy", 1L)),
      3L -> (("zzz", 0L)), 4L -> (("", 0L)), 5L -> (("<B> z<B>", 2L))),
      red.toString)
  }

  test("AhoSpans on astral-bearing text: codepoint offsets, byte-exact excision") {
    import graft.functions.AhoAutomaton
    val pats = Seq("ab", "b")
    // 😀 = U+1F600, TWO UTF-16 units but ONE codepoint: "x😀yab😀b" has
    // "ab" at codepoint 4 and "b"s at codepoints 5 and 7 — a UTF-16
    // offset would report 5/6/9 and make the excision slice mid-emoji
    val auto = new AhoAutomaton(pats.toArray)
    assert(auto.spansAll("x😀yab😀b").toSeq ==
      Seq((4, 2), (5, 1), (7, 1)))
    val df = Seq((1L, "x😀yab😀b"),
      (2L, "😀😀"), (3L, "ab")).toDF("id", "text")
    val nat = df.select(col("id"), CrossHash.ahoSpans(col("text"), pats).as("s"))
    val fold = df.select(col("id"), CrossHash.ahoSpansFold(col("text"), pats).as("s"))
    assert(nat.exceptAll(fold).isEmpty && fold.exceptAll(nat).isEmpty,
      "native spans must stay codepoint-identical to the fold on astral text")
    val clean = df.select(col("id"),
        graft.operators.Text.exciseSpans(col("text"),
          CrossHash.ahoSpans(col("text"), pats)).as("c"))
      .as[(Long, String)].collect().toMap
    assert(clean == Map(1L -> "x😀y😀", 2L -> "😀😀",
      3L -> ""), clean.toString)
    val red = df.select(col("id"),
        graft.operators.Text.redactSpans(col("text"),
          CrossHash.ahoSpans(col("text"), pats), "<B>").as("r"))
      .as[(Long, String)].collect().toMap
    assert(red == Map(1L -> "x😀y<B>😀<B>",
      2L -> "😀😀", 3L -> "<B>"), red.toString)
  }

  test("Similarity.mmrSelect: hand-computed greedy diversification") {
    // candidates for one query: d1/d2 are exact duplicates (pair cos 1),
    // d3 is orthogonal — pure-relevance ranking would pick d1 then d2;
    // MMR (λ=0.7) must pick d1, then d3 (d2's duplicate penalty drops it
    // to 0.7·0.9 − 0.3·1 = 0.33 < 0.35), then d2 last
    val cand = Seq(
      (100L, 1L, Seq(1.0f, 0.0f), 0.95),
      (100L, 2L, Seq(1.0f, 0.0f), 0.9),
      (100L, 3L, Seq(0.0f, 1.0f), 0.5)
    ).toDF("query_id", "doc_id", "emb", "rel")
    val out = Similarity.mmrSelect(cand, kSel = 3, lambda = 0.7)
      .select("step", "doc_id", "pen", "mmr")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    def r7(x: Double): Double = BigDecimal(x + 1e-9)
      .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == ((1L, 1L, 0.0, r7(0.7 * 0.95))))
    assert(out(1) == ((2L, 3L, 0.0, r7(0.7 * 0.5))))
    // d2's penalty is its cosine to selected d1 (an exact duplicate -> 1)
    assert(out(2) == ((3L, 2L, 1.0, r7(0.7 * 0.9 - (1.0 - 0.7) * 1.0))))
  }

  test("Text.ulmTrain: hand-computed Viterbi-EM rounds, piece dropout, encode") {
    // words: abab(1), ab(1), ababcd(2), cd(1) — chosen so round 2 FLIPS a
    // segmentation: under seed counts [abab] beats [ab,ab] (one rare piece
    // over two), but after round-1 reweighting 'ab' (used by 3 words)
    // outweighs 'abab' (used by 1) and round 2 segments abab as [ab,ab],
    // dropping 'abab' from the final vocabulary — the EM pruning at work.
    val docs = Seq((1L, "abab ab"), (2L, "ababcd"), (3L, "cd ababcd"),
      (4L, "ababcd")).toDF("doc_id", "text")
    val (pieces, segs) = Text.ulmTrain(docs, col("text"),
      maxPieceLen = 4, seedMulti = 60, rounds = 2)
    def lpOf(cnt: Long, tot: Long): Long =
      math.floor(math.log(cnt.toDouble / tot.toDouble) * 1e7 + 0.5 + 1e-3).toLong
    // final M-step counts: ab = 2 (from abab) + 1 (ab) + 3 (ababcd×3) = 6,
    // abcd = 3, cd = 1; tot = 10
    val vocab = pieces.select("piece", "cnt", "lp").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(vocab == Map(
      "ab" -> ((6L, lpOf(6, 10))),
      "abcd" -> ((3L, lpOf(3, 10))),
      "cd" -> ((1L, lpOf(1, 10)))), vocab.toString)
    val seg = segs.select("word", "n_pieces", "segs")
      .as[(String, Long, Seq[String])].collect().map(r => r._1 -> r).toMap
    assert(seg("abab") == (("abab", 2L, Seq("ab", "ab"))),
      s"round 2 must re-segment abab through the reweighted 'ab': ${seg("abab")}")
    assert(seg("ababcd") == (("ababcd", 2L, Seq("ab", "abcd"))))
    assert(seg("ab") == (("ab", 1L, Seq("ab"))))
    assert(seg("cd") == (("cd", 1L, Seq("cd"))))
  }

  test("persisted ULM model: stored-piece serving parity, rebuild cutover, OOV contract") {
    val docs = Seq((1L, "abab ab"), (2L, "ababcd"), (3L, "cd ababcd"),
      (4L, "ababcd")).toDF("doc_id", "text")
    val (pieces, segs) = Text.ulmTrain(docs, col("text"),
      maxPieceLen = 4, seedMulti = 60, rounds = 2)
    Text.Ulm.drop(spark, "ulm_spec")
    Text.writeUlmModel(pieces, "ulm_spec", maxPieceLen = 4)
    // serving the training vocabulary reproduces the trainer's
    // segmentation table exactly (the frozen-artifact contract)
    val words = segs.select("word")
    val served = Text.encodeAgainstUlmModel(words, "word", "ulm_spec")
      .select("word", "n_pieces", "segs")
    val trained = segs.select("word", "n_pieces", "segs")
    assert(served.exceptAll(trained).isEmpty && trained.exceptAll(served).isEmpty,
      "stored-model encode must equal the in-session trainer's segmentation")
    // a word the frozen vocabulary cannot reach (unseen char) is NULL —
    // the surfaced-OOV contract, never a silent wrong segmentation
    val oov = Text.encodeAgainstUlmModel(
      Seq("abxq").toDF("word"), "word", "ulm_spec")
    assert(oov.filter(col("n_pieces").isNull).count() == 1L, "OOV must be NULL")
    // blue/green rebuild: retrain with rounds = 1 cuts over to a new
    // generation whose VOCABULARY is round-1's — 'abab' survives there
    // (the round-2 M-step had dropped it), so the active piece table
    // proves the pointer flipped
    val preVocab = spark.table(
        graft.sources.Sinks.activeTablePrefix(spark, "ulm_spec") + "_pieces")
      .select("piece").as[String].collect().toSet
    assert(!preVocab.contains("abab"), preVocab.toString)
    val gen = Text.Ulm.rebuild(spark, "ulm_spec")(Text.writeUlmModel(
      Text.ulmTrain(docs, col("text"), maxPieceLen = 4, seedMulti = 60, rounds = 1)._1, _, 4))
    assert(gen == 1L, s"first cutover must stage generation 1, got $gen")
    val postVocab = spark.table(
        graft.sources.Sinks.activeTablePrefix(spark, "ulm_spec") + "_pieces")
      .select("piece").as[String].collect().toSet
    assert(postVocab.contains("abab"),
      s"the rebuilt generation must carry round-1's vocabulary: $postVocab")
    // the serving fold under the round-1 model still picks the higher-
    // probability split — 'ab' (count 4) outweighs the kept 'abab'
    // (count 1): a stored piece is a CANDIDATE, not a guarantee
    val g1 = Text.encodeAgainstUlmModel(
        Seq("abab").toDF("word"), "word", "ulm_spec")
      .select("segs").as[Seq[String]].head()
    assert(g1 == Seq("ab", "ab"), g1.toString)
  }

  test("Text.boilerplateCoverage: top-K df blocklist with lexicographic ties") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")
    ).toDF("doc_id", "text")
    // gram df: "a b c"=2; the four df=1 grams tie, "b c d" wins the K=2
    // boundary lexicographically
    val out = Text.boilerplateCoverage(
        docs, "doc_id", CrossHash.wordShingles(CrossHash.tokens(col("text")), 3),
        topK = 2)
      .select("id", "n_grams", "n_bp", "bp_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 2L, 1L, 0.5)))
    assert(out(3L) == ((3L, 2L, 0L, 0.0)))
  }

  test("Text.cdcChunkEnds: chunks tile the document; edits stay local") {
    val rnd = new scala.util.Random(42)
    val base = Array.fill(4000)(('a' + rnd.nextInt(26)).toChar).mkString
    // insertion mid-document: content-defined boundaries must re-sync
    val edited = base.substring(0, 2000) + "INSERTED" + base.substring(2000)

    def chunksOf(text: String): Seq[String] = {
      val ends = Seq(text).toDF("text")
        .select(Text.cdcChunkEnds(col("text")).as("ends"))
        .as[Seq[Int]].head()
      assert(ends == ends.sorted && ends.last == text.length,
        "ends must be ascending and terminate at the document end")
      (Seq(0) ++ ends).sliding(2).map { case Seq(s, e) => text.substring(s, e) }.toSeq
    }

    val origChunks = chunksOf(base)
    assert(origChunks.mkString == base, "chunks must tile the document exactly")
    assert(origChunks.size > 10, s"mask 64 over 4000 chars should cut often, got ${origChunks.size}")

    val editChunks = chunksOf(edited)
    assert(editChunks.mkString == edited)
    // every chunk except the few spanning the edit window is unchanged
    val shared = origChunks.toSet.intersect(editChunks.toSet)
    assert(origChunks.size - shared.size <= 3,
      s"insertion disturbed ${origChunks.size - shared.size} of ${origChunks.size} chunks")

    // document shorter than the gram width: one chunk covering it all
    assert(chunksOf("tiny") == Seq("tiny"))
  }

  test("Text.bpeMerges: hand-computed merge sequence, greedy non-overlap, determinism") {
    import spark.implicits._
    // word freqs: the×3 cat×1 hat×2 bat×1 → round-1 pairs: at=4, th=3,
    // he=3, ha=2, ca=1, ba=1 → merge "at"; round 2: th=3 ties he=3, l
    // tie-break picks he; round 3: t+he=3; round 4: h+at=2.
    val docs = Seq("the the cat hat", "the hat bat").toDF("text")
    val out = Text.bpeMerges(docs, col("text"), nMerges = 4)
      .orderBy("rank")
      .select("rank", "l", "r", "cnt")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1, "a", "t", 4L), (2, "h", "e", 3L), (3, "t", "he", 3L), (4, "h", "at", 2L)))

    // greedy left-to-right non-overlap: "aaa" has pair (a,a) ×2 per word
    // occurrence but only ONE merge applies per triple (the merged "aa"
    // cannot chain); the second round then merges (aa, a).
    val rep = Seq("aaa aaa aaa").toDF("text")
    val m = Text.bpeMerges(rep, col("text"), nMerges = 2)
      .orderBy("rank").select("l", "r", "cnt")
      .as[(String, String, Long)].collect().toSeq
    assert(m == Seq(("a", "a", 6L), ("aa", "a", 3L)))

    // single-char words contribute no pairs and survive unchanged
    val single = Seq("a b a b ab").toDF("text")
    val s1 = Text.bpeMerges(single, col("text"), nMerges = 1)
      .select("l", "r", "cnt").as[(String, String, Long)].collect().toSeq
    assert(s1 == Seq(("a", "b", 1L)))

    // determinism: identical reruns produce identical tables
    val again = Text.bpeMerges(docs, col("text"), nMerges = 4)
      .orderBy("rank").select("rank", "l", "r", "cnt")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(again == out)
  }

  test("Text.bpeEncodeWords: training parity, unseen words, empty merge table") {
    import spark.implicits._
    // merges learned on the/cat/hat/bat fixture: at, he, t+he, h+at
    val docs = Seq("the the cat hat", "the hat bat").toDF("text")
    val merges = Text.bpeMerges(docs, col("text"), nMerges = 4)

    def enc(ws: String*): Map[String, Seq[String]] =
      Text.bpeEncodeWords(ws.toDF("word"), "word", merges)
        .select("word", "syms").as[(String, Seq[String])]
        .collect().toMap

    // training parity: encoding the training vocabulary reproduces the
    // final training segmentation (same greedy pass per merge, in rank
    // order) — the property the tx_bpe_encode oracle leans on
    assert(enc("the", "cat", "hat", "bat") == Map(
      "the" -> Seq("the"), "cat" -> Seq("c", "at"),
      "hat" -> Seq("hat"), "bat" -> Seq("b", "at")))

    // unseen words segment with whatever merges fire: "that" takes (a,t)
    // then (h,at); "bathe" takes (a,t) then (h,e) and nothing else —
    // (t,he) cannot fire because the 't' was already consumed into "at"
    assert(enc("that", "bathe") == Map(
      "that" -> Seq("t", "hat"), "bathe" -> Seq("b", "at", "he")))

    // empty merge table = character segmentation; empty word = empty syms
    val none = Text.bpeMerges(docs, col("text"), nMerges = 1).limit(0)
    val chars = Text.bpeEncodeWords(Seq("ab", "").toDF("word"), "word", none)
      .select("word", "syms").as[(String, Seq[String])].collect().toMap
    assert(chars == Map("ab" -> Seq("a", "b"), "" -> Seq.empty))
  }

  test("squashed-linear GD: hand-computed round, partition invariance, scoring") {
    // two rows, bias + one feature, one round at lr=1, w0 = 0:
    // m=0 ⇒ p=0.5, dσ=0.5; contributions
    //   g_bias: ((0.5−1)·0.5)·1 = −0.25 and ((0.5−0)·0.5)·1 = 0.25 ⇒ mean 0
    //   g_x:    ((0.5−1)·0.5)·0 = 0     and ((0.5−0)·0.5)·1 = 0.25 ⇒ mean 0.125
    val df = Seq((1.0, 0.0, 1.0), (1.0, 1.0, 0.0)).toDF("x1", "x2", "y")
    val w = LinearModel.trainSquashedLinear(df, Seq("x1", "x2"), "y", lr = 1.0, iters = 1)
    assert(w.toSeq == Seq(0.0, -0.125))
    // the DECIMAL gradient sums make training invariant to partitioning
    val wRep = LinearModel.trainSquashedLinear(
      df.repartition(7), Seq("x1", "x2"), "y", lr = 1.0, iters = 1)
    assert(wRep.toSeq == w.toSeq)
    val w3 = LinearModel.trainSquashedLinear(df, Seq("x1", "x2"), "y", lr = 1.0, iters = 3)
    val w3Rep = LinearModel.trainSquashedLinear(
      df.repartition(5), Seq("x1", "x2"), "y", lr = 1.0, iters = 3)
    assert(w3.toSeq == w3Rep.toSeq && w3.toSeq != w.toSeq)
    // scoring under w = (0, −0.125): row1 m=0 ⇒ 0.5 (kept at the boundary),
    // row2 m=−0.125 ⇒ σ = 0.5 − 0.0625/1.125 = 0.4444444 (rounded to 7)
    val s = LinearModel.scoreSquashedLinear(df, Seq("x1", "x2"), w.toSeq)
      .select("score", "pred").as[(Double, Boolean)].collect().toSet
    assert(s == Set((0.5, true), (0.4444444, false)), s.toString)
    // ragged inputs refuse loudly
    intercept[IllegalArgumentException] {
      LinearModel.trainSquashedLinear(df, Seq("x1"), "y", lr = 1.0, iters = 0)
    }
  }

  test("squashed-linear Auto trainer: driver path under the cap, distributed past it") {
    val df = Seq((1.0, 0.0, 1.0), (1.0, 1.0, 0.0), (1.0, 2.0, 1.0),
      (1.0, 3.0, 0.0)).toDF("x1", "x2", "y")
    val dist = LinearModel.trainSquashedLinear(
      df, Seq("x1", "x2"), "y", lr = 1.0, iters = 3)
    // under the cap: the driver loop lands the distributed weights (no
    // decimal-cast boundary double on this frame)
    val under = LinearModel.trainSquashedLinearAuto(
      df, Seq("x1", "x2"), "y", lr = 1.0, iters = 3, maxRows = 10L)
    assert(under.length == dist.length)
    under.zip(dist).foreach { case (u, d) => assert(math.abs(u - d) <= 1e-12, s"$u vs $d") }
    // past the cap: Auto TRAINS via the unchanged distributed path
    // instead of refusing
    val over = LinearModel.trainSquashedLinearAuto(
      df, Seq("x1", "x2"), "y", lr = 1.0, iters = 3, maxRows = 2L)
    assert(over.toSeq == dist.toSeq)
    assert(over.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("Text KN3 (trigram) model family: serve ≡ in-memory, ingest-fold ≡ retrain, " +
      "delete ≡ retrain-without, compaction, OOV surfaced") {
    val toks = CrossHash.tokens(col("text"))
    val all = Seq((1L, "a b a b a"), (2L, "a b c d"), (3L, "b c a b"), (4L, "x y"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_trigrams", "n_oov", "nll")
        .as[(Long, Long, Long, Option[Double])].collect().toSet
    def reference(statsDocs: org.apache.spark.sql.DataFrame,
        ids: Set[Long]): Set[(Long, Long, Long, Option[Double])] =
      Text.knTrigramNll(statsDocs, "doc_id", toks)
        .filter(col("id").isin(ids.toSeq: _*))
        .select(col("id"), col("n_trigrams"), lit(0L).as("n_oov"), col("nll"))
        .as[(Long, Long, Long, Option[Double])].collect().toSet

    // serve from the stored family ≡ the in-memory scorer; a two-token
    // doc has no trigrams and no row
    Text.Kn3.drop(spark, "t_kn3_f")
    Text.Kn3.write("t_kn3_f", Text.kn3Counts(all, "doc_id", toks))
    assert(rows(Text.scoreAgainstKn3Model(all, "doc_id", toks, "t_kn3_f"))
      == reference(all, Set(1L, 2L, 3L)))

    // ingest-fold ≡ retrain over old+new
    Text.Kn3.drop(spark, "t_kn3_i")
    Text.Kn3.write("t_kn3_i", Text.kn3Counts(all.filter(col("doc_id") <= 2), "doc_id", toks))
    Text.Kn3.ingest("t_kn3_i", Text.kn3Counts(all.filter(col("doc_id") > 2), "doc_id", toks))
    assert(rows(Text.scoreAgainstKn3Model(all, "doc_id", toks, "t_kn3_i"))
      == reference(all, Set(1L, 2L, 3L)))

    // delete ≡ retrain-without: every derived statistic of every order
    // (the (a,b) sums, the (b,c) continuation table, both discounts)
    // must shift
    Text.Kn3.drop(spark, "t_kn3_d")
    Text.Kn3.write("t_kn3_d", Text.kn3Counts(all, "doc_id", toks))
    Text.Kn3.delete("t_kn3_d", Text.kn3Counts(all.filter(col("doc_id") === 2), "doc_id", toks))
    val survivors = all.filter(col("doc_id") =!= 2)
    assert(rows(Text.scoreAgainstKn3Model(survivors, "doc_id", toks, "t_kn3_d"))
      == reference(survivors, Set(1L, 3L)))

    // compaction: generation cutover, scores unchanged, partials shrunk
    val before = spark.table("t_kn3_d_cabc").count()
    val gen = Text.Kn3.compact(spark, "t_kn3_d")._1
    assert(gen == 1L)
    assert(spark.table("t_kn3_d_g1_cabc").count() < before)
    assert(rows(Text.scoreAgainstKn3Model(survivors, "doc_id", toks, "t_kn3_d"))
      == reference(survivors, Set(1L, 3L)))

    // blue/green retrain: stage generation 2 over the FULL corpus (doc 2
    // returns), flip the pointer — serving re-resolves through it and
    // the deleted doc's statistics are back
    val gen2 = Text.Kn3.rebuild(spark, "t_kn3_d") { g =>
      Text.Kn3.write(g, Text.kn3Counts(all, "doc_id", toks))
    }
    assert(gen2 == 2L)
    assert(rows(Text.scoreAgainstKn3Model(all, "doc_id", toks, "t_kn3_d"))
      == reference(all, Set(1L, 2L, 3L)))

    // OOV surfacing: out-of-stats trigrams contribute nothing and are
    // counted; a doc with NO in-stats trigram gets NULL nll
    val oov = Seq((9L, "a b z"), (10L, "a b a b z z z")).toDF("doc_id", "text")
    val scored = rows(Text.scoreAgainstKn3Model(oov, "doc_id", toks, "t_kn3_f"))
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scored(9L) == ((1L, 1L, None)))
    // doc 10: aba, bab in-stats; abz, bzz, zzz OOV
    assert(scored(10L)._1 == 5L && scored(10L)._2 == 3L
      && scored(10L)._3.isDefined)
  }

  test("isotonic calibration: PAV pooling via the minimax closed form + step apply") {
    // level means [0, 1, 0, 1, 1] — the middle violator pair pools to
    // (2+0)/(2+2) = 0.5, the classic adjacent-violators case
    val levels = Seq((0.1, 2L, 0L), (0.2, 2L, 2L), (0.3, 2L, 0L),
      (0.4, 1L, 1L), (0.5, 1L, 1L)).toDF("lvl", "n", "pos")
    val fit = LinearModel.isotonicFit(levels)
    val m = fit.as[(Double, Double)].collect().toMap
    assert(m == Map(0.1 -> 0.0, 0.2 -> 0.5, 0.3 -> 0.5, 0.4 -> 1.0, 0.5 -> 1.0),
      m.toString)
    // partition invariance: prefix sums ride explicit windows, not input order
    val fitRep = LinearModel.isotonicFit(levels.repartition(7))
    assert(fitRep.as[(Double, Double)].collect().toMap == m)
    // step application: exact level, between levels (floor level), below
    // the smallest level (clamps to the first fitted value)
    val scored = Seq((1L, 0.25), (2L, 0.05), (3L, 0.4)).toDF("id", "lvl")
    val ap = LinearModel.isotonicApply(scored, "lvl", fit)
      .select("id", "cal_score").as[(Long, Double)].collect().toMap
    assert(ap == Map(1L -> 0.5, 2L -> 0.0, 3L -> 1.0), ap.toString)
    // duplicate input rows must each keep their own output row (the apply
    // groups by a synthetic row id, not by the input columns), and
    // non-groupable column types must pass through
    val dup = Seq((1L, 0.25), (1L, 0.25), (2L, 0.05)).toDF("id", "lvl")
      .withColumn("m", map(lit("k"), col("id")))
    val apDup = LinearModel.isotonicApply(dup, "lvl", fit)
    assert(apDup.count() == 3L, "duplicate rows must not collapse")
    assert(apDup.filter(col("id") === 1L && col("cal_score") === 0.5).count() == 2L)
    assert(apDup.select(col("m")("k")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 2L), "map-typed columns must survive the apply")
  }

  test("persisted linear model: name-bound serving parity and blue/green rebuild") {
    import graft.sources.Sinks
    val df = Seq((1L, 1.0, 0.0, 1.0), (2L, 1.0, 1.0, 0.0), (3L, 1.0, 0.5, 1.0))
      .toDF("id", "x1", "x2", "y")
    val w = LinearModel.trainSquashedLinear(df, Seq("x1", "x2"), "y", lr = 1.0, iters = 3)
    val prefix = "clf_spec_model"
    Seq(s"${prefix}_weights", s"${prefix}_meta", s"${prefix}_current")
      .foreach(Sinks.dropManagedTable(spark, _))
    LinearModel.writeLinearModel(spark, prefix, Seq("x1", "x2"), w.toSeq)
    val direct = LinearModel.scoreSquashedLinear(df, Seq("x1", "x2"), w.toSeq)
      .select("id", "score", "pred")
    val served = LinearModel.scoreAgainstLinearModel(df, prefix)
      .select("id", "score", "pred")
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
    // serving binds features by STORED NAME: a reordered frame scores
    // identically (positional binding would swap the weights)
    val served2 = LinearModel
      .scoreAgainstLinearModel(df.select("x2", "y", "id", "x1"), prefix)
      .select("id", "score", "pred")
    assert(served2.exceptAll(direct).isEmpty && direct.exceptAll(served2).isEmpty)
    // blue/green retrain: the new generation resolves through the pointer
    val gen = LinearModel.Linear.rebuild(spark, prefix)(LinearModel.writeLinearModel(spark, _,
      Seq("x1", "x2"),
      LinearModel.trainSquashedLinear(df, Seq("x1", "x2"), "y", lr = 1.0, iters = 5).toSeq))
    assert(gen >= 1L)
    val w5 = LinearModel.trainSquashedLinear(df, Seq("x1", "x2"), "y", lr = 1.0, iters = 5)
    val direct5 = LinearModel.scoreSquashedLinear(df, Seq("x1", "x2"), w5.toSeq)
      .select("id", "score", "pred")
    val served5 = LinearModel.scoreAgainstLinearModel(df, prefix)
      .select("id", "score", "pred")
    assert(served5.exceptAll(direct5).isEmpty && direct5.exceptAll(served5).isEmpty)
    assert(direct5.exceptAll(direct).count() > 0, "retrain must actually change scores")
  }

  test("Text.chunkDedup: first occurrence survives corpus-wide; docs reassemble in order") {
    val rnd = new scala.util.Random(7)
    def blob(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(600) // long enough to contain whole chunks
    val aTail = blob(300)
    val bHead = blob(300)
    val corpus = Seq(
      (1L, shared + aTail),  // doc 1 owns `shared`'s chunks (first occurrence)
      (2L, bHead + shared),  // doc 2 re-uses them mid-document — they must drop
      (3L, shared)           // doc 3 is nothing BUT duplicated content
    ).toDF("doc_id", "text")
    val out = Text.chunkDedup(corpus, "doc_id", col("text"))
      .orderBy("id")
      .as[(Long, String, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val Seq(d1, d2, d3) = out.toSeq
    // doc 1 saw every chunk first: fully intact
    assert(d1._2 == shared + aTail && d1._4 == 0L, "doc 1 must survive whole")
    // doc 2 keeps its own head (plus any boundary chunk straddling the
    // seam) but loses interior duplicated chunks
    assert(d2._4 > 0L, "doc 2 must drop duplicated interior chunks")
    assert(d2._2.startsWith(bHead.take(100)), "doc 2 keeps its unique head in order")
    // doc 3: interior chunks all duplicated; whatever survives is only
    // boundary-difference chunks (doc 3's final chunk ends at a different
    // offset than doc 1's continuation, so its fp can differ)
    assert(d3._4 >= 1L, "doc 3 must lose its duplicated chunks")
    // reassembly is ORDERED: kept chunks concatenate to a substring-
    // compatible sequence of the original (spot-check doc 2's survivor
    // text appears in doc 2's original in order)
    assert(d2._2.nonEmpty && (bHead + shared).indexOf(d2._2.take(50)) >= 0)
    // total chunk conservation per doc
    out.foreach { case (_, _, kept, dropped) => assert(kept + dropped > 0) }
  }

  test("Text.dsirWeights: target-typical docs outrank off-target; dl = token count") {
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta gamma delta alpha beta", true),
      (3L, "omega psi chi omega psi chi", false),
      (4L, "alpha beta alpha beta alpha alpha", false), // target-LOOKING raw doc
      (5L, "omega psi omega psi omega psi", false)
    ).toDF("doc_id", "text", "is_en")
    val out = Text.dsirWeights(corpus, "doc_id",
        CrossHash.tokens(col("text")), col("is_en"))
      .orderBy(col("dsir_w").desc, col("id"))
      .as[(Long, Long, Double)].collect()
    assert(out.forall(_._2 == 6L), "dl must equal the token count")
    val rankOf = out.map(_._1).zipWithIndex.toMap
    // docs made of target-model tokens (1, 4) must outrank the pure
    // off-target docs (3, 5) — including doc 4, which is NOT labeled
    // target: DSIR scores by content, not by the label
    assert(rankOf(1L) < rankOf(3L) && rankOf(1L) < rankOf(5L))
    assert(rankOf(4L) < rankOf(3L) && rankOf(4L) < rankOf(5L))
  }

  test("inverted text index: served BM25 equals one-shot; bucket-pruned probe") {
    val corpus = Seq(
      (1L, "spark shuffles the join keys before the merge join runs"),
      (2L, "a broadcast join skips the shuffle when one side is small"),
      (3L, "stream processing windows the query over event time"),
      (4L, "nothing relevant here at all just filler words and noise"),
      (5L, "query planning picks the join strategy from table statistics")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val terms = Seq("spark", "query", "join", "stream")
    TextIndex.Family.drop(spark, "ti_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_spec", buckets = 4)

    val served = TextIndex.bm25AgainstIndex(spark, "ti_spec", terms, 10)
      .select("id", "dl", "bm25")
    val oneShot = Text.bm25(corpus, "doc_id", tk, terms).select("id", "dl", "bm25")
    assert(served.exceptAll(oneShot).isEmpty && oneShot.exceptAll(served).isEmpty,
      "served BM25 must equal the one-shot scoring")

    // batched probe: bag 0 (same terms) must reproduce the single probe
    // exactly; bag 1 must equal the one-shot scoring of its own terms
    val batch = TextIndex.bm25BatchAgainstIndex(spark, "ti_spec",
      Map(0L -> terms, 1L -> Seq("broadcast", "statistics")), kTop = 10)
      .localCheckpoint(true)
    val bag0 = batch.filter(col("query_id") === 0L).select("id", "dl", "bm25")
    assert(bag0.exceptAll(served).isEmpty && served.exceptAll(bag0).isEmpty,
      "batch bag 0 must equal the single probe")
    val bag1 = batch.filter(col("query_id") === 1L).select("id", "dl", "bm25")
    val one1 = Text.bm25(corpus, "doc_id", tk, Seq("broadcast", "statistics"))
      .select("id", "dl", "bm25")
    assert(bag1.exceptAll(one1).isEmpty && one1.exceptAll(bag1).isEmpty,
      "batch bag 1 must equal its own one-shot scoring")

    // the postings scan must be bucket-pruned by the term IN filter:
    // 4 query terms can hash to at most 4 of the 4+ buckets, and for this
    // fixed bag strictly fewer than all (asserted on the scan string)
    val planStr = served.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(planStr)
    assert(sel.isDefined, s"expected a bucket-pruned postings scan in:\n$planStr")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"probe must not scan every postings bucket: ${sel.get.matched}")
  }

  test("inverted text index: phrase search — positional intersection, duplicate terms, self-overlap") {
    val corpus = Seq(
      (1L, "big table hash join and another table hash here"),   // 2 hits
      (2L, "table hash"),                                        // 1 hit
      (3L, "hash table"),                                        // reversed: 0 hits
      (4L, "the the the end"),                                   // self-overlap corpus
      (5L, "table and hash far apart")                           // 0 hits
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    TextIndex.Family.drop(spark, "ti_ph_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_ph_spec", buckets = 2)

    val out = TextIndex.phraseSearchAgainstIndex(
        spark, "ti_ph_spec", Seq("table", "hash"), kTop = 10)
      .select("id", "n_hits").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 1L),
      s"phrase must match in order only, counting every occurrence: $out")

    // duplicate phrase terms: "the the" occurs at starts 0 and 1 in doc 4
    // (overlapping self-matches are legitimate distinct starts)
    val dup = TextIndex.phraseSearchAgainstIndex(
        spark, "ti_ph_spec", Seq("the", "the"), kTop = 10)
      .select("id", "n_hits").as[(Long, Long)].collect().toMap
    assert(dup == Map(4L -> 2L), s"got $dup")

    // proximity: ordered, bounded, distinct anchors — doc 5 ("table and
    // hash far apart": distance 2) matches NEAR/3 but not NEAR/1; one
    // anchor with one-or-more close Bs counts once
    val near3 = TextIndex.proximitySearchAgainstIndex(
        spark, "ti_ph_spec", "table", "hash", maxDist = 3, kTop = 10)
      .select("id", "n_hits").as[(Long, Long)].collect().toMap
    assert(near3 == Map(1L -> 2L, 2L -> 1L, 5L -> 1L), s"got $near3")
    val near1 = TextIndex.proximitySearchAgainstIndex(
        spark, "ti_ph_spec", "table", "hash", maxDist = 1, kTop = 10)
      .select("id", "n_hits").as[(Long, Long)].collect().toMap
    assert(near1 == Map(1L -> 2L, 2L -> 1L), s"got $near1")
    // order matters: doc 3 is "hash table" — no hits either way
    assert(!near3.contains(3L))
  }

  test("inverted text index: common-term elision drops hot terms from scoring; audit ranks df") {
    // 'noise' appears in 4/5 docs (df_frac 0.8); 'signal' in 1/5 (0.2)
    val corpus = Seq(
      (1L, "signal noise filler words here"),
      (2L, "noise filler other words"),
      (3L, "noise words filler again"),
      (4L, "noise and more filler"),
      (5L, "nothing shared at all")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    TextIndex.Family.drop(spark, "ti_el_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_el_spec", buckets = 2)

    // maxDfFrac = 0.5 elides 'noise' (0.8) and keeps 'signal' (0.2):
    // the elided probe must equal the one-shot scoring of 'signal' alone
    val elided = TextIndex.bm25AgainstIndex(spark, "ti_el_spec",
        Seq("signal", "noise"), kTop = 10, maxDfFrac = 0.5)
      .select("id", "dl", "bm25")
    val rareOnly = Text.bm25(corpus, "doc_id", tk, Seq("signal"))
      .select("id", "dl", "bm25")
    assert(elided.exceptAll(rareOnly).isEmpty && rareOnly.exceptAll(elided).isEmpty,
      "elision must remove the hot term's contribution entirely")
    // default (1.0) keeps exact BM25 over both terms
    val full = TextIndex.bm25AgainstIndex(spark, "ti_el_spec",
        Seq("signal", "noise"), kTop = 10)
      .select("id", "dl", "bm25")
    val oneShot = Text.bm25(corpus, "doc_id", tk, Seq("signal", "noise"))
      .select("id", "dl", "bm25")
    assert(full.exceptAll(oneShot).isEmpty && oneShot.exceptAll(full).isEmpty)

    // the BATCHED probe shares the same elision body (one scoring
    // implementation — the shapes cannot drift)
    val batchElided = TextIndex.bm25BatchAgainstIndex(spark, "ti_el_spec",
        Map(0L -> Seq("signal", "noise")), kTop = 10, maxDfFrac = 0.5)
      .select("id", "dl", "bm25")
    assert(batchElided.exceptAll(rareOnly).isEmpty
      && rareOnly.exceptAll(batchElided).isEmpty,
      "batched probe must apply the same elision as the single probe")

    // audit: hottest first with exact df/fraction ('filler' and 'noise'
    // tie at df=4; term asc breaks the tie)
    val top = TextIndex.postingsStats(spark, "ti_el_spec", topN = 2)
      .as[(String, Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq("filler", "noise"), top.mkString(", "))
    assert(top.forall(t => t._2 == 4L && t._3 == 0.8), top.mkString(", "))
  }

  test("inverted text index: tombstone delete is immediate + idempotent, compact preserves") {
    val corpus = Seq(
      (1L, "spark join spark join spark"),
      (2L, "spark query stream join words"),
      (3L, "query stream query stream query")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val terms = Seq("spark", "query", "join", "stream")
    TextIndex.Family.drop(spark, "ti_del_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_del_spec", buckets = 2)

    TextIndex.deleteFromTextIndex(spark, "ti_del_spec", Seq(2L).toDF("doc_id"))
    val after = TextIndex.bm25AgainstIndex(spark, "ti_del_spec", terms, 10)
      .select("id", "dl", "bm25").localCheckpoint(true)
    assert(after.filter(col("id") === 2L).isEmpty, "deleted doc must not surface")
    val expect = Text.bm25(corpus.filter(col("doc_id") =!= 2L), "doc_id", tk, terms)
      .select("id", "dl", "bm25")
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty,
      "post-delete scores must equal the doc-never-indexed scoring " +
        "(n_docs/avgdl/df all shift)")

    // idempotence: re-deleting must not double the stats compensation
    val statsBefore = spark.table("ti_del_spec_stats")
      .agg(sum("n_docs"), sum("tot_dl")).head()
    TextIndex.deleteFromTextIndex(spark, "ti_del_spec", Seq(2L).toDF("doc_id"))
    val statsAfter = spark.table("ti_del_spec_stats")
      .agg(sum("n_docs"), sum("tot_dl")).head()
    assert(statsBefore == statsAfter, "retried delete must be a no-op")

    // re-ingesting a tombstoned id must fail loudly (appended rows would
    // be invisible through the anti-join while their stats count)
    val resurrect = intercept[IllegalArgumentException] {
      TextIndex.ingestIntoTextIndex(
        corpus.filter(col("doc_id") === 2L), "doc_id", tk, "ti_del_spec")
    }
    assert(resurrect.getMessage.contains("tombstoned id 2"), resurrect.getMessage)

    // vacuum: fold the tombstones out; the probe must be unchanged.
    // Compaction now stages a fresh GENERATION and flips the pointer
    // (no reader-blind rename window), so member tables resolve through
    // activeTablePrefix afterwards.
    TextIndex.compactTextIndex(spark, "ti_del_spec")
    val atp = graft.sources.Sinks.activeTablePrefix(spark, "ti_del_spec")
    assert(atp == "ti_del_spec_g1", s"vacuum must advance the generation: $atp")
    assert(!spark.catalog.tableExists("ti_del_spec_postings"),
      "the pre-compaction generation must be retired")
    assert(spark.table(s"${atp}_tombstones").isEmpty)
    assert(spark.table(s"${atp}_postings")
      .filter(col("id") === 2L).isEmpty, "compaction must excise tombstoned postings")
    val afterCompact = TextIndex.bm25AgainstIndex(spark, "ti_del_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(afterCompact.exceptAll(after).isEmpty && after.exceptAll(afterCompact).isEmpty)

    // post-compact, the formerly deleted document may re-ingest — and
    // the index then equals a fresh build over the same corpus
    TextIndex.ingestIntoTextIndex(
      corpus.filter(col("doc_id") === 2L), "doc_id", tk, "ti_del_spec")
    val back = TextIndex.bm25AgainstIndex(spark, "ti_del_spec", terms, 10)
      .select("id", "dl", "bm25")
    val fresh2 = Text.bm25(corpus, "doc_id", tk, terms).select("id", "dl", "bm25")
    assert(back.exceptAll(fresh2).isEmpty && fresh2.exceptAll(back).isEmpty,
      "compact-then-reingest must equal a fresh full build")
  }

  test("inverted text index: fork is copy-on-write; rebuild re-stamps scoring params") {
    val corpus = Seq(
      (1L, "spark join words"), (2L, "query stream words words")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val terms = Seq("spark", "query")
    Seq("ti_fk_spec", "ti_fk_spec_fork").foreach(TextIndex.Family.drop(spark, _))
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_fk_spec", buckets = 2)
    val base = TextIndex.bm25AgainstIndex(spark, "ti_fk_spec", terms, 10)
      .select("id", "dl", "bm25").localCheckpoint(true)

    TextIndex.Family.fork(spark, "ti_fk_spec", "ti_fk_spec_fork")
    TextIndex.deleteFromTextIndex(spark, "ti_fk_spec_fork", Seq(1L).toDF("doc_id"))
    val baseAgain = TextIndex.bm25AgainstIndex(spark, "ti_fk_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(baseAgain.exceptAll(base).isEmpty && base.exceptAll(baseAgain).isEmpty,
      "mutating the fork must not touch the source index")

    // rebuild at different scoring params: pointer flips, scores change
    val gen = TextIndex.Family.rebuild(spark, "ti_fk_spec")(
      TextIndex.writeTextIndex(corpus, "doc_id", tk, _, buckets = 2, k1 = 2.0, b = 0.5))
    assert(gen == 1L)
    assert(!spark.catalog.tableExists("ti_fk_spec_postings"),
      "bare generation must be retired after cutover")
    val rebuilt = TextIndex.bm25AgainstIndex(spark, "ti_fk_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(rebuilt.exceptAll(base).count() > 0,
      "k1/b change must actually change the served scores")

    // the param-only restamp: copies the generation, stamps fresh k1/b,
    // flips the pointer — restoring the default params must reproduce
    // the original scores bit-for-bit without any re-tokenization
    val gen2 = TextIndex.restampTextIndex(spark, "ti_fk_spec", k1 = 1.2, b = 0.75)
    assert(gen2 == 2L)
    assert(!spark.catalog.tableExists("ti_fk_spec_g1_postings"),
      "restamp must retire the previous generation")
    val restamped = TextIndex.bm25AgainstIndex(spark, "ti_fk_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(restamped.exceptAll(base).isEmpty && base.exceptAll(restamped).isEmpty,
      "restamp back to the original params must reproduce the original scores")
  }

  test("inverted text index: re-ingesting a LIVE id fails loudly (upsert-via-delete only)") {
    val corpus = Seq(
      (1L, "spark join words"), (2L, "query stream words")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    TextIndex.Family.drop(spark, "ti_lv_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_lv_spec", buckets = 2)
    // an overlapping batch under a NEW batchId redelivers doc 2 — the
    // ledger can't catch it; the live-id guard must (a silent accept
    // doubles doclens/stats and corrupts every matching score forever)
    val collide = intercept[IllegalArgumentException] {
      TextIndex.ingestIntoTextIndex(
        corpus.filter(col("doc_id") === 2L), "doc_id", tk, "ti_lv_spec",
        batchId = 7L)
    }
    assert(collide.getMessage.contains("already live")
      && collide.getMessage.contains("2"), collide.getMessage)
    // the rejected ingest must leave NO residue (guard runs before any
    // append): the index still equals the clean one-shot scoring
    val probe = TextIndex.bm25AgainstIndex(spark, "ti_lv_spec",
        Seq("spark", "query", "words"), 10)
      .select("id", "dl", "bm25")
    val oneShot = Text.bm25(corpus, "doc_id", tk, Seq("spark", "query", "words"))
      .select("id", "dl", "bm25")
    assert(probe.exceptAll(oneShot).isEmpty && oneShot.exceptAll(probe).isEmpty)
  }

  test("inverted text index: stats repair closes the delete crash window") {
    val corpus = Seq(
      (1L, "spark join spark words"),
      (2L, "query stream words here"),
      (3L, "query spark stream words")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val terms = Seq("spark", "query", "stream")
    TextIndex.Family.drop(spark, "ti_rp_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_rp_spec", buckets = 2)
    // stage deleteFromTextIndex's crash window: the tombstone append
    // landed, the process died before the stats compensation — and the
    // retried delete's idempotence anti-join skips the id, so nothing
    // ever closes the gap on its own
    Seq(2L).toDF("id").write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable("ti_rp_spec_tombstones")
    // rows are already correct (doc 2 is invisible) but the scores use
    // stale n_docs/avgdl — they must NOT yet equal the truth scoring
    val truth = Text.bm25(corpus.filter(col("doc_id") =!= 2L), "doc_id", tk, terms)
      .select("id", "dl", "bm25").localCheckpoint(true)
    val stale = TextIndex.bm25AgainstIndex(spark, "ti_rp_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(stale.filter(col("id") === 2L).isEmpty, "tombstone hides the doc")
    assert(stale.exceptAll(truth).count() > 0,
      "fixture must actually exhibit the stats staleness")
    // the repair verb detects the drift and replaces the partials
    val audit = TextIndex.repairTextIndexStats(spark, "ti_rp_spec").head()
    assert(audit.getAs[Boolean]("repaired"))
    assert(audit.getAs[Long]("n_docs_stored") == 3L
      && audit.getAs[Long]("n_docs_truth") == 2L, audit.toString)
    val repaired = TextIndex.bm25AgainstIndex(spark, "ti_rp_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(repaired.exceptAll(truth).isEmpty && truth.exceptAll(repaired).isEmpty,
      "post-repair scores must equal the doc-never-indexed scoring")
    // no drift ⇒ the verb is a read-only detector
    val clean = TextIndex.repairTextIndexStats(spark, "ti_rp_spec").head()
    assert(!clean.getAs[Boolean]("repaired"), clean.toString)
  }

  test("inverted text index: MaxScore pruning is lossless and engages on a skewed bag") {
    // 'noise' floods 9/10 documents (tiny idf ⇒ tiny upper bound);
    // 'signal'/'gold' are rare and high-impact — the RAG bag shape the
    // pruning exists for
    val corpus = Seq(
      (1L, "gold signal noise words here"),
      (2L, "gold signal noise more here"),
      (3L, "noise words filler here"), (4L, "noise filler words again"),
      (5L, "noise more filler words"), (6L, "noise words filler here"),
      (7L, "noise filler more words"), (8L, "noise words here filler"),
      (9L, "noise filler words more"), (10L, "quiet empty page")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val bag = Seq("gold", "signal", "noise")
    TextIndex.Family.drop(spark, "ti_ms_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_ms_spec", buckets = 2)

    // the bounds table rides the postings' bucketing: the probe's bounds
    // aggregation (group-by on the bucket column, term-restricted) is
    // served by a bucket-PRUNED, shuffle-free bucketed scan — the exact
    // plan shape bm25MaxScoreWithAudit's first step runs (a single term
    // here: a bag covering every bucket rightly skips the marker)
    val boundsPlan = spark.table("ti_ms_spec_maxscores")
      .filter(col("term").isInCollection(Seq("gold")))
      .groupBy("term")
      .agg(max("max_tf").as("max_tf"), sum("df").as("df"))
      .queryExecution.executedPlan.toString
    val msSel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(boundsPlan)
    assert(msSel.isDefined && msSel.get.group(1).toInt < msSel.get.group(2).toInt,
      s"bounds scan must be bucket-pruned: ${msSel.map(_.matched)}")

    val (prunedProbe, audit) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 2, engageMinPostings = 0L)
    val exhaustive = TextIndex.bm25AgainstIndex(spark, "ti_ms_spec", bag, kTop = 2)
    assert(prunedProbe.exceptAll(exhaustive).isEmpty
      && exhaustive.exceptAll(prunedProbe).isEmpty,
      "MaxScore top-k must equal the exhaustive top-k bit-for-bit")
    assert(audit.theta.isDefined && audit.nPruned > 0,
      s"pruning must ENGAGE on this fixture: $audit")

    // the ADAPTIVE gate: this fixture's Σ stored df is far below the
    // default break-even, so the default-parameter probe must DECLINE
    // pruning (nPruned = 0, θ never computed) and still return the same
    // rows — equality on BOTH sides of the threshold
    val (gated, gatedAudit) =
      TextIndex.bm25MaxScoreWithAudit(spark, "ti_ms_spec", bag, kTop = 2)
    assert(gated.exceptAll(exhaustive).isEmpty
      && exhaustive.exceptAll(gated).isEmpty,
      "below the engagement floor the probe must equal exhaustive")
    assert(gatedAudit.nPruned == 0 && gatedAudit.theta.isEmpty,
      s"the adaptive gate must decline on a tiny probe: $gatedAudit")

    // BATCHED MaxScore: per-bag floors, shared passes — every bag's top-k
    // must equal the exhaustive batched scoring (bag 1's organic floor
    // may or may not prune; bag 2's term is absent and yields nothing —
    // all three shapes stay lossless in one request)
    val bags = Map(0L -> bag, 1L -> Seq("words", "filler"),
      2L -> Seq("zzznope"))
    val (btop, baudits) = TextIndex.bm25MaxScoreBatchWithAudit(
      spark, "ti_ms_spec", bags, kTop = 2, engageMinPostings = 0L)
    val bexh = TextIndex.bm25BatchAgainstIndex(spark, "ti_ms_spec", bags, kTop = 2)
    assert(btop.exceptAll(bexh).isEmpty && bexh.exceptAll(btop).isEmpty,
      "batched MaxScore must equal the exhaustive batched scoring")
    assert(baudits(0L).theta.isDefined && baudits(0L).nPruned > 0,
      s"the skewed bag must engage inside the batch: ${baudits(0L)}")
    assert(baudits(2L).essentialTerms.isEmpty, baudits(2L).toString)
    // the batch-level adaptive gate declines the same way
    val (bgated, bgatedAudits) =
      TextIndex.bm25MaxScoreBatchWithAudit(spark, "ti_ms_spec", bags, kTop = 2)
    assert(bgated.exceptAll(bexh).isEmpty && bexh.exceptAll(bgated).isEmpty)
    assert(bgatedAudits.values.forall(_.nPruned == 0))

    // FILTERED MaxScore: candidate filter composed with the pruning —
    // must equal the filtered exhaustive probe bit-for-bit (Lucene
    // semantics: the filter restricts candidates, never statistics)
    // kTop = 1: the allowlist thins the rare seed's candidates to one
    // doc, so a deeper k would (rightly) establish no floor
    val allowSet = Seq(1L, 3L, 5L, 7L, 9L).toDF("id")
    val (fprobe, faudit) = TextIndex.bm25MaxScoreFilteredAgainstIndex(
      spark, "ti_ms_spec", bag, allowSet, kTop = 1, engageMinPostings = 0L)
    val fexh = TextIndex.bm25FilteredAgainstIndex(
      spark, "ti_ms_spec", bag, allowSet, kTop = 1)
    assert(fprobe.exceptAll(fexh).isEmpty && fexh.exceptAll(fprobe).isEmpty,
      "filtered MaxScore must equal the filtered exhaustive probe")
    assert(faudit.theta.isDefined, faudit.toString)

    // a uniform bag with a deep k establishes no useful floor — pruning
    // declines and the probe still equals exhaustive (the safe fallback)
    val (deep, deepAudit) = TextIndex.bm25MaxScoreWithAudit(spark,
      "ti_ms_spec", Seq("words", "filler"), kTop = 10, engageMinPostings = 0L)
    val deepExhaustive = TextIndex.bm25AgainstIndex(spark, "ti_ms_spec",
      Seq("words", "filler"), kTop = 10)
    assert(deep.exceptAll(deepExhaustive).isEmpty
      && deepExhaustive.exceptAll(deep).isEmpty)
    assert(deepAudit.nPruned == 0, deepAudit.toString)

    // deleting docs that DON'T contain the bag's terms must not loosen
    // the bag's bounds: per-term live df is computed from the bag's own
    // postings, so pruning stays ENGAGED (the r11 global tombstone-count
    // subtraction disengaged it here)
    TextIndex.deleteFromTextIndex(spark, "ti_ms_spec", Seq(10L).toDF("doc_id"))
    val (afterUnrel, unrelAudit) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 2, engageMinPostings = 0L)
    val exhaustiveUnrel =
      TextIndex.bm25AgainstIndex(spark, "ti_ms_spec", bag, kTop = 2)
    assert(afterUnrel.exceptAll(exhaustiveUnrel).isEmpty
      && exhaustiveUnrel.exceptAll(afterUnrel).isEmpty)
    assert(unrelAudit.theta.isDefined && unrelAudit.nPruned > 0,
      s"an unrelated delete must keep pruning engaged: $unrelAudit")

    // deleting a doc that DOES match thins the rare terms' live df —
    // pruning stays lossless with no bound maintenance (here the seed
    // set thins below kTop, exercising the safe fallback)
    TextIndex.deleteFromTextIndex(spark, "ti_ms_spec", Seq(2L).toDF("doc_id"))
    val (afterDel, _) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 2, engageMinPostings = 0L)
    val exhaustiveDel = TextIndex.bm25AgainstIndex(spark, "ti_ms_spec", bag, kTop = 2)
    assert(afterDel.exceptAll(exhaustiveDel).isEmpty
      && exhaustiveDel.exceptAll(afterDel).isEmpty,
      "MaxScore must stay lossless under tombstoned deletes")
    // compaction re-tightens the bounds exactly; pruning re-engages at
    // the k the surviving rare docs can still floor
    TextIndex.compactTextIndex(spark, "ti_ms_spec")
    val (afterCompact, compactAudit) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 1, engageMinPostings = 0L)
    val exhaustiveCompact =
      TextIndex.bm25AgainstIndex(spark, "ti_ms_spec", bag, kTop = 1)
    assert(afterCompact.exceptAll(exhaustiveCompact).isEmpty
      && exhaustiveCompact.exceptAll(afterCompact).isEmpty)
    assert(compactAudit.theta.isDefined && compactAudit.nPruned > 0,
      compactAudit.toString)

    // the ORPHAN guard (r11 ADVICE medium): a term with live postings but
    // no `_maxscores` row — the pre-reorder ingest-crash residue — must
    // stay unconditionally essential, so documents matching ONLY that
    // term still reach the scorer. Stage the corruption by rewriting the
    // bounds table without the rare terms' rows, then repair it.
    val tpNow = graft.sources.Sinks.activeTablePrefix(spark, "ti_ms_spec")
    val keptBounds = spark.table(s"${tpNow}_maxscores")
      .filter(!col("term").isInCollection(Seq("gold", "signal")))
      .localCheckpoint(true)
    keptBounds.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(2, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${tpNow}_maxscores")
    val (orphaned, orphanAudit) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 1, engageMinPostings = 0L)
    val exhaustiveOrphan =
      TextIndex.bm25AgainstIndex(spark, "ti_ms_spec", bag, kTop = 1)
    assert(orphaned.exceptAll(exhaustiveOrphan).isEmpty
      && exhaustiveOrphan.exceptAll(orphaned).isEmpty,
      "a missing bounds row must never drop a live term's documents")
    assert(Seq("gold", "signal").forall(orphanAudit.essentialTerms.contains),
      s"orphan terms must be unconditionally essential: $orphanAudit")
    // the repair verb restores the missing bounds rows (append-only — no
    // crash window) and pruning re-engages on the repaired index
    val bAudit = TextIndex.repairTextIndexStats(spark, "ti_ms_spec").head()
    assert(bAudit.getAs[Long]("bounds_missing") == 2L
      && bAudit.getAs[Boolean]("repaired"), bAudit.toString)
    val (repairedProbe, repairedAudit) = TextIndex.bm25MaxScoreWithAudit(
      spark, "ti_ms_spec", bag, kTop = 1, engageMinPostings = 0L)
    assert(repairedProbe.exceptAll(exhaustiveOrphan).isEmpty
      && exhaustiveOrphan.exceptAll(repairedProbe).isEmpty)
    assert(repairedAudit.nPruned > 0 && repairedAudit.theta.isDefined,
      s"pruning must re-engage after the bounds repair: $repairedAudit")
  }

  test("inverted text index: filtered probe threads the common-term elision") {
    // same fixture shape as the elision spec, plus an allowlist — the
    // filtered probe restricts CANDIDATES while the elision restricts
    // TERMS; both must compose (an unvetted bag behind a filter clause
    // still needs the cost defense)
    val corpus = Seq(
      (1L, "signal noise filler words here"),
      (2L, "noise filler other words"),
      (3L, "noise words filler again"),
      (4L, "noise and more filler"),
      (5L, "nothing shared at all")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    TextIndex.Family.drop(spark, "ti_fe_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_fe_spec", buckets = 2)
    val allowed = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = TextIndex.bm25FilteredAgainstIndex(spark, "ti_fe_spec",
        Seq("signal", "noise"), allowed, kTop = 10, maxDfFrac = 0.5)
      .select("id", "dl", "bm25")
    // expected: 'noise' (df 0.8) elided, 'signal' kept, candidates 1–3 —
    // i.e. the one-shot scoring of 'signal' restricted to the allowlist
    val expect = Text.bm25(corpus, "doc_id", tk, Seq("signal"))
      .join(allowed.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
      .select("id", "dl", "bm25")
    assert(out.exceptAll(expect).isEmpty && expect.exceptAll(out).isEmpty,
      "filtered probe must apply the same elision as the single probe")
  }

  test("persisted blocklist: set-semantics folds, blue/green rebuild + compact") {
    import graft.sources.Sinks
    val prefix = "blk_spec"
    Text.Blocklist.drop(spark, prefix)
    Text.writeBlocklist(spark, prefix, Seq("aa", "bb", "cc", "aa")) // dup collapses
    assert(Text.resolveBlocklist(spark, prefix) == Seq("aa", "bb", "cc"))
    Text.ingestIntoBlocklist(spark, prefix, Seq("bb", "dd")) // live add = no-op
    Text.deleteFromBlocklist(spark, prefix, Seq("aa", "zz")) // absent del = no-op
    assert(Text.resolveBlocklist(spark, prefix) == Seq("bb", "cc", "dd"))
    // double-delete then re-add: SET semantics, never reference counts
    Text.deleteFromBlocklist(spark, prefix, Seq("bb"))
    Text.deleteFromBlocklist(spark, prefix, Seq("bb"))
    Text.ingestIntoBlocklist(spark, prefix, Seq("bb"))
    assert(Text.resolveBlocklist(spark, prefix) == Seq("bb", "cc", "dd"))
    // a second writer's +1 for a live pattern (the single-writer violation)
    // folds it to 2
    Seq("cc" -> 1L).toDF("pattern", "delta")
      .write.mode("append").format("parquet").saveAsTable(s"${prefix}_patterns")
    assert(spark.table(s"${prefix}_patterns").filter(col("pattern") === "cc")
      .agg(sum("delta")).head().getLong(0) == 2L)
    // compact: generation advances, resolved set unchanged, fold input
    // shrinks to one +1 row per live pattern
    assert(Text.Blocklist.compact(spark, prefix)._1 == 1L)
    assert(Text.resolveBlocklist(spark, prefix) == Seq("bb", "cc", "dd"))
    assert(spark.table(s"${prefix}_g1_patterns").as[(String, Long)].collect().sorted.toSeq
      == Seq("bb" -> 1L, "cc" -> 1L, "dd" -> 1L))
    // so after compaction one take-down removes the doubled pattern
    Text.deleteFromBlocklist(spark, prefix, Seq("cc"))
    assert(Text.resolveBlocklist(spark, prefix) == Seq("bb", "dd"))
    // rebuild replaces wholesale behind the pointer
    assert(Text.Blocklist.rebuild(spark, prefix)(Text.writeBlocklist(spark, _, Seq("xx"))) == 2L)
    assert(Text.resolveBlocklist(spark, prefix) == Seq("xx"))
    // automaton-illegal inputs sanitized at the write boundary
    Text.ingestIntoBlocklist(spark, prefix, Seq("", "y😀y", "yy"))
    assert(Text.resolveBlocklist(spark, prefix) == Seq("xx", "yy"))
  }

  test("globalRank equals the single-partition window rank, ties broken by id") {
    import spark.implicits._
    // heavy duplication so value-ties straddle would-be bucket boundaries,
    // and a skewed tail so buckets are uneven
    val rows = (1 to 500).map(i => ((i % 7).toDouble, i.toLong)) ++
      (501 to 600).map(i => (42.0, i.toLong))
    val df = rows.toDF("v", "id").repartition(8)
    for (b <- Seq(1, 4, 32)) {
      val got = Relational.globalRank(df, "v", Seq("id"), "rnk", buckets = b)
        .select("v", "id", "rnk").as[(Double, Long, Long)].collect().toSet
      val want = rows.sortBy { case (v, id) => (v, id) }.zipWithIndex
        .map { case ((v, id), i) => (v, id, i + 1L) }.toSet
      assert(got == want, s"buckets=$b: exact global rank mismatch")
    }
  }

  test("globalRank splits a degenerate tie (90% one value) across bounded sub-buckets") {
    import spark.implicits._
    // one value holds 90% of the corpus — the r14 verdict's scale caveat:
    // unsplit, that tie mass funnels through ONE per-bucket window task
    val rows = (1 to 1800).map(i => (5.0, i.toLong)) ++
      (1801 to 2000).map(i => ((i % 10).toDouble, i.toLong))
    val df = rows.toDF("v", "id").repartition(8)
    val got = Relational
      .globalRankUnits(df, "v", Seq("id"), "rnk", buckets = 32)
      .localCheckpoint(true)
    val want = rows.sortBy { case (v, id) => (v, id) }.zipWithIndex
      .map { case ((v, id), i) => (v, id, i + 1L) }.toSet
    assert(got.select("v", "id", "rnk").as[(Double, Long, Long)]
      .collect().toSet == want, "exact global rank mismatch under 90% ties")
    // the per-task row bound: no (value bucket, sub-bucket) unit may hold
    // the tie mass — ~n/buckets-sized units, far under half the corpus
    val maxUnit = got
      .groupBy("__gr_b", "__gr_m", "__gr_h", "__gr_s")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .agg(org.apache.spark.sql.functions.max("c")).head().getLong(0)
    assert(maxUnit <= 400,
      s"degenerate tie mass must split across sub-buckets; max unit $maxUnit")
  }

  test("globalRank with heavy ties and a non-numeric tie column throws the loud contract error") {
    import spark.implicits._
    val rows = (1 to 1800).map(i => (5.0, s"id$i")) ++
      (1801 to 2000).map(i => ((i % 10).toDouble, s"id$i"))
    val df = rows.toDF("v", "sid").repartition(8)
    val e = intercept[IllegalArgumentException] {
      Relational.globalRank(df, "v", Seq("sid"), "rnk", buckets = 32).count()
    }
    assert(e.getMessage.contains("cannot be sub-bucketed"),
      s"expected the heavy-tie contract message, got: ${e.getMessage}")
  }
}

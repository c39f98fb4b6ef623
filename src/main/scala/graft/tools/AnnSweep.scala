package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Measurement harness for the IVF / IVF-PQ recall-latency frontier:
  * sweeps nprobe (multi-probe) × assign (SOAR-style multi-assignment)
  * against brute-force ground truth per SF — the numbers behind the
  * recall floors in SimilarityQueries and the curve recorded in
  * BASELINE.md. Not part of the library surface.
  */
object AnnSweep {

  /** The nlist-scaling measurement behind the "production grows nlist
    * ~√N, making probes sub-linear in corpus size" claim (asserted in
    * the ScaleBench x100 notes, measured here): at the 500k-vector
    * x100 corpus, a FIXED nprobe with growing nlist shrinks the scanned
    * fraction 2·nprobe/nlist while finer cells + dual assignment hold
    * recall — build cost grows ~nlist (one broadcast-assignment pass per
    * k-means iter), paid once. Run AFTER ScaleBench x100 has
    * materialized /tmp/graft_scale100.
    */
  private def runNlist(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.operators.Similarity
    val dir = s"${sys.props("java.io.tmpdir")}/graft_scale100"
    require(new java.io.File(s"$dir/embeddings.parquet").exists(),
      s"run ScaleBench x100 first to materialize $dir")
    val e = graft.sources.Tables.load(spark, dir, "embeddings").localCheckpoint(true)
    val q = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .filter(col("vec_id") % 50 === 0).localCheckpoint(true)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
      .localCheckpoint(true)
    val total = brute.count()
    val sweeps = Seq(
      16 -> Seq(6),
      64 -> Seq(6, 10, 14, 18),
      160 -> Seq(6, 15, 25, 35, 45),
      // the production decades: nlist=256 and nlist≈√N (√500k ≈ 707) —
      // the configs the "nlist grows ~√N" claim actually asserts
      256 -> Seq(10, 20, 35, 55, 80),
      707 -> Seq(25, 50, 90, 140, 200))
    for ((nlist, nprobes) <- sweeps) {
      val prefix = s"annnl_$nlist"
      Similarity.Ivf.drop(spark, prefix)
      val t0 = System.nanoTime()
      Similarity.writeIvfIndex(e, "vec_id", "embedding", prefix,
        buckets = 8, nlist = nlist, iters = 3, assign = 2)
      val tBuild = (System.nanoTime() - t0) / 1e9
      for (nprobe <- nprobes) {
        val t1 = System.nanoTime()
        val ivf = Similarity.ivfTopKAgainstIndex(q, prefix, "vec_id", "embedding",
          k = 3, nprobe = nprobe)
        val tProbe = (System.nanoTime() - t1) / 1e9
        val hits = brute.join(ivf.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        println(f"x100 nlist=$nlist%3d nprobe=$nprobe%2d assign=2  " +
          f"recall=${hits.toDouble / total}%.3f build=$tBuild%6.1f s probe=$tProbe%6.2f s " +
          f"frac=${2.0 * nprobe / nlist}%.3f")
      }
    }
  }

  /** The geometric-blocking feasibility sweep behind
    * [[graft.operators.Dedup.embeddingPairs]]' design note: for each
    * (nlist, assign) IVF multi-assign config, how many REQUIRED pairs
    * (the oracle pair set) share no cell (missed — must be 0 for a
    * lossless blocking) and what fraction of all-pairs cost the blocked
    * join pays (candfrac — must be ≪ 1 for the blocking to be worth
    * anything). Run at τ=0.38 (the d_embedding_cos regime — within-label
    * pairs) and τ=0.5 (the d_embedding_cos_geo regime — all pairs). The
    * dated output table lives in BASELINE.md; its conclusion: at τ=0.38
    * every zero-miss config costs ≥ brute force, so the exact chunked
    * join is the correct plan, while τ=0.5 has a lossless sub-quadratic
    * config (nlist=16, assign=3) — the one d_embedding_cos_geo serves.
    */
  private def runEmbBlock(spark: SparkSession): Unit = {
    import graft.operators.Dedup
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      val e = Tables.load(spark, d, "embeddings").localCheckpoint(true)
      val n = e.count()
      val allPairs = n * (n - 1) / 2.0
      val low = Dedup.embeddingPairs(e, "vec_id", "embedding", "label",
        threshold = 0.38, chunkRows = 256).select("a", "b").localCheckpoint(true)
      val hi = Dedup.embeddingPairs(e.withColumn("one", lit(1)),
        "vec_id", "embedding", "one", threshold = 0.5, chunkRows = 256)
        .select("a", "b").localCheckpoint(true)
      for (nlist <- Seq(8, 16, 32)) {
        val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", nlist, iters = 3)
        for (assign <- Seq(2, 3, 4, 6)) {
          val v = e.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("emb"))
          val asn = Similarity.assignToCentroidsMulti(v, "id", "emb", cents, assign)
            .localCheckpoint(true)
          val cand = asn.groupBy("cid").agg(count(lit(1)).as("w"))
            .agg(sum(col("w") * (col("w") - 1) / 2).cast("double").as("c"))
            .head().getDouble(0)
          def missed(req: org.apache.spark.sql.DataFrame): Long = {
            val covered = req
              .join(asn.withColumnRenamed("id", "a").withColumnRenamed("cid", "ca"), "a")
              .join(asn.withColumnRenamed("id", "b").withColumnRenamed("cid", "cb"), "b")
              .filter(col("ca") === col("cb"))
              .select("a", "b").distinct().count()
            req.count() - covered
          }
          println(f"EMBBLOCK $sf nlist=$nlist%2d assign=$assign: " +
            f"t038_missed=${missed(low)}/${low.count()} " +
            f"t050_missed=${missed(hi)}/${hi.count()} candfrac=${cand / allPairs}%.2f")
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate(warehouse = GraftSession.tmpWarehouse("annsweep"))
    if (args.headOption.contains("nlist")) {
      runNlist(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("embblock")) {
      runEmbBlock(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("sqrtn")) {
      // recall at nlist = ⌈√N⌉ on the test corpora — the numbers behind
      // sim_knn_ivf_sqrtn's floor (the >16-nlist serving certificate)
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val d = s"/root/testdata/$sf"
        val e = Tables.load(spark, d, "embeddings").localCheckpoint(true)
        val n = e.count()
        val nlist = math.ceil(math.sqrt(n.toDouble)).toInt
        val q = e.filter(col("vec_id") % 50 === 0)
        val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
          .localCheckpoint(true)
        val total = brute.count()
        val p = "annsweep_sqrtn"
        Similarity.Ivf.drop(spark, p)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", p,
          buckets = 8, nlist = nlist, iters = 3, assign = 2)
        for (nprobe <- Seq(math.max(2, nlist / 8), nlist / 4, (nlist * 3) / 8,
            nlist / 2, (nlist * 5) / 8).distinct) {
          val ivf = Similarity.ivfTopKAgainstIndex(q, p, "vec_id", "embedding",
            k = 3, nprobe = nprobe)
          val hits = brute.join(ivf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"SQRTN sf=$sf n=$n nlist=$nlist nprobe=$nprobe%3d " +
            f"recall=${hits.toDouble / total}%.3f frac=${2.0 * nprobe / nlist}%.3f")
        }
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("filtered")) {
      // recall of PRE-filtered search vs brute force over the filtered
      // corpus, per SF at the serving config — the numbers behind
      // SimilarityQueries.IvfFilteredRecallFloor
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val d = s"/root/testdata/$sf"
        val e = Tables.load(spark, d, "embeddings").localCheckpoint(true)
        val q = e.filter(col("vec_id") % 50 === 0)
        val brute = Similarity.bruteForceTopK(
            q, e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", k = 3)
          .localCheckpoint(true)
        val total = brute.count()
        val p = "annsweep_filt"
        Similarity.Ivf.drop(spark, p)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", p,
          buckets = 8, nlist = 16, iters = 3, assign = 2)
        for (nprobe <- Seq(6, 8, 10)) {
          val ivf = Similarity.ivfTopKAgainstIndex(q, p, "vec_id", "embedding",
            k = 3, nprobe = nprobe,
            candidateFilter = col("neighbor_id") % 3 === 0)
          val hits = brute.join(ivf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"FILTERED sf=$sf nprobe=$nprobe%2d " +
            f"recall=${hits.toDouble / total}%.3f ($hits/$total)")
        }
      }
      spark.stop()
      return
    }
    val sfs = if (args.nonEmpty) args.toSeq else Seq("sf0.01", "sf0.1")
    for (sf <- sfs) {
      val d = s"/root/testdata/$sf"
      val e = Tables.load(spark, d, "embeddings").localCheckpoint(true)
      val q = e.filter(col("vec_id") % 50 === 0)
      val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
        .localCheckpoint(true)
      val total = brute.count()
      for (assign <- Seq(1, 2)) {
        val ivfP = s"annsweep_ivf_a$assign"
        Similarity.Ivf.drop(spark, ivfP)
        Similarity.writeIvfIndex(e, "vec_id", "embedding", ivfP,
          buckets = 8, nlist = 16, iters = 3, assign = assign)
        val pqP = s"annsweep_ivfpq_a$assign"
        Similarity.IvfPq.drop(spark, pqP)
        Similarity.writeIvfPqIndex(e, "vec_id", "embedding", pqP,
          buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
          assign = assign)
        for (nprobe <- Seq(2, 4, 6, 8, 12)) {
          val t0 = System.nanoTime()
          val ivf = Similarity.ivfTopKAgainstIndex(q, ivfP, "vec_id", "embedding",
            k = 3, nprobe = nprobe)
          val tIvf = (System.nanoTime() - t0) / 1e9
          val hIvf = brute.join(ivf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          val t1 = System.nanoTime()
          val pq = Similarity.ivfPqTopKAgainstIndex(q, pqP, "vec_id", "embedding",
            k = 3, nprobe = nprobe, shortlist = 128)
          val tPq = (System.nanoTime() - t1) / 1e9
          val hPq = brute.join(pq.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"$sf assign=$assign nprobe=$nprobe%2d  " +
            f"IVF recall=${hIvf.toDouble / total}%.3f t=$tIvf%5.2f s   " +
            f"IVF-PQ recall=${hPq.toDouble / total}%.3f t=$tPq%5.2f s")
        }
      }
    }
    spark.stop()
  }
}

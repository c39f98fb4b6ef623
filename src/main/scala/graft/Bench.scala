package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate(warehouse = GraftSession.tmpWarehouse("bench"))
    // untimed warmup: JVM/codegen/parquet-footer costs land here, not on
    // whichever query happens to run first. Every query runs once at the
    // smallest available scale factor so each one's generated-code paths
    // (md5/array kernels, ObjectHashAggregate, band joins) are JIT-compiled
    // before timing — the timed numbers then reflect steady-state
    // throughput, which is what extrapolates to a long-running cluster job.
    // optional comma-separated name filter for focused local iteration; the
    // driver never sets it, so driver runs always time the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // alphabetical order, NOT Map iteration order: adding a query must not
    // reshuffle which consumer pays a shared memoized frame's build cost
    // (d_clusters vs d_dedup_keep etc.), or per-query times stop being
    // comparable across rounds as the suite grows.
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      val warmDir = {
        val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
        if (sibling.isDirectory) sibling.getPath else sfDir
      }
      // warm only the queries being timed — a focused SPARK_GRAFT_ONLY run
      // should not pay the whole suite's warmup
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
    // Median-of-3: three full suite passes, each in a FRESH child session.
    // A child session (spark.newSession()) shares the SparkContext and JIT
    // state but isolates the per-session SessionMemo cache, so every pass
    // rebuilds shared memoized frames exactly like the baseline's
    // fresh-JVM passes do — reps stay comparable to BASELINE.md instead of
    // re-measuring a warm cache. Suite order within each pass is the same
    // alphabetical order as always, so shared-frame build costs land on
    // the same first consumer every pass. The median defends the round
    // numbers against the box-noise episodes that forced manual
    // re-adjudication in rounds 1/3/5.
    val passes = 3
    // first exception per entry, written to BENCH_DETAIL.json so a -1
    // explains itself
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => errors.getOrElseUpdate(name, e); -1.0 }
    }
    val perPass: Seq[Seq[(String, Double)]] = (1 to passes).map { _ =>
      val sess = spark.newSession()
      // Dedicated timed entry for the suite-shared memoized frames
      // (SharedFrames): built FIRST each pass so their cost never lands on
      // whichever consumer query happens to run (or re-run, after a soft
      // ref / block eviction) first — the round-8 rep-variance finding.
      // Skipped under a name filter: a focused run times only its queries.
      // Per-frame attribution (r14 verdict #2): each shared build is
      // timed as its own `shared_frame_builds.<name>` entry — the
      // absorber is 12–18% of suite wall time, and an unattributable
      // 1.5× flag on the aggregate hides any single build's 3×
      // regression. The aggregate entry stays (the sum) for
      // round-over-round comparability; both tiers are pinned in the
      // BASELINE.md budget table. Order is the registry's
      // dependency-respecting order, so a frame's time is its OWN cost,
      // not a dependency's.
      val shared: Seq[(String, Double)] =
        if (only.isDefined) Nil
        else {
          val perFrame = graft.queries.SharedFrames.builders.map {
            case (n, b) =>
              val entry = s"shared_frame_builds.$n"
              entry -> timed(entry)(b(sess, sfDir).count())
          }
          val total = perFrame.find(_._2 < 0) match {
            case Some((failed, _)) =>
              errors.getOrElseUpdate("shared_frame_builds", errors(failed)); -1.0
            case None => perFrame.map(_._2).sum
          }
          ("shared_frame_builds" -> total) +: perFrame
        }
      shared ++ selected.map { case (name, fn) =>
        name -> timed(name)(fn(sess, sfDir).count())
      }
    }
    val byName: Map[String, Seq[Double]] =
      perPass.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    // any throwing rep poisons the query to -1 (a median would hide a
    // flaky failure behind two passing reps)
    // pass order (pseudo-entry first, then alphabetical queries) — taken
    // from the first pass so shared_frame_builds is graded like any query
    val results = perPass.head.map(_._1).map { name =>
      val reps = byName(name)
      name -> (if (reps.contains(-1.0)) -1.0 else reps.sorted.apply(passes / 2))
    }
    // millisecond precision keeps the one-line JSON compact — full
    // nanosecond doubles once pushed the line past what the harness
    // captured, truncating the per-query tail. Locale.ROOT: a
    // comma-decimal default locale would emit invalid JSON.
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonLine(entries: Seq[(String, Double)], total: Double): String = {
      val qs = entries.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    }
    // the dotted `shared_frame_builds.<name>` entries are the aggregate's
    // own components — counting both in the total would double-count the
    // absorber (~12% of suite time) and break round-over-round total
    // comparability, so the total sums the aggregate tier only
    val total =
      results.collect { case (n, v) if !n.contains(".") => v }.sum
    val detail = jsonLine(results, total)
    // durable per-rep detail: median is what the driver grades, but the
    // raw reps are what adjudicate "noise vs regression" without re-runs
    val repsJson = perPass.head.map(_._1).map { name =>
      s"\"" + name + "\":[" + byName(name).map(f3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errorsJson = errors.map { case (name, e) =>
      import Verify.jsonString
      jsonString(name) + ":{\"class\":" + jsonString(e.getClass.getName) +
        ",\"message\":" + jsonString(String.valueOf(e.getMessage)) + "}"
    }.mkString("{", ",", "}")
    // The harness keeps only a bounded tail of stdout; once the suite grew
    // past ~90 queries a full per-query detail line overflowed it and was
    // front-truncated, losing the total (BENCH_r04, and again r10: the
    // complete summary line sat INSIDE the tail but behind a truncated
    // detail fragment, and the driver recorded "parsed": null anyway).
    // So stdout now carries EXACTLY ONE JSON line — the compact
    // spec-shaped summary (total + as many of the slowest queries as fit
    // well inside the tail window) — and the full per-query detail with
    // raw reps goes only to the repo file, where the budget gate reads it.
    try {
      val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
      val withReps = detail.dropRight(1) + s""","reps":$repsJson,"errors":$errorsJson}"""
      java.nio.file.Files.write(p, (withReps + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val slowestFirst = results.sortBy(-_._2)
    val budget = 1400
    val kept = Seq.newBuilder[(String, Double)]
    var used = 90 + sfDir.length // wrapper fields
    slowestFirst.foreach { case (k, v) =>
      val cost = k.length + f3(v).length + 4
      if (used + cost <= budget) { kept += (k -> v); used += cost }
    }
    println(jsonLine(kept.result(), total))
    spark.stop()
  }
}

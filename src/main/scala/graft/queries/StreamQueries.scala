package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.Overlap
import graft.streaming.EventStreams

/** Stream/batch parity queries — the one place the streaming tier CAN be
  * oracle-verified: run the real Structured Streaming path (file source →
  * stateful transform → memory sink) to completion over the same parquet
  * the batch oracle reads, and compare final results. Each invocation
  * drains the stream synchronously (`processAllAvailable`), stops the
  * query, and returns the sink table as a plain DataFrame, so Verify/Bench
  * treat it like any batch query.
  *
  * This pins exactly the property a 100 TB deployment leans on: the
  * streaming twin of an aggregation converges to the batch answer once all
  * input is processed (Structured Streaming's incremental-execution
  * contract).
  */
object StreamQueries {

  private val Fmt = "yyyy-MM-dd HH:mm:ss"

  /** The file-stream source only accepts a DIRECTORY; the harness testdata
    * is a single parquet file per table, so expose it through a scratch
    * directory holding a symlink (no data copy).
    */
  private def asDir(d: String, table: String): String = {
    val src = java.nio.file.Paths.get(s"$d/$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else {
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_stream_src_${ScratchKeys.forPath(d)}", table)
      java.nio.file.Files.createDirectories(dir)
      val link = dir.resolve(s"$table.parquet")
      // NOFOLLOW: a dangling link must read as present (exists() follows
      // the target); and two concurrent drivers can race past the check,
      // so an already-created link is success, not an error. A pre-existing
      // link pointing elsewhere (stale scratch from a moved dir) is
      // re-pointed at the current source.
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        try java.nio.file.Files.createSymbolicLink(link, src)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      else if (java.nio.file.Files.isSymbolicLink(link) &&
          java.nio.file.Files.readSymbolicLink(link) != src) {
        java.nio.file.Files.delete(link)
        java.nio.file.Files.createSymbolicLink(link, src)
      }
      dir.toString
    }
  }

  /** Event-time normalization mirroring `Tables.load`: nanos-as-long ts
    * divides to micros; the regenerated corpus' `timestamp[us]` (inferred
    * TIMESTAMP_NTZ, which `withWatermark` and `unix_micros` reject) casts
    * to session-zone TIMESTAMP — same wall clock under the pinned UTC
    * sessions, so batch oracles and drained streams agree.
    */
  private def withEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** Once-per-corpus fixture directory, keyed by the SOURCE table's path
    * AND content generation: the driver regenerates the corpus between
    * rounds at the same path, and a fixture split from the old
    * generation must not be silently replayed against oracles computed
    * on the new one. A regeneration simply orphans the old dir and
    * triggers a fresh build. The key folds length, mtime AND a
    * fingerprint of the parquet FOOTER TAIL (the last 4 KiB — row-group
    * offsets, statistics, schema all live there, so two different
    * corpora sharing it is astronomically unlikely): a regeneration
    * that happened to preserve byte length and coarse mtime can no
    * longer replay a stale fixture. The fixture itself is the `name`
    * leaf inside that keyed directory.
    */
  private[queries] def fixtureDir(name: String, d: String, table: String): java.nio.file.Path = {
    val f = new java.io.File(s"$d/$table.parquet")
    val gen = java.lang.Long.toHexString(
      f.length ^ java.lang.Long.rotateLeft(f.lastModified, 21)
        ^ footerFingerprint(f))
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stream_${name}_${ScratchKeys.forPath(d)}_$gen", name)
  }

  /** FNV-1a over the last 4 KiB of the file — the parquet footer (and
    * for tiny files the whole file). Content-sensitive and O(1) in file
    * size; a missing file keys as 0 (length 0) and fails later at the
    * parquet read with a real error, not here.
    */
  private def footerFingerprint(f: java.io.File): Long = {
    val n = f.length
    if (n <= 0) 0L
    else {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val take = math.min(n, 4096L).toInt
        raf.seek(n - take)
        val buf = new Array[Byte](take)
        raf.readFully(buf)
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < take) { h = (h ^ (buf(i) & 0xff)) * 0x100000001b3L; i += 1 }
        h
      } finally raf.close()
    }
  }

  /** True iff `dir` holds at least one parquet file. An EMPTY directory —
    * what a pre-build crash used to leave behind after creating the dir
    * first — must NOT pass the built check, or the fixture wedges
    * permanently (the exists-check passes, the parquet read throws).
    */
  private def fixtureReady(dir: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(dir) && {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  /** Build a fixture directory atomically: `build` writes its finished
    * files into `out` (scratch space for intermediate spark writes is
    * `work`), and `out` moves into place LAST — same /tmp filesystem, so
    * a failed or interrupted build leaves nothing that passes
    * [[fixtureReady]]. A stale directory at `dir` that does not pass it
    * (an empty dir left by a crash, a directory of an older layout) is
    * moved aside and replaced; a ready one that appears during the move
    * is a concurrent winner, accepted as-is, and anything else rethrows.
    */
  private def buildFixture(dir: java.nio.file.Path)(
      build: (java.nio.file.Path, java.nio.file.Path) => Unit): Unit =
    ScratchKeys.withScratch("graft_fixture_build_") { stage =>
      val out = stage.resolve("out")
      val work = stage.resolve("work")
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.createDirectories(work)
      build(out, work)
      java.nio.file.Files.createDirectories(dir.getParent)
      if (java.nio.file.Files.isDirectory(dir) && !fixtureReady(dir))
        java.nio.file.Files.move(dir, stage.resolve("stale"))
      try java.nio.file.Files.move(out, dir)
      catch { case e: java.nio.file.FileAlreadyExistsException => if (!fixtureReady(dir)) throw e }
    }

  /** The files under `dir` as a stream of one file per micro-batch, read
    * with the schema the files themselves carry: a fixture built from an
    * earlier corpus form (nanos-as-long, NTZ) must be read with the type
    * it actually stores, not the current source table's.
    */
  private[queries] def microBatches(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** A four-micro-batch split of one corpus table: `rows` of the RAW
    * table read (whatever on-disk form it ships; events normalize after
    * reading, see [[withEventTs]]), hash-split on `key` into four files.
    * Every key's rows land in one batch and the batches interleave the
    * key space, so consumers exercise cross-batch behavior (state merge,
    * incremental sink merges, per-batch index appends) that a
    * single-batch drain never does. The fixture directory is named after
    * `name`, so queries streaming the same rows reuse one split value
    * and share one directory.
    */
  private[queries] final case class Split(name: String, table: String, key: String,
      rows: DataFrame => DataFrame = identity)

  private val Events4 = Split("events4", "events", "event_id")
  private val Docs4 = Split("docs4", "documents", "doc_id")
  // the day's documents: the tenth an index seeded from the rest ingests
  private val DayDocs4 = Split("daydocs4", "documents", "doc_id",
    _.filter(col("doc_id") % 10 === 0))
  private val DayVecs4 = Split("dayvecs4", "embeddings", "vec_id",
    _.filter(col("vec_id") % 10 === 0))
  private[queries] val Vecs4 = Split("vecs4", "embeddings", "vec_id")

  /** The split's fixture directory, built on first use per corpus
    * generation (see [[fixtureDir]]).
    */
  private def splitDir(s: SparkSession, d: String, split: Split): String = {
    val dir = fixtureDir(split.name, d, split.table)
    if (!fixtureReady(dir)) buildFixture(dir) { (out, _) =>
      split.rows(s.read.parquet(s"$d/${split.table}.parquet"))
        .repartition(4, col(split.key))
        .write.mode("overwrite").parquet(out.toString)
    }
    dir.toString
  }

  private def splitStream(s: SparkSession, d: String, split: Split): DataFrame =
    microBatches(s, splitDir(s, d, split))

  /** The events table as a bounded file STREAM, with the same event-time
    * conversion the batch source applies (`Tables.load`); readStream needs
    * the on-disk schema up front.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val onDisk = s.read.parquet(s"$d/events.parquet").schema
    val raw = s.readStream.schema(onDisk).parquet(asDir(d, "events"))
    withEventTs(raw)
  }

  /** The events table as a FOUR-micro-batch stream ([[Events4]]). */
  private def eventsStreamSplit(s: SparkSession, d: String): DataFrame =
    withEventTs(splitStream(s, d, Events4))

  /** A fixture of one parquet file per named frame of `table`'s raw
    * read, triggered in the listed order: the file source picks files in
    * mod-time order, and the files get distinct mod-times increasing in
    * list order.
    */
  private def orderedFiles(s: SparkSession, d: String, name: String, table: String)(
      files: DataFrame => Seq[(String, DataFrame)]): String = {
    val dir = fixtureDir(name, d, table)
    if (!fixtureReady(dir)) buildFixture(dir) { (out, work) =>
      files(s.read.parquet(s"$d/$table.parquet")).zipWithIndex.foreach {
        case ((file, df), i) =>
          val part = s"$work/$file"
          df.coalesce(1).write.mode("overwrite").parquet(part)
          val written = new java.io.File(part).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = out.resolve(s"$file.parquet")
          java.nio.file.Files.move(written.toPath, dest)
          dest.toFile.setLastModified((i + 1) * 1000000L)
      }
    }
    dir.toString
  }

  /** Flush-sentinel rows over the normalized events `ev`: `sentinel(id,
    * days)` is one `__flush` event (event_id −id, user_id −1) at
    * hour-align(max ts) + `days` days + 1h30m. Sentinels sit at :30
    * offsets so no watermark ever lands exactly on an hour-aligned window
    * end (boundary semantics stay unobservable). The one collected
    * scalar (max ts) is fixture construction, not query-path work.
    */
  private def sentinels(ev: DataFrame): (Long, Long) => DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val maxNs = ev.selectExpr("max(unix_micros(ts))").head.getLong(0) * 1000L
    (id, days) => {
      val ns = (maxNs / hourNs + 1 + days * 24) * hourNs + hourNs / 2
      ev.limit(1).select(
        lit(-id).cast("long").as("event_id"),
        expr(s"timestamp_micros(${ns / 1000}L)").as("ts"),
        lit(-1L).as("user_id"), lit("__flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    }
  }

  /** Late-arrival fixture: five single-file micro-batches in a pinned
    * order:
    *
    *   1. on-time bulk (event_id % 5 ≠ 0)
    *   2. watermark-advance sentinel S1 at hour-align(max ts)+1h30m — its
    *      event time pushes the watermark to S1−1d BEFORE the stragglers
    *      arrive, so by then every window ending ≤ max(on-time)−1d has
    *      already been finalized and evicted
    *   3. stragglers (event_id % 5 = 0) — judged against that watermark
    *   4./5. flush sentinels S1+2d, S1+3d — advance the watermark past
    *      every real window so append mode emits the remainder (no-data
    *      micro-batches are disabled in the drain helper, so emission
    *      needs trailing DATA batches)
    *
    * Sentinels must NOT be filtered out between source and watermark node:
    * a `filter` there is pushed down to the parquet scan and the watermark
    * never advances (found empirically — the pushed predicate removed the
    * sentinel before EventTimeWatermarkExec saw its event time). They flow
    * through the aggregation instead; their far-future windows never
    * finalize, and the consumer scrubs them by window start. Event time is
    * normalized BEFORE building, so every fixture file (real rows and
    * sentinels alike) carries one session-zone TIMESTAMP form.
    */
  private def eventsStreamLate(s: SparkSession, d: String): DataFrame =
    withEventTs(microBatches(s, orderedFiles(s, d, "late", "events") { onDisk =>
      val raw = withEventTs(onDisk)
      val sentinel = sentinels(raw)
      Seq("f1_ontime" -> raw.filter(pmod(col("event_id"), lit(5)) =!= 0),
        "f2_wm_advance" -> sentinel(1, 0),
        "f3_late" -> raw.filter(pmod(col("event_id"), lit(5)) === 0),
        "f4_flush_a" -> sentinel(2, 2),
        "f5_flush_b" -> sentinel(3, 3))
    }))

  /** Flush fixture for APPEND-mode windowed aggregations with nothing
    * late: one micro-batch with ALL real events, then three far-future
    * flush sentinels (+2/+3/+4 days, one per batch). The sentinels advance
    * the watermark past every real window so append mode emits them all on
    * a bounded drain (no-data micro-batches are disabled in the drain
    * helper, so emission needs trailing DATA batches — and a CHAINED
    * aggregation needs one extra batch of headroom per stage for its
    * emissions to flow through the downstream state). Since every real
    * event arrives in batch 1, the watermark never drops anything — the
    * batch oracle is the plain aggregation, no late-data replay.
    * Sentinels carry event_type `__flush` and are scrubbed AFTER the
    * drain (see eventsStreamLate).
    */
  private def eventsStreamFlush(s: SparkSession, d: String): DataFrame =
    withEventTs(microBatches(s, orderedFiles(s, d, "flush", "events") { onDisk =>
      val raw = withEventTs(onDisk)
      // sentinels carry user_id = -1; the post-drain scrubs downstream
      // (st_join_outer_parity in particular) are only sound if that id
      // space is disjoint from the real-user domain, so refuse to build
      // the fixture over data that violates it
      require(raw.filter(col("user_id") < 0).isEmpty,
        "eventsStreamFlush requires non-negative real user_ids: " +
          "sentinel rows use user_id = -1 and must never join real events")
      val sentinel = sentinels(raw)
      Seq("f1_all" -> raw, "f2_flush_a" -> sentinel(1, 2),
        "f3_flush_b" -> sentinel(2, 3), "f4_flush_c" -> sentinel(3, 4))
    }))

  /** Settings every drained stream starts under. Stateful streaming
    * instantiates one state store per side per shuffle partition, each
    * committing delta files every micro-batch — at a wide batch shuffle a
    * bounded parity drain pays more store I/O than compute, and 8
    * partitions is plenty for the drained volumes (a real deployment
    * sizes this to state volume per partition). The whole bounded input
    * lands in few data micro-batches and every query here emits its
    * result within them (inner join and dedup emit eagerly; the
    * complete-mode aggs re-emit full state each batch; the append-mode
    * ones get trailing sentinel batches), so the trailing no-data batch
    * would only advance the watermark and evict state we are about to
    * stop anyway.
    */
  private val StreamConf = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Start the configured `writer` and run it until its bounded input is
    * consumed; stops the query either way. [[StreamConf]] plus `conf` are
    * held on the session only across `start()`: the query clones the
    * session there and plans every micro-batch on the clone, so the
    * settings reach the stream (and its foreachBatch frames) while a
    * batch query overlapping the drain plans at the session's own width.
    */
  private def drainStream(s: SparkSession, conf: (String, String)*)(
      writer: => DataStreamWriter[_]): Unit = {
    val q = graft.GraftSession.withConf(s, StreamConf ++ conf: _*)(writer.start())
    try q.processAllAvailable() finally q.stop()
  }

  /** Drain `df` into a memory sink named `name` and return the sink table. */
  private def drain(df: DataFrame, name: String, mode: String,
      conf: (String, String)*): DataFrame = {
    val spark = df.sparkSession
    drainStream(spark, conf: _*) {
      df.writeStream.format("memory").queryName(name).outputMode(mode)
    }
    spark.table(name)
  }

  /** Drain `stream` through `each(batch, batchId)`, checkpointed in a
    * scratch dir that is deleted afterwards. Whatever `each` must leave
    * behind it writes elsewhere.
    */
  private[queries] def drainBatches(stream: DataFrame)(each: (DataFrame, Long) => Unit): Unit =
    ScratchKeys.withScratch("graft_drain_") { scratch =>
      drainStream(stream.sparkSession) {
        stream.writeStream.option("checkpointLocation", s"$scratch/chk").foreachBatch(each)
      }
    }

  /** Run the parity's stream-INDEPENDENT reference/certificate work on its
    * own thread while the micro-batches drain (guide §2.6 — overlap
    * independent jobs: Spark's scheduler runs several jobs at once; the
    * drains here are overhead-bound and leave most cores idle, so the
    * one-shot side back-fills them instead of running serially after the
    * last batch). `work` MUST NOT read any state the stream mutates — every
    * call site's thunk is the one-shot / brute-force side over FROZEN
    * inputs only (corpus tables, pre-stream persisted models, shared
    * memoized frames), and it eagerly materializes what it returns so the
    * overlap actually buys the wall time. Results are unchanged by
    * construction: the same jobs run, just concurrently. The first
    * failure on either side cancels the other side's jobs and propagates.
    */
  private def overlapping[T](work: => T)(drain: => Unit): T =
    Overlap.both(work)(drain)._1

  /** Serving parity under a frozen model: each micro-batch of `stream`
    * goes through `serve`, is stamped with its `batch_id` and appended to
    * scratch, while `oneShot` — the same serving over the whole input,
    * eagerly materialized — runs alongside (see [[overlapping]]). Returns
    * the served rows read back (with `batch_id`), the one-shot frame, and
    * the certificate: the served rows equal the one-shot rows as a
    * multiset AND came from all four batches.
    */
  private def servingParity(stream: DataFrame, oneShot: => DataFrame)(
      serve: DataFrame => DataFrame): (DataFrame, DataFrame, Boolean) =
    ScratchKeys.withScratch("graft_serve_") { scratch =>
      val results = s"$scratch/results"
      val os = overlapping(oneShot) {
        drainBatches(stream) { (batch, bid) =>
          serve(batch).withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(results)
        }
      }
      val streamed = stream.sparkSession.read.parquet(results).localCheckpoint(true)
      val parity = Parity.multisetEqual(streamed.drop("batch_id"), os)
      (streamed, os, parity && streamed.select("batch_id").distinct().count() == 4L)
    }

  /** transformWithState on a RocksDB state store (see st_tws_totals_parity). */
  private val RocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Daily tumbling-window aggregation through the streaming engine, in
    // complete mode so every window is emitted once the stream drains; the
    // oracle is the plain batch GROUP BY over the same days.
    "st_tumbling_parity" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          date_format(col("window.start"), Fmt).as("day_start"),
          col("event_type"), col("n"), col("sum_value"))
      drain(agg, "st_tumbling", "complete").orderBy("day_start", "event_type")
    }),

    // Sliding-window aggregation through the streaming engine: 2-hour
    // windows every 30 minutes, so each event lands in exactly 4
    // overlapping windows (size/slide). Complete mode emits every window
    // on drain; the oracle replays the overlap by fanning each event out
    // to its 4 epoch-aligned window starts (trunc(ts, 30m) − i·30m).
    "st_sliding_parity" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          date_format(col("window.start"), Fmt).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
      drain(agg, "st_sliding", "complete").orderBy("win_start", "event_type")
    }),

    // Streaming session windows through the engine's session_window state
    // merging, complete mode so the final (unflushed-by-watermark) sessions
    // emit on drain. The oracle replays the merge rule exactly: Spark
    // merges an event into a session iff its time is STRICTLY before the
    // session end (start + gap), so the batch twin breaks sessions on
    // diff >= gap — note the boundary difference from ss_sessionize's
    // diff > gap convention, and session_end = last event + gap (the
    // engine's window end), not the last event itself.
    "st_session_parity" -> ((s, d) => {
      val sess = eventsStream(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), Fmt).as("session_start"),
          date_format(col("session_window.end"), Fmt).as("session_end"),
          col("n_events"), col("sum_value"))
      drain(sess, "st_session", "complete").orderBy("user_id", "session_start")
    }),

    // Stream-stream inner join (views x purchases within 1 hour, both sides
    // watermarked) drained in append mode. The whole bounded file arrives in
    // one micro-batch, so no row is ever late relative to the watermark and
    // the drained result must equal the batch self-join exactly. Time bounds
    // compare at MICROSECOND precision on both engines (the stream source
    // truncates the parquet NANOS timestamps, the oracle uses epoch_us),
    // so boundary pairs agree bit-for-bit.
    "st_join_parity" -> ((s, d) => {
      val joined = EventStreams.viewPurchaseJoin(eventsStream(s, d), "1 hour")
        .select(
          col("user_id"), col("view_id"), col("purchase_id"),
          date_format(col("view_ts"), Fmt).as("view_ts"),
          date_format(col("purchase_ts"), Fmt).as("purchase_ts"))
      drain(joined, "st_join", "append").orderBy("view_id", "purchase_id")
    }),

    // Stream-stream LEFT OUTER join drained in append mode through the
    // flush-sentinel fixture: the bulk file arrives first (inner matches
    // emit in-batch), then the sentinel batches push the watermark days
    // past every view so all unmatched views' state is evicted and their
    // null-extended rows emit before the drain stops. Sentinels flow
    // through BOTH sides' filters (anything stricter gets predicate-
    // pushed below the watermark node and starves it — see
    // viewPurchaseJoinOuter's doc); their negative ids scrub their own
    // self-join rows here. Oracle: the plain LEFT JOIN (every unmatched
    // view present, purchase columns NULL).
    "st_join_outer_parity" -> ((s, d) => {
      val joined = EventStreams.viewPurchaseJoinOuter(eventsStreamFlush(s, d), "1 hour")
        .select(
          col("user_id"), col("view_id"), col("purchase_id"),
          date_format(col("view_ts"), Fmt).as("view_ts"),
          date_format(col("purchase_ts"), Fmt).as("purchase_ts"))
      drain(joined, "st_join_outer", "append")
        // scrub sentinel rows. The load-bearing invariant is the FIXTURE's,
        // not this filter's: sentinels carry user_id = -1, disjoint from
        // the real-user domain (enforced with a loud require when
        // eventsStreamFlush builds the fixture), so a sentinel can never
        // inner-match a real view on the user-equality join key — the
        // failure mode where a match both leaks a row AND suppresses that
        // view's null-extended row cannot arise. What remains to scrub is
        // sentinel self-join output: sentinel-as-view rows (view_id < 0)
        // and their sentinel-as-purchase matches (purchase_id < 0).
        .filter(col("view_id") >= 0 &&
          (col("purchase_id").isNull || col("purchase_id") >= 0))
        .orderBy("view_id", "purchase_id")
    }),

    // Cross-batch state merge: the same session-window aggregation, but the
    // input arrives as FOUR interleaved micro-batches (events hash-split by
    // id into four files, one file per micro-batch) — every session's events
    // spread across batches, so the final answer is only correct if the
    // engine's session state MERGES across batches (the property a
    // single-batch drain never exercises). Complete mode retains all
    // state, so no row is watermark-dropped and the converged result must
    // equal the batch oracle regardless of file arrival order.
    "st_multibatch_parity" -> ((s, d) => {
      val sess = eventsStreamSplit(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), Fmt).as("session_start"),
          date_format(col("session_window.end"), Fmt).as("session_end"),
          col("n_events"), col("sum_value"))
      drain(sess, "st_multibatch", "complete").orderBy("user_id", "session_start")
    }),

    // Watermark late-data semantics, pinned end-to-end and empirically:
    // stragglers arrive two micro-batches after the bulk (a sentinel batch
    // between them advances the watermark), and the engine judges them
    // against the watermark IN FORCE DURING THE PREVIOUS BATCH — i.e.
    // max(on-time ts) − 1 day, the value that already finalized and
    // evicted old windows — not the newer one committed from the sentinel.
    // A straggler whose hour-window end is ≤ that value is DROPPED (its
    // window already emitted; no partial duplicate appears); one whose
    // window is still open MERGES in. Determined against live runs at two
    // scale factors, including the boundary window only the lagged
    // watermark admits. The oracle replays exactly that rule: on-time rows
    // plus stragglers with window_end > max(on-time) − 1d. Sums in DECIMAL
    // so cross-batch addition order cannot drift a double.
    "st_late_data_parity" -> ((s, d) => {
      val agg = eventsStreamLate(s, d)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
        .select(
          date_format(col("window.start"), Fmt).as("win_start"),
          col("n"),
          round(col("sv").cast("double") + 1e-9, 2).as("sum_value"))
      val drained = drain(agg, "st_late_data", "append")
      // scrub the sentinel windows: real windows start at or before
      // hour-align(max real ts); sentinel windows start strictly after
      val cutoff = graft.sources.Tables.load(s, d, "events")
        .agg(date_format(date_trunc("hour", max(col("ts"))), Fmt)
          .as("real_floor"))
      drained.join(broadcast(cutoff), col("win_start") <= col("real_floor"))
        .drop("real_floor")
        .orderBy("win_start", "n")
    }),

    // The production sink pattern foreachBatch exists for: each micro-batch
    // MERGED into a target table (here a parquet twin of a warehouse
    // upsert) — per-batch partial aggregate unioned with the current
    // target and re-aggregated, materialized, then atomically swapped in.
    // Four micro-batches ⇒ four merge cycles; the final target must equal
    // the batch aggregation. Sums carried in DECIMAL so the batch-split
    // addition order cannot drift the double sum.
    "st_foreachbatch_upsert" -> ((s, d) => ScratchKeys.withScratch("graft_feb_") { scratch =>
      val target = s"$scratch/target"
      drainBatches(eventsStreamSplit(s, d)) { (batch, _) =>
        val delta = batch.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).as("sum_value"),
            max(col("ts")).as("last_ts"))
        val merged =
          if (new java.io.File(target).isDirectory) {
            s.read.parquet(target).unionByName(delta)
              .groupBy("user_id")
              .agg(sum("n_events").cast("long").as("n_events"),
                sum("sum_value").as("sum_value"),
                max("last_ts").as("last_ts"))
          } else delta
        // materialize BEFORE the overwrite — the plan reads the same
        // path it is about to replace
        val mat = merged.localCheckpoint(true)
        try mat.write.mode("overwrite").parquet(target)
        finally mat.unpersist()
      }
      s.read.parquet(target)
        .select(col("user_id"), col("n_events"),
          round(col("sum_value").cast("double") + 1e-9, 2).as("sum_value"),
          date_format(col("last_ts"), Fmt).as("last_ts"))
        .orderBy("user_id")
        .localCheckpoint(true)
    }),

    // Streaming ingest through the PERSISTED minhash index — the bridge
    // between the streaming tier and the dedup tier, executing the
    // maintenance contract writeMinhashIndex documents: the corpus side
    // (doc_id % 10 != 0) seeds the index once; the day's batch
    // (doc_id % 10 == 0) arrives as FOUR micro-batches, and each
    // foreachBatch cycle signs the batch, probes the CURRENT index, lands
    // the found pairs, then appends the batch's bands+signatures so later
    // batches dedup against earlier ones too (cross-batch discovery is
    // pinned with planted dups in DedupSimilaritySpec; this corpus has no
    // new×new pairs, so the emitted new×index pairs must equal the batch
    // d_incremental answer exactly). The output keeps new×index rows
    // (matching d_incremental's oracle at any SF) and certifies the
    // appends: after the drain the reopened index must hold EVERY
    // document's signature — corpus seed + all four appended batches.
    "st_dedup_index_parity" -> ((s, d) => {
      import graft.functions.CrossHash
      import graft.operators.Dedup
      val docs = graft.sources.Tables.load(s, d, "documents")
      // shingles slice a materialized token column (`__tk`, added per
      // consumer below) instead of re-tokenizing per position — same
      // rationale as DedupQueries.docsTk; the split files stay tokenless
      val shingles = CrossHash.wordShingles(col("__tk"), 3)
      val prefix = s"mh_stream_index_${ScratchKeys.forPath(d)}"
      Dedup.Minhash.drop(s, prefix)
      // seed from the suite-shared signature memo (the same frame
      // d_incremental/d_incremental_indexed split) — the seed is
      // "yesterday's corpus", already signed in production; only the
      // streamed batches sign fresh, inside their foreachBatch cycles
      val corpusSigs = DedupQueries.minhashSigsFrame(s, d)
      Dedup.writeMinhashIndex(
        corpusSigs.filter(col("id") % 10 =!= 0), prefix, buckets = 8, k = 16, bands = 4)
      ScratchKeys.withScratch("graft_stream_dedup_") { scratch =>
        val pairsDir = s"$scratch/pairs"
        // the certificate's corpus count is stream-independent — computed
        // while the drain runs (guide §2.6, see `overlapping`)
        val nDocs = overlapping(docs.count()) {
          drainBatches(splitStream(s, d, DayDocs4)) { (batch, bid) =>
            val sigs = Dedup.minhashSignatures(
              batch.withColumn("__tk", CrossHash.tokens(col("text"))),
              "doc_id", shingles, k = 16)
            // the production ingest body: batchId-keyed exactly-once
            // (write-ahead ledger; a retried batch would skip or
            // scrub-and-reapply instead of double-appending)
            Dedup.exactlyOnceIngestIntoMinhashIndex(sigs, prefix, bid, threshold = 0.7)
              .foreach(_.write.mode("append").parquet(pairsDir))
          }
        }
        // resolution-safe: a retried batch's scrub advances a generation
        val atp = graft.sources.Sinks.activeTablePrefix(s, prefix)
        val sigsN = s.table(s"${atp}_sigs").count()
        val bandsN = s.table(s"${atp}_bands").count()
        s.read.parquet(pairsDir)
          .filter(col("index_id") % 10 =!= 0)
          .groupBy("new_id")
          .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
          .withColumn("index_ok", lit(sigsN == nDocs && bandsN == nDocs * 4))
          .orderBy("new_id")
          .localCheckpoint(true)
      }
    }),

    // Streaming index DELETION — the take-down feed as a stream: a
    // right-to-be-forgotten queue delivers doc ids in FOUR micro-batches,
    // and each foreachBatch cycle scrubs the batch from the persisted
    // minhash index via deleteFromMinhashIndex (bucket-aligned anti-join
    // rewrite through the compaction machinery — each cycle is also a
    // vacuum). Deletions COMPOSE (sequential anti-joins equal the
    // anti-join of the union), so the drained index equals the one-shot
    // batch deletion and the day's probe matches d_delete_probe's oracle
    // EXACTLY — the streamed-vs-batch claim, hash-verified. Certificate:
    // the reopened index holds exactly the surviving documents (sigs ==
    // survivors, bands == survivors × 4), so a lost or doubled deletion
    // cannot pass. Every index maintenance verb — append AND delete —
    // now has a streaming twin.
    "st_index_delete_parity" -> ((s, d) => {
      import graft.operators.Dedup
      val docs = graft.sources.Tables.load(s, d, "documents")
      val takeDowns = Split("del4", "documents", "id",
        _.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 3 === 0)
          .select(col("doc_id").as("id")))
      val prefix = s"mh_stream_del_${ScratchKeys.forPath(d)}"
      Dedup.Minhash.drop(s, prefix)
      val corpusSigs = DedupQueries.minhashSigsFrame(s, d)
      Dedup.writeMinhashIndex(
        corpusSigs.filter(col("id") % 10 =!= 0), prefix, buckets = 8, k = 16, bands = 4)
      // the certificate's survivor count is a pure corpus aggregation,
      // stream-independent — computed while the drain runs (guide §2.6)
      val survivors = overlapping(docs
          .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 3 =!= 0).count()) {
        drainBatches(splitStream(s, d, takeDowns)) { (batch, _) =>
          Dedup.deleteFromMinhashIndex(s, prefix, batch)
        }
      }
      val atp = graft.sources.Sinks.activeTablePrefix(s, prefix)
      val sigsN = s.table(s"${atp}_sigs").count()
      val bandsN = s.table(s"${atp}_bands").count()
      Dedup.minhashPairsAgainstIndex(
          corpusSigs.filter(col("id") % 10 === 0), prefix, k = 16, bands = 4,
          threshold = 0.7)
        .groupBy("new_id")
        .agg(min("index_id").as("dup_of"), count(lit(1)).as("n_matches"))
        .withColumn("index_ok", lit(sigsN == survivors && bandsN == survivors * 4))
        .orderBy("new_id")
    }),

    // Streaming blue/green rebuild — serving continuity under cutover,
    // completing the lifecycle streaming-twin matrix (append ✓ delete ✓
    // rebuild ✓): a serving workload re-probes the SAME query set in
    // four micro-batches while the IVF index is retrained and
    // pointer-flipped underneath after the second drain. Identical query
    // waves make the certificates order-independent (whichever file a
    // trigger picks, every drain probes the full set). Pre-flip drains
    // resolve the bare (stale, 80%-corpus) generation: they must serve
    // ALL queries (continuity) and physically CANNOT return a held-out
    // vec_id % 5 == 0 neighbor — a binary staleness certificate. The
    // flip is ONE small-table pointer overwrite, so post-flip drains
    // resolve g1 and must certify serving-grade recall vs FULL-corpus
    // brute force (impossible through the stale generation). Lifecycle
    // pins: exactly 2 pre + 2 post drains, gen = 1, retired bare tables
    // dropped. Emitted rows are the full-corpus brute-force top-3.
    "st_rebuild_cutover_parity" -> ((s, d) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, d, "embeddings")
      // four identical waves — full copies of the query set, not a hash
      // split (hashing four wave labels into four partitions collides)
      val waves = orderedFiles(s, d, "qwaves4", "embeddings") { emb =>
        (0 until 4).map(w => s"wave$w" -> emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id"), col("embedding"), lit(w).as("wave")))
      }
      val prefix = s"ivf_stream_rb_${ScratchKeys.forPath(d)}"
      Similarity.Ivf.drop(s, prefix)
      Similarity.writeIvfIndex(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", prefix, buckets = 8, nlist = 8, iters = 2)
      val preDrains = new java.util.concurrent.atomic.AtomicInteger(0)
      val genSeen = new java.util.concurrent.atomic.AtomicLong(-1L)
      ScratchKeys.withScratch("graft_stream_annrb_") { scratch =>
        val probeDir = s"$scratch/probes"
        drainBatches(microBatches(s, waves)) { (batch, bid) =>
          val flipped = s.catalog.tableExists(s"${prefix}_current")
          Similarity.ivfTopKAgainstIndex(
              batch.select("vec_id", "embedding"), prefix,
              "vec_id", "embedding", k = 3,
              nprobe = SimilarityQueries.IvfNprobe)
            .select(col("query_id"), col("neighbor_id"),
              lit(flipped).as("flipped"), lit(bid).as("bid"))
            .write.mode("append").parquet(probeDir)
          if (!flipped && preDrains.incrementAndGet() == 2)
            genSeen.set(Similarity.Ivf.rebuild(s, prefix)(
              Similarity.writeIvfIndex(e, "vec_id", "embedding", _, buckets = 8,
                nlist = 16, iters = 3, assign = SimilarityQueries.IvfAssign)))
        }
        val nQ = e.filter(col("vec_id") % 50 === 0).count()
        val probes = s.read.parquet(probeDir)
          .select("query_id", "neighbor_id", "flipped", "bid").distinct()
          .localCheckpoint(true)
        val pre = probes.filter(!col("flipped"))
        val post = probes.filter(col("flipped"))
        // continuity: each pre drain served the full query set
        val preServedOk = pre.groupBy("bid")
          .agg(countDistinct("query_id").as("nq"))
          .agg(min("nq")).head().getLong(0) == nQ
        // staleness: a held-out vector cannot appear pre-flip
        val preStaleOk = pre.filter(col("neighbor_id") % 5 === 0).isEmpty
        val drains = probes.select("bid", "flipped").distinct()
          .groupBy("flipped").agg(countDistinct("bid").as("n"))
          .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        val lifecycleOk = drains.get(false).contains(2L) &&
          drains.get(true).contains(2L) &&
          genSeen.get() == 1L && !s.catalog.tableExists(s"${prefix}_lists")
        Parity.recallCertificate(SimilarityQueries.exactTop3(s, d), post, "post_recall_ok",
            SimilarityQueries.IvfRecallFloor)(
            "pre_served_ok" -> preServedOk, "pre_stale_ok" -> preStaleOk,
            "lifecycle_ok" -> lifecycleOk)
          .localCheckpoint(true)
      }
    }),

    // Streaming ANN-index ingest — st_dedup_index_parity's twin for the
    // similarity tier: the corpus side (vec_id % 10 != 0) seeds the IVF
    // index (centroids train on it once — the frozen-quantizer split),
    // then the day's vectors arrive as FOUR micro-batches and each
    // foreachBatch cycle appends the batch under the existing centroids.
    // Assignment is deterministic given centroids and append order is
    // irrelevant to the probe's join/rank semantics, so the grown index
    // is byte-identical to sim_knn_ivf_ingest's one-shot batch append —
    // the probe output matches the SAME oracle exactly, hash-verifying
    // that four streamed appends lose nothing a batch append keeps.
    //
    // At-least-once handling: Structured Streaming may RETRY a failed
    // batch, and a plain append re-run would double-insert that batch's
    // rows. All four index-ingest foreachBatch bodies here (minhash,
    // gram, IVF, IVF-PQ) therefore run the exactly-once variants —
    // batchId-keyed write-ahead ledger (TableFamily.exactlyOnce): a
    // committed redelivery skips, a crash-retry scrubs the partial
    // residue via the family's deletion verb before re-applying (the
    // retry paths themselves are pinned by the three exactly-once specs
    // in DedupSimilaritySpec). Only the incremental-CC overwrite keeps
    // the plain body: a full-table overwrite is naturally idempotent
    // for the relabel it performs.
    "st_ann_index_parity" -> ((s, d) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, d, "embeddings")
      val prefix = s"ivf_stream_${ScratchKeys.forPath(d)}"
      Similarity.Ivf.drop(s, prefix)
      Similarity.writeIvfIndex(e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", prefix, buckets = 8, nlist = 16, iters = 3,
        assign = SimilarityQueries.IvfAssign)
      drainBatches(splitStream(s, d, DayVecs4)) { (batch, bid) =>
        // production append body: batchId-keyed exactly-once
        Similarity.exactlyOnceAppendToIvfIndex(batch, prefix, "vec_id", "embedding", bid): Unit
      }
      val grown = Similarity.ivfTopKAgainstIndex(
          e.filter(col("vec_id") % 50 === 0), prefix, "vec_id", "embedding",
          k = 3, nprobe = SimilarityQueries.IvfNprobe)
      // resolution-safe: a retried batch's scrub advances a generation
      Parity.recallCertificate(SimilarityQueries.exactTop3(s, d), grown, "ivf_recall_ok",
        SimilarityQueries.IvfRecallFloor)(
        "index_ok" -> SimilarityQueries.indexComplete(s, prefix, "_lists", e.count()))
    }),

    // Streamed incremental connected components: the day's near-dup
    // edges arrive in four micro-batches, each folding into the
    // PERSISTED label table via one incrementalConnectedComponents
    // update (contract to rep level → star-CC over touched components →
    // broadcast relabel → materialize → overwrite). Every update yields
    // the EXACT components of the union-so-far (the incremental-CC spec
    // pins equality with from-scratch CC), so the updates COMPOSE: the
    // final labels are independent of how the day's edges were split
    // across batches and equal the one-shot day-batch update — the
    // oracle is d_incremental_clusters' full-recompute oracle verbatim.
    "st_incr_cc_parity" -> ((s, d) => {
      import graft.operators.Dedup
      val docs = graft.sources.Tables.load(s, d, "documents")
      val edges = DedupQueries.minhashPairEdges(s, d)
      val oldEdges = edges.filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)
      // the day's edges as a 4-file stream (edges are a deterministic
      // function of the corpus, so the content-generation fixture key
      // applies unchanged)
      val dayEdges = Split("edges4", "documents", "a", _ =>
        edges.filter(col("a") % 10 === 0 || col("b") % 10 === 0)
          .select(col("a").cast("long"), col("b").cast("long")))
      // pointer-protected blue/green label state (Sinks.updateLabelTable):
      // each batch stages a fresh generation and flips <prefix>_current —
      // a crash in any window leaves a complete serving generation, the
      // same discipline as the four persisted index families (and the
      // update plan reads the OLD generation while writing the NEW one,
      // so no materialize-before-overwrite hack is needed)
      val prefix = s"cc_stream_labels_${ScratchKeys.forPath(d)}"
      graft.sources.Sinks.Labels.drop(s, prefix)
      graft.sources.Sinks.updateLabelTable(
        s, prefix, Dedup.connectedComponents(oldEdges), 8)
      drainBatches(splitStream(s, d, dayEdges)) { (batch, _) =>
        val updated = Dedup.incrementalConnectedComponents(
          graft.sources.Sinks.readLabelTable(s, prefix), batch)
        graft.sources.Sinks.updateLabelTable(s, prefix, updated, 8)
      }
      docs.select("doc_id")
        .join(graft.sources.Sinks.readLabelTable(s, prefix)
            .withColumnRenamed("id", "doc_id").withColumnRenamed("rep", "inc_rep"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("inc_rep"), col("doc_id")).as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // Streaming QUERY serving — the dual of every other st_*ann* query
    // (those stream the INDEX side; production also streams the QUERY
    // side: requests arrive continuously and probe a fixed serving
    // index). The query set drains in four micro-batches, each probing
    // the persisted full-corpus IVF index inside foreachBatch and
    // appending (batch-stamped) results to a sink. Per-query top-k is
    // independent of what else is in the batch and the quantizer is
    // deterministic, so the drained union must equal the one-shot batch
    // probe EXACTLY (serve_ok pins row parity + all 4 batches served);
    // recall vs brute force certifies the served answers at the same
    // floor as the batch path.
    "st_knn_serving_parity" -> ((s, d) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, d, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      // the fixed serving index IS the suite's shared serving-config base
      // (full corpus, nlist=16, assign=2) — probed read-only per batch
      val prefix = SimilarityQueries.ensureIvfBase(s, d)
      def probe(batch: DataFrame): DataFrame = Similarity.ivfTopKAgainstIndex(
        batch, prefix, "vec_id", "embedding", k = 3, nprobe = SimilarityQueries.IvfNprobe)
      val queries4 = Split("queries4", "embeddings", "vec_id", _.filter(col("vec_id") % 50 === 0))
      val (streamed, _, ok) = servingParity(splitStream(s, d, queries4),
        probe(q).localCheckpoint(true))(probe)
      Parity.recallCertificate(SimilarityQueries.exactTop3(s, d), streamed, "ivf_recall_ok",
        SimilarityQueries.IvfRecallFloor)("serve_ok" -> ok)
    }),

    // Streaming CLUSTER-ID tagging — the clustering tier's serving dual
    // (what st_knn_serving_parity is to the ANN tier): the k-means model
    // is trained once and PERSISTED (writeKmeansModel — cents + meta,
    // the train/serve split), then the corpus streams in four
    // micro-batches, each assigned against the stored centroids in
    // foreachBatch and appended batch-stamped. Assignment is per-row and
    // the model frozen, so the drained union must equal the one-shot
    // assignment EXACTLY (serve_ok pins row parity + 4 batches), and the
    // emitted rows are the one-shot assignment — which the oracle
    // replays in FULL (training included), so a stored model that
    // diverged from the trained centroids hash-mismatches.
    "st_kmeans_serving_parity" -> ((s, d) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, d, "embeddings")
      val prefix = s"km_serve_${ScratchKeys.forPath(d)}"
      Similarity.Kmeans.drop(s, prefix)
      Similarity.writeKmeansModel(e, "vec_id", "embedding", prefix,
        k = 8, iters = 2)
      // one-shot side = the suite-shared assignment frame (same k/iters
      // — trains in-session; the oracle's full replay pins that the
      // PERSISTED model matches it)
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Vecs4),
          SimilarityQueries.kmeansAssignFrame(s, d)) {
        Similarity.assignAgainstKmeansModel(_, prefix, "vec_id", "embedding")
      }
      oneShot
        .withColumn("serve_ok", lit(ok))
        .select("vec_id", "cid", "dist", "serve_ok")
        .orderBy("vec_id")
    }),

    // Streamed classifier serving: the linear quality probe is trained
    // once and PERSISTED (writeLinearModel — weights + meta, the 6th
    // persisted family), then the corpus streams in four micro-batches,
    // each featurized row-locally and scored against the STORED weights
    // in foreachBatch (features bound by stored NAME, not caller order).
    // Scoring is per-row under a frozen model, so the drained union must
    // equal the one-shot scoring EXACTLY (serve_ok pins row parity + 4
    // batches) — and the oracle replays the FULL training (all 50 GD
    // rounds), so a persisted model diverging from the trained weights
    // hash-mismatches.
    "st_classifier_serving_parity" -> ((s, d) => {
      import graft.operators.LinearModel
      val prefix = s"clf_serve_${ScratchKeys.forPath(d)}"
      LinearModel.Linear.drop(s, prefix)
      LinearModel.writeLinearModel(s, prefix,
        TextQueries.ClfXCols, TextQueries.classifierWeights(s, d))
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Docs4),
          LinearModel.scoreSquashedLinear(
              TextQueries.classifierFeatures(s, d),
              TextQueries.ClfXCols, TextQueries.classifierWeights(s, d))
            .select("doc_id", "score", "pred")
            .localCheckpoint(true)) { batch =>
        LinearModel.scoreAgainstLinearModel(TextQueries.classifierFeatureCols(batch), prefix)
          .select("doc_id", "score", "pred")
      }
      oneShot
        .withColumn("serve_ok", lit(ok))
        .select(col("doc_id"),
          round(col("score") + 1e-9, 4).as("score"),
          col("pred").as("pred_keep"), col("serve_ok"))
        .orderBy("doc_id")
    }),

    // Streamed CALIBRATED-classifier serving: the holdout-trained weights
    // AND the isotonic step map freeze on disk
    // (writeCalibratedLinearModel), then the corpus streams in four
    // micro-batches, each featurized row-locally and scored through BOTH
    // stored artifacts in foreachBatch — the raw score and the
    // calibrated keep-probability come off disk per batch. Per-row
    // scoring under frozen artifacts, so the drained union must equal
    // the one-shot pass EXACTLY (serve_ok pins row parity + 4 batches);
    // the oracle replays training, the PAV fit, and the step map over
    // ALL docs.
    "st_clf_cal_serving_parity" -> ((s, d) => {
      import graft.operators.LinearModel
      val prefix = s"clf_cals_${ScratchKeys.forPath(d)}"
      LinearModel.Calibrated.drop(s, prefix)
      LinearModel.writeCalibratedLinearModel(s, prefix, TextQueries.ClfXCols,
        TextQueries.holdoutWeights(s, d), TextQueries.calibrationFitFrame(s, d))
      def score(docs: DataFrame): DataFrame =
        LinearModel.scoreAgainstCalibratedModel(docs, prefix)
          .select("doc_id", "score", "cal_score")
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Docs4),
          score(TextQueries.classifierFeatures(s, d)).localCheckpoint(true)) {
        batch => score(TextQueries.classifierFeatureCols(batch))
      }
      oneShot
        .withColumn("serve_ok", lit(ok))
        .select(col("doc_id"),
          round(col("score") + 1e-9, 4).as("score"),
          round(col("cal_score") + 1e-9, 7).as("cal_score"),
          col("serve_ok"))
        .orderBy("doc_id")
    }),

    // Streamed BLOCKLIST rewrite — the span-rewrite verb's streaming twin
    // (r13 verdict #3): the corpus-derived top-10 bigram blocklist
    // freezes BEFORE the stream starts (collected once, embedded as the
    // automaton literal — a blocklist is a broadcast-sized artifact),
    // then the corpus streams in four micro-batches through the same
    // ahoSpans + exciseSpans row-local fold the one-shot
    // tx_blocklist_scrub runs. Stateless per-row rewrite under a frozen
    // pattern set, so the drained union must equal the one-shot pass —
    // the oracle IS the full excision replay (blocklistScrubSql).
    "st_blocklist_parity" -> ((s, d) => {
      val pats = TextQueries.top10BigramBlocklist(s, d)
      val stream = splitStream(s, d,
        Split("doctext4", "documents", "doc_id", _.select("doc_id", "text")))
      drain(TextQueries.blocklistScrub(stream, pats), "st_blocklist", "append")
        .orderBy("doc_id")
    }),

    // Streamed blocklist INGEST — the 11th family's maintenance twin:
    // seed the persisted blocklist with the first four live patterns,
    // stream the remaining six (pattern rows, three micro-batches of
    // two) through ingestIntoBlocklist in foreachBatch — each fold is an
    // idempotent append (re-adding a live pattern is a no-op), so a
    // batch retry cannot double-count — then serve the corpus scan from
    // the RESOLVED generation. The final set equals
    // tx_blocklist_serving's (top-12 minus the top-2 take-downs), so the
    // oracle is the same relational replay; serve_ok pins batch count
    // AND exact set parity with the one-shot lifecycle's resolve.
    "st_blocklist_ingest_parity" -> ((s, d) => {
      import graft.operators.Text
      import s.implicits._
      val finalSet = TextQueries.topBigramBlocklist(s, d, 12).drop(2)
      val prefix = s"blk_st_${ScratchKeys.forPath(d)}"
      Text.Blocklist.drop(s, prefix)
      Text.writeBlocklist(s, prefix, finalSet.take(4))
      val batches = finalSet.drop(4).grouped(2).toSeq
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      ScratchKeys.withScratch("graft_stream_blk_") { scratch =>
        val patDir = s"$scratch/pats"
        batches.foreach(ps =>
          ps.toDF("pattern").coalesce(1)
            .write.mode("append").parquet(patDir))
        drainBatches(microBatches(s, patDir)) { (batch, _) =>
          Text.ingestIntoBlocklist(s, prefix,
            batch.select("pattern").collect().map(_.getString(0)).toSeq)
          seen.incrementAndGet(): Unit
        }
      }
      val resolved = Text.resolveBlocklist(s, prefix)
      val ok = resolved == finalSet.sorted && seen.get() == batches.size.toLong
      TextQueries.blocklistScan(
          graft.sources.Tables.load(s, d, "documents"), resolved)
        .withColumn("serve_ok", lit(ok))
        .orderBy("doc_id")
    }),

    // Streamed tokenizer serving: the unigram-LM piece model is trained
    // once and PERSISTED (writeUlmModel — the eighth persisted family),
    // then the corpus streams in four micro-batches, each batch's words
    // encoded in foreachBatch against the STORED pieces (the same
    // Viterbi fold as training, generation-resolved). Encoding is
    // per-word under a frozen vocabulary, so the drained per-doc counts
    // must equal the one-shot encode EXACTLY (serve_ok pins row parity +
    // 4 batches), and the oracle replays the FULL EM training — a stored
    // model diverging from the trained pieces hash-mismatches.
    "st_ulm_serving_parity" -> ((s, d) => {
      import graft.operators.Text
      val prefix = s"ulm_stream_${ScratchKeys.forPath(d)}"
      Text.Ulm.drop(s, prefix)
      val (pieces, _) = TextQueries.ulm2(s, d)
      Text.writeUlmModel(pieces, prefix, maxPieceLen = 4)
      // per-doc (n_words, n_subtoks) through the persisted model: encode
      // the DISTINCT words once and join back — the distinct-word serving
      // trick, at micro-batch grain on the streamed side
      def encode(docs: DataFrame): DataFrame = {
        val words = docs
          .select(col("doc_id"),
            explode(graft.functions.CrossHash.tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
        val enc = Text.encodeAgainstUlmModel(
            words.select("word").distinct(), "word", prefix)
          .select("word", "n_pieces").localCheckpoint(true)
        words.join(enc, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subtoks"))
      }
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Docs4),
        encode(graft.sources.Tables.load(s, d, "documents")).localCheckpoint(true))(encode)
      oneShot
        .withColumn("subtok_ratio",
          round(col("n_subtoks").cast("double") / col("n_words") + 1e-9, 4))
        .withColumn("serve_ok", lit(ok))
        .select("doc_id", "n_words", "n_subtoks", "subtok_ratio", "serve_ok")
        .orderBy("doc_id")
    }),

    // Streamed DoReMi mixture maintenance: the reference models FREEZE
    // first (the KN family build + the unigram (term, cf) table persisted
    // as the frozen artifacts), then the corpus streams in four
    // micro-batches, each scored in foreachBatch against the FROZEN stats
    // and reduced to per-domain (Σ excess as DECIMAL(28,14), n) partials —
    // exact and order-free, so the drained fold feeds the multiplicative-
    // weights rounds the IDENTICAL λ the one-shot query computes, and the
    // final mixture must match tx_doremi_weights row for row (serve_ok
    // pins parity + 4 batches; the oracle replays the whole chain).
    "st_doremi_parity" -> ((s, d) => {
      import graft.operators.{Sampling, Text}
      val toks = graft.functions.CrossHash.tokens(col("text"))
      // the frozen reference artifacts are the SHARED bases (prewarmed
      // through SharedFrames), so this query measures the four scoring
      // drains + the MW fold — not the reference-model training that
      // used to land here as first-consumer cost
      val knPrefix = TextQueries.ensureKnBase(s, d)
      val cfStats = TextQueries.unigramCfFrame(s, d)
      ScratchKeys.withScratch("graft_stream_dor_") { scratch =>
        val resultsDir = s"$scratch/results"
        // the one-shot mixture is stream-independent (frozen KN base +
        // unigram stats + corpus) — computed while the drain runs
        // (guide §2.6, see `overlapping`)
        val oneShot = overlapping {
          TextQueries.queries("tx_doremi_weights")(s, d).localCheckpoint(true)
        } {
          drainBatches(splitStream(s, d, Docs4)) { (batch, bid) =>
            val b = batch.localCheckpoint(true)
            val u = Text.unigramScoreAgainstStats(
                Text.unigramTf(b, "doc_id", toks), cfStats)
              .select(col("id"), col("nll").as("unll"))
            val k = Text.scoreAgainstKnModel(b, "doc_id", toks, knPrefix)
              .select(col("id"), col("nll").as("knll"))
            u.join(k, Seq("id"))
              .join(b.select(col("doc_id").as("id"),
                col("lang").as("domain")), Seq("id"))
              .groupBy("domain")
              .agg(sum(greatest(col("unll") - col("knll"), lit(0.0))
                  .cast("decimal(28,14)")).as("sx"),
                count(lit(1)).as("n"))
              .withColumn("batch_id", lit(bid))
              .write.mode("append").parquet(resultsDir)
          }
        }
        val partials = s.read.parquet(resultsDir).localCheckpoint(true)
        val ex = partials.groupBy("domain")
          .agg((sum("sx").cast("double") / sum("n")).as("lam"),
            sum("n").as("n_docs"))
          .localCheckpoint(true)
        val streamed = Sampling.doremiMixture(ex.select("domain", "lam"),
            eta = 10.0, smooth = 0.1, rounds = 10)
          .join(ex.select("domain", "n_docs"), Seq("domain"))
          .select(col("domain"), col("n_docs"),
            round(col("lam") + 1e-9, 7).as("lam_excess"),
            round(col("alpha_final") + 1e-9, 7).as("alpha_final"),
            round(col("alpha_avg") + 1e-9, 7).as("alpha_avg"))
          .localCheckpoint(true)
        // one tagged-union aggregation job (see Parity.multisetEqual)
        val parity = Parity.multisetEqual(streamed, oneShot)
        val batches = partials.select("batch_id").distinct().count()
        oneShot
          .withColumn("serve_ok", lit(parity && batches == 4L))
          .orderBy("domain")
      }
    }),

    // Streamed KN-LM serving: the ninth family's streaming twin — the
    // bigram-count model trains once and PERSISTS (`Text.Kn.write`), then
    // the corpus streams in four micro-batches, each batch scored in
    // foreachBatch against the STORED statistics (generation-resolved
    // fold, tx_kn_nll's arithmetic). Per-doc scores depend only on the
    // doc's own bigrams + the frozen stats, so the drained scores must
    // equal the one-shot serving pass EXACTLY (serve_ok pins row parity
    // + 4 batches) and the oracle replays the full corpus chain. Scores
    // against the SHARED persisted full-corpus base (prewarmed through
    // SharedFrames) — the query measures streamed serving, not the model
    // build; the shared serving fold is single-flight in SessionMemo, so
    // the one-shot side's race with batch 0 builds it exactly once.
    "st_kn_serving_parity" -> ((s, d) => {
      import graft.operators.Text
      val prefix = TextQueries.ensureKnBase(s, d)
      def score(docs: DataFrame): DataFrame = Text.scoreAgainstKnModel(
        docs, "doc_id", graft.functions.CrossHash.tokens(col("text")), prefix)
        .withColumnRenamed("id", "doc_id")
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Docs4),
        score(graft.sources.Tables.load(s, d, "documents")).localCheckpoint(true))(score)
      oneShot
        .withColumn("serve_ok", lit(ok))
        .select("doc_id", "n_bigrams", "n_oov", "nll", "serve_ok")
        .orderBy("doc_id")
    }),

    // Streamed TRIGRAM KN-LM serving — the tenth family's streaming twin
    // (st_kn_serving_parity one order up, over the same split): each
    // micro-batch is scored in foreachBatch against the SHARED persisted
    // trigram base (generation-resolved fold, tx_kn3_nll's arithmetic).
    // Per-doc scores depend only on the doc's own trigrams + the frozen
    // stats, so the drained scores must equal the one-shot serving pass
    // EXACTLY (serve_ok pins row parity + 4 batches) and the oracle
    // replays the full corpus chain.
    "st_kn3_serving_parity" -> ((s, d) => {
      import graft.operators.Text
      val prefix = TextQueries.ensureKn3Base(s, d)
      def score(docs: DataFrame): DataFrame = Text.scoreAgainstKn3Model(
        docs, "doc_id", graft.functions.CrossHash.tokens(col("text")), prefix)
        .withColumnRenamed("id", "doc_id")
      val (_, oneShot, ok) = servingParity(splitStream(s, d, Docs4),
        score(graft.sources.Tables.load(s, d, "documents")).localCheckpoint(true))(score)
      oneShot
        .withColumn("serve_ok", lit(ok))
        .select("doc_id", "n_trigrams", "n_oov", "nll", "serve_ok")
        .orderBy("doc_id")
    }),

    // Streamed IVF-PQ index maintenance: st_ann_index_parity extended to
    // the code tier — each micro-batch appends under the FROZEN coarse
    // quantizer AND PQ codebooks (appendToIvfPqIndex), so four streamed
    // appends produce byte-identical codes to sim_knn_ivfpq_ingest's
    // one-shot batch append, and the probe matches the SAME brute-force
    // oracle exactly. Certificates: compound recall through the grown
    // index plus exactly-once codes completeness.
    "st_ivfpq_index_parity" -> ((s, d) => {
      import graft.operators.Similarity
      val e = graft.sources.Tables.load(s, d, "embeddings")
      val prefix = s"ivfpq_stream_${ScratchKeys.forPath(d)}"
      Similarity.IvfPq.drop(s, prefix)
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", prefix,
        buckets = 8, nlist = 16, nlistIters = 3, m = 16, ks = 16, iters = 2,
        assign = SimilarityQueries.IvfAssign)
      // the same split st_ann_index_parity streams
      drainBatches(splitStream(s, d, DayVecs4)) { (batch, bid) =>
        // production append body: batchId-keyed exactly-once
        Similarity.exactlyOnceAppendToIvfPqIndex(batch, prefix, "vec_id", "embedding", bid): Unit
      }
      val grown = Similarity.ivfPqTopKAgainstIndex(
          e.filter(col("vec_id") % 50 === 0), prefix, "vec_id", "embedding",
          k = 3, nprobe = SimilarityQueries.IvfNprobe, shortlist = 128)
      // resolution-safe: a retried batch's scrub advances a generation
      Parity.recallCertificate(SimilarityQueries.exactTop3(s, d), grown, "ivfpq_recall_ok",
        SimilarityQueries.IvfPqRecallFloor)(
        "index_ok" -> SimilarityQueries.indexComplete(s, prefix, "_codes", e.count()))
    }),

    // Streaming retrieval ingest — the inverted-index family's twin: the
    // base index serves 90% of the corpus, the remaining tenth arrives as
    // four micro-batches whose foreachBatch body is the production
    // exactly-once ingest (batchId-keyed ledger). The post-drain BM25
    // probe must equal the one-shot full-corpus Text.bm25 oracle
    // verbatim — a lost batch shifts n_docs/avgdl/df, a duplicated one
    // doubles a tf — and the certificate additionally pins the index's
    // stats-vs-corpus totals.
    "st_text_index_parity" -> ((s, d) => {
      import graft.functions.CrossHash
      import graft.operators.TextIndex
      val docs = graft.sources.Tables.load(s, d, "documents")
      val tk = CrossHash.tokens(col("text"))
      val prefix = s"ti_stream_index_${ScratchKeys.forPath(d)}"
      TextIndex.Family.drop(s, prefix)
      TextIndex.writeTextIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", tk, prefix, buckets = 8)
      // the certificate's corpus count is stream-independent — computed
      // while the drain runs (guide §2.6, see `overlapping`)
      val nAll = overlapping(docs.count()) {
        drainBatches(splitStream(s, d, DayDocs4)) { (batch, bid) =>
          TextIndex.exactlyOnceIngestIntoTextIndex(batch, "doc_id",
            CrossHash.tokens(col("text")), prefix, bid): Unit
        }
      }
      val statsN = s.table(s"${prefix}_stats")
        .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
      val lensN = s.table(s"${prefix}_doclens").count()
      TextIndex.bm25AgainstIndex(s, prefix, TextQueries.BmQueryTerms, 20)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .withColumn("index_ok", lit(statsN == nAll && lensN == nAll))
    }),

    // Streaming DSIR model maintenance: the selection model's bin counts
    // and per-doc term counts are ADDITIVE partials, so each micro-batch
    // appends its own aggregation and day-close scoring re-sums — the
    // drained top-50 must equal the one-shot tx_dsir_sample replay
    // exactly, and the certificate pins the accumulated model's token
    // total against the corpus (a lost or doubled batch breaks both).
    "st_dsir_parity" -> ((s, d) => {
      import graft.functions.CrossHash
      import graft.operators.Text
      val docs = graft.sources.Tables.load(s, d, "documents")
      val binsT = s"dsir_bins_${ScratchKeys.forPath(d)}"
      val dtfT = s"dsir_dtf_${ScratchKeys.forPath(d)}"
      Seq(binsT, dtfT).foreach(graft.sources.Sinks.dropManagedTable(s, _))
      // the certificate's corpus token total is stream-independent —
      // computed while the drain runs (guide §2.6, see `overlapping`)
      val totTok = overlapping {
        docs.select(explode(CrossHash.tokens(col("text")))).count()
      } {
        drainBatches(splitStream(s, d, Docs4)) { (batch, _) =>
          val (bp, dp) = Text.dsirPartials(batch, "doc_id",
            CrossHash.tokens(col("text")), col("lang") === "en")
          bp.write.mode(org.apache.spark.sql.SaveMode.Append)
            .format("parquet").saveAsTable(binsT)
          dp.write.mode(org.apache.spark.sql.SaveMode.Append)
            .format("parquet").saveAsTable(dtfT)
        }
      }
      val crSum = s.table(binsT)
        .agg(coalesce(sum("cr"), lit(0L))).head().getLong(0)
      Text.dsirWeightsFromPartials(s.table(binsT), s.table(dtfT))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("dsir_w").desc, col("doc_id"))
        .limit(50)
        .withColumn("model_ok", lit(crSum == totTok))
    }),

    // Streaming ingest through the PERSISTED gram index — the substring
    // twin of st_dedup_index_parity, executing writeGramIndex's
    // maintenance contract: the corpus side (doc_id % 10 != 0) seeds the
    // index, the day's documents (doc_id % 10 == 0) arrive as FOUR
    // micro-batches, and each foreachBatch cycle appends the batch's
    // (gram, n_docs) partials bucket-aligned. Span marking is deferred
    // to day close (unlike the pair-emitting minhash bridge): a gram
    // shared by two docs in DIFFERENT micro-batches must mark BOTH docs'
    // positions, which no per-batch probe can do for the earlier one —
    // summed df across partials ≥ 2 at day close can, and equals the
    // full-corpus marking restricted to the day EXACTLY (each document
    // contributes 1 to each of its distinct grams regardless of how the
    // day was split). The oracle is therefore the batch
    // d_dup_spans_indexed oracle verbatim, plus the append certificate:
    // sum(n_docs) over the index must equal the independently recomputed
    // distinct (doc, gram) count over ALL documents — a dropped or
    // double-appended batch flips index_ok.
    "st_gram_index_parity" -> ((s, d) => {
      import graft.functions.CrossHash
      import graft.operators.Dedup
      val docs = graft.sources.Tables.load(s, d, "documents")
      val dayDir = splitDir(s, d, DayDocs4)
      val prefix = s"gram_stream_index_${ScratchKeys.forPath(d)}"
      Dedup.Grams.drop(s, prefix)
      Dedup.writeGramIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id",
        CrossHash.tokens(col("text")), n = 5, prefix, buckets = 8)
      // the certificate's expected distinct (doc, gram) count is a pure
      // corpus aggregation, stream-independent — computed while the drain
      // runs (guide §2.6, see `overlapping`)
      val expected = overlapping {
        docs
          .select(col("doc_id"), explode(array_distinct(
            CrossHash.wordShingles(CrossHash.tokens(col("text")), 5))).as("g"))
          .count()
      } {
        drainBatches(microBatches(s, dayDir)) { (batch, bid) =>
          // production ingest body: batchId-keyed exactly-once
          Dedup.exactlyOnceIngestIntoGramIndex(batch, "doc_id",
            CrossHash.tokens(col("text")), prefix, bid): Unit
        }
      }
      // resolution-safe: a retried batch's scrub advances a generation
      val dfSum = s.table(s"${graft.sources.Sinks.activeTablePrefix(s, prefix)}_grams")
        .agg(sum("n_docs")).head().getLong(0)
      Dedup.dupSpansAtDayClose(
          s.read.parquet(dayDir), "doc_id",
          CrossHash.tokens(col("text")), prefix, minRun = 2)
        .withColumnRenamed("id", "doc_id")
        .withColumn("index_ok", lit(dfSum == expected))
        .orderBy("doc_id", "start_pos")
    }),

    // Streaming multimodal codec — the codec tier's streaming twin: the
    // document ids arrive as four micro-batches and the REAL
    // synthesize→decode pipeline (javax.imageio PNG encode + decode in
    // the partition iterator) runs INSIDE the streaming micro-batch
    // execution as a stateless transform (mapPartitions composes with
    // streaming plans — no foreachBatch escape hatch). The drained
    // features must hash-match mm_features' arithmetic oracle verbatim:
    // the codec's lossless-recovery certificate holds under streaming
    // execution, batch splits lose no clips and duplicate none.
    "st_mm_features_parity" -> ((s, d) => {
      import graft.operators.Multimodal
      val stream = splitStream(s, d,
        Split("docids4", "documents", "doc_id", _.select("doc_id")))
      val feats = Multimodal.decodeImageFeatures(
          Multimodal.synthesizePng(stream, "doc_id"))
        .select(col("asset_id"), col("width"), col("height"),
          round(col("mean_r") + 1e-9, 6).as("mean_r"),
          round(col("mean_g") + 1e-9, 6).as("mean_g"),
          round(col("mean_b") + 1e-9, 6).as("mean_b"))
      drain(feats, "st_mm_features", "append").orderBy("asset_id")
    }),

    // Streaming dedup (dropDuplicatesWithinWatermark on event_id) drained
    // to a sink, then audited: per-type row and distinct-id counts must
    // equal the batch table's (event ids are unique, so dedup is an
    // identity pass — the assertion is that streaming state dropped
    // nothing and duplicated nothing).
    "st_dedup_parity" -> ((s, d) => {
      val deduped = drain(
        EventStreams.dedupEvents(eventsStream(s, d), "1 hour"),
        "st_dedup", "append")
      deduped.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),

    // Arbitrary stateful processing through the Spark 4 transformWithState
    // API (typed ValueState on a RocksDB store — the state backend a
    // 100 TB deployment runs): per-user running totals over the FOUR-batch
    // split stream, so state must accumulate across micro-batches. Each
    // batch emits the running (count, cents); the final row per user —
    // selected by max event count, which is monotone — must equal the
    // batch aggregation. Integer cents make the cross-batch sum exact.
    "st_tws_totals_parity" -> ((s, d) => {
      import s.implicits._
      val pairs = eventsStreamSplit(s, d)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      val out = EventStreams.runningTotals(pairs).toDF()
      drain(out, "st_tws_totals", "update", RocksDbState)
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"),
          max_by(col("sum_cents"), col("n_events")).as("sum_cents"))
        .select(col("user_id"), col("n_events"),
          round(col("sum_cents") / 100.0, 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // transformWithState warm-start: per-user state is SEEDED from a batch
    // aggregate over half the events (even ids), then only the other half
    // (odd ids) streams — the pattern for migrating a standing batch
    // rollup onto a stream without reprocessing history. Final per-user
    // totals must equal the batch aggregation over ALL events (restricted
    // to users that appear in the stream, since only they re-emit).
    "st_tws_bootstrap_parity" -> ((s, d) => {
      import s.implicits._
      val centsExpr = "CAST(round(value * 100) AS BIGINT)"
      val initial = graft.sources.Tables.load(s, d, "events")
        .filter(col("event_id") % 2 === 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(expr(centsExpr)).as("cents"))
        .select(col("user_id"), col("n"), col("cents"))
        .as[(Long, Long, Long)]
      val pairs = eventsStream(s, d)
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"), expr(centsExpr).as("cents"))
        .as[(Long, Long)]
      val out = EventStreams.bootstrappedTotals(pairs, initial).toDF()
      drain(out, "st_tws_bootstrap", "update", RocksDbState)
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"),
          max_by(col("sum_cents"), col("n_events")).as("sum_cents"))
        .select(col("user_id"), col("n_events"),
          round(col("sum_cents") / 100.0, 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // Stream-static enrichment: the events stream joined to the customer
    // dimension loaded as a plain BATCH frame — the standard streaming
    // enrichment pattern (the dim is broadcast per micro-batch, no state
    // store involved for the join itself). Aggregated per segment in
    // complete mode; the oracle is the plain batch join.
    "st_dim_join_parity" -> ((s, d) => {
      val dim = graft.sources.Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      drain(agg, "st_dim_join", "complete").orderBy("c_mktsegment")
    }),

    // CHAINED stateful aggregation in one streaming query (multiple
    // stateful operators, Spark 3.4+): hourly sums roll up into daily
    // (n_hours, sum) windows via window-of-window, both stages sharing the
    // event-time watermark. This is the streaming shape of every rollup
    // hierarchy at scale — the alternative is two queries bridged by a
    // sink, paying a full extra write/read of the intermediate. Append
    // mode is mandatory for chained aggs, so emission is driven by the
    // flush-sentinel fixture; sums ride DECIMAL so micro-batch addition
    // order cannot drift the double.
    "st_chained_agg_parity" -> ((s, d) => {
      val hourly = eventsStreamFlush(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("hv"))
      val daily = hourly
        .groupBy(window(col("window"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum("hv").as("dv"))
        .select(
          date_format(col("window.start"), Fmt).as("day_start"),
          col("event_type"), col("n_hours"),
          round(col("dv").cast("double") + 1e-9, 2).as("sum_value"))
      drain(daily, "st_chained_agg", "append")
        .filter(col("event_type") =!= "__flush")
        .orderBy("day_start", "event_type")
    }),

    // The deployment-shaped drain: append-mode PARQUET file sink with a
    // checkpointLocation — exactly-once landing via the checkpoint's source
    // offsets + the sink's _spark_metadata file manifest (restart/resume
    // semantics are pinned in StreamingSpec). The parity check aggregates
    // the LANDED FILES, read back like any downstream batch consumer, and
    // must equal the batch twin over the same parquet. Fresh scratch dirs
    // per invocation (removed after the result is materialized) keep the
    // query self-contained and idempotent across suite runs.
    "st_file_sink_parity" -> ((s, d) => ScratchKeys.withScratch("graft_file_sink_") { scratch =>
      val out = s"$scratch/out"
      val stream = eventsStream(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      drainStream(s) {
        stream.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$scratch/chk")
          .outputMode("append")
      }
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
        .localCheckpoint(true)
    })
  )

  val oracles: Map[String, String] = Map(

    "st_tumbling_parity" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_start,
        | event_type, count(1) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY day_start, event_type
        |ORDER BY day_start, event_type""".stripMargin,

    // Full-corpus brute-force rows + four pinned-TRUE certificates: the
    // quantizer retrain has no SQL twin, so the oracle pins continuity
    // (pre drains served all queries), staleness (no held-out neighbor
    // pre-flip), post-cutover serving recall, and the 2+2-drain/gen/
    // retired lifecycle through the emitted rows.
    "st_rebuild_cutover_parity" ->
      SimilarityQueries.exactTop3Sql("TRUE", "post_recall_ok", "pre_served_ok",
        "pre_stale_ok", "lifecycle_ok"),

    // brute-force rows + pinned-TRUE recall/serving certificates: the
    // streamed query drain must reproduce the one-shot probe exactly
    // and clear the serving recall floor
    "st_knn_serving_parity" ->
      SimilarityQueries.exactTop3Sql("TRUE", "ivf_recall_ok", "serve_ok"),

    // the one-shot k-means assignment replayed in FULL (training
    // included) — a persisted model diverging from the trained
    // centroids, a lost batch, or a double-served row hash-mismatches
    "st_kmeans_serving_parity" ->
      s"""WITH ${SimilarityQueries.kmeansCtes}
         |SELECT vec_id, cid, round(d + 0.000000001, 4) AS dist, TRUE AS serve_ok
         |FROM af ORDER BY vec_id""".stripMargin,

    // tx_quality_classifier's full-training replay with the pinned-TRUE
    // serving certificate: four streamed scoring batches against the
    // persisted weights must union to the one-shot corpus scoring.
    "st_classifier_serving_parity" ->
      s"""${TextQueries.classifierCtes}
         |SELECT doc_id, round(s7 + 0.000000001, 4) AS score,
         |       s7 >= 0.5 AS pred_keep, TRUE AS serve_ok
         |FROM sc ORDER BY doc_id""".stripMargin,

    // the full holdout-training + PAV-fit + step-map replay over ALL
    // docs (train ∪ test), serve_ok pinned TRUE: four streamed batches
    // through the persisted weights + calibration map must union to the
    // one-shot pass.
    "st_clf_cal_serving_parity" ->
      TextQueries.clfCalAllDocsSql(",\n  TRUE AS serve_ok"),

    // the streamed blocklist rewrite must drain to exactly the one-shot
    // excision — tx_blocklist_scrub's replay verbatim
    "st_blocklist_parity" -> TextQueries.blocklistScrubSql,

    // the streamed ingest folds must resolve to the one-shot lifecycle's
    // live set — tx_blocklist_serving's replay + the pinned certificate
    "st_blocklist_ingest_parity" ->
      TextQueries.blocklistServeSql(",\n  TRUE AS serve_ok"),

    // full EM-training replay (TextQueries.ulmChainSql): the streamed
    // per-doc counts under the PERSISTED piece model must equal the
    // training-corpus encode exactly
    "st_ulm_serving_parity" ->
      TextQueries.ulmEncodeOracle(2, extraCols = ",\n  TRUE AS serve_ok"),

    // Identical to sim_knn_ivf_ingest's oracle: four streamed appends
    // must yield the same probe rows as the one-shot batch append (brute
    // rows + pinned recall/completeness certificates).
    "st_ann_index_parity" ->
      SimilarityQueries.exactTop3Sql("TRUE", "ivf_recall_ok", "index_ok"),

    // tx_kn_serving's full-corpus chain over ALL docs, serve_ok pinned
    // TRUE: streamed per-batch scoring against the frozen stats must be
    // row-identical to the one-shot pass.
    "st_kn_serving_parity" ->
      TextQueries.knServeSql("", "", ",\n  TRUE AS serve_ok"),

    // tx_kn3_serving's full-corpus chain over ALL docs, serve_ok pinned
    // TRUE — the tenth family's streamed scoring must be row-identical
    // to the one-shot pass.
    "st_kn3_serving_parity" ->
      TextQueries.kn3ServeSql("", "", ",\n  TRUE AS serve_ok"),

    // tx_doremi_weights' full replay with serve_ok pinned TRUE: the
    // drained decimal partials fold to the identical lambda, so the
    // streamed mixture must equal the one-shot chain exactly.
    "st_doremi_parity" ->
      s"""${TextQueries.doremiChainSql}
         |SELECT domain, n_docs,
         |  round(lam + 0.000000001, 7) AS lam_excess,
         |  round(alpha + 0.000000001, 7) AS alpha_final,
         |  round(ravg / 10.0 + 0.000000001, 7) AS alpha_avg,
         |  TRUE AS serve_ok
         |FROM ex JOIN fw USING (domain)
         |ORDER BY domain""".stripMargin,

    // d_incremental_clusters' full-recompute oracle verbatim: four
    // composed label updates must equal the one-shot day update.
    "st_incr_cc_parity" ->
      s"""WITH RECURSIVE ${DedupQueries.ClusterRepBody}
         |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.id
         |ORDER BY d.doc_id""".stripMargin,

    // Brute-force rows + pinned-TRUE certificates, like st_ann — the
    // streamed IVF-PQ appends must reproduce the one-shot batch index.
    "st_ivfpq_index_parity" ->
      SimilarityQueries.exactTop3Sql("TRUE", "ivfpq_recall_ok", "index_ok"),

    // The batch d_incremental answer (new×index minhash pairs, grouped)
    // plus the pinned-TRUE append certificate — a dropped or double
    // appended batch flips index_ok or changes the pair set.
    // mm_features' arithmetic raster oracle verbatim — streaming
    // execution must not change what the codec recovers.
    "st_mm_features_parity" ->
      """WITH m AS (SELECT doc_id AS asset_id, (doc_id % 13 + 4) AS w, (doc_id % 11 + 4) AS h
        |           FROM documents),
        |px AS (SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM m),
        |v AS (SELECT asset_id, w, h, p % w AS x, p // w AS y FROM px)
        |SELECT asset_id, w::INT AS width, h::INT AS height,
        |       round(avg((asset_id * 37 + x * 11 + y * 17) % 256) + 0.000000001, 6) AS mean_r,
        |       round(avg((asset_id * 37 + x * 11 + y * 17 + 29) % 256) + 0.000000001, 6) AS mean_g,
        |       round(avg((asset_id * 37 + x * 11 + y * 17 + 58) % 256) + 0.000000001, 6) AS mean_b
        |FROM v GROUP BY asset_id, w, h ORDER BY asset_id""".stripMargin,

    "st_dedup_index_parity" ->
      s"""WITH ${DedupQueries.MinhashPairsBody},
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches,
         |  TRUE AS index_ok
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    // d_delete_probe's oracle (pairs minus deleted index side) + the
    // pinned-TRUE survivors-only completeness certificate: the streamed
    // take-down drain must land exactly where the batch deletion does.
    "st_index_delete_parity" ->
      s"""WITH ${DedupQueries.MinhashPairsBody},
         |hits AS (
         |  SELECT CASE WHEN a % 10 = 0 THEN a ELSE b END AS new_id,
         |         CASE WHEN a % 10 = 0 THEN b ELSE a END AS index_id
         |  FROM pairs WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT new_id, min(index_id) AS dup_of, count(*) AS n_matches,
         |  TRUE AS index_ok
         |FROM hits WHERE index_id % 3 <> 0
         |GROUP BY new_id ORDER BY new_id""".stripMargin,

    // The batch d_dup_spans_indexed oracle verbatim (full-corpus marking
    // restricted to the day's documents) + the pinned-TRUE append
    // certificate — four streamed df-partial appends must lose nothing a
    // one-shot batch marking keeps, including spans whose two documents
    // arrived in different micro-batches.
    "st_text_index_parity" ->
      TextQueries.bm25OracleSql("", extraCols = ", TRUE AS index_ok"),

    "st_dsir_parity" ->
      TextQueries.dsirOracleSql(", TRUE AS model_ok"),

    "st_gram_index_parity" ->
      s"""WITH ${DedupQueries.GramSpansIndexedBody}
         |SELECT doc_id, start_pos, n_grams, span_words, TRUE AS index_ok
         |FROM s WHERE n_grams >= 2 AND doc_id % 10 = 0
         |ORDER BY doc_id, start_pos""".stripMargin,

    "st_sliding_parity" ->
      """SELECT strftime(make_timestamp(
        |    (epoch_us(ts) // 1800000000) * 1800000000 - i * 1800000000),
        |    '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(1) AS n, round(sum(value), 2) AS sum_value
        |FROM events, range(0, 4) r(i)
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "st_session_parity" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // identical merge rule to st_session_parity — the query differs only
    // in HOW the input arrives (four interleaved micro-batches)
    "st_multibatch_parity" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS nw
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "st_late_data_parity" ->
      """WITH a AS (SELECT ts, value FROM events WHERE event_id % 5 <> 0),
        |wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM a),
        |keep AS (
        |  SELECT ts, value FROM a
        |  UNION ALL
        |  SELECT e.ts, e.value FROM events e, wm
        |  WHERE e.event_id % 5 = 0
        |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  count(1) AS n,
        |  round(sum(value::DECIMAL(18,6))::DOUBLE + 0.000000001, 2) AS sum_value
        |FROM keep GROUP BY win_start ORDER BY win_start""".stripMargin,

    "st_foreachbatch_upsert" ->
      """SELECT user_id, count(1) AS n_events,
        |  round(sum(value::DECIMAL(18,6))::DOUBLE + 0.000000001, 2) AS sum_value,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st_join_parity" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
        |ORDER BY view_id, purchase_id""".stripMargin,

    "st_join_outer_parity" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
        |ORDER BY view_id, purchase_id""".stripMargin,

    "st_dedup_parity" ->
      """SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "st_tws_bootstrap_parity" ->
      """SELECT user_id, count(1) AS n_events,
        |  round(sum(CAST(round(value * 100) AS BIGINT))::BIGINT / 100.0, 2) AS sum_value
        |FROM events GROUP BY user_id
        |HAVING sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id""".stripMargin,

    "st_tws_totals_parity" ->
      """SELECT user_id, count(1) AS n_events,
        |  round(sum(CAST(round(value * 100) AS BIGINT))::BIGINT / 100.0, 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st_dim_join_parity" ->
      """SELECT c_mktsegment, count(1) AS n, round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "st_chained_agg_parity" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type,
        |         sum(value::DECIMAL(18,6)) AS hv
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(date_trunc('day', hr), '%Y-%m-%d %H:%M:%S') AS day_start,
        |       event_type, count(1) AS n_hours,
        |       round(sum(hv)::DOUBLE + 0.000000001, 2) AS sum_value
        |FROM h GROUP BY date_trunc('day', hr), event_type
        |ORDER BY day_start, event_type""".stripMargin,

    "st_file_sink_parity" ->
      """SELECT event_type, count(1) AS n, count(DISTINCT event_id) AS n_ids,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}

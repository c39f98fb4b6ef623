package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Deterministic MemoryStream tests for the streaming tier — watermark and
  * session-state semantics have no DuckDB oracle (SURVEY.md §7.5), so they
  * are pinned here instead.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L, typ: String = "view", v: Double = 1.0) =
    Event(id, ts(t), user, typ, v)

  test("tumblingCounts aggregates per window and drops late data past watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF(), "10 minutes", "15 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:01:00"), ev(2, "2024-01-01 10:05:00"),
        ev(3, "2024-01-01 10:12:00"))
      q.processAllAvailable()
      // advance event time far enough that the 10:00 window closes...
      input.addData(ev(4, "2024-01-01 11:00:00"))
      q.processAllAvailable()
      // ...then a very late event for the closed window must be dropped.
      input.addData(ev(5, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      input.addData(ev(6, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("window_start", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts("2024-01-01 10:00:00")) == 2L) // events 1+2; late event 5 dropped
      assert(rows(ts("2024-01-01 10:10:00")) == 1L)
    } finally q.stop()
  }

  test("sessionWindows merges events within gap into one session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionWindows(input.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"), // one session
        ev(3, "2024-01-01 12:00:00")) // second session
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-02 00:00:00")) // push watermark, close sessions
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("session_start", "n_events").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts("2024-01-01 10:00:00")) == 2L)
      assert(rows(ts("2024-01-01 12:00:00")) == 1L)
    } finally q.stop()
  }

  test("streaming lands in the day-partitioned parquet sink via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF(), "10 minutes", "15 minutes")
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$out/_chk")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // daily=true => append: each micro-batch adds its closed windows.
        graft.sources.Sinks.write(batch, s"$out/agg", daily = true,
          dayPartitionField = Some("window_start"))
        ()
      }
      .start()
    try {
      input.addData(ev(1, "2024-01-01 10:01:00"), ev(2, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      input.addData(ev(3, "2024-01-02 09:00:00")) // next day; closes day-1 windows
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-03 09:00:00")) // closes day-2 windows
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$out/agg")
      assert(landed.select("p_date").distinct().count() >= 1)
      val day1 = landed.filter(col("p_date") === "2024-01-01")
        .select("n").as[Long].collect().toSeq
      assert(day1 == Seq(2L)) // both 10:0x events in one closed window
    } finally q.stop()
  }

  test("dedupEvents drops redelivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupEvents(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // redelivery of event 1 in a later micro-batch (same id, same time)
      // plus a fresh event: only the fresh one lands.
      input.addData(ev(1, "2024-01-01 10:00:00"), ev(3, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("viewPurchaseJoin matches purchases within the window, same user only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.viewPurchaseJoin(input.toDF(), within = "1 hour")
      .writeStream.format("memory").queryName("vpjoin").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", user = 1, typ = "view"),
        ev(2, "2024-01-01 10:30:00", user = 1, typ = "purchase"), // joins with 1
        ev(3, "2024-01-01 10:40:00", user = 2, typ = "purchase"), // other user
        ev(4, "2024-01-01 13:00:00", user = 1, typ = "purchase")) // outside window
      q.processAllAvailable()
      val rows = spark.table("vpjoin")
        .select("view_id", "purchase_id").as[(Long, Long)].collect().toSeq
      assert(rows == Seq((1L, 2L)))
    } finally q.stop()
  }

  test("parquet file sink + checkpoint: stop/restart resumes exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    def land(evs: Event*): Unit =
      evs.toSeq.toDS().write.mode("append").parquet(src)
    // each call is a NEW StreamingQuery resuming from the same checkpoint —
    // the restart path a deployment takes after a stop or crash.
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$root/chk")
        .outputMode(OutputMode.Append)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def landedIds = spark.read.parquet(out).select("event_id")
      .as[Long].collect().toSeq.sorted
    land(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"))
    runOnce()
    assert(landedIds == Seq(1L, 2L))
    land(ev(3, "2024-01-01 11:00:00"), ev(4, "2024-01-01 11:05:00"))
    runOnce() // restart: checkpoint offsets skip the already-processed file
    assert(landedIds == Seq(1L, 2L, 3L, 4L))
    runOnce() // restart with no new input: nothing re-lands, no duplicates
    assert(landedIds == Seq(1L, 2L, 3L, 4L))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Long)]
    val q = EventStreams.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("tws")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData((1L, 100L), (1L, 250L), (2L, 50L))
      q.processAllAvailable()
      input.addData((1L, 50L)) // second batch: user 1's state must carry
      q.processAllAvailable()
      val byBatch = spark.table("tws")
        .select("user_id", "n_events", "sum_cents")
        .as[(Long, Long, Long)].collect().toSeq
      // batch 1 emissions: user 1 (2, 350), user 2 (1, 50);
      // batch 2 emission: user 1 (3, 400) — accumulated, not restarted
      assert(byBatch.toSet == Set((1L, 2L, 350L), (2L, 1L, 50L), (1L, 3L, 400L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState event-time timer fires when the key goes idle") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDS()
      .toDF("user_id", "ts").withWatermark("ts", "10 minutes")
      .as[(Long, Timestamp)]
    val q = EventStreams.idleSummaries(events, gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("tws_idle")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // nothing emitted yet: user 1's timer is armed at 10:35, watermark 9:55
      assert(spark.table("tws_idle").isEmpty)
      // another key advances the watermark past 10:35 -> user 1 idles out
      input.addData((2L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val out = spark.table("tws_idle")
        .as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 2L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("statefulSessions closes a session when the gap is exceeded in-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.statefulSessions(input.toDS(), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("stateful").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", v = 2.0), ev(2, "2024-01-01 10:10:00", v = 3.0),
        ev(3, "2024-01-01 11:30:00", v = 4.0)) // gap 80min -> closes first session
      q.processAllAvailable()
      val rows = spark.table("stateful")
        .select("session_start", "n_events", "sum_value")
        .as[(Timestamp, Long, Double)].collect().toSeq
      assert(rows == Seq((ts("2024-01-01 10:00:00"), 2L, 5.0)))
    } finally q.stop()
  }
}

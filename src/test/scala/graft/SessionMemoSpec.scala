package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session memo contract, per value policy: one build per
  * (session, key), distinct keys and sessions isolated, fingerprint-keyed
  * entries reloading after their guard table is rewritten, and one build
  * when two threads race on a key.
  */
class SessionMemoSpec extends SparkSpec {

  private def guardTable(name: String): String = {
    spark.range(3).write.mode("overwrite").format("parquet").saveAsTable(name)
    name
  }

  test("getOrCompute builds once per key and returns the same frame") {
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF() }
    val a1 = SessionMemo.getOrCompute(spark, "memo-spec:a")(build())
    val a2 = SessionMemo.getOrCompute(spark, "memo-spec:a")(build())
    val b = SessionMemo.getOrCompute(spark, "memo-spec:b")(build())
    assert(a1 eq a2, "same key must return the memoized frame")
    assert(builds == 2, s"expected one build per distinct key, got $builds")
    assert(b.count() == 3)
    assert(SessionMemo.peek(spark, "memo-spec:a").exists(_ eq a1))
    assert(SessionMemo.peek(spark, "memo-spec:never").isEmpty)
    val seeded = spark.range(5).toDF()
    SessionMemo.put(spark, "memo-spec:c", seeded)
    assert(SessionMemo.getOrCompute(spark, "memo-spec:c")(build()) eq seeded)
    assert(builds == 2, "a put entry must not rebuild")
  }

  test("ensure builds once per session and key; a newSession rebuilds its marks") {
    var builds = 0
    SessionMemo.ensure(spark, "memo-spec:mark")(builds += 1)
    SessionMemo.ensure(spark, "memo-spec:mark")(builds += 1)
    assert(builds == 1)
    SessionMemo.ensure(spark, "memo-spec:other")(builds += 1)
    assert(builds == 2, "distinct keys are marked separately")
    val child = spark.newSession()
    SessionMemo.ensure(child, "memo-spec:mark")(builds += 1)
    SessionMemo.ensure(child, "memo-spec:mark")(builds += 1)
    assert(builds == 3, "a new session starts with no marks")
    intercept[IllegalStateException] {
      SessionMemo.ensure(spark, "memo-spec:fails")(throw new IllegalStateException("boom"))
    }
    SessionMemo.ensure(spark, "memo-spec:fails")(builds += 1)
    assert(builds == 4, "a failed build leaves no mark")
  }

  test("cached loads once per guard generation and reloads after a rewrite") {
    val guard = guardTable("memo_spec_guard")
    var loads = 0
    def load() = { loads += 1; s"v$loads" }
    val v1 = SessionMemo.cached(spark, guard, "what")(load())
    assert(SessionMemo.cached(spark, guard, "what")(load()) eq v1)
    assert(loads == 1)
    assert(SessionMemo.cachedHead(spark, guard).getLong(0) >= 0L)
    assert(loads == 1, "cachedHead keys its own entry")
    guardTable(guard)
    val v2 = SessionMemo.cached(spark, guard, "what")(load())
    assert(loads == 2 && v2 == "v2", "a rewritten guard table must reload")
  }

  test("Tables.load infers a source's schema once per file set and re-infers after a rewrite") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_memo").toString
    s.range(4).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsStartedBy(graft.sources.Tables.load(s, dir, "t").schema)
    val (again, againJobs) = jobsStartedBy(graft.sources.Tables.load(s, dir, "t").schema)
    assert(first.fieldNames.toSeq == Seq("a") && again == first)
    assert(firstJobs == 1 && againJobs == 0, s"inference jobs: $firstJobs, then $againJobs")
    s.range(4).selectExpr("CAST(id AS STRING) AS b", "timestamp_seconds(id) AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = graft.sources.Tables.load(s, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(rewritten.orderBy("c").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2", "3"))
    val day = graft.sources.Tables.loadIncremental(s, dir, "t", "c", java.time.LocalDate.of(1970, 1, 1))
    assert(day.schema == rewritten.schema && day.count() == 4)
  }

  test("cached runs one load when two threads race on a key") {
    val guard = guardTable("memo_spec_race")
    val loads = new AtomicInteger()
    val bothLoading = new CountDownLatch(2)
    // the first load waits for a second concurrent load; under single-flight
    // the second caller is blocked on the key's lock, so the wait times out
    // and only one load runs
    def load(): String = {
      loads.incrementAndGet()
      bothLoading.countDown()
      bothLoading.await(3, TimeUnit.SECONDS)
      "value"
    }
    val start = new CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val racers = Seq.fill(2)(Future {
        start.await()
        SessionMemo.cached(spark, guard, "race")(load())
      })
      val values = Await.result(Future.sequence(racers), 60.seconds)
      assert(loads.get == 1, s"expected one load, got ${loads.get}")
      assert(values.forall(_ eq values.head))
    } finally pool.shutdown()
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

class OverlapSpec extends SparkSpec {

  /** One task that runs for a minute unless its job is cancelled. */
  private def minuteJob(): Unit =
    spark.range(0, 1, 1, 1).foreachPartition { (_: Iterator[java.lang.Long]) =>
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + 60000000000L
      while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
    }

  /** A listener counting the start and end of jobs whose local property
    * `graft.spec` is `value`.
    */
  private final class Watch(value: String) extends SparkListener {
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    private val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null && js.properties.getProperty("graft.spec") == value) {
        jobs.add(js.jobId); started.countDown()
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (jobs.contains(je.jobId)) ended.countDown()
  }

  test("Overlap.both: a failing side cancels main's job and rethrows once main returns") {
    val sc = spark.sparkContext
    val watch = new Watch("overlap-main")
    sc.addSparkListener(watch)
    val mainReturned = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Overlap.both {
          assert(watch.started.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("side failed")
        } {
          sc.setLocalProperty("graft.spec", "overlap-main")
          try minuteJob()
          finally { sc.setLocalProperty("graft.spec", null); mainReturned.set(true) }
        }
      }
      assert(e.getMessage == "side failed")
      assert(mainReturned.get, "main must have returned before both rethrows")
      assert(e.getSuppressed.length == 1, "main's cancellation rides as suppressed")
      assert(watch.ended.await(10, TimeUnit.SECONDS))
      assert((System.nanoTime() - t0) / 1e9 < 30, "main's job was cancelled, not waited out")
      assert(sc.getLocalProperty("spark.job.tags") == null ||
        !sc.getLocalProperty("spark.job.tags").contains("graft-overlap"),
        "main's job tag is removed from the caller thread")
    } finally sc.removeSparkListener(watch)
  }

  test("Overlap.both: a failing main cancels the side's job and joins it before rethrowing") {
    val sc = spark.sparkContext
    val watch = new Watch("overlap-side")
    sc.addSparkListener(watch)
    val sideThread = new AtomicReference[Thread]()
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Overlap.both {
          sideThread.set(Thread.currentThread())
          sc.setLocalProperty("graft.spec", "overlap-side")
          minuteJob()
        } {
          assert(watch.started.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("main failed")
        }
      }
      assert(e.getMessage == "main failed")
      assert(!sideThread.get.isAlive, "the side must be joined before both rethrows")
      assert(e.getSuppressed.length == 1, "the side's cancellation rides as suppressed")
      assert(watch.ended.await(10, TimeUnit.SECONDS))
      assert((System.nanoTime() - t0) / 1e9 < 30, "the side's job was cancelled, not waited out")
    } finally sc.removeSparkListener(watch)
  }

  /** Items started and ended by a [[Overlap.map]] call, and the most in
    * flight at once.
    */
  private final class Counts {
    val started = new AtomicInteger()
    val ended = new AtomicInteger()
    val maxInFlight = new AtomicInteger()
    def apply[T](body: => T): T = {
      val n = started.incrementAndGet() - ended.get
      maxInFlight.accumulateAndGet(n, math.max)
      try body finally ended.incrementAndGet(): Unit
    }
  }

  test("Overlap.map: results in input order, at most width in flight, caller's local properties") {
    val sc = spark.sparkContext
    val c = new Counts
    sc.setLocalProperty("graft.spec", "overlap-map")
    val out = try Overlap.map(0 until 40, 4) { i =>
      c {
        Thread.sleep(40 - i) // later items finish sooner
        (i * 2, sc.getLocalProperty("graft.spec"))
      }
    } finally sc.setLocalProperty("graft.spec", null)
    assert(out == (0 until 40).map(i => (i * 2, "overlap-map")))
    assert(c.started.get == 40 && c.ended.get == 40)
    assert(c.maxInFlight.get <= 4, s"${c.maxInFlight.get} items ran at once")
    assert(c.maxInFlight.get > 1, "items ran one at a time")
  }

  test("Overlap.map: after a failure no item starts, running items finish before it throws") {
    val c = new Counts
    val completed = new AtomicInteger()
    val othersRunning = new CountDownLatch(3)
    val e = intercept[IllegalStateException] {
      Overlap.map(0 until 40, 4) { i =>
        c {
          if (i == 0) {
            // items 1-3 hold the other three threads while item 0 fails
            assert(othersRunning.await(30, TimeUnit.SECONDS))
            throw new IllegalStateException("item 0 failed")
          }
          othersRunning.countDown()
          Thread.sleep(200)
          completed.incrementAndGet()
        }
      }
    }
    assert(e.getMessage == "item 0 failed", "the item's own exception, not a wrapper")
    assert(c.started.get == 4, s"${c.started.get} items started")
    assert(c.ended.get == c.started.get, "every started item ended before map threw")
    assert(completed.get == 3, "the running items finished, uncancelled")
    Thread.sleep(300)
    assert(c.started.get == 4, "an item started after map threw")
  }

  test("Overlap.map: the first failure is rethrown with a later one suppressed") {
    val first = new IllegalStateException("first")
    val later = new IllegalArgumentException("later")
    val laterStarted = new CountDownLatch(1)
    val firstThrown = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Overlap.map(Seq(0, 1), 2) { i =>
        if (i == 0) {
          assert(laterStarted.await(30, TimeUnit.SECONDS))
          firstThrown.countDown()
          throw first
        }
        laterStarted.countDown()
        assert(firstThrown.await(30, TimeUnit.SECONDS))
        Thread.sleep(100)
        throw later
      }
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(later))
  }

  test("Overlap.map: zero or one item runs on the caller's thread") {
    val caller = Thread.currentThread()
    assert(Overlap.map(Seq(1), 4)(_ => Thread.currentThread()) == Seq(caller))
    assert(Overlap.map(Seq.empty[Int], 4)(_ => Thread.currentThread()).isEmpty)
    assert(!Overlap.map(Seq(1, 2), 4)(_ => Thread.currentThread()).contains(caller))
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.queries.Overlap

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
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.queries.Overlap

class OverlapSpec extends SparkSpec {

  test("Overlap.both: a failing main cancels the side's job and joins it before rethrowing") {
    val sc = spark.sparkContext
    val sideJobStarted = new CountDownLatch(1)
    val sideJobEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      private def isSide(p: java.util.Properties) =
        p != null && p.getProperty("graft.spec") == "overlap-side"
      private val sideJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (isSide(js.properties)) { sideJobs.add(js.jobId); sideJobStarted.countDown() }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (sideJobs.contains(je.jobId)) sideJobEnded.countDown()
    }
    sc.addSparkListener(listener)
    val sideThread = new AtomicReference[Thread]()
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Overlap.both {
          sideThread.set(Thread.currentThread())
          sc.setLocalProperty("graft.spec", "overlap-side")
          // one task that runs for a minute unless its job is cancelled
          spark.range(0, 1, 1, 1).foreachPartition { (_: Iterator[java.lang.Long]) =>
            val ctx = TaskContext.get()
            val deadline = System.nanoTime() + 60000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
          }
        } {
          assert(sideJobStarted.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("main failed")
        }
      }
      assert(e.getMessage == "main failed")
      assert(!sideThread.get.isAlive, "the side must be joined before both rethrows")
      assert(e.getSuppressed.length == 1, "the side's cancellation rides as suppressed")
      assert(sideJobEnded.await(10, TimeUnit.SECONDS))
      assert((System.nanoTime() - t0) / 1e9 < 30, "the side's job was cancelled, not waited out")
    } finally sc.removeSparkListener(listener)
  }
}

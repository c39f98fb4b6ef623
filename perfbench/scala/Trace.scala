package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._

final class Span(val id: Int, val layer: String, val name: String, val parent: Option[Span]) {
  @volatile var startMs = 0.0
  @volatile var endMs = 0.0
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Counters of the jobs and tasks attributed to one span (not its children). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; jobIntervals ++= o.jobIntervals
  }
}

/** Spans around calls into the program's layers, with Spark's job and task
  * counters attributed to the innermost open span.
  *
  * A span sets a job group (`pb:<id>`) on the calling thread for its
  * duration; the listener maps every job of that group, and every stage of
  * those jobs, to the span. Counters are therefore exact per span even when
  * several spans run at once on different threads (the ETL replay's table
  * pool). Events arrive on Spark's listener bus asynchronously, so
  * [[finish]] drains the bus before any span is read.
  */
final class Tracer(spark: SparkSession) {

  private val sc = spark.sparkContext
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val nextId = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()

  private def countersOf(spanId: Int): Counters =
    counters.computeIfAbsent(spanId, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith("pb:")) {
        val id = group.drop(3).toInt
        jobSpan.put(e.jobId, id)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
        val c = countersOf(id)
        c.synchronized(c.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val c = countersOf(id)
        val start = jobStartMs.get(e.jobId).toDouble
        c.synchronized(c.jobIntervals += ((start, e.time.toDouble)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRecords += m.inputMetrics.recordsRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }
  sc.addSparkListener(listener)

  def currentSpan: Option[Span] = Option(current.get())

  /** Run `body` inside a new span. `parent` defaults to the calling
    * thread's open span; pool tasks pass it explicitly.
    */
  def span[T](layer: String, name: String, parent: Option[Span] = currentSpan)(body: => T): T = {
    val s = new Span(nextId.incrementAndGet(), layer, name, parent)
    spans.add(s)
    val prev = current.get()
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"pb:${s.id}", s"$layer:$name", interruptOnCancel = false)
    current.set(s)
    s.startMs = nowMs
    try body
    finally {
      s.endMs = nowMs
      current.set(prev)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** Drain the listener bus and detach; after this the span tree is final. */
  def finish(): Tracer.Tree = {
    Tracer.drainBus(spark)
    sc.removeSparkListener(listener)
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent.map(_.id).getOrElse(0))
    new Tracer.Tree(all, children, id => Option(counters.get(id)).getOrElse(new Counters))
  }
}

object Tracer {

  /** `LiveListenerBus.waitUntilEmpty` is private to Spark, hence reflection. */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    intervals.sortBy(_._1).foreach { case (lo, hi) =>
      if (curLo.isNaN || lo > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  final class Tree(
      val spans: Seq[Span],
      children: Map[Int, Seq[Span]],
      own: Int => Counters) {

    def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

    /** Counters of the span and every descendant. */
    def total(s: Span): Counters = {
      val sum = new Counters
      sum.add(own(s.id))
      childrenOf(s).foreach(c => sum.add(total(c)))
      sum
    }

    /** Wall time minus the part covered by child spans, in seconds. */
    def selfS(s: Span): Double = {
      val kids = childrenOf(s).map(c => (c.startMs, c.endMs))
      s.wallS - unionLength(kids) / 1e3
    }

    /** Wall time not covered by any job of the span or its descendants:
      * planning, codegen, catalog and driver-side work, in seconds.
      */
    def driverS(s: Span): Double = {
      val jobs = total(s).jobIntervals.toSeq
        .map { case (lo, hi) => (math.max(lo, s.startMs), math.min(hi, s.endMs)) }
        .filter { case (lo, hi) => hi > lo }
      math.max(0.0, s.wallS - unionLength(jobs) / 1e3)
    }

    def byLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer)

    /** The spans written out, one entry per (layer, name): calls, wall,
      * self and driver seconds, and the jobs, tasks and task seconds under
      * them.
      */
    def summary: JValue = JArray(spans.groupBy(s => (s.layer, s.name)).toList.sortBy(_._1).map {
      case ((layer, name), ss) =>
        val c = new Counters
        ss.foreach(s => c.add(total(s)))
        JObject("layer" -> JString(layer), "name" -> JString(name), "calls" -> JInt(ss.size),
          "wall_s" -> JDouble(ss.map(_.wallS).sum), "self_s" -> JDouble(ss.map(selfS).sum),
          "driver_s" -> JDouble(ss.map(driverS).sum), "jobs" -> JLong(c.jobs),
          "tasks" -> JLong(c.tasks), "task_s" -> JDouble(c.taskMs / 1e3))
    })
  }
}

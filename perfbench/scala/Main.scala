package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <etl_parquet|etl_jdbc|curate> --seed <n> --seconds <s>
  *        --trace <0|1> --run-dir <dir> --t0-ms <epoch ms> [--smoke]
  *
  * The run directory already holds the seeded inputs (`perfbench/inputs.py`).
  *
  * Writes `<run-dir>/result.json`: end-to-end or per-layer metrics, samples,
  * failure records and what `run.py` needs for its own output checks.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      runDir: String,
      t0Ms: Long,
      smoke: Boolean)

  /** Mutable result of one run; rendered to JSON at the end. */
  final class Result(val opts: Opts) {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, JValue]
    val failures = mutable.ArrayBuffer.empty[JValue]
    var attempted = 0L
    var failed = 0L

    /** One failed operation: where it happened and why. */
    def fail(step: String, target: String, e: Throwable): Unit =
      fail(step, target, e.getClass.getName, String.valueOf(e.getMessage))

    def fail(step: String, target: String, kind: String, message: String): Unit = {
      failed += 1
      failures += JObject(
        "workload" -> JString(opts.workload), "step" -> JString(step),
        "target" -> JString(target), "exception" -> JString(kind),
        "message" -> JString(message.take(2000)))
    }

    def json: JValue = JObject(
      "workload" -> JString(opts.workload), "seed" -> JLong(opts.seed),
      "trace" -> JBool(opts.trace), "smoke" -> JBool(opts.smoke),
      "attempted" -> JLong(attempted), "failed" -> JLong(failed),
      "metrics" -> JObject(metrics.toList.map { case (k, v) => k -> JDouble(v) }),
      "failures" -> JArray(failures.toList),
      "info" -> JObject(info.toList))
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("run-dir"), req("t0-ms").toLong, args.contains("--smoke"))
  }

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every workload runs on: `Bench`'s settings, with the
    * warehouse and scratch directories inside the run directory.
    */
  def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Peak heap in use right after a collection — live data plus what
    * survived — over the timed body. Raw used-heap peaks mostly measure
    * when the collector happened to run; after-GC usage measures what the
    * workload keeps. A collection is forced before the body, so every body
    * starts from the same heap, and after it, so a body short enough to see
    * no collection still reports its live heap.
    */
  final class HeapPeak extends AutoCloseable {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    @volatile var peakBytes = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    System.gc()
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def close(): Unit = {
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { peakBytes = math.max(peakBytes, live) }
      emitters.foreach(_.removeNotificationListener(listener))
    }
  }

  private def host(spark: SparkSession): JValue = {
    val memTotalKb = scala.util.Try(
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).get).getOrElse(-1L)
    JObject(
      "nproc" -> JInt(Runtime.getRuntime.availableProcessors()),
      "spark_cpus" -> JInt(cpus),
      "xmx_mb" -> JLong(Runtime.getRuntime.maxMemory() >> 20),
      "mem_total_mb" -> JLong(memTotalKb >> 10),
      "jvm" -> JString(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark" -> JString(spark.version),
      "git_sha" -> JString(sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val result = new Result(opts)
    val out = Paths.get(opts.runDir, "result.json")
    var code = 0
    try {
      val spark = opts.workload match {
        case "etl_parquet" => new EtlBench(opts, result, jdbc = false).run()
        case "etl_jdbc"    => new EtlBench(opts, result, jdbc = true).run()
        case "curate"      => new CurateBench(opts, result).run()
        case w             => throw new IllegalArgumentException(s"unknown workload $w")
      }
      result.info("host") = host(spark)
      spark.stop()
    } catch {
      case NonFatal(e) =>
        // a harness-level failure: no metrics are printed for this run
        e.printStackTrace()
        result.fail("harness", opts.workload, e)
        result.info("harness_error") = JBool(true)
        code = 1
    }
    Files.writeString(out, JsonMethods.compact(JsonMethods.render(result.json)))
    sys.exit(code)
  }
}

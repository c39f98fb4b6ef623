package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session config every graft entry point and spec
  * runs on. Callers choose only what differs for a reason: a pinned
  * core count, where managed tables live, and a master override.
  */
object GraftSession {

  /** Local-mode cores and shuffle partitions: `SPARK_GRAFT_CPUS` when set,
    * else the cores the JVM has, so an unconfigured run fits its box.
    */
  private[graft] def localCpus(env: Map[String, String], availableProcessors: Int): String =
    env.getOrElse("SPARK_GRAFT_CPUS", availableProcessors.toString)

  def cpus: String = localCpus(sys.env, Runtime.getRuntime.availableProcessors)

  /** `getOrCreate` with the shared settings. An existing session is
    * returned with the runtime settings re-applied.
    *
    * @param warehouse managed-table directory; unset keeps Spark's
    *                  `${user.dir}/spark-warehouse`
    * @param master    overrides `local[cpus]`
    */
  def getOrCreate(
      cpus: String = GraftSession.cpus,
      warehouse: Option[String] = None,
      master: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as TIMESTAMP(NANOS) (needs this flag to read
      // as long nanos) and as timestamp[us]/NTZ; Tables.load normalizes
      // both to a session-zone micros timestamp. Harmless on non-NANOS
      // corpora.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // cap AQE's per-stage plan-change logging: a plan whose printed tree
      // expands shared subtrees can otherwise burn the driver building a
      // string nobody reads
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // child sessions (`newSession()`: Bench passes, Graphs' loop
      // sessions) reuse the classes their parent generated. Spark keys its
      // generated-class cache by the context class loader, which artifact
      // isolation makes per session, and the cache holds 100 classes by
      // default; one sf0.01 Verify pass generates 4,609 distinct ones
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
    warehouse.foreach(builder.config("spark.sql.warehouse.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with each `conf` key set on `spark`, then put every key
    * back as it was: its previous value, or unset if it was not set (a
    * key left at its default stays at its default, not pinned to it).
    */
  def withConf[T](spark: SparkSession, conf: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = conf.map { case (k, _) => k -> set.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A per-entry-point warehouse under the JVM temp dir, so managed
    * tables never land in the working directory.
    */
  def tmpWarehouse(name: String): Option[String] =
    Some(s"${sys.props("java.io.tmpdir")}/graft_warehouse_$name")
}

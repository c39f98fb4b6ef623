package graft

import java.lang.ref.SoftReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session-scoped memo for intermediates several queries share, with three
  * value policies:
  *
  *  - soft frame ([[getOrCompute]], [[peek]], [[put]]): eagerly
  *    materialized frames, deterministic for their key. A Dataset strongly
  *    references its session, so a strongly held frame would pin the weak
  *    session key forever; soft references keep the memo through normal
  *    operation and let a stopped session's graph be collected. A cleared
  *    entry just recomputes. Memoize only frames that are already
  *    materialized (e.g. `localCheckpoint(true)`): a lazy plan would
  *    re-execute per consumer anyway.
  *  - strong once-mark ([[ensure]]): "this session already built the
  *    persisted base index". The state lives on disk in catalog tables, so
  *    the mark is a strong boolean: a GC must never silently re-trigger a
  *    multi-second rebuild.
  *  - fingerprint-keyed metadata ([[cached]], [[cachedHead]],
  *    [[cachedForPath]]): index-family metadata that is immutable per
  *    generation, and source schemas. Every entry is keyed by the
  *    file-set fingerprint of a guard table the family's builders rewrite
  *    whenever any cached member changes (`_meta`, written last), or of
  *    the source path itself, so a rewrite under the same name is simply
  *    never read from the stale entry. Values are metadata-scale and held
  *    strongly.
  *
  * Sessions are weak keys, so every entry dies with its session. Every
  * policy builds under a per-(session, key) lock: concurrent callers (a
  * foreachBatch thread, an overlapped reference side) run one build and
  * share its result instead of each building, or two writers rebuilding
  * one table directory.
  */
private[graft] object SessionMemo {

  private final class Slots {
    val values = TrieMap.empty[String, AnyRef]
    val locks = TrieMap.empty[String, AnyRef]
  }

  private val sessions =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Slots]())

  private def slots(s: SparkSession): Slots = sessions.synchronized {
    var m = sessions.get(s)
    if (m == null) {
      m = new Slots
      sessions.put(s, m)
    }
    m
  }

  /** The live value under `key`, else `build` once under the key's lock
    * (re-checking after the wait: the holder may have built it) and store
    * it as `store(value)`.
    */
  private def singleFlight[T](s: SparkSession, key: String)(
      live: AnyRef => Option[T], store: T => AnyRef)(build: => T): T = {
    val m = slots(s)
    def hit = m.values.get(key).flatMap(live)
    hit.getOrElse(m.locks.getOrElseUpdate(key, new Object).synchronized {
      hit.getOrElse {
        val v = build
        m.values.put(key, store(v))
        v
      }
    })
  }

  // one map per session holds every policy; the prefixes keep their key
  // spaces apart
  private def frameKey(key: String) = s"frame:$key"

  private def softFrame(v: AnyRef): Option[DataFrame] =
    Option(v.asInstanceOf[SoftReference[DataFrame]].get())

  def getOrCompute(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    singleFlight[DataFrame](s, frameKey(key))(softFrame, new SoftReference(_))(build)

  /** Non-building lookup, for multi-frame builders that must know whether
    * EVERY sibling key is still live before trusting any of them (a
    * soft-cleared sibling means one shared rebuild re-seeds them all; see
    * SimilarityQueries.ragBatchFused).
    */
  def peek(s: SparkSession, key: String): Option[DataFrame] =
    slots(s).values.get(frameKey(key)).flatMap(softFrame)

  /** Seed an entry directly, for builders that produce several frames in
    * one run: the secondary frames land under their own keys so a later
    * [[getOrCompute]] won't re-run the shared build.
    */
  def put(s: SparkSession, key: String, df: DataFrame): Unit =
    slots(s).values.put(frameKey(key), new SoftReference(df))

  /** Run `build` the first time (session, key) is seen; no-op after. A
    * build that throws leaves no mark.
    */
  def ensure(s: SparkSession, key: String)(build: => Unit): Unit =
    singleFlight[Unit](s, s"mark:$key")(_ => Some(()), _ => java.lang.Boolean.TRUE)(build)

  /** File-set fingerprint of `table` ([[pathFingerprint]] of its
    * location). Also used for frame keys whose value is a soft frame (the
    * KN serving fold).
    */
  def tableFingerprint(spark: SparkSession, table: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    pathFingerprint(spark, new org.apache.hadoop.fs.Path(meta.location))
  }

  /** File-set fingerprint of the files under `path` (sorted
    * relative-name:len:mtime triples, walking into subdirectories; a
    * missing path has the empty fingerprint). Parquet write file names
    * carry fresh UUIDs, so any rewrite, even one producing identical
    * bytes, changes it. Directory listings only: driver metadata ops, no
    * Spark job.
    */
  def pathFingerprint(spark: SparkSession, path: org.apache.hadoop.fs.Path): String = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path, rel: String): Seq[String] =
      (try fs.listStatus(p).toSeq
       catch { case _: java.io.FileNotFoundException => Nil }).flatMap { st =>
        val name = if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, name)
        else Seq(s"$name:${st.getLen}:${st.getModificationTime}")
      }
    walk(path, "").sorted.mkString("|")
  }

  /** Memoized `load`, keyed on (session, `what`, guard table's current
    * fingerprint). `guardTable` must be a table the family's builders
    * rewrite whenever ANY cached member changes: the `_meta` completeness
    * marker by convention.
    */
  def cached[T <: AnyRef](
      spark: SparkSession, guardTable: String, what: String)(load: => T): T =
    fingerprinted(spark, s"$what@$guardTable", tableFingerprint(spark, guardTable))(load)

  /** Memoized `load`, keyed on (session, `what`, the current
    * [[pathFingerprint]] of `path`): a rewrite of the files under `path`
    * loads afresh.
    */
  def cachedForPath[T <: AnyRef](
      spark: SparkSession, path: String, what: String)(load: => T): T =
    fingerprinted(spark, s"$what@$path",
      pathFingerprint(spark, new org.apache.hadoop.fs.Path(path)))(load)

  private def fingerprinted[T <: AnyRef](
      spark: SparkSession, key: String, fingerprint: String)(load: => T): T =
    singleFlight[T](spark, s"meta:$key@$fingerprint")(
      v => Some(v.asInstanceOf[T]), identity)(load)

  /** Memoized head row of a single-row parameter table (every family's
    * `_meta`). Self-guarding: the guard table IS the cached table, so a
    * rewrite invalidates unconditionally. One driver job per (session,
    * generation) instead of one per micro-batch or probe call.
    */
  def cachedHead(spark: SparkSession, table: String): Row =
    cached(spark, table, "head") { spark.table(table).head() }
}

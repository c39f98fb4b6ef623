package graft.sources

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.SessionMemo

/** A persisted table family: one index or model stored as the member
  * tables `<prefix><member>`, with `_meta` written last as the
  * completeness marker. Mutating verbs stage a whole generation
  * `<prefix>_g<N>` and flip the one-row `<prefix>_current` pointer;
  * readers resolve through [[Sinks.activeTablePrefix]], so every crash
  * window leaves a complete generation serving.
  *
  * `declared` must name `_meta`; [[members]] lists it last.
  */
class TableFamily(declared: String*) {
  require(declared.contains("_meta"),
    s"table family ${declared.mkString(",")} must include _meta (the completeness marker)")
  require(declared.distinct.size == declared.size,
    s"table family ${declared.mkString(",")} names a member twice")

  val members: Seq[String] = declared.filterNot(_ == "_meta") :+ "_meta"

  /** Stage → pointer flip → retire: `build` writes a complete family
    * under the staged generation prefix it is given (its `_meta` last),
    * `<prefix>_current` is overwritten to name it, and the retired
    * generation drops last. Returns the new generation number. Callers
    * hand in the family's own writer, e.g.
    * `Ivf.rebuild(spark, p)(g => writeIvfIndex(corpus, id, emb, g, buckets))`.
    *
    * Crash windows: a build that throws leaves the pointer and the serving
    * generation untouched (with no pointer yet, the bare `_meta` wins the
    * resolve), and its metaless remnant never resolves and is scrubbed by
    * the next verb; a pointer lost mid-overwrite recovers to the newest
    * complete generation ([[Sinks.activeTablePrefix]]'s catalog fallback);
    * a crash after the flip leaves the retired generation orphaned —
    * never served, scrubbed by [[drop]].
    *
    * The ingest ledger ([[TableFamily.exactlyOnce]]) sits outside the
    * generations, so a rebuild keeps it: see there for when that is wrong.
    */
  def rebuild(spark: SparkSession, prefix: String)(build: String => Unit): Long = {
    val cur =
      if (spark.catalog.tableExists(s"${prefix}_current"))
        spark.table(s"${prefix}_current").head().getLong(0)
      else 0L
    val next = cur + 1
    val g = s"${prefix}_g$next"
    members.foreach(sfx => Sinks.dropManagedTable(spark, s"$g$sfx"))
    build(g)
    spark.createDataFrame(Seq(Tuple1(next))).toDF("gen")
      .write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${prefix}_current")
    val oldPrefix = if (cur == 0) prefix else s"${prefix}_g$cur"
    members.foreach(sfx => Sinks.dropManagedTable(spark, s"$oldPrefix$sfx"))
    next
  }

  /** Compaction through the generation pointer: every member of the
    * active generation stages into a fresh one at one file per bucket
    * (size-targeted files when unbucketed), `_meta` last, then
    * [[rebuild]]'s flip. `rewrites` transforms named members in the same
    * pass (tombstone anti-joins, partial folds, meta re-stamps); closures
    * read the old generation, which serves until the flip. Unnamed
    * members already at their target layout copy as files.
    *
    * Returns (new generation, per-member (input files, output files)).
    */
  def compact(
      spark: SparkSession,
      prefix: String,
      rewrites: Map[String, DataFrame => DataFrame] = Map.empty)
      : (Long, Map[String, (Int, Int)]) = {
    require(rewrites.keySet.subsetOf(members.toSet),
      s"rewrites name non-member suffixes: ${rewrites.keySet.diff(members.toSet)}")
    val from = Sinks.activeTablePrefix(spark, prefix)
    val counts = scala.collection.mutable.Map.empty[String, (Int, Int)]
    val gen = rebuild(spark, prefix) { g =>
      members.foreach { sfx =>
        val (src, dst) = (s"$from$sfx", s"$g$sfx")
        Sinks.stageCompactedInto(spark, src, dst, rewrites.get(sfx))
        counts(sfx) = (Sinks.parquetFileCount(spark, src), Sinks.parquetFileCount(spark, dst))
      }
    }
    (gen, counts.toMap)
  }

  /** Fork the active generation of `from` into a bare, independent family
    * at `to` by file-level clones ([[Sinks.cloneTableViaFileCopy]]: no
    * Spark job, bucket layout preserved), `_meta` last. Members clone one
    * at a time: the per-table copies already saturate the disk, and
    * forking members concurrently measured slower.
    */
  def fork(spark: SparkSession, from: String, to: String): Unit = {
    require(from != to, s"fork target must differ from source '$from'")
    val src = Sinks.activeTablePrefix(spark, from)
    (members :+ "_current").foreach(sfx => Sinks.dropManagedTable(spark, s"$to$sfx"))
    members.foreach(sfx => Sinks.cloneTableViaFileCopy(spark, s"$src$sfx", s"$to$sfx"))
  }

  /** Delete the rows whose `keys` columns match a row of `keys` from the
    * named `from` members, in one [[compact]]: a left anti-join on every
    * column of `keys`, one generation flip for all of them (a member
    * pair such as codes and their re-rank vectors vanishes together).
    */
  def deleteKeys(spark: SparkSession, prefix: String, keys: DataFrame, from: String*): Unit = {
    val del = keys.distinct().localCheckpoint(true)
    val anti = (df: DataFrame) => df.join(del, del.columns.toSeq, "left_anti")
    compact(spark, prefix, from.map(_ -> anti).toMap): Unit
  }

  /** A shared read-only family at `prefix`, built once per (session,
    * prefix): the first call drops any remnant, then runs `write(prefix)`;
    * later calls only return `prefix`. A write that throws leaves no mark.
    */
  def buildOnce(spark: SparkSession, prefix: String)(write: String => Unit): String = {
    SessionMemo.ensure(spark, s"base:$prefix") {
      drop(spark, prefix)
      write(prefix)
    }
    prefix
  }

  /** Drop every remnant of the family at `prefix`: the bare members, the
    * ingest ledger, the generation pointer, and every generation member
    * `<prefix>_g<N><member>` found in the catalog or, for a fresh JVM
    * whose catalog forgot them, in the warehouse directory.
    */
  def drop(spark: SparkSession, prefix: String): Unit = {
    val generation = (Pattern.quote(prefix.toLowerCase) + "_g\\d+(?:" +
      members.map(Pattern.quote).mkString("|") + ")").r
    val listed = spark.sessionState.catalog.listTables("default").map(_.table.toLowerCase)
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (fs.exists(warehouse)) fs.listStatus(warehouse).toSeq.map(_.getPath.getName.toLowerCase)
      else Nil
    val generations = (listed ++ dirs).distinct.filter(generation.matches)
    val bare = members.map(prefix + _) :+ TableFamily.ledger(prefix) :+ s"${prefix}_current"
    (bare ++ generations).foreach(Sinks.dropManagedTable(spark, _))
  }
}

object TableFamily {

  /** The exactly-once ingest ledger of the family at `prefix`. */
  private def ledger(prefix: String): String = s"${prefix}_applied"

  /** Append one (batch_id, phase) row to the ingest ledger of the family
    * at `prefix`. Duplicate rows are harmless: [[exactlyOnce]] asks
    * whether a phase row exists, not how many.
    */
  private[graft] def recordLedger(
      spark: SparkSession,
      prefix: String,
      batchId: Long,
      phase: String): Unit =
    spark.createDataFrame(Seq((batchId, phase))).toDF("batch_id", "phase")
      .write.mode(SaveMode.Append).format("parquet").saveAsTable(ledger(prefix))

  /** The batchId-keyed write-ahead ledger that turns Structured
    * Streaming's at-least-once `foreachBatch` retries into exactly-once
    * family state. A plain append is retry-unsafe two ways: a batch
    * redelivered after a successful append double-inserts, and a crash
    * mid-append leaves a partial batch a blind re-run duplicates. Both
    * close against the ledger's (batch_id, phase) rows:
    *
    *  1. a `commit` row for `batchId` ⇒ the batch is fully applied —
    *     skip (returns None; checkpoint-lag redelivery, the common case);
    *  2. an `intent` row without `commit` ⇒ a prior attempt may have
    *     died mid-append — run `scrub` (the family's exact deletion of
    *     the batch's residue) and fall through;
    *  3. record `intent`, run `apply` (the plain ingest), record
    *     `commit`, return Some(result).
    *
    * Correct because Structured Streaming replays a failed batch with
    * the same batchId and, for deterministic sources, the same rows. The
    * happy path costs two one-row ledger appends; the scrub's rewrite is
    * paid only on crash recovery. Output of a skipped redelivery needs
    * its own idempotency, Spark's standard foreachBatch contract.
    *
    * The ledger lives at the bare prefix, outside the generation chain,
    * so its history spans [[TableFamily.rebuild]]s. That is right for the
    * usual rebuild, which re-encodes the corpus as ingested so far: a
    * post-cutover redelivery of a committed batch must still skip. It is
    * wrong for a family rebuilt from a snapshot that excludes committed
    * batches — the stream is being reset to replay them, and the stale
    * ledger would skip the replays silently. Such a family is a fresh
    * one: [[TableFamily.drop]] it (which clears the ledger) and write it
    * anew.
    */
  private[graft] def exactlyOnce[T](
      spark: SparkSession,
      prefix: String,
      batchId: Long)(scrub: => Unit)(apply: => T): Option[T] = {
    val phases: Set[String] =
      if (spark.catalog.tableExists(ledger(prefix)))
        // driver-side toSet replaces a distinct() Exchange — the matched
        // rows are ≤ 2 per batch attempt
        spark.table(ledger(prefix)).filter(col("batch_id") === batchId)
          .select("phase").collect().map(_.getString(0)).toSet
      else Set.empty
    if (phases.contains("commit")) None
    else {
      if (phases.contains("intent")) scrub
      recordLedger(spark, prefix, batchId, "intent")
      val result = apply
      recordLedger(spark, prefix, batchId, "commit")
      Some(result)
    }
  }
}

/** A family whose state is one append-only member of signed count
  * partials (`keys`, `value`), plus a one-int `_meta` row (`meta` names
  * its column and default). Ingest appends counts, delete appends them
  * negated, and readers fold `sum(value) > 0` per key. The partials are a
  * mergeable summary, so the fold after any verb sequence equals a fresh
  * write over the surviving input. A `membership` family folds to
  * presence: every live key folds (and compacts) to value 1.
  */
final class PartialFamily(
    val member: String,
    val keys: Seq[String],
    val value: String,
    meta: (String, Int),
    membership: Boolean = false) extends TableFamily(member, "_meta") {

  /** The live rows of a partials frame: one per key whose sum is positive. */
  def fold(partials: DataFrame): DataFrame = {
    val live = partials.groupBy(keys.map(col): _*).agg(sum(value).as(value))
      .filter(col(value) > 0)
    if (membership) live.withColumn(value, lit(1L)) else live
  }

  /** Overwrite the partials at `prefix`, then `_meta` last. */
  def write(prefix: String, partials: DataFrame, metaValue: Int = meta._2): Unit = {
    partials.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"$prefix$member")
    partials.sparkSession.createDataFrame(Seq(Tuple1(metaValue))).toDF(meta._1)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${prefix}_meta")
  }

  /** Append `counts` to the active generation's partials. */
  def ingest(prefix: String, counts: DataFrame): Unit = append(prefix, counts)

  /** Append `counts` negated to the active generation's partials. */
  def delete(prefix: String, counts: DataFrame): Unit =
    append(prefix, counts.select(keys.map(col) :+ (-col(value)).as(value): _*))

  private def append(prefix: String, deltas: DataFrame): Unit = {
    val tp = Sinks.activeTablePrefix(deltas.sparkSession, prefix)
    deltas.write.mode(SaveMode.Append).format("parquet").saveAsTable(s"$tp$member")
  }

  /** The active generation's fold, unmemoized. */
  def live(spark: SparkSession, prefix: String): DataFrame =
    fold(spark.table(s"${Sinks.activeTablePrefix(spark, prefix)}$member"))

  /** The active generation's fold for repeated serving: a checkpoint
    * memoized per session under a key carrying the member's file-set
    * fingerprint, so an append (which changes the fingerprint) is never
    * served a stale fold. Returns the key (`knfold:<table>@<fingerprint>`)
    * with the frame, for statistics derived from the fold to memoize under.
    */
  def served(spark: SparkSession, prefix: String): (String, DataFrame) = {
    val table = s"${Sinks.activeTablePrefix(spark, prefix)}$member"
    val key = s"knfold:$table@${SessionMemo.tableFingerprint(spark, table)}"
    key -> SessionMemo.getOrCompute(spark, key) {
      fold(spark.table(table)).localCheckpoint(true)
    }
  }

  /** [[TableFamily.compact]] with the fold as the partials' rewrite: one
    * row per live key carrying its folded sum (1 for a membership family).
    */
  override def compact(
      spark: SparkSession,
      prefix: String,
      rewrites: Map[String, DataFrame => DataFrame])
      : (Long, Map[String, (Int, Int)]) =
    super.compact(spark, prefix, Map(member -> (fold _)) ++ rewrites)
}

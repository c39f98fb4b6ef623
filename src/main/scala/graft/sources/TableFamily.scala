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
    * generation drops last. A build that throws leaves the pointer and
    * the serving generation untouched; the staged remnant is scrubbed by
    * the next verb. Returns the new generation number.
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
        Sinks.stageCompactedInto(spark, src, dst, rewrites.get(sfx), 128L << 20)
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
    ((members :+ "_applied" :+ "_current").map(prefix + _) ++ generations)
      .foreach(Sinks.dropManagedTable(spark, _))
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

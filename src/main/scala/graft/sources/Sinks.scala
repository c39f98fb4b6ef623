package graft.sources

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.{DurationInt, FiniteDuration}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Overlap
import graft.model.SchemaRegistry

/** Parquet sink with the reference's load semantics
  * (`bigquery_operations.py:21-48`):
  *
  *  - K1 schema enforcement: declared `StructType` bound before the write;
  *  - K2 write disposition: daily ⇒ append, full ⇒ overwrite (truncate)
  *    (`bigquery_operations.py:36`);
  *  - K3 DAY time-partitioning: derived `p_date` partition column, the
  *    file-layout analogue of BigQuery's `TimePartitioning(DAY, field=…)`
  *    (`bigquery_operations.py:30-34`). Day partitioning keeps future
  *    incremental reads partition-prunable, which is the 100 TB story: a
  *    daily query touches one directory, not the table;
  *  - K5 post-load row-count audit (`bigquery_operations.py:46-48`): a
  *    metadata read, like the reference's `num_rows` — the row counts in
  *    the committed files' parquet footers ([[countAudit]]), no Spark job.
  *
  * A table load counts its rows inside its write job ([[write]]),
  * so it scans its source exactly once.
  *
  * Loads write parquet with one fixed set of options, one reason each:
  *  - zstd pages: a load ships and stores the bytes the sink writes, and
  *    zstd pages are about 38% smaller than Spark's snappy default on the
  *    reference tables;
  *  - a 64 KiB dictionary cap: a column whose distinct values outgrow it
  *    (ids, sizes, timestamps, paths) falls back to plain encoding at once
  *    instead of hashing up to parquet's 1 MiB default and then
  *    re-encoding, while low-cardinality columns keep their dictionaries;
  *  - [[ForklessLocalFs]] for `file:` paths, uncached: Hadoop's local file
  *    system forks a `chmod` per file and directory it creates, and its
  *    per-scheme cache would hand back the stock one.
  * The options reach only the load's write; every other writer here keeps
  * Spark's defaults.
  */
object Sinks {

  final case class LoadReport(table: String, rowsLoaded: Long, rowsTotal: Long)

  /** Partition column name added by DAY partitioning. */
  val PartitionCol = "p_date"

  /** The load path's writer options (see above). */
  private val LoadWriteOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.dictionary.page.size" -> (64 << 10).toString,
    "fs.file.impl" -> classOf[ForklessLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** K2+K3: write with disposition + optional DAY partitioning. Runs `df`
    * once and returns the rows written, counted by the write job itself.
    */
  def write(
      df: DataFrame,
      path: String,
      daily: Boolean = false,
      dayPartitionField: Option[String] = None): Long =
    // the count goes after the DAY repartition, in the write's result stage
    countedWrite(path, dayLayout(df, dayPartitionField)) {
      writeParquet(_, path, daily, dayPartitionField.isDefined)
    }

  /** Adds the DAY partition column and repartitions on it first: otherwise
    * every shuffle partition writes a sliver into every day directory —
    * thousands of tiny files here, millions at 100 TB. One shuffle, one
    * file per day per final partition.
    */
  private def dayLayout(df: DataFrame, dayPartitionField: Option[String]): DataFrame =
    dayPartitionField.fold(df) { f =>
      df.withColumn(PartitionCol, to_date(col(f))).repartition(col(PartitionCol))
    }

  private def writeParquet(
      df: DataFrame,
      path: String,
      daily: Boolean,
      dayPartitioned: Boolean): Unit = {
    val w = df.write.options(LoadWriteOptions)
      .mode(if (daily) SaveMode.Append else SaveMode.Overwrite)
    (if (dayPartitioned) w.partitionBy(PartitionCol) else w).parquet(path)
  }

  /** Upper bound on the wait for a write's observed row count. The count
    * travels on Spark's asynchronous listener bus, which drops events when
    * its queue overflows; a dropped count must fail the load, not hang it.
    */
  private[sources] val ObservedRowsWait: FiniteDuration = 2.minutes

  /** Runs `write` over `df` with a row count observed as the last operator
    * before the writer, and returns the rows written. Any shuffle must sit
    * inside `df`, below the count: only a result stage applies each task's
    * count exactly once (a retried shuffle map stage could count twice).
    * `target` names the destination in the error when the count never
    * arrives.
    */
  def countedWrite(target: String, df: DataFrame)(
      write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    awaitObservedRows(target, rows)
  }

  private[graft] def awaitObservedRows(
      target: String,
      rows: Observation,
      bound: FiniteDuration = ObservedRowsWait): Long =
    try Await.result(rows.future, bound).getLong(0)
    catch {
      case _: TimeoutException =>
        throw new IllegalStateException(
          s"load of $target: the write finished but its row count did not " +
            s"arrive within $bound (Spark listener bus event dropped?)")
    }

  /** K5: the rows in the destination at `path`, read back from the files
    * its writes committed — independently of any write's own count — as
    * the sum of the row counts in their parquet footers. It runs no Spark
    * job and reads no data page; `spark.read.parquet(path).count()` ran
    * three jobs for the same number.
    *
    * The data files are the ones Spark's file index reads: a recursive
    * listing that skips [[hiddenFromScans]] names (`_SUCCESS`, `.crc`
    * files, an uncommitted task's `_temporary/`) and zero-byte files, for
    * which Spark plans no split. Footers open on at most 16 driver
    * threads ([[graft.Overlap.map]]) with one shared set of read options;
    * a file that is not parquet fails the audit with the footer reader's
    * own exception, which names the file.
    * At scale the audit costs one footer read per data file — the file
    * opens the Spark count's tasks made, minus the jobs — after a driver
    * walk that lists each partition directory once. A missing `path`
    * throws `FileNotFoundException`.
    */
  def countAudit(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    // default options would build a fresh Configuration per footer
    val options = HadoopReadOptions.builder(conf).build()
    Overlap.map(dataFiles(root.getFileSystem(conf), root), DriverIoThreads) { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Non-empty data files under `dir`, recursively. `listStatus`, not
    * `listFiles`: on the local file system `listFiles` resolves block
    * locations, which forks a `stat` per file.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(st => hiddenFromScans(st.getPath.getName)).flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath)
      else if (st.getLen > 0) Seq(st)
      else Nil
    }

  /** Names Spark's file index leaves out of a scan: `.`-prefixed,
    * `_`-prefixed unless a `key=value` partition directory, and files
    * still being copied in.
    */
  private def hiddenFromScans(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")

  /** Driver threads for per-file I/O: footer reads, file copies. */
  private val DriverIoThreads = 16

  /** Bucketed, sorted table layout for shuffle-free co-located joins —
    * the 100 TB answer to "this join runs every day on the same keys":
    * both sides bucketed by the join key join with NO Exchange in the
    * plan (asserted in SinksSpec). Uses the session catalog's parquet
    * bucketing (no Hive dependency); `saveAsTable` is required because
    * bucket metadata lives in the catalog, not the files.
    */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      buckets: Int,
      bucketCol: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Drop a managed table AND its warehouse directory. A fresh JVM's
    * in-memory catalog has forgotten the previous run's managed tables
    * but their directories survive, and `saveAsTable` refuses to create a
    * new managed table over an existing location — callers that re-create
    * catalog tables idempotently (bucketed round-trips, index rebuilds)
    * scrub through this first.
    */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    // simple identifiers only: a qualified (db.table) or quoted name would
    // make the <warehouse>/<table> fallback below point at the wrong
    // directory, and the name is interpolated into SQL
    require(table.matches("[A-Za-z0-9_]+"),
      s"dropManagedTable expects an unqualified [A-Za-z0-9_]+ identifier, got '$table'")
    // resolve the real location from the catalog while the entry still
    // exists; fall back to the warehouse convention (lowercased — the
    // catalog stores table directories case-folded) for the fresh-JVM case
    // where only the directory survives
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val catalog = spark.sessionState.catalog
    val p =
      if (catalog.tableExists(ident))
        new org.apache.hadoop.fs.Path(catalog.getTableMetadata(ident).location)
      else new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Z-value (Morton code) of two non-negative integer columns: their bits
    * interleaved (`a` on even positions, `b` on odd), so sorting by it
    * co-locates rows close in BOTH dimensions. Pure bitwise Column
    * expression — codegen-eligible, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    val al = a.cast("long"); val bl = b.cast("long")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-ordered parquet layout — multi-dimensional data skipping for tables
    * queried sometimes by one key, sometimes the other (the Delta/Iceberg
    * OPTIMIZE ZORDER answer, expressed with vanilla Spark): range-partition
    * on the z-value into `files` output files and sort within each, so
    * every file's footer min/max bounds BOTH dimensions and a reader
    * prunes most files for a predicate on either key. A single-key sort
    * gives perfect pruning on that key and NONE on the other; the z-curve
    * trades a constant factor on each for usable pruning on both
    * (locality measured in SinksSpec against a time-sorted layout).
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      files: Int,
      bits: Int = 16): Unit =
    df.withColumn("__z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Single-key sorted (clustered) parquet layout — the Delta/Iceberg
    * `OPTIMIZE … ORDER BY` shape for tables overwhelmingly queried by ONE
    * key (time ranges on a fact table): range-partition into `files`
    * output files on the key and sort within each, so the per-file footer
    * min/max ranges are DISJOINT and a key-range predicate prunes every
    * non-overlapping file at planning time (pinned in SinksSpec). The
    * complementary layout to [[writeZOrdered]]: perfect pruning on one key
    * instead of usable pruning on two.
    *
    * `tieBreak` columns extend the within-file sort (stable layouts diff
    * cleanly run-over-run); they do not affect file assignment.
    */
  def writeSortedLayout(
      df: DataFrame,
      path: String,
      key: String,
      files: Int,
      tieBreak: Seq[String] = Nil): Unit = {
    require(files >= 1, s"files=$files must be >= 1")
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions(key, tieBreak: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction — the table-maintenance pass every streaming or
    * per-batch-append sink eventually needs (thousands of KB-sized files
    * turn a 100 TB scan into a metadata storm and kill split planning).
    * Sizes the output to ceil(totalBytes / targetFileBytes) files from the
    * ACTUAL on-disk byte count (a driver-side file listing — metadata, not
    * data), then rewrites in one distributed pass. Round-robin
    * repartition, not coalesce: coalesce would chain small source files
    * into few tasks without rebalancing bytes, keeping the skew that made
    * the files small in the first place.
    *
    * Returns (input file count, output file count) for auditability.
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetFileBytes: Long): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val inFiles = parquetFilesAt(spark, new org.apache.hadoop.fs.Path(inDir))
    require(inFiles.nonEmpty, s"no parquet files to compact under $inDir")
    spark.read.parquet(inDir)
      .repartition(outputFileCount(inFiles, targetFileBytes))
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    (inFiles.length, parquetFilesAt(spark, new org.apache.hadoop.fs.Path(outDir)).length)
  }

  /** Parquet data files directly under `dir` (none when it is missing),
    * listed through the Hadoop FileSystem of the path's scheme, not
    * java.io.File: on hdfs:// or s3a:// a local listing would return
    * nothing and silently collapse a whole table into one file.
    */
  private def parquetFilesAt(
      spark: SparkSession, dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** ceil(total bytes of `files` / targetFileBytes), clamped to
    * [1, Int.MaxValue]: Long arithmetic end-to-end, so a tiny target over a
    * 100 TB input cannot overflow Int and collapse to a single file.
    */
  private def outputFileCount(
      files: Seq[org.apache.hadoop.fs.FileStatus], targetFileBytes: Long): Int = {
    val totalBytes = files.map(_.getLen).sum
    math.min(math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes),
      Int.MaxValue.toLong).toInt
  }

  /** Partition-granular retention sweep (TTL) over a `partCol=`-
    * partitioned directory sink: drops every partition directory whose
    * value sorts strictly BELOW `cutoffInclusive` and keeps the rest —
    * ISO dates compare correctly as strings, which is why the DAY sink
    * writes `yyyy-MM-dd`. This is the honest 100 TB retention shape:
    * whole-partition metadata deletes (one filesystem call per expired
    * day), never a row-filter rewrite of surviving data — cost is
    * O(expired partitions), independent of table size. Resolves the
    * path's own FileSystem (hdfs:// / s3a:// safe, like [[compact]]);
    * a non-partition file or an unrelated directory under the root is
    * left untouched, so a sweep pointed at a non-partitioned directory
    * deletes nothing rather than everything. Returns
    * (partitions dropped, partitions kept).
    */
  def retentionSweep(
      spark: SparkSession,
      dir: String,
      partCol: String,
      cutoffInclusive: String): (Int, Int) = {
    require(cutoffInclusive.nonEmpty, "empty cutoff would drop nothing meaningfully")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = partCol + "="
    val parts = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
    val values = parts.map(_.getPath.getName.stripPrefix(prefix))
    // the comparison is lexicographic, which is only a date comparison for
    // zero-padded ISO values — if the sink's partitions all look like
    // dates, a non-ISO cutoff ("2024-1-2") would silently keep/drop the
    // wrong set, so refuse it loudly instead
    val iso = "\\d{4}-\\d{2}-\\d{2}".r
    if (values.nonEmpty && values.forall(iso.matches(_)))
      require(iso.matches(cutoffInclusive),
        s"cutoff '$cutoffInclusive' is not in the sink's zero-padded " +
          s"yyyy-MM-dd partition format — lexicographic comparison against " +
          s"ISO partition values would be wrong")
    val (drop, keep) = parts.partition(
      _.getPath.getName.stripPrefix(prefix) < cutoffInclusive)
    // a sweep that expires EVERY partition leaves an unreadable sink
    // (parquet schema inference fails on the empty root) — that is a
    // retention-config bug, not a TTL, so fail before the first delete
    require(keep.nonEmpty || parts.isEmpty,
      s"cutoff '$cutoffInclusive' would drop all ${parts.length} partitions " +
        s"and leave $dir unreadable — widen the cutoff or drop the sink itself")
    drop.foreach(s => fs.delete(s.getPath, true))
    (drop.length, keep.length)
  }

  /** Resolve the ACTIVE generation of a rebuildable persisted index: a
    * `<prefix>_current` pointer table names the live generation
    * (`<prefix>_g<N>`); without one, the bare prefix wins when its
    * `_meta` exists (every index built before rebuilds existed — two
    * cheap existence checks, the common case); else fall back to the
    * newest COMPLETE generation (every index builder writes `_meta`
    * LAST, so its presence marks completeness — a mid-build generation
    * never resolves; crash-recovery only). Family verbs resolve through
    * here, so probes/appends/deletes/compaction follow a cutover with
    * no call-site changes.
    */
  private[graft] def activeTablePrefix(spark: SparkSession, prefix: String): String = {
    if (spark.catalog.tableExists(s"${prefix}_current"))
      s"${prefix}_g${spark.table(s"${prefix}_current").head().getLong(0)}"
    else if (spark.catalog.tableExists(s"${prefix}_meta"))
      prefix
    else {
      val pat = (java.util.regex.Pattern.quote(prefix.toLowerCase) + "_g(\\d+)_meta").r
      val gens = spark.sessionState.catalog.listTables("default")
        .map(_.table.toLowerCase).collect { case pat(g) => g.toLong }
      if (gens.isEmpty) prefix else s"${prefix}_g${gens.max}"
    }
  }

  /** Clone a managed, unpartitioned parquet table by catalog-metadata
    * clone + raw file copy — the zero-job sibling of a read→write copy:
    * `CREATE TABLE dst LIKE src` reproduces schema, provider and bucket
    * spec; the data files copy under their ORIGINAL names (Spark reads
    * the bucket id out of the `_NNNNN` file-name suffix, so the bucket
    * layout survives byte-identically); `REFRESH TABLE` drops any cached
    * listing. Partitioned tables (none of the index families are) fall
    * back to a plain Spark rewrite.
    */
  private[graft] def cloneTableViaFileCopy(
      spark: SparkSession,
      src: String,
      dst: String): Unit = {
    require(src.matches("[A-Za-z0-9_]+") && dst.matches("[A-Za-z0-9_]+"),
      s"cloneTableViaFileCopy expects unqualified identifiers, got '$src' -> '$dst'")
    val catalog = spark.sessionState.catalog
    val srcMeta = catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(src))
    if (srcMeta.partitionColumnNames.nonEmpty) {
      // directory-partitioned layout: file placement is semantic — keep
      // the executed-write path for this (unused by the index families)
      spark.table(src).write.mode(SaveMode.Overwrite)
        .partitionBy(srcMeta.partitionColumnNames: _*)
        .format("parquet").saveAsTable(dst)
      return
    }
    spark.sql(s"CREATE TABLE `$dst` LIKE `$src`")
    val dstMeta = catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(dst))
    val srcPath = new org.apache.hadoop.fs.Path(srcMeta.location)
    val dstPath = new org.apache.hadoop.fs.Path(dstMeta.location)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = srcPath.getFileSystem(conf)
    if (!fs.exists(dstPath)) fs.mkdirs(dstPath): Unit
    // copy files CONCURRENTLY (r16 — measured: a sequential FileUtil.copy
    // of one bucketed postings table was 2.25 s of single-threaded driver
    // time, the whole rest of the clone is milliseconds): destinations
    // are distinct files, so the copies are independent
    Overlap.map(parquetFilesAt(spark, srcPath), DriverIoThreads) { st =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, st.getPath, fs, new Path(dstPath, st.getPath.getName), false, conf): Unit
    }: Unit
    spark.catalog.refreshTable(dst)
  }

  /** The label table family: `_labels` (id → rep, bucketed on `id`). */
  val Labels = new TableFamily("_labels", "_meta")

  /** Blue/green persisted LABEL table (id → rep — the connected-components
    * state [[graft.operators.Dedup.incrementalConnectedComponents]]
    * maintains): each update stages the full new label set as a fresh
    * [[Labels]] generation and flips the pointer, so every crash window
    * leaves a complete serving generation. The update plan reads the OLD
    * generation while writing the NEW table, so no read-while-overwrite
    * materialization is needed. Returns the new generation.
    */
  def updateLabelTable(
      spark: SparkSession,
      tablePrefix: String,
      labels: org.apache.spark.sql.DataFrame,
      buckets: Int = 8): Long =
    Labels.rebuild(spark, tablePrefix) { g =>
      writeBucketedTable(labels, s"${g}_labels", buckets, "id")
      spark.createDataFrame(Seq(Tuple1(buckets))).toDF("buckets")
        .write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(s"${g}_meta")
    }

  /** The serving generation of a [[updateLabelTable]] label table,
    * resolved through the same pointer/completeness chain as every index
    * probe ([[activeTablePrefix]] — `_meta` presence marks a complete
    * generation, so a mid-build crash never resolves to a torn table).
    */
  def readLabelTable(spark: SparkSession, tablePrefix: String): org.apache.spark.sql.DataFrame =
    spark.table(s"${activeTablePrefix(spark, tablePrefix)}_labels")

  /** Deterministic training-shard writer — the curation pipeline's LAST
    * step: the curated corpus lands as `nShards` reproducible shard
    * files whose membership AND internal order are pure functions of
    * (salt, id), so a re-run on re-ordered, re-partitioned, or
    * incrementally-rebuilt upstream data writes byte-identical shards.
    * Shard assignment is the salted h60 used by every sampling operator
    * (`h60(salt:shard:id) mod nShards` — uniform in expectation, no
    * counting pass); within-shard order is an independent salted hash
    * (`__ord`, ties broken by id), which deterministically interleaves
    * documents so each shard reads as an unbiased sample stream rather
    * than upstream's correlated order (the usual "shuffle the training
    * data once, reproducibly" requirement). One `repartition(nShards,
    * shard)` puts each shard wholly in one task → exactly one file per
    * `shard=` directory; `__ord` is persisted so readers (and the spec)
    * can verify the order without recomputing hashes.
    *
    * At 100 TB: the repartition is the one shuffle and it is the
    * unavoidable one (a global deterministic interleave IS a shuffle);
    * shard count is chosen as corpus_bytes / desired_file_size, and the
    * per-shard sort is an external sort within one task's partition —
    * the same cost profile as any partitioned sorted write.
    */
  def writeTrainingShards(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      dir: String,
      nShards: Int,
      salt: String): Unit = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    df.withColumn("shard",
        pmod(graft.functions.CrossHash.h60(
          concat(lit(s"$salt:shard:"), col(idCol).cast("string"))), lit(nShards.toLong)))
      .withColumn("__ord",
        graft.functions.CrossHash.h60(
          concat(lit(s"$salt:ord:"), col(idCol).cast("string"))))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__ord"), col(idCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(dir)
  }

  /** Manifest of a [[writeTrainingShards]] artifact, computed from the
    * WRITTEN files (so a green oracle certifies the artifact, not the
    * plan that produced it): per shard, document count, token mass, and
    * an order-invariant membership fingerprint (`bit_xor` of a third
    * independent salted id hash — XOR is overflow-free and
    * order-invariant, so the fingerprint is stable however the files
    * are scanned, and any added/dropped/substituted document flips it).
    */
  def shardManifest(
      spark: SparkSession,
      dir: String,
      idCol: String,
      nTokens: org.apache.spark.sql.Column,
      salt: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(dir)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTokens).cast("long").as("n_tokens"),
        call_function("bit_xor",
          graft.functions.CrossHash.h60(
            concat(lit(s"$salt:fp:"), col(idCol).cast("string")))).as("id_fp"))
      .select(col("shard").cast("long").as("shard"),
        col("n_docs"), col("n_tokens"), col("id_fp"))

  /** Z-order TILE-PARTITIONED write: rows land in 2^tileBits tile
    * DIRECTORIES keyed by the interleaved-bit (Morton) key of two
    * equal-width bin indexes. Complementary to [[writeZOrdered]] (one
    * z-sorted file set whose pruning relies on reader-side footer
    * min/max — which plain Spark parquet scans do per ROW GROUP, not
    * per file, at execution time): here the tile id is a PARTITION
    * column, so [[readZTiled]] prunes whole directories at PLANNING
    * time — the Spark-native form of the lakehouse OPTIMIZE
    * ZORDER: a box predicate on EITHER column (or both) maps to a small
    * set of z-tiles, and [[readZTiled]] turns that set into a
    * partition filter, so pruning works for BOTH columns where a plain
    * sort layout prunes only its leading column. Everything is
    * deterministic and engine-replayable: bins are `width_bucket` over
    * the column's own [min, max] (two tiny aggregations), the Morton
    * interleave is a 2·bitsPerDim-term bit fold, and the tile is the
    * key's top `tileBits` bits — no range-partitioner sampling anywhere,
    * so the same data always writes the same tiles (`d_?`/oracle-safe).
    * Bin parameters land in `_zmeta` (underscore-prefixed: invisible to
    * data scans of the directory).
    *
    * At 100 TB: one repartition on the tile id is the only shuffle;
    * tiles are equal z-VOLUME, so heavily skewed columns want
    * quantile-binned edges instead of equal-width (the `width_bucket`
    * call is the seam — swap in percentile_approx edges); tileBits
    * sizes directories at corpus_bytes / 2^tileBits.
    */
  def writeZTiled(
      df: DataFrame,
      dir: String,
      colA: String,
      colB: String,
      bitsPerDim: Int = 8,
      tileBits: Int = 6): Unit = {
    require(bitsPerDim >= 1 && bitsPerDim <= 16, s"bitsPerDim=$bitsPerDim")
    require(tileBits >= 1 && tileBits <= 2 * bitsPerDim, s"tileBits=$tileBits")
    val spark = df.sparkSession
    val b = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double")),
      sum(when(col(colA).isNull.or(col(colB).isNull), 1L).otherwise(0L))).head()
    require(!b.isNullAt(0) && !b.isNullAt(2),
      s"writeZTiled: no non-null ($colA, $colB) rows to bin — an empty " +
        "layout would be unreadable")
    // NULL z-keys would land in zfile=__HIVE_DEFAULT_PARTITION__, which
    // readZTiled's `zfile IN (tiles)` filter can never select — such rows
    // would be silently unreachable through the reader. Refuse loudly
    // (same spirit as the empty-layout guard); callers wanting NULLs must
    // route them to a side table themselves.
    require(b.getLong(4) == 0L,
      s"writeZTiled: ${b.getLong(4)} rows have NULL in $colA/$colB — they " +
        "would be unreachable through readZTiled's tile filter")
    val (loA, loB) = (b.getDouble(0), b.getDouble(2))
    // a constant column degenerates width_bucket's range — widen it so
    // every row lands in bin 0 and the layout stays well-defined (all
    // pruning then comes from the other dimension)
    val hiA = if (b.getDouble(1) > loA) b.getDouble(1) else loA + 1.0
    val hiB = if (b.getDouble(3) > loB) b.getDouble(3) else loB + 1.0
    val n = (1 << bitsPerDim).toLong
    def bin(c: String, lo: Double, hi: Double) =
      least(greatest(
        call_function("width_bucket", col(c).cast("double"), lit(lo), lit(hi), lit(n)) - 1L,
        lit(0L)), lit(n - 1))
    val zkey = (0 until bitsPerDim).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(call_function("shiftleft",
          call_function("shiftright", col("__bin_a"), lit(i)).bitwiseAND(lit(1L)),
          lit(2 * i + 1)))
        .bitwiseOR(call_function("shiftleft",
          call_function("shiftright", col("__bin_b"), lit(i)).bitwiseAND(lit(1L)),
          lit(2 * i)))
    }
    df.withColumn("__bin_a", bin(colA, loA, hiA))
      .withColumn("__bin_b", bin(colB, loB, hiB))
      .withColumn("__zkey", zkey)
      .withColumn("zfile",
        call_function("shiftright", col("__zkey"), lit(2 * bitsPerDim - tileBits)))
      .drop("__bin_a", "__bin_b")
      .repartition(1 << tileBits, col("zfile"))
      .sortWithinPartitions("zfile", "__zkey")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("zfile")
      .parquet(dir)
    spark.createDataFrame(Seq((colA, loA, hiA, colB, loB, hiB, bitsPerDim, tileBits)))
      .toDF("col_a", "lo_a", "hi_a", "col_b", "lo_b", "hi_b", "bits", "tile_bits")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/_zmeta")
  }

  /** Box-predicate reader over a [[writeZTiled]] layout: the query box
    * [loA, hiA] × [loB, hiB] is mapped to bin ranges, the (tiny, ≤
    * 2^tileBits) tile list is enumerated driver-side — a tile's top
    * bits fix the high bits of BOTH bin indexes, so tile-box ∩ query-box
    * is integer interval arithmetic — and the scan carries `zfile IN
    * (tiles)` as a genuine PARTITION filter (directory pruning; pinned
    * in SinksSpec via the scan's partition-filter count) plus the exact
    * residual predicate. Pruning power: a box covering fraction f of
    * each dimension touches ~f·2^(tileBits/2) of the tile grid per
    * dimension — both columns prune, which no single-column sort gives.
    */
  def readZTiled(
      spark: SparkSession,
      dir: String,
      loA: Double, hiA: Double,
      loB: Double, hiB: Double): DataFrame = {
    val m = spark.read.parquet(s"$dir/_zmeta").head()
    val (cA, mLoA, mHiA) = (m.getString(0), m.getDouble(1), m.getDouble(2))
    val (cB, mLoB, mHiB) = (m.getString(3), m.getDouble(4), m.getDouble(5))
    val bits = m.getInt(6); val tileBits = m.getInt(7)
    val n = 1L << bits
    def binOf(v: Double, lo: Double, hi: Double): Long =
      if (hi <= lo) 0L
      else math.min(n - 1, math.max(0L,
        math.floor((v - lo) / (hi - lo) * n).toLong))
    // ±1 bin slack: the writer binned rows with Spark's width_bucket and
    // this is an independent floor reimplementation — a last-ulp rounding
    // difference at an exact bucket edge must never prune a tile that
    // holds a matching row (costs a sliver of pruning, never correctness)
    val (qa0, qa1) = (binOf(loA, mLoA, mHiA) - 1, binOf(hiA, mLoA, mHiA) + 1)
    val (qb0, qb1) = (binOf(loB, mLoB, mHiB) - 1, binOf(hiB, mLoB, mHiB) + 1)
    // tile's top bits fix the top ceil(tileBits/2) a-bits (odd positions)
    // and floor(tileBits/2) b-bits (even positions)
    val aTop = (tileBits + 1) / 2
    val bTop = tileBits / 2
    val tiles = (0 until (1 << tileBits)).filter { t =>
      var aHigh = 0L; var bHigh = 0L
      (0 until tileBits).foreach { j =>
        // bit j of the tile (from the top) is zkey bit 2*bits-1-j:
        // odd global position → an a-bit, even → a b-bit
        val globalPos = 2 * bits - 1 - j
        val bitVal = (t >> (tileBits - 1 - j)) & 1
        if (globalPos % 2 == 1) aHigh = (aHigh << 1) | bitVal
        else bHigh = (bHigh << 1) | bitVal
      }
      val aLo = aHigh << (bits - aTop); val aHi = ((aHigh + 1) << (bits - aTop)) - 1
      val bLo = bHigh << (bits - bTop); val bHi = ((bHigh + 1) << (bits - bTop)) - 1
      aHi >= qa0 && aLo <= qa1 && bHi >= qb0 && bLo <= qb1
    }
    spark.read.parquet(dir)
      .filter(col("zfile").isin(tiles: _*))
      .filter(col(cA).cast("double").between(loA, hiA) &&
        col(cB).cast("double").between(loB, hiB))
  }

  /** Parquet data files currently backing a managed catalog table. */
  private def parquetFiles(
      spark: SparkSession, table: String): Seq[org.apache.hadoop.fs.FileStatus] =
    parquetFilesAt(spark, new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location))

  private[graft] def parquetFileCount(spark: SparkSession, table: String): Int =
    parquetFiles(spark, table).length

  /** Bucket id encoded in a bucketed data file's name (`part-NNNNN-
    * <uuid>_BBBBB.c000…parquet`) — the same suffix Spark's own reader
    * parses. The uuid is hex+hyphens, so the underscore-prefixed 5-digit
    * group is unambiguous; None for a non-bucketed (or foreign) name.
    */
  private def bucketIdOf(name: String): Option[Int] =
    "_(\\d{5})\\.".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Is `table` already at its compaction target? Bucketed: every data
    * file carries a parseable bucket id and no bucket holds two files
    * (one file per bucket IS the target layout). Unbucketed: the file
    * count is already within the size-targeted output count. Used to
    * turn identity-rewrite members of a family compaction into raw file
    * copies — re-encoding an already-compact table buys nothing.
    */
  private def alreadyCompact(spark: SparkSession, table: String, bucketed: Boolean): Boolean = {
    val files = parquetFiles(spark, table)
    if (bucketed) {
      val ids = files.map(f => bucketIdOf(f.getPath.getName))
      ids.forall(_.isDefined) && ids.flatten.distinct.size == ids.size
    } else files.size <= outputFileCount(files, CompactFileBytes)
  }

  /** Target file size of an unbucketed member's compaction. */
  private val CompactFileBytes = 128L << 20

  /** The compaction stage write of [[TableFamily.compact]]: writes
    * `rewrite(table)` into `stage` through the table's OWN bucket spec at
    * one file per bucket — or size-targeted files when unbucketed — with
    * the table's column order re-pinned. An identity member (`rewrite`
    * None) whose layout is already at the target compacts as a raw FILE
    * COPY ([[cloneTableViaFileCopy]] — zero Spark jobs, bit-identical
    * rows); guide §6: never re-encode bytes a copy preserves.
    */
  private[sources] def stageCompactedInto(
      spark: SparkSession,
      table: String,
      stage: String,
      rewrite: Option[DataFrame => DataFrame]): Unit = {
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
    if (rewrite.isEmpty && alreadyCompact(spark, table, spec.isDefined)) {
      cloneTableViaFileCopy(spark, table, stage)
      return
    }
    // built at its use, inside the pinned settings below
    def rows = rewrite.getOrElse(identity[DataFrame] _)(spark.table(table))
    // a rewrite hook must preserve the column SET (it writes back into
    // the same table), but Spark's USING joins put join keys first — so
    // an anti-join deletion rewrite would silently reorder a long-lived
    // index table's schema on every take-down. Re-pin the table's own
    // column order; a rewrite that dropped or renamed a column fails
    // loudly here instead of corrupting the table.
    val origCols = spark.table(table).columns.toSeq
    def ordered(df: DataFrame): DataFrame = df.select(origCols.map(col): _*)
    spec match {
      case Some(s) =>
        // repartition on the bucket columns with the bucket count — the
        // same hash family as the bucket-id assignment, so each write
        // task holds exactly one bucket's rows → ONE file per bucket.
        // Two planner interactions must be pinned for the stage write,
        // because a V1 file write declares no required distribution:
        //  - the bucketed scan must stay ENABLED (autoBucketedScan off):
        //    the planner elides the repartition because the bucketed
        //    scan satisfies HashPartitioning(bucketCols, n) — correct,
        //    and it makes compaction shuffle-free (one task per bucket,
        //    merging that bucket's fragments) — but only if
        //    DisableUnnecessaryBucketedScan doesn't then ALSO drop the
        //    bucketed read, which would leave plain file splits writing
        //    one file per task×bucket (measured: 114 → 31 instead of 4);
        //  - AQE's local shuffle reader must not rewrite the exchange
        //    into mapper-local mixed-bucket chunks when the repartition
        //    DOES survive (a `rewrite` hook that reshuffles).
        graft.GraftSession.withConf(spark,
            "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
            "spark.sql.adaptive.localShuffleReader.enabled" -> "false") {
          val cols = s.bucketColumnNames.map(col)
          val w = ordered(rows).repartition(s.numBuckets, cols: _*)
            .write.mode(SaveMode.Overwrite)
            .bucketBy(s.numBuckets, s.bucketColumnNames.head, s.bucketColumnNames.tail: _*)
          val ws = if (s.sortColumnNames.nonEmpty)
            w.sortBy(s.sortColumnNames.head, s.sortColumnNames.tail: _*) else w
          ws.format("parquet").saveAsTable(stage)
        }
      case None =>
        ordered(rows).repartition(outputFileCount(parquetFiles(spark, table), CompactFileBytes))
          .write.mode(SaveMode.Overwrite)
          .format("parquet").saveAsTable(stage)
    }
  }

  /** Sink-choosing seam: one destination's write + audit pair. The parquet
    * leg is [[parquetAdapter]] (verified end-to-end here); the production
    * BigQuery leg is [[BigQuerySink.adapter]] (structural — no connector
    * jar or network in this environment).
    */
  trait SinkAdapter {
    def name: String
    /** Writes `df` with the disposition, running it exactly once, and
      * returns the rows written — counted by the write job itself
      * ([[countedWrite]]), never by a separate pass over `df`.
      */
    def write(df: DataFrame, daily: Boolean, dayPartitionField: Option[String]): Long
    /** K5: rows in the destination after the write, read back from the
      * destination itself, never from the write's count. A metadata read
      * where the sink keeps one (parquet footers, BigQuery `num_rows`).
      */
    def countAudit(): Long
    /** True when a write of zero rows with this disposition leaves the
      * destination exactly as it was, so a caller may skip its empty-input
      * probe and let the write's count say whether rows landed. False
      * unless a leg has shown it: an empty write that changes the
      * destination (truncates it, or adds a file) needs the probe first.
      */
    def emptyWriteIsNoOp(daily: Boolean, dayPartitionField: Option[String]): Boolean = false
  }

  def parquetAdapter(spark: SparkSession, path: String, table: Option[String] = None): SinkAdapter =
    new SinkAdapter {
      val name: String = table.getOrElse(path.split('/').last)
      def write(df: DataFrame, daily: Boolean, dayPartitionField: Option[String]): Long =
        Sinks.write(df, path, daily, dayPartitionField)
      def countAudit(): Long = Sinks.countAudit(spark, path)
      // an empty DAY-partitioned append into an existing directory writes
      // no file (pinned in EtlSpec); into a missing one it creates the
      // directory, and an empty unpartitioned write adds a schema-only
      // part file
      override def emptyWriteIsNoOp(daily: Boolean, dayPartitionField: Option[String]): Boolean =
        daily && dayPartitionField.isDefined && {
          val p = new Path(path)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
    }

  /** K1+K2+K3+K5 composite against any [[SinkAdapter]] — the whole
    * `load_to_bigquery` contract (`bigquery_operations.py:21-48`): bind the
    * declared schema, write with the disposition, read back the audit
    * count. Returns (rowsLoaded, rowsTotalAfterLoad) like the reference's
    * two log lines (`bigquery_operations.py:47-48`): rowsLoaded is the
    * count the write job observed (the source is read once), rowsTotal
    * the K5 read-back of the destination.
    */
  def loadVia(
      sink: SinkAdapter,
      df: DataFrame,
      schema: StructType,
      daily: Boolean = false,
      dayPartitionField: Option[String] = None): LoadReport = {
    val rowsWritten = sink.write(SchemaRegistry.enforce(df, schema), daily, dayPartitionField)
    LoadReport(sink.name, rowsWritten, sink.countAudit())
  }
}

package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.exchange.Exchange

import graft.model.SchemaRegistry
import graft.sources.{BigQuerySink, BigQuerySinkConfig, PartialFamily, Sinks, TableFamily}

/** Bucketed-table layout spec: co-located joins must plan without a
  * shuffle (the whole point of paying the bucketed write) — plus the
  * structural BigQuery sink adapter (option map, disposition mapping, and
  * the sink-choosing seam; no connector jar or network here, so the write
  * itself is exercised only through the parquet twin).
  */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  private val bqCfg = BigQuerySinkConfig("proj", "ds")

  test("BigQuery options map the reference's job config") {
    // day-partitioned table: TimePartitioning(DAY, field) -> connector opts
    assert(BigQuerySink.options(bqCfg, "daily_log", Some("BackupDate")) == Map(
      "table" -> "proj.ds.daily_log",
      "writeMethod" -> "direct",
      "partitionField" -> "BackupDate",
      "partitionType" -> "DAY"))
    // unpartitioned: no partition options at all
    assert(BigQuerySink.options(bqCfg, "backup_log", None) == Map(
      "table" -> "proj.ds.backup_log",
      "writeMethod" -> "direct"))
    // indirect write method carries the staging bucket
    val indirect = bqCfg.copy(writeMethod = "indirect", temporaryGcsBucket = Some("stage"))
    assert(BigQuerySink.options(indirect, "t", None)("temporaryGcsBucket") == "stage")
  }

  test("BigQuery write disposition: daily=APPEND, full=TRUNCATE") {
    assert(BigQuerySink.saveMode(daily = true) == SaveMode.Append)
    assert(BigQuerySink.saveMode(daily = false) == SaveMode.Overwrite)
  }

  test("loadVia seam: parquet adapter loads and audits, custom adapter observed") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val schema = SchemaRegistry.fromJson(
      """{"t": [{"name": "id", "type": "INTEGER"}, {"name": "name", "type": "STRING"}]}""")
    val out = java.nio.file.Files.createTempDirectory("graft_seam").toString
    val viaSeam = Sinks.loadVia(Sinks.parquetAdapter(spark, s"$out/t"), df,
      SchemaRegistry.schemaFor(schema, "t"))
    assert(viaSeam == Sinks.LoadReport("t", 2, 2))

    // a recording adapter proves enforce-then-write-then-audit ordering,
    // and that rowsLoaded is what the adapter's write returned
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    var written: Option[(Long, Boolean, Option[String])] = None
    val recording = new Sinks.SinkAdapter {
      val name = "rec"
      def write(d: org.apache.spark.sql.DataFrame, daily: Boolean, f: Option[String]): Long = {
        assert(d.schema.map(c => c.name -> c.dataType) ==
          SchemaRegistry.schemaFor(schema, "t").map(c => c.name -> c.dataType),
          "write must see the bound schema")
        calls += "write"
        val n = d.count()
        written = Some((n, daily, f))
        n
      }
      def countAudit(): Long = { calls += "audit"; 42L }
    }
    val r = Sinks.loadVia(recording, df, SchemaRegistry.schemaFor(schema, "t"),
      daily = true, dayPartitionField = Some("d"))
    assert(r == Sinks.LoadReport("rec", 2, 42L))
    assert(written.contains((2L, true, Some("d"))))
    assert(calls == Seq("write", "audit"))
  }

  test("a load reads its source once: the write job counts the rows it loads") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = SchemaRegistry.schemaFor(SchemaRegistry.fromJson(
      """{"t": [{"name": "id", "type": "INTEGER"}, {"name": "ts", "type": "TIMESTAMP"}]}"""), "t")
    val rows = (0 until 30).map(i =>
      Row(i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 3}%02d 10:00:00")))
    val out = java.nio.file.Files.createTempDirectory("graft_one_pass").toString
    // every Spark job that computes the source adds each row it reads once
    def loadCountingReads(path: String, daily: Boolean, dayField: Option[String]) = {
      val reads = spark.sparkContext.longAccumulator("source_rows")
      val src = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3).map { r => reads.add(1); r },
        StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType))))
      val report = Sinks.loadVia(Sinks.parquetAdapter(spark, path), src, schema,
        daily = daily, dayPartitionField = dayField)
      (report, reads.value.longValue)
    }
    // DAY-partitioned append: the count rides the write's post-shuffle stage
    val day = s"$out/day"
    assert(loadCountingReads(day, daily = true, Some("ts")) == ((Sinks.LoadReport("day", 30, 30), 30L)))
    assert(loadCountingReads(day, daily = true, Some("ts")) == ((Sinks.LoadReport("day", 30, 60), 30L)))
    assert(spark.read.parquet(day).select("p_date").distinct().count() == 3)
    // unpartitioned overwrite: truncate, so the total stays one load's rows
    val full = s"$out/full"
    assert(loadCountingReads(full, daily = false, None) == ((Sinks.LoadReport("full", 30, 30), 30L)))
    assert(loadCountingReads(full, daily = false, None) == ((Sinks.LoadReport("full", 30, 30), 30L)))
    // an empty write still reports its (zero) rows
    assert(Sinks.write(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      s"$out/empty") == 0L)
  }

  test("K5 audit: footer row counts equal Spark's count of the destination, with no job") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val rows = (0 until 30).map(i =>
      Row(i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 3}%02d 10:00:00")))
    val out = Files.createTempDirectory("graft_audit")
    val dest = out.resolve("t").toString
    // a DAY destination over two appends: p_date= directories, _SUCCESS and .crc files
    Seq(0, 1).foreach { _ =>
      Sinks.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema), dest,
        daily = true, dayPartitionField = Some("ts"))
    }
    def under(dir: String): Seq[Path] = {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.toList
      finally st.close()
    }
    def partFile(dir: String) = under(dir).find(p =>
      p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet")).get
    assert(under(dest).exists(_.getFileName.toString == "_SUCCESS"))
    assert(under(dest).exists(_.getFileName.toString.endsWith(".crc")))
    assert(under(dest).exists(_.getFileName.toString.startsWith("p_date=")))
    // a leftover of an uncommitted task that holds rows: scans skip _temporary/
    val leftover = out.resolve("leftover").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(leftover)
    Files.createDirectories(Paths.get(dest, "_temporary", "0"))
    Files.copy(partFile(leftover), Paths.get(dest, "_temporary", "0", "part-00000-left.parquet"))
    // a zero-row part file in a partition directory
    val empty = out.resolve("empty").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(empty)
    val day = under(dest).find(_.getFileName.toString.startsWith("p_date=")).get
    Files.copy(partFile(empty), day.resolve("part-00000-zero.parquet"))

    val (audited, jobs) = jobsStartedBy(Sinks.countAudit(spark, dest))
    assert(audited == spark.read.parquet(dest).count())
    assert(audited == 60L)
    assert(jobs == 0, s"the audit started $jobs Spark jobs")
  }

  test("K5 audit: a file that is not parquet fails with the footer reader's own error") {
    val dest = java.nio.file.Files.createTempDirectory("graft_audit_bad").resolve("t").toString
    spark.range(0, 10, 1, 2).write.parquet(dest)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dest, "part-x.parquet"),
      "this is text, not a parquet file\n")
    val e = intercept[RuntimeException](Sinks.countAudit(spark, dest))
    assert(e.getMessage.contains("part-x.parquet"), e.getMessage)
  }

  test("a row count that never arrives fails the load by name instead of hanging") {
    val e = intercept[IllegalStateException] {
      Sinks.awaitObservedRows("warehouse/daily_log", org.apache.spark.sql.Observation(),
        scala.concurrent.duration.FiniteDuration(50, "ms"))
    }
    assert(e.getMessage.contains("warehouse/daily_log"))
  }

  test("retention sweep drops only expired day= partitions, leaves foreign entries") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-05", 3))
      .toDF("day", "v")
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    // foreign entries a sweep must never touch: an unrelated directory
    // and a loose file at the root
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "not_a_partition"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "loose.txt"), "x".getBytes)
    val (dropped, kept) = Sinks.retentionSweep(spark, out, "day", "2024-01-02")
    assert(dropped == 1 && kept == 2) // only 2024-01-01 expires
    val left = spark.read.option("basePath", out)
      .parquet(s"$out/day=*").select("day").distinct()
      .as[String].collect().toSet
    assert(left == Set("2024-01-02", "2024-01-05"))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out, "not_a_partition")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "loose.txt")))
    // idempotent: nothing else expires on a re-run with the same cutoff
    assert(Sinks.retentionSweep(spark, out, "day", "2024-01-02") == ((0, 2)))
    // a non-ISO cutoff against ISO partitions compares lexicographically
    // wrong — refused loudly, nothing deleted
    intercept[IllegalArgumentException] {
      Sinks.retentionSweep(spark, out, "day", "2024-1-2")
    }
    // a cutoff expiring EVERY partition would leave the sink unreadable —
    // refused before the first delete, both survivors still present
    intercept[IllegalArgumentException] {
      Sinks.retentionSweep(spark, out, "day", "2030-01-01")
    }
    assert(Sinks.retentionSweep(spark, out, "day", "2024-01-02") == ((0, 2)))
  }

  test("blue/green label table: every crash window leaves a complete serving generation") {
    val p = "bg_labels_spec"
    Sinks.Labels.drop(spark, p)
    def serving(): Set[(Long, Long)] =
      Sinks.readLabelTable(spark, p).as[(Long, Long)].collect().toSet
    val l1 = Set(1L -> 1L, 2L -> 1L, 5L -> 5L)
    val l2 = Set(1L -> 1L, 2L -> 1L, 5L -> 1L)
    assert(Sinks.updateLabelTable(spark, p, l1.toSeq.toDF("id", "rep")) == 1L)
    assert(serving() == l1)
    // crash window 1: the next update died MID-STAGE — generation tables
    // written but no _meta. The resolver must never see the torn state.
    Sinks.writeBucketedTable(l2.toSeq.toDF("id", "rep"), s"${p}_g2_labels", 8, "id")
    assert(serving() == l1, "torn staged generation must not serve")
    // crash window 2: stage COMPLETE (meta in) but died before the
    // pointer flip — the pointer still wins, old generation serves.
    Seq(Tuple1(8)).toDF("buckets").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${p}_g2_meta")
    assert(serving() == l1, "pre-flip crash must keep the old generation serving")
    // the retried update pre-drops the staged leftovers and lands cleanly
    assert(Sinks.updateLabelTable(spark, p, l2.toSeq.toDF("id", "rep")) == 2L)
    assert(serving() == l2)
    // retired generation is gone; the new one is the only label table
    assert(!spark.catalog.tableExists(s"${p}_g1_labels"),
      "retired generation must be dropped")
    assert(spark.table(s"${p}_current").head().getLong(0) == 2L)
  }

  /** A small signed-count family for the generic lifecycle specs. */
  private val tally = new PartialFamily("_cnt", Seq("k"), "v", "n" -> 0)

  private def writeTally(prefix: String, rows: (String, Long)*): Unit =
    tally.write(prefix, rows.toDF("k", "v"))

  test("table family drop scrubs every generation, in the catalog or only on disk") {
    val p = "tf_drop_spec"
    tally.drop(spark, p)
    writeTally(p, "a" -> 1L)
    (1 to 6).foreach(g => assert(tally.compact(spark, p)._1 == g.toLong))
    // a generation the catalog forgot (a fresh JVM) survives only as a directory
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val orphan = new java.io.File(warehouse, s"${p}_g7_cnt")
    assert(orphan.mkdirs() && new java.io.File(orphan, "part-0.parquet").createNewFile())
    tally.drop(spark, p)
    writeTally(p, "b" -> 1L)
    assert(Sinks.activeTablePrefix(spark, p) == p)
    val generation = s"${p}_g\\d+_.*"
    assert(!spark.catalog.listTables().collect().exists(_.name.matches(generation)),
      "no generation table may survive the drop")
    assert(!warehouse.list().exists(_.matches(generation)),
      "no generation directory may survive the drop")
    assert(tally.live(spark, p).as[(String, Long)].collect().toSeq == Seq("b" -> 1L))
  }

  test("partial family crash window: a rebuild that dies before _meta never serves") {
    val p = "tf_crash_spec"
    tally.drop(spark, p)
    writeTally(p, "a" -> 2L, "b" -> 1L)
    tally.delete(p, Seq("b" -> 1L).toDF("k", "v"))
    assert(tally.compact(spark, p)._1 == 1L)
    tally.ingest(p, Seq("c" -> 3L).toDF("k", "v"))
    def fold(): Set[(String, Long)] = tally.live(spark, p).as[(String, Long)].collect().toSet
    val served = fold()
    assert(served == Set("a" -> 2L, "c" -> 3L))
    // the build lands its data member, then dies before _meta
    intercept[IllegalStateException] {
      tally.rebuild(spark, p) { g =>
        Seq("z" -> 9L).toDF("k", "v").write.format("parquet").saveAsTable(s"${g}_cnt")
        throw new IllegalStateException("crash before _meta")
      }
    }
    assert(spark.catalog.tableExists(s"${p}_g2_cnt") && !spark.catalog.tableExists(s"${p}_g2_meta"))
    assert(spark.table(s"${p}_current").head().getLong(0) == 1L, "the pointer must not flip")
    assert(Sinks.activeTablePrefix(spark, p) == s"${p}_g1", "the staged generation must not resolve")
    assert(fold() == served, "the old generation keeps serving the same fold")
    // the next verbs scrub the staged remnant and take the next generation numbers
    assert(tally.compact(spark, p)._1 == 2L)
    assert(fold() == served)
    assert(tally.rebuild(spark, p)(writeTally(_, "d" -> 1L)) == 3L)
    assert(fold() == Set("d" -> 1L))
  }

  test("table family verbs: deleteKeys rewrites only the named members; drop resets the ledger") {
    val pair = new TableFamily("_a", "_b", "_meta")
    val p = "tf_keys_spec"
    pair.drop(spark, p)
    def writePair(): Unit = {
      val rows = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
      Seq("_a", "_b").foreach(m => rows.write.format("parquet").saveAsTable(s"$p$m"))
      Seq(Tuple1(1)).toDF("n").write.format("parquet").saveAsTable(s"${p}_meta")
    }
    def ids(member: String): Set[Long] =
      spark.table(s"${Sinks.activeTablePrefix(spark, p)}$member")
        .select("id").as[Long].collect().toSet
    def generation(): Long = spark.table(s"${p}_current").head().getLong(0)
    writePair()
    pair.deleteKeys(spark, p, Seq(2L, 3L, 3L).toDF("id"), "_a")
    assert(generation() == 1L)
    assert(ids("_a") == Set(1L) && ids("_b") == Set(1L, 2L, 3L))
    pair.deleteKeys(spark, p, Seq(1L).toDF("id"), "_a", "_b")
    assert(generation() == 2L, "two named members flip in one generation")
    assert(ids("_a").isEmpty && ids("_b") == Set(2L, 3L))

    // the ledger skips a committed batch until the family is dropped
    def applyBatch(batchId: Long): Option[Long] =
      TableFamily.exactlyOnce(spark, p, batchId)(fail("no attempt died mid-apply"))(batchId)
    assert(applyBatch(0L) == Some(0L))
    assert(applyBatch(0L).isEmpty, "a redelivered committed batch skips")
    pair.drop(spark, p)
    writePair()
    assert(applyBatch(0L) == Some(0L), "a fresh family must not skip on the dropped ledger")
  }

  test("training shards: one file per shard, deterministic internal order, lossless membership") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_shards_spec").toString
    val docs = (1L to 300L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    Sinks.writeTrainingShards(docs, "doc_id", out, nShards = 4, salt = "spec_v1")
    // exactly one data file per shard= directory (the repartition puts
    // each shard wholly in one task)
    val root = new java.io.File(out)
    val shardDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 4)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected one file, got ${files.length}")
    }
    val back = spark.read.parquet(out)
    // lossless, no duplication
    assert(back.count() == 300)
    assert(back.select("doc_id").distinct().count() == 300)
    // membership is the salted-hash rule
    val misrouted = back.filter(
      col("shard") =!= pmod(graft.functions.CrossHash.h60(
        concat(lit("spec_v1:shard:"), col("doc_id").cast("string"))), lit(4L))).count()
    assert(misrouted == 0)
    // within-shard rows are sorted by (__ord, doc_id) — read one shard's
    // single file in parquet row order and check monotonicity
    shardDirs.foreach { d =>
      val rows = spark.read.parquet(d.getPath)
        .select("__ord", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${d.getName}: rows not in deterministic (__ord, id) order")
    }
    // re-writing from a permuted, re-partitioned input is byte-stable at
    // the row-sequence level: same per-shard ordered id sequence
    val out2 = java.nio.file.Files.createTempDirectory("graft_shards_spec2").toString
    Sinks.writeTrainingShards(docs.orderBy(rand(7)).repartition(13),
      "doc_id", out2, nShards = 4, salt = "spec_v1")
    def seqs(dir: String): Map[Long, Seq[Long]] =
      spark.read.parquet(dir)
        .select(col("shard").cast("long"), col("__ord"), col("doc_id")).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (s, a) => s -> a.map(_._2).sorted.map(_._2).toSeq }
    assert(seqs(out) == seqs(out2),
      "shard content/order must be independent of upstream order/partitioning")
  }

  test("z-tiled writer refuses NULL z-column rows (unreachable via the reader)") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_znull").toString
    val pts = spark.range(10).select(
      col("id"),
      when(col("id") === 3, lit(null)).otherwise(col("id").cast("double")).as("x"),
      col("id").cast("double").as("y"))
    val e = intercept[IllegalArgumentException] {
      Sinks.writeZTiled(pts, out, "x", "y", bitsPerDim = 4, tileBits = 2)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("z-order layout: box reads are exact and BOTH columns prune partitions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // deterministic 2-d point cloud covering the grid
    val pts = spark.range(20000).select(
      col("id"),
      (col("id") * 7919L % 1000L).cast("double").as("x"),
      (col("id") * 104729L % 1000L).cast("double").as("y"))
    Sinks.writeZTiled(pts, out, "x", "y", bitsPerDim = 8, tileBits = 6)
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case o => o
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      // execute THIS dataframe's own plan — count()/foreach() both derive
      // a NEW query execution whose metrics are separate; toRdd is the
      // executedPlan's own RDD
      df.queryExecution.toRdd.count()
      unwrap(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }.sum
    }
    val total = filesRead(spark.read.parquet(out))
    assert(total >= 60, s"expected ~64 tile files, got $total")
    // exactness: box read == direct filter on the source
    val box = Sinks.readZTiled(spark, out, 100, 200, 300, 400)
    val expected = pts.filter(col("x").between(100, 200) && col("y").between(300, 400))
    assert(box.select("id").as[Long].collect().sorted
      .sameElements(expected.select("id").as[Long].collect().sorted))
    // both dimensions prune: a narrow box on x (full y) and on y (full x)
    // must each touch well under the full tile set — the property a
    // single-column sort gives only to its leading column
    val xOnly = filesRead(Sinks.readZTiled(spark, out, 100, 200, 0, 1000))
    val yOnly = filesRead(Sinks.readZTiled(spark, out, 0, 1000, 300, 400))
    val both = filesRead(Sinks.readZTiled(spark, out, 100, 200, 300, 400))
    assert(xOnly < total / 2, s"x-box read $xOnly of $total files")
    assert(yOnly < total / 2, s"y-box read $yOnly of $total files")
    assert(both < xOnly && both < yOnly,
      s"2-d box must prune harder than either 1-d box ($both vs $xOnly/$yOnly)")
    // the tile restriction is a genuine PARTITION filter (directory
    // pruning at planning time), not a row filter
    val planned = Sinks.readZTiled(spark, out, 100, 200, 300, 400)
    val scans = unwrap(planned.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "zfile IN (...) must plan as a partition filter")
  }

  test("bucketed tables join with no Exchange in the physical plan") {
    val orders = (1L to 200L).map(i => (i % 40, i)).toDF("custkey", "orderkey")
    val cust = (0L until 40L).map(i => (i, s"c$i")).toDF("custkey", "name")
    Sinks.writeBucketedTable(orders, "b_orders", buckets = 8, bucketCol = "custkey")
    Sinks.writeBucketedTable(cust, "b_cust", buckets = 8, bucketCol = "custkey")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_orders").join(spark.table("b_cust"), "custkey")
      val exchanges = joined.queryExecution.executedPlan.collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"bucketed co-located join must not shuffle, found: $exchanges")
      assert(joined.count() == 200)
    }
  }

  test("z-ordered layout bounds BOTH keys per file; single-key sort only one") {
    import org.apache.spark.sql.functions._
    val n = 20000
    // two independent 11-bit-ish dimensions
    val df = (0 until n).map { i =>
      val a = (i * 2654435761L % 1500).toInt   // "user"
      val b = (i * 40503L % 1440).toInt        // "minute of day"
      (a, b, i)
    }.toDF("ka", "kb", "payload")
    val files = 16

    def admittingFiles(path: String, key: String, lo: Int, hi: Int): Int = {
      val perFile = spark.read.parquet(path)
        .select(col(key), input_file_name().as("f"))
        .groupBy("f").agg(min(key).as("mn"), max(key).as("mx"))
        .collect()
      assert(perFile.length == files)
      perFile.count(r => r.getInt(1) <= hi && r.getInt(2) >= lo)
    }

    val zdir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val sdir = java.nio.file.Files.createTempDirectory("graft_s").toString
    Sinks.writeZOrdered(df, zdir, "ka", "kb", files = files, bits = 11)
    // the single-key alternative: perfectly sorted by ka only
    df.repartitionByRange(files, $"ka").sortWithinPartitions("ka")
      .write.mode(SaveMode.Overwrite).parquet(sdir)

    // point-ish range on ka: the ka-sorted layout prunes best, z-order
    // must still prune a meaningful share (the constant-factor trade).
    // Bound is 3/4 of files, not half: repartitionByRange SAMPLES its
    // boundaries (nondeterministic seed), so the admitted count jitters
    // around ~half — the claim under test is "prunes on BOTH dims while
    // the single-key layout is blind on one", not an exact fraction.
    assert(admittingFiles(sdir, "ka", 700, 710) <= 2)
    assert(admittingFiles(zdir, "ka", 700, 710) <= files * 3 / 4)
    // range on kb: the ka-sorted layout admits EVERY file (no kb
    // locality at all); z-order keeps pruning
    assert(admittingFiles(sdir, "kb", 700, 710) == files)
    assert(admittingFiles(zdir, "kb", 700, 710) <= files * 3 / 4)
  }

  test("sorted layout: disjoint per-file key ranges, sorted within files, rows preserved") {
    import org.apache.spark.sql.functions._
    val n = 20000
    val df = (0 until n).map(i => ((i * 2654435761L % 100000).toInt, i))
      .toDF("k", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val files = 8
    Sinks.writeSortedLayout(df, dir, "k", files = files, tieBreak = Seq("payload"))

    val perFile = spark.read.parquet(dir)
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    assert(perFile.length == files)
    assert(perFile.map(_._3).sum == n)
    // the pruning payoff: every file's [min, max] key range is disjoint
    // from every other's (equal keys land in one range partition, so the
    // ranges cannot even touch)
    perFile.sliding(2).foreach {
      case Array((_, prevMax, _), (nextMin, _, _)) => assert(prevMax < nextMin)
      case _ =>
    }
    // rows within each file are sorted by the key (footer row-group stats
    // stay tight for range predicates)
    val unsortedFiles = spark.read.parquet(dir)
      .select(col("k"), input_file_name().as("f"))
      .withColumn("prev", lag("k", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev") > col("k")).count()
    assert(unsortedFiles == 0)
    // lossless
    assert(spark.read.parquet(dir).except(df).isEmpty
      && df.except(spark.read.parquet(dir)).isEmpty)
  }

  test("compaction sizes output files to the byte budget and loses nothing") {
    import org.apache.spark.sql.functions._
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val comp = java.nio.file.Files.createTempDirectory("graft_comp").toString
    val df = (0 until 50000).map(i => (i.toLong, s"payload_$i", i * 1.5))
      .toDF("id", "s", "v")
    df.repartition(40).write.mode(SaveMode.Overwrite).parquet(frag)

    val totalBytes = Option(new java.io.File(frag).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = totalBytes / 4 + 1 // expect ceil(total/target) = 4 files
    val (nIn, nOut) = Sinks.compact(spark, frag, comp, target)

    assert(nIn == 40)
    assert(nOut == 4)
    // lossless: same rows, same content
    assert(spark.read.parquet(comp).count() == 50000)
    assert(spark.read.parquet(comp).except(df).isEmpty
      && df.except(spark.read.parquet(comp)).isEmpty)
    // round-robin rebalance: no output file more than ~2x the even share
    val sizes = Option(new java.io.File(comp).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length())
    assert(sizes.max <= sizes.sum / sizes.length * 2)
  }

  test("compaction reader gap: the rename swap has a blind window; the family cutover never does") {
    import org.apache.spark.sql.functions._
    import graft.functions.CrossHash
    import graft.operators.TextIndex
    // 1. a stage-then-two-renames swap: between the renames the
    //    table name resolves to NOTHING — staged here explicitly. This is
    //    why pointer-managed families must not compact through it.
    Seq("cg_tbl", "cg_tbl__cold").foreach(Sinks.dropManagedTable(spark, _))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable("cg_tbl")
    spark.sql("ALTER TABLE cg_tbl RENAME TO cg_tbl__cold")
    intercept[Exception] { spark.table("cg_tbl").count() } // the blind window
    spark.sql("ALTER TABLE cg_tbl__cold RENAME TO cg_tbl")
    assert(spark.table("cg_tbl").count() == 2)

    // 2. the family compaction: a reader probing MID-STAGING (injected via
    //    the _meta rewrite hook, which runs after every data table has
    //    staged) still resolves the complete OLD generation — the pointer
    //    flips only after the staging pass.
    val corpus = Seq(
      (1L, "spark join words"), (2L, "query stream words words")
    ).toDF("doc_id", "text")
    val tk = CrossHash.tokens(col("text"))
    val terms = Seq("spark", "query", "words")
    TextIndex.Family.drop(spark, "ti_cg_spec")
    TextIndex.writeTextIndex(corpus, "doc_id", tk, "ti_cg_spec", buckets = 2)
    val before = TextIndex.bm25AgainstIndex(spark, "ti_cg_spec", terms, 10)
      .select("id", "dl", "bm25").localCheckpoint(true)
    var midRows: Long = -1L
    val (gen, counts) = TextIndex.Family.compact(spark, "ti_cg_spec",
      Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        "_meta" -> (df => {
          val mid = TextIndex.bm25AgainstIndex(spark, "ti_cg_spec", terms, 10)
            .select("id", "dl", "bm25")
          midRows = mid.exceptAll(before).count() + before.exceptAll(mid).count()
          df
        })))
    assert(midRows == 0L,
      "a reader mid-compaction must resolve the complete old generation")
    assert(gen == 1L && counts.contains("_postings"))
    assert(Sinks.activeTablePrefix(spark, "ti_cg_spec") == "ti_cg_spec_g1")
    assert(!spark.catalog.tableExists("ti_cg_spec_postings"),
      "the old generation retires after the flip")
    val after = TextIndex.bm25AgainstIndex(spark, "ti_cg_spec", terms, 10)
      .select("id", "dl", "bm25")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "a pure copy-compaction must not change the served scores")
  }

  test("loads write zstd pages, dictionaries only where they pay, below snappy") {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 40000, 1, 4).select(
      col("id"),
      concat(lit("segment_"), (col("id") % 200).cast("string")).as("seg"),
      // 5000 repeated values: a ~170 KB dictionary that would beat plain encoding
      concat(lit("/backups/server_07/file_"), lpad((col("id") % 5000).cast("string"), 6, "0"),
        lit(".bak")).as("path"),
      lit("the quick brown fox " * 3).as("txt"),
      (col("id") * 1.5).as("v"),
      timestamp_seconds(lit(1704067200L) + col("id") % 3 * 86400 + col("id")).as("ts"))
    val out = java.nio.file.Files.createTempDirectory("graft_load_format").toString
    def bytes(dir: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.filter(_.toString.endsWith(".parquet")).mapToLong(java.nio.file.Files.size(_)).sum
      finally st.close()
    }
    Seq(None, Some("ts")).foreach { day =>
      val load = s"$out/load_${day.isDefined}"
      assert(Sinks.write(df, load, dayPartitionField = day) == 40000L)
      val chunks = columnChunks(load)
      assert(chunks.nonEmpty)
      chunks.foreach(c =>
        assert(c.getCodec == CompressionCodecName.ZSTD, s"$load: ${c.getPath} is ${c.getCodec}"))
      def dictionaries(column: String) =
        chunks.filter(_.getPath.toDotString == column).map(_.hasDictionaryPage)
      assert(dictionaries("seg").nonEmpty && dictionaries("seg").forall(identity),
        s"$load: the 200-value string column lost its dictionary")
      assert(dictionaries("id").nonEmpty && !dictionaries("id").exists(identity),
        s"$load: the unique id column kept a dictionary")
      assert(dictionaries("path").nonEmpty && !dictionaries("path").exists(identity),
        s"$load: a dictionary above the 64 KiB cap was kept")
      // the same frame and layout through Spark's default writer
      val snappy = s"$out/snappy_${day.isDefined}"
      val w = day.fold(df.write) { f =>
        df.withColumn(Sinks.PartitionCol, to_date(col(f))).repartition(col(Sinks.PartitionCol))
          .write.partitionBy(Sinks.PartitionCol)
      }
      w.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(snappy)
      assert(bytes(load) < bytes(snappy), s"$load: ${bytes(load)} B, snappy ${bytes(snappy)} B")
    }
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.model.SchemaRegistry

/** End-to-end orchestration spec: the reference's full-refresh and daily
  * pipelines (E1/E2) against a temp parquet destination.
  */
class EtlSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val registry = SchemaRegistry.fromJson(
    """{
      |  "daily_log": [
      |    {"name": "ID", "type": "INTEGER"},
      |    {"name": "BackupDate", "type": "TIMESTAMP"},
      |    {"name": "Server", "type": "STRING"}
      |  ]
      |}""".stripMargin)

  private def sourceDf = Seq(
    (1L, ts("2024-01-14 10:00:00"), "s1", "a.bak"),
    (2L, ts("2024-01-15 11:00:00"), "s2", "b.bak"),
    (3L, ts("2024-01-15 12:00:00"), "s1", "c.bak")
  ).toDF("ID", "backup_date", "server", "fileName")

  /** `sourceDf` as a parquet landing table, so every probe of it is a
    * scan. Opened here, so its schema-inference job runs before any count.
    */
  private def landed(): String => org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("graft_etl_src").resolve("daily_log").toString
    sourceDf.write.parquet(dir)
    val df = spark.read.parquet(dir)
    _ => df
  }

  private val daySpec = Etl.TableSpec("daily_log",
    incrementalCol = Some("backup_date"), dayPartitionField = Some("BackupDate"))

  test("full refresh: transform dispatch + schema enforce + DAY partitioning") {
    val out = Files.createTempDirectory("graft_etl").toString
    val spec = Etl.TableSpec("daily_log",
      incrementalCol = Some("BackupDate"), dayPartitionField = Some("BackupDate"))
    val reports = Etl.run(spark, Seq(spec), _ => sourceDf, registry, out, daily = false)
    assert(reports == Seq(Etl.RunReport("daily_log", 3, 3, 3)))
    val written = spark.read.parquet(s"$out/daily_log")
    // declared schema only (FileName survives the transform but the registry
    // doesn't declare it, so schema enforcement excludes it; partition col added)
    assert(written.columns.toSet == Set("ID", "BackupDate", "Server", "p_date"))
    assert(written.select("p_date").distinct().count() == 2)
  }

  test("daily mode: incremental extract + append disposition") {
    val out = Files.createTempDirectory("graft_etl").toString
    val spec = Etl.TableSpec("daily_log",
      incrementalCol = Some("backup_date"), dayPartitionField = Some("BackupDate"))
    val day = java.time.LocalDate.parse("2024-01-15")
    val r1 = Etl.run(spark, Seq(spec), _ => sourceDf, registry, out, daily = true, day = day)
    assert(r1 == Seq(Etl.RunReport("daily_log", 2, 2, 2))) // only the two 01-15 rows
    val r2 = Etl.run(spark, Seq(spec), _ => sourceDf, registry, out, daily = true, day = day)
    assert(r2.head.total == 4) // append, not truncate
  }

  test("daily mode skips the table entirely on an empty day (P7 guard)") {
    val out = Files.createTempDirectory("graft_etl").toString
    val spec = Etl.TableSpec("daily_log", incrementalCol = Some("backup_date"))
    val day = java.time.LocalDate.parse("1999-01-01")
    val reports = Etl.run(spark, Seq(spec), _ => sourceDf, registry, out, daily = true, day = day)
    assert(reports.isEmpty)
    assert(!new java.io.File(s"$out/daily_log").exists())
    // a DAY-partitioned first load keeps the guard: an empty write would
    // create the destination directory
    assert(Etl.run(spark, Seq(daySpec), _ => sourceDf, registry, out, daily = true, day = day).isEmpty)
    assert(!new java.io.File(s"$out/daily_log").exists())
  }

  test("a table load runs at most 2 Spark jobs for a daily append, 3 for a full refresh") {
    val src = landed()
    def runTable(spec: Etl.TableSpec, out: String, daily: Boolean) =
      jobsStartedBy(Etl.runTable(spark, spec, src, registry, out, daily,
        java.time.LocalDate.parse("2024-01-15")))
    val out = Files.createTempDirectory("graft_etl_jobs").toString
    // full refresh: guard, then the DAY write's shuffle map and result jobs
    val (full, fullJobs) = runTable(daySpec, out, daily = false)
    assert(full.contains(Etl.RunReport("daily_log", 3, 3, 3)))
    assert(fullJobs <= 3, s"full refresh ran $fullJobs jobs")
    // DAY-partitioned daily append into the existing table: the write alone
    val (daily, dailyJobs) = runTable(daySpec, out, daily = true)
    assert(daily.contains(Etl.RunReport("daily_log", 2, 2, 5)))
    assert(dailyJobs <= 2, s"DAY append ran $dailyJobs jobs")
    // unpartitioned append: guard and write
    val flat = Etl.TableSpec("daily_log", incrementalCol = Some("backup_date"))
    val (flatReport, flatJobs) =
      runTable(flat, Files.createTempDirectory("graft_etl_jobs_flat").toString, daily = true)
    assert(flatReport.contains(Etl.RunReport("daily_log", 2, 2, 2)))
    assert(flatJobs <= 2, s"unpartitioned append ran $flatJobs jobs")
  }

  test("an empty DAY-partitioned day into an existing table: no report, files untouched (P7)") {
    val src = landed()
    val out = Files.createTempDirectory("graft_etl_p7").toString
    val dest = java.nio.file.Paths.get(out, "daily_log")
    assert(Etl.run(spark, Seq(daySpec), src, registry, out).nonEmpty)
    // every parquet file under the destination: relative name -> bytes
    def parquetFiles(): Map[String, Seq[Byte]] = {
      val st = Files.walk(dest)
      try st.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => dest.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally st.close()
    }
    val before = parquetFiles()
    assert(before.nonEmpty)
    val reports = Etl.run(spark, Seq(daySpec), src, registry, out, daily = true,
      day = java.time.LocalDate.parse("1999-01-01"))
    assert(reports.isEmpty)
    // same names, sizes and bytes
    assert(parquetFiles() == before)
  }

  test("upgrade: a daily load onto a snappy history; a full refresh leaves only zstd") {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName.{SNAPPY, ZSTD}
    val out = Files.createTempDirectory("graft_etl_upgrade").toString
    val dest = s"$out/daily_log"
    // a destination loaded before zstd: Spark's default writer, the sink's DAY layout
    Seq((9L, ts("2024-01-13 09:00:00"), "s9")).toDF("ID", "BackupDate", "Server")
      .withColumn("p_date", to_date(col("BackupDate")))
      .write.partitionBy("p_date").parquet(dest)
    def codecs() = columnChunks(dest).map(_.getCodec).toSet
    assert(codecs() == Set(SNAPPY))
    val day = java.time.LocalDate.parse("2024-01-15")
    val daily = Etl.run(spark, Seq(daySpec), _ => sourceDf, registry, out, daily = true, day = day)
    assert(codecs() == Set(SNAPPY, ZSTD))
    def rows() = spark.read.parquet(dest).select("ID", "Server").as[(Long, String)].collect().toSet
    assert(rows() == Set((9L, "s9"), (2L, "s2"), (3L, "s1")))
    assert(daily == Seq(Etl.RunReport("daily_log", 2, 2, spark.read.parquet(dest).count())))
    assert(daily.head.total == 3)
    Etl.run(spark, Seq(daySpec), _ => sourceDf, registry, out)
    assert(codecs() == Set(ZSTD))
    assert(rows() == Set((1L, "s1"), (2L, "s2"), (3L, "s1")))
  }

  test("fail-fast: a missing registry entry aborts the run (O3/K6)") {
    val out = Files.createTempDirectory("graft_etl").toString
    val specs = Seq(Etl.TableSpec("daily_log"), Etl.TableSpec("unregistered"))
    intercept[IllegalArgumentException] {
      Etl.run(spark, specs, _ => sourceDf, registry, out)
    }
  }

  test("fail-fast: a table queued behind a failure never starts (O3)") {
    val out = Files.createTempDirectory("graft_etl").toString
    // the four unregistered tables fill the 4 table threads and fail; the
    // table queued behind them must not truncate-and-reload its destination
    val specs = (1 to 4).map(i => Etl.TableSpec(s"unregistered_$i")) :+
      Etl.TableSpec("daily_log")
    intercept[IllegalArgumentException] {
      Etl.run(spark, specs, _ => sourceDf, registry, out)
    }
    assert(!new java.io.File(s"$out/daily_log").exists())
  }

  test("fail-fast: a running truncate finishes when another table fails (O3)") {
    import EtlSpec.{bFailed, writeRunning}
    val out = Files.createTempDirectory("graft_etl_truncate").toString
    val a = Etl.TableSpec("daily_log")
    assert(Etl.run(spark, Seq(a), _ => sourceDf, registry, out) ==
      Seq(Etl.RunReport("daily_log", 3, 3, 3)))
    // A's write holds its tasks until B has failed; the latches are static,
    // so the local-mode task threads see the driver's instances
    val holdWrite = udf { (s: String) =>
      writeRunning.countDown()
      require(bFailed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(200) // B's failure lands while A's write job runs
      s
    }
    val landedA = landed()("daily_log") // a scan: the UDF runs in the write's tasks
    val source: String => org.apache.spark.sql.DataFrame = {
      case "daily_log" => landedA.withColumn("server", holdWrite(col("server")))
      case t =>
        require(writeRunning.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "daily_log's write never started")
        bFailed.countDown()
        throw new IllegalStateException(s"$t failed")
    }
    val e = intercept[IllegalStateException] {
      Etl.run(spark, Seq(a, Etl.TableSpec("backup_log")), source, registry, out)
    }
    assert(e.getMessage == "backup_log failed")
    // the overwrite ran to its end: neither cancelled nor left emptied
    assert(spark.read.parquet(s"$out/daily_log").count() == 3)
  }

  test("O4 run log: dated file name, asctime [levelname] line format, append") {
    val dir = Files.createTempDirectory("graft_log")
    val fixed = java.time.Clock.fixed(
      java.time.Instant.parse("2024-01-15T10:30:00Z"), java.time.ZoneOffset.UTC)
    val log = new RunLog(dir, fixed)
    log.info("table=daily_log loaded=3")
    log.error("boom")
    assert(log.file.getFileName.toString == "MYSQL_to_BQ_2024-01-15.log")
    val lines = Files.readAllLines(log.file)
    assert(lines.size == 2)
    assert(lines.get(0) == "2024-01-15 10:30:00 [INFO] table=daily_log loaded=3")
    assert(lines.get(1) == "2024-01-15 10:30:00 [ERROR] boom")
  }

  test("EtlMain CLI end-to-end: config file, --daily, space-form --day, run log") {
    val base = Files.createTempDirectory("graft_cli")
    // source parquet: one table, two days of rows
    sourceDf.write.parquet(s"$base/src/daily_log.parquet")
    Files.writeString(base.resolve("registry.json"),
      """{"daily_log": [
        |  {"name": "ID", "type": "INTEGER"},
        |  {"name": "BackupDate", "type": "TIMESTAMP"},
        |  {"name": "Server", "type": "STRING"}
        |]}""".stripMargin)
    Files.writeString(base.resolve("etl.conf"),
      s"""SOURCE_DIR = $base/src
         |OUT_DIR = $base/out
         |TABLES = daily_log
         |REGISTRY = $base/registry.json
         |INCREMENTAL_COL.daily_log = backup_date
         |PARTITION_FIELD.daily_log = BackupDate
         |LOG_DIR = $base/logs
         |""".stripMargin)
    EtlMain.main(Array(s"$base/etl.conf", "--daily", "--day", "2024-01-15"))
    val written = spark.read.parquet(s"$base/out/daily_log")
    assert(written.count() == 2) // only the two 01-15 rows
    assert(written.columns.toSet == Set("ID", "BackupDate", "Server", "p_date"))
    val logs = new java.io.File(s"$base/logs").listFiles().map(_.getName).toSeq
    assert(logs.exists(_.matches("MYSQL_to_BQ_\\d{4}-\\d{2}-\\d{2}\\.log")))
    // and the session this spec owns must survive the CLI run
    assert(!spark.sparkContext.isStopped)
  }

  test("EtlMain rejects a trailing bare --day instead of silently using yesterday") {
    val e = intercept[IllegalArgumentException] {
      EtlMain.main(Array("/nonexistent.conf", "--daily", "--day"))
    }
    assert(e.getMessage.contains("--day requires a date"))
  }

  test("EtlMain rejects an unknown flag instead of truncating every destination") {
    val base = Files.createTempDirectory("graft_cli_flag")
    sourceDf.write.parquet(s"$base/src/daily_log.parquet")
    Files.writeString(base.resolve("registry.json"),
      """{"daily_log": [{"name": "ID", "type": "INTEGER"}, {"name": "Server", "type": "STRING"}]}""")
    Files.writeString(base.resolve("etl.conf"),
      s"""SOURCE_DIR = $base/src
         |OUT_DIR = $base/out
         |TABLES = daily_log
         |REGISTRY = $base/registry.json
         |INCREMENTAL_COL.daily_log = backup_date
         |""".stripMargin)
    def rows() = spark.read.parquet(s"$base/out/daily_log").collect().map(_.toString).sorted.toSeq
    EtlMain.main(Array(s"$base/etl.conf", "--daily", "--day=2024-01-15"))
    val loaded = rows()
    assert(loaded.size == 2) // only the two 01-15 rows
    // a mistyped --daily must not fall through to a full (truncating) refresh
    Seq("--dialy", "--daily=true").foreach { flag =>
      val e = intercept[IllegalArgumentException] {
        EtlMain.main(Array(s"$base/etl.conf", flag, "--day=2024-01-15"))
      }
      assert(e.getMessage.contains(flag), e.getMessage)
      assert(rows() == loaded, s"$flag must leave the destination unchanged")
    }
  }

  test("credentials parser handles comments, blanks, and values with '='") {
    val parsed = Credentials.parse(
      """# comment
        |USER = alice
        |PASS=a=b=c
        |
        |HOST=db.example.com""".stripMargin)
    assert(parsed == Map("USER" -> "alice", "PASS" -> "a=b=c", "HOST" -> "db.example.com"))
  }
}

object EtlSpec {
  val writeRunning = new java.util.concurrent.CountDownLatch(1)
  val bFailed = new java.util.concurrent.CountDownLatch(1)
}

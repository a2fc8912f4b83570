package graft

import graft.core.{AuditSchema, SyncJob}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A live table: every evaluation reads one more batch of 10 rows. */
object LiveTable {
  val reads = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Watermark sync to CSV: resume, idempotency, fputcsv parity
  * (SURVEY.md §2.1 S5-S7, §5.5).
  */
class SyncJobSpec extends SparkSpec {
  import spark.implicits._

  // Spark jobs per call, pinned by the job-floor test below: counts
  // repeat exactly, so they guard the floor without wall-time noise
  private val SyncJobs = 3
  private val NoopJobs = 3
  private val WipeJobs = 4

  private def fixed = lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))

  private def mkLog(pks: Range) =
    pks.map(i => (i, s"row$i", "insert"))
      .toDF("id", "x", "audit_event")
      .withColumn("audit_timestamp", fixed)
      .withColumn("audit_pk", col("id").cast("long"))
      .select("id", "x", "audit_event", "audit_timestamp", "audit_pk")

  private def readCsvLines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".csv"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  test("empty sink -> watermark is -1, full log delivered") {
    val sink = tmpDir("sync")
    assert(SyncJob.watermark(spark, sink) === -1L)
    val n = SyncJob.syncTable(spark, mkLog(1 to 10), sink, singleFile = true)
    assert(n === 10)
    assert(SyncJob.watermark(spark, sink) === 10L)
  }

  test("incremental resume: only rows above the sink watermark move; " +
    "re-run with no new rows delivers nothing (idempotent)") {
    val sink = tmpDir("sync")
    assert(SyncJob.syncTable(spark, mkLog(1 to 10), sink, singleFile = true) === 10)
    assert(SyncJob.syncTable(spark, mkLog(1 to 10), sink, singleFile = true) === 0)
    assert(SyncJob.syncTable(spark, mkLog(1 to 25), sink, singleFile = true) === 15)
    assert(SyncJob.watermark(spark, sink) === 25L)
    // no duplicates: 25 data rows total (headers excluded)
    val dataLines = readCsvLines(sink).filterNot(_.startsWith("id,"))
    assert(dataLines.length === 25)
  }

  test("fputcsv parity: quote only when needed, \"\" escaping, NULL -> " +
    "empty field (sync_mysql.php:257; SURVEY.md §7.4.3)") {
    val sink = tmpDir("sync")
    val df = Seq(
      (1, "plain", "insert"),
      (2, "with,comma", "insert"),
      (3, "with\"quote", "insert"),
      (4, null.asInstanceOf[String], "insert")
    ).toDF("id", "x", "audit_event")
      .withColumn("audit_timestamp", fixed)
      .withColumn("audit_pk", col("id").cast("long"))
      .select("id", "x", "audit_event", "audit_timestamp", "audit_pk")
    SyncJob.syncTable(spark, df, sink, singleFile = true)
    val lines = readCsvLines(sink)
    assert(lines.head === "id,x,audit_event,audit_timestamp,audit_pk")
    assert(lines.contains("1,plain,insert,2020-01-01 00:00:00,1"))
    assert(lines.contains("2,\"with,comma\",insert,2020-01-01 00:00:00,2"))
    assert(lines.contains("3,\"with\"\"quote\",insert,2020-01-01 00:00:00,3"))
    assert(lines.contains("4,,insert,2020-01-01 00:00:00,4"))
  }

  test("syncAll selects audit tables by substring + include list (P4/P5)") {
    val root = tmpDir("syncall")
    val logs = Map(
      "orders_audit" -> mkLog(1 to 5),
      "nation"       -> mkLog(1 to 3), // not an audit table -> skipped
      "t_audit_x"    -> mkLog(1 to 2)  // substring match -> selected
    )
    val delivered = SyncJob.syncAll(spark, logs, root)
    assert(delivered === Map("orders_audit" -> 5L, "t_audit_x" -> 2L))
    val only = SyncJob.syncAll(spark, logs, root,
      include = Some(Set("orders_audit")))
    assert(only.keySet === Set("orders_audit"))
  }

  test("syncAll parallelism: tables submit CONCURRENTLY (all in flight " +
    "at once), results and per-table sidecars match the sequential " +
    "run, and one table's failure drains the others before rethrow") {
    val logs = (1 to 4).map(i => s"t${i}_audit" -> mkLog(1 to (i * 3))).toMap
    val seqRoot = tmpDir("syncpar-seq")
    val parRoot = tmpDir("syncpar-par")
    val sequential = SyncJob.syncAll(spark, logs, seqRoot, parallelism = 1)
    // the latch proves true overlap: every table must be in flight
    // before ANY can proceed — a sequential dispatcher deadlocks here
    // and fails the await instead
    val latch = new java.util.concurrent.CountDownLatch(4)
    val parallel = SyncJob.syncAll(spark, logs, parRoot, parallelism = 4,
      onTable = { _ =>
        latch.countDown()
        assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "tables were not all in flight concurrently")
      })
    assert(parallel === sequential)
    for ((name, n) <- sequential) {
      assert(SyncJob.watermark(spark, s"$parRoot/$name") === n,
        s"sidecar for $name")
      assert(spark.read.options(SyncJob.CsvOptions).option("header", "true")
        .csv(s"$parRoot/$name").count() === n)
    }
    // failure containment: poison one table, the rest still deliver
    val poisoned = logs + ("bad_audit" ->
      mkLog(1 to 2).withColumn("audit_pk",
        org.apache.spark.sql.functions.expr(
          "CAST(raise_error('boom') AS BIGINT)")))
    val failRoot = tmpDir("syncpar-fail")
    val e = intercept[Exception](
      SyncJob.syncAll(spark, poisoned, failRoot, parallelism = 4))
    assert(e.getMessage != null)
    for ((name, n) <- sequential)
      assert(spark.read.options(SyncJob.CsvOptions).option("header", "true")
        .csv(s"$failRoot/$name").count() === n,
        s"$name must complete despite the poisoned sibling")
  }

  private def csvRows(dir: String): Seq[String] =
    readCsvLines(dir).filterNot(_.startsWith("id,"))

  private def sidecar(dir: String): String =
    Files.readString(Paths.get(dir, SyncJob.WatermarkFile)).trim

  test("job floor: a sync of a parquet log, a no-op re-sync and a " +
    "keep-last wipe each run a pinned number of Spark jobs") {
    val dir = tmpDir("jobs-log")
    val sink = tmpDir("jobs-sink")
    mkLog(1 to 20).write.mode("append").parquet(dir)
    SyncJob.syncTable(spark, spark.read.parquet(dir), sink)
    mkLog(21 to 40).write.mode("append").parquet(dir)
    // the parquet read infers its schema eagerly: build it outside
    val log = spark.read.parquet(dir)
    val (n, syncJobs) = GraftSqlShim.countJobs(spark)(SyncJob.syncTable(spark, log, sink))
    val (none, noopJobs) = GraftSqlShim.countJobs(spark)(SyncJob.syncTable(spark, log, sink))
    val (kept, wipeJobs) = GraftSqlShim.countJobs(spark)(SyncJob.wipeLogDir(spark, dir))
    assert((n, none, kept) === ((20L, 0L, 1L)))
    info(s"jobs: sync $syncJobs, no-op re-sync $noopJobs, wipe $wipeJobs")
    assert(syncJobs <= SyncJobs, s"sync ran $syncJobs jobs")
    assert(noopJobs <= NoopJobs, s"no-op re-sync ran $noopJobs jobs")
    assert(wipeJobs <= WipeJobs, s"wipe ran $wipeJobs jobs")
  }

  test("a source that changes between evaluations: the sidecar records " +
    "exactly the delivered rows, and repeated syncs neither duplicate " +
    "nor skip a row") {
    val sink = tmpDir("sync-live")
    // each evaluation sees rows 1..10k for its k-th read, like a table
    // that keeps receiving inserts while the sync runs
    def live = spark.sparkContext.parallelize(Seq(0), 1)
      .flatMap(_ => 1L to 10L * LiveTable.reads.incrementAndGet())
      .toDF("id")
      .select(col("id"), lit("x").as("x"), lit("insert").as("audit_event"),
        fixed.as("audit_timestamp"), col("id").as("audit_pk"))
    for (round <- 1 to 3) {
      val before = csvRows(sink).size
      val n = SyncJob.syncTable(spark, live, sink)
      val pks = csvRows(sink).map(_.split(",").last.toLong)
      assert(n === pks.size - before, s"round $round: returned count")
      assert(sidecar(sink) === s"${pks.max},${Files.list(Paths.get(sink)).iterator()
        .asScala.count(_.toString.endsWith(".csv"))}", s"round $round: sidecar")
      assert(pks.sorted === (1L to pks.max), s"round $round: no duplicate, no gap")
    }
  }

  test("staged publish: a run that dies before its publish leaves only " +
    "an invisible staging dir, which the next run removes; a failed " +
    "move aborts without losing rows") {
    val sink = tmpDir("sync-crash")
    assert(SyncJob.syncTable(spark, mkLog(1 to 10), sink) === 10)
    // crash between the write and the publish
    intercept[IllegalStateException](SyncJob.syncTable(spark, mkLog(1 to 20), sink,
      rename = (_, _, _) => throw new IllegalStateException("crash")))
    val staged = Files.list(Paths.get(sink)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_staging-")).toSeq
    assert(staged.size === 1)
    assert(SyncJob.watermark(spark, sink) === 10L)
    assert(sidecar(sink) === "10,1")
    assert(spark.read.options(SyncJob.CsvOptions).csv(sink).count() === 10)
    assert(SyncJob.syncTable(spark, mkLog(1 to 20), sink) === 10)
    assert(!Files.exists(staged.head), "the next run removes the staging dir")
    assert(csvRows(sink).map(_.split(",").head.toInt).sorted === (1 to 20))
    // a move that fails part-way (Hadoop reports it as false) leaves a
    // published prefix without its sidecar: the next run rescans and
    // delivers the rest exactly once
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val moves = new java.util.concurrent.atomic.AtomicInteger(0)
      val e = intercept[RuntimeException](SyncJob.syncTable(spark, mkLog(1 to 60), sink,
        rename = (fs, from, to) => moves.incrementAndGet() == 1 && fs.rename(from, to)))
      assert(e.getMessage.contains("sync aborted"))
      assert(moves.get() === 2, "the publish stops at the first failed move")
      val published = csvRows(sink).map(_.split(",").head.toInt)
      assert(published.size > 20 && published.size < 60)
      assert(SyncJob.syncTable(spark, mkLog(1 to 60), sink) === 60 - published.size)
    } finally prior.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
    assert(csvRows(sink).map(_.split(",").head.toInt).sorted === (1 to 60))
    assert(SyncJob.watermark(spark, sink) === 60L)
  }

  test("the driver-side header check accepts column names that need CSV " +
    "quoting and still fails fast on a renamed column") {
    val sink = tmpDir("sync-header")
    def log(pks: Range) = mkLog(pks)
      .withColumnRenamed("x", "a,b").withColumn("say \"hi\"", lit("q"))
      .select("id", "a,b", "say \"hi\"", "audit_event", "audit_timestamp", "audit_pk")
    assert(SyncJob.syncTable(spark, log(1 to 5), sink) === 5)
    assert(readCsvLines(sink).head ===
      "id,\"a,b\",\"say \"\"hi\"\"\",audit_event,audit_timestamp,audit_pk")
    assert(SyncJob.sinkColumns(spark, sink) === Some(log(1 to 1).columns.toSeq))
    assert(SyncJob.syncTable(spark, log(1 to 8), sink) === 3)
    intercept[IllegalArgumentException](
      SyncJob.syncTable(spark, log(1 to 9).withColumnRenamed("a,b", "a;b"), sink))
    assert(SyncJob.watermark(spark, sink) === 8L)
  }
}

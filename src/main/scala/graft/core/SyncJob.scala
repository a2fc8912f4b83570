package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental watermark sync: audit log -> CSV sink (SURVEY.md §2.1
  * S5-S7, §2.8). The reference reads each audit table above the last
  * delivered `audit_pk` and appends to one CSV file per table
  * (cdc_audit_sync_mysql.php:242-258); the watermark lives in the sink
  * itself.
  *
  * Spark build: the watermark is `max(audit_pk)` over the sink
  * directory — answered from parquet/CSV scan with partial aggregation
  * (for a parquet sink, footer stats alone) instead of the reference's
  * defective tail-byte-scan (SURVEY.md §2.5 W2 — we implement the
  * documented intent, not the bug). The incremental read is a
  * predicate-pushed filter `audit_pk > wm`, mirroring the reference's
  * pushed-down `WHERE audit_pk > :wm` (cdc_audit_sync_mysql.php:243).
  *
  * CSV conventions match PHP `fputcsv` (cdc_audit_sync_mysql.php:257):
  * comma delimiter, `"` enclosure only when needed, `""` escaping,
  * `\n` terminator, NULL -> empty field. One logical file per table:
  * the sink is a directory of part files (the documented deviation at
  * scale, SURVEY.md §7.4.4); [[SyncJob.syncTable]] takes a
  * `singleFile` flag that coalesces to one part for reference-parity
  * artifacts at test scale.
  *
  * Each table costs one Spark pass: [[SyncJob.syncTable]] takes the
  * delivered count and watermark from an observation on its single
  * sorted write and publishes that write by renaming its staged part
  * files into the sink before the sidecar advances; [[SyncJob.syncAll]]
  * runs the tables concurrently.
  */
object SyncJob {

  /** fputcsv-parity writer options (SURVEY.md §2.1 S7, §7.4.3). */
  val CsvOptions: Map[String, String] = Map(
    "header"     -> "true",
    "quote"      -> "\"",
    "escape"     -> "\"",   // "" doubling, like fputcsv
    "nullValue"  -> "",     // NULL -> empty field
    "emptyValue" -> "\"\"", // keep empty string distinguishable on write
    "lineSep"    -> "\n",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss"
  )

  /** Sidecar state file holding the delivered watermark: one line,
    * `<max audit_pk>,<csv part-file count at write time>`. The
    * underscore prefix keeps Spark's readers from treating it as data.
    */
  val WatermarkFile = "_watermark"

  /** Name prefix of the per-run staging dir a sync writes into before
    * it publishes (the underscore hides it from readers).
    */
  private val StagingPrefix = "_staging-"

  /** Read the sink-side watermark: greatest `audit_pk` already
    * delivered, or `initial` (-1 like the reference's "no file yet"
    * path) when the sink is empty/absent.
    *
    * O(1) path (the reference's intent — it reads only the file tail,
    * cdc_audit_sync_mysql.php:364-386): a `_watermark` sidecar written
    * after each successful append. The sidecar records the csv
    * part-file count at write time; a count mismatch means an append
    * committed without its sidecar update (crash window) — then, and
    * for pre-sidecar sinks, fall back to the full aggregation scan,
    * which is always correct. Sync cost is therefore O(new rows), not
    * O(delivered history).
    */
  def watermark(spark: SparkSession, sinkDir: String,
                pkCol: String = AuditSchema.PkCol,
                initial: Long = -1L): Long = {
    val fs = fsOf(spark)
    val path = new Path(sinkDir)
    watermarkOf(spark, fs, path, csvParts(list(fs, path)), initial)
  }

  private def fsOf(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** One listing of the sink directory (empty when it is absent). */
  private def list(fs: FileSystem, sink: Path): Seq[FileStatus] =
    if (fs.exists(sink)) fs.listStatus(sink).toSeq else Nil

  /** The delivered CSV part files of a sink listing, in name order. */
  private def csvParts(listing: Seq[FileStatus]): Seq[FileStatus] =
    listing.filter(f => f.isFile && f.getPath.getName.endsWith(".csv"))
      .sortBy(_.getPath.getName)

  private def watermarkOf(spark: SparkSession, fs: FileSystem, path: Path,
                          parts: Seq[FileStatus], initial: Long): Long = {
    if (parts.isEmpty) return initial
    readSidecar(fs, path) match {
      case Some((wm, cnt)) if cnt == parts.length => wm
      case _ =>
        val sink = spark.read
          .options(CsvOptions)
          .option("inferSchema", "false")
          .csv(path.toString)
        // audit_pk is by contract the LAST column
        // (cdc_audit_sync_mysql.php:352 / AuditSchema invariant)
        val last = sink.columns.last
        val row = sink.agg(max(col(last).cast("long"))).head()
        val wm = if (row.isNullAt(0)) initial else row.getLong(0)
        // Repair the sidecar with the scanned watermark and the file
        // count the scan actually covered, so ONE repair scan heals the
        // sink — without this, a sink with no fresh rows re-scans its
        // whole delivered history on every poll (append-side sidecar
        // writes only happen when n > 0). BEST-EFFORT: watermark() is
        // fundamentally a read — a caller without write permission on
        // the sink (read-only consumer, monitoring) must still get the
        // correct scanned answer, just without the speedup.
        // NonFatal, not just IOException: object-store/file-system
        // clients surface denied writes as RuntimeException/
        // SecurityException subtypes too, and ANY sidecar write failure
        // must degrade to the slow scan, never fail the read
        try writeSidecar(fs, path, wm, parts.length)
        catch { case scala.util.control.NonFatal(_) => () }
        wm
    }
  }

  private def readSidecar(fs: FileSystem, sinkPath: Path): Option[(Long, Int)] = {
    val p = new Path(sinkPath, WatermarkFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val text = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      text.split(",") match {
        case Array(wm, cnt) => Some((wm.toLong, cnt.toInt))
        case _ => None
      }
    } catch { case _: Exception => None } // corrupt sidecar -> full scan
    finally in.close()
  }

  private def writeSidecar(fs: FileSystem, sinkPath: Path, wm: Long,
                           csvCount: Int): Unit = {
    val out = fs.create(new Path(sinkPath, WatermarkFile), true)
    try out.write(s"$wm,$csvCount\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Rows of `log` above the watermark — the incremental read. The
    * filter sits directly over the scan so Catalyst pushes it into the
    * parquet reader (min/max row-group pruning) or JDBC source.
    */
  def above(log: DataFrame, wm: Long,
            pkCol: String = AuditSchema.PkCol): DataFrame =
    log.filter(col(pkCol) > lit(wm))

  /** Column names of an existing CSV sink (header row), or None if the
    * sink is empty/absent.
    */
  def sinkColumns(spark: SparkSession, sinkDir: String): Option[Seq[String]] = {
    val fs = fsOf(spark)
    headerOf(fs, csvParts(list(fs, new Path(sinkDir))))
  }

  /** The header record of the first non-empty part file, read straight
    * from the file system with the writer's quote and escape rules (`"`
    * encloses, `""` is a literal quote, a quoted field may span lines) —
    * no Spark job.
    */
  private def headerOf(fs: FileSystem, parts: Seq[FileStatus]): Option[Seq[String]] =
    parts.find(_.getLen > 0).map { part =>
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(part.getPath), "UTF-8"))
      try {
        val fields = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var quoted = false
        var c = in.read()
        while (c >= 0 && (quoted || c != '\n')) {
          if (c == '"' && quoted) {
            in.mark(1)
            if (in.read() == '"') cur += '"' else { in.reset(); quoted = false }
          } else if (c == '"' && cur.isEmpty) quoted = true
          else if (c == ',' && !quoted) { fields += cur.result(); cur.clear() }
          else cur += c.toChar
          c = in.read()
        }
        (fields += cur.result()).toSeq
      } finally in.close()
    }

  /** One sync run for one table: read watermark from the sink, append
    * everything above it. Returns the number of rows delivered.
    * Idempotent: re-running with no new audit rows appends nothing.
    *
    * One Spark pass: the rows above the watermark are sorted by
    * `audit_pk` and written once, and an observation on that write
    * yields their count and max `audit_pk`. The delivered rows and the
    * recorded watermark therefore come from the same evaluation, even
    * against a LIVE source (the JDBC poller's table) whose contents
    * change between reads.
    *
    * Staged publish: the write lands in a `_`-prefixed staging dir
    * inside the sink, invisible to [[watermark]] and to CSV readers.
    * Its part files then move into the sink in `audit_pk` order, and
    * only after every move succeeded does the sidecar advance. A failed
    * move (Hadoop reports it as `false`) aborts before the sidecar, so
    * the count mismatch makes the next run rescan and re-deliver what
    * did not land; a crash before the publish leaves only the staging
    * dir, which the next run deletes. An empty sync publishes nothing.
    *
    * Fails fast if the sink's header no longer matches the log schema —
    * the reference's wished-for drift check (README.md:210-212 known
    * issue; todo README.md:222; SURVEY.md §1.2).
    * The header comes from the same single listing of the sink as the
    * watermark. `rename` is a test seam for the publish moves.
    */
  def syncTable(spark: SparkSession, log: DataFrame, sinkDir: String,
                singleFile: Boolean = false,
                rename: (FileSystem, Path, Path) => Boolean =
                  (fs, from, to) => fs.rename(from, to)): Long = {
    val fs = fsOf(spark)
    val sink = new Path(sinkDir)
    val listing = list(fs, sink)
    val parts = csvParts(listing)
    headerOf(fs, parts).foreach { cols =>
      require(cols == log.columns.toSeq,
        s"schema drift: sink $sinkDir has columns ${cols.mkString(",")} " +
          s"but the audit log has ${log.columns.mkString(",")}")
    }
    // a staging dir left by a run that died before its publish: none
    // of its rows became visible, so the write below delivers them anew
    listing.filter(s => s.isDirectory && s.getPath.getName.startsWith(StagingPrefix))
      .foreach(s => fs.delete(s.getPath, true))
    val wm = watermarkOf(spark, fs, sink, parts, -1L)
    val run = StagingPrefix + java.util.UUID.randomUUID()
    val staging = new Path(sink, run)
    val stats = Observation(run)
    val ordered = above(log, wm).orderBy(col(AuditSchema.PkCol))
    // observed ABOVE the sort: the range partitioner's sampling pass
    // runs below it, so only the rows the write consumes are counted
    (if (singleFile) ordered.coalesce(1) else ordered)
      .observe(stats, count(lit(1)).as("n"),
        max(col(AuditSchema.PkCol).cast("long")).as("wm"))
      .write.options(CsvOptions).csv(staging.toString)
    val n = stats.get("n").asInstanceOf[Long]
    if (n > 0) {
      val staged = csvParts(list(fs, staging))
      staged.foreach { s =>
        val target = new Path(sink, s.getPath.getName)
        if (!rename(fs, s.getPath, target))
          sys.error(s"sync aborted: could not move ${s.getPath} to $target; " +
            "the sidecar is not advanced, so the next run re-delivers what is missing")
      }
      writeSidecar(fs, sink, stats.get("wm").asInstanceOf[Long], parts.length + staged.length)
    }
    fs.delete(staging, true)
    n
  }

  /** Full reference `sync_audit_tables` orchestration: filter the table
    * set to audit tables (substring match, P4) and an optional include
    * list (P5), sync each, optionally wipe (keep-last retention).
    * Per-table work is independent (the reference processed tables
    * serially in one PHP process, SURVEY.md §4 last row), so tables
    * submit CONCURRENTLY from a scoped fixed-size pool: each table's
    * sync is a short chain of small jobs, and overlapping them fills
    * cores a single table leaves idle (Spark's scheduler is
    * thread-safe for concurrent job submission; each table's sink and
    * watermark sidecar is its own directory, so no state is shared
    * between threads). `parallelism` caps the pool; the default 0
    * sizes it from the session as `min(tables,
    * sparkContext.defaultParallelism)`, and 1 runs the tables one after
    * another on the calling thread. Every table runs to completion
    * even when another fails — partial progress is per-table durable,
    * exactly like separate cron invocations — and the FIRST failure is
    * rethrown after the pool drains. `onTable` is a test seam fired as
    * each table's job starts in its worker thread.
    */
  def syncAll(spark: SparkSession,
              logs: Map[String, DataFrame],
              sinkRoot: String,
              include: Option[Set[String]] = None,
              parallelism: Int = 0,
              onTable: String => Unit = _ => ()): Map[String, Long] = {
    val selected = logs.filter { case (name, _) =>
      AuditSchema.isAuditTable(name) && include.forall(_.contains(name))
    }.toSeq
    val results = mapConcurrently(spark, selected.map(_._1), parallelism) { name =>
      onTable(name)
      spark.sparkContext.setJobDescription(s"syncTable($name)")
      try syncTable(spark, logs(name), s"$sinkRoot/$name")
      finally spark.sparkContext.setJobDescription(null)
    }
    selected.map(_._1).zip(results).toMap
  }

  /** Threads [[mapConcurrently]] uses for `items` items. */
  def poolSize(spark: SparkSession, items: Int, parallelism: Int): Int = {
    require(parallelism >= 0, "parallelism must be >= 0")
    math.min(items,
      if (parallelism == 0) spark.sparkContext.defaultParallelism else parallelism)
  }

  /** Run `f` over `items` on a pool of `parallelism` threads (0: one
    * per item up to the session's default parallelism; 1: in order on
    * the calling thread) and return the results in item order. Every
    * item runs even when another fails; the first failure in item
    * order is rethrown after the pool drains.
    */
  def mapConcurrently[A, B](spark: SparkSession, items: Seq[A], parallelism: Int)
                               (f: A => B): Seq[B] = {
    val threads = poolSize(spark, items.size, parallelism)
    if (threads <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val futs = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
        // drain EVERY item before surfacing a failure: a broken table
        // must not abandon its siblings mid-write
        val results = futs.map(fut => scala.util.Try(fut.get()))
        results.collectFirst {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            throw e.getCause
          case scala.util.Failure(e) => throw e
        }
        results.map(_.get)
      } finally pool.shutdown()
    }
  }

  /** The reference's "wipe" (`-w`) on a directory-backed parquet audit
    * log: compact the log down to its single newest row
    * (cdc_audit_sync_mysql.php:284-319).
    *
    * Concurrent-writer safety, matching the reference's bounded delete
    * (it removes only rows at-or-below the max it probed, so live
    * trigger writes survive, :267-283): the wipe operates on a
    * SNAPSHOT of the directory's part files — it reads exactly those
    * files, moves the kept-row file in FIRST, then deletes only the
    * snapshotted files. Any file another writer appends after the
    * listing is never read, never deleted, and never raced (names are
    * unique). The old implementation swapped the whole directory, so a
    * concurrent append between read and rename was silently dropped.
    *
    * Crash window: dying between the kept-file move and the snapshot
    * deletes leaves extra already-delivered rows behind — benign (the
    * next wipe removes them); the newest row is never without a live
    * file. Returns the number of rows retained (1, or 0 for an empty
    * log). `afterSnapshot` is a test seam fired between the listing
    * and the deletes (to exercise a concurrent append).
    */
  def wipeLogDir(spark: SparkSession, logDir: String,
                 afterSnapshot: () => Unit = () => (),
                 maxAge: Option[org.apache.spark.sql.Column] = None): Long = {
    val fs = fsOf(spark)
    val dir = new Path(logDir)
    if (!fs.exists(dir)) return 0L
    val snapshot = fs.listStatus(dir).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet")).map(_.getPath)
    if (snapshot.isEmpty) return 0L
    val log  = spark.read.parquet(snapshot.toIndexedSeq.map(_.toString): _*)
    // default = the reference wipe (keep only the newest row); maxAge =
    // its @TODO form (keep the trailing age window + the newest row)
    val kept = maxAge.fold(Retention.keepLastGlobal(log))(a =>
      Retention.keepYoungerThan(log, a))
    val tmp  = new Path(logDir + ".wipe.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // keep-last retains ONE row — a single part file is right. The age
    // window can retain nearly the whole log, so funneling it through
    // one task/one file would bottleneck the exact feature being used;
    // size the rewrite to the snapshot instead (≤ one output file per
    // source file — compaction never inflates the file count).
    val rewritten =
      if (maxAge.isEmpty) kept.coalesce(1)
      else kept.coalesce(math.max(1, snapshot.length))
    // the kept-row count comes from the rewrite itself (no re-read)
    val retained = Observation(s"wipe-${java.util.UUID.randomUUID()}")
    rewritten.observe(retained, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(tmp.toString)
    val n = retained.get("n").asInstanceOf[Long]
    afterSnapshot()
    // move the kept row in BEFORE deleting its sources: the log is
    // never missing its newest row, whatever happens mid-wipe. Hadoop
    // rename reports failure via `false`, not an exception — abort the
    // wipe (sources untouched, tmp left for inspection) rather than
    // proceed to deletes that would drop the newest row.
    fs.listStatus(tmp)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val target = new Path(dir, "wipe-kept-" + f.getPath.getName)
        if (!fs.rename(f.getPath, target))
          sys.error(s"wipe aborted: could not move kept file ${f.getPath} " +
            s"to $target; log untouched")
      }
    snapshot.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
    n
  }

  /** Sync then wipe, for directory-backed audit logs — rows reach the
    * sink BEFORE the log is compacted, preserving the reference's
    * ordering (write+close at sync:256-260 precedes delete at
    * :262-264).
    */
  def syncAndWipe(spark: SparkSession, logDir: String, sinkDir: String,
                  singleFile: Boolean = false,
                  maxAge: Option[org.apache.spark.sql.Column] = None): (Long, Long) = {
    val delivered = syncTable(spark, spark.read.parquet(logDir), sinkDir, singleFile)
    val retained  = wipeLogDir(spark, logDir, maxAge = maxAge)
    (delivered, retained)
  }
}

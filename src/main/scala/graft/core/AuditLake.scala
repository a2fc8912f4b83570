package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed snapshot storage — the shuffle-elimination path for
  * snapshot-diff capture at scale (SURVEY.md §2.3 scale notes).
  *
  * CaptureDiff's full-outer join on the PK is the one exchange in the
  * whole core pipeline (SURVEY.md §3). When consecutive snapshots are
  * written bucketed by the PK into the same bucket count, Catalyst
  * recognizes both sides as co-partitioned and plans the sort-merge
  * join with NO Exchange on either side — at 100 TB that removes the
  * only full-data shuffle of the capture path (each task diff-joins
  * bucket i of the old snapshot against bucket i of the new one;
  * pinned by a plan test in BucketedCaptureSpec).
  *
  * The write costs one clustering pass (bucketBy requires it), which
  * the snapshot producer pays once; every downstream capture run —
  * usually many per snapshot pair, plus replays — joins for free.
  */
object AuditLake {

  /** Write a snapshot as a bucketed, bucket-sorted table. */
  def writeBucketedSnapshot(df: DataFrame, table: String, pk: Seq[String],
                            buckets: Int = 32): Unit =
    df.write
      .bucketBy(buckets, pk.head, pk.tail: _*)
      .sortBy(pk.head, pk.tail: _*)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** Capture between two bucketed snapshot tables: same semantics as
    * CaptureDiff.classify, exchange-free physical plan.
    */
  def captureBucketed(spark: SparkSession, oldTable: String, newTable: String,
                      pk: Seq[String]): DataFrame =
    CaptureDiff.classify(spark.table(oldTable), spark.table(newTable), pk)

  /** Write an audit log as a Hive-partitioned directory tree — the
    * 100 TB layout (SCALING.md): one partition per derived key (e.g.
    * the capture date), so retention drops whole directories and any
    * time-bounded read prunes partitions before touching a file.
    * `audit_pk` ordering within each partition keeps parquet min/max
    * stats tight for the watermark filter.
    */
  def writePartitionedLog(log: DataFrame, dir: String,
                          partitionCol: String): Unit =
    log.sortWithinPartitions(AuditSchema.PkCol)
      .write.mode("append")
      .partitionBy(partitionCol)
      .parquet(dir)

  /** Read the partitioned log with a partition-value filter — Catalyst
    * prunes non-matching partition directories at planning time (the
    * scan's `PartitionFilters`, pinned by PartitionedLogSpec).
    */
  def readPartition(spark: SparkSession, dir: String,
                    partitionCol: String, value: String): DataFrame =
    spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col(partitionCol) === value)

  /** Outcome of one [[compactLogDir]] pass. */
  final case class CompactionResult(groups: Int, filesBefore: Int,
                                    filesAfter: Int, bytesCompacted: Long)

  private val ManifestName = "_compact_manifest"

  /** Small-file compaction for an append-per-run log directory — the
    * lake-maintenance twin of the wipe: every cron sync
    * (`cdc_audit_sync_mysql.php`'s append model, our `SyncJob`) adds a
    * few part files, and a year of runs is thousands of tiny files
    * whose per-file open/footer cost dominates a 100 TB scan. Files
    * smaller than `smallBytes` are greedily first-fit bin-packed into
    * groups up to `targetBytes` and each group rewrites into ONE
    * pk-sorted file.
    *
    * Crash safety without a transaction log (documented at-least-once,
    * same contract as the wipe): per group, the compacted file is
    * written under a `_`-prefixed temp dir (invisible to parquet
    * readers), a manifest (`_compact_manifest`, also `_`-invisible)
    * records final-name + inputs BEFORE the rename, inputs are deleted
    * only after the final file is visible, and the manifest is removed
    * last. A crash leaves one of: only temp garbage (no manifest →
    * harmless, next pass overwrites), manifest + temp (recovery
    * re-renames and finishes), or manifest + visible final + leftover
    * inputs (the bounded duplicate window — recovery deletes the
    * inputs). [[recoverCompaction]] replays that tail and runs first
    * in every [[compactLogDir]] call, so the window heals on the next
    * maintenance pass. Readers that must not see the window dedupe on
    * `audit_pk` (exact, cheap) — the same pk-idempotence the delivery
    * path already relies on. A move that fails (Hadoop's `false`)
    * aborts the pass before any input is deleted. `rename` is a test
    * seam for that move.
    */
  def compactLogDir(spark: SparkSession, dir: String,
                    targetBytes: Long = 128L << 20,
                    smallBytes: Long = 32L << 20,
                    rename: (FileSystem, Path, Path) => Boolean =
                      (fs, from, to) => fs.rename(from, to)): CompactionResult = {
    val fs = FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, dir)
    val all = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val small = all.filter(_.getLen < smallBytes).sortBy(-_.getLen)
    // greedy first-fit decreasing into <= targetBytes bins
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus], Long)]
    small.foreach { f =>
      bins.indexWhere(_._2 + f.getLen <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), f.getLen))
        case i  => bins(i) = ((bins(i)._1 += f, bins(i)._2 + f.getLen))
      }
    }
    val groups = bins.map(_._1.toSeq).filter(_.size >= 2).toSeq
    var compacted = 0L
    groups.zipWithIndex.foreach { case (g, gi) =>
      val inputs = g.map(_.getPath)
      // deterministic final name from the input set (re-runnable)
      val tag = java.lang.Long.toHexString(
        inputs.map(_.getName.hashCode.toLong).sum & Long.MaxValue)
      val finalPath = new Path(dir, s"part-compact-$tag.parquet")
      val tmpDir = new Path(dir, s"_compact_tmp_$gi")
      val data = spark.read.parquet(inputs.map(_.toString): _*)
      val one = data.coalesce(1)
      (if (data.schema.fieldNames.contains(AuditSchema.PkCol))
        one.sortWithinPartitions(AuditSchema.PkCol) else one)
        .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString)
      val tmpPart = fs.listStatus(tmpDir)
        .find(s => s.getPath.getName.endsWith(".parquet")).get.getPath
      val out = fs.create(new Path(dir, ManifestName), true)
      out.write((finalPath.toString + "\n" + tmpPart.toString + "\n" +
        inputs.map(_.toString).mkString("\n")).getBytes("UTF-8"))
      out.close()
      // Hadoop rename reports failure via `false`: abort with the inputs
      // untouched; the manifest stays, so the next pass's recovery
      // finishes the move or abandons it
      if (!rename(fs, tmpPart, finalPath))
        sys.error(s"compaction aborted: could not move $tmpPart to " +
          s"$finalPath; inputs untouched")
      inputs.foreach(p => fs.delete(p, false))
      fs.delete(new Path(dir, ManifestName), false)
      fs.delete(tmpDir, true)
      compacted += g.map(_.getLen).sum
    }
    CompactionResult(groups.size, all.size,
      all.size - groups.map(_.size).sum + groups.size, compacted)
  }

  /** Replay an interrupted [[compactLogDir]] group from its manifest:
    * finish the rename if the final file is not yet visible, then
    * delete any still-present inputs, then drop the manifest. A
    * manifest whose temp AND final are both gone deletes leftover
    * inputs only if the final exists; otherwise the pass is abandoned
    * (inputs untouched — no data was made visible). Idempotent.
    * Returns true if there was anything to recover.
    */
  def recoverCompaction(spark: SparkSession, dir: String): Boolean = {
    val fs = FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val m = new Path(dir, ManifestName)
    if (!fs.exists(m)) return false
    val in = fs.open(m)
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList
    in.close()
    val (finalPath, tmpPath, inputs) =
      (new Path(lines.head), new Path(lines(1)), lines.drop(2).map(new Path(_)))
    if (!fs.exists(finalPath) && fs.exists(tmpPath)) fs.rename(tmpPath, finalPath)
    if (fs.exists(finalPath)) inputs.foreach(p => fs.delete(p, false))
    // final absent and temp lost: nothing became visible — abandon
    fs.delete(m, false)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.getPath.getName.startsWith("_compact_tmp_"))
      .foreach(s => fs.delete(s.getPath, true))
    true
  }
}

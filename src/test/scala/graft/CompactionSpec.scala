package graft

import graft.core.AuditLake
import org.apache.spark.sql.functions._

/** Small-file log compaction: row-set preservation, file-count
  * reduction, and crash-window recovery (manifest replay).
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def writeSmallAppends(dir: String, runs: Int): Unit =
    (1 to runs).foreach { r =>
      Seq.tabulate(10)(i => (r * 100L + i, s"v$r-$i"))
        .toDF("audit_pk", "x")
        .coalesce(1).write.mode("append").parquet(dir)
    }

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("compactLogDir: many small appends become few pk-sorted files; " +
    "the row multiset is untouched; a second pass is a no-op on the " +
    "already-compacted file when it clears the small threshold") {
    val dir = tmpDir("compact")
    writeSmallAppends(dir, 8)
    assert(partFiles(dir).size === 8)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    val res = AuditLake.compactLogDir(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20)
    assert(res.filesBefore === 8 && res.groups === 1)
    assert(partFiles(dir).size === 1)
    val after = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    assert(after === before)
    // within-file pk order (tight min/max stats for the watermark scan)
    val pks = spark.read.parquet(partFiles(dir).head.toString)
      .select("audit_pk").as[Long].collect().toSeq
    assert(pks === pks.sorted)
  }

  test("compaction groups respect targetBytes: files too big to pair " +
    "under the budget stay untouched") {
    val dir = tmpDir("compact-budget")
    writeSmallAppends(dir, 3)
    val sizes = partFiles(dir).map(_.length)
    // target below 2x a part file: no group of >= 2 fits -> no-op
    val res = AuditLake.compactLogDir(spark, dir,
      targetBytes = sizes.max + 1, smallBytes = 1L << 20)
    assert(res.groups === 0)
    assert(partFiles(dir).size === 3)
  }

  test("recoverCompaction replays the crash windows: manifest+temp " +
    "finishes the rename; manifest+visible-final deletes leftover " +
    "inputs; recovery is idempotent") {
    val dir = tmpDir("compact-recover")
    writeSmallAppends(dir, 4)
    val victims = partFiles(dir).take(2)
    val rows = spark.read.parquet(dir).count()

    // simulate: compacted temp written, manifest written, CRASH before
    // rename. Build the temp by compacting the two victims by hand.
    val tmpSub = new java.io.File(dir, "_compact_tmp_99"); tmpSub.mkdirs()
    spark.read.parquet(victims.map(_.toString): _*)
      .coalesce(1).sortWithinPartitions("audit_pk")
      .write.mode("overwrite").parquet(tmpSub.toString)
    val tmpPart = tmpSub.listFiles.find(_.getName.endsWith(".parquet")).get
    val finalFile = new java.io.File(dir, "part-compact-test.parquet")
    val manifest = new java.io.File(dir, "_compact_manifest")
    java.nio.file.Files.writeString(manifest.toPath,
      s"${finalFile.getAbsolutePath}\n${tmpPart.getAbsolutePath}\n" +
        victims.map(_.getAbsolutePath).mkString("\n"))

    assert(AuditLake.recoverCompaction(spark, dir))
    assert(finalFile.exists, "rename finished by recovery")
    assert(victims.forall(!_.exists), "inputs deleted by recovery")
    assert(!manifest.exists && !tmpSub.exists)
    assert(spark.read.parquet(dir).count() === rows, "row set preserved")
    assert(!AuditLake.recoverCompaction(spark, dir), "idempotent: nothing left")
  }

  test("a compacted file that cannot be moved into place aborts the " +
    "pass with every input untouched; the next pass finishes it") {
    val dir = tmpDir("compact-rename")
    writeSmallAppends(dir, 4)
    val inputs = partFiles(dir)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    val e = intercept[RuntimeException](AuditLake.compactLogDir(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, rename = (_, _, _) => false))
    assert(e.getMessage.contains("compaction aborted"))
    assert(partFiles(dir).map(_.getName).sorted === inputs.map(_.getName).sorted)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq === before)
    val res = AuditLake.compactLogDir(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20)
    assert(partFiles(dir).size === 1 && res.filesAfter <= 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq === before)
  }
}

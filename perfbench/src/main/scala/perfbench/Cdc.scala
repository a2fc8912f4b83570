package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AuditLake, AuditSchema, CaptureDiff, Replay, SyncJob}

/** A source table of the CDC workloads: its key, the column a seeded
  * update rewrites, and how a fresh row is made from a new key.
  */
final case class SourceTable(name: String, pk: String, updateCol: String,
                             fresh: (Column, Column) => Seq[Column])

object SourceTable {
  private def pick(h: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pmod(h, lit(xs.size.toLong)) + 1).cast("int"))
  private def ntz(epochSec: Column): Column =
    timestamp_seconds(epochSec).cast(TimestampNTZType)

  // fresh-row generators: (key, 64-bit hash of the key) -> non-key columns
  val Orders = SourceTable("orders", "o_orderkey", "o_totalprice", (id, h) => Seq(
    pmod(h, lit(15000L)).as("o_custkey"),
    pick(shiftright(h, 8), "F", "O", "P").as("o_orderstatus"),
    (pmod(shiftright(h, 12), lit(49900000L)) / 100.0 + 1000.0).as("o_totalprice"),
    ntz(lit(788918400L) + pmod(shiftright(h, 40), lit(2400L)) * 86400L).as("o_orderdate"),
    pick(shiftright(h, 20), "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      .as("o_orderpriority")))
  val Events = SourceTable("events", "event_id", "value", (id, h) => Seq(
    ntz(lit(1704067200L) + pmod(h, lit(2592000L))).as("ts"),
    pmod(shiftright(h, 24), lit(150L)).as("user_id"),
    pick(shiftright(h, 8), "click", "view", "purchase", "signup", "error").as("event_type"),
    (pmod(shiftright(h, 32), lit(49000L)) / 100.0 + 0.01).as("value"),
    concat(lit("{\"k\": "), pmod(shiftright(h, 16), lit(100L)).cast("string"), lit("}"))
      .as("props")))
  val Customer = SourceTable("customer", "c_custkey", "c_acctbal", (id, h) => Seq(
    concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
    pmod(shiftright(h, 8), lit(25L)).cast("int").as("c_nationkey"),
    (pmod(shiftright(h, 16), lit(1099200L)) / 100.0 - 999.99).as("c_acctbal"),
    pick(shiftright(h, 40), "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      .as("c_mktsegment")))
}

/** Seeded DML over a snapshot that keeps the key unique: deletes and
  * updates pick existing keys by a hash of (key, seed, cycle), inserts
  * take fresh keys from a counter above the current maximum key.
  */
final class DmlBatch(t: SourceTable, seed: Long, cycle: Int, rate: Double,
                     firstNewKey: Long, inserts: Long) {
  private val third = math.max(1L, math.round(rate / 3 * 1e6))
  private def u: Column =
    pmod(xxhash64(col(t.pk), lit(seed), lit(cycle)), lit(1000000L))
  private def isDelete: Column = u < third
  private def isUpdate: Column = u >= third && u < 2 * third && col(t.pk) < firstNewKey

  def apply(spark: SparkSession, prev: DataFrame): DataFrame = {
    val kept = prev.filter(!isDelete).select(prev.columns.toSeq.map { c =>
      if (c == t.updateCol)
        when(isUpdate, col(c) + lit(1.0) + pmod(u, lit(97L)) / 100.0).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
    val id = col("id")
    val h = xxhash64(id, lit(seed), lit(cycle), lit(t.name))
    val fresh = spark.range(firstNewKey, firstNewKey + inserts)
      .select((id.as(t.pk) +: t.fresh(id, h)): _*)
      .select(prev.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    kept.unionByName(fresh)
  }
}

/** The paper's own pipeline, run as repeated incremental cycles over
  * three tables. Every cycle applies a seeded DML batch to each table
  * (untimed), then times capture and log append per table, one
  * `SyncJob.syncAll` over the three logs, the keep-last wipe of the
  * customer log, and compaction of the two kept logs. Snapshots, logs
  * and sinks stay on disk for the checker (`perfbench/cdc_check.py`).
  */
final class Cdc(spark: SparkSession, ctx: RunContext) {
  import ctx.{tracer, seed}

  private val tables = Seq(SourceTable.Orders, SourceTable.Events, SourceTable.Customer)
  private val wiped = SourceTable.Customer
  private val rate = 0.003
  private val logName = (t: SourceTable) => s"${t.name}_audit"

  // per-table state of the run
  private final class State(val t: SourceTable, val root: String) {
    var nextKey = 0L
    var inserts = 0L
    // version 0 is the generated table itself
    def snap(v: Int): String =
      if (v == 0) s"${ctx.dataDir}/${t.name}.parquet" else s"$root/snap/${t.name}/v$v"
    def snapshot(v: Int): DataFrame = spark.read.parquet(snap(v))
    val logDir = s"$root/log/${t.name}"
    val sinkDir = s"$root/sink/${logName(t)}"
    def delivered: Long = SyncJob.watermark(spark, sinkDir, initial = 0L)
  }
  private var states: Seq[State] = Nil
  private var root = ""
  private var cycle = 0

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def files(dir: String, suffix: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(s => s.getPath.toString -> s.getLen).toMap
  }

  /** Load the generated table of every table into its log as insert
    * events (cycle 0) and deliver it.
    */
  def setUp(dir: String): Unit = {
    root = dir
    states = tables.map(t => new State(t, dir))
    cycle = 0
    val sizes = states.map(s => s.snapshot(0).agg(count(lit(1)), max(col(s.t.pk))))
      .reduce(_ union _).collect()
    states.zip(sizes).foreach { case (s, r) =>
      s.inserts = math.round(r.getLong(0) * rate / 3)
      s.nextKey = r.getLong(1) + 1
      CaptureDiff.capture(s.snapshot(0).limit(0), s.snapshot(0), Seq(s.t.pk))
        .write.parquet(s.logDir)
    }
    SyncJob.syncAll(spark, logs, s"$dir/sink")
  }

  private def logs: Map[String, DataFrame] =
    states.map(s => logName(s.t) -> spark.read.parquet(s.logDir)).toMap

  /** One cycle: DML (untimed), then the timed pipeline. `corrupt`
    * duplicates one delivered row afterwards, which the checker must
    * report.
    */
  def cycleOp(corrupt: Boolean): OpRecord = {
    cycle += 1
    states.foreach { s =>
      val b = new DmlBatch(s.t, seed, cycle, rate, s.nextKey, s.inserts)
      b(spark, s.snapshot(cycle - 1)).write.parquet(s.snap(cycle))
      s.nextKey += s.inserts
    }
    val logBefore = states.map(s => files(s.logDir, ".parquet"))
    val csvBefore = states.map(s => files(s.sinkDir, ".csv"))
    val base = states.map(_.delivered)
    val stage = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span(name)(body)
      finally stage(name) = stage.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    var compacted = 0L
    val t0 = System.nanoTime()
    val error = scala.util.Try(tracer.span("cycle") {
      states.zip(base).foreach { case (s, pk) =>
        val captured = timed("capture") {
          CaptureDiff.capture(s.snapshot(cycle - 1), s.snapshot(cycle), Seq(s.t.pk),
            basePk = pk)
        }
        timed("log_append")(captured.write.mode("append").parquet(s.logDir))
      }
      if (tracer.enabled) timed("sync.watermark")(states.foreach(_.delivered))
      timed("sync")(SyncJob.syncAll(spark, logs, s"$root/sink"))
      timed("wipe")(SyncJob.wipeLogDir(spark, states.find(_.t == wiped).get.logDir))
      timed("compact") {
        states.filter(_.t != wiped).foreach { s =>
          compacted += AuditLake.compactLogDir(spark, s.logDir).bytesCompacted
        }
      }
    }).failed.toOption
    val wall = (System.nanoTime() - t0) / 1e9
    val appended = states.zip(logBefore).map { case (s, before) =>
      files(s.logDir, ".parquet").filter { case (p, _) => !before.contains(p) }.values.sum
    }.sum
    if (corrupt) states.zip(csvBefore).foreach { case (s, before) =>
      files(s.sinkDir, ".csv").keys.filterNot(before.contains).toSeq.sorted.headOption
        .foreach(duplicateFirstRow)
    }
    OpRecord(kind = "cycle", name = "cycle", seconds = stage.values.sum, wall = wall,
      ok = error.isEmpty, error = error.map(_.toString).getOrElse(""),
      rows = 0L, bytes = appended, stages = stage.toMap,
      extra = Map("cycle" -> cycle, "compact_bytes" -> compacted))
  }

  private def duplicateFirstRow(csv: String): Unit = {
    val file = new java.io.File(new java.net.URI(csv))
    val in = scala.io.Source.fromFile(file, "UTF-8")
    val lines = try in.getLines().take(2).toList finally in.close()
    val out = new java.io.PrintWriter(new java.io.File(file.getParent, "part-injected.csv"), "UTF-8")
    try lines.foreach(out.println) finally out.close()
  }

  /** Where the run left its snapshots, logs and sinks, for the checker. */
  def layout: Map[String, Any] = Map(
    "root" -> root, "cycles" -> cycle,
    "tables" -> states.map(s => Map("name" -> s.t.name, "pk" -> s.t.pk,
      "wiped" -> (s.t == wiped), "log" -> s.logDir, "sink" -> s.sinkDir,
      "snapshots" -> (0 to cycle).map(s.snap))))
}

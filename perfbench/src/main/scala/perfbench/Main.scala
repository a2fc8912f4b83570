package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation: a pipeline cycle or one query. `seconds` is the
  * timed work; `ok` is false when it threw or failed its check.
  */
final case class OpRecord(kind: String, name: String, seconds: Double, wall: Double,
                          ok: Boolean, error: String, rows: Long, bytes: Long,
                          stages: Map[String, Double] = Map.empty,
                          extra: Map[String, Any] = Map.empty,
                          output: String = "") {
  def json(index: Int, retainedMb: Double): Map[String, Any] =
    Map("index" -> index, "kind" -> kind, "name" -> name, "seconds" -> seconds,
      "wall" -> wall, "ok" -> ok, "error" -> error, "rows" -> rows, "bytes" -> bytes,
      "stages" -> stages, "extra" -> extra, "output" -> output,
      "retained_block_mb" -> retainedMb)
}

final case class RunContext(seed: Long, dataDir: String, workDir: String, tracer: Tracer)

/** Runs one workload in one session and writes the raw observations
  * (set-up times, one record per operation, and for a traced run the
  * spans and Spark job records) as JSON. The caller derives the metrics.
  *
  * Usage: Main --workload <cdc_trickle|query_mix|train> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  *   [--queries q1,q2,...] [--warmup <n>] [--min-passes <n>]
  *   [--inject <op index>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val inject = args.get("inject").map(_.toInt).getOrElse(-1)
    val warmup = args.get("warmup").map(_.toInt).getOrElse(2)
    val minPasses = args.get("min-passes").map(_.toInt).getOrElse(1)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val ctx = RunContext(seed, args("data"), work, tracer)

    var setupS = 0.0
    val ops = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, Double)]
    var warmupS = 0.0
    var layout = Map.empty[String, Any]

    // JVM uptime at each phase boundary, for the run log
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit =
      phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    phase("session")
    def timeIt(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // runs ops until the measuring window closes and at least `minPasses`
    // passes of `perPass` ops are done, always finishing the current pass,
    // so a slow run still yields the same number of samples; each op's
    // left-over block memory is read before the harness frees it
    def measure(perPass: Int)(next: Int => OpRecord): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < end || i % perPass != 0 || i < minPasses * perPass) {
        tracer.op = i
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val rec = next(i)
        ops += ((rec, Blocks.retainedMb(spark)))
        Blocks.free(spark, before)
        i += 1
      }
      tracer.op = -1
    }

    workload match {
      case "cdc_trickle" =>
        val cdc = new Cdc(spark, ctx)
        val before = spark.sparkContext.getPersistentRDDs.keySet
        setupS = timeIt(cdc.setUp(s"$work/cdc"))
        Blocks.free(spark, before)
        warmupS = timeIt((0 until warmup).foreach { _ =>
          val before = spark.sparkContext.getPersistentRDDs.keySet
          val rec = cdc.cycleOp(corrupt = false)
          require(rec.ok, s"warm-up cycle failed: ${rec.error}")
          Blocks.free(spark, before)
        })
        phase("warmup")
        measure(1)(i => cdc.cycleOp(corrupt = i == inject))
        phase("measure")
        layout = cdc.layout + ("first_timed" -> (warmup + 1))
      case "query_mix" =>
        val mix = new QueryMix(spark, ctx, args("queries").split(",").toSeq)
        setupS = timeIt(mix.writeOracles(s"$work/oracle_sql.json"))
        warmupS = timeIt(mix.warmUp(warmup))
        phase("warmup")
        measure(mix.size)(i => mix.queryOp(i, corrupt = i == inject))
        phase("measure")
        if (traced) mix.loadProbe()
      case "train" =>
        // exercises both workloads once, so a class-data archive dumped
        // at exit covers what a measured run loads
        new Cdc(spark, ctx).setUp(s"$work/train")
        new QueryMix(spark, ctx, args("queries").split(",").toSeq).warmUp(1)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.close()
    phase("done")

    val memoS = graft.queries.FrameMemo.buildLog.map(_._2).sum
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "session_s" -> sessionS, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "memo_build_s" -> memoS, "phases" -> phases.toMap,
      "ops" -> ops.zipWithIndex.map { case ((r, mb), i) => r.json(i, mb) },
      "spans" -> tracer.spansJson, "jobs" -> tracer.jobsJson, "plan" -> tracer.planJson,
      "cdc" -> layout)
    val out = new java.io.PrintWriter(args("out"), "UTF-8")
    try out.print(Json(result)) finally out.close()
    spark.stop()
  }
}

/** Block-manager bookkeeping between operations. */
object Blocks {
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Unpersist what the last operation left cached, except frames the
    * engine's shared memos own (they are meant to outlive a query).
    */
  def free(spark: SparkSession, before: collection.Set[Int]): Unit = {
    val owned = graft.queries.FrameMemo.ownedRddIds
    for ((id, rdd) <- spark.sparkContext.getPersistentRDDs
         if !before.contains(id) && !owned.contains(id))
      rdd.unpersist(blocking = true)
  }

  def deleteDir(spark: SparkSession, dir: String): Unit =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
}

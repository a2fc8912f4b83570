package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** Read-only analytics: a frozen list of `SparkEntry` queries, timed one at a
  * time on a warm session. Each run of a query builds its DataFrame
  * (builder), plans it (plan) and writes the result as parquet (exec);
  * the written result is checked against the DuckDB oracle afterwards,
  * outside the timing.
  */
final class QueryMix(spark: SparkSession, ctx: RunContext, names: Seq[String]) {
  import ctx.tracer

  private val builders: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n")))
  }

  def size: Int = builders.size

  /** Oracle SQL of the selected queries, for the checker. */
  def writeOracles(path: String): Unit = {
    val static = SparkEntry.oracleSql
    val dynamic =
      if (names.contains("q_bpe_encode")) SparkEntry.dynamicOracleSql(spark, ctx.dataDir)
      else Map.empty[String, String]
    val sql = names.map(n => n -> (dynamic ++ static).getOrElse(n, sys.error(s"no oracle for $n")))
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.print(Json(sql.toMap)) finally out.close()
  }

  private def run(name: String, build: (SparkSession, String) => DataFrame,
                  dir: String): (Double, Map[String, Double], Option[Throwable]) = {
    val stage = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](s: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span(s)(body) finally stage(s) = (System.nanoTime() - t0) / 1e9
    }
    graft.queries.FrameMemo.currentConsumer.set(name)
    val err =
      try {
        tracer.span("query") {
          val df = timed("builder")(build(spark, ctx.dataDir))
          timed("plan")(df.queryExecution.executedPlan)
          timed("exec")(df.write.mode("overwrite").parquet(dir))
        }
        None
      } catch { case e: Throwable => Some(e) }
      finally graft.queries.FrameMemo.currentConsumer.remove()
    (stage.values.sum, stage.toMap, err)
  }

  /** Untimed passes over every query: JIT, codegen caches and the
    * engine's shared memo builds land here, in set-up.
    */
  def warmUp(passes: Int): Unit = for (_ <- 0 until passes; (n, b) <- builders) {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run(n, b, s"${ctx.workDir}/warmup/$n")._3.foreach(e => throw e)
    Blocks.free(spark, before)
  }

  // each pass visits every query once, in a seeded order
  private def order(pass: Int): Seq[Int] =
    new scala.util.Random(ctx.seed * 7919 + pass).shuffle(builders.indices.toList)

  def queryOp(i: Int, corrupt: Boolean): OpRecord = {
    val pass = i / builders.size
    val (name, build) = builders(order(pass)(i % builders.size))
    val dir = s"${ctx.workDir}/out/p$pass/$name"
    val (secs, stages, err) = run(name, build, dir)
    if (corrupt && err.isEmpty)
      spark.read.parquet(dir).limit(0).write.mode("overwrite").parquet(dir + ".tmp")
    val output = if (corrupt && err.isEmpty) dir + ".tmp" else dir
    OpRecord(kind = "query", name = name, seconds = secs, wall = secs, ok = err.isEmpty,
      error = err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""),
      rows = 0L, bytes = 0L, stages = stages, output = output)
  }

  /** Traced runs only: spans around `Tables.load` calls, three per table,
    * so the run reports what one read of a static table costs.
    */
  def loadProbe(): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    for (_ <- 0 until 3; t <- tables) tracer.span("tables.load")(Tables.load(spark, ctx.dataDir, t))
  }
}

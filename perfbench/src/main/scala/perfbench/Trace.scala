package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the harness: a layer call inside an operation. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** One Spark job, attributed to the span that was open on the thread
  * that submitted it (-1 outside any span).
  */
final class JobRecord(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var tasks: Long = 0
  var runMs: Long = 0
  var shuffleWriteBytes: Long = 0
  var spillBytes: Long = 0
  var gcMs: Long = 0
  var inputBytes: Long = 0
  var inputRecords: Long = 0
}

/** In-memory span recorder plus the Spark listeners of a traced run.
  * Spans stay in memory and are dumped once at the end. When disabled,
  * `span` only runs its body, so an untraced run pays nothing but the
  * call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = scala.collection.mutable.HashMap.empty[Int, JobRecord]
  // planning time (ms) of every query execution, tagged with the op open
  // when the listener saw it
  private val planMs = ArrayBuffer.empty[(Int, Double)]
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parentProp = sc.getLocalProperty(SpanKey)
      val parent = if (parentProp == null) -1 else parentProp.toInt
      val id = nextId.getAndIncrement()
      val opAtStart = op
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanKey, parentProp)
        spans.synchronized(spans += Span(id, name, parent, opAtStart, t0, t1))
      }
    }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val rec = new JobRecord(e.jobId, prop.map(_.toInt).getOrElse(-1), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = rec)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        val info = e.stageInfo
        stageToJob.get(info.stageId).foreach { rec =>
          rec.tasks += info.numTasks
          val m = info.taskMetrics
          if (m != null) {
            rec.runMs += m.executorRunTime
            rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            rec.gcMs += m.jvmGCTime
            rec.inputBytes += m.inputMetrics.bytesRead
            rec.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      planMs.synchronized(planMs += ((op, ms)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
  }

  /** Detach the listeners; call once the last traced action finished. */
  def close(): Unit = if (enabled) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.listenerManager.unregister(PlanListener)
  }

  def spansJson: Seq[Map[String, Any]] = spans.synchronized(spans.toList).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))

  def jobsJson: Seq[Map[String, Any]] = jobs.synchronized(jobs.values.toList).map(j =>
    Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "tasks" -> j.tasks, "run_ms" -> j.runMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "spill_bytes" -> j.spillBytes, "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
      "input_records" -> j.inputRecords))

  def planJson: Seq[Map[String, Any]] = planMs.synchronized(planMs.toList).map {
    case (o, ms) => Map("op" -> o, "ms" -> ms)
  }
}

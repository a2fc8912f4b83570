package graft.streaming

import graft.core.SyncJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming JDBC change capture — the reference's cron-poll of MySQL
  * audit tables (`SELECT * WHERE audit_pk > :wm`,
  * cdc_audit_sync_mysql.php:243; cron cadence README.md:194-195) run
  * as a resident Structured Streaming job.
  *
  * JDBC is not a native streaming source, so the stream is a rate tick
  * driving one poll per micro-batch via `foreachBatch`; each poll is
  * the batch sync contract ([[SyncJob.syncTable]]):
  *
  *  - the delivered watermark is read O(1) from the sink's
  *    `_watermark` sidecar (full-scan fallback repairs a crashed
  *    append),
  *  - the `audit_pk > wm` filter sits on the freshly-constructed JDBC
  *    frame, so Spark pushes it into the remote WHERE clause — the
  *    reference's one data-plane optimization, per poll
  *    (pushdown pinned by JdbcCaptureSpec against embedded Derby),
  *  - one evaluation of the JDBC frame both writes the rows and
  *    yields the watermark the sidecar records (an observation on
  *    the write), so rows inserted while the poll runs can never be
  *    delivered without being covered, nor covered without being
  *    delivered,
  *  - the append is staged and advances the sidecar only after its
  *    part files are published into the sink.
  *
  * Exactly-once across restarts follows from the watermark living in
  * the SINK, not the stream state: re-firing a poll after a crash (or
  * from a fresh checkpoint) re-reads the true delivered maximum and
  * delivers only rows above it. The rate-source checkpoint merely
  * resumes the tick cadence. This is BASELINE.md's named
  * `spark_approach` ("Structured Streaming + JDBC source").
  */
object JdbcPoller {

  /** A fresh JDBC frame per poll (constructed lazily so each
    * micro-batch sees the table's current contents — a cached
    * DataFrame would pin one snapshot's query plan).
    */
  def jdbcSource(spark: SparkSession, url: String, table: String,
                 props: java.util.Properties = new java.util.Properties)
      : () => DataFrame =
    () => spark.read.jdbc(url, table, props)

  /** One poll = one cron run of the reference: read rows above the
    * sink watermark, append, advance the sidecar. Idempotent — a
    * re-fired poll delivers nothing new. Returns rows delivered.
    */
  def pollOnce(spark: SparkSession, source: () => DataFrame,
               sinkDir: String, singleFile: Boolean = false): Long =
    SyncJob.syncTable(spark, source(), sinkDir, singleFile)

  /** Resident poller: one [[pollOnce]] per `intervalMs` micro-batch.
    * `checkpointDir` persists only the tick cadence; delivery state is
    * the sink watermark (see object doc for the exactly-once argument).
    */
  def start(spark: SparkSession, source: () => DataFrame, sinkDir: String,
            checkpointDir: String, intervalMs: Long = 10000L,
            singleFile: Boolean = false): StreamingQuery =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", "1")
      .load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        pollOnce(spark, source, sinkDir, singleFile); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
      .start()
}

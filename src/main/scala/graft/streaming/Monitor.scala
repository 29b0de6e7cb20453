package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The reference's monitoring surface, realized: its README lists
  * metric categories (throughput, batch timing, record counts —
  * `/root/reference/README.md:104-110`) and pins prometheus/grafana
  * (`requirements.txt:23-24`) but never wires them. Structured
  * Streaming already EMITS all of those per micro-batch through
  * `StreamingQueryProgress`; this listener captures them into rows a
  * pipeline can query/sink like any other table (the Spark-native
  * answer to a metrics exporter — at cluster scale the same rows go to
  * a Kafka/parquet sink and Grafana reads that).
  *
  * Each row keeps the trigger's time split into the parts
  * `StreamingQueryProgress.durationMs` reports (offsets, the source's
  * `getBatch`, planning, the sink's `addBatch`, WAL and offset
  * commits), so a slow trigger can be traced to its layer from the
  * captured rows alone, beside the state operators' rows and memory
  * and the event-time watermark (null when the query has none).
  *
  * Driver-side only and O(1) per trigger: the buffer holds one small
  * tuple per micro-batch, never data-sized state. */
object Monitor {

  final case class BatchMetric(
      query_name: String,
      batch_id: Long,
      n_input_rows: Long,
      input_rows_per_sec: Double,
      processed_rows_per_sec: Double,
      trigger_ms: Long,
      latest_offset_ms: Long,
      get_batch_ms: Long,
      query_planning_ms: Long,
      add_batch_ms: Long,
      wal_commit_ms: Long,
      commit_offsets_ms: Long,
      n_state_rows: Long,
      state_memory_bytes: Long,
      watermark: java.sql.Timestamp)

  /** Attach with `spark.streams.addListener(capture)`; read the
    * captured metrics any time with `capture.snapshot(spark)`. */
  final class ProgressCapture extends StreamingQueryListener {
    private val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[BatchMetric]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // a trigger's parts; absent ones (no data, no planning) count 0
      def ms(part: String): Long =
        Option(p.durationMs.get(part)).map(_.longValue).getOrElse(0L)
      val stateOps = Option(p.stateOperators).getOrElse(Array.empty)
      val watermark = Option(p.eventTime.get("watermark"))
        .map(w => java.sql.Timestamp.from(java.time.Instant.parse(w))).orNull
      buf.add(BatchMetric(
        Option(p.name).getOrElse(p.id.toString),
        p.batchId,
        p.numInputRows,
        if (p.inputRowsPerSecond.isNaN) 0.0 else p.inputRowsPerSecond,
        if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond,
        ms("triggerExecution"), ms("latestOffset"), ms("getBatch"),
        ms("queryPlanning"), ms("addBatch"), ms("walCommit"),
        ms("commitOffsets"), stateOps.map(_.numRowsTotal).sum,
        stateOps.map(_.memoryUsedBytes).sum, watermark))
    }

    def snapshot(spark: SparkSession): DataFrame = {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSeq.toDF()
    }
  }
}

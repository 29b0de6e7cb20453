package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Monitor, StreamPipeline}
import java.sql.Timestamp

/** The state and event-time fields of [[Monitor.BatchMetric]] on a
  * watermarked windowed aggregate. */
class MonitorSpec extends SparkSpec {
  import spark.implicits._

  test("monitor rows keep the watermark and the state operators' memory") {
    implicit val sqlCtx = spark.sqlContext
    val capture = new Monitor.ProgressCapture
    spark.streams.addListener(capture)
    val mem = MemoryStream[(String, String)]
    val agg = StreamPipeline.windowedAgg(StreamPipeline.typed(StreamPipeline.parse(
      mem.toDF().toDF("key", "value"))))
    val q = agg.writeStream.format("noop").queryName("monitor_state")
      .outputMode("append").start()
    def txn(id: String, ts: String) =
      ("A", s"""{"transaction_id":"$id","account_id":"ACC1","transaction_type":"deposit",""" +
        s""""amount":1.0,"currency":"USD","timestamp":"$ts","status":"completed"}""")
    try {
      mem.addData(txn("T1", "2024-01-01T10:05:00"), txn("T2", "2024-01-01T10:55:00"))
      q.processAllAvailable()
      mem.addData(txn("T3", "2024-01-01T12:00:00"))
      q.processAllAvailable()
    } finally { q.stop(); spark.streams.removeListener(capture) }
    // the second data batch runs under the first batch's max event time
    // minus the 30 min delay
    val expected = Timestamp.from(java.time.Instant.parse("2024-01-01T10:25:00Z"))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def rows = capture.snapshot(spark)
      .filter(col("query_name") === "monitor_state" && col("n_input_rows") > 0)
      .collect()
    while (rows.length < 2 && System.nanoTime() < deadline) Thread.sleep(100)
    val seen = rows.sortBy(_.getAs[Long]("batch_id"))
    assert(seen.length === 2)
    assert(seen.map(_.getAs[Timestamp]("watermark")).last === expected)
    assert(seen.forall(r => r.getAs[Long]("state_memory_bytes") > 0L &&
      r.getAs[Long]("n_state_rows") > 0L && r.getAs[Long]("get_batch_ms") >= 0L))
  }
}

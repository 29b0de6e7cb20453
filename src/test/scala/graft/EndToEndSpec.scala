package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.Generator
import graft.streaming.{Sources, StreamPipeline}
import java.nio.file.Files

/** The reference's FULL topology in one executable pass: generator →
  * Kafka-shaped serde → parse → validate → retry loop (main /
  * banking.retry / banking.deadletter) → category + account enrichment
  * → alerts subset → (year,month,day) warehouse layout → flagship
  * windowed aggregate. Each stage has its own spec elsewhere; this
  * proves the WIRING — the output of every stage is the next stage's
  * input, exactly as `run_pipeline` + `start_streaming` compose in the
  * reference. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("monitor listener captures per-batch throughput metrics") {
    implicit val sqlCtx = spark.sqlContext
    val capture = new graft.streaming.Monitor.ProgressCapture
    spark.streams.addListener(capture)
    val mem = MemoryStream[Int]
    val q = mem.toDF().writeStream.format("noop")
      .queryName("monitor_probe").outputMode("append").start()
    try {
      mem.addData(1 to 100: _*)
      q.processAllAvailable()
      mem.addData(101 to 150: _*)
      q.processAllAvailable()
    } finally { q.stop(); spark.streams.removeListener(capture) }
    // listener events are delivered asynchronously after the batch
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var rows = capture.snapshot(spark)
      .filter(col("query_name") === "monitor_probe").collect()
    while (rows.map(_.getAs[Long]("n_input_rows")).sum < 150 &&
           System.nanoTime() < deadline) {
      Thread.sleep(100)
      rows = capture.snapshot(spark)
        .filter(col("query_name") === "monitor_probe").collect()
    }
    assert(rows.map(_.getAs[Long]("n_input_rows")).sum === 150)
    assert(rows.forall(_.getAs[Long]("trigger_ms") >= 0L))
  }

  test("monitor rows keep each trigger's duration parts") {
    assert(org.apache.spark.sql.Encoders
      .product[graft.streaming.Monitor.BatchMetric].schema.fieldNames.toSeq === Seq(
        "query_name", "batch_id", "n_input_rows", "input_rows_per_sec",
        "processed_rows_per_sec", "trigger_ms", "latest_offset_ms",
        "get_batch_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms",
        "commit_offsets_ms", "n_state_rows", "state_memory_bytes", "watermark"))
    implicit val sqlCtx = spark.sqlContext
    val capture = new graft.streaming.Monitor.ProgressCapture
    spark.streams.addListener(capture)
    val mem = MemoryStream[Int]
    val q = mem.toDF().writeStream.format("noop")
      .queryName("monitor_parts").outputMode("append").start()
    try {
      mem.addData(1 to 10: _*)
      q.processAllAvailable()
    } finally { q.stop(); spark.streams.removeListener(capture) }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def rows = capture.snapshot(spark)
      .filter(col("query_name") === "monitor_parts" && col("n_input_rows") > 0)
      .collect()
    while (rows.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    val r = rows.head
    val parts = Seq("latest_offset_ms", "query_planning_ms", "add_batch_ms",
      "wal_commit_ms", "commit_offsets_ms").map(r.getAs[Long])
    assert(parts.forall(_ >= 0L) && r.getAs[Long]("add_batch_ms") > 0L, r)
    assert(parts.sum <= r.getAs[Long]("trigger_ms"), r)
  }

  test("generator → serde → retry topology → enrich → warehouse → windowed agg") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_e2e").toString

    // 1. Producer: 50 generated transactions, Kafka-shaped exactly like
    // the reference's producer (key = account_id, value = JSON).
    val gen = Generator.transactions(spark, 50).drop("id")
    val wire = gen
      .select(col("account_id").as("key"),
        to_json(struct(gen.columns.map(col): _*)).as("value"))
      .as[(String, String)].collect().toSeq
    // ...plus one permanently-bad record and one retryable one.
    val badAmount =
      ("ACCX", """{"transaction_id":"BAD1","account_id":"ACCX","transaction_type":"deposit","amount":-5.0,"currency":"USD","timestamp":"2024-01-01T00:00:00"}""")
    val noAccount =
      ("X", """{"transaction_id":"RETRY1","transaction_type":"deposit","amount":7.5,"currency":"USD","timestamp":"2024-01-01T00:00:00"}""")

    // 2. Consumer: parse off the wire shape, then the bounded retry loop.
    val mem = MemoryStream[(String, String)]
    val fresh = StreamPipeline.parse(mem.toDF().toDF("key", "value")).drop("kafka_key")
    val q = Sources.retryLoopQuery(fresh, s"$tmp/retry", s"$tmp/main",
      s"$tmp/dead", s"$tmp/ckpt", maxRetries = 1)
    try {
      mem.addData(wire :+ badAmount :+ noAccount: _*)
      q.processAllAvailable()
    } finally q.stop()

    // Routing: all 50 generated records are valid → main; BAD1 dies
    // immediately; RETRY1 re-ingests once then dead-letters.
    val main = spark.read.parquet(s"$tmp/main")
    assert(main.count() === 50)
    val dead = spark.read.parquet(s"$tmp/dead")
      .select("transaction_id", "retry_count")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dead === Map("BAD1" -> 0, "RETRY1" -> 1))

    // 3. Enrichment: category CASE + account-dim broadcast join.
    val accounts = Seq(("ACC000001", "CUST000001", "checking", "active"))
      .toDF("account_id", "customer_id", "account_type", "account_status")
    val enriched = StreamPipeline.enrichWithAccounts(
      StreamPipeline.enrich(StreamPipeline.typed(main)), accounts)
    assert(enriched.filter(col("transaction_category").isNull).count() === 0)

    // 4. Alerts subset is a strict filter of the enriched stream.
    val alerts = enriched.filter(Sources.isAlert)
    assert(alerts.count() <= enriched.count())

    // 5. Warehouse: (year,month,day) partition layout on event_time.
    Sources.writeWarehouse(enriched, s"$tmp/wh")
    val whDirs = new java.io.File(s"$tmp/wh").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(whDirs.exists(_.startsWith("year=")))
    assert(spark.read.parquet(s"$tmp/wh").count() === 50)

    // 6. Flagship windowed aggregate over the warehouse read-back
    // (unified API: same stage code runs batch here, streaming in S2).
    val agg = StreamPipeline.windowedAgg(spark.read.parquet(s"$tmp/wh"))
    val rows = agg.collect()
    assert(rows.nonEmpty)
    assert(agg.columns.contains("transaction_count"))
  }
}

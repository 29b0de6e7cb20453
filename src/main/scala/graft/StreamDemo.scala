package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Generator
import graft.streaming.{Sources, StreamPipeline}

/** End-to-end streaming demo: synthetic transactions → JSON files →
  * file streaming source → parse/validate/enrich → windowed agg +
  * dead-letter dual sink → parquet. Exercises the full streaming path
  * without Kafka (same stages; the Kafka reader/writer differ only in
  * source/sink format options). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000L
    // shared engine config (util.Sessions, round 14): the streaming
    // demo runs the same engine settings the bench times
    val spark = graft.util.Sessions.build("streamdemo", cpusDefault = "8")
    spark.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_demo")
    val ok = try run(spark, n, tmp.toString)
    finally {
      spark.stop()
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    if (!ok) sys.exit(1)
  }

  /** Run the topology over `n` generated events in `tmp`; true when
    * every event reached the main or the dead-letter sink. */
  private def run(spark: SparkSession, n: Long, tmp: String): Boolean = {
    // Producer side: generator → JSON files (stands in for the Kafka topic).
    Generator.transactions(spark, n)
      .write.mode("overwrite").json(s"$tmp/in")

    // Consumer side: file streaming source → full pipeline.
    val raw = Sources.jsonDirReader(spark, s"$tmp/in")
    val typed = StreamPipeline.enrich(StreamPipeline.typed(raw))

    val dual = Sources.dualSinkQuery(typed, s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt1")
    val agg = StreamPipeline.windowedAgg(
      StreamPipeline.validate(typed).filter(col("is_valid")))
    val aggQ = agg.writeStream.format("parquet")
      .option("path", s"$tmp/agg").option("checkpointLocation", s"$tmp/ckpt2")
      .outputMode("append").start()

    dual.processAllAvailable(); dual.stop()
    aggQ.processAllAvailable(); aggQ.stop()

    // a sink that never received a row has no dir; any other read
    // failure is real and fails the demo
    def rows(dir: String): Long =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        spark.read.parquet(dir).count()
      else 0L
    val nMain = rows(s"$tmp/main")
    val nDead = rows(s"$tmp/dead")
    // append-mode agg emits only watermark-closed windows
    val nAgg = rows(s"$tmp/agg")
    println(s"STREAM_DEMO main=$nMain dead=$nDead agg_rows=$nAgg total=${nMain + nDead}")
    println(s"categories: " + spark.read.parquet(s"$tmp/main")
      .groupBy("transaction_category").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", "))
    nMain + nDead == n
  }
}

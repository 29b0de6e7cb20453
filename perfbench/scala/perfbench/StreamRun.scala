package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.streaming.{Sources, StreamPipeline}

/** The paper's streaming topology, wired as `StreamDemo` wires it: the
  * JSON file source → `typed` → `enrich` → `dualSinkQuery` (idempotent
  * main + dead-letter parquet), beside `validate` → `windowedAgg`
  * (1 h window, 30 min watermark) → parquet append.
  *
  * The generator is a separate process started by run.py. Handshake
  * through marker files in `--work`: this side writes `ready` once both
  * queries are started and `caughtup` once both have committed the
  * backlog; the generator writes `gen_done` after its last live drop.
  * `--mode catchup` stops after the backlog (the single-core reference
  * drain). Set-up is repeated `--setup-reps` times; the first
  * repetition drains the warm-up files before it is torn down.
  *
  * Latency, catch-up rate and window emission are computed by run.py
  * after the run from the sink rows and checkpoint commit times, so the
  * untraced run needs no engine hook beyond the row counter that drives
  * the handshake. */
object StreamRun {

  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rows.merge(p.id.toString, p.numInputRows, (a: java.lang.Long, b: java.lang.Long) => a + b)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      events.add(Map(
        "query" -> p.id.toString, "batch" -> p.batchId, "timestamp" -> p.timestamp,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "watermark" -> Option(p.eventTime.get("watermark")),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum))
    }
    def rowsOf(q: StreamingQuery): Long =
      Option(rows.get(q.id.toString)).map(_.longValue).getOrElse(0L)
  }

  private def touch(path: String, body: String = ""): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait until `cond` holds or `deadlineNs` passes; true if it held. */
  private def await(deadlineNs: Long)(cond: => Boolean): Boolean = {
    while (!cond) {
      if (System.nanoTime() > deadlineNs) return false
      Thread.sleep(5)
    }
    true
  }

  def run(opts: Map[String, String]): Unit = {
    val work = opts("work")
    val reps = opts.getOrElse("setup-reps", "3").toInt
    val maxFiles = opts("max-files").toInt
    // rows each query counts: all events for the dual sink; the windowed
    // aggregate may count only valid events (its validity filter can be
    // pushed into the JSON scan), so it is held to the valid counts
    val backlog = opts("backlog-events").toLong
    val total = opts("total-events").toLong
    val backlogValid = opts("backlog-valid").toLong
    val totalValid = opts("total-valid").toLong
    val catchupOnly = opts.getOrElse("mode", "full") == "catchup"
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cores", "4").toInt
    val deadline = System.nanoTime() + (opts.getOrElse("timeout-s", "120").toDouble * 1e9).toLong

    // set-up repetitions; the last one is the measured topology on `work`
    var spark: SparkSession = null
    var dual, aggQ: StreamingQuery = null
    val progress = new Progress
    val spans = new Spans
    var tr: Option[EngineTrace] = None
    val setup = (1 to reps).map { i =>
      if (spark != null) { dual.stop(); aggQ.stop(); Main.stopSession(spark) }
      val dir = if (i == reps) work else s"$work/setup$i"
      Files.createDirectories(Paths.get(s"$dir/in"))
      val t0 = System.nanoTime()
      spark = Main.newSession(cpus)
      if (i == reps) {
        spark.streams.addListener(progress)
        // before the queries start: each query plans its micro-batches on
        // a clone of the session taken at start
        if (trace) tr = Some(new EngineTrace(spark, Main.cores(spark), spans).attach())
      }
      val t1 = System.nanoTime()
      val raw = org.apache.spark.sql.perfbench.Internals.withMaxFilesPerTrigger(
        Sources.jsonDirReader(spark, s"$dir/in"), maxFiles)
      val t2 = System.nanoTime()
      val typed = StreamPipeline.enrich(StreamPipeline.typed(raw))
      dual = Sources.dualSinkQuery(typed, s"$dir/main", s"$dir/dead", s"$dir/ckpt_dual")
      val agg = StreamPipeline.windowedAgg(
        StreamPipeline.validate(typed).filter(col("is_valid")))
      aggQ = agg.writeStream.format("parquet")
        .option("path", s"$dir/agg").option("checkpointLocation", s"$dir/ckpt_agg")
        .outputMode("append").start()
      val t3 = System.nanoTime()
      // the first repetition also drains the warm-up files run.py placed
      // in its input dir, so the measured topology starts on a warm JVM
      if (i == 1 && i < reps) { dual.processAllAvailable(); aggQ.processAllAvailable() }
      Map("session_ms" -> Main.ms(t1 - t0), "source_ms" -> Main.ms(t2 - t1),
        "start_ms" -> Main.ms(t3 - t2))
    }
    val traceStart = System.currentTimeMillis()
    val errors = mutable.ArrayBuffer[String]()
    def healthy = dual.isActive && aggQ.isActive
    touch(s"$work/ready")

    val caughtUp = await(deadline) {
      !healthy || (progress.rowsOf(dual) >= backlog && progress.rowsOf(aggQ) >= backlogValid)
    }
    // the backlog's window state is at its largest here; the live phase
    // starts only after this measurement. The no-data batch that follows
    // the last backlog batch moves the watermark and evicts state: measure
    // once it has run, not while it may still be running.
    if (caughtUp && healthy)
      await(math.min(deadline, System.nanoTime() + 3000000000L)) {
        val p = aggQ.lastProgress
        p != null && p.numInputRows == 0
      }
    val caughtUpHeap = Main.liveHeapMb()
    touch(s"$work/caughtup", System.currentTimeMillis().toString)
    if (!caughtUp) errors += "catch-up did not finish in time"

    if (!catchupOnly && healthy) {
      val done = await(deadline) {
        !healthy || (Files.exists(Paths.get(s"$work/gen_done")) &&
          progress.rowsOf(dual) >= total && progress.rowsOf(aggQ) >= totalValid)
      }
      if (!done) errors += "live phase did not drain in time"
    }
    // let the no-data batch that the last watermark move triggers emit
    // its windows before stopping
    if (healthy) {
      val lastData = aggQ.lastProgress
      await(math.min(deadline, System.nanoTime() + 3000000000L)) {
        val p = aggQ.lastProgress
        p != null && lastData != null && p.batchId > lastData.batchId && p.numInputRows == 0
      }
    }
    Seq(dual, aggQ).foreach { q =>
      q.exception.foreach(e => errors += s"${q.id}: ${e.getMessage.linesIterator.take(1).mkString}")
    }
    dual.stop(); aggQ.stop()
    val endHeap = Main.liveHeapMb()
    org.apache.spark.sql.perfbench.Internals.drainListenerBus(spark)

    val traceOut: Map[String, Any] = tr match {
      case None => Map.empty
      case Some(t) =>
        t.detach()
        t.summary + ("wall_ms" -> (System.currentTimeMillis() - traceStart))
    }
    Json.write(opts("out"), Map(
      "setup" -> setup, "errors" -> errors,
      "queries" -> Map("dual" -> dual.id.toString, "agg" -> aggQ.id.toString),
      "progress" -> progress.events.iterator().asScala.toSeq,
      "peak_rss_kb" -> Main.peakRssKb(), "live_heap_mb" -> math.max(caughtUpHeap, endHeap),
      "live_heap_caughtup_mb" -> caughtUpHeap, "live_heap_end_mb" -> endHeap,
      "engine" -> Main.engineInfo(spark),
      "trace" -> traceOut))
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}

/** Batch workloads: a fixed mix of `SparkEntry.queries`, closed loop,
  * one client.
  *
  *  1. Set-up, once per `--data` directory: build the session
  *     (`util.Sessions.build`) and register every table (`Tables.*`).
  *     Each directory holds the same tables, so every repetition pays
  *     the footer reads; the last session is kept.
  *  2. Check pass (untimed): each query's order-independent content
  *     hash, compared by run.py against the recorded hashes.
  *  3. Warm-up passes (`--warmup-passes`, untimed), the same as the
  *     timed ones: the check pass runs other plans, so the first noop
  *     passes still load classes and JIT-compile.
  *  4. Timed passes until `--seconds` have elapsed (at least
  *     `--min-passes`): each query is built and run to the `noop` sink.
  *     Each pass records the host CPU steal during it.
  *     The live heap is measured after the check pass and after the
  *     last timed pass.
  *
  * With `--trace 1` the engine hooks of [[EngineTrace]] are attached for
  * the timed passes only. */
object BatchRun {

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier,
    Tables.part, Tables.orders, Tables.lineitem, Tables.events,
    Tables.documents, Tables.embeddings)

  /** Row count and the wrap-free sum of per-row hashes: equal for equal
    * multisets of rows, whatever their order or partitioning. */
  def contentHash(df: DataFrame): String = {
    val r = df.selectExpr("xxhash64(to_json(struct(*))) AS h")
      .selectExpr("count(1)", "CAST(sum(CAST(h AS DECIMAL(38,0))) AS STRING)")
      .head()
    s"${r.getLong(0)}:${Option(r.getString(1)).getOrElse("0")}"
  }

  /** Runs `body` on its own thread in job group `name`; cancels the
    * group after `timeoutS`. Left = error text, Right = result. */
  def watched[T](spark: SparkSession, name: String, props: Map[String, String],
                 timeoutS: Double)(body: => T): Either[String, T] = {
    @volatile var result: Either[String, T] = Left("timeout")
    val th = new Thread(() => {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name, interruptOnCancel = true)
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      result = try Right(body) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300))
      }
    })
    th.setDaemon(true)
    th.start()
    th.join((timeoutS * 1000).toLong)
    if (th.isAlive) {
      spark.sparkContext.cancelJobGroup(name)
      th.join(10000L)
      Left("timeout")
    } else result
  }

  private def cleanup(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }

  def run(opts: Map[String, String]): Unit = {
    val dataDirs = opts("data").split(',').toSeq
    val queries = opts("queries").split(',').toSeq
    val seconds = opts("seconds").toDouble
    val minPasses = opts.getOrElse("min-passes", "3").toInt
    val warmupPasses = opts.getOrElse("warmup-passes", "0").toInt
    val timeoutS = opts.getOrElse("timeout-s", "90").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cores", "4").toInt
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // 1. set-up repetitions
    var spark: SparkSession = null
    val setup = dataDirs.map { dir =>
      if (spark != null) Main.stopSession(spark)
      val t0 = System.nanoTime()
      spark = Main.newSession(cpus)
      val t1 = System.nanoTime()
      loaders.foreach(_(spark, dir).schema)
      val t2 = System.nanoTime()
      Map("session_ms" -> Main.ms(t1 - t0), "tables_ms" -> Main.ms(t2 - t1))
    }
    val dir = dataDirs.last

    // 2. check pass
    val c0 = System.nanoTime()
    val hashes = mutable.LinkedHashMap[String, String]()
    val errors = mutable.LinkedHashMap[String, String]()
    queries.foreach { q =>
      watched(spark, q, Map.empty, timeoutS)(contentHash(SparkEntry.queries(q)(spark, dir))) match {
        case Right(h) => hashes(q) = h
        case Left(err) => errors(q) = s"check: $err"
      }
      cleanup(spark)
    }

    cleanup(spark, blocking = true)
    var liveHeap = Main.liveHeapMb()

    // 3. warm-up passes
    val w0 = System.nanoTime()
    var warmupFailed = 0
    (0 until warmupPasses).foreach { i =>
      queries.foreach { q =>
        watched(spark, q, Map.empty, timeoutS) {
          SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        } match {
          case Right(_) => ()
          case Left(err) =>
            warmupFailed += 1
            errors.getOrElseUpdate(q, s"warm-up $i: $err")
        }
        cleanup(spark)
      }
    }

    val checkMs = Main.ms(w0 - c0)
    val warmupMs = Main.ms(System.nanoTime() - w0)

    // 4. timed passes
    val spans = new Spans
    val tr = if (trace) Some(new EngineTrace(spark, Main.cores(spark), spans).attach()) else None
    val runId = spans.nextId()
    val runStart = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val buildMs, actionMs, actionPlanMs, actionJobMs, buildJobs = mutable.ArrayBuffer[Double]()
    var timeouts = 0
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val passId = spans.nextId()
      val p0 = System.nanoTime(); val p0Ms = System.currentTimeMillis()
      val (cpu0, steal0) = Main.cpuStat()
      val perQuery = mutable.LinkedHashMap[String, Double]()
      queries.foreach { q =>
        val qId = spans.nextId()
        val q0 = System.nanoTime(); val q0Ms = System.currentTimeMillis()
        var b1Ms = q0Ms
        val res = watched(spark, q, Map("perfbench.span" -> qId.toString), timeoutS) {
          val df = SparkEntry.queries(q)(spark, dir)
          b1Ms = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
        }
        val q1 = System.nanoTime(); val q1Ms = System.currentTimeMillis()
        res match {
          case Right(_) => perQuery(q) = Main.ms(q1 - q0)
          case Left(err) =>
            if (err == "timeout") timeouts += 1
            errors.getOrElseUpdate(q, s"pass ${passes.size}: $err")
        }
        if (trace) {
          spans.add(Span(spans.nextId(), qId, "build", "build", q0Ms, b1Ms))
          spans.add(Span(spans.nextId(), qId, "exec", "action", b1Ms, q1Ms))
          spans.add(Span(qId, passId, "query", q, q0Ms, q1Ms))
        }
        cleanup(spark)
      }
      val p1 = System.nanoTime()
      val (cpu1, steal1) = Main.cpuStat()
      if (trace) spans.add(Span(passId, runId, "pass", s"pass ${passes.size}", p0Ms,
        System.currentTimeMillis()))
      passes += Map("wall_ms" -> Main.ms(p1 - p0), "queries" -> perQuery,
        "steal_pct" -> 100.0 * (steal1 - steal0) / math.max(1L, cpu1 - cpu0))
    }
    val runEnd = System.currentTimeMillis()
    cleanup(spark, blocking = true)
    liveHeap = math.max(liveHeap, Main.liveHeapMb())

    val traceOut: Map[String, Any] = tr match {
      case None => Map.empty
      case Some(t) =>
        t.detach()
        spans.add(Span(runId, 0L, "run", "run", runStart, runEnd))
        val all = spans.all
        val byParent = all.groupBy(_.parent)
        // self time per layer: build minus the jobs it ran; action split
        // into Catalyst phases, job time and the remainder
        all.filter(_.layer == "query").foreach { qs =>
          byParent.getOrElse(qs.id, Nil).foreach { c =>
            if (c.name == "build") {
              buildMs += (c.endMs - c.startMs).toDouble
              buildJobs += t.jobsIn(c.startMs, c.endMs).toDouble
            } else if (c.name == "action") {
              actionMs += (c.endMs - c.startMs).toDouble
              actionPlanMs += t.planMsIn(c.startMs, c.endMs).toDouble
              actionJobMs += t.jobMsIn(c.startMs, c.endMs).toDouble
            }
          }
        }
        t.summary ++ Map(
          "build_ms" -> buildMs.sum, "build_jobs" -> buildJobs.sum,
          "action_ms" -> actionMs.sum, "action_plan_ms" -> actionPlanMs.sum,
          "action_job_ms" -> actionJobMs.sum, "wall_ms" -> (runEnd - runStart))
    }

    Json.write(opts("out"), Map(
      "setup" -> setup, "hashes" -> hashes, "errors" -> errors,
      "passes" -> passes, "timeouts" -> timeouts,
      "warmup_passes" -> warmupPasses, "warmup_failed" -> warmupFailed,
      "check_ms" -> checkMs, "warmup_ms" -> warmupMs,
      "peak_rss_kb" -> Main.peakRssKb(), "live_heap_mb" -> liveHeap,
      "engine" -> Main.engineInfo(spark),
      "trace" -> traceOut))
  }
}

package graft
import org.apache.spark.sql.SparkSession

/** Headline bench over every SparkEntry query. The output contract with
  * the harness drives every design choice here: the harness keeps only
  * the LAST ~2000 chars of process output and parses the last complete
  * JSON line it finds there. Four consecutive rounds lost the number to
  * that window (r1/r2: one oversized final line; r3: killed mid-suite
  * with only WARN noise in the tail; r4: a post-run executor crash
  * appended ~500 chars of stderr after a ~1900-char final line, pushing
  * its head out of the capture). Hence:
  *
  *  - a COMPACT (~300 char) heartbeat JSON line after EVERY query, so
  *    whatever instant the process dies, the tail holds a parseable
  *    line with the running total and `"incomplete":true`;
  *  - a compact final line (slowest queries only; the full per-query
  *    map goes to bench_detail.json), then `Runtime.halt(0)` — no
  *    spark.stop(), no shutdown hooks, no chance for a late executor
  *    thread or sbt error banner to print after the line;
  *  - log level ERROR and all progress to bench_progress.log, never
  *    stdout/stderr;
  *  - every query runs under a job-group WATCHDOG sized from the
  *    remaining budget — one stolen-CPU query (r3 recorded 1409 s for
  *    a query that takes seconds in isolation) can no longer eat the
  *    suite's whole wall budget;
  *  - the SparkSession is REBUILT after any failure or timeout: r3's
  *    five-query cascade showed one session-level death poisons every
  *    later query, and r4's missing-shuffle-file crash (something
  *    reaped /tmp/spark-local mid-run) killed the JVM via Spark's
  *    uncaught-exception handler. spark.local.dir now lives under
  *    ./target so no tmp reaper can delete live shuffle files.
  */
object Bench {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The shared engine config ([[graft.util.Sessions]], round 14):
    * Bench, Verify, Smoke and the perf tools now build the SAME
    * session, so the engine the oracle verifies is the engine the
    * bench times — by construction, not by parallel edits. The
    * historical Bench-specific settings (non-blocking cleaner,
    * ./target local dir, parallelismFirst=false, hot codegen cache)
    * all live there with their rationale. */
  private def newSession(): SparkSession = {
    val spark = graft.util.Sessions.build("bench")
    // ERROR, not WARN: any log line on stdout/stderr competes with the
    // JSON lines for the harness's 2000-char tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private sealed trait Outcome
  private case class Ok(sec: Double) extends Outcome
  private case class Failed(err: String) extends Outcome
  private case class TimedOut(capS: Double) extends Outcome

  def main(args: Array[String]): Unit = {
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9

    val progress = new java.io.PrintWriter(
      new java.io.FileWriter("bench_progress.log", /*append=*/ false), /*autoFlush=*/ true)

    var spark = newSession()
    def rebuildSession(): Unit = {
      try spark.stop() catch { case _: Throwable => () }
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      spark = newSession()
      progress.println(f"[${elapsedS}%8.1f] session rebuilt")
    }

    // noop write executes the FULL plan (count() would let Catalyst
    // eliminate sorts and prune projections — flattering but false).
    // The write runs on its own thread inside a job group so the
    // watchdog can cancel the group's jobs; setJobGroup is
    // thread-local, so it is set INSIDE the worker.
    def run(name: String, timeoutS: Double): Outcome = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val sess = spark
      @volatile var err: Throwable = null
      val done = new java.util.concurrent.CountDownLatch(1)
      val th = new Thread(() => {
        try {
          sess.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(sess, sfDir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => err = e }
        finally {
          try sess.sparkContext.clearJobGroup() catch { case _: Throwable => () }
          done.countDown()
        }
      }, s"bench-$name")
      th.setDaemon(true)
      th.start()
      val finished = done.await((timeoutS * 1000).toLong,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      val outcome: Outcome =
        if (!finished) {
          try sess.sparkContext.cancelJobGroup(name) catch { case _: Throwable => () }
          // Give the cancel a moment to unwind; the thread is daemon,
          // so a truly stuck task cannot block suite progress.
          done.await(10, java.util.concurrent.TimeUnit.SECONDS)
          TimedOut(timeoutS)
        } else if (err != null) {
          val first = Option(err.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(200)
          Failed(s"${err.getClass.getSimpleName}: $first")
        } else Ok((System.nanoTime() - t0) / 1e9)
      // Queries may cache intermediates; drop them so later queries
      // aren't measured under accumulated heap pressure. clearCache()
      // only covers catalog-cached plans — localCheckpoint blocks live
      // at the RDD layer, so sweep those too.
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
      outcome match {
        case Ok(s) => progress.println(f"[${elapsedS}%8.1f] $name%-24s $s%8.2f")
        case Failed(e) =>
          progress.println(f"[${elapsedS}%8.1f] $name%-24s FAILED  $e")
          rebuildSession()
        case TimedOut(c) =>
          progress.println(f"[${elapsedS}%8.1f] $name%-24s TIMEOUT after $c%.0f s")
          rebuildSession()
      }
      outcome
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // Per-query attempt history: successes, plus whether any attempt
    // failed / timed out.
    val succ = scala.collection.mutable.Map[String, Double]().withDefaultValue(Double.MaxValue)
    val sawFail = scala.collection.mutable.Set[String]()
    val sawTimeout = scala.collection.mutable.Map[String, Double]()
    val measured = scala.collection.mutable.Set[String]()

    // A query that only ever FAILED contributes this poison term to the
    // total: the max watchdog cap, i.e. strictly worse than any possible
    // measurement. Failures must never make the headline number SMALLER
    // (a crashed suite must not look healthier than a clean one — the
    // consumer may parse only "value"); 180 s per failure blows the 2×
    // gate ratio loudly while keeping the line readable, unlike the old
    // 1e9 poison that made r4's single env flake unreadable.
    val FailPenaltyS = 180.0
    def bestKnown(n: String): Double =
      if (succ(n) < Double.MaxValue) succ(n)
      else sawTimeout.getOrElse(n, if (sawFail(n)) FailPenaltyS else 0.0)

    // value shown while running = best-known per measured query; a
    // query with no success yet contributes its timeout cap (a real
    // lower bound) or the fail poison if every attempt threw.
    def currentValue: Double = measured.iterator.map(bestKnown).sum
    def slowMap(k: Int): String = measured.iterator.map(n => n -> bestKnown(n))
      .toSeq.sortBy(-_._2).take(k)
      .map { case (n, v) => "\"" + n + "\":" + f3(v) }.mkString(",")

    def heartbeat(phase: String): Unit = {
      val line = s"""{"metric":"total","value":${f3(currentValue)},"unit":"sec","done":${measured.size},"n":${names.size},"phase":"$phase","queries":{${slowMap(5)}},"nfailed":${sawFail.size},"incomplete":true,"sf":"$sfDir"}"""
      println(line)
      System.out.flush()
    }

    def attempt(name: String, timeoutS: Double, phase: String): Unit = {
      run(name, timeoutS) match {
        case Ok(s) => succ(name) = math.min(succ(name), s)
        case Failed(_) => sawFail += name
        case TimedOut(c) =>
          sawTimeout(name) = math.max(sawTimeout.getOrElse(name, 0.0), c)
      }
      measured += name
      heartbeat(phase)
    }

    def clamp(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))

    // PASS 1: every query once, watchdog sized so the pass lands
    // within ~55% of budget even if every remaining query runs to its
    // cap. Doubles as JIT warm-up (fresh generated code starts
    // interpreted — measured 30-100x slower until the compile flood
    // drains).
    val p1Deadline = 0.55 * budgetS
    names.zipWithIndex.foreach { case (n, i) =>
      val remaining = names.size - i
      attempt(n, clamp((p1Deadline - elapsedS) / remaining, 15.0, 180.0), "pass1")
    }

    // PASS 2 re-measures EVERY query, slowest first, so the most
    // inflated pass-1 numbers are reached first if the budget cuts the
    // pass short. Cross-pass min is the contention defense: a
    // host-scheduler stall covering one run happens; one spanning
    // pass 1 AND the pass-2 re-run of the same query would have to
    // span most of the suite. A query with no success yet sorts by its
    // timeout cap, or first if every attempt failed.
    val p2Order = names.sortBy { n =>
      -(if (succ(n) < Double.MaxValue) succ(n)
        else sawTimeout.getOrElse(n, Double.MaxValue / 2))
    }
    progress.println(s"pass 2: ${p2Order.size} queries to re-measure, slowest first")
    val p2Deadline = 0.85 * budgetS
    var skipped = 0
    p2Order.zipWithIndex.foreach { case (n, i) =>
      if (elapsedS < p2Deadline) {
        val remaining = p2Order.size - i
        attempt(n, clamp((p2Deadline - elapsedS) / remaining, 15.0, 120.0), "pass2")
      } else skipped += 1
    }
    if (skipped > 0) progress.println(s"budget: $skipped pass-2 runs skipped")

    // Targeted third try for stragglers still slow after two passes —
    // one more chance to land outside a contention window.
    names.filter(n => succ(n) == Double.MaxValue || succ(n) > 5.0)
      .sortBy(n => -succ(n))
      .foreach { n => if (elapsedS < 0.95 * budgetS) attempt(n, 60.0, "pass3") }

    // Final accounting. A query is FAILED only if no attempt ever
    // succeeded AND none timed out (a timeout is a real lower-bound
    // measurement). Failed queries are reported by name AND fold the
    // FailPenaltyS poison into "value": totals stay comparable across
    // runs with different failure sets, and a consumer that parses only
    // "value" sees a crashed suite as slower, never healthier.
    val failedNames = names.filter(n =>
      succ(n) == Double.MaxValue && !sawTimeout.contains(n))
    val timeoutOnly = names.filter(n => succ(n) == Double.MaxValue && sawTimeout.contains(n))
    val values = names.map(n => n -> bestKnown(n)).toMap
    val total = values.values.sum

    // failed/timeout queries are MARKED in the detail file (ADVICE
    // r12): their "queries" values are the FailPenaltyS poison or a
    // watchdog cap, not measurements, and a reader comparing runs must
    // not take them as timings. The detail file is not tail-capped, so
    // the lists are complete.
    def jarr(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // suspect = the reported value is a poison/cap, i.e. NO attempt
    // ever succeeded (a query that timed out once but later measured
    // clean reports its clean min — a genuine measurement)
    val suspectNames = (failedNames ++ timeoutOnly).distinct.sorted
    val full = values.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString(s"""{"total":${f3(total)},"sf":"$sfDir","suspect":${jarr(suspectNames)},"queries":{""", ",", "}}")
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }

    val slow = values.toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString(",")
    val omitted = names.size - math.min(12, names.size)
    val omittedSum = total - values.toSeq.sortBy(-_._2).take(12).map(_._2).sum
    // Name arrays are CAPPED: 109 failed names once measured ~2900
    // chars — bigger than the harness's ~2000-char tail window, so the
    // final line itself would have been truncated past parseability in
    // exactly the catastrophic case it reports. Counts are always
    // exact; the full name lists live in bench_progress.log.
    def capped(ns: Seq[String]): String =
      (ns.take(8).map("\"" + _ + "\"") ++
        (if (ns.size > 8) Seq("\"+" + (ns.size - 8) + " more\"") else Nil))
        .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${names.size},"queries":{$slow},"omitted":$omitted,"omitted_sum":${f3(omittedSum)},"nfailed":${failedNames.size},"failed":${capped(failedNames)},"ntimeout":${timeoutOnly.size},"timeout":${capped(timeoutOnly)},"sf":"$sfDir"}"""
    if (failedNames.nonEmpty) progress.println("failed: " + failedNames.mkString(","))
    if (timeoutOnly.nonEmpty) progress.println("timeout: " + timeoutOnly.mkString(","))
    progress.println(line)
    progress.close()
    println(line)
    System.out.flush()
    // halt, not exit/stop: shutdown hooks and lingering executor
    // threads must not get a chance to print AFTER the final line
    // (r4: a post-run executor crash displaced the line from the
    // harness's tail capture). The noop sink has no data to flush.
    Runtime.getRuntime.halt(0)
  }
}

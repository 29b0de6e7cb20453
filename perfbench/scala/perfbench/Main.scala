package perfbench

import org.apache.spark.sql.SparkSession

/** Engine side of the benchmark. `perfbench/run.py` launches it with
  * `batch` or `stream` and `--key value` options, and reads the JSON
  * result file it writes; metrics and correctness are computed there. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code =
      try {
        args.headOption match {
          case Some("batch")  => BatchRun.run(opts); 0
          case Some("stream") => StreamRun.run(opts); 0
          case _ =>
            System.err.println("usage: perfbench.Main batch|stream --key value ...")
            2
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    // No spark.stop()/shutdown hooks after the result file is written:
    // a late executor thread cannot change the outcome.
    Runtime.getRuntime.halt(code)
  }

  def newSession(cores: Int): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = graft.util.Sessions.build("perfbench", cpusDefault = cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    try spark.stop() catch { case _: Throwable => () }
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Heap still in use after a full collection, in MB: the live set the
    * run retains (cached data, state, generated classes), measured
    * outside any timed region. */
  def liveHeapMb(): Double = {
    // the second collection takes what the context cleaner released
    // after the first one dropped the last references
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Host CPU time as (all jiffies, steal jiffies), from /proc/stat. */
  def cpuStat(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (v.take(8).sum, if (v.length > 7) v(7) else 0L)
    } finally src.close()
  }

  def ms(ns: Long): Double = ns / 1e6

  def engineInfo(spark: SparkSession): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "cores" -> cores(spark))
}

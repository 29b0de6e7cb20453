package graft

/** Batch min-of-N timer for a comma-separated query list in ONE JVM
  * (dev tool, not driver contract): pass-1 over the list warms
  * JIT/codegen, then `runs` timed passes; prints each query's min —
  * Bench's cross-pass-min statistic on Bench's session and noop-write
  * shape, at a fraction of a full Bench run. The per-layer split
  * (jobs, stages, Catalyst phases, codegen) of the benchmark's query
  * mix and stream topology is `perfbench/run.py --trace 1` and its
  * `spans.json`. Usage:
  *   SPARK_GRAFT_CPUS=4 scripts/run.sh graft.TimeMany q_a,q_b [runs]
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.build("timemany")
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // ADVICE r13: runs=0 would burn the full warmup sweep and then
    // throw NoSuchElementException at best(n) — fail before any work
    require(runs >= 1, s"need at least 1 timed pass, got runs=$runs")
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val best = scala.collection.mutable.Map[String, Double]()
    for (r <- 0 to runs; n <- names) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) best(n) = math.min(best.getOrElse(n, Double.MaxValue), s)
      sweep()
    }
    names.foreach(n => println(f"$n%-28s min=${best(n)}%6.2f s"))
    Runtime.getRuntime.halt(0)
  }
}

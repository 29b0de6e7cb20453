package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // as in util.Sessions.build: graft's functions, UTC, NANOS
      // parquet as long, the fork-free local filesystem, and Hadoop
      // confs shipped without their per-key source map
      .config(graft.util.Sessions.required)
      .getOrCreate()
    graft.util.Sessions.dropSourceMaps(s)
    s.sparkContext.setLogLevel("WARN")
    // The iterative CC/PageRank loops localCheckpoint() every round and
    // unpersist the previous round's blocks; each unpersist emits a WARN
    // ("RDD n was locally checkpointed ... can no longer be recomputed")
    // from the concrete RDD class. That is exactly the intended lifecycle
    // — the truncated lineage is never re-executed, the NEXT round's
    // checkpoint replaces it — so the flood only drowns real warnings in
    // the suite log. Silence that one category; everything else stays WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}

package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** The two engine hooks the benchmark needs that Spark keeps
  * package-private. Both leave the program under test untouched. */
object Internals {

  /** The same streaming file source with a per-trigger file cap:
    * `Sources.jsonDirReader` builds the source, and this only adds the
    * `maxFilesPerTrigger` read option to it, so the backlog drains in
    * bounded micro-batches. */
  def withMaxFilesPerTrigger(df: DataFrame, files: Int): DataFrame = {
    var found = 0
    val plan = df.queryExecution.analyzed.transform {
      case r: StreamingRelation =>
        found += 1
        r.copy(dataSource = r.dataSource.copy(
          options = r.dataSource.options + ("maxFilesPerTrigger" -> files.toString)))
    }
    require(found == 1, s"expected one streaming file source, found $found")
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }

  /** Block until every listener event posted so far has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Schema-defensive loader behavior: the testdata is driver-owned and
  * has been regenerated between rounds with different parquet
  * timestamp physical types (events.ts shipped as both TIMESTAMP(NANOS)
  * and TIMESTAMP(MICROS)); the loaders must absorb either without the
  * query surface noticing. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("orders/lineitem loaders convert a nanos-as-long timestamp column") {
    val tmp = Files.createTempDirectory("graft_tbl").toString
    // 2024-01-15T10:00:00.123456789 as NANOSECONDS since epoch — what
    // the reader surfaces for TIMESTAMP(NANOS) under the legacy conf
    val ns = 1705312800L * 1000000000L + 123456789L
    Seq((1L, 10L, "O", 99.0, ns, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = Tables.orders(spark, tmp)
    assert(out.schema("o_orderdate").dataType === TimestampNTZType)
    val v = out.select(date_format(col("o_orderdate"),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect().head.getString(0)
    // ns → µs truncation, matching DuckDB's timestamp_ns read
    assert(v === "2024-01-15 10:00:00.123456")
  }

  test("events loader converts a nanos-as-long ts column") {
    val tmp = Files.createTempDirectory("graft_tbl_ev").toString
    val ns = 1705312800L * 1000000000L + 987654321L
    Seq((1L, ns, 7L, "click", 1.5, """{"k":"v"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Tables.events(spark, tmp)
    assert(out.schema("ts").dataType === TimestampNTZType)
    val v = out.select(date_format(col("ts"),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect().head.getString(0)
    assert(v === "2024-01-15 10:00:00.987654")
  }

  test("loaders leave the session's SQL conf unchanged") {
    // A fresh session starts from the builder's settings alone, so a
    // loader that writes the conf shows here whichever specs ran first
    // on the shared session.
    val s = spark.newSession()
    val before = s.conf.getAll
    val loaders: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem, Tables.events,
      Tables.documents, Tables.embeddings)
    assert(loaders.size === Tables.names.size)
    loaders.foreach(load => assert(load(s, sf()).schema.nonEmpty))
    val after = s.conf.getAll
    // report only what changed, not the whole conf
    assert((after.toSet -- before.toSet) === Set.empty[(String, String)])
    assert(after.keySet === before.keySet)
  }

  test("orders loader leaves a readable timestamp column untouched") {
    val real = Tables.orders(spark, sf())
    // today's testdata is plain MICROS: the defensive branch must be a
    // no-op (no silent NTZ rewrite of a passing surface)
    assert(real.schema("o_orderdate").dataType.isInstanceOf[TimestampType.type] ||
      real.schema("o_orderdate").dataType === TimestampNTZType)
    assert(real.limit(5).count() === 5)
  }
}

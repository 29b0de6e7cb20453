package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's read-only parquet testdata (TESTDATA.md).
  * Every query takes `(spark, sfDir)` and resolves tables here so the
  * same code runs at any scale factor. At cluster scale these would be
  * catalog tables / partitioned parquet roots; the API shape is the same.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema + file-size memo per parquet path (round 14). This is
    * METADATA, not data: without it every `spark.read.parquet` call
    * runs a one-task schema-inference job (~20–40 ms), and a
    * 210-query suite at 2–3 table reads per query pays ~15–20 s of
    * pure footer re-reads per bench pass. A catalog table would carry
    * its schema; this memo is the catalog stand-in. Keyed on the full
    * path, so different SF dirs never cross; values are plain
    * StructType/Long (no session or RDD references — safe across the
    * bench's session rebuilds). */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.spark.sql.types.StructType, Long)]()

  /** Fan-out floor: tables below this size are so small (dimension
    * tables — region/nation/supplier/part at test SFs) that a
    * repartition exchange costs more than the single-task compute it
    * parallelizes. Above it, the one-row-group scan (unsplittable, one
    * task however many cores — guide §2.5) is round-robined to the
    * session's parallelism by [[graft.util.Scans.fanOut]], which stays
    * a no-op for any source already carrying enough splits (a real
    * corpus). Round 14 measurement: the sub-second tail of the suite
    * was dominated by exactly this — e.g. q_unpivot spent 950 ms of
    * its 1.3 s in ONE task expanding+aggregating the 600 k-row
    * lineitem scan. */
  private val FanOutMinBytes = 256L * 1024

  private def pathBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isDirectory) {
      val fs = f.listFiles()
      if (fs == null) 0L else fs.iterator.filter(_.isFile).map(_.length).sum
    } else f.length
  }

  /** Fan-out key per table: the high-cardinality primary key, hashed
    * by [[graft.util.Scans.fanOutBy]] — no round-robin pre-sort, retry
    * deterministic, and downstream joins/groupBys on the key reuse
    * the exchange.
    *
    * ONLY `embeddings` fans at load (round-14 measurement): its
    * consumers split cleanly into vector-heavy pipelines (LSH, exact
    * baselines — big wins from the fanned, vec_id-hashed cache) and
    * the Lloyd fits, which re-coalesce via
    * `Similarity.fitCoalesce`. A blanket fan of the OTHER tables was
    * measured NET-NEGATIVE: the ~110 light relational/text queries
    * each paid ~0.2–0.5 s of pinned 32-task waves for a scan whose
    * single-task compute was already cheap (62 queries regressed,
    * +17 s total, against wins the HEAVY consumers can get at their
    * own roots instead). Heavy consumers therefore fan at their
    * pipeline roots — TextPrep.docShingles, Dedup.sourceShingleFrame,
    * Dedup.editDistPairs, Multimodal's fixture root,
    * Similarity.bucketFrame, Windows.unpivotMetrics — all via the
    * same guarded fanOutBy, hash-keyed so per-key aggregations reuse
    * the exchange. */
  private val fanKey: Map[String, String] = Map("embeddings" -> "vec_id")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val (schema, bytes) = metaCache.computeIfAbsent(path,
      p => (spark.read.parquet(p).schema, pathBytes(p)))
    val df = spark.read.schema(schema).parquet(path)
    fanKey.get(name) match {
      case Some(k) if bytes >= FanOutMinBytes =>
        graft.util.Scans.fanOutBy(df, k)
      case _ => df
    }
  }

  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
    * 1–3) and plain TIMESTAMP(MICROS) (the regenerated round-5 data),
    * so branch on what the footer actually declares instead of assuming
    * either: NANOS is unreadable by Spark's vectorized reader, so it is
    * read as long (the session's `legacy.parquet.nanosAsLong`, set once
    * in [[graft.util.Sessions.build]]; loaders never write the
    * session's config) and converted to TIMESTAMP_NTZ at
    * microsecond precision (exactly DuckDB's behavior for
    * timestamp_ns); MICROS is read directly and only normalized to
    * TIMESTAMP_NTZ. Session TZ is pinned UTC either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampNTZType))
    }
  }
  /** Same NANOS insurance for the other timestamp columns: if a future
    * testdata regeneration ships them as TIMESTAMP(NANOS) (as events.ts
    * did in rounds 1–3), Spark's reader surfaces them as long (with the
    * legacy conf) and every downstream query would otherwise die on a
    * type mismatch. On today's MICROS data this is a no-op — the column
    * type is left EXACTLY as read; only the otherwise-fatal long case
    * converts (ns → µs truncation, matching DuckDB's timestamp_ns
    * read). */
  private def tsDefensive(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.expr(
          s"CAST(timestamp_micros($c DIV 1000) AS TIMESTAMP_NTZ)"))
      case _ => df
    }

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    tsDefensive(load(spark, sfDir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    tsDefensive(load(spark, sfDir, "lineitem"), "l_shipdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}

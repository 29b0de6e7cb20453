package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic (SQL window) functions, top-k, and summary rollups —
  * the relational surface the reference's capabilities imply
  * (SURVEY.md §2.4): latest-per-account, running totals, top-k,
  * warehouse summary tables.
  *
  * Scale notes: partitioned windows shuffle once on the partition key
  * and sort within partitions — at 100 TB the per-user partitions are
  * tiny and skew-free. Top-k uses sort+limit which Spark executes as
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * no full sort, no full shuffle).
  */
object Windows {

  /** Latest event per user (row_number over desc event time). */
  def latestPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** Per-user running sum by event time (decimal-stabilized: window
    * accumulation order differs across engines for doubles). */
  def runningSumPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"), col("user_id"), col("value"),
      sum(col("value").cast("decimal(18,2)")).over(w)
        .cast("double").as("running_value"),
      row_number().over(w).as("event_seq"))
      .orderBy("event_id")
  }

  /** Per-user bounded rolling-frame features: sum/avg/max over the
    * current + 3 preceding events by event time (ROWS BETWEEN frame).
    * The time-series feature-engineering shape: one shuffle on the
    * partition key, per-partition sort, O(frame) state per row. Sums
    * are decimal-stabilized so frame accumulation order can't differ
    * between engines; max is order-free. */
  def rollingStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    events.select(
      col("event_id"), col("user_id"), col("value"),
      count(lit(1)).over(w).as("roll_n"),
      sum(col("value").cast("decimal(18,2)")).over(w)
        .cast("double").as("roll_sum"),
      (sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
        count(lit(1)).over(w)).as("roll_avg"),
      max(col("value")).over(w).as("roll_max"))
      .orderBy("event_id")
  }

  val sqlRollingStats: String =
    """SELECT event_id, user_id, value,
       count(*) OVER w AS roll_n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / count(*) OVER w AS roll_avg,
       max(value) OVER w AS roll_max
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  val AnomalyHi = 1.5
  val AnomalyLo = 0.67

  /** Daily-volume anomaly report (statistical-process-control drift
    * detection, the observability check a production pipeline runs on
    * itself): per day, event count and stabilized value sum, the
    * trailing-7-day average count, today/trailing ratio, and an
    * anomaly flag when a full trailing week exists and the ratio
    * leaves [AnomalyLo, AnomalyHi].
    *
    * The trailing window is a RANGE frame over the calendar day (epoch
    * days, 7 PRECEDING..1 PRECEDING) — a ROWS frame over the daily
    * aggregate would silently span more than 7 calendar days whenever
    * a zero-event day is absent from the aggregate, skewing the
    * baseline on sparse data. trail_days counts OBSERVED days in the
    * calendar week, so the anomaly flag still requires a full week of
    * history.
    *
    * Determinism: every statistic is derived from exact integer sums
    * (no stddev — engines disagree on its summation formula); the only
    * IEEE operations are two final divisions, expression-identical in
    * the oracle. The unpartitioned window is NOT a scale bottleneck:
    * it runs over the per-day aggregate (365 rows/year), after the
    * corpus-sized groupBy has already reduced 100 TB to one row per
    * day. First days (trailing window empty) carry sentinel -1.0. */
  def volumeAnomaly(events: DataFrame): DataFrame = {
    val daily = events
      // NULL-ts rows would form a NULL day group whose final sort
      // placement differs across engines (Spark NULLS FIRST vs DuckDB
      // NULLS LAST) and whose NULL day_num has unpinned RANGE-frame
      // semantics — exclude them, as Aggregate's windowed aggs do
      .filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        Aggregate.moneySum(col("value")).as("sum_value"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy("day_num").rangeBetween(-7, -1)
    // NULL (not 0) divisor on history-free days: ANSI mode (Spark 4
    // default) errors on division by zero, and codegen subexpression
    // elimination can evaluate a shared division eagerly even under a
    // CASE guard — x/NULL = NULL is safe in every plan shape.
    val safeDays = when(col("trail_days") > 0, col("trail_days"))
    val trailingAvg = col("trail_n").cast("double") / safeDays
    val ratio = col("n_events").cast("double") / trailingAvg
    daily
      .withColumn("trail_n", coalesce(sum(col("n_events")).over(w), lit(0L)))
      .withColumn("trail_days", count(col("n_events")).over(w))
      .select(
        col("day"), col("n_events"), col("sum_value"), col("trail_days"),
        coalesce(trailingAvg, lit(-1.0)).as("trailing_avg"),
        coalesce(ratio, lit(-1.0)).as("ratio"),
        coalesce(
          when(col("trail_days") === 7, ratio > AnomalyHi || ratio < AnomalyLo),
          lit(false)).as("anomaly"))
      .orderBy("day")
  }

  val sqlVolumeAnomaly: String =
    s"""WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        t AS (
          SELECT day, n_events, sum_value,
            CAST(COALESCE(sum(n_events) OVER w, 0) AS BIGINT) AS trail_n,
            CAST(count(n_events) OVER w AS BIGINT) AS trail_days
          FROM daily
          WINDOW w AS (ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
            RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT day, n_events, sum_value, trail_days,
          COALESCE(CAST(trail_n AS DOUBLE) / NULLIF(trail_days, 0), -1.0)
            AS trailing_avg,
          COALESCE(CAST(n_events AS DOUBLE)
            / (CAST(trail_n AS DOUBLE) / NULLIF(trail_days, 0)), -1.0) AS ratio,
          COALESCE(CASE WHEN trail_days = 7 THEN
            (CAST(n_events AS DOUBLE)
               / (CAST(trail_n AS DOUBLE) / NULLIF(trail_days, 0)) > $AnomalyHi
             OR CAST(n_events AS DOUBLE)
               / (CAST(trail_n AS DOUBLE) / NULLIF(trail_days, 0)) < $AnomalyLo)
            END, FALSE) AS anomaly
        FROM t ORDER BY day"""

  /** Top-k rows by amount — executes as TakeOrderedAndProject. */
  def topKOrders(orders: DataFrame, k: Int): DataFrame =
    orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Warehouse summary rollup (S7's transaction_summary by year/month):
    * ROLLUP over (year, month) with count + stabilized sum. */
  def monthlyRollup(orders: DataFrame): DataFrame =
    orders
      .select(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        col("o_totalprice"))
      .rollup("o_year", "o_month")
      .agg(
        count(lit(1)).as("n_orders"),
        Aggregate.moneySum(col("o_totalprice")).as("total_amount"))
      .orderBy(col("o_year").asc_nulls_first, col("o_month").asc_nulls_first)

  /** Grouping-sets summary: CUBE over (status, priority) — every
    * combination plus margins, the full warehouse-summary lattice. */
  def statusPriorityCube(orders: DataFrame): DataFrame =
    orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        Aggregate.moneySum(col("o_totalprice")).as("total_amount"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Approximate distinct (HLL sketch) — the scale path for
    * cardinality: fixed-size state, no shuffle of distinct values.
    * Sketch estimates are engine-specific, so the oracle-checkable
    * output is the EXACT count plus a tolerance boolean: the row
    * hash-matches iff Spark's sketch lands within 5% of the exact
    * count the oracle computes (which emits literal TRUE). */
  def approxDistinctUsers(events: DataFrame): DataFrame = {
    // TWO aggregations joined on the group key, NOT one mixed
    // distinct+HLL agg (round 13): mixing countDistinct with
    // approx_count_distinct makes RewriteDistinctAggregates evaluate
    // the HLL at the first-level (event_type, user_id) grain — one
    // ~22 KB rsd-0.01 sketch buffer PER USER per task (at corpus
    // scale, per-user sketch state for a 5-row report; measured 2.3 s
    // at sf0.1, 15 s once the scan was fanned out). Split, each agg
    // keeps its natural grain: the exact side is a plain two-phase
    // distinct, the sketch side keeps #event_type buffers. HLL
    // registers are max-merged, so the estimate is independent of row
    // order/partitioning — values identical to the mixed form.
    // Null-safe join key: a NULL event_type group must survive.
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
    // rsd 1%: the default 5% rsd is a 1-sigma bound, so the 5%
    // tolerance check actually failed at sf0.1; at 1% rsd the
    // check is a ~5-sigma bound (sketch still fixed-size)
    val approx = events.groupBy(col("event_type").as("et"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"))
    exact.join(approx, col("event_type") <=> col("et"))
      .select(
        col("event_type"), col("n_users"), col("n_events"),
        (abs(col("approx") - col("n_users")) <=
          lit(0.05) * col("n_users")).as("approx_within_5pct"))
      .orderBy("event_type")
  }

  val sqlApproxDistinctUsers: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
       count(*) AS n_events, TRUE AS approx_within_5pct
       FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST"""

  /** approx_percentile next to the exact interpolated percentile, with
    * a tolerance boolean the oracle can check (same pattern as
    * approxDistinctUsers). The sketch (QuantileSummaries, bounded
    * size) is the scale path: exact percentile materializes every
    * group's values through the shuffle, the sketch never does. The
    * sketch bounds RANK error (±n/accuracy), so the value tolerance is
    * expressed as a fraction of each group's value range. */
  def approxQuantiles(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        expr("percentile(value, array(0.5D, 0.95D))").as("pct"),
        expr("approx_percentile(value, array(0.5D, 0.95D), 1000)").as("apct"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .select(col("event_type"),
        col("pct").getItem(0).as("p50"),
        col("pct").getItem(1).as("p95"),
        // coalesce TRUE: an all-NULL-value group makes every sketch and
        // percentile NULL, so the conjunction is NULL — the oracle emits
        // literal TRUE, and "within tolerance" is vacuously true when
        // there is nothing to compare
        coalesce(
          (abs(col("apct").getItem(0) - col("pct").getItem(0)) <=
            lit(0.05) * (col("max_v") - col("min_v"))) &&
            (abs(col("apct").getItem(1) - col("pct").getItem(1)) <=
              lit(0.05) * (col("max_v") - col("min_v"))),
          lit(true)).as("approx_within_tol"))
      .orderBy("event_type")

  val sqlApproxQuantiles: String =
    """SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       TRUE AS approx_within_tol
       FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST"""

  /** Pivot: monthly event counts spread into one column per event
    * type. Explicit pivot values — no extra distinct-values job, and
    * the output schema is static (required at 100 TB: an inferred
    * pivot would scan the corpus twice and could explode the column
    * count). Missing combinations are 0, not null, to match the
    * conditional-aggregation oracle. */
  val PivotTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  def monthlyTypePivot(events: DataFrame): DataFrame = {
    val pivoted = events
      .filter(col("ts").isNotNull) // NULL month group sorts differently per engine
      .select(year(col("ts")).as("y"), month(col("ts")).as("m"), col("event_type"))
      .groupBy("y", "m")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
    pivoted.select(
      col("y") +: col("m") +:
        PivotTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("y", "m")
  }

  val sqlMonthlyTypePivot: String = {
    val cols = PivotTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS n_$t").mkString(", ")
    s"""SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m, $cols
       FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** GE-style column profile per group: counts, bounds, stabilized
    * mean, exact interpolated median/p95. Exact percentiles sort
    * within groups (one shuffle); the approx_percentile sketch is the
    * 100 TB path when exactness isn't required — profiled here
    * exactly because the oracle can check exact values. */
  def valueProfile(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        (Aggregate.moneySum(col("value")) / count(lit(1))).as("avg_v"),
        expr("percentile(value, array(0.5D, 0.95D))").as("pct"))
      .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
        col("avg_v"),
        col("pct").getItem(0).as("p50"),
        col("pct").getItem(1).as("p95"))
      .orderBy("event_type")

  val sqlValueProfile: String =
    """SELECT event_type, count(*) AS n, min(value) AS min_v,
       max(value) AS max_v,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95
       FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST"""

  /** Distinct + approximate distinct side by side (scale path:
    * approx_count_distinct is a fixed-size HLL sketch, no shuffle of
    * distinct values). Oracle covers the exact columns only. */
  def distinctUsers(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Grouped top-k via the bounded-heap top_k_by aggregate on a second
    * table (orders): the generic "best k per group" — only k rows per
    * group leave each map partition vs a Window's full shuffle-sort of
    * the fact table. Tie order (score desc, id asc) matches the
    * oracle's row_number exactly. */
  def statusTopOrders(orders: DataFrame, k: Int = 3): DataFrame = {
    orders.groupBy("o_orderstatus")
      .agg(call_function("top_k_by",
        col("o_totalprice"), col("o_orderkey"), lit(k)).as("top"))
      .select(col("o_orderstatus"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_orderstatus"), (col("pos") + 1).cast("int").as("rnk"),
        col("e.id").as("o_orderkey"), col("e.score").as("o_totalprice"))
      .orderBy("o_orderstatus", "rnk")
  }

  def sqlStatusTopOrders(k: Int = 3): String =
    s"""SELECT o_orderstatus, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice
        FROM (
          SELECT o_orderstatus, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_orderstatus
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
          FROM orders)
        WHERE rnk <= $k ORDER BY o_orderstatus, rnk"""

  /** percent_rank + cume_dist of each order within its status group —
    * the relative-standing features behind "top decile of spend"
    * segmentation. One shuffle on the partition key, sort within;
    * both ranks are (exact integer) / (exact integer) in double, so
    * results are partition-order-independent. */
  def statusPercentRank(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  val sqlStatusPercentRank: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
       FROM orders
       WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
       ORDER BY o_orderkey"""

  val PathLen = 8
  val TopPaths = 20

  /** Top event-type paths: each user's first PathLen events (by time)
    * concatenated into a path string, counted across users, top
    * TopPaths reported — the navigation-pattern / funnel-discovery
    * table. The per-user sequence is one grouped sort_array over
    * (ts, event_id, type) structs (deterministic: the pair
    * (ts, event_id) is unique), so the heavy shuffle is user-keyed and
    * uniform; the path count is a counters-only second aggregate. */
  def topEventPaths(events: DataFrame): DataFrame = {
    val paths = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(
        transform(slice(col("evs"), 1, PathLen), e => e.getField("event_type")),
        ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
    // bounded top-k rank: distinct-path cardinality grows with the
    // corpus, so never single-partition it under a global window
    graft.util.TopN.rankedTopN(paths,
        struct((-col("n_users")).as("nk"), col("path").as("pk")), TopPaths, "rnk")
      .select("rnk", "path", "n_users")
      .orderBy("rnk")
  }

  val sqlTopEventPaths: String =
    s"""WITH p AS (
          SELECT user_id,
            array_to_string((array_agg(event_type ORDER BY ts, event_id))[1:$PathLen], '>') AS path
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
          GROUP BY user_id),
        g AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1),
        r AS (SELECT path, n_users,
            CAST(row_number() OVER (ORDER BY n_users DESC, path ASC) AS INTEGER) AS rnk
          FROM g)
        SELECT rnk, path, n_users FROM r WHERE rnk <= $TopPaths ORDER BY rnk"""

  /** Per-type z-score standardization of the value column — the
    * feature-engineering normalize pass. Mean and stddev come from
    * EXACT integer power sums in the cents domain (one counters-only
    * aggregate, broadcast back onto a map-only projection), so unlike
    * stddev_pop() the statistics are partition-order-independent and
    * the per-row z-score is one fixed double expression tree —
    * bit-identical across engines. */
  def zscoreByType(events: DataFrame): DataFrame = {
    val stats = events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("x"))
      .groupBy("event_type")
      // power sums in DECIMAL(38): the per-row product x² (≤ ~1e10 at
      // cents scale) fits a long, but the SUM wraps silently past ~3e9
      // rows in non-ANSI Spark while DuckDB promotes to HUGEINT — the
      // Linkage n·(n−1) defect class. Decimal keeps both engines exact;
      // the formula below casts the exact integer to double identically.
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
    events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), {
        // NULLIF: zero-variance group → NULL z-score, not an ANSI error
        val std = sqrt(col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) / col("n").cast("double")
        ((floor(col("value") * 100).cast("double") -
          col("sx").cast("double") / col("n").cast("double")) /
          when(std =!= 0.0, std)).as("zscore")
      })
      .orderBy("event_id")
  }

  val sqlZscoreByType: String =
    """WITH s AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(floor(value * 100) AS BIGINT)) AS sx,
           sum(CAST(floor(value * 100) AS BIGINT) * CAST(floor(value * 100) AS BIGINT)) AS sxx
         FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1)
       SELECT event_id, event_type, value,
         (CAST(floor(value * 100) AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 0) AS zscore
       FROM events JOIN s USING (event_type)
       WHERE value IS NOT NULL
       ORDER BY event_id"""

  /** Tukey-fence (IQR) outlier report per event type: exact
    * interpolated quartiles (the oracle-checkable baseline;
    * approx_percentile is the sketch path, same trade as
    * q_approx_quantiles), fences at 1.5·IQR, and the outlier count —
    * the data-quality "how many points are suspect" table. The fence
    * arithmetic is one fixed double expression tree over two exact
    * percentiles, identical in both engines; the quartile computation
    * is one grouped sort, the recount one broadcast-join scan. */
  def iqrOutliers(events: DataFrame): DataFrame = {
    val stats = events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.25D, 0.75D))").as("q"))
      .select(col("event_type"),
        col("q").getItem(0).as("q1"), col("q").getItem(1).as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(first(col("q1")).as("q1"), first(col("q3")).as("q3"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        count(lit(1)).as("n"),
        count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  val sqlIqrOutliers: String =
    """WITH s AS (
         SELECT event_type,
           quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
         FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1),
       f AS (
         SELECT event_type, q1, q3,
           q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
         FROM s)
       SELECT event_type, q1, q3, lo, hi, count(*) AS n,
         count(CASE WHEN value < lo OR value > hi THEN 1 END) AS n_outliers
       FROM events JOIN f USING (event_type)
       WHERE value IS NOT NULL
       GROUP BY 1, 2, 3, 4, 5 ORDER BY 1"""

  val ZBits = 16

  /** Z-order (Morton) clustering key over (user_id, value-cents):
    * interleaves the low ZBits bits of each dimension so rows close in
    * BOTH dimensions get close keys. The data-layout operator behind
    * multi-dimensional file skipping: writing the table
    * repartitionByRange(zval) + sortWithinPartitions(zval) gives every
    * parquet file a tight min/max envelope in both columns, so scans
    * filtered on either dimension prune files (the Delta/Iceberg
    * OPTIMIZE ZORDER BY shape, built from pure bit arithmetic). The
    * key itself is row-local — zero shuffle to compute. */
  def zorderKey(events: DataFrame): DataFrame = {
    val x = pmod(col("user_id"), lit(1L << ZBits)).cast("long")
    val y = pmod(floor(col("value") * 100).cast("long"), lit(1L << ZBits))
    val z = (0 until ZBits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
    // value > 0 keeps the cents domain non-negative: Spark's pmod and
    // SQL's % agree only for non-negative dividends. user_id has no
    // such filter, so the twin double-mods it into pmod's [0, 2^k)
    // range — a negative id must get the same bucket on both engines.
    events
      .filter(col("user_id").isNotNull && col("value") > 0)
      .select(col("event_id"), x.as("xd"), y.as("yd"), z.as("zval"))
      .orderBy("event_id")
  }

  val sqlZorderKey: String = {
    val terms = (0 until ZBits).map { i =>
      s"((xd >> $i) & 1) * ${1L << (2 * i)} + ((yd >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH d AS (
          SELECT event_id,
            CAST(((user_id % ${1L << ZBits}) + ${1L << ZBits})
              % ${1L << ZBits} AS BIGINT) AS xd,
            CAST(CAST(floor(value * 100) AS BIGINT) % ${1L << ZBits} AS BIGINT) AS yd
          FROM events WHERE user_id IS NOT NULL AND value > 0)
        SELECT event_id, xd, yd, CAST($terms AS BIGINT) AS zval
        FROM d ORDER BY event_id"""
  }

  /** Deterministic Pearson correlation (value vs hour-of-day) per event
    * type, from EXACT integer power sums: value is floored to cents
    * (exact bigint), the five sums n/Σx/Σy/Σx²/Σy²/Σxy accumulate in
    * bigint (order-independent — the property the built-in corr()
    * lacks: its streaming double accumulation makes the result depend
    * on partition merge order), and only the final closed form runs in
    * double — one fixed expression tree, bit-identical in both
    * engines. One partial+final aggregate, counters-only shuffle.
    * Power sums accumulate in DECIMAL(38) (the per-row products fit a
    * long, the corpus-scale SUM does not — non-ANSI Spark would wrap
    * silently past ~4·10^8 rows at max cents² while DuckDB promotes to
    * HUGEINT); both engines cast the same exact integer to double. */
  def corrValueHour(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .select(col("event_type"), col("n"), {
        // NULLIF(denom, 0): a zero-variance group yields NULL in both
        // engines instead of an ANSI divide-by-zero error.
        val denom =
          sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
          sqrt(col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))
        ((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          when(denom =!= 0.0, denom)).as("pearson_r")
      })
      .orderBy("event_type")

  val sqlCorrValueHour: String =
    """WITH s AS (
         SELECT event_type,
           CAST(floor(value * 100) AS BIGINT) AS x,
           CAST(hour(ts) AS BIGINT) AS y
         FROM events
         WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
       g AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy,
           sum(x * y) AS sxy
         FROM s GROUP BY 1)
       SELECT event_type, n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0) AS pearson_r
       FROM g ORDER BY event_type"""

  /** Mergeable-sketch distinct counting (Spark 4 DataSketches HLL):
    * one fixed-size sketch per day, UNION'd to the corpus estimate
    * without ever rescanning raw data — the warehouse rollup pattern
    * where daily partitions keep sketches and any date-range distinct
    * count is a sketch merge. The oracle cannot evaluate HLL bytes,
    * so (exactly like the approx_count_distinct gate) it verifies the
    * exact companions and the tolerance BOOLEANS: each estimate must
    * sit within 10 % of exact (default lgConfigK=12 ⇒ ~1.6 % stderr,
    * so the margin is generous and the gate deterministic). */
  def hllDailyDistinct(events: DataFrame): DataFrame = {
    // NULL-ts rows would make a NULL day scope whose sort placement
    // differs across engines — exclude, as volumeAnomaly does
    val e = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
      // one row per day; feeds both the day rows and the union.
      // Caller-released lifecycle (same as the ANN builders): the
      // returned plan reads the cache lazily; Bench/Verify clearCache()
      // after each query releases it.
      .cache()
    val dayRows = daily.select(
      concat(lit("day:"), col("day").cast("string")).as("scope"),
      col("n_exact"),
      (abs(expr("hll_sketch_estimate(sk)").cast("double") -
        col("n_exact").cast("double")) <=
        lit(0.1) * col("n_exact").cast("double")).as("within_tol"))
    val total = daily
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").cast("double").as("est"))
      .crossJoin(broadcast(e.agg(countDistinct(col("user_id")).as("n_exact"))))
      .select(lit("total").as("scope"), col("n_exact"),
        (abs(col("est") - col("n_exact").cast("double")) <=
          lit(0.1) * col("n_exact").cast("double")).as("within_tol"))
    dayRows.union(total).orderBy("scope")
  }

  val sqlHllDailyDistinct: String =
    """WITH e AS (
         SELECT CAST(ts AS DATE) AS day, user_id FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       d AS (
         SELECT 'day:' || CAST(day AS VARCHAR) AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         FROM e GROUP BY 1),
       t AS (
         SELECT 'total' AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         FROM e)
       SELECT scope, n_exact, TRUE AS within_tol
       FROM (SELECT * FROM d UNION ALL SELECT * FROM t)
       ORDER BY scope"""

  /** Robust outlier report: median absolute deviation per event type
    * (exact interpolated medians, the same percentile/quantile_cont
    * agreement [[valueProfile]] relies on), flagging |x − med| >
    * 3·MAD. Three corpus passes by construction (MAD needs the median
    * joined back, the flag needs the MAD joined back) — each one is a
    * broadcast join of a per-type row, so nothing shuffles but the
    * grouped aggregates. */
  def madOutliers(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .select(col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = dev.groupBy("event_type")
      .agg(min(col("med")).as("med"), expr("percentile(adev, 0.5D)").as("mad"),
        count(col("value")).as("n"))
    dev.select(col("event_type"), col("adev"))
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("n")).as("n"), min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"),
        // guard n = 0 (a group whose values are ALL NULL still has a
        // row here, with count(value) = 0): 0/0 is NaN in Spark but
        // NULL in DuckDB — pin NULL on both engines
        when(col("n") > 0,
          col("n_outliers").cast("double") / col("n").cast("double"))
          .as("outlier_rate"))
      .orderBy("event_type")
  }

  val sqlMadOutliers: String =
    """WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY 1),
       dev AS (
         SELECT e.event_type, e.value, med, abs(e.value - med) AS adev
         FROM events e JOIN med USING (event_type)),
       m AS (
         SELECT event_type, min(med) AS med, quantile_cont(adev, 0.5) AS mad,
           CAST(count(value) AS BIGINT) AS n
         FROM dev GROUP BY 1),
       g AS (
         SELECT dev.event_type, min(n) AS n, min(m.med) AS med,
           min(mad) AS mad,
           CAST(sum(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM dev JOIN m USING (event_type) GROUP BY 1)
       SELECT event_type, n, med, mad, n_outliers,
         CASE WHEN n > 0 THEN
           CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE) END AS outlier_rate
       FROM g ORDER BY event_type"""

  /** Winsorization: clamp values to the exact [p05, p95] band per
    * event type and report how much mass moved — the outlier-taming
    * preprocessing step that keeps extreme rows (unlike trimming).
    * Two grouped passes (cutpoints, then clamp+aggregate) joined by a
    * per-type broadcast; sums decimal-stabilized. The interpolated
    * cutpoints are quantized to cents with EXPLICIT floor(x·100+0.5)
    * (the int8-quantization trick) before any use: an interpolated
    * percentile can land exactly on a representable .xx5 tie, where
    * Spark's decimal cast rounds half-up and DuckDB's half-to-even —
    * quantizing first leaves no tie for the engines to disagree on.
    * Completes the robust-preprocessing family next to
    * [[zscoreByType]], [[madOutliers]], and [[iqrOutliers]]. */
  def winsorize(events: DataFrame): DataFrame = {
    // NULL values out up front: least/greatest SKIP nulls in both
    // engines, so an unfiltered null value would fabricate w = hi and
    // un-reconcile the moved-mass report
    val e = events.filter(col("value").isNotNull)
    val cuts = e.groupBy("event_type")
      .agg(expr("percentile(value, array(0.05D, 0.95D))").as("pct"))
      .select(col("event_type"),
        (floor(col("pct").getItem(0) * 100.0 + 0.5) / 100.0).as("lo"),
        (floor(col("pct").getItem(1) * 100.0 + 0.5) / 100.0).as("hi"))
    e.join(broadcast(cuts), "event_type")
      .select(col("event_type"), col("value"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("value"))).as("w"))
      .groupBy("event_type")
      .agg(count(col("value")).as("n"),
        min(col("lo")).as("p05"), min(col("hi")).as("p95"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        Aggregate.moneySum(col("value")).as("sum_raw"),
        Aggregate.moneySum(col("w")).as("sum_winsorized"))
      .orderBy("event_type")
  }

  val sqlWinsorize: String =
    """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
       cuts AS (
         SELECT event_type,
           floor(quantile_cont(value, 0.05) * 100.0 + 0.5) / 100.0 AS lo,
           floor(quantile_cont(value, 0.95) * 100.0 + 0.5) / 100.0 AS hi
         FROM ev GROUP BY 1),
       j AS (
         SELECT e.event_type, e.value, lo, hi,
           greatest(lo, least(hi, e.value)) AS w
         FROM ev e JOIN cuts USING (event_type))
       SELECT event_type, CAST(count(value) AS BIGINT) AS n,
         min(lo) AS p05, min(hi) AS p95,
         CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
         CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw,
         CAST(sum(CAST(w AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized
       FROM j GROUP BY 1 ORDER BY 1"""

  val SkewTopK = 20

  /** Join-key skew diagnosis: the top-[[SkewTopK]] heaviest user_id
    * keys with their share of all rows and their multiple of the
    * average key load — the report that decides whether a key needs
    * salting ([[graft.pipeline.Enrich.saltedJoin]]) or AQE skew
    * handling before a shuffle melts one reducer. One hash aggregate
    * over the key, the bounded-heap global top-k (no unpartitioned
    * window), and a single-row totals broadcast. */
  def skewReport(events: DataFrame, k: Int = SkewTopK): DataFrame = {
    // null keys never participate in an equi-join; excluding them also
    // sidesteps the engines' opposite NULL sort placement on ties
    val counts = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_keys"))
    graft.util.TopN.rankedTopN(
        counts, struct((-col("n_rows")).as("nk"), col("user_id").as("uk")),
        k, "rnk")
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("user_id"), col("n_rows"),
        (col("n_rows").cast("double") / col("total").cast("double")).as("share"),
        (col("n_rows").cast("double") * col("n_keys").cast("double") /
          col("total").cast("double")).as("x_avg"))
      .orderBy("rnk")
  }

  def sqlSkewReport(k: Int = SkewTopK): String =
    s"""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n_keys FROM c),
        r AS (SELECT user_id, n_rows,
            CAST(row_number() OVER (ORDER BY n_rows DESC, user_id ASC) AS INTEGER) AS rnk
          FROM c)
        SELECT rnk, user_id, n_rows,
          CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share,
          CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS x_avg
        FROM r CROSS JOIN t WHERE rnk <= $k ORDER BY rnk"""

  /** Multi-grain aggregation in ONE pass with GROUPING SETS: per
    * (type, day), per type, per day, and grand total — four report
    * grains from a single shuffle instead of four scans + a union
    * (what Catalyst expands to an Expand node feeding one aggregate).
    * Per-set grouping() flags, not grouping_id, so no cross-engine
    * bit-order assumption; null grain keys sort NULLS FIRST pinned on
    * both sides. */
  def multiGrainAgg(events: DataFrame): DataFrame = {
    val e = events.filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
    e.groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
          Seq(col("day")), Seq()),
        col("event_type"), col("day"))
      .agg(grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("day")).cast("int").as("g_day"),
        count(lit(1)).as("n_events"),
        Aggregate.moneySum(col("value")).as("sum_value"))
      .select(col("g_type"), col("g_day"), col("event_type"), col("day"),
        col("n_events"), col("sum_value"))
      .orderBy(col("g_type"), col("g_day"),
        col("event_type").asc_nulls_first, col("day").asc_nulls_first)
  }

  val sqlMultiGrainAgg: String =
    """WITH e AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
         FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL)
       SELECT CAST(grouping(event_type) AS INTEGER) AS g_type,
         CAST(grouping(day) AS INTEGER) AS g_day,
         event_type, day,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM e
       GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
       ORDER BY g_type, g_day, event_type NULLS FIRST, day NULLS FIRST"""

  /** Wide-to-long UNPIVOT of the lineitem money columns — the melt
    * every metrics store needs (one (metric, value) stream from N
    * metric columns, then a single grouped aggregate instead of N
    * column-wise ones). Spark's native unpivot is a zero-shuffle
    * Expand; the oracle expresses the same relation as a UNION ALL —
    * same rows, engine-preferred syntax on each side. */
  def unpivotMetrics(lineitem: DataFrame): DataFrame = {
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // round 14: the 4x Expand + decimal aggregate over the unsplittable
    // single-row-group scan ran in ONE task (~950 ms of q_unpivot's
    // 1.3 s) — fan the scan first (guarded no-op at corpus scale)
    graft.util.Scans.fanOutBy(lineitem, "l_orderkey")
      .unpivot(Array(col("l_orderkey")), metrics.map(col).toArray, "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n_rows"),
        Aggregate.moneySum(col("val")).as("sum_value"),
        (Aggregate.moneySum(col("val")) / count(lit(1))).as("avg_value"))
      .orderBy("metric")
  }

  val sqlUnpivotMetrics: String =
    """WITH m AS (
         SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
         UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL SELECT 'l_discount', l_discount FROM lineitem
         UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
       SELECT metric, count(*) AS n_rows,
         CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
       FROM m GROUP BY 1 ORDER BY 1"""

  /** Mergeable quantile rollup with KLL sketches (DataSketches, Spark 4
    * built-in): one KLL sketch of `value` per DAY, daily p50/p95
    * estimates from each sketch, and a whole-range estimate from
    * `kll_merge_agg` over the daily sketches — percentiles for ANY
    * date range from per-partition sketches, never a re-scan or a
    * global sort (exact percentiles need the full dataset on one
    * axis; at 100 TB the one-pass sketch + KB-sized merges is the
    * only viable percentile path, the quantile analog of the HLL
    * distinct rollup).
    *
    * KLL compaction is randomized, so estimates are validated by RANK
    * tolerance, not value equality: the exact rank of each estimated
    * quantile (one conditional count per scope) must sit within ±4 pp
    * of the target — several times KLL's ~1.65% 99%-confidence rank
    * error at default k, so the boolean is stable across runs. Oracle
    * pattern as q_hll_union: exact row counts + TRUE booleans. */
  def kllValueQuantiles(events: DataFrame): DataFrame = {
    // ts filtered too: a NULL day would make a NULL scope that the
    // equi-join below drops on the Spark side while DuckDB's
    // NULL-skipping concat() would emit a phantom 'day:' scope row
    val e = events.filter(col("value").isNotNull && col("ts").isNotNull)
      .select(to_date(col("ts")).as("day"), col("value"))
    val daily = e.groupBy("day")
      .agg(expr("kll_sketch_agg_double(value)").as("sk"),
        count(lit(1)).as("n_rows"))
      // one row per day; feeds the day rows and the merge.
      // Caller-released lifecycle: Bench/Verify clearCache() releases it.
      .cache()
    val est = daily.select(
        concat(lit("day:"), col("day").cast("string")).as("scope"),
        col("n_rows"),
        expr("kll_sketch_get_quantile_double(sk, 0.5)").as("e50"),
        expr("kll_sketch_get_quantile_double(sk, 0.95)").as("e95"))
      .union(daily
        .agg(expr("kll_merge_agg_double(sk)").as("sk"),
          sum(col("n_rows")).as("n_rows"))
        .select(lit("total").as("scope"), col("n_rows"),
          expr("kll_sketch_get_quantile_double(sk, 0.5)").as("e50"),
          expr("kll_sketch_get_quantile_double(sk, 0.95)").as("e95")))
    val scoped = e.select(concat(lit("day:"), col("day").cast("string")).as("scope"),
        col("value"))
      .union(e.select(lit("total").as("scope"), col("value")))
    scoped.join(broadcast(est), "scope")
      .groupBy(col("scope"), col("n_rows"))
      .agg(
        (sum(when(col("value") <= col("e50"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("r50"),
        (sum(when(col("value") <= col("e95"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("r95"))
      .select(col("scope"), col("n_rows"),
        // upper bounds widen by 1/n: with n values the inclusive
        // quantile's achievable rank is quantized to multiples of 1/n
        // (a 19-row day's p95 is necessarily its max, rank 1.0), so a
        // fixed band would fail small scopes with a CORRECT estimate
        (col("r50") >= 0.46 &&
          col("r50") <= lit(0.54) + lit(1.0) / col("n_rows").cast("double"))
          .as("p50_rank_ok"),
        (col("r95") >= 0.91 &&
          col("r95") <= least(lit(1.0),
            lit(0.99) + lit(1.0) / col("n_rows").cast("double")))
          .as("p95_rank_ok"))
      .orderBy("scope")
  }

  val sqlKllValueQuantiles: String =
    """WITH e AS (
         SELECT CAST(ts AS DATE) AS day, value FROM events
         WHERE value IS NOT NULL AND ts IS NOT NULL),
       d AS (
         SELECT 'day:' || CAST(day AS VARCHAR) AS scope,
           CAST(count(*) AS BIGINT) AS n_rows
         FROM e GROUP BY 1),
       t AS (SELECT 'total' AS scope, CAST(count(*) AS BIGINT) AS n_rows FROM e)
       SELECT scope, n_rows, TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
       FROM (SELECT * FROM d UNION ALL SELECT * FROM t)
       ORDER BY scope"""

  /** Per-segment trend detection: ordinary-least-squares slope and
    * intercept of DAILY TOTAL VALUE over the day index, one regression
    * per event type — "is purchase volume growing and how fast", the
    * report behind every burn-up chart. Same determinism machinery as
    * the CUPED readout: x is an exact integer day index (datediff from
    * the segment's own first day), y is the decimal daily sum, all
    * five power sums are exact (BIGINT·decimal products), and
    * slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) is evaluated as one
    * identical IEEE expression in both engines. Scale shape: the
    * corpus shuffle is the (type, day) aggregate; the regression runs
    * on the days-per-type frame (rows = #days), a partitioned
    * aggregate, no window, no broadcast. Degenerate one-day segments
    * yield NULL slope (zero x-variance), pinned identically. */
  /** (event_type, day, x, y): per-type daily decimal totals with the
    * day index x relative to the segment's own first day — the ONE
    * shared base of [[trendSlopes]] and [[trendResiduals]] (a filter
    * or cast fixed in one must reach the other; they previously
    * carried four hand-synced copies of this construction). */
  private def indexedDaily(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("y"))
    daily
      .withColumn("x0", min(col("day")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .select(col("event_type"), col("day"),
        datediff(col("day"), col("x0")).cast("long").as("x"), col("y"))
  }

  /** The six exact power sums per event type over [[indexedDaily]];
    * shared by the fit and the residual audit. */
  private def trendPowerSums(indexed: DataFrame): DataFrame =
    indexed.groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("x").cast("decimal(18,0)") * col("y")).cast("double").as("sxy"),
        sum(col("y") * col("y")).cast("double").as("syy"))

  def trendSlopes(events: DataFrame): DataFrame = {
    trendPowerSums(indexedDaily(events))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0.0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))
          .as("slope_per_day"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0.0, lit(null))
          .otherwise((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
          .as("intercept"))
      .orderBy("event_type")
  }

  /** DuckDB twin of [[indexedDaily]] + [[trendPowerSums]]: CTEs
    * `daily`, `idx`, `s` — one definition for both trend oracles. */
  private val sqlTrendBaseCtes: String =
    """daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
         FROM events
         WHERE value IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1, 2),
       idx AS (
         SELECT event_type, day,
           CAST(date_diff('day', min(day) OVER (PARTITION BY event_type), day)
             AS BIGINT) AS x,
           y
         FROM daily),
       s AS (
         SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * x) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
           CAST(sum(y * y) AS DOUBLE) AS syy
         FROM idx GROUP BY 1)"""

  val sqlTrendSlopes: String =
    s"""WITH $sqlTrendBaseCtes
       SELECT event_type, CAST(n AS BIGINT) AS n_days,
         CASE WHEN n * sxx - sx * sx = 0.0 THEN NULL
           ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope_per_day,
         CASE WHEN n * sxx - sx * sx = 0.0 THEN NULL
           ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
           END AS intercept
       FROM s ORDER BY event_type"""

  /** Trend-ADJUSTED anomaly detection: flag days whose total deviates
    * more than 2σ from their event type's own OLS trend line — the
    * upgrade over plain z-scores (q_volume_anomaly) for metrics with
    * drift, where a fixed-mean fence flags every late day of a
    * growing series. The residual σ comes from the ALGEBRAIC identity
    * SSE = Σyy − intercept·Σy − slope·Σxy, evaluated on the same
    * exact power sums as the fit — never a second pass accumulating
    * squared residual doubles (order-nondeterministic). Per-day
    * fitted/residual values are then single pinned IEEE expressions.
    * Scale shape: identical to trendSlopes plus one broadcast of the
    * per-type model row back onto the day frame. */
  def trendResiduals(events: DataFrame): DataFrame = {
    val indexed = indexedDaily(events)
    val model = trendPowerSums(indexed)
      .filter(col("n") * col("sxx") - col("sx") * col("sx") =!= 0.0 &&
        col("n") > 2.0)
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("n"))
      .withColumn("sigma",
        sqrt(greatest(
          col("syy") - col("intercept") * col("sy") - col("slope") * col("sxy"),
          lit(0.0)) / (col("n") - 2.0)))
      .select(col("event_type"), col("slope"), col("intercept"), col("sigma"))
    indexed.join(broadcast(model), "event_type")
      .withColumn("fitted", col("intercept") + col("slope") * col("x").cast("double"))
      .withColumn("residual", col("y").cast("double") - col("fitted"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("y").cast("double").as("daily_total"),
        col("fitted"), col("residual"),
        (col("sigma") > 0.0 && abs(col("residual")) > lit(2.0) * col("sigma"))
          .as("is_outlier"))
      .orderBy("event_type", "day")
  }

  val sqlTrendResiduals: String =
    s"""WITH $sqlTrendBaseCtes,
       m AS (
         SELECT event_type, n, sx, sy, sxy, syy,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
         FROM s WHERE n * sxx - sx * sx <> 0.0 AND n > 2.0),
       m2 AS (
         SELECT event_type, n, sy, sxy, syy, slope,
           (sy - slope * sx) / n AS intercept
         FROM m),
       m3 AS (
         SELECT event_type, slope, intercept,
           sqrt(greatest(syy - intercept * sy - slope * sxy, 0.0) / (n - 2.0))
             AS sigma
         FROM m2)
       SELECT i.event_type,
         strftime(i.day, '%Y-%m-%d') AS day,
         CAST(i.y AS DOUBLE) AS daily_total,
         m3.intercept + m3.slope * CAST(i.x AS DOUBLE) AS fitted,
         CAST(i.y AS DOUBLE) - (m3.intercept + m3.slope * CAST(i.x AS DOUBLE))
           AS residual,
         m3.sigma > 0.0 AND
           abs(CAST(i.y AS DOUBLE)
             - (m3.intercept + m3.slope * CAST(i.x AS DOUBLE)))
           > 2.0 * m3.sigma AS is_outlier
       FROM idx i JOIN m3 USING (event_type)
       ORDER BY event_type, day"""

  /** Pre/post split for the CUPED experiment readout (events span one
    * month; first half is the pre-experiment covariate window). */
  val CupedSplit = "2024-01-16"

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    * standard experimentation trick): per experiment arm, the raw
    * post-period mean and the covariate-adjusted mean
    * ȳ_a − θ·(x̄_a − x̄), where x is the user's PRE-period metric,
    * θ = cov(x,y)/var(x) pooled, and the summary reports the achieved
    * variance reduction 1 − (var(y) − cov²/var(x))/var(y) — computed
    * ALGEBRAICALLY from exact power sums, never from a second pass
    * over adjusted doubles (whose accumulation order would be
    * nondeterministic).
    *
    * Determinism: every sum (Sx, Sy, Sxx, Sxy, Syy) is exact DECIMAL
    * arithmetic (2-scale inputs → 4-scale products, no rounding), cast
    * to double only once at the end; θ and the means then derive from
    * identical single IEEE expressions on identical inputs in both
    * engines. Scale shape: one per-user aggregate (shuffle on
    * user_id), one 2-row arm aggregate, one single-row pooled frame
    * broadcast onto it. Arm assignment is the user-id hash the
    * experimentation platform would persist. */
  def cupedReadout(events: DataFrame): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val zero = lit(0).cast("decimal(18,2)")
    val split = lit(CupedSplit).cast("timestamp")
    val perUser = events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("ts") < split, dec(col("value")))), zero)
          .cast("decimal(18,2)").as("x"),
        coalesce(sum(when(col("ts") >= split, dec(col("value")))), zero)
          .cast("decimal(18,2)").as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val pooled = perUser.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("y") * col("y")).cast("double").as("syy"))
    val arms = perUser.groupBy("arm").agg(
      count(lit(1)).cast("double").as("n_a"),
      sum(col("x")).cast("double").as("sx_a"),
      sum(col("y")).cast("double").as("sy_a"))
    // Centered moments once, then every division GUARDED: a drop that
    // falls entirely on one side of the split makes vxx (or vyy)
    // exactly 0.00, and an unguarded double division then emits IEEE
    // inf/NaN — whose formatting and hashing are NOT cross-engine
    // stable. Degenerate variance yields NULL statistics instead
    // (matching the twin's CASE guards), like every other ratio here.
    arms.crossJoin(broadcast(pooled))
      .withColumn("vxx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("vxy", col("sxy") - col("sx") * col("sy") / col("n"))
      .withColumn("vyy", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("theta", when(col("vxx") =!= 0.0, col("vxy") / col("vxx")))
      .select(
        col("arm"),
        col("n_a").cast("long").as("n_users"),
        (col("sy_a") / col("n_a")).as("mean_y"),
        when(col("vxx") =!= 0.0,
          col("sy_a") / col("n_a") -
            col("theta") * (col("sx_a") / col("n_a") - col("sx") / col("n")))
          .as("mean_y_adj"),
        col("theta"),
        when(col("vxx") =!= 0.0 && col("vyy") =!= 0.0,
          lit(1.0) -
            (col("vyy") - col("vxy") * col("vxy") / col("vxx")) / col("vyy"))
          .as("var_reduction"))
      .orderBy("arm")
  }

  val sqlCupedReadout: String =
    s"""WITH pu AS (
          SELECT user_id, ((user_id % 2) + 2) % 2 AS arm,
            CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit 00:00:00'
              THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS x,
            CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit 00:00:00'
              THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS y
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        pooled AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
            CAST(sum(x * x) AS DOUBLE) AS sxx,
            CAST(sum(x * y) AS DOUBLE) AS sxy,
            CAST(sum(y * y) AS DOUBLE) AS syy
          FROM pu),
        arms AS (
          SELECT arm, CAST(count(*) AS DOUBLE) AS n_a,
            CAST(sum(x) AS DOUBLE) AS sx_a, CAST(sum(y) AS DOUBLE) AS sy_a
          FROM pu GROUP BY 1),
        v AS (
          SELECT n, sx, sy,
            sxx - sx * sx / n AS vxx,
            sxy - sx * sy / n AS vxy,
            syy - sy * sy / n AS vyy
          FROM pooled)
        SELECT arm, CAST(n_a AS BIGINT) AS n_users,
          sy_a / n_a AS mean_y,
          CASE WHEN vxx <> 0 THEN
            sy_a / n_a - (vxy / vxx) * (sx_a / n_a - sx / n) END AS mean_y_adj,
          CASE WHEN vxx <> 0 THEN vxy / vxx END AS theta,
          CASE WHEN vxx <> 0 AND vyy <> 0 THEN
            1.0 - (vyy - vxy * vxy / vxx) / vyy END AS var_reduction
        FROM arms CROSS JOIN v ORDER BY arm"""
}

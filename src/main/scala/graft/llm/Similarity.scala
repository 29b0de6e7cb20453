package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.BatchState

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and an IVF (inverted-file) variant as the scale path.
  *
  * Numeric portability: dot products and norms are left-folds over
  * array<double> (`aggregate` in Spark ≡ `list_reduce` in DuckDB, and
  * 0.0 + x ≡ x in IEEE), so cosine values are bit-identical to the
  * oracle — no tolerance needed.
  *
  * Scale design (100 TB):
  *  - brute force is O(n²·d); it exists as the correctness baseline
  *    and for small query sets (broadcast the queries, stream the
  *    corpus — no shuffle of the corpus).
  *  - IVF: centroids are broadcast; assignment is a map-only pass;
  *    the corpus is then partitioned (bucketed) by centroid_id, so a
  *    probe touches only nprobe/ncentroid of the data. At cluster
  *    scale the centroid count grows with the corpus (√n rule) and the
  *    assignment pass feeds a bucketed table write.
  */
object Similarity {

  val Dim: Int = graft.functions.LshPlanes.Dim

  /** Hard input bound for the O(n²) exact baselines. They exist as
    * ground truth for the IVF/LSH/PQ scale twins and for small query
    * sets; pointing one at a corpus is always a mistake, so it fails
    * LOUD here (same policy as the k-means centroid-collect bound)
    * instead of melting a cluster. 1 M rows ≈ 10¹² candidate pairs —
    * already far past sane, but unambiguous as a refusal threshold. */
  val ExactBaselineMaxRows = 1000000L

  /** Guard on the RAW input frame, not prepared(): the row count is
    * identical, but counting raw parquet resolves from row-group
    * metadata (no norm/cast work), so the guard costs ~nothing even
    * inside plan-construction sweeps like PlanAudit. */
  private def requireBaselineSized(n: DataFrame, who: String): DataFrame = {
    val cnt = n.count()
    require(cnt <= ExactBaselineMaxRows,
      s"$who is the O(n²) EXACT baseline; refusing n=$cnt > " +
        s"$ExactBaselineMaxRows rows. Use the scale twins " +
        s"(ivfTopK/adcTopK/lshNearDupPairs/knnLabelPurityAnn) on corpora.")
    n
  }

  /** Left-fold dot product — a native codegen'd Catalyst expression
    * (graft.functions.DotProductD); same accumulation order as the
    * interpreted `aggregate(zip_with(...))` route but ~40× faster
    * (tight primitive loop inside whole-stage codegen, no intermediate
    * array allocation). */
  def dot(a: Column, b: Column): Column = call_function("dot_d", a, b)

  /** Left-fold L2 norm (dot of the vector with itself). */
  def norm(v: Column): Column = sqrt(call_function("dot_d", v, v))

  /** embeddings → (vec_id, v: array<double>, nrm). NULL embeddings are
    * EXCLUDED here, at the one root both engines share: a NULL vector
    * has no geometry, and leaving it in diverges the engines — Spark's
    * top_k_by heap skips NULL scores while the oracle's row_number
    * ranks them NULLS LAST, so the same corpus would emit different
    * top-k rows. Filtering at the root pins one semantic everywhere. */
  def prepared(embeddings: DataFrame): DataFrame = {
    embeddings
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  val sqlPrepared: String =
    """n AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                (a, b) -> a + b)) AS nrm
         FROM embeddings WHERE embedding IS NOT NULL)"""

  private def cosine(pfx1: String, pfx2: String): Column =
    (dot(col(s"$pfx1.v"), col(s"$pfx2.v")) /
      (col(s"$pfx1.nrm") * col(s"$pfx2.nrm"))).as("cosine")

  private val sqlCosine =
    s"list_reduce(list_transform(generate_series(1, $Dim), i -> a.v[i] * b.v[i]), " +
      "(x, y) -> x + y) / (a.nrm * b.nrm)"

  /** Brute-force cosine top-k: every vector queries the whole corpus.
    *
    * Top-k selection uses the custom bounded-heap aggregate
    * (graft.functions.TopKByScore) instead of a Window: the window
    * route shuffles ALL n·q scored pairs to rank them; the heap
    * partial-aggregates map-side so at most k rows per query per map
    * partition reach the shuffle — the only shape that survives a
    * 100 TB corpus. */
  def bruteForceTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val n = prepared(requireBaselineSized(embeddings, "bruteForceTopK"))
    n.as("a").join(n.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        cosine("a", "b"))
      .groupBy("query_id")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("cosine"))
      .orderBy("query_id", "rnk")
  }

  def sqlBruteForceTopK(k: Int): String =
    s"""WITH $sqlPrepared,
        p AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            $sqlCosine AS cosine
          FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        r AS (SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
              AS INTEGER) AS rnk FROM p)
        SELECT query_id, rnk, neighbor_id, cosine FROM r
        WHERE rnk <= $k ORDER BY query_id, rnk"""

  /** Embedding-cosine near-duplicate pairs (the semantic-dedup
    * variant): unordered pairs above a cosine threshold. Exact
    * all-pairs here as the baseline; at corpus scale the IVF/LSH
    * bucketing below restricts candidate generation the same way the
    * MinHash bands do for lexical dedup. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val n = prepared(requireBaselineSized(embeddings, "cosineNearDupPairs"))
    n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  def sqlCosineNearDupPairs(threshold: Double): String =
    s"""WITH $sqlPrepared,
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $sqlCosine AS cosine
          FROM n a JOIN n b ON a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cosine FROM p
        WHERE cosine >= $threshold ORDER BY vec_a, vec_b"""

  val NumPlanes = 6
  val NumTables: Int = graft.functions.LshPlanes.NumTables

  /** Deterministic random hyperplanes for sign-projection LSH: weight
    * (t,p,d) = (md5("t:p:d") mod 2001 - 1000)/1000 ∈ [-1,1]. Computed
    * once here and embedded as literals in BOTH the Spark plan and the
    * oracle SQL — no in-engine randomness, perfectly portable.
    *
    * `numPlanes` is THE density knob (round-8 10× measurement,
    * SCALE.md "Measured 10× scale step"): expected bucket occupancy
    * is n / 2^numPlanes and in-bucket candidate pairs grow with its
    * SQUARE, so signature width must grow with log₂(corpus) —
    * +1 plane per doubling — to hold per-bucket work constant. The
    * suite default 6 is tuned for the 2k-vector test table (occupancy
    * ~31); at 20k vectors the same width measured 25× (single-probe)
    * and ~150× (multi-probe) cost for 10× data, while numPlanes=10
    * restores ~linear scaling. Weight (t,p,d) depends only on its own
    * coordinates, so widening the signature SUBDIVIDES the existing
    * buckets (planesFor(k) is a prefix of planesFor(k+1)) — recall
    * lost to the extra bits is the standard trade, bought back with
    * tables or probes. */
  /** Target mean bucket occupancy the suite default was tuned to:
    * 2048 vectors / 2⁶ buckets ≈ 32/bucket keeps the in-bucket pair
    * join (~16·n·occ/2 comparisons) a small multiple of n. */
  val TargetOccupancy = 32

  /** The log₂ sizing rule made executable: the signature width that
    * holds mean bucket occupancy at [[TargetOccupancy]] for an
    * n-vector corpus — +1 plane per corpus doubling, floored at the
    * suite default so tiny corpora keep the verified setting and
    * capped at 62 (bucket codes are packed into one Long). At the
    * 100 TB design point (10⁹ vectors) this gives 25 planes — still
    * one Long, and per-bucket work identical to the 2k-vector suite. */
  def adaptivePlanes(n: Long): Int = {
    require(n > 0, s"adaptivePlanes needs a positive corpus size, got $n")
    // ceil-divide without the +31 overflow at n near Long.MaxValue
    val buckets = n / TargetOccupancy + (if (n % TargetOccupancy == 0) 0 else 1)
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets) - 1)
    math.min(62, math.max(NumPlanes, needed))
  }

  /** Sentinel width: "size the signature from the corpus". Round 9
    * makes this the PRODUCTION DEFAULT of the LSH entry points — the
    * round-8 10× measurement showed the fixed suite width going
    * 26×/156× on 10× data, and the structural fix is worthless if
    * callers must remember to opt in. A caller passing an explicit
    * width (the recall/timing harnesses, width-sensitivity tests)
    * still gets exactly that width. */
  val AdaptiveWidth: Int = -1

  /** Widest signature the SQL twin materializes as gated literal
    * plane terms (the twin cannot size a string at runtime, so it
    * embeds [[MaxTwinPlanes]] terms each switched by the np scalar —
    * planesFor(k) is a prefix of planesFor(k+1), so gating IS
    * narrowing). 14 planes cover corpora to 32·2¹⁴ ≈ 524k vectors —
    * every test SF plus the 10× derived corpus — and the npw CTE
    * error()s loudly beyond instead of silently diverging. */
  val MaxTwinPlanes: Int = 14

  /** Resolve a width argument against the (cached) prepared corpus:
    * the count both materializes the cache the callers need anyway
    * and is the one corpus statistic the adaptive rule reads. An
    * EMPTY corpus resolves to the floor width instead of throwing —
    * the twin's width CTE computes needed = 0 → clamp 6 on zero rows
    * and returns an empty result, and the Spark side must do the
    * same (both emit nothing; the width is then irrelevant). */
  private def resolveWidth(n: DataFrame, numPlanes: Int): Int =
    if (numPlanes == AdaptiveWidth) adaptivePlanes(math.max(1L, n.count()))
    else numPlanes

  /** Delegates to the ONE derivation in [[graft.functions.LshPlanes]]
    * — the same weights the fused `lsh_bucket_codes` kernel streams,
    * so the SQL twins (built from these Seqs as literals) and the
    * Spark kernel can never diverge. */
  def planesFor(numPlanes: Int): Seq[Seq[Seq[Double]]] =
    graft.functions.LshPlanes.planesFor(numPlanes)

  lazy val planes: Seq[Seq[Seq[Double]]] = planesFor(NumPlanes)

  /** (vec_id, tbl, bucket) over all NumTables — THE LSH index frame,
    * one definition shared by single- and multi-probe pair generation
    * (they must hash into bit-identical buckets or the multi-probe
    * candidate-superset guarantee silently breaks). Round 13: the
    * per-table bucket codes come from the FUSED
    * [[graft.functions.LshBucketCodes]] kernel (`lsh_bucket_codes`)
    * instead of 16×numPlanes separate `when(dot_d(v, <64 literals>)
    * >= 0, …)` columns — bit-identical buckets (same d-ascending IEEE
    * fold per plane, same `>= 0` semantics; equivalence pinned by
    * LshKernelSpec). One documented NULL divergence (ADVICE r13,
    * pinned by LshKernelSpec's NULL case): the old form bucketed a
    * NULL vector as code 0 in every table; the fused kernel yields a
    * NULL array and posexplode DROPS the row from the index —
    * unreachable via [[prepared]] (embedding IS NOT NULL), but a
    * non-prepared caller must not be surprised. The tree shrinks from ~6k literal
    * leaves to one node, cutting seconds of Catalyst/janino
    * PLANNING+COMPILE time per LSH query and reading each vector once
    * instead of 96 times per row at run time (guide §4). Cached: it
    * feeds both sides of the candidate self-join, and Spark does not
    * share subplans. Caller-released lifecycle (Bench/Verify
    * clearCache); at cluster scale this is the materialized LSH index
    * table. */
  private def bucketFrame(n: DataFrame,
                          numPlanes: Int = NumPlanes,
                          cache: Boolean = true): DataFrame = {
    // fan the vector frame out before hashing (round 13): the callers'
    // cached `n` inherits the single-row-group scan's ONE partition,
    // so the hash pass AND — far worse — the downstream banded
    // candidate self-join + distinct (multi-probe generates millions
    // of duplicate pairs at suite density) ran in one task. No-op on
    // sources that already carry enough partitions (Scans.fanOut).
    val b = graft.util.Scans.fanOut(n.select(col("vec_id"), col("v")))
      .select(col("vec_id"),
        posexplode(call_function("lsh_bucket_codes", col("v"), lit(numPlanes)))
          .as(Seq("tbl", "bucket")))
    // per-MICRO-BATCH callers skip the cache: a long-running stream
    // would otherwise accumulate one orphaned cached frame per trigger
    if (cache) b.cache() else b
  }

  /** The SQL twin of [[bucketFrame]]: per-table bucket codes as a
    * UNION ALL — one definition for both probe variants. */
  private def sqlBucketSelects(numPlanes: Int = NumPlanes): String = {
    val pl = if (numPlanes == NumPlanes) planes else planesFor(numPlanes)
    (0 until NumTables).map { t =>
      val bucketExpr = (0 until numPlanes).map { p =>
        val w = pl(t)(p).mkString("[", ", ", "]")
        s"CASE WHEN list_reduce(list_transform(generate_series(1, $Dim), " +
          s"i -> v[i] * ($w)[i]), (x, y) -> x + y) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucketExpr AS bucket FROM n"
    }.mkString(" UNION ALL ")
  }

  /** The SQL twin of [[adaptivePlanes]], as a one-row CTE over the
    * prepared corpus `n`: the same exact integer math — ceil-divide
    * by [[TargetOccupancy]], smallest k with 2^k ≥ buckets, clamp to
    * [NumPlanes, 62] — so Spark and the oracle derive the SAME width
    * from the SAME count at every SF. Fails loudly (error()) past
    * [[MaxTwinPlanes]] rather than silently truncating the width. */
  private val sqlNpw: String =
    s"""npw AS (
          SELECT CASE WHEN needed > $MaxTwinPlanes
              THEN CAST(error('adaptive LSH width ' || needed ||
                ' exceeds the twin literal table (MaxTwinPlanes=$MaxTwinPlanes)')
                AS INTEGER)
            ELSE least(62, greatest($NumPlanes, needed)) END AS np
          FROM (SELECT (SELECT min(k) FROM generate_series(0, 62) g(k)
                  WHERE (CAST(1 AS BIGINT) << k) >=
                    (SELECT (count(*) + ${TargetOccupancy - 1}) // $TargetOccupancy
                     FROM n)) AS needed))"""

  /** Adaptive-width twin of [[sqlBucketSelects]]: [[MaxTwinPlanes]]
    * literal plane terms per table, each gated by `p < np` — because
    * planesFor(k) is a prefix of planesFor(k+1), zeroing the planes
    * at index ≥ np yields bit-identical buckets to a twin built at
    * width np. Requires [[sqlNpw]] in the same WITH clause. */
  private lazy val sqlBucketSelectsAdaptive: String = {
    val pl = planesFor(MaxTwinPlanes)
    (0 until NumTables).map { t =>
      val bucketExpr = (0 until MaxTwinPlanes).map { p =>
        val w = pl(t)(p).mkString("[", ", ", "]")
        s"CASE WHEN $p >= np THEN 0 " +
          s"WHEN list_reduce(list_transform(generate_series(1, $Dim), " +
          s"i -> v[i] * ($w)[i]), (x, y) -> x + y) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucketExpr AS bucket FROM n, npw"
    }.mkString(" UNION ALL ")
  }

  /** The `bkt` CTE fragment each LSH twin splices after
    * `$sqlPrepared`: fixed-width or the [[sqlNpw]]-gated adaptive
    * form, matching what [[resolveWidth]] does on the Spark side. */
  private def sqlBktCtes(numPlanes: Int): String =
    if (numPlanes == AdaptiveWidth)
      s"""$sqlNpw,
        bkt AS ($sqlBucketSelectsAdaptive)"""
    else s"bkt AS (${sqlBucketSelects(numPlanes)})"

  /** Multi-table sign-projection LSH near-dup: NumTables independent
    * hash tables, each bucketing on the sign bits of NumPlanes random
    * projections; pairs sharing a bucket in ANY table are candidates
    * (OR-amplification), deduplicated, then verified by exact
    * cosine ≥ threshold.
    *
    * Recall: a pair at angle θ collides in one table with prob
    * (1-θ/π)^NumPlanes, overall 1-(1-p)^NumTables — at cosine 0.4
    * that is ≈ 0.65, and ≥ 0.999 for true near-dups (cosine ≥ 0.9).
    * Measured against the exact ≥ 0.4 baseline at sf0.01: see
    * SCALE.md (round-1's single 8-plane table measured 4/59).
    *
    * Scale shape: bucketing is map-only (96 codegen'd dot products per
    * row); the single candidate join shuffles on (table, bucket);
    * verification joins fetch vectors only for deduplicated candidate
    * pairs.
    *
    * Width defaults to [[AdaptiveWidth]] (round 9): production runs
    * the log₂-sized signature — the fix for the measured 26× cliff at
    * 10× data — without opting in; the oracle twin derives the same
    * width from the same count ([[sqlNpw]]), so correctness stays
    * gated at every SF. */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double,
                      numPlanes: Int = AdaptiveWidth): DataFrame = {
    // cached like every other multi-reference prepared() in the file:
    // it feeds the bucket build AND both verification-join sides, and
    // Spark shares no subplans (caller-released via clearCache)
    val n = prepared(embeddings).cache()
    val b = bucketFrame(n, resolveWidth(n, numPlanes))
    val cand = b.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  def sqlLshNearDupPairs(threshold: Double,
                         numPlanes: Int = AdaptiveWidth): String =
    s"""WITH $sqlPrepared,
        ${sqlBktCtes(numPlanes)},
        cand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM bkt x JOIN bkt y
            ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
        p AS (
          SELECT vec_a, vec_b, $sqlCosine AS cosine
          FROM cand JOIN n a ON vec_a = a.vec_id
                    JOIN n b ON vec_b = b.vec_id)
        SELECT vec_a, vec_b, cosine FROM p
        WHERE cosine >= $threshold ORDER BY vec_a, vec_b"""

  // ---- materialized LSH index (the warehouse form) -------------------

  /** Materialize the LSH index ONCE — the cluster-scale form the
    * [[bucketFrame]] cache stands in for locally (its own doc note):
    * at 100 TB the 96-dot-product bucketing pass runs once at ingest,
    * and every downstream consumer (pair generation, point lookups,
    * decontamination) reads the STORED (tbl, bucket, vec_id) rows
    * instead of re-hashing the corpus. Layout mirrors
    * [[graft.llm.Dedup.writeShingleIndex]]: `buckets/` partitioned by
    * table (a query probes exactly the tables it needs; within a
    * table the bucket column is a parquet min/max-indexed scan
    * predicate), `vectors/` beside it for verification fetches. The
    * resolved signature width is stored as a column — an index built
    * at one width can never be silently probed at another.
    * @return the resolved width, for the caller's audit trail. */
  def writeLshIndex(embeddings: DataFrame, path: String,
                    numPlanes: Int = AdaptiveWidth): Int = {
    val n = prepared(embeddings).cache()
    val np = resolveWidth(n, numPlanes)
    BatchState.underLease(embeddings.sparkSession, path, "build") {
      // micro_batch_id = -1 marks the bulk build; streaming appends land
      // in micro_batch_id = N partitions beside it (the BatchState
      // layout), with tbl as the secondary partition so per-table probes
      // prune
      val b = bucketFrame(n, np)
      b.withColumn("np", lit(np)).withColumn(BatchState.PartitionCol, lit(-1L))
        .write.mode("overwrite").partitionBy(BatchState.PartitionCol, "tbl")
        .parquet(s"$path/buckets")
      n.withColumn(BatchState.PartitionCol, lit(-1L))
        .write.mode("overwrite").partitionBy(BatchState.PartitionCol)
        .parquet(s"$path/vectors")
      b.unpersist(); n.unpersist()
    }
    np
  }

  /** The width a persisted index was built at, or None before cold
    * start — every consumer MUST probe at this width (buckets from
    * different widths never match). */
  def storedIndexWidth(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[Int] =
    try {
      spark.read.parquet(s"$path/buckets").select(col("np"))
        .head(1).headOption.map(_.getInt(0))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Assert the persisted index speaks exactly ONE signature width
    * and return it (ADVICE r9): buckets hashed at different widths
    * never match, so a mixed-width index — e.g. an append forced to an
    * explicit width differing from the stored one by a pre-round-10
    * caller, or an external writer — would be consumed silently,
    * yielding wrong/missed candidates. Cost: one distinct over a
    * dictionary-encoded INT column of the bucket scan the consumer is
    * about to read anyway. */
  def requireUniformWidth(spark: org.apache.spark.sql.SparkSession,
                          path: String): Int = {
    val nps = spark.read.parquet(s"$path/buckets")
      .select(col("np")).distinct().collect().map(_.getInt(0)).sorted
    // present-but-empty is its own condition (ADVICE r10): a bulk
    // build over zero eligible vectors leaves a valid empty buckets
    // table, and folding it into the mixed-width error below would
    // tell the operator to rebuild for the wrong reason.
    require(nps.nonEmpty,
      s"LSH index at $path is EMPTY (zero bucket rows — e.g. a bulk " +
        "build over zero eligible vectors): nothing to match against; " +
        "append a first non-empty batch before consuming the index")
    require(nps.length == 1,
      s"LSH index at $path holds mixed signature widths " +
        s"[${nps.mkString(",")}] — candidates across widths are " +
        "meaningless; rebuild the index (appends are width-checked, " +
        "so an external writer broke the invariant)")
    nps.head
  }

  /** ONE width per trigger: the index's stored width, or on cold
    * start the width adaptive to THIS batch — resolved once and passed
    * to both the dedup probe and the append, so the first batch can
    * never be deduped at one width and indexed at another (the
    * survivors' count is smaller than the batch's, so recomputing
    * after the dedup could pin a narrower width than the one the
    * dedup actually ran at). */
  def resolveIndexWidth(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame): Int =
    storedIndexWidth(spark, path)
      .getOrElse(adaptivePlanes(math.max(1L, prepared(batch).count())))

  /** Idempotent per-batch index append (the
    * [[graft.llm.Dedup.appendShingleIndexForBatch]] recipe): bucket
    * the batch at the given width — streaming callers resolve it ONCE
    * per trigger via [[resolveIndexWidth]]; the default re-resolves
    * from the index (cold start: this frame's adaptive width) — and
    * land both dirs' rows through [[BatchState.writeBatchIdempotent]],
    * so a crash-replay of micro-batch N replaces its own partitions
    * instead of duplicating them. */
  def appendLshIndexForBatch(embeddings: DataFrame, path: String,
                             batchId: Long,
                             numPlanes: Int = AdaptiveWidth): Unit = {
    val spark = embeddings.sparkSession
    val n = prepared(embeddings)
    val stored = storedIndexWidth(spark, path)
    val np =
      if (numPlanes == AdaptiveWidth)
        resolveIndexWidth(spark, path, embeddings)
      else numPlanes
    // an explicit width differing from the stored one would create the
    // mixed-width index requireUniformWidth exists to catch — refuse
    // at the source instead (ADVICE r9)
    stored.foreach(w => require(np == w,
      s"appending at width $np to an index stored at width $w would " +
        "mix signature widths (buckets never match across widths); " +
        "pass AdaptiveWidth or the stored width"))
    BatchState.underLease(spark, path, s"append:$batchId") {
      BatchState.writeBatchIdempotent(
        bucketFrame(n, np, cache = false).withColumn("np", lit(np)),
        s"$path/buckets", batchId, Seq("tbl"))
      BatchState.writeBatchIdempotent(n, s"$path/vectors", batchId)
    }
  }

  /** Incremental near-dup pairs of a micro-BATCH against (index ∪
    * batch): candidates pair each batch vector (vec_a) with any index
    * or batch vector sharing a stored bucket; exact-cosine verified.
    * Per-trigger cost is |batch| hashing + a band join against STORED
    * buckets — the corpus is never re-hashed
    * ([[graft.llm.Dedup.minhashLshPairsIncremental]]'s argument, in
    * vector space). Cold start (no index): within-batch only.
    *
    * `multiProbe` fans the BATCH side out to its Hamming-1 ring at the
    * resolved width before the band join ([[multiProbeLshPairs]]'
    * recall lift for the streaming path): the probe explode is
    * map-side over |batch| rows only — the stored corpus buckets are
    * never expanded — and one-sided probing is complete for Hamming ≤ 1
    * collisions by flip symmetry. Extra candidates only ADD true
    * pairs (exact-cosine verify unchanged), i.e. streaming dedup with
    * probes can only catch MORE near-dups, never corrupt. */
  def lshPairsIncremental(spark: org.apache.spark.sql.SparkSession,
                          path: String, batch: DataFrame,
                          threshold: Double,
                          numPlanes: Int = AdaptiveWidth,
                          multiProbe: Boolean = false): DataFrame = {
    // no .cache() anywhere in the per-trigger path: the caller persists
    // the raw batch; everything here is cheap projection over it
    val nb = prepared(batch)
    val np =
      if (numPlanes == AdaptiveWidth) resolveIndexWidth(spark, path, batch)
      else numPlanes
    val bb = bucketFrame(nb, np, cache = false)
    // cold start is BOTH dirs absent, nothing else (ADVICE r9): a
    // half-present index (crash between the two appends, unreadable
    // vectors) must fail loudly — treating any read error as cold
    // start would silently degrade to within-batch dedup and pass
    // indexed near-dups into the clean sink with no signal
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBuckets = fs.exists(new org.apache.hadoop.fs.Path(s"$path/buckets"))
    val hasVectors = fs.exists(new org.apache.hadoop.fs.Path(s"$path/vectors"))
    require(hasBuckets == hasVectors,
      s"half-present LSH index at $path (buckets=$hasBuckets, " +
        s"vectors=$hasVectors) — a crash between the two index writes " +
        "left it inconsistent; rebuild the index before " +
        "streaming against it")
    val idx = if (hasBuckets) {
      // any read error from here on SURFACES — it is never cold start
      val w = requireUniformWidth(spark, path)
      require(np == w,
        s"probing at width $np against an index stored at width $w " +
          "would silently miss pairs; resolve the width via " +
          "resolveIndexWidth")
      val ib = spark.read.parquet(s"$path/buckets")
        .select(col("vec_id"), col("tbl"), col("bucket"))
      val iv = spark.read.parquet(s"$path/vectors")
        .select(col("vec_id"), col("v"), col("nrm"))
      Some((ib, iv))
    } else None
    val allB = idx.map(_._1.union(bb.select(col("vec_id"), col("tbl"), col("bucket"))))
      .getOrElse(bb)
    val allV = idx.map(_._2.union(nb.select(col("vec_id"), col("v"), col("nrm"))))
      .getOrElse(nb)
    val probeSide =
      if (multiProbe) {
        val probeCols = col("bucket") +:
          (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
        bb.select(col("vec_id"), col("tbl"),
          explode(array(probeCols: _*)).as("bucket"))
      } else bb
    val cand = probeSide.as("x").join(allB.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(allV.as("a"), col("vec_a") === col("a.vec_id"))
      .join(allV.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-dup pair generation over a persisted index: the same
    * candidate join + exact-cosine verify as [[lshNearDupPairs]], but
    * candidates come from STORED buckets — no re-hashing, the
    * ingest-once/query-many split a production corpus runs. */
  def lshNearDupPairsFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                               threshold: Double): DataFrame = {
    requireUniformWidth(spark, path) // fail-loud before candidates (ADVICE r9)
    val b = spark.read.parquet(s"$path/buckets")
    val n = spark.read.parquet(s"$path/vectors")
    val cand = b.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Multi-probe pair generation over the persisted index (round 10,
    * VERDICT r9 task 6): [[multiProbeLshPairs]]' Hamming-1 probe ring
    * applied to STORED buckets at the index's STORED width, so the
    * materialized index gets the same measured recall lift the
    * in-memory path bought (q_lsh_recall: 0.568 → 0.992) — without
    * re-hashing the corpus. The fan-out is a map-side explode of the
    * bucket scan (np+1 probe rows per stored row); the join key stays
    * (tbl, bucket); exact-cosine verification is unchanged, so extra
    * candidates can only ADD true pairs. Width comes from
    * [[requireUniformWidth]] — a mixed-width index fails loudly
    * before any candidate is generated. */
  def multiProbeLshPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  threshold: Double): DataFrame = {
    val np = requireUniformWidth(spark, path)
    val b = spark.read.parquet(s"$path/buckets")
    val n = spark.read.parquet(s"$path/vectors")
    val probeCols = col("bucket") +:
      (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val probes = b.select(col("vec_id"), col("tbl"),
      explode(array(probeCols: _*)).as("probe"))
    val cand = probes.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.probe") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Point ANN lookup against the persisted index — the online-serving
    * shape: fetch the query vector's ≤ NumTables stored bucket rows
    * (a broadcast-sized frame), broadcast-join them into the index
    * scan to surface candidates, verify by exact cosine against the
    * one broadcast query vector, keep top-k. Index bytes touched are
    * the probed (tbl, bucket) rows plus candidate vectors — never the
    * corpus. With `multiProbe` the query's bucket rows fan out to
    * their Hamming-1 ring at the STORED width before the probe join —
    * still ≤ NumTables·(np+1) broadcast rows, the same recall lift as
    * [[multiProbeLshPairsFromIndex]] for a single query. */
  def lshNeighborsFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                            vecId: Long, k: Int,
                            multiProbe: Boolean = false): DataFrame = {
    val b = spark.read.parquet(s"$path/buckets")
    val n = spark.read.parquet(s"$path/vectors")
    val qbExact = b.filter(col("vec_id") === vecId)
      .select(col("tbl"), col("bucket"))
    val qb =
      if (multiProbe) {
        val np = requireUniformWidth(spark, path)
        val probeCols = col("bucket") +:
          (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
        qbExact.select(col("tbl"),
            explode(array(probeCols: _*)).as("bucket"))
          .distinct()
      } else qbExact
    val qv = n.filter(col("vec_id") === vecId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cand = b.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= vecId)
      .select(col("vec_id")).distinct()
    cand.join(n, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
      .groupBy()
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        (col("pos") + 1).cast("int").as("rnk"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("cosine"))
      .orderBy("rnk")
  }

  /** Per-query top-k over LSH candidates — the bounded-output ANN
    * shape the round-8 10× measurement recommends (SCALE.md "Measured
    * 10× scale step"): a GLOBAL cosine threshold emits output that
    * grows faster than the corpus (the n² tail of near-threshold
    * pairs), while top-k per query is linear in n BY CONSTRUCTION no
    * matter how dense the corpus gets. Candidate generation is the
    * same 16-table sign-LSH bucket join as [[lshNearDupPairs]]
    * (directed: each vector queries its own buckets); selection uses
    * the bounded-heap `top_k_by` aggregate (map-side partials, ≤ k
    * rows per query per partition reach the shuffle) instead of a
    * window — the same scale argument as [[bruteForceTopK]], with the
    * all-pairs scoring replaced by bucket-restricted scoring.
    * Vectors whose buckets yield no candidates are absent from the
    * result (LSH recall, not an error) — the declared trade measured
    * by `q_lsh_recall`. */
  def lshTopKNeighbors(embeddings: DataFrame, k: Int,
                       numPlanes: Int = AdaptiveWidth): DataFrame = {
    val n = prepared(embeddings).cache() // same multi-use shape as lshNearDupPairs
    val b = bucketFrame(n, resolveWidth(n, numPlanes))
    // dedup/join/score each UNORDERED pair once (cosine is symmetric),
    // then mirror the scored rows MAP-SIDE (round 14): the old
    // scored.cache() + union(mirror) read the cached frame twice from
    // AQE stages that materialize CONCURRENTLY — the lazy fill raced
    // and the candidate-join+cosine subplan executed twice (ProfileOne
    // on q_audio_ann: two identical ~20 s-task-time stage sets in one
    // run). A two-element explode emits both directions from ONE
    // computation — no cache, no race, same rows.
    val cand = b.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .select(explode(array(
        struct(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"),
          col("cosine")),
        struct(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id"),
          col("cosine")))).as("m"))
      .select(col("m.query_id").as("query_id"),
        col("m.neighbor_id").as("neighbor_id"), col("m.cosine").as("cosine"))
      .groupBy("query_id")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("cosine"))
      .orderBy("query_id", "rnk")
  }

  def sqlLshTopKNeighbors(k: Int, numPlanes: Int = AdaptiveWidth): String =
    sqlLshTopKNeighborsOver(sqlPrepared, k, numPlanes)

  /** [[sqlLshTopKNeighbors]] over a caller-supplied `n` CTE — the
    * seam that lets another modality feed the SAME twin machinery:
    * every bucket/width/cosine CTE downstream reads only `n(vec_id,
    * v, nrm)` (the adaptive-width `npw` counts FROM n too), so a
    * vector source other than the embeddings table — e.g. the image
    * luma-grid features, [[Multimodal.imageEmbeddings]] — gates
    * against the identical LSH arithmetic. */
  def sqlLshTopKNeighborsOver(nCte: String, k: Int,
                              numPlanes: Int = AdaptiveWidth): String =
    s"""WITH $nCte,
        ${sqlBktCtes(numPlanes)},
        cand AS (
          SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
          FROM bkt x JOIN bkt y
            ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
        p AS (
          SELECT query_id, neighbor_id, $sqlCosine AS cosine
          FROM cand JOIN n a ON query_id = a.vec_id
                    JOIN n b ON neighbor_id = b.vec_id),
        r AS (SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
              AS INTEGER) AS rnk FROM p)
        SELECT query_id, rnk, neighbor_id, cosine FROM r
        WHERE rnk <= $k ORDER BY query_id, rnk"""

  /** Prefix width of the truncation eval: the first 16 of 64 dims —
    * the 4× memory/compute saving a matryoshka-style truncation buys
    * if the eval says recall survives. */
  val MrlPrefixDim = 16
  /** FIXED query budget (round 12, VERDICT r11 task 2): the eval
    * scores exactly this many queries no matter how large the corpus
    * grows — the q_ivf_recall contract ("fixed eval budget is the
    * scale contract"), replacing the round-11 modulus sample whose
    * query count was n/50, linear in the corpus. */
  val MrlQueryCount = 64

  /** MATRYOSHKA/truncation eval (round 11; re-shaped round 12) —
    * "how many dims do we actually need": for a FIXED
    * [[MrlQueryCount]]-query sample (the smallest eligible vec_ids —
    * deterministic, and selected by TakeOrdered, never a corpus
    * sort), compare the top-1 LSH-candidate neighbor under FULL
    * 64-dim cosine against the top-1 under the
    * first-[[MrlPrefixDim]]-dims cosine, and report agreement plus
    * the real quality cost — the FULL cosine of the prefix-chosen
    * neighbor and its gap to the full-cosine best (a truncation can
    * pick a different but equally-good neighbor; the gap, not the
    * agree bit, is the decision number). Per-query rows, no cross-row
    * double aggregation — every value is dot/sqrt/divide on the same
    * operand order in both engines.
    *
    * Round 12 scale re-shape (VERDICT r11 "What's wrong" #2): the
    * candidate set per query is the production LSH bucket probe
    * ([[lshTopKNeighbors]]'s banded join, query-side restricted to
    * the sample), NOT a query × corpus cross frame — so the scored
    * frame is bounded by [[MrlQueryCount]] × bucket occupancy, the
    * broadcast side is the 64-row query sample instead of a 1/50
    * corpus sample, and both top-1s are measured over the SAME
    * candidate set the production search would actually rank. A
    * query whose buckets yield no candidates is absent (LSH recall,
    * the declared trade q_lsh_recall measures).
    *
    * Vectors whose first [[MrlPrefixDim]] dims are all zero have no
    * prefix direction — pre_cos would be 0/0 NaN, which the two
    * engines ORDER differently (ADVICE r11) — and are excluded from
    * both sides in both engines, mirroring the zero-variance
    * exclusion [[Multimodal.imageEmbeddings]] applies. nrmp > 0
    * implies nrm > 0 (the prefix sum is a subset of the full sum),
    * so no separate full-norm guard is needed. */
  def mrlRecall(embeddings: DataFrame): DataFrame = {
    val n = prepared(embeddings)
      .withColumn("vp", slice(col("v"), 1, MrlPrefixDim))
      .withColumn("nrmp", sqrt(call_function("dot_d", col("vp"), col("vp"))))
      .filter(col("nrmp") > 0)
      .cache() // the materialized-index frame every ANN query shares
    val width = resolveWidth(n, AdaptiveWidth)
    val b = bucketFrame(n, width)
    val q = n.orderBy("vec_id").limit(MrlQueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("vp").as("qvp"), col("nrmp").as("qnrmp"))
    val qb = b.join(broadcast(q.select(col("query_id"))),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("tbl"), col("bucket"))
    val cand = qb.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .distinct()
    val scored = cand
      .join(broadcast(q), "query_id")
      .join(n, col("cand_id") === col("vec_id"))
      .select(col("query_id"), col("cand_id"),
        (call_function("dot_d", col("v"), col("qv")) /
          (col("nrm") * col("qnrm"))).as("full_cos"),
        (call_function("dot_d", col("vp"), col("qvp")) /
          (col("nrmp") * col("qnrmp"))).as("pre_cos"))
      .cache() // bounded: MrlQueryCount queries x bucket occupancy
    val full1 = scored.groupBy("query_id")
      .agg(call_function("top_k_by",
        col("full_cos"), col("cand_id"), lit(1)).as("t"))
      .select(col("query_id"),
        col("t").getItem(0).getField("id").as("full_top1"),
        col("t").getItem(0).getField("score").as("full_cos"))
    val pre1 = scored.groupBy("query_id")
      .agg(call_function("top_k_by",
        col("pre_cos"), col("cand_id"), lit(1)).as("t"))
      .select(col("query_id"),
        col("t").getItem(0).getField("id").as("pre_top1"))
    val preFull = pre1.join(scored.select(col("query_id"),
        col("cand_id").as("pre_top1"), col("full_cos").as("pre_full_cos")),
      Seq("query_id", "pre_top1"))
    full1.join(preFull, "query_id")
      .select(col("query_id"), col("full_top1"), col("full_cos"),
        col("pre_top1"), col("pre_full_cos"),
        (col("full_top1") === col("pre_top1")).as("agree"),
        (col("full_cos") - col("pre_full_cos")).as("cos_gap"))
      .orderBy("query_id")
  }

  /** Twin: the prefix-eligible `n` CTE (nrmp > 0 — the same exclusion
    * as the Spark side) feeds the SAME adaptive-width bucket CTEs
    * every LSH twin uses; candidates come from the bucket join
    * restricted to the LIMIT-[[MrlQueryCount]] query sample, so the
    * scored CTE is bounded exactly like the Spark plan. */
  def sqlMrlRecall: String =
    s"""WITH n0 AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
            sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x), (a, b) -> a + b)) AS nrm,
            sqrt(list_reduce(list_transform(
              CAST(embedding AS DOUBLE[])[1:$MrlPrefixDim],
              x -> x * x), (a, b) -> a + b)) AS nrmp
          FROM embeddings WHERE embedding IS NOT NULL),
        n AS (SELECT * FROM n0 WHERE nrmp > 0),
        ${sqlBktCtes(AdaptiveWidth)},
        q AS (
          SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, nrmp AS qnrmp
          FROM n ORDER BY vec_id LIMIT $MrlQueryCount),
        qb AS (
          SELECT q.query_id, b.tbl, b.bucket
          FROM bkt b JOIN q ON b.vec_id = q.query_id),
        cand AS (
          SELECT DISTINCT qb.query_id, b.vec_id AS cand_id
          FROM qb JOIN bkt b USING (tbl, bucket)
          WHERE b.vec_id <> qb.query_id),
        scored AS (
          SELECT cand.query_id, cand.cand_id,
            list_reduce(list_transform(generate_series(1, $Dim),
              i -> c.v[i] * q.qv[i]), (x, y) -> x + y)
              / (c.nrm * q.qnrm) AS full_cos,
            list_reduce(list_transform(generate_series(1, $MrlPrefixDim),
              i -> c.v[i] * q.qv[i]), (x, y) -> x + y)
              / (c.nrmp * q.qnrmp) AS pre_cos
          FROM cand JOIN q USING (query_id)
                    JOIN n c ON cand.cand_id = c.vec_id),
        f1 AS (
          SELECT query_id, cand_id AS full_top1, full_cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY full_cos DESC, cand_id ASC) AS r
          FROM scored QUALIFY r = 1),
        p1 AS (
          SELECT query_id, cand_id AS pre_top1,
            row_number() OVER (PARTITION BY query_id
              ORDER BY pre_cos DESC, cand_id ASC) AS r
          FROM scored QUALIFY r = 1),
        pf AS (
          SELECT p1.query_id, p1.pre_top1, s.full_cos AS pre_full_cos
          FROM p1 JOIN scored s
            ON s.query_id = p1.query_id AND s.cand_id = p1.pre_top1)
        SELECT f1.query_id, f1.full_top1, f1.full_cos,
          pf.pre_top1, pf.pre_full_cos,
          f1.full_top1 = pf.pre_top1 AS agree,
          f1.full_cos - pf.pre_full_cos AS cos_gap
        FROM f1 JOIN pf USING (query_id) ORDER BY query_id"""

  /** Multi-probe sign-LSH near-dup (Lv et al., VLDB'07): each vector
    * probes its own bucket AND the NumPlanes buckets at Hamming
    * distance 1 in every table, so a pair collides if their codes
    * differ by ≤ 1 bit somewhere — the recall of roughly
    * squaring the table count bought with compute (7× probe rows)
    * instead of memory (no extra index tables). The candidate set is
    * a strict superset of [[lshNearDupPairs]]'s; the exact-cosine
    * verification filter is identical, so extra candidates can only
    * ADD true pairs, never corrupt them.
    *
    * Probing is one-sided (probe rows join bucket rows): for a pair
    * (a, b) with Hamming-≤1 codes, a's probe set contains b's code by
    * symmetry of single-bit flips, so the a < b direction finds every
    * such pair exactly once before the dedup. Scale shape unchanged:
    * the join key is still (table, bucket); the probe explode is
    * map-side. */
  def multiProbeLshPairs(embeddings: DataFrame, threshold: Double,
                         numPlanes: Int = AdaptiveWidth): DataFrame = {
    val n = prepared(embeddings).cache() // same multi-use shape as lshNearDupPairs
    val np = resolveWidth(n, numPlanes)
    val b = bucketFrame(n, np)
    val probeCols = col("bucket") +:
      (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val probes = b.select(col("vec_id"), col("tbl"),
      explode(array(probeCols: _*)).as("probe"))
    val cand = probes.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.probe") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  def sqlMultiProbeLshPairs(threshold: Double,
                            numPlanes: Int = AdaptiveWidth): String = {
    // the probe ring is width-sized too: adaptive mode embeds the full
    // MaxTwinPlanes ring and slices the first np+1 entries at runtime
    val probesSelect =
      if (numPlanes == AdaptiveWidth) {
        val full = ("bucket" +: (0 until MaxTwinPlanes)
          .map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
        s"SELECT vec_id, tbl, unnest(list_slice($full, 1, np + 1)) AS probe FROM bkt, npw"
      } else {
        val probeList = ("bucket" +: (0 until numPlanes)
          .map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
        s"SELECT vec_id, tbl, unnest($probeList) AS probe FROM bkt"
      }
    s"""WITH $sqlPrepared,
        ${sqlBktCtes(numPlanes)},
        probes AS ($probesSelect),
        cand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM probes x JOIN bkt y
            ON x.tbl = y.tbl AND x.probe = y.bucket AND x.vec_id < y.vec_id),
        p AS (
          SELECT vec_a, vec_b, $sqlCosine AS cosine
          FROM cand JOIN n a ON vec_a = a.vec_id
                    JOIN n b ON vec_b = b.vec_id)
        SELECT vec_a, vec_b, cosine FROM p
        WHERE cosine >= $threshold ORDER BY vec_a, vec_b"""
  }

  /** LSH recall evaluation: single-probe vs multi-probe pair counts
    * against the exact all-pairs ground truth at the same threshold —
    * the measurement that justifies (or refutes) paying the 7× probe
    * fan-out. Both LSH variants exact-verify their candidates, so
    * every pair they emit IS a true pair and recall is a pure count
    * ratio — no pair-level join needed.
    *
    * Like q_ivf_recall this is a declared evaluation harness: the
    * ground-truth side is the bounded exact baseline
    * ([[requireBaselineSized]] guards it); the LSH sides are the
    * production-scale plans being measured. */
  def lshRecall(embeddings: DataFrame, threshold: Double): DataFrame = {
    val truth = cosineNearDupPairs(embeddings, threshold)
      .agg(count(lit(1)).as("n_true"))
    val variants = lshNearDupPairs(embeddings, threshold)
      .agg(count(lit(1)).as("n_found"))
      .select(lit("1_single_probe").as("variant"), col("n_found"))
      .union(multiProbeLshPairs(embeddings, threshold)
        .agg(count(lit(1)).as("n_found"))
        .select(lit("2_multi_probe").as("variant"), col("n_found")))
    variants.crossJoin(broadcast(truth))
      .select(col("variant"), col("n_found"), col("n_true"),
        (col("n_found").cast("double") / col("n_true").cast("double"))
          .as("recall"))
      .orderBy("variant")
  }

  def sqlLshRecall(threshold: Double): String =
    s"""WITH tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true
          FROM (${sqlCosineNearDupPairs(threshold)})),
        sp AS (
          SELECT CAST(count(*) AS BIGINT) AS n_found
          FROM (${sqlLshNearDupPairs(threshold)})),
        mp AS (
          SELECT CAST(count(*) AS BIGINT) AS n_found
          FROM (${sqlMultiProbeLshPairs(threshold)})),
        v AS (
          SELECT '1_single_probe' AS variant, n_found FROM sp
          UNION ALL
          SELECT '2_multi_probe' AS variant, n_found FROM mp)
        SELECT variant, n_found, n_true,
          CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
        FROM v CROSS JOIN tr ORDER BY variant"""

  /** Symmetric per-vector int8 quantization: scale = max|v|/127,
    * q_i = clamp(round(v_i/scale)). The ANN memory path — an int8
    * corpus is 8× smaller than float64, so 8× more vectors fit in
    * executor memory / page cache before any probe math changes.
    * Row-local, no shuffle.
    *
    * Rounding is floor(x + 0.5) EXPLICITLY on both sides: library
    * round() half-even/half-up conventions differ across engines, and
    * the oracle hash-compares every cell. Reconstruction error is
    * bounded by scale/2 per component (checked in the unit test and
    * emitted per row). Zero vectors quantize to zeros (scale 0 guard).
    *
    * The quantized array is emitted as a CSV string: the driver's
    * pandas compare cannot sort array cells (round-1 lesson). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      // direct projection, NOT prepared(): quantization never reads the
      // L2 norm, and prepared's dot+sqrt would double this map-only
      // operator's per-row arithmetic (the twin's `n` CTE has no nrm)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
      .withColumn("q", expr(
        "CASE WHEN scale = 0.0D THEN transform(v, x -> 0) " +
          "ELSE transform(v, x -> CAST(greatest(-127.0D, least(127.0D, " +
          "floor(x / scale + 0.5D))) AS INT)) END"))
      .select(col("vec_id"), col("scale"),
        expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')").as("q_csv"),
        expr("array_max(zip_with(v, q, (x, qi) -> abs(x - CAST(qi AS DOUBLE) * scale)))")
          .as("max_abs_err"))
      .orderBy("vec_id")

  val sqlQuantizeInt8: String =
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM n),
        qd AS (SELECT vec_id, v, scale,
          CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0)
          ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
            floor(x / scale + 0.5))) AS INTEGER)) END AS q
          FROM s)
        SELECT vec_id, scale,
          array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS q_csv,
          list_max(list_transform(generate_series(1, $Dim),
            i -> abs(v[i] - CAST(q[i] AS DOUBLE) * scale))) AS max_abs_err
        FROM qd ORDER BY vec_id"""

  /** Per-dimension embedding health report — the "is this embedding
    * column still alive" monitor a production vector pipeline runs
    * before anything consumes the corpus: per dimension, the count,
    * mean/energy (as exact quantized sums), range, and a dead-dim
    * flag (constant value ⇒ the encoder's unit died or a pipeline
    * wrote zeros). Values are quantized to 1e-4 with the same
    * explicit floor(x·10⁴ + 0.5) both engines use in [[quantizeInt8]]
    * (library round() conventions differ), so every output column is
    * exact integer math; Σq² goes through decimal(38,0) (the moneySum
    * trade) because a web-scale corpus overflows BIGINT on power
    * sums — q itself is cast to decimal BEFORE the square so a
    * pathological |x| ≳ 3e5 embedding cannot wrap q² in LongType
    * where the oracle's checked 128-bit multiply would throw
    * (ADVICE r8). The decimal stays INTERNAL: `sum_q2` is emitted as
    * STRING (round-9 rule, VERDICT r8 — the only two driver hash
    * misses were the only two DECIMAL(38,0) output columns; scale-0
    * decimal→string is representation-identical everywhere).
    * Scale shape: one map-only explode to (dim, q) — Dim rows
    * per vector — into a Dim-group hash aggregate with map-side
    * partials; no joins, no windows, output is always Dim rows. */
  def embedDimStats(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(col("embedding").isNotNull)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select(col("pos").cast("int").as("dim"),
        expr("CAST(floor(x * 10000.0D + 0.5D) AS BIGINT)").as("q"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("sum_q2"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"))
      .withColumn("sum_q2", col("sum_q2").cast("string"))
      .withColumn("dead_dim", col("min_q") === col("max_q"))
      .orderBy("dim")

  val sqlEmbedDimStats: String =
    s"""WITH x AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        e AS (SELECT unnest(generate_series(1, $Dim)) AS i, v FROM x),
        q AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
                CAST(floor(v[i] * 10000.0 + 0.5) AS BIGINT) AS q FROM e)
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q) AS BIGINT) AS sum_q,
          CAST(sum(CAST(q AS HUGEINT) * q) AS VARCHAR) AS sum_q2,
          CAST(min(q) AS BIGINT) AS min_q,
          CAST(max(q) AS BIGINT) AS max_q,
          min(q) = max(q) AS dead_dim
        FROM q GROUP BY dim ORDER BY dim"""

  /** Semantic eval-set decontamination: test-split documents whose
    * EMBEDDING is near a train-split document — the leakage class
    * lexical decontamination (`Curate.decontaminate`'s n-gram match)
    * structurally misses: paraphrases, translations, re-renders of
    * the same content. Split assignment is the shared
    * [[Curate.splitAssign]] hash (the audit and the assignment can
    * never disagree); candidates come from the same 16-table sign-LSH
    * bucket join as [[lshNearDupPairs]] restricted to test×train
    * sides; each flagged test doc reports its STRONGEST train
    * neighbor (bounded-heap top-1, deterministic id tie-break), so
    * output is ≤ |test| rows regardless of corpus density — the
    * round-8 bounded-output rule. Scale shape: bucket build is
    * map-only, the one candidate join shuffles on (table, bucket),
    * verification fetches vectors only for candidate pairs.
    *
    * Signature width is ADAPTIVE like the rest of the LSH family
    * (round 9), sized from the FULL prepared corpus count — the same
    * basis the twin's width CTE reads — not the test+train subset, so
    * the index width matches what a shared materialized index would
    * use. */
  def semanticDecontam(documents: DataFrame, embeddings: DataFrame,
                       threshold: Double = 0.3): DataFrame = {
    // width basis = non-null embedding count (the twin's COUNT(*) FROM
    // n): counted on the RAW column so the scan is a pruned columnar
    // count, not a second prepared() pass computing norms for nothing
    val np = adaptivePlanes(math.max(1L,
      embeddings.filter(col("embedding").isNotNull).count()))
    val split = graft.llm.Curate.splitAssign(documents)
      .select(col("doc_id"), col("split"))
    // cached like the other multi-reference prepared() frames: feeds
    // the bucket build and both verification-join sides
    val n = prepared(embeddings)
      .join(split, col("vec_id") === col("doc_id"))
      // the validation split can never appear on either side of the
      // test×train join — drop it BEFORE the cache and the 16-table
      // bucket explode, not inside the join condition
      .filter(col("split").isin("test", "train"))
      .select(col("vec_id"), col("v"), col("nrm"), col("split"))
      .cache()
    val bs = bucketFrame(n, np)
      .join(n.select(col("vec_id"), col("split")), "vec_id")
    val cand = bs.as("x").join(bs.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.split") === "test" && col("y.split") === "train")
      .select(col("x.vec_id").as("test_id"), col("y.vec_id").as("train_id"))
      .distinct()
    cand
      .join(n.as("a"), col("test_id") === col("a.vec_id"))
      .join(n.as("b"), col("train_id") === col("b.vec_id"))
      .select(col("test_id"), col("train_id"), cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .groupBy("test_id")
      .agg(call_function("top_k_by", col("cosine"), col("train_id"), lit(1)).as("top"))
      .select(col("test_id"),
        col("top").getItem(0).getField("id").as("train_id"),
        col("top").getItem(0).getField("score").as("cosine"))
      .orderBy("test_id")
  }

  def sqlSemanticDecontam(threshold: Double = 0.3): String =
    s"""WITH $sqlPrepared,
        sp AS (SELECT doc_id, split FROM (${graft.llm.Curate.sqlSplitAssign})),
        $sqlNpw,
        bkt AS ($sqlBucketSelectsAdaptive),
        bs AS (SELECT b.vec_id, b.tbl, b.bucket, s.split
               FROM bkt b JOIN sp s ON b.vec_id = s.doc_id),
        cand AS (
          SELECT DISTINCT x.vec_id AS test_id, y.vec_id AS train_id
          FROM bs x JOIN bs y
            ON x.tbl = y.tbl AND x.bucket = y.bucket
           AND x.split = 'test' AND y.split = 'train'),
        p AS (
          SELECT test_id, train_id, $sqlCosine AS cosine
          FROM cand JOIN n a ON test_id = a.vec_id
                    JOIN n b ON train_id = b.vec_id),
        f AS (SELECT * FROM p WHERE cosine >= $threshold),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY test_id ORDER BY cosine DESC, train_id) AS rk
              FROM f)
        SELECT test_id, train_id, cosine FROM r
        WHERE rk = 1 ORDER BY test_id"""

  // ---- Johnson–Lindenstrauss sign projection ------------------------

  val JlK = 8                   // projected dimensionality

  /** Deterministic ±1 for projection cell (j, i): the first hex digit
    * of md5("j_i") decides the sign, so the whole matrix is a pure
    * function both engines (and every executor) can recompute —
    * no broadcast state, no RNG seed plumbing. */
  private def jlSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    * matrix (Achlioptas 2001: database-friendly random projections):
    * p_j = ⟨v, s_j⟩ / √k for k fixed sign rows s_j. Distances are
    * preserved within (1±ε) w.h.p., so downstream clustering / LSH /
    * dedup can run over k components instead of Dim — a Dim/k memory
    * and bandwidth cut for every consumer.
    *
    * The sign rows are plan-time literal arrays feeding the codegen'd
    * left-fold dot product: the whole operator is one map-only
    * projection, zero shuffles, and scales to any corpus size. The
    * oracle recomputes the identical md5-derived signs and the same
    * left-fold accumulation order, so doubles match bit-for-bit. */
  def jlProject(embeddings: DataFrame, k: Int = JlK): DataFrame = {
    val n = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val projected = (1 to k).map { j =>
      val signs = array((1 to Dim).map(i => lit(jlSign(j, i))): _*)
      (dot(col("v"), signs) / math.sqrt(k.toDouble)).as(s"p$j")
    }
    n.select(col("vec_id") +: projected: _*).orderBy("vec_id")
  }

  def sqlJlProject(k: Int = JlK): String = {
    val cols = (1 to k).map { j =>
      s"""list_reduce(list_transform(generate_series(1, $Dim),
            i -> v[i] * (CASE WHEN substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 1) < '8'
                         THEN 1.0 ELSE -1.0 END)),
          (x, y) -> x + y) / sqrt(CAST($k AS DOUBLE)) AS p$j"""
    }.mkString(",\n          ")
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT vec_id,
          $cols
        FROM n ORDER BY vec_id"""
  }

  // ---- product quantization -----------------------------------------

  val PqM = 4                   // subspaces
  val PqK = 16                  // codes per subspace codebook
  val PqIters = 2               // Lloyd iterations per codebook
  val SubDim: Int = Dim / PqM   // components per subspace

  /** Product-quantization codes: split each vector into PqM contiguous
    * SubDim-component subvectors, fit a PqK-entry codebook per subspace
    * (deterministic k-means-lite: first-PqK seed by vec_id, PqIters
    * Lloyd steps, L2 distance, ties → lower code id, component means
    * with summation pinned to vec_id order), then encode every vector
    * as its per-subspace nearest code. Output: the code tuple as csv
    * plus the exact L2² reconstruction error.
    *
    * THE ANN memory story at 100 TB: a PQ-coded corpus stores PqM
    * small ints per vector instead of Dim floats (64× smaller here),
    * so a billion-vector index fits in RAM and distance evaluation
    * becomes PqM table lookups (ADC). The fit collects only
    * PqM × PqK × SubDim doubles (16 KB) per iteration — the standard
    * fit-then-broadcast shape, same as the IVF fit; encoding is one
    * broadcast join + map-only argmin over PqK candidates. */
  /** Subspace-m projection of a prepared frame: (vec_id, sv). */
  private def pqSub(n: DataFrame, m: Int): DataFrame =
    n.select(col("vec_id"),
      expr(s"slice(v, ${m * SubDim + 1}, $SubDim)").as("sv")) // slice is 1-based

  /** L2² between a subvector column `sv` and a codebook entry `cv`,
    * fold order pinned to component order (≡ the oracle's
    * list_reduce over generate_series). */
  private val pqL2 = expr(
    "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, e) -> acc + e)")

  /** Deterministic per-subspace codebook fit (first-PqK seed by vec_id,
    * PqIters Lloyd steps, argmin-L2 assignment with ties → lower cid,
    * pinned-order component means). Returns a DRIVER-LOCAL PqK-row
    * codebook frame — 16 × SubDim doubles, the fit-then-broadcast
    * shape. */
  /** Lloyd-iteration working parallelism (round 14): enough rows per
    * task to amortize per-task fixed cost. The fit loop runs
    * several bounded-collect jobs per iteration over a corpus-cached
    * frame; at test scale the cache's 32 partitions turned every tiny
    * Lloyd job into a 32-task wave (hundreds of ~60-row tasks per
    * query — measured +1 to +3 s on each PQ/IVF query once the
    * embeddings scan was fanned out). Coalesce (narrow, no shuffle)
    * the fit's view down to ceil(rows / 4096) tasks, capped at the
    * session parallelism: at 10⁹ vectors this IS full parallelism, at
    * suite scale it is 1 — size-derived, not a local constant. The
    * one-shot map-side consumers (encode, assignment, probes) keep
    * the cache's full fan-out. */
  private val FitRowsPerTask = 4096L
  private def fitCoalesce(df: DataFrame, rows: Long): DataFrame = {
    val target = math.min(
      df.sparkSession.sparkContext.defaultParallelism.toLong,
      math.max(1L, (rows + FitRowsPerTask - 1) / FitRowsPerTask)).toInt
    df.coalesce(target) // no-op when the frame already has <= target
  }

  private def fitSubCodebook(sub: DataFrame): DataFrame = {
    import sub.sparkSession.implicits._
    var cents = sub.orderBy("vec_id").limit(PqK)
      .select(col("vec_id").as("cid"), col("sv").as("cv"))
    for (_ <- 0 until PqIters) {
      val scored = sub.join(broadcast(cents))
        .select(col("vec_id"), col("cid"), pqL2.as("dist"))
      // argmin via the bounded-heap aggregate on -dist (score desc
      // == dist asc, ties → lower cid — the oracle's row_number)
      val assign = scored.groupBy("vec_id")
        .agg(call_function("top_k_by", -col("dist"), col("cid"), lit(1)).as("top"))
        .select(col("vec_id"), col("top").getItem(0).getField("id").as("cid"))
      val means = assign.join(sub, "vec_id")
        .select(col("cid"), col("vec_id"), posexplode(col("sv")).as(Seq("d", "component")))
        .groupBy("cid", "d")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("component")))).as("xs"))
        .select(col("cid"), col("d"),
          (expr("aggregate(xs, 0.0D, (acc, x) -> acc + x.component)") /
            size(col("xs"))).as("m"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("ds"))
        .select(col("cid"), expr("transform(ds, x -> x.m)").as("cv"))
      cents = means.as[(Long, Seq[Double])].collect().toSeq.toDF("cid", "cv")
    }
    cents
  }

  /** Encode subspace m: nearest code per vector → (vec_id, code$m,
    * dist$m). Broadcast codebook, map-only argmin. */
  private def encodeSub(sub: DataFrame, cents: DataFrame, m: Int): DataFrame =
    sub.join(broadcast(cents))
      .select(col("vec_id"), col("cid"), pqL2.as("dist"))
      .groupBy("vec_id")
      .agg(call_function("top_k_by", -col("dist"), col("cid"), lit(1)).as("top"))
      // + 0.0 canonicalizes the negate-back: the heap stores -0.0 as
      // +0.0, so a bit-exact zero distance would round-trip to -0.0 and
      // hash-diverge from the oracle's +0.0 sum of squares
      .select(col("vec_id"),
        col("top").getItem(0).getField("id").as(s"code$m"),
        (-col("top").getItem(0).getField("score") + lit(0.0)).as(s"dist$m"))

  /** Fit all PqM subspace codebooks CONCURRENTLY: each fit is an
    * independent chain of small Spark jobs punctuated by a driver-side
    * collect, so run sequentially the driver spends most of the wall
    * clock waiting on one small job at a time. Submitting the PqM
    * chains from separate driver threads lets the scheduler overlap
    * them (fair use of the same executors; determinism is untouched —
    * each chain's own job order is unchanged and chains share no
    * state). This is the standard concurrent-jobs driver pattern. */
  private def fitAllSubCodebooks(n: DataFrame): IndexedSeq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // Job-group propagation: the caller (e.g. Bench's per-query worker)
    // may have setJobGroup so its watchdog can cancelJobGroup on
    // timeout. Pool threads inherit the local properties of whichever
    // thread CREATED them — a stale, possibly wrong group — so each
    // fit task explicitly installs the caller's group (or clears the
    // inherited one) before touching Spark. Without this a timed-out
    // query's fit jobs would be uncancellable and keep burning cores.
    val sc = n.sparkSession.sparkContext
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val desc = sc.getLocalProperty("spark.job.description")
    val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    val rows = n.count() // materialize the shared cache ONCE before the races
    // static per-round plans for every sub-fit's Lloyd jobs (round 14,
    // util.Sessions.staticPlans): one window around all PqM chains —
    // their collect-punctuated rounds are corpus-view-sized, and AQE's
    // per-exchange re-optimization was pure per-round fixed cost
    graft.util.Sessions.staticPlans(n.sparkSession, rows) {
      val fits = (0 until PqM).map(m => Future {
        if (group != null) sc.setJobGroup(group, desc, "true" == interrupt)
        else sc.clearJobGroup()
        fitSubCodebook(fitCoalesce(pqSub(n, m), rows))
      })
      Await.result(Future.sequence(fits), Duration.Inf)
    }
  }

  def pqCodes(embeddings: DataFrame): DataFrame = {
    // cache lifecycle: same as ivfTopK/minedPairs — shared between the
    // eager codebook fits and the RETURNED lazy encode plan, which
    // references it; released by the caller's action + clearCache()
    // (Bench/Verify do). An unpersist-in-finally here would serve only
    // the fits and leave the returned plan recomputing prepared() plus
    // all 4 subspace encode chains uncached.
    val n0 = prepared(embeddings).cache()
    // the whole PQ pipeline (fit, encode, LUT, PqM-way join chain) is
    // many small stages over the corpus cache: run it at the fit's
    // row-count-derived parallelism (fitCoalesce) — full fan-out at
    // corpus scale, no 32-task waves over 60-row partitions at test
    // scale
    val n = fitCoalesce(n0, n0.count())
    val cents = fitAllSubCodebooks(n)
    val assigned = (0 until PqM).map { m =>
      encodeSub(pqSub(n, m), cents(m), m)
    }
    val joined = assigned.reduceLeft((a, b) => a.join(b, "vec_id"))
    joined.select(
        col("vec_id"),
        concat_ws(",", (0 until PqM).map(m => col(s"code$m").cast("string")): _*)
          .as("codes_csv"),
        (0 until PqM).map(m => col(s"dist$m")).reduceLeft(_ + _).as("recon_err_l2sq"))
      .orderBy("vec_id")
  }

  val AdcQueries = 8
  val AdcK = 10

  /** PQ search by asymmetric distance computation (ADC): the query
    * batch (first AdcQueries vectors by id — the online request) is
    * compared against the PQ-CODED corpus, never the float vectors.
    * Per query, the distance to each of the PqM × PqK codebook entries
    * is precomputed once (a 512-row broadcast lookup table); a coded
    * vector's approximate distance is then PqM table lookups + a
    * fixed-order sum — the evaluation cost that makes billion-vector
    * search feasible, since the scan side touches only 4 small ints
    * per vector. Top-k per query via the bounded-heap aggregate.
    * Scores are exact IEEE sums of oracle-identical terms, so the
    * result hash-matches bit-for-bit. */
  def adcTopK(embeddings: DataFrame, k: Int = AdcK): DataFrame = {
    // cache lifecycle: kept alive for the returned plan, like pqCodes
    val n0 = prepared(embeddings).cache()
    val n = fitCoalesce(n0, n0.count()) // see pqCodes — same rationale
    val queries = n.orderBy("vec_id").limit(AdcQueries)
        .select(col("vec_id").as("query_id"), col("v"))
      val allCents = fitAllSubCodebooks(n)
      val parts = (0 until PqM).map { m =>
        val sub = pqSub(n, m)
        val cents = allCents(m)
        val codes = encodeSub(sub, cents, m)
        val qsub = queries.select(col("query_id"),
          expr(s"slice(v, ${m * SubDim + 1}, $SubDim)").as("sv"))
        val lut = qsub.join(broadcast(cents))
          .select(col("query_id"), col("cid"), pqL2.as(s"d$m"))
        codes.join(broadcast(lut), codes(s"code$m") === lut("cid"))
          .select(col("vec_id"), col("query_id"), col(s"d$m"))
      }
      val joined = parts.reduceLeft((a, b) => a.join(b, Seq("vec_id", "query_id")))
      val scored = joined
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (0 until PqM).map(m => col(s"d$m")).reduceLeft(_ + _).as("adc_dist"))
      scored.groupBy("query_id")
        .agg(call_function("top_k_by", -col("adc_dist"), col("neighbor_id"), lit(k)).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("e.id").as("neighbor_id"),
          // + 0.0: same -0.0 canonicalization as encodeSub
          (-col("e.score") + lit(0.0)).as("adc_dist"))
        .orderBy("query_id", "rnk")
  }

  private def sqlSubL2(sv: String, cv: String) =
    s"list_reduce(list_transform(generate_series(1, $SubDim), " +
      s"i -> ($sv[i] - $cv[i]) * ($sv[i] - $cv[i])), (x, y) -> x + y)"

  /** Shared oracle CTE chain for the PQ fit+encode: per subspace m,
    * `sub$m` (slices), the `c${m}_i` Lloyd chain, and `f$m`
    * (vec_id, code$m, dist$m) — same pinned-order arithmetic as the
    * Scala fit. */
  private def sqlPqCtes: String =
    (0 until PqM).map { m =>
      val lo = m * SubDim + 1
      val hi = lo + SubDim - 1
      val fit = (1 to PqIters).map { i =>
        s"""s${m}_$i AS (
              SELECT q.vec_id, c.cid, ${sqlSubL2("q.sv", "c.cv")} AS dist
              FROM sub$m q CROSS JOIN c${m}_${i - 1} c),
            a${m}_$i AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid) AS rn
                FROM s${m}_$i) WHERE rn = 1),
            m${m}_$i AS (
              SELECT a.cid, d.d AS d,
                list_reduce(list(q.sv[d.d] ORDER BY q.vec_id), (x, y) -> x + y)
                  / count(*) AS m
              FROM a${m}_$i a JOIN sub$m q USING (vec_id)
              CROSS JOIN generate_series(1, $SubDim) d(d)
              GROUP BY a.cid, d.d),
            c${m}_$i AS (SELECT cid, list(m ORDER BY d) AS cv FROM m${m}_$i GROUP BY cid)"""
      }.mkString(",\n")
      s"""sub$m AS (SELECT vec_id, v[$lo:$hi] AS sv FROM n),
          c${m}_0 AS (SELECT cid, cv FROM (
                 SELECT vec_id AS cid, sv AS cv,
                   row_number() OVER (ORDER BY vec_id) AS rn
                 FROM sub$m)
               WHERE rn <= $PqK),
          $fit,
          f$m AS (
            SELECT vec_id, cid AS code$m, dist AS dist$m FROM (
              SELECT q.vec_id, c.cid, ${sqlSubL2("q.sv", "c.cv")} AS dist,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${sqlSubL2("q.sv", "c.cv")} ASC, c.cid) AS rn
              FROM sub$m q CROSS JOIN c${m}_$PqIters c) WHERE rn = 1)"""
    }.mkString(",\n")

  /** DuckDB twin of the PQ fit+encode (same pinned-order arithmetic). */
  def sqlPqCodes: String = {
    val joins = (1 until PqM).map(m => s"JOIN f$m USING (vec_id)").mkString(" ")
    val csv = (0 until PqM).map(m => s"CAST(code$m AS VARCHAR)").mkString(" || ',' || ")
    val err = (0 until PqM).map(m => s"dist$m").mkString(" + ")
    s"""WITH $sqlPrepared,
        $sqlPqCtes
        SELECT vec_id, $csv AS codes_csv, $err AS recon_err_l2sq
        FROM f0 $joins ORDER BY vec_id"""
  }

  /** DuckDB twin of the ADC top-k (same LUT + fixed-order sum). */
  def sqlAdcTopK(k: Int = AdcK): String = {
    val luts = (0 until PqM).map { m =>
      val lo = m * SubDim + 1
      val hi = lo + SubDim - 1
      s"""qsub$m AS (SELECT q.query_id, n.v[$lo:$hi] AS sv
                     FROM q JOIN n ON n.vec_id = q.query_id),
          lut$m AS (SELECT s.query_id, c.cid, ${sqlSubL2("s.sv", "c.cv")} AS d$m
                    FROM qsub$m s CROSS JOIN c${m}_$PqIters c)"""
    }.mkString(",\n")
    val fJoins = (1 until PqM).map(m => s"JOIN f$m USING (vec_id)").mkString(" ")
    val lJoins = (s"JOIN lut0 l0 ON l0.cid = f0.code0" +:
      (1 until PqM).map(m =>
        s"JOIN lut$m l$m ON l$m.cid = f$m.code$m AND l$m.query_id = l0.query_id"))
      .mkString(" ")
    val dsum = (0 until PqM).map(m => s"l$m.d$m").mkString(" + ")
    s"""WITH $sqlPrepared,
        $sqlPqCtes,
        q AS (SELECT vec_id AS query_id FROM n ORDER BY vec_id LIMIT $AdcQueries),
        $luts,
        adc AS (
          SELECT l0.query_id, f0.vec_id AS neighbor_id, $dsum AS adc_dist
          FROM f0 $fJoins $lJoins
          WHERE f0.vec_id <> l0.query_id),
        r AS (SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id)
              AS INTEGER) AS rnk FROM adc)
        SELECT query_id, rnk, neighbor_id, adc_dist FROM r
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  val NumProbes = 4
  val KMeansIters = 2

  /** Deterministic k-means-lite fit: ⌈√n⌉ centroids seeded from the
    * first-√n vectors by id, KMeansIters Lloyd iterations. Assignment
    * is max-cosine (ties → lower centroid id); the centroid update is
    * the per-component mean with the summation order PINNED to vec_id
    * order (sorted collect + left fold) so Spark and the DuckDB oracle
    * produce bit-identical centroids — a group-by double sum would be
    * partial-agg-order nondeterministic.
    *
    * Each iteration's centroids are materialized to the driver and
    * rebroadcast — the model is √n × Dim doubles (16 MB at n = 10⁹),
    * the standard fit-then-broadcast shape, NOT a data-sized collect;
    * it also keeps the lineage flat instead of replicating the fit DAG
    * under every consumer branch. */
  def fitCentroids(embeddings: DataFrame): DataFrame = {
    val n = prepared(embeddings).cache()
    // every action inside the fit loop is eager (collect), so the
    // cache's whole lifecycle is inside this call — no leak outlives it
    try fitFrom(n)
    finally { n.unpersist(); () }
  }

  private def fitFrom(n: DataFrame): DataFrame = {
    val rows = n.count()
    fitFromCounted(fitCoalesce(n, rows), rows)
  }

  private def fitFromCounted(fitN: DataFrame, rows: Long): DataFrame = {
    import fitN.sparkSession.implicits._
    val cCount = math.ceil(math.sqrt(rows.toDouble)).toInt
    // Seed from the first √n rows ORDERED by vec_id (TakeOrderedAndProject
    // — a √n-sized result), not a `vec_id < √n` predicate: id-value
    // predicates assume ids are dense from 0 and can silently yield far
    // fewer (even zero) centroids on sparse or offset id spaces.
    var cents = fitN.orderBy("vec_id").limit(cCount)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // static per-round plans for the Lloyd jobs (round 14, see
    // util.Sessions.staticPlans — collect-punctuated rounds over the
    // coalesced corpus view; AQE re-optimization per round was pure
    // fixed cost)
    graft.util.Sessions.staticPlans(fitN.sparkSession, rows) {
    for (_ <- 0 until KMeansIters) {
      val withNorm = cents.withColumn("cnrm", norm(col("cv")))
      val scored = fitN.join(broadcast(withNorm))
        .select(col("vec_id"), col("cid"),
          (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("ccos"))
      // argmax via the bounded-heap aggregate (map-side combine; a
      // Window would shuffle-sort every (vec, centroid) score row).
      // Same (ccos desc, cid asc) order the oracle's row_number uses.
      val assign = scored.groupBy("vec_id")
        .agg(call_function("top_k_by", col("ccos"), col("cid"), lit(1)).as("top"))
        .select(col("vec_id"), col("top").getItem(0).getField("id").as("cid"))
      val means = assign.join(fitN.select("vec_id", "v"), "vec_id")
        .select(col("cid"), col("vec_id"), posexplode(col("v")).as(Seq("d", "component")))
        .groupBy("cid", "d")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("component")))).as("xs"))
        .select(col("cid"), col("d"),
          (expr("aggregate(xs, 0.0D, (acc, x) -> acc + x.component)") /
            size(col("xs"))).as("m"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("ds"))
        .select(col("cid"), expr("transform(ds, x -> x.m)").as("cv"))
      val fitted = means.as[(Long, Seq[Double])].collect().toSeq
      cents = fitted.toDF("cid", "cv")
    }
    }
    cents
  }

  /** (vec_id, centroid_id, ccos) for every vector × centroid: the fit
    * + broadcast-score frame every IVF-family operator ranks. One
    * definition so assignment semantics (cosine formula, tie order)
    * can never drift between the index writer, the probes, and the
    * quality reports. */
  private def centroidScores(n: DataFrame): DataFrame = {
    // the fit AND the assignment scoring run at row-count-derived
    // parallelism (fitCoalesce): both are many small stages over the
    // corpus cache, and at test scale 32-task waves over ~60-row
    // partitions cost more than the compute they spread (round 14)
    val rows = n.count()
    val nv = fitCoalesce(n, rows)
    scoreAgainst(nv, fitFromCounted(nv, rows).select(col("cid"), col("cv")))
  }

  /** vectors × a FIXED centroid frame (cid, cv) → (vec_id,
    * centroid_id, ccos) — the one cosine-scoring join every IVF
    * consumer (fit-time assignment, probes, streaming append) ranks,
    * so the formula and broadcast shape can never drift between
    * paths. */
  private def scoreAgainst(n: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid").as("centroid_id"), col("cv"))
      .withColumn("cnrm", norm(col("cv")))
    n.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("ccos"))
  }

  /** Hard assignment: rank-1 centroid per vector (ties → lower id,
    * the oracle's row_number order), optionally with its score. */
  private def assignToCentroids(n: DataFrame, withScore: Boolean = false): DataFrame = {
    val top = centroidScores(n).groupBy("vec_id")
      .agg(call_function("top_k_by", col("ccos"), col("centroid_id"), lit(1)).as("top"))
    val base = top.select(col("vec_id"),
      col("top").getItem(0).getField("id").as("centroid_id"),
      col("top").getItem(0).getField("score").as("ccos"))
    if (withScore) base else base.drop("ccos")
  }

  /** Streaming-ingest assignment: rank-1 centroid per NEW vector
    * against a FIXED, already-fitted centroid frame (cid, cv) — the
    * no-refit path an index append uses. Same cosine formula and
    * (score desc, id asc) tie order as every other IVF consumer.
    * Returns index-layout rows (vec_id, centroid_id, v, nrm). */
  def assignToFixedCentroids(embeddings: DataFrame,
                             centroids: DataFrame): DataFrame = {
    val n = prepared(embeddings)
    scoreAgainst(n, centroids)
      .groupBy("vec_id")
      .agg(call_function("top_k_by", col("ccos"), col("centroid_id"), lit(1)).as("top"))
      .select(col("vec_id"), col("top").getItem(0).getField("id").as("centroid_id"))
      .join(n.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
  }

  /** IVF top-k over k-means-fitted centroids: every vector is assigned
    * to its max-cosine centroid; a query probes its NumProbes nearest
    * centroids' buckets only, so the probe touches nprobe/ncentroids
    * of the corpus. */
  /* Cache lifecycle: the prepared projection is cached once and shared
   * between the fit (eager) and the returned probe plan (lazy); the
   * probe plan references it, so it is released when the caller runs
   * its action and unpersists / clearCache()s (Bench and Verify do). */
  def ivfTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val n = prepared(embeddings).cache()
    val scored = centroidScores(n)
    // top-NumProbes centroids per vector via the bounded-heap aggregate
    // (map-side combine) — pos 0 is the assignment, all positions are
    // the probe set; identical to the oracle's row_number ranking.
    val topc = scored.groupBy("vec_id")
      .agg(call_function("top_k_by", col("ccos"), col("centroid_id"),
        lit(NumProbes)).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("vec_id"), col("pos"), col("e.id").as("centroid_id"))
    val assign = topc.filter(col("pos") === 0)
      .select(col("vec_id").as("member_id"), col("centroid_id"))
    val probes = topc
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    probes
      .join(assign, "centroid_id")
      .filter(col("query_id") =!= col("member_id"))
      .select(col("query_id"), col("member_id").as("neighbor_id")).distinct()
      .join(n.as("a"), col("query_id") === col("a.vec_id"))
      .join(n.as("b"), col("neighbor_id") === col("b.vec_id"))
      .select(col("query_id"), col("neighbor_id"), cosine("a", "b"))
      .groupBy("query_id")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("cosine"))
      .orderBy("query_id", "rnk")
  }

  /** Persist the IVF index as a BUCKETED catalog table: (vec_id,
    * centroid_id, v, nrm) bucketed+sorted by centroid_id. This is the
    * concrete form of the 100 TB probe story: with the corpus
    * physically bucketed on centroid_id, a probe join
    * (`probes.join(spark.table(index), "centroid_id")`) reads only
    * matching buckets and needs NO exchange on the corpus side — the
    * small probe frame shuffles to match the bucketing, the
    * billion-vector side never moves. Asserted plan-level in
    * `LlmSpec`. The fit is the same broadcast k-means as [[ivfTopK]];
    * writing is a map-only pass after it. */
  def writeIvfIndex(embeddings: DataFrame, table: String,
                    buckets: Int = 8): Unit = {
    val n = prepared(embeddings).cache()
    try {
      val assign = assignToCentroids(n)
      assign.join(n.select("vec_id", "v", "nrm"), "vec_id")
        .write
        .bucketBy(buckets, "centroid_id")
        .sortBy("centroid_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    } finally { n.unpersist(); () }
  }

  private def dotE(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, $Dim), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Shared oracle CTE chain: prepared vectors, the deterministic
    * k-means fit (same fixed-iteration Lloyd loop as [[fitFrom]]:
    * assignment by max-cosine with ties → lower cid, component means
    * with summation order pinned to vec_id — list ORDER BY + left fold
    * ≡ Spark's sorted collect + aggregate fold), and per-vector
    * centroid scores ranked desc. Ends with `ranked(vec_id,
    * centroid_id, ccos, crnk)`. */
  private def sqlFitRankedCtes: String = {
    val fitCtes = (1 to KMeansIters).map { i =>
      s"""s$i AS (
            SELECT n.vec_id, c.cid,
              ${dotE("n.v", "c.cv")} / (n.nrm * sqrt(${dotE("c.cv", "c.cv")})) AS ccos
            FROM n CROSS JOIN c${i - 1} c),
          a$i AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
              FROM s$i) WHERE rn = 1),
          m$i AS (
            SELECT a.cid, d.d AS d,
              list_reduce(list(n.v[d.d] ORDER BY n.vec_id), (x, y) -> x + y)
                / count(*) AS m
            FROM a$i a JOIN n USING (vec_id)
            CROSS JOIN generate_series(1, $Dim) d(d)
            GROUP BY a.cid, d.d),
          c$i AS (SELECT cid, list(m ORDER BY d) AS cv FROM m$i GROUP BY cid)"""
    }.mkString(",\n")
    s"""$sqlPrepared,
        c0 AS (SELECT cid, cv FROM (
                 SELECT vec_id AS cid, v AS cv,
                   row_number() OVER (ORDER BY vec_id) AS rn,
                   count(*) OVER () AS cnt
                 FROM n)
               WHERE rn <= CAST(ceil(sqrt(cnt)) AS BIGINT)),
        $fitCtes,
        cents AS (SELECT cid AS centroid_id, cv,
                    sqrt(${dotE("cv", "cv")}) AS cnrm FROM c$KMeansIters),
        scored AS (
          SELECT n.vec_id, centroid_id,
            ${dotE("n.v", "cv")} / (nrm * cnrm) AS ccos
          FROM n CROSS JOIN cents),
        ranked AS (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS crnk
          FROM scored)"""
  }

  /** DuckDB twin of the deterministic k-means fit + IVF probe. */
  def sqlIvfTopK(k: Int): String =
    s"""WITH $sqlFitRankedCtes,
        assign AS (SELECT vec_id AS member_id, centroid_id FROM ranked WHERE crnk = 1),
        probes AS (SELECT vec_id AS query_id, centroid_id FROM ranked WHERE crnk <= $NumProbes),
        cand AS (
          SELECT DISTINCT query_id, member_id AS neighbor_id
          FROM probes JOIN assign USING (centroid_id)
          WHERE query_id <> member_id),
        p AS (
          SELECT query_id, neighbor_id, $sqlCosine AS cosine
          FROM cand JOIN n a ON query_id = a.vec_id
                    JOIN n b ON neighbor_id = b.vec_id),
        r AS (SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
              AS INTEGER) AS rnk FROM p)
        SELECT query_id, rnk, neighbor_id, cosine FROM r
        WHERE rnk <= $k ORDER BY query_id, rnk"""

  val PurityK = 10

  /** Embedding-space quality report: for each vector's k nearest
    * neighbors (cosine), how often does the neighbor share the
    * vector's label? High purity = the embedding space respects the
    * labeling; the standard sanity check before trusting embeddings
    * for semantic dedup or retrieval. Aggregated per label.
    *
    * Determinism: the per-label aggregation sums INTEGER match counts
    * (not per-query double fractions), so partial-agg order cannot
    * perturb the result; the single double division happens once per
    * output row. */
  def knnLabelPurity(embeddings: DataFrame, k: Int = PurityK): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    bruteForceTopK(embeddings, k)
      .join(labels.withColumnRenamed("vec_id", "query_id"), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), "neighbor_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_neighbor_rows"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_matches"))
      .select(col("label"), col("n_neighbor_rows"), col("n_matches"),
        (col("n_matches").cast("double") /
          col("n_neighbor_rows").cast("double")).as("purity"))
      .orderBy("label")
  }

  def sqlKnnLabelPurity(k: Int = PurityK): String =
    s"""WITH $sqlPrepared,
        lbl AS (SELECT vec_id, label FROM embeddings),
        p AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            $sqlCosine AS cosine
          FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        r AS (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM p),
        t AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= $k),
        j AS (
          SELECT ql.label,
            CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS m
          FROM t JOIN lbl ql ON t.query_id = ql.vec_id
                 JOIN lbl nl ON t.neighbor_id = nl.vec_id),
        g AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_neighbor_rows,
            CAST(sum(m) AS BIGINT) AS n_matches
          FROM j GROUP BY 1)
        SELECT label, n_neighbor_rows, n_matches,
          CAST(n_matches AS DOUBLE) / CAST(n_neighbor_rows AS DOUBLE) AS purity
        FROM g ORDER BY label"""

  /** Shared ANN-bucketed neighbor/label vote rows (query_id, label,
    * nlabel): same-centroid candidates → top-k by cosine → both
    * endpoint labels joined. [[knnLabelPurityAnn]] aggregates these
    * per label; [[labelSuspects]] per vector — one candidate pipeline,
    * so tie order and bucket shape can never diverge between them.
    * Cache lifecycle: prepared() is shared between the eager fit and
    * the returned lazy plan; released by the caller's clearCache()
    * (Bench/Verify). */
  private def neighborLabelVotes(embeddings: DataFrame, k: Int): DataFrame = {
    val n = prepared(embeddings).cache()
    val labels = embeddings.select(col("vec_id"), col("label"))
    val assign = assignToCentroids(n)
    val withV = assign.join(n.select("vec_id", "v", "nrm"), "vec_id")
    val pairs = withV.as("a").join(withV.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"), cosine("a", "b"))
    pairs.groupBy("query_id")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"))
      .join(labels.withColumnRenamed("vec_id", "query_id"), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), "neighbor_id")
      .select("query_id", "label", "nlabel")
  }

  /** Scale-safe twin of [[knnLabelPurity]]: identical per-label purity
    * report, but the neighbor lists come from IVF-bucketed candidates
    * (same-centroid members only — the [[minedPairs]] candidate shape)
    * instead of the exact all-pairs join. Per query, top-k by cosine
    * WITHIN its centroid bucket via the bounded-heap aggregate.
    *
    * 100 TB shape: the fit is the broadcast k-means; assignment is a
    * map-only pass; the pair space is per-bucket (n/√n rows each →
    * n^1.5 total work, partitionable by centroid_id), never the n² of
    * the exact baseline. Neighbors outside the query's bucket are
    * missed by design — the same recall trade as IVF probes, and the
    * purity signal (do nearby vectors share the label?) is if anything
    * SHARPER on within-cluster neighbors. Queries in singleton buckets
    * contribute no neighbor rows (the oracle does the same). */
  def knnLabelPurityAnn(embeddings: DataFrame, k: Int = PurityK): DataFrame =
    neighborLabelVotes(embeddings, k)
      .groupBy("label")
      .agg(count(lit(1)).as("n_neighbor_rows"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_matches"))
      .select(col("label"), col("n_neighbor_rows"), col("n_matches"),
        (col("n_matches").cast("double") /
          col("n_neighbor_rows").cast("double")).as("purity"))
      .orderBy("label")

  /** Shared SQL twin of [[neighborLabelVotes]]: CTEs ending in
    * `j(query_id, label, m)` where m = 1 iff the neighbor agrees. */
  private def sqlVoteCtes(k: Int): String =
    s"""$sqlFitRankedCtes,
        assign AS (SELECT vec_id, centroid_id FROM ranked WHERE crnk = 1),
        lbl AS (SELECT vec_id, label FROM embeddings),
        p AS (
          SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
            $sqlCosine AS cosine
          FROM assign x JOIN assign y
            ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id
          JOIN n a ON x.vec_id = a.vec_id
          JOIN n b ON y.vec_id = b.vec_id),
        r AS (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM p),
        t AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= $k),
        j AS (
          SELECT t.query_id, ql.label,
            CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS m
          FROM t JOIN lbl ql ON t.query_id = ql.vec_id
                 JOIN lbl nl ON t.neighbor_id = nl.vec_id)"""

  def sqlKnnLabelPurityAnn(k: Int = PurityK): String =
    s"""WITH ${sqlVoteCtes(k)},
        g AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_neighbor_rows,
            CAST(sum(m) AS BIGINT) AS n_matches
          FROM j GROUP BY 1)
        SELECT label, n_neighbor_rows, n_matches,
          CAST(n_matches AS DOUBLE) / CAST(n_neighbor_rows AS DOUBLE) AS purity
        FROM g ORDER BY label"""

  /** Mislabeled-sample detection: vectors whose IVF-bucketed kNN
    * neighborhood votes AGAINST their own label (strict minority
    * agreement, integer test 2·agree < n — no float threshold to
    * disagree across engines). The confident-learning-style triage
    * list a labeling pipeline reviews first; same bucketed candidate
    * shape as [[knnLabelPurityAnn]], aggregated per vector instead of
    * per label. */
  def labelSuspects(embeddings: DataFrame, k: Int = PurityK): DataFrame =
    neighborLabelVotes(embeddings, k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .filter(col("n_agree") * 2 < col("n_neighbors"))
      .select(col("query_id"), col("label"), col("n_neighbors"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_neighbors").cast("double"))
          .as("agreement"))
      .orderBy("query_id")

  def sqlLabelSuspects(k: Int = PurityK): String =
    s"""WITH ${sqlVoteCtes(k)},
        g AS (
          SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_neighbors,
            CAST(sum(m) AS BIGINT) AS n_agree
          FROM j GROUP BY 1, 2)
        SELECT query_id, label, n_neighbors, n_agree,
          CAST(n_agree AS DOUBLE) / CAST(n_neighbors AS DOUBLE) AS agreement
        FROM g WHERE n_agree * 2 < n_neighbors
        ORDER BY query_id"""

  /** Clustering-quality report over the k-means fit: per centroid,
    * member count, mean and min cosine-to-centroid. The "is the
    * embedding space clusterable / is the fit any good" table read
    * before trusting IVF probes or SemDeDup pruning.
    *
    * Determinism: the per-centroid mean pins its summation order to
    * vec_id (sorted collect + left fold — bucket-sized lists, ~√n
    * rows each), same trick as the fit's component means; min is
    * order-free. */
  def clusterQuality(embeddings: DataFrame): DataFrame = {
    val n = prepared(embeddings).cache()
    val assign = assignToCentroids(n, withScore = true)
    assign.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(struct(col("vec_id"), col("ccos")))).as("xs"),
        min(col("ccos")).as("min_cos"))
      .select(col("centroid_id"), col("n_members"),
        (expr("aggregate(xs, 0.0D, (acc, x) -> acc + x.ccos)") /
          col("n_members")).as("avg_cos"),
        col("min_cos"))
      .orderBy("centroid_id")
  }

  def sqlClusterQuality(): String =
    s"""WITH $sqlFitRankedCtes,
        a AS (SELECT vec_id, centroid_id, ccos FROM ranked WHERE crnk = 1)
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
          list_reduce(list(ccos ORDER BY vec_id), (x, y) -> x + y)
            / count(*) AS avg_cos,
          min(ccos) AS min_cos
        FROM a GROUP BY 1 ORDER BY 1"""

  /** Cross-table curation report: per embedding centroid, the TEXT
    * quality of its member documents (vec_id ↔ doc_id) — "are
    * embedding clusters quality-homogeneous, and which clusters hold
    * the junk?" This turns SemDeDup's cluster structure into a
    * corpus-level decision (drop or downsample whole low-quality
    * clusters before any per-document pass). Quality is integerized
    * once (floor(q·10⁴)) so the per-centroid sums are exact integers;
    * the mean divides exact numbers in a fixed order. One assignment
    * pass + one doc-keyed join + one hash aggregate. */
  def clusterTextQuality(embeddings: DataFrame,
                         documents: DataFrame): DataFrame = {
    val n = prepared(embeddings).cache()
    val assign = assignToCentroids(n)
    val q = TextStats.textStatsUnordered(documents)
      .select(col("doc_id").as("vec_id"),
        floor(col("quality_score") * 10000).cast("long").as("qi"))
    assign.join(q, "vec_id")
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"), sum(col("qi")).as("q_sum"),
        min(col("qi")).as("q_min"), max(col("qi")).as("q_max"))
      .select(col("centroid_id"), col("n_members"),
        (col("q_sum").cast("double") / col("n_members").cast("double") / 10000.0)
          .as("mean_quality"),
        (col("q_min").cast("double") / 10000.0).as("min_quality"),
        (col("q_max").cast("double") / 10000.0).as("max_quality"))
      .orderBy("centroid_id")
  }

  def sqlClusterTextQuality(): String =
    s"""WITH $sqlFitRankedCtes,
        a AS (SELECT vec_id, centroid_id FROM ranked WHERE crnk = 1),
        stats AS (${TextStats.sqlTextStats}),
        q AS (SELECT doc_id AS vec_id,
                CAST(floor(quality_score * 10000) AS BIGINT) AS qi
              FROM stats),
        g AS (
          SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
            CAST(sum(qi) AS BIGINT) AS q_sum,
            CAST(min(qi) AS BIGINT) AS q_min, CAST(max(qi) AS BIGINT) AS q_max
          FROM a JOIN q USING (vec_id) GROUP BY 1)
        SELECT centroid_id, n_members,
          CAST(q_sum AS DOUBLE) / CAST(n_members AS DOUBLE) / 10000.0
            AS mean_quality,
          CAST(q_min AS DOUBLE) / 10000.0 AS min_quality,
          CAST(q_max AS DOUBLE) / 10000.0 AS max_quality
        FROM g ORDER BY 1"""

  val SemDedupThreshold = 0.4

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster
    * the embedding space, then prune near-duplicates WITHIN each
    * cluster only. A vector is dropped iff an earlier (lower-id)
    * vector in the SAME centroid bucket has cosine ≥ threshold;
    * `dup_of` records the smallest such earlier id (-1 if kept).
    *
    * 100 TB shape: the fit is the broadcast k-means above; assignment
    * is a map-only pass; the pairwise pruning is confined to single
    * centroid buckets (n/√n rows each), so total pairwise work is
    * n^1.5 / corpus-partitionable by centroid_id — never the n² of
    * the exact all-pairs baseline. Cross-bucket near-dups are missed
    * by design (documented recall trade, same as IVF probes). */
  def semanticDedup(embeddings: DataFrame,
                    threshold: Double = SemDedupThreshold): DataFrame = {
    // same cache lifecycle as ivfTopK: shared between the eager fit and
    // the returned lazy plan; released by the caller's clearCache()
    val n = prepared(embeddings).cache()
    val assign = assignToCentroids(n)
    val withV = assign.join(n.select("vec_id", "v", "nrm"), "vec_id")
    val dups = withV.as("a").join(withV.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("earlier"),
        cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id").agg(min(col("earlier")).as("d"))
    assign.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("d"), lit(-1L)).as("dup_of"),
        col("d").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val HardNegK = 3

  /** Hard-negative mining for contrastive training: per vector, the k
    * most-similar vectors with a DIFFERENT label — the pairs a
    * metric-learning loss learns the most from. Candidate generation
    * reuses the IVF bucketing (same-centroid members only, the
    * SemDeDup shape), so the pair space is per-bucket, never the n²
    * corpus; the label-mismatch filter rides the same join; top-k per
    * query via the bounded-heap aggregate. Neighbor labels re-join
    * after the heap (the heap carries only ids). */
  def hardNegatives(embeddings: DataFrame, k: Int = HardNegK): DataFrame =
    minedPairs(embeddings, k, sameLabel = false, "neg_label")

  /** Positive-pair mining — the other half of a contrastive batch:
    * per vector, the k most-similar SAME-label vectors (anchor,
    * positive). Identical IVF-bucketed candidate shape; only the label
    * predicate flips. */
  def positivePairs(embeddings: DataFrame, k: Int = HardNegK): DataFrame =
    minedPairs(embeddings, k, sameLabel = true, "pos_label")

  private def minedPairs(embeddings: DataFrame, k: Int,
                         sameLabel: Boolean, partnerCol: String): DataFrame = {
    // same cache lifecycle as ivfTopK/semanticDedup: shared between the
    // eager fit and the returned lazy plan; released by the caller
    val n = prepared(embeddings).cache()
    val labels = embeddings.select(col("vec_id"), col("label"))
    val assign = assignToCentroids(n)
    val withV = assign.join(n.select("vec_id", "v", "nrm"), "vec_id")
      .join(labels, "vec_id")
    val labelPred =
      if (sameLabel) col("a.label") === col("b.label")
      else col("a.label") =!= col("b.label")
    val pairs = withV.as("a").join(withV.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") =!= col("b.vec_id") && labelPred)
      .select(col("a.vec_id").as("query_id"), col("a.label").as("label"),
        col("b.vec_id").as("neighbor_id"), cosine("a", "b"))
    pairs.groupBy("query_id", "label")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), col("label"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("label"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("e.id").as("neighbor_id"), col("e.score").as("cosine"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as(partnerCol)), "neighbor_id")
      .select("query_id", "label", "rnk", "neighbor_id", partnerCol, "cosine")
      .orderBy("query_id", "rnk")
  }

  def sqlHardNegatives(k: Int = HardNegK): String =
    sqlMinedPairs(k, "<>", "neg_label")

  def sqlPositivePairs(k: Int = HardNegK): String =
    sqlMinedPairs(k, "=", "pos_label")

  private def sqlMinedPairs(k: Int, labelOp: String, partnerCol: String): String =
    s"""WITH $sqlFitRankedCtes,
        assign AS (SELECT vec_id, centroid_id FROM ranked WHERE crnk = 1),
        lbl AS (SELECT vec_id, label FROM embeddings),
        pair AS (
          SELECT x.vec_id AS query_id, xl.label AS label,
            y.vec_id AS neighbor_id, yl.label AS $partnerCol,
            $sqlCosine AS cosine
          FROM assign x JOIN assign y
            ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id
          JOIN lbl xl ON x.vec_id = xl.vec_id
          JOIN lbl yl ON y.vec_id = yl.vec_id AND yl.label $labelOp xl.label
          JOIN n a ON x.vec_id = a.vec_id
          JOIN n b ON y.vec_id = b.vec_id),
        r AS (SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
              AS INTEGER) AS rnk FROM pair)
        SELECT query_id, label, rnk, neighbor_id, $partnerCol, cosine
        FROM r WHERE rnk <= $k ORDER BY query_id, rnk"""

  def sqlSemanticDedup(threshold: Double = SemDedupThreshold): String =
    s"""WITH $sqlFitRankedCtes,
        assign AS (SELECT vec_id, centroid_id FROM ranked WHERE crnk = 1),
        pair AS (
          SELECT y.vec_id AS vec_id, x.vec_id AS earlier, $sqlCosine AS cosine
          FROM assign x JOIN assign y
            ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
          JOIN n a ON x.vec_id = a.vec_id
          JOIN n b ON y.vec_id = b.vec_id),
        d AS (
          SELECT vec_id, min(earlier) AS d FROM pair
          WHERE cosine >= $threshold GROUP BY 1)
        SELECT assign.vec_id, assign.centroid_id,
          CAST(coalesce(d.d, -1) AS BIGINT) AS dup_of,
          d.d IS NULL AS keep
        FROM assign LEFT JOIN d USING (vec_id)
        ORDER BY assign.vec_id"""

  // ---- ANN recall evaluation ----------------------------------------

  val RecallSampleMod = 20
  val RecallMaxQueries = 500
  val RecallK = 10

  /** IVF recall@k report — the evaluation harness every ANN index
    * needs before anyone trusts it: for a deterministic query sample,
    * compare [[ivfTopK]]'s neighbor set against the EXACT top-k and
    * report hits per query.
    *
    * The ground-truth side is sampled-queries × corpus — the one
    * deliberate quadratic-looking shape here, and exactly how recall
    * is measured in practice. The sample is a HARD FIXED budget, not
    * a proportion: the smallest [[RecallMaxQueries]] vec_ids that are
    * ≡ 0 (mod [[RecallSampleMod]]) — a TakeOrdered of ≤ 500 rows — so
    * ground-truth cost is bounded-q·n map work at ANY corpus size,
    * with the bounded-heap aggregate keeping ≤ k rows per query per
    * map partition off each scan. Declared in PlanAudit.allowlist as
    * an evaluation harness. */
  def ivfRecall(embeddings: DataFrame, k: Int = RecallK): DataFrame = {
    val n = prepared(embeddings).cache()
    val q = n.filter(pmod(col("vec_id"), lit(RecallSampleMod)) === 0)
      .orderBy("vec_id").limit(RecallMaxQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = q.join(n, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
      .groupBy("query_id")
      .agg(call_function("top_k_by", col("cosine"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"))
    val approx = ivfTopK(embeddings, k)
      .filter(pmod(col("query_id"), lit(RecallSampleMod)) === 0)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  def sqlIvfRecall(k: Int = RecallK): String =
    s"""WITH $sqlPrepared,
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
              WHERE vec_id % $RecallSampleMod = 0
              ORDER BY vec_id LIMIT $RecallMaxQueries),
        ex AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(generate_series(1, $Dim),
                  i -> qv[i] * v[i]), (x, y) -> x + y) / (qn * nrm) DESC,
                n.vec_id ASC) AS rnk
            FROM q JOIN n ON n.vec_id <> q.query_id)
          WHERE rnk <= $k),
        iv AS (SELECT query_id, neighbor_id FROM (${sqlIvfTopK(k)})
               WHERE query_id % $RecallSampleMod = 0),
        j AS (
          SELECT ex.query_id,
            CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ex LEFT JOIN iv
            ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id)
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
          CAST(sum(hit) AS BIGINT) AS n_hit,
          CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        FROM j GROUP BY 1 ORDER BY 1"""
}

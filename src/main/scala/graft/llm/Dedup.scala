package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.BatchState

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash.
  *
  * Everything is hash-portable: the hash family is md5 (identical in
  * Spark and DuckDB), so every stage — including the MinHash signatures
  * and the SimHash fingerprints — is oracle-checkable bit-for-bit.
  *
  * Scale design (100 TB):
  *  - exact dedup = one hash-aggregate on a 32-byte digest, shuffled by
  *    digest — no text payload crosses the wire beyond the first map.
  *  - jaccardPairs is a set-similarity join (explode → co-group by
  *    shingle → pair counts), NOT an O(n²) cross join; the shuffle key
  *    is the shingle, so hot shingles are the skew concern — AQE skew
  *    handling plus the distinct-per-doc projection bound it.
  *  - MinHash-LSH reduces pair generation to per-bucket joins; band
  *    buckets are the shuffle key, bucket sizes are tiny under uniform
  *    hashing.
  *  - SimHash near-dup uses Hamming-LSH banding (4×16-bit bands of a
  *    64-bit fingerprint): full recall is GUARANTEED for hamming ≤ 3
  *    (pigeonhole — 3 differing bits cannot touch all 4 bands), and the
  *    join key space is 2^16 per band, so no per-language quadratic
  *    self-join survives anywhere.
  */
object Dedup {

  /** Exact dedup: one representative (min doc_id) per distinct text. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"))
      .select("doc_id", "content_hash", "n_copies")
      .orderBy("doc_id")

  val sqlExactDedup: String =
    """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
       count(*) AS n_copies
       FROM documents GROUP BY md5(text) ORDER BY doc_id"""

  /** The dedup DECISION RECORD — the per-document artifact a pipeline
    * actually materializes and filters by ([[exactDedup]] emits one
    * representative per distinct text; this emits EVERY document with
    * its verdict): canonical_id = min doc_id of the content-hash
    * group, is_canonical = the keep/drop flag, n_copies for loss
    * accounting. One hash-partitioned window (NULL texts group
    * together identically in both engines — no join, so no NULL-key
    * row drop); at 100 TB this is a single shuffle on the fingerprint
    * and the output co-partitions with any downstream per-doc filter. */
  def dedupDecision(documents: DataFrame,
                    ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text")))
    val core = documents
      .select(col("doc_id"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("n_copies"))
      .withColumn("is_canonical",
        col("doc_id") === col("canonical_id"))
    // composite consumers (curationLedger) skip the publication sort:
    // a join input's range exchange is pure waste
    if (ordered) core.orderBy(col("doc_id").asc_nulls_first) else core
  }

  val sqlDedupDecision: String =
    """SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
       FROM documents ORDER BY doc_id NULLS FIRST"""

  /** N-gram Jaccard near-dup pairs above a threshold, via the
    * set-similarity join (intersection counts from a co-group on the
    * shingle, sizes joined back).
    *
    * Skew exposure (the set-similarity join's known failure mode): a
    * shingle appearing in df documents contributes O(df²) intermediate
    * pairs, so one corpus-boilerplate trigram can dominate the whole
    * join. Measured on this corpus's generator (DuckDB over the same
    * shingle definition): sf0.1 has 27,213 distinct shingles, max
    * df = 25, Σdf² = 2.79 M intermediate pairs (59 shingles above
    * df 20 contribute 28 k) — benign HERE because the generator makes
    * near-dup clusters, not boilerplate. Real web text is not so kind;
    * [[jaccardPairsCapped]] is the declared scale path: it drops
    * stop-shingles (df > maxPosting) before the self-join, the same
    * IR stop-list move as [[containmentPairs]], trading away only
    * pairs whose evidence is corpus-wide boilerplate.
    *
    * This exact variant stays UNCAPPED by design — it is the declared
    * ground-truth baseline that `q_minhash_lsh`'s recall is read
    * against, so its semantics must remain exact Jaccard. */
  def jaccardPairs(documents: DataFrame, threshold: Double): DataFrame = {
    // cached: the shingle explode feeds both sides of the self-join and
    // Spark does not share subplans (caller-released lifecycle — Bench/
    // Verify clearCache; at scale this is the materialized posting table).
    // Round 14: each exploded row carries the doc's set size `n`
    // (already computed by docShingles — zero extra work), so the join
    // can ratio-prune pairs and the aggregate can carry the sizes,
    // removing both post-aggregate size joins (see jaccardPairsImpl).
    val s = sizedShingleSets(documents).cache()
    jaccardPairsImpl(s, threshold)
  }

  /** (doc_id, n, sh) — the exploded shingle frame with the document's
    * FULL distinct-shingle count on every row. `n` comes from
    * docShingles' array length, so it is the pre-any-filter set size
    * whatever a caller later drops (the capped variant's stop-shingle
    * filter relies on exactly that). */
  private def sizedShingleSets(documents: DataFrame): DataFrame =
    TextPrep.docShingles(documents)
      .select(col("doc_id"), col("n"), explode(col("shs")).as("sh"))

  /** Scale twin: exact Jaccard arithmetic over stop-shingle-filtered
    * sets. `n` (the set size) still counts ALL shingles — only the
    * intersection evidence is capped, so the score is a LOWER bound on
    * true Jaccard (a pair can only be missed, never inflated past its
    * exact value; monotone in df like the containment cap). Max
    * posting-list length after the filter is ≤ maxPosting by
    * construction, so the join's worst bucket is maxPosting² rows
    * whatever the corpus does. */
  def jaccardPairsCapped(documents: DataFrame, threshold: Double,
                         maxPosting: Int = MaxPostingDocs): DataFrame = {
    // cached: consumed three times (df count + both join sides)
    val s = sizedShingleSets(documents).cache()
    val keep = s.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPosting).select("sh")
    // `n` rides every row from the PRE-filter frame (it must count ALL
    // shingles — only the intersection evidence is capped)
    jaccardPairsImpl(s.join(keep, "sh"), threshold)
  }

  /** The set-similarity join core over a sized shingle frame
    * (doc_id, n, sh). Round 14 (guide §3 pre-filter, §2.3):
    *
    *  - SIZE-RATIO PRUNE in the join condition: J(A,B) =
    *    i/(na+nb−i) ≤ min(na,nb)/max(na,nb) because i ≤ min(na,nb)
    *    (true for the capped variant too — capping only lowers i), so
    *    a pair with min < t·max can never reach the threshold and is
    *    dropped BEFORE the pair rows enter the group-by exchange. The
    *    1e-9 slack only ever KEEPS borderline pairs (they are then
    *    decided by the exact final filter), never drops one.
    *  - sizes ride the aggregate (min over a per-doc-constant column)
    *    instead of two post-aggregate joins back onto the sizes frame
    *    — two fewer joins/exchanges in the plan tail, same integers.
    */
  private def jaccardPairsImpl(sn: DataFrame,
                               threshold: Double): DataFrame = {
    sn.as("a")
      .join(sn.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            lit(threshold) * greatest(col("a.n"), col("b.n")).cast("double")
              - lit(1e-9))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  def sqlJaccardPairs(threshold: Double): String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold
        ORDER BY doc_a, doc_b"""

  def sqlJaccardPairsCapped(threshold: Double,
                            maxPosting: Int = MaxPostingDocs): String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        keep AS (SELECT sh FROM s GROUP BY sh HAVING count(*) <= $maxPosting),
        sk AS (SELECT s.doc_id, s.sh FROM s JOIN keep USING (sh)),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sk a JOIN sk b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold
        ORDER BY doc_a, doc_b"""

  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand: Int = NumHashes / NumBands

  /** MinHash signature `sig` of NumHashes slots: per seed i, min over
    * the doc's shingle set of h_i(sh) = (a(sh) + i·b(sh)) mod P, where
    * a/b are the md5-derived base hashes from docShingles. Computed by
    * the native minhash_sigs expression in one pass — row-local, no
    * shuffle. */
  private def signaturesFrom(docsPrep: DataFrame): DataFrame =
    docsPrep.select(col("doc_id"),
      call_function("minhash_sigs", col("ha"), col("hb"), lit(NumHashes)).as("sig"))

  /** LSH banding: hash each run of RowsPerBand signature slots to a
    * bucket key; docs sharing any (band, bucket) become candidates. */
  private def bandKeys(sig: DataFrame): DataFrame = {
    val bands = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",",
          (0 until RowsPerBand).map(r => col("sig").getItem(b * RowsPerBand + r)): _*)
          .as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** MinHash+LSH near-dup detection: candidates from shared band
    * buckets, verified with exact Jaccard. Output is every candidate
    * pair with its true Jaccard — bit-portable to the oracle.
    *
    * The plan re-derives shingles per branch (4 scans of the text
    * column): the prep is one compiled md5 pass per row, so locally
    * recomputation beats materialization. At corpus scale, write the
    * signature index ONCE with [[writeShingleIndex]] and run
    * [[minhashLshPairsFromIndex]] over it — the standard two-stage
    * dedup pipeline (index build, then pair generation reads compact
    * signatures instead of re-scanning 100 TB of text 4×). */
  def minhashLshPairs(documents: DataFrame): DataFrame =
    minhashLshPairsUnordered(documents).orderBy("doc_a", "doc_b")

  /** Unordered pair core for consumers that cache/checkpoint the edge
    * list (dupClusters, triangleStats, dupPageRank): a presentation
    * sort baked under a cache boundary executes a full range-shuffle
    * the optimizer can no longer prune — pure waste for an edge SET. */
  private[llm] def minhashLshPairsUnordered(documents: DataFrame): DataFrame =
    pairsFrom(TextPrep.docShingles(documents))

  /** Stage 1 at scale: persist (doc_id, shs, ha, hb, n) PLUS the
    * precomputed MinHash signature array as the dedup index —
    * signatures are ~100× smaller than the text, and storing `sig`
    * means no later stage ever re-runs the 16 shingle-set
    * minimizations over the corpus. */
  /** (doc_id, lang, shs, ha, hb, n, sig) — the persisted index layout. */
  private def indexFrame(documents: DataFrame): DataFrame = {
    TextPrep.docShingles(documents)
      .withColumn("sig",
        call_function("minhash_sigs", col("ha"), col("hb"), lit(NumHashes)))
  }

  def writeShingleIndex(documents: DataFrame, path: String): Unit = {
    // micro_batch_id = -1 marks the bulk build; the streaming loop's
    // per-batch appends land next to it in micro_batch_id = N
    // partitions (the BatchState layout), so bulk-built and
    // incrementally-grown indexes share one layout (partition discovery
    // rejects a dir mixing bare files with partition subdirs). The
    // lease refuses to START a build over an index another writer
    // holds; the static overwrite then wipes the dir INCLUDING the
    // lease — a bulk build is the destructive provisioning step by
    // definition, not a concurrent-maintenance one, so protection
    // during it is not claimed.
    BatchState.underLease(documents.sparkSession, path, "build") {
      indexFrame(documents).withColumn(BatchState.PartitionCol, lit(-1L))
        .write.mode("overwrite").partitionBy(BatchState.PartitionCol).parquet(path)
    }
  }

  /** Idempotent per-batch index append through
    * [[BatchState.writeBatchIdempotent]], so a crash-replay of
    * micro-batch N REPLACES its own partition instead of duplicating
    * it — the exactly-once half of the streaming dedup loop. Takes the
    * shared state write lease: an append racing
    * [[BatchState.compactState]] fails loudly, a crash-replay of the
    * same batch reclaims its own lease. */
  def appendShingleIndexForBatch(documents: DataFrame, path: String,
                                 batchId: Long): Unit =
    BatchState.underLease(documents.sparkSession, path, s"append:$batchId") {
      BatchState.writeBatchIdempotent(indexFrame(documents), path, batchId)
    }

  /** The persisted shingle index, or None before the first batch has
    * created it — the streaming cold-start path. */
  def readShingleIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[DataFrame] =
    try {
      val idx = spark.read.parquet(path)
      idx.schema // force schema resolution eagerly
      Some(idx)
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Stage 2 at scale: LSH pair generation over a persisted index.
    * Band keys derive from the STORED signatures — projections and
    * concat only, no re-hashing. */
  def minhashLshPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String): DataFrame = {
    val idx = spark.read.parquet(path)
    val cand = candidatesFrom(bandKeys(idx))
    verifyPairs(cand, idx).orderBy("doc_a", "doc_b")
  }

  private def pairsFrom(docs: DataFrame): DataFrame = {
    val cand = candidatesFrom(bandKeys(signaturesFrom(docs)))
    verifyPairs(cand, docs)
  }

  /** Self-join of band keys on (band, bucket); doc_a < doc_b halves
    * the pairs, distinct collapses multi-band collisions. */
  private def candidatesFrom(bk: DataFrame): DataFrame =
    bk.as("x")
      .join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Verification ONLY for LSH candidates (this is the point of LSH:
    * the candidate set, not the corpus, drives the verification cost).
    * array_intersect on the two shingle arrays is row-local. */
  private def verifyPairs(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(docs.select(col("doc_id"), col("shs").as("shs_a"), col("n").as("na")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(docs.select(col("doc_id"), col("shs").as("shs_b"), col("n").as("nb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("i", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))

  /** Incremental dedup of a new batch against a persisted index: only
    * pairs TOUCHING the batch (new-vs-index and new-vs-new) are
    * generated — the index-vs-index pairs were emitted when the index
    * was built. The daily-ingest shape: only the BATCH is hashed
    * (shingles + signatures); the index side contributes its STORED
    * `sig` column, so per-batch hashing cost scales with |batch|, and
    * the index contributes one compact-column scan for the band-key
    * join — never a corpus re-hash. The batch's band keys are the
    * small join side (broadcastable when the batch is). A doc_id
    * present on BOTH sides (the crash-replay state: the batch's
    * survivors already landed in the index before the checkpoint
    * committed) is tolerated — the verify frame dedups by doc_id, so
    * replay emits each pair once, not 2–4×. */
  def minhashLshPairsIncremental(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String,
                                 newDocs: DataFrame): DataFrame = {
    val newPrep = indexFrame(newDocs)
    val newBk = bandKeys(newPrep)
    // Cold start (no index yet): the index side is empty, so pair
    // generation degrades to within-batch dedup — the first batch's
    // survivors then create the index.
    readShingleIndex(spark, indexPath) match {
      case None =>
        verifyPairs(candidatesFrom(newBk), newPrep)
      case Some(idx) =>
        incrementalPairs(idx, newPrep, newBk)
    }
  }

  private def incrementalPairs(idx: DataFrame, newPrep: DataFrame,
                               newBk: DataFrame): DataFrame = {
    val allBk = bandKeys(idx).unionByName(newBk)
    val cand = newBk.as("x")
      .join(allBk.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val shingleCols = Seq("doc_id", "shs", "n").map(col)
    // dropDuplicates on doc_id: a crash-replay of the streaming loop
    // legitimately re-presents a batch whose survivors are ALREADY in
    // the index, and a doc present on both sides would match two rows
    // in each verify join — every qualifying pair emitted 2–4×. The
    // two copies carry identical shingle sets, so keeping either one
    // restores the unique-doc_id contract under replay.
    verifyPairs(cand,
      idx.select(shingleCols: _*).unionByName(newPrep.select(shingleCols: _*))
        .dropDuplicates("doc_id"))
  }

  /** The CTE chain (shingles → signatures → bands → candidates →
    * verified intersections) shared by the pair query and the
    * clustering oracle. */
  private[llm] lazy val sqlMinhashCtes: String = {
    val minCols = (0 until NumHashes)
      .map(i => s"list_min(list_transform(generate_series(1, len(ha)), " +
        s"j -> (ha[j] + $i * hb[j]) % ${TextPrep.HashP})) AS h$i")
      .mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $parts) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""${TextPrep.sqlShingleCtes},
        sig AS (SELECT doc_id, $minCols FROM docs),
        bands AS ($bandSelects),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        verified AS (
          SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(da.shs, db.shs)) AS BIGINT) AS i,
            da.n AS na, db.n AS nb
          FROM cand c JOIN docs da ON c.doc_a = da.doc_id
                      JOIN docs db ON c.doc_b = db.doc_id)"""
  }

  val sqlMinhashLshPairs: String =
    s"""WITH $sqlMinhashCtes
        SELECT doc_a, doc_b,
          CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
        FROM verified ORDER BY doc_a, doc_b"""

  val ClusterThreshold = 0.5

  /** Near-dup clustering: connected components over the MinHash-LSH
    * pair graph (edges = verified pairs with jaccard ≥ threshold),
    * labeling every document with the minimum doc_id in its component.
    * The dedup end-game: keep cluster_id == doc_id representatives,
    * drop the rest.
    *
    * Implementation is iterative min-label propagation: each round,
    * every node takes the min of its own label and its neighbors'.
    * Rounds needed = graph diameter; LSH components are near-cliques
    * (every high-jaccard pair is an edge, not just a spanning tree),
    * so convergence is 1–2 rounds in practice and checked exactly via
    * a changed-label count. Each round is one shuffle of the EDGE
    * list (not the corpus); labels are localCheckpoint'd so lineage
    * stays flat instead of growing per iteration. At pathological
    * diameters (long chains) the large-star/small-star variant
    * [Kiveris et al., SoCC'14] halves rounds — same join shape.
    *
    * Documents with no near-dup edge (or too short to shingle) are
    * singleton clusters of themselves. */
  def dupClusters(documents: DataFrame,
                  threshold: Double = ClusterThreshold,
                  maxRounds: Int = 20): DataFrame = {
    val edges = minhashLshPairsUnordered(documents)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // symmetrize reads the LSH pair generation ONCE (round 14; the old
    // union-with-mirror form evaluated the banding+verify subplan twice)
    val sym = graft.util.Graphs.symmetrize(edges, "doc_a", "doc_b")
      .localCheckpoint() // pair generation runs once, not once per round
    val seed = documents.select(col("doc_id"))
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    // the ONE min-label-propagation loop (shared with entityClusters):
    // fail-loud convergence, per-round checkpoint hygiene, count-based
    // action discipline — see graft.util.Graphs
    val labels = graft.util.Graphs.minLabelPropagate(
      seed, sym, maxRounds, "doc_id", "dupClusters")
    graft.util.Graphs.dropCheckpoint(sym)
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Dedup end-game, quality-aware: per near-dup cluster, keep the
    * HIGHEST-QUALITY document (ties → lowest doc_id) instead of the
    * arbitrary min-id — the representative-selection policy real
    * curation pipelines want (keep the cleanest copy, drop the rest).
    * Reuses the connected components + the textStats quality score;
    * the per-cluster argmax is the bounded-heap top_k_by aggregate
    * (map-side combine, k=1 rows per cluster per map partition reach
    * the shuffle — never a full shuffle-sort of the corpus). */
  def clusterRepresentatives(documents: DataFrame,
                             threshold: Double = ClusterThreshold): DataFrame = {
    val clusters = dupClusters(documents, threshold)
    val quality = TextStats.textStatsUnordered(documents)
      .select("doc_id", "quality_score")
    clusters.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        call_function("top_k_by", col("quality_score"), col("doc_id"), lit(1)).as("top"))
      .select(col("cluster_id"), col("n_members"),
        col("top").getItem(0).getField("id").as("rep_doc_id"),
        col("top").getItem(0).getField("score").as("rep_quality"))
      .orderBy("cluster_id")
  }

  def sqlClusterRepresentatives(threshold: Double = ClusterThreshold): String =
    s"""WITH cl AS (SELECT * FROM (${sqlDupClusters(threshold)}) t),
        q AS (SELECT doc_id, quality_score FROM (${TextStats.sqlTextStats}) s),
        j AS (SELECT cl.cluster_id, cl.doc_id, q.quality_score
              FROM cl JOIN q USING (doc_id)),
        r AS (SELECT *,
            row_number() OVER (PARTITION BY cluster_id
              ORDER BY quality_score DESC, doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j)
        SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
          doc_id AS rep_doc_id, quality_score AS rep_quality
        FROM r WHERE rn = 1 ORDER BY cluster_id"""

  /** DuckDB twin: transitive closure by recursive CTE over the same
    * edge list, cluster = min(self, reachable). */
  def sqlDupClusters(threshold: Double = ClusterThreshold): String =
    s"""WITH RECURSIVE $sqlMinhashCtes,
        edges AS (
          SELECT doc_a, doc_b FROM verified
          WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= $threshold),
        sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM edges
          UNION ALL SELECT doc_b, doc_a FROM edges),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        minr AS (SELECT src, min(dst) AS m FROM reach GROUP BY src)
        SELECT d.doc_id, least(d.doc_id, coalesce(minr.m, d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN minr ON d.doc_id = minr.src
        ORDER BY d.doc_id"""

  val WinnowK = 8
  val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    * rolling Rabin-Karp hashes over character 8-grams, the minimum of
    * every 4-window of gram hashes, distinct minima per document.
    * Guarantees any shared substring of length ≥ k + w - 1 produces a
    * shared fingerprint — the plagiarism/near-dup detection primitive.
    * Row-local native expression (O(n) rolling update), exploded to
    * (doc_id, fp) rows so fingerprint-postings joins are relational. */
  def winnowFingerprints(documents: DataFrame): DataFrame =
    winnowFingerprintsUnordered(documents).orderBy("doc_id", "fp")

  /** Unordered core: containmentPairs caches this token-scale frame,
    * and a baked-in presentation sort would range-shuffle the whole
    * fingerprint table into the cache for nothing. */
  private def winnowFingerprintsUnordered(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"),
        explode(call_function("winnow_fps", col("text"),
          lit(WinnowK), lit(WinnowW))).as("fp"))
  }

  val sqlWinnowFingerprints: String =
    s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        pos AS (
          SELECT doc_id, t, len(t) AS n,
            unnest(generate_series(1, len(t) - $WinnowK + 1)) AS i
          FROM d),
        h AS (
          SELECT doc_id, i, n,
            list_reduce(
              list_transform(generate_series(CAST(i AS INTEGER), CAST(i + $WinnowK - 1 AS INTEGER)),
                x -> CAST(ascii(substr(t, x, 1)) AS BIGINT)),
              (a, c) -> (a * ${graft.functions.TextHash.RollB} + c) % ${TextPrep.HashP}) AS hv
          FROM pos),
        w AS (
          SELECT doc_id, i, n,
            min(hv) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
          FROM h)
        SELECT DISTINCT doc_id, fp FROM w
        WHERE i <= n - $WinnowK + 1 - ${WinnowW - 1}
        ORDER BY doc_id, fp"""

  val MinSharedFps = 2
  val MaxPostingDocs = 20

  /** Cross-document containment detection: pairs of documents sharing
    * ≥ minShared winnowing fingerprints. The winnowing guarantee makes
    * this a CONTAINMENT primitive, not just near-dup: any shared
    * substring of length ≥ k+w-1 chars produces a shared fingerprint,
    * so quotation/boilerplate/cross-posting shows up even when global
    * similarity is near zero — which is why MinHash (a global-Jaccard
    * method) cannot subsume it.
    *
    * Stop-fingerprints: a fingerprint appearing in more than
    * MaxPostingDocs documents is corpus-wide boilerplate, not
    * containment evidence, and its posting list contributes
    * O(df²) join pairs — dropped BEFORE the self-join, the standard
    * IR stop-list move. Without the cap this corpus's hot
    * fingerprints generate 113 M intermediate pairs at sf0.1 (95 s
    * in-suite, measured); with it, 206 k. The cap is what makes the
    * posting join linear-ish in the corpus rather than quadratic in
    * the hottest substring. */
  def containmentPairs(documents: DataFrame,
                       minShared: Int = MinSharedFps,
                       maxPosting: Int = MaxPostingDocs): DataFrame = {
    // cached: consumed three times (df count + both sides of the
    // posting self-join) — the winnow rolling hash would otherwise
    // re-run per consumer
    val fps = winnowFingerprintsUnordered(documents).cache()
    val keep = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPosting)
      .select("fp")
    val rare = fps.join(keep, "fp")
    rare.as("a")
      .join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  def sqlContainmentPairs(minShared: Int = MinSharedFps,
                          maxPosting: Int = MaxPostingDocs): String =
    s"""WITH wf AS (SELECT * FROM ($sqlWinnowFingerprints) t),
        keep AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= $maxPosting),
        rare AS (SELECT wf.* FROM wf JOIN keep USING (fp))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= $minShared
        ORDER BY doc_a, doc_b"""

  /** Corpus snapshot diff: reconcile two crawl snapshots by content
    * hash — added / removed / changed / unchanged per doc_id, the
    * "what did the recrawl do" report that drives incremental
    * re-processing (only added+changed docs re-enter the pipeline).
    * One FULL OUTER join on doc_id; only 32-byte digests shuffle,
    * never the text.
    *
    * The two snapshots are deterministic slices of the documents
    * table (old = id % 3 != 0, new = id % 5 != 0, with id % 7 == 0
    * texts "edited" in the new snapshot), so the oracle can rebuild
    * both sides bit-identically. */
  def corpusDiff(documents: DataFrame): DataFrame = {
    val oldSnap = documents.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("old_hash"))
    val newSnap = documents.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(lit("v2 "), col("text")))
          .otherwise(col("text"))).as("new_hash"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") === col("new_hash"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy("doc_id")
  }

  val sqlCorpusDiff: String =
    """WITH o AS (
         SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id % 3 <> 0),
       n AS (
         SELECT doc_id,
           md5(CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END) AS new_hash
         FROM documents WHERE doc_id % 5 <> 0)
       SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.old_hash IS NULL THEN 'added'
              WHEN n.new_hash IS NULL THEN 'removed'
              WHEN o.old_hash = n.new_hash THEN 'unchanged'
              ELSE 'changed' END AS status
       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
       ORDER BY doc_id"""

  val BigramTopN = 100

  /** Corpus bigram table: the top-N word bigrams by document frequency
    * (distinct per doc — the shingle expression's set semantics), the
    * n-gram statistic LM data work reads (boilerplate phrases, domain
    * signatures). Counting is a hash aggregate on the bigram; ranking
    * sorts the surviving VOCABULARY-sized table, never the corpus. */
  def bigramCounts(documents: DataFrame, topN: Int = BigramTopN): DataFrame = {
    val counts = documents
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", col("text"), lit(2))
          .getField("shs")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_docs"))
    // bounded top-k rank (TakeOrderedAndProject) — a global window here
    // would single-partition the whole bigram table, strictly larger
    // than the vocabulary
    graft.util.TopN.rankedTopN(counts,
        struct((-col("n_docs")).as("nk"), col("bigram").as("bk")), topN, "rnk")
      .select("rnk", "bigram", "n_docs")
      .orderBy("rnk")
  }

  def sqlBigramCounts(topN: Int = BigramTopN): String = {
    val words = TextPrep.sqlWords
    s"""WITH b AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(
              generate_series(1, len($words) - 1),
              i -> array_to_string(($words)[i:i+1], ' ')))) AS bigram
          FROM documents WHERE len($words) >= 2),
        g AS (SELECT bigram, count(*) AS n_docs FROM b GROUP BY 1),
        r AS (SELECT bigram, n_docs,
            CAST(row_number() OVER (ORDER BY n_docs DESC, bigram ASC) AS INTEGER) AS rnk
          FROM g)
        SELECT rnk, bigram, n_docs FROM r WHERE rnk <= $topN ORDER BY rnk"""
  }

  /** Per-document memorization/boilerplate risk: the fraction of a
    * document's distinct shingles that also appear in at least one
    * OTHER document — high values mean the text is mostly corpus-
    * shared phrasing (navigation chrome, templates, licensed
    * boilerplate), exactly the content most likely to be memorized
    * verbatim by a model trained on it. One shingle explode, one
    * document-frequency hash aggregate keyed on the shingle (the same
    * skew profile as the Jaccard set-similarity join, AQE-bounded),
    * one per-doc aggregate — exact integer counts + one division. */
  def memorizationRisk(documents: DataFrame): DataFrame = {
    // cached: feeds the df aggregate and the probe side of its own join
    val s = TextPrep.shingleSets(documents).cache()
    val df = s.groupBy("sh").agg(count(lit(1)).as("df"))
    s.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("shared_ratio"))
      .orderBy("doc_id")
  }

  val sqlMemorizationRisk: String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM s GROUP BY 1),
        g AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
            CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
          FROM s JOIN dfreq USING (sh) GROUP BY 1)
        SELECT doc_id, n_shingles, n_shared,
          CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS shared_ratio
        FROM g ORDER BY doc_id"""

  /** Per-source duplication-rate report: how much of each source is
    * redundant under exact dedup — the "which scrape to deprioritize"
    * table. One hash-aggregate; only md5 digests shuffle. */
  def dupRateBySource(documents: DataFrame): DataFrame =
    documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
      .orderBy("source")

  val sqlDupRateBySource: String =
    """SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_rate
       FROM documents GROUP BY 1 ORDER BY 1"""

  val SimhashBits = 64
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 16

  /** Internal: (doc_id, lang, hi, lo) where hi/lo are the two unsigned
    * 32-bit halves of the 64-bit SimHash fingerprint (split so both
    * engines stay in non-negative BIGINT arithmetic — no signed-bit-63
    * portability games). simhash64 is a native row-local expression:
    * one md5 per word occurrence, no explode, no shuffle. */
  private def fingerprints(documents: DataFrame): DataFrame = {
    val fp = call_function("simhash64", col("text"))
    documents.select(
      col("doc_id"), col("lang"),
      shiftrightunsigned(fp, 32).as("hi"),
      fp.bitwiseAND(lit(4294967295L)).as("lo"))
  }

  /** 64-bit SimHash fingerprint per document, as two unsigned 32-bit
    * halves. Bit j votes: +1 iff hex digit (j mod 32) of md5(word) has
    * nibble bit 8 (j < 32) / nibble bit 4 (j >= 32). */
  def simhash(documents: DataFrame): DataFrame =
    fingerprints(documents)
      .select("doc_id", "hi", "lo")
      .withColumnRenamed("hi", "simhash_hi")
      .withColumnRenamed("lo", "simhash_lo")
      .orderBy("doc_id")

  val sqlSimhash: String = sqlSimhashCte +
    " SELECT doc_id, hi AS simhash_hi, lo AS simhash_lo FROM sh ORDER BY doc_id"

  /** DuckDB twin CTE `sh(doc_id, lang, hi, lo)` — the quadratic-free
    * per-doc fingerprint (explode + group-by in SQL; the Spark side is
    * row-local). */
  private lazy val sqlSimhashCte: String = {
    val high = "('8','9','a','b','c','d','e','f')"
    val bit4 = "('4','5','6','7','c','d','e','f')"
    val sums = ((0 until 32).map(j =>
      s"sum(CASE WHEN substr(md5(w), ${j + 1}, 1) IN $high THEN 1 ELSE -1 END) AS s$j") ++
      (32 until 64).map(j =>
        s"sum(CASE WHEN substr(md5(w), ${j - 31}, 1) IN $bit4 THEN 1 ELSE -1 END) AS s$j"))
      .mkString(", ")
    val lo = (0 until 32)
      .map(j => s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val hi = (32 until 64)
      .map(j => s"CASE WHEN s$j >= 0 THEN ${1L << (j - 32)} ELSE 0 END").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, lang, unnest(${TextPrep.sqlWords}) AS w FROM documents),
        b AS (SELECT doc_id, lang, $sums FROM w GROUP BY doc_id, lang),
        sh AS (SELECT doc_id, lang,
          CAST($hi AS BIGINT) AS hi, CAST($lo AS BIGINT) AS lo FROM b)"""
  }

  /** SimHash near-dup pairs via Hamming-LSH banding: the 64-bit
    * fingerprint is split into 4 bands of 16 bits; docs sharing
    * (band, band-value, lang) are candidates; candidates are verified
    * with the exact Hamming distance. For maxDist ≤ 3 recall is exact
    * (3 differing bits cannot touch all 4 bands), so the independently
    * written quadratic oracle SQL provably produces the same rows.
    * Join keys are (band, 16-bit value, lang) — bucket sizes stay tiny
    * at corpus scale, unlike a per-language self-join. */
  def simhashPairs(documents: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < SimhashBands,
      s"banded recall guarantee needs maxDist < $SimhashBands")
    val sh = fingerprints(documents)
    val bandStructs = (0 until SimhashBands).map { b =>
      val half = if (b < 2) col("lo") else col("hi")
      val bval = shiftrightunsigned(half, (b % 2) * SimhashBandBits)
        .bitwiseAND(lit(0xFFFFL))
      struct(lit(b).as("band"), bval.as("bval"))
    }
    // cached: both sides of the banded self-join (simhash fingerprints
    // would otherwise compute twice)
    val banded = sh.select(col("doc_id"), col("lang"), col("hi"), col("lo"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("lang"), col("hi"), col("lo"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
      .cache()
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  def sqlSimhashPairs(maxDist: Int): String =
    s"""$sqlSimhashCte
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $maxDist
        ORDER BY doc_a, doc_b"""

  // ---- MinHash estimator accuracy check ------------------------------

  val BottomK = 64
  val EstTol = 0.25

  /** Bottom-k (Broder) resemblance estimator, verified against exact
    * Jaccard: each document keeps the k smallest shingle-hash values
    * (ONE hash function — a k-sample without replacement of the set);
    * for a pair, est = |bottomk(A ∪ B) ∩ A ∩ B| / |bottomk(A ∪ B)|,
    * the classic unbiased resemblance estimate with σ ≤ sqrt(J(1-J)/k).
    * Note this is deliberately NOT the Kirsch–Mitzenmacher signature
    * family used for LSH banding: rows of ha + i·hb form the lower
    * envelope of lines in i, so only a handful of distinct minimizers
    * exist per set and the per-row agreement estimator stays
    * correlated no matter how many rows — measured maxdev 0.38 at 64
    * rows AND 0.43 at 128 on sf0.1. Fine for banding (bands need only
    * collision locality), wrong for estimation; bottom-k restores
    * genuinely independent samples. Completes the estimator-verification set
    * (HLL, quantile sketch, Count–Min, MinHash): every sketch this
    * engine ships has its accuracy contract oracle-checked — here the
    * estimate itself is cross-engine-reproducible, so the oracle
    * checks est EXACTLY plus the tolerance boolean.
    *
    * Scale shape: the bottom-k array is a row-local sort+slice of the
    * per-doc hash list (k·8 bytes per doc moves, not the text); the
    * pair set is the bounded exact-Jaccard candidates. */
  def minhashEstimateCheck(documents: DataFrame,
                           threshold: Double = 0.3): DataFrame = {
    val ks = TextPrep.docShingles(documents).select(col("doc_id"),
      slice(array_sort(col("ha")), 1, BottomK).as("bk"))
    jaccardPairs(documents, threshold)
      .join(ks.as("x"), col("doc_a") === col("x.doc_id"))
      .join(ks.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), {
        val u = slice(array_sort(array_union(col("x.bk"), col("y.bk"))), 1, BottomK)
        (size(array_intersect(array_intersect(u, col("x.bk")), col("y.bk")))
          .cast("double") / least(lit(BottomK), size(u)).cast("double")).as("est")
      })
      .withColumn("est_within_tol", abs(col("est") - col("jaccard")) <= EstTol)
      .orderBy("doc_a", "doc_b")
  }

  def sqlMinhashEstimateCheck(threshold: Double = 0.3): String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        ks AS (
          SELECT doc_id, (list_sort(ha))[1:$BottomK] AS bk FROM docs),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b,
            CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold),
        est AS (
          SELECT doc_a, doc_b, jaccard,
            (list_sort(list_distinct(x.bk || y.bk)))[1:$BottomK] AS u,
            x.bk AS xbk, y.bk AS ybk
          FROM pairs JOIN ks x ON doc_a = x.doc_id JOIN ks y ON doc_b = y.doc_id)
        SELECT doc_a, doc_b, jaccard,
          CAST(len(list_intersect(list_intersect(u, xbk), ybk)) AS DOUBLE)
            / CAST(least($BottomK, len(u)) AS DOUBLE) AS est,
          abs(CAST(len(list_intersect(list_intersect(u, xbk), ybk)) AS DOUBLE)
            / CAST(least($BottomK, len(u)) AS DOUBLE) - jaccard) <= $EstTol
            AS est_within_tol
        FROM est ORDER BY doc_a, doc_b"""

  // ---- blocked edit-distance near-dup --------------------------------

  val TitleWords = 6
  val EditBlockWidth = 16
  val MaxEditDist = 12

  /** Fuzzy near-dup by Levenshtein distance on a document "title" (its
    * first TitleWords words), with standard blocking: only documents
    * sharing (lang, first word, word-count bucket) are compared, so
    * the join is equi-key + a per-block pair scan instead of a corpus
    * cross product. On the test corpus blocking yields 362 blocks of
    * max size 5 (190 candidate pairs from 124,750 possible); at 100 TB
    * block sizes stay bounded because the key includes the length
    * bucket, and AQE splits any hot (lang, word) block. Recall is the
    * documented blocking trade: near-dups that differ in their first
    * word are missed — the standard record-linkage compromise.
    *
    * Levenshtein is evaluated only on candidates and only over short
    * titles, so cost is O(candidates · TitleWords² · wordLen²), not
    * O(n²·len²). Both engines count single-character edits over code
    * points. */
  def editDistPairs(documents: DataFrame, maxDist: Int = MaxEditDist): DataFrame = {
    val words = TextPrep.wordsCol
    // round 14: tokenize-to-title runs over the unsplittable scan —
    // fan it (doc_id hash; same guarded no-op at corpus scale)
    val t = graft.util.Scans.fanOutBy(documents, "doc_id").select(
      col("doc_id"), col("lang"),
      element_at(words, 1).as("w1"),
      (size(words) / EditBlockWidth).cast("long").as("bkt"),
      array_join(slice(words, 1, TitleWords), " ").as("title"))
    t.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") && col("a.w1") === col("b.w1") &&
          col("a.bkt") === col("b.bkt") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.title"), col("b.title")).cast("int").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  def sqlEditDistPairs(maxDist: Int = MaxEditDist): String =
    s"""WITH w AS (
          SELECT doc_id, lang, ${TextPrep.sqlWords} AS words FROM documents),
        t AS (
          SELECT doc_id, lang, words[1] AS w1,
            CAST(len(words) // $EditBlockWidth AS BIGINT) AS bkt,
            array_to_string(words[1:$TitleWords], ' ') AS title
          FROM w)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(levenshtein(a.title, b.title) AS INTEGER) AS edit_dist
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.w1 = b.w1 AND a.bkt = b.bkt
          AND a.doc_id < b.doc_id
        WHERE levenshtein(a.title, b.title) <= $maxDist
        ORDER BY doc_a, doc_b"""

  /** Positional duplicated-passage report: for every document, the
    * fraction of its k-gram POSITIONS whose k-gram also occurs in at
    * least one other document, and the longest consecutive run of such
    * positions — the per-document signal behind exact-substring dedup
    * (reference behavior class: cross-document duplicated text; cf.
    * "Deduplicating Training Data Makes Language Models Better", Lee
    * et al. 2021, which removes spans ≥ 50 tokens). Where
    * [[memorizationRisk]] asks "what share of a doc's DISTINCT
    * phrasing is corpus-shared", this asks "how much of the doc's
    * TEXT, run-for-run, is duplicated elsewhere" — a max_run near
    * n_grams means a verbatim copy of a whole passage, a high
    * dup_frac with short runs means templated phrasing.
    *
    * Scale shape (100 TB): positions explode to one row per token (the
    * same order of work as tokenization itself); the document-
    * frequency aggregate and its join shuffle 8-byte gram hashes (AQE
    * bounds hot boilerplate grams exactly as in the set-similarity
    * join); the run-length computation is gaps-and-islands under ONE
    * window PARTITIONED BY doc_id — per-document state only, no global
    * ordering anywhere. No pair join exists in this plan at all: df
    * counting replaces pair generation, which is what makes the
    * positional statistic affordable where the span-extraction join
    * (which docs share the span) would be quadratic in hot spans.
    * The hash is the 60-bit `ha` family shared with MinHash — gram
    * collisions are astronomically rare, deterministic, and computed
    * identically by the oracle, so results still match bit-for-bit.
    */
  val DupSpanK: Int = TextPrep.ShingleWords

  def dupSpanStats(documents: DataFrame): DataFrame = {
    // every k-gram occurrence with its 0-based position, NOT distinct
    // (position and multiplicity are the point here) — a native
    // codegen'd expression (one md5 per gram, no interpreted lambda,
    // the computeShingles lesson), emitting an 8-byte hash so the
    // df shuffle key is fixed-width. Cached: feeds the df aggregate
    // and the probe side of its own join.
    val pos = documents
      .select(col("doc_id"),
        posexplode(call_function("gram_hashes_pos",
          col("text"), lit(DupSpanK))))
      .toDF("doc_id", "pos", "gh")
      .cache()
    val dfreq = pos.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
    // inner join keeps EVERY position (each gram has a df row), so one
    // pass computes totals, coverage, and runs together. grp is the
    // gaps-and-islands key: pos minus the running count of covered
    // positions is constant within a consecutive covered run and
    // strictly increases across runs (each gap advances pos faster
    // than the count). Window is per-document — no global ordering.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val flag = col("nd") >= 2
    val grouped = pos.join(dfreq, "gh")
      .withColumn("grp",
        when(flag, col("pos") - count(when(flag, lit(1))).over(byDoc)))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_grams"),
        coalesce(sum(when(col("grp").isNotNull, col("cnt"))), lit(0L))
          .as("n_dup"),
        coalesce(max(when(col("grp").isNotNull, col("cnt"))), lit(0L))
          .as("max_run"))
    grouped
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"),
        col("max_run"))
      .orderBy("doc_id")
  }

  /** The REMOVAL half of exact-substring dedup: rewrite each document
    * with every word that participates in a cross-document duplicated
    * k-gram cut out (the action [[dupSpanStats]] only reports —
    * together they are the ExactSubstr pipeline of Lee et al. 2021,
    * with the span threshold at k words). Emits the cleaned text's
    * hash + kept/removed counts rather than the text itself (the
    * compare artifact; a production run would write the rebuilt
    * string column the same way).
    *
    * Scale shape: identical df-count front end to dupSpanStats (no
    * pair join), then covered gram positions fan out to k word
    * positions (explode of a constant-k sequence), an anti-join on
    * (doc, position) keeps survivors, and the per-document rebuild is
    * a collect_list bounded by the document's own length — the same
    * bound as holding the text, grouped where the text already lives.
    * Every doc passes through, including sub-k-gram ones (nothing
    * removable). */
  def stripDupSpans(documents: DataFrame): DataFrame = {
    val k = DupSpanK
    val ws = TextPrep.wordsCol
    val wp = documents.select(col("doc_id"), posexplode(ws))
      .toDF("doc_id", "wpos", "w")
    val pos = documents
      .select(col("doc_id"),
        posexplode(call_function("gram_hashes_pos", col("text"), lit(k))))
      .toDF("doc_id", "pos", "gh")
      .cache() // feeds the df aggregate and the probe side
    val shared = pos.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val covWord = pos.join(shared, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("wpos"))
      .distinct()
    val kept = wp.join(covWord, Seq("doc_id", "wpos"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(transform(
        array_sort(collect_list(struct(col("wpos"), col("w")))),
        x => x.getField("w")), " ")).as("clean_hash"))
    documents.select(col("doc_id"), size(ws).cast("long").as("n_words"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
      .orderBy("doc_id")
  }

  def sqlStripDupSpans: String = {
    val k = DupSpanK
    val w = TextPrep.sqlWords
    s"""WITH wd AS (SELECT doc_id, $w AS ws FROM documents),
        wp AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS wpos, ws[i] AS w
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
                FROM wd)),
        p AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            CAST(concat('0x', substr(md5(array_to_string(ws[i:i+${k - 1}], ' ')), 1, 15))
              AS BIGINT) % ${TextPrep.HashP} AS gh
          FROM (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - ${k - 1})) AS i
                FROM wd WHERE len(ws) >= $k)),
        shared AS (
          SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM p)
          GROUP BY gh HAVING count(*) >= 2),
        cw AS (
          SELECT DISTINCT doc_id, wpos FROM (
            SELECT doc_id, unnest(generate_series(pos, pos + ${k - 1})) AS wpos
            FROM (SELECT p.doc_id, p.pos FROM p JOIN shared USING (gh)))),
        kept AS (
          SELECT wp.doc_id, wp.wpos, wp.w FROM wp
          ANTI JOIN cw ON wp.doc_id = cw.doc_id AND wp.wpos = cw.wpos),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            md5(array_to_string(list(w ORDER BY wpos), ' ')) AS clean_hash
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM wd)
        SELECT t.doc_id, t.n_words,
          t.n_words - COALESCE(a.n_kept, 0) AS n_removed,
          COALESCE(a.clean_hash, md5('')) AS clean_hash
        FROM tot t LEFT JOIN agg a USING (doc_id)
        ORDER BY t.doc_id"""
  }

  def sqlDupSpanStats: String = {
    val k = DupSpanK
    val w = TextPrep.sqlWords
    s"""WITH wd AS (
          SELECT doc_id, $w AS ws FROM documents WHERE len($w) >= $k),
        p AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            CAST(concat('0x', substr(md5(array_to_string(ws[i:i+${k - 1}], ' ')), 1, 15))
              AS BIGINT) % ${TextPrep.HashP} AS gh
          FROM (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - ${k - 1})) AS i
                FROM wd)),
        dfreq AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM p GROUP BY gh),
        f AS (
          SELECT doc_id, pos,
            CASE WHEN nd >= 2 THEN
              pos - count(CASE WHEN nd >= 2 THEN 1 END)
                OVER (PARTITION BY doc_id ORDER BY pos) END AS grp
          FROM p JOIN dfreq USING (gh)),
        g1 AS (
          SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS cnt
          FROM f GROUP BY doc_id, grp),
        g2 AS (
          SELECT doc_id,
            CAST(sum(cnt) AS BIGINT) AS n_grams,
            CAST(COALESCE(sum(CASE WHEN grp IS NOT NULL THEN cnt END), 0) AS BIGINT) AS n_dup,
            CAST(COALESCE(max(CASE WHEN grp IS NOT NULL THEN cnt END), 0) AS BIGINT) AS max_run
          FROM g1 GROUP BY doc_id)
        SELECT doc_id, n_grams, n_dup,
          CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
          max_run
        FROM g2 ORDER BY doc_id"""
  }

  /** Per-document novelty in crawl order: the fraction of a document's
    * distinct shingles whose FIRST corpus occurrence (min doc_id) is
    * this document. A snapshot-refresh triage signal — documents with
    * novelty ≈ 0 re-state content the corpus already has and can be
    * dropped before any expensive downstream pass. The dual of
    * [[memorizationRisk]]: same shingle explode + one aggregate keyed
    * on the shingle + one per-doc aggregate, exact integer counts.
    * Shuffles only 16-char shingle keys and longs — safe at any
    * corpus size (the df-skew profile is the same AQE-bounded one as
    * the Jaccard join's build side, but with no pair expansion). */
  def noveltyScore(documents: DataFrame): DataFrame = {
    // cached: feeds the first-seen aggregate and the probe side of its own join
    val s = TextPrep.shingleSets(documents).cache()
    val first = s.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    s.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  val sqlNoveltyScore: String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        fs AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY 1),
        g AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
            CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          FROM s JOIN fs USING (sh) GROUP BY 1)
        SELECT doc_id, n_shingles, n_novel,
          CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
        FROM g ORDER BY doc_id"""

  /** Source-pair content-overlap matrix: for every pair of sources,
    * the number of distinct shingles both contain and the Jaccard
    * similarity of their shingle vocabularies. The "are these two
    * scrapes the same crawl?" report that decides which source to
    * deprioritize before per-document dedup even runs.
    *
    * Shape: distinct (source, shingle) → self-join keyed on the
    * shingle → pair counts. The join key is the shingle, so each
    * bucket holds at most #sources rows and the pair expansion is
    * bounded by #sources² per shingle — corpus-size-independent,
    * unlike a document-pair join. One extra hash-aggregate computes
    * per-source vocabulary sizes for the Jaccard denominator. */
  /** Distinct (source, shingle) — ONE definition shared by the exact
    * overlap and its theta-sketch scale twin: the tolerance booleans
    * compare estimate against exact, so both MUST see the identical
    * key universe (shingle size, short-doc guard, distinct
    * semantics). Cached; identical plans share one cache entry. */
  private def sourceShingleFrame(documents: DataFrame): DataFrame = {
    // round 14: the per-doc shingle-hash pass is the heavy stage here
    // (one md5 per distinct shingle) — fan the unsplittable scan
    graft.util.Scans.fanOutBy(documents, "doc_id")
      .select(col("source"),
        call_function("shingle_hashes", col("text"), lit(TextPrep.ShingleWords)).as("d"))
      .select(col("source"), explode(col("d.shs")).as("sh"))
      .distinct()
      .cache()
  }

  /** The SQL twin of [[sourceShingleFrame]], as a WITH-clause entry. */
  private def sqlSourceShinglesCte: String = {
    val w = TextPrep.sqlWords
    s"""ss AS (
          SELECT DISTINCT source, sh FROM (
            SELECT source,
              unnest(list_distinct(${TextPrep.sqlShingles(w)})) AS sh
            FROM documents WHERE len($w) >= ${TextPrep.ShingleWords}))"""
  }

  def sourceOverlap(documents: DataFrame): DataFrame = {
    // feeds the totals aggregate and both sides of the pair join
    val ss = sourceShingleFrame(documents)
    val totals = ss.groupBy("source").agg(count(lit(1)).as("n"))
    ss.as("a")
      .join(ss.as("b"), col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(totals.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sqlSourceOverlap: String = {
    s"""WITH $sqlSourceShinglesCte,
        tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
        p AS (
          SELECT a.source AS source_a, b.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
          CAST(n_shared AS DOUBLE) / CAST(ta.n + tb.n - n_shared AS DOUBLE) AS jaccard
        FROM p JOIN tot ta ON p.source_a = ta.source
               JOIN tot tb ON p.source_b = tb.source
        ORDER BY source_a, source_b"""
  }

  // ---- dup ↔ quality correlation ------------------------------------

  /** Does duplication correlate with low quality? Point-biserial
    * Pearson r between the exact-duplicate flag (md5 text df ≥ 2) and
    * the quality score — the report that decides whether dedup and
    * quality filtering are redundant passes or orthogonal ones.
    *
    * Determinism: the quality double is integerized once
    * (floor(q·10⁴)) and every power sum is an exact BIGINT; the final
    * cross-products run in DECIMAL(38)/HUGEINT (n·Σy² and (Σy)² pass
    * 2⁶³ already at ~10⁶ docs — BIGINT products would ANSI-overflow),
    * exact to ~10¹⁰ docs, and only the final r is floating. Two hash
    * aggregates + one join on doc_id; zero-variance sides yield NULL,
    * not NaN. */
  def dupQualityCorr(documents: DataFrame): DataFrame = {
    val y = TextStats.textStatsUnordered(documents)
      .select(col("doc_id"),
        floor(col("quality_score") * 10000).cast("long").as("y"))
    val h = documents.select(col("doc_id"), md5(col("text")).as("h"))
    val hc = h.groupBy("h").agg(count(lit(1)).as("c"))
    val x = h.join(hc, "h")
      .select(col("doc_id"), when(col("c") >= 2, 1L).otherwise(0L).as("x"))
    x.join(y, "doc_id")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_docs"), col("sx").as("n_dups"),
        col("n").cast("decimal(38,0)").as("dn"), col("sx").cast("decimal(38,0)").as("dsx"),
        col("sy").cast("decimal(38,0)").as("dsy"), col("sxy").cast("decimal(38,0)").as("dsxy"),
        col("syy").cast("decimal(38,0)").as("dsyy"))
      .select(col("n_docs"), col("n_dups"),
        when(col("dn") * col("dsx") - col("dsx") * col("dsx") === 0 ||
             col("dn") * col("dsyy") - col("dsy") * col("dsy") === 0, lit(null))
          .otherwise(
            (col("dn") * col("dsxy") - col("dsx") * col("dsy")).cast("double") /
              (sqrt((col("dn") * col("dsx") - col("dsx") * col("dsx")).cast("double")) *
                sqrt((col("dn") * col("dsyy") - col("dsy") * col("dsy")).cast("double"))))
          .as("r_pb"))
  }

  val sqlDupQualityCorr: String =
    s"""WITH stats AS (${TextStats.sqlTextStats}),
        y AS (SELECT doc_id, CAST(floor(quality_score * 10000) AS BIGINT) AS y
              FROM stats),
        h AS (SELECT doc_id, md5(text) AS h FROM documents),
        hc AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1),
        x AS (SELECT doc_id, CASE WHEN c >= 2 THEN 1 ELSE 0 END AS x
              FROM h JOIN hc USING (h)),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM x JOIN y USING (doc_id)),
        h2 AS (
          SELECT n, sx, CAST(n AS HUGEINT) AS dn, CAST(sx AS HUGEINT) AS dsx,
            CAST(sy AS HUGEINT) AS dsy, CAST(sxy AS HUGEINT) AS dsxy,
            CAST(syy AS HUGEINT) AS dsyy
          FROM s)
        SELECT n AS n_docs, sx AS n_dups,
          CASE WHEN dn * dsx - dsx * dsx = 0 OR dn * dsyy - dsy * dsy = 0 THEN NULL
          ELSE CAST(dn * dsxy - dsx * dsy AS DOUBLE) /
            (sqrt(CAST(dn * dsx - dsx * dsx AS DOUBLE)) *
             sqrt(CAST(dn * dsyy - dsy * dsy AS DOUBLE)))
          END AS r_pb
        FROM h2"""

  // ---- dup-graph PageRank -------------------------------------------

  val PrScale = 1000000000000L  // rank mass fixed-point scale (1e12)
  val PrIters = 3

  /** PageRank over an undirected pair graph, INTEGERIZED: all rank
    * mass lives in BIGINT fixed-point (scale [[PrScale]]) and every
    * division is explicit floor division, so per-node aggregation
    * order cannot perturb a single bit — double-based PageRank sums
    * neighbor contributions in partition order and is unreproducible
    * across engines.
    *
    * Iteration t: contrib(u) = r_t(u) div deg(u); r_{t+1}(v) =
    * (15·(S div n)) div 100 + (85·Σ_{u∼v} contrib(u)) div 100.
    * Every node in an undirected edge list has deg ≥ 1 and at least
    * one in-neighbor, so no dangling-mass term is needed. Each round
    * is one edge-list join + one hash aggregate — the classic Spark
    * PageRank shape, bounded rounds, never materializing anything
    * larger than the edge list. 85·s ≤ 85·S ≪ 2⁶³: no overflow. */
  def pageRankFromPairs(pairs: DataFrame, iters: Int = PrIters): DataFrame = {
    // symmetrize reads the pair generation ONCE (round 14; the old
    // union-with-mirror form evaluated the MinHash banding+verify
    // subplan twice while building this cache).
    // localCheckpoint, not cache (round 14 profile): the lazy cache
    // was filled by whichever consumer ran first — and the 4
    // broadcast-subquery threads (nN) raced the main plan to it, each
    // recomputing the FULL banding+verify subplan (ProfileOne showed
    // the pair-generation stage cluster TWICE). The eager checkpoint
    // fills exactly once, and keying it by src lets every iteration's
    // edge join reuse the layout instead of re-exchanging the edge set.
    val edges = graft.util.Graphs.symmetrize(pairs, "doc_a", "doc_b")
      .repartition(col("src"))
      .localCheckpoint()
    // deg is read iters+1 times; checkpointing stops each read from
    // re-aggregating the edge set (Spark shares no subplans)
    val deg = edges.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // n_nodes as a DRIVER literal (bounded collect: ONE long — the
    // same sanctioned pattern as the BPE argmax row). The old
    // crossJoin(broadcast(nN)) per iteration re-planned and re-ran a
    // broadcast exchange 4× over the same 1-row aggregate. Spark Long
    // division truncates like DuckDB's // on these positives; empty
    // graph guarded (ranks is empty anyway — just don't divide by 0).
    val nNodes = deg.count()
    val r0 = if (nNodes == 0) 0L else PrScale / nNodes
    val teleport = (15L * r0) / 100L
    var ranks = deg.select(col("doc_id"), lit(r0).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(deg, "doc_id")
        .select(col("doc_id"), expr("r div deg").as("c"))
      val s = edges.join(contrib.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id")).agg(sum(col("c")).as("s"))
      ranks = s.select(col("doc_id"),
        (lit(teleport) + expr("(85 * s) div 100")).as("r"))
    }
    ranks.join(deg, "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("rank_e12"))
      .orderBy("doc_id")
  }

  /** Template-hub scoring: PageRank over the MinHash-LSH near-dup
    * graph. High-rank documents sit at the center of dense duplicate
    * neighborhoods (boilerplate templates, mirrored pages) — the docs
    * whose removal or canonical-representative choice matters most. */
  def dupPageRank(documents: DataFrame,
                  threshold: Double = ClusterThreshold,
                  iters: Int = PrIters): DataFrame =
    pageRankFromPairs(
      minhashLshPairsUnordered(documents)
        .filter(col("jaccard") >= threshold), iters)

  def sqlDupPageRank(threshold: Double = ClusterThreshold,
                     iters: Int = PrIters): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""c$t AS (SELECT r.doc_id, r // deg AS c
             FROM r${t - 1} r JOIN deg USING (doc_id)),
          s$t AS (SELECT e.dst AS doc_id, CAST(sum(c) AS BIGINT) AS s
             FROM e JOIN c$t ON e.src = c$t.doc_id GROUP BY 1),
          r$t AS (SELECT doc_id,
               CAST((15 * ($PrScale // n_nodes)) // 100 + (85 * s) // 100 AS BIGINT) AS r
             FROM s$t CROSS JOIN nn)"""
    }.mkString(",\n        ")
    s"""WITH $sqlMinhashCtes,
        pr_pairs AS (
          SELECT doc_a, doc_b FROM verified
          WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= $threshold),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pr_pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pr_pairs),
        deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        r0 AS (SELECT doc_id, CAST($PrScale // n_nodes AS BIGINT) AS r
               FROM deg CROSS JOIN nn),
        $iterCtes
        SELECT r$iters.doc_id, deg, r AS rank_e12
        FROM r$iters JOIN deg USING (doc_id)
        ORDER BY doc_id"""
  }

  /** Sketch-based source overlap — the SCALE TWIN of [[sourceOverlap]]:
    * one theta sketch (DataSketches, Spark 4 built-in) per source over
    * the same distinct-shingle key, then pairwise
    * intersection/union ESTIMATES from the #sources-row sketch frame.
    * The exact version's shingle-keyed pair join touches the corpus
    * once per source pair; this reduces the corpus to #sources
    * KB-sized sketches in ONE pass and intersects sketches — at 100 TB
    * that is the difference between a corpus-sized shuffle matrix and
    * a broadcast-sized postprocess. Theta sketches are KMV-style
    * (k smallest key hashes, fixed seed): order-independent and
    * deterministic for a given key set, so the tolerance booleans are
    * stable across runs and engines.
    *
    * Output follows the q_hll_union oracle pattern: exact counts (the
    * DuckDB-computable half) plus within-tolerance booleans for the
    * estimates — the oracle asserts the booleans are TRUE, so estimate
    * drift past tolerance fails the correctness gate, not just a
    * bench. */
  def thetaSourceOverlap(documents: DataFrame): DataFrame = {
    // feeds the sketch agg, the exact pair join, and totals
    val ss = sourceShingleFrame(documents)
    val sk = ss.groupBy("source")
      .agg(expr("theta_sketch_agg(sh)").as("sk"), count(lit(1)).as("n"))
    val est = sk.as("a").crossJoin(sk.as("b"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        expr("theta_sketch_estimate(theta_intersection(a.sk, b.sk))")
          .cast("double").as("inter_est"),
        expr("theta_sketch_estimate(theta_union(a.sk, b.sk))")
          .cast("double").as("union_est"))
    val exact = ss.as("x")
      .join(ss.as("y"), col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val totals = ss.groupBy("source").agg(count(lit(1)).as("nt"))
    exact
      .join(totals.select(col("source").as("source_a"), col("nt").as("n_a")), "source_a")
      .join(totals.select(col("source").as("source_b"), col("nt").as("n_b")), "source_b")
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_shared"))
      .join(est, Seq("source_a", "source_b"))
      // theta INTERSECTION error scales with the UNION (the retained
      // intersection sample is |I|·k/|U| entries once sketches leave
      // exact mode), so the slack must carry a union-proportional
      // term or low-overlap pairs over large unions fail with a
      // CORRECT estimate
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_union"),
        (abs(col("inter_est") - col("n_shared").cast("double")) <=
          greatest(lit(0.1) * col("n_shared").cast("double"),
            lit(0.05) * col("n_union").cast("double"), lit(50.0)))
          .as("inter_ok"),
        (abs(col("union_est") - col("n_union").cast("double")) <=
          greatest(lit(0.1) * col("n_union").cast("double"), lit(50.0)))
          .as("union_ok"))
      .orderBy("source_a", "source_b")
  }

  val sqlThetaSourceOverlap: String = {
    s"""WITH $sqlSourceShinglesCte,
        pair AS (
          SELECT x.source AS source_a, y.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM ss x JOIN ss y ON x.sh = y.sh AND x.source < y.source
          GROUP BY 1, 2),
        tot AS (SELECT source, CAST(count(*) AS BIGINT) AS nt FROM ss GROUP BY 1)
        SELECT source_a, source_b, n_shared,
          ta.nt + tb.nt - n_shared AS n_union,
          TRUE AS inter_ok, TRUE AS union_ok
        FROM pair
        JOIN tot ta ON ta.source = source_a
        JOIN tot tb ON tb.source = source_b
        ORDER BY source_a, source_b"""
  }

  /** Triangle census of the near-dup pair graph: node/edge/wedge/
    * triangle counts and the global clustering coefficient
    * 3·triangles / wedges. On a dedup graph this separates
    * CLIQUE-like duplicate neighborhoods (mirrored template families —
    * coefficient near 1) from CHAIN-like drift (incremental edits —
    * coefficient near 0), which decides whether transitive-closure
    * clustering over-merges.
    *
    * Scale shape: the classic degree-ordered orientation [Chiba &
    * Nishizeki '85; Suri & Vassilvitskii WWW'11 for the MapReduce
    * form] — each undirected edge is directed from its lower
    * (degree, id) endpoint to its higher one, so every vertex's
    * out-degree is O(√m) regardless of how skewed the raw degree
    * distribution is, and the wedge self-join (the quadratic step)
    * is quadratic only in OUT-degree. Hub nodes (boilerplate matched
    * by thousands of docs) generate no wedges at all from their own
    * partition. The oracle counts the same triangles with the naive
    * id-orientation — the count is orientation-invariant, so the
    * scalable plan and the simple plan must agree exactly.
    */
  def triangleStats(documents: DataFrame,
                    threshold: Double = ClusterThreshold): DataFrame = {
    val e = minhashLshPairsUnordered(documents)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      // cache, NOT localCheckpoint: pair generation runs once across
      // the 4 consumers either way, but a lazy cache keeps the full
      // lineage visible to PlanAudit's plan-shape gate (an eager
      // checkpoint would execute jobs at plan-construction time AND
      // hide everything upstream of it from the audit)
      .cache()
    val sym = e.union(e.select(col("v"), col("u"))).toDF("u", "v")
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    // orient each edge from lower (deg, id) to higher (deg, id)
    val o = e
      .join(deg.select(col("u"), col("deg").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("id"), col("du").as("d")))
          .otherwise(struct(col("v").as("id"), col("dv").as("d"))).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("v").as("id"), col("dv").as("d")))
          .otherwise(struct(col("u").as("id"), col("du").as("d"))).as("t"))
      .select(col("s.id").as("src"), col("t.id").as("dst"),
        col("t.d").as("ddst"))
      .cache() // reused as both wedge sides and probe side
    val wedgePairs = o.as("o1").join(o.as("o2"),
        col("o1.src") === col("o2.src") &&
          (struct(col("o1.ddst"), col("o1.dst")) <
            struct(col("o2.ddst"), col("o2.dst"))))
      .select(col("o1.dst").as("x"), col("o2.dst").as("y"))
    val tri = wedgePairs.join(o,
        col("x") === col("src") && col("y") === col("dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          col("n_triangles").cast("double") * 3.0 /
            col("n_wedges").cast("double"))
          .otherwise(lit(0.0)).as("global_clustering"))
  }

  def sqlTriangleStats(threshold: Double = ClusterThreshold): String =
    s"""WITH $sqlMinhashCtes,
        tp AS (
          SELECT doc_a AS a, doc_b AS b FROM verified
          WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= $threshold),
        sym AS (SELECT a AS u FROM tp UNION ALL SELECT b AS u FROM tp),
        deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
               FROM deg),
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM tp),
        tri AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM tp e1 JOIN tp e2 ON e2.a = e1.b
                     JOIN tp e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
          CASE WHEN n_wedges > 0
            THEN CAST(n_triangles AS DOUBLE) * 3.0 / CAST(n_wedges AS DOUBLE)
            ELSE 0.0 END AS global_clustering
        FROM ns, ne, tri"""
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: PII
  * redaction, deterministic train/val/test splitting, and stratified
  * sampling. All row-local projections — no shuffle anywhere, so each
  * scales linearly with the corpus and pushes straight down onto the
  * parquet scan.
  *
  * Determinism contract: no RNG. Splits and samples key off
  * md5(salt || doc_id), so membership is stable across clusters,
  * repartitions, and re-runs — the property a reproducible training
  * run needs (re-running the pipeline on the same corpus must yield
  * the same split).
  */
object Curate {

  // ---- PII redaction ------------------------------------------------

  /** Patterns valid in both Java regex (Spark) and RE2 (DuckDB):
    * character classes, bounded repetition, \b word boundaries —
    * no backreferences or lookarounds. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Scrub emails, SSNs, and phone numbers from a text column,
    * emitting match counts alongside the redacted text. Order matters:
    * emails first (their local parts may contain digit runs), SSNs
    * before phones (both are digit-dash shapes; the 3-2-4 grouping is
    * claimed by <SSN>).
    */
  def redactCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        SsnRe, "<SSN>"),
      PhoneRe, "<PHONE>")

  /** The synthetic corpus carries no PII, so the oracle-checked query
    * deterministically plants one email, one phone, and one SSN per
    * document (derived from doc_id, identically in the DuckDB twin)
    * before scrubbing — the regexes are exercised on every row instead
    * of vacuously matching nothing. */
  private def planted: Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call 555-867-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" ssn 123-45-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))

  def redactPii(documents: DataFrame): DataFrame = {
    // Counts follow the REPLACEMENT order (emails, then SSNs, then
    // phones): each pattern is counted on the text with the
    // higher-precedence patterns already replaced, so a digit run
    // nested inside an email is counted (and emitted) exactly once as
    // <EMAIL> — counted on the raw text it would inflate n_ssns/
    // n_phones with matches the redaction never emits.
    val afterEmail = regexp_replace(col("t"), lit(EmailRe), lit("<EMAIL>"))
    val afterSsn = regexp_replace(afterEmail, lit(SsnRe), lit("<SSN>"))
    documents
      .select(col("doc_id"), planted.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).as("n_emails"),
        regexp_count(afterEmail, lit(SsnRe)).as("n_ssns"),
        regexp_count(afterSsn, lit(PhoneRe)).as("n_phones"),
        redactCol(col("t")).as("redacted"))
      .orderBy("doc_id")
  }

  val sqlRedactPii: String = {
    val planted = "text || ' contact user' || CAST(doc_id AS VARCHAR) " +
      "|| '@example.com or call 555-867-' " +
      "|| lpad(CAST(((doc_id % 10000) + 10000) % 10000 AS VARCHAR), 4, '0') " +
      "|| ' ssn 123-45-' " +
      "|| lpad(CAST(((doc_id % 10000) + 10000) % 10000 AS VARCHAR), 4, '0')"
    // single-quoted SQL literals: backslashes are literal, no doubling
    val email = EmailRe
    s"""WITH p AS (SELECT doc_id, $planted AS t FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(
            regexp_replace(t, '$email', '<EMAIL>', 'g'),
            '$SsnRe')) AS BIGINT) AS n_ssns,
          CAST(len(regexp_extract_all(
            regexp_replace(
              regexp_replace(t, '$email', '<EMAIL>', 'g'),
              '$SsnRe', '<SSN>', 'g'),
            '$PhoneRe')) AS BIGINT) AS n_phones,
          regexp_replace(
            regexp_replace(
              regexp_replace(t, '$email', '<EMAIL>', 'g'),
              '$SsnRe', '<SSN>', 'g'),
            '$PhoneRe', '<PHONE>', 'g') AS redacted
        FROM p ORDER BY doc_id"""
  }

  // ---- deterministic split ------------------------------------------

  val TrainPct = 80
  val ValPct = 10 // test gets the remainder

  /** 60-bit integer from the first 15 hex digits of md5(salt:key) —
    * the same md5-arithmetic portability trick as the MinHash base
    * hashes (TextPrep.sqlShingleCtes). Non-negative, so `% m` needs
    * no pmod dance in either engine. */
  private def hash60(salt: String, c: Column): Column =
    conv(substring(md5(concat(lit(s"$salt:"), c.cast("string"))), 1, 15),
      16, 10).cast("long")

  private def sqlHash60(salt: String, e: String): String =
    s"CAST(concat('0x', substr(md5('$salt:' || CAST($e AS VARCHAR)), 1, 15)) AS BIGINT)"

  private def hashBucket(salt: String, mod: Int,
                         c: Column = col("doc_id")): Column =
    hash60(salt, c) % mod

  private def sqlHashBucket(salt: String, mod: Int,
                            e: String = "doc_id"): String =
    s"${sqlHash60(salt, e)} % $mod"

  /** The split label for a bucket column — ONE definition shared by
    * [[splitAssign]] and the [[splitLeakage]] audit, so the audit can
    * never silently check a different split than the one assigned. */
  private def splitCase(bucket: Column): Column =
    when(bucket < TrainPct, "train")
      .when(bucket < TrainPct + ValPct, "validation")
      // isNotNull, not otherwise: an unhashable row (NULL doc_id) must
      // get a NULL split, never be silently assigned to the
      // eval-critical test split. Same pin in the SQL twin.
      .when(bucket.isNotNull, "test")

  private def sqlSplitCase(bucketExpr: String): String =
    s"""CASE WHEN $bucketExpr < $TrainPct THEN 'train'
        WHEN $bucketExpr < ${TrainPct + ValPct} THEN 'validation'
        WHEN $bucketExpr IS NOT NULL THEN 'test' END"""

  /** Assign every document to train/validation/test by hash bucket.
    * Adding documents never reassigns existing ones, and the split
    * survives any repartitioning — unlike randomSplit, whose output
    * depends on partitioning and seed plumbing. */
  def splitAssign(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), hashBucket("split", 100).as("bucket"))
      .withColumn("split", splitCase(col("bucket")))
      .orderBy("doc_id")

  val sqlSplitAssign: String =
    s"""SELECT doc_id, ${sqlHashBucket("split", 100)} AS bucket,
        ${sqlSplitCase(sqlHashBucket("split", 100))} AS split
        FROM documents ORDER BY doc_id"""

  // ---- stratified sampling ------------------------------------------

  /** Per-stratum sampling rates in permille. A corpus-mixing config:
    * downsample the dominant language, keep more of the rest. */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 100, "de" -> 300, "es" -> 300, "fr" -> 300, "zh" -> 300)
  val DefaultRate = 200

  /** Deterministic stratified sample: keep a document iff its salted
    * hash bucket falls under its language's permille rate. The salt
    * includes the stratum, so per-language subsamples are independent
    * draws even for equal doc_ids. Map-only — the 100 TB version is
    * the same single projection + filter. */
  def stratifiedSample(documents: DataFrame): DataFrame = {
    val rate = SampleRates.foldRight(lit(DefaultRate): Column) {
      case ((l, r), e) => when(col("lang") === l, lit(r)).otherwise(e)
    }
    documents
      .withColumn("b", hashBucket("sample", 1000,
        concat(col("lang"), lit(":"), col("doc_id").cast("string"))))
      .filter(col("b") < rate)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val sqlStratifiedSample: String = {
    val rate = SampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $DefaultRate END")
    val b = sqlHashBucket("sample", 1000, "lang || ':' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, source FROM documents
        WHERE $b < $rate ORDER BY doc_id"""
  }

  // ---- quality-weighted sampling ------------------------------------

  /** Quality-weighted deterministic sampling: keep a document with
    * probability proportional to its quality score — the "sample
    * good text harder" curation policy — with the draw keyed on
    * md5('qws:'||doc_id), so membership is reproducible across runs,
    * clusters, and repartitions (no RNG, like every sampler here).
    * rate = floor(quality_score·1000) permille; both engines compute
    * the identical double then floor it, so the cut agrees exactly.
    * Map-only: projection + filter, pushes onto the scan. */
  /** The quality-proportional keep set — ONE selection rule shared by
    * the published sample query and the [[trainingShards]] capstone
    * (an inlined copy could silently drift the capstone's quality
    * gate off the audited sample). */
  private[graft] def qualityKept(documents: DataFrame): DataFrame =
    TextStats.textStatsUnordered(documents)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("rate", floor(col("quality_score") * 1000).cast("long"))
      .withColumn("b", hashBucket("qws", 1000))
      .filter(col("b") < col("rate"))
      .select("doc_id", "rate", "quality_score")

  def qualityWeightedSample(documents: DataFrame): DataFrame =
    qualityKept(documents).orderBy("doc_id")

  val sqlQualityWeightedSample: String =
    s"""WITH stats AS (${TextStats.sqlTextStats}),
        r AS (SELECT doc_id, quality_score,
                CAST(floor(quality_score * 1000) AS BIGINT) AS rate,
                ${sqlHashBucket("qws", 1000)} AS b
              FROM stats)
        SELECT doc_id, rate, quality_score FROM r
        WHERE b < rate ORDER BY doc_id"""

  // ---- document chunking --------------------------------------------

  val ChunkLen = 50
  val ChunkStride = 40 // 10-word overlap between consecutive chunks

  /** Split every document into overlapping fixed-length token windows —
    * the standard long-document preprocessing for a bounded-context
    * model. Start positions are 0, stride, 2·stride, …; the last chunk
    * may be short. Row-local (explode of a per-row index sequence), so
    * it scales as a map-only pass; output size is input × (len/stride)
    * overlap factor. */
  def docChunks(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextPrep.wordsCol.as("words"))
      .withColumn("n", size(col("words")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        lit(1) + greatest(lit(0L),
          ceil((col("n") - lit(ChunkLen)).cast("double") / ChunkStride).cast("long")))
      .select(col("doc_id"), col("words"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("words"),
          (col("chunk_id") * ChunkStride + 1).cast("int"), lit(ChunkLen)), " ").as("chunk_text"),
        least(lit(ChunkLen),
          col("n") - col("chunk_id") * ChunkStride).cast("long").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_id")

  val sqlDocChunks: String =
    s"""WITH d AS (
          SELECT doc_id, ${TextPrep.sqlWords} AS words,
            CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n
          FROM documents),
        c AS (
          SELECT doc_id, words, n,
            unnest(generate_series(0,
              greatest(CAST(0 AS BIGINT),
                CAST(ceil((n - $ChunkLen) / CAST($ChunkStride AS DOUBLE)) AS BIGINT)))) AS chunk_id
          FROM d WHERE n > 0)
        SELECT doc_id, chunk_id,
          array_to_string(words[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen], ' ') AS chunk_text,
          least($ChunkLen, n - chunk_id * $ChunkStride) AS n_chunk_tokens
        FROM c ORDER BY doc_id, chunk_id"""

  // ---- training-objective span planning (round 12) -------------------

  /** Span-corruption parameters, T5's published setting expressed as
    * exact integer arithmetic: mask ratio 15%, mean span length 3 →
    * k = ⌊n·15/300⌋ = ⌊0.05·n⌋ spans per n-token document. */
  val SpanMaskNum = 15
  val SpanMaskDen = 300
  /** Span lengths cycle 2..4 by hash (mean 3). */
  val SpanLenBase = 2L
  val SpanLenMod = 3

  /** SPAN-CORRUPTION PLAN (the T5/UL2 denoising-objective prep step):
    * for each document, emit the deterministic list of token spans a
    * trainer masks — one span per equal-width segment, so spans are
    * NON-OVERLAPPING BY CONSTRUCTION (samplers that re-draw on
    * collision are not reproducible across engines; a per-segment
    * placement is, and k ≥ 1 implies segment width ≥ 20 ≥ span
    * length). Span length 2..4 and in-segment offset both derive from
    * md5(doc_id:span_id) integer arithmetic — the [[splitAssign]]
    * portability recipe — so the plan is a pure map over the corpus:
    * project + explode, no shuffle at any scale, and the twin
    * reproduces every span byte-for-byte. Documents under 20 tokens
    * get no spans (k = 0) and are absent, exactly as in both engines. */
  def spanCorruption(documents: DataFrame): DataFrame = {
    val key = concat(col("doc_id").cast("string"), lit(":"),
      col("span_id").cast("string"))
    documents
      .select(col("doc_id"),
        size(TextPrep.wordsCol).cast("long").as("n_tokens"))
      .withColumn("k", expr(s"n_tokens * $SpanMaskNum DIV $SpanMaskDen"))
      .filter(col("k") >= 1)
      .withColumn("seg_len", expr("n_tokens DIV k"))
      .select(col("doc_id"), col("n_tokens"), col("k").as("n_spans"),
        col("seg_len"), explode(expr("sequence(0L, k - 1)")).as("span_id"))
      .withColumn("span_len", lit(SpanLenBase) + hash60("spanlen", key) % SpanLenMod)
      .withColumn("span_start",
        col("span_id") * col("seg_len") +
          hash60("spanoff", key) % (col("seg_len") - col("span_len") + 1L))
      .select(col("doc_id"), col("span_id").cast("int").as("span_id"),
        col("span_start"), col("span_len"), col("n_tokens"), col("n_spans"))
      .orderBy("doc_id", "span_id")
  }

  val sqlSpanCorruption: String = {
    val key = "CAST(doc_id AS VARCHAR) || ':' || CAST(span_id AS VARCHAR)"
    s"""WITH b AS (
          SELECT doc_id, CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n_tokens
          FROM documents),
        kk AS (
          SELECT doc_id, n_tokens,
            n_tokens * $SpanMaskNum // $SpanMaskDen AS k
          FROM b),
        e AS (
          SELECT doc_id, n_tokens, k AS n_spans, n_tokens // k AS seg_len,
            unnest(generate_series(CAST(0 AS BIGINT), k - 1)) AS span_id
          FROM kk WHERE k >= 1),
        s AS (
          SELECT doc_id, span_id, n_tokens, n_spans, seg_len,
            $SpanLenBase + ${sqlHash60("spanlen", key)} % $SpanLenMod AS span_len
          FROM e)
        SELECT doc_id, CAST(span_id AS INTEGER) AS span_id,
          span_id * seg_len +
            ${sqlHash60("spanoff", key)} % (seg_len - span_len + 1)
            AS span_start,
          span_len, n_tokens, n_spans
        FROM s ORDER BY doc_id, span_id"""
  }

  /** FILL-IN-MIDDLE split plan (the code-model FIM data op, Bavarian
    * et al.): per document two deterministic cut points 1 ≤ c1 < c2 ≤
    * n−1 from md5(doc_id) arithmetic, emitted as the three segment
    * lengths (each ≥ 1 by the arithmetic: c1 = 1 + h1 mod (n−2),
    * c2 = c1 + 1 + h2 mod (n−c1−1), needing n ≥ 3). Pure map,
    * shuffle-free at any scale; the twin mirrors the cut arithmetic
    * exactly. */
  def fimSplit(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        size(TextPrep.wordsCol).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 3)
      .withColumn("c1",
        lit(1L) + hash60("fim1", col("doc_id")) % (col("n_tokens") - 2L))
      .withColumn("c2",
        col("c1") + 1L +
          hash60("fim2", col("doc_id")) % (col("n_tokens") - col("c1") - 1L))
      .select(col("doc_id"), col("n_tokens"),
        col("c1").as("prefix_len"),
        (col("c2") - col("c1")).as("middle_len"),
        (col("n_tokens") - col("c2")).as("suffix_len"))
      .orderBy("doc_id")

  val sqlFimSplit: String =
    s"""WITH b AS (
          SELECT doc_id, CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n_tokens
          FROM documents),
        c1s AS (
          SELECT doc_id, n_tokens,
            1 + ${sqlHash60("fim1", "doc_id")} % (n_tokens - 2) AS c1
          FROM b WHERE n_tokens >= 3),
        c2s AS (
          SELECT doc_id, n_tokens, c1,
            c1 + 1 + ${sqlHash60("fim2", "doc_id")} % (n_tokens - c1 - 1) AS c2
          FROM c1s)
        SELECT doc_id, n_tokens,
          c1 AS prefix_len, c2 - c1 AS middle_len, n_tokens - c2 AS suffix_len
        FROM c2s ORDER BY doc_id"""

  // ---- sequence packing ---------------------------------------------

  val PackCapacity = 256L

  /** Concat-and-chunk sequence packing: documents are concatenated in
    * doc_id order within each language shard and cut into fixed
    * PackCapacity-token training sequences; each document records the
    * sequence its first token lands in and how many sequences it
    * spans. The LLM-pretraining batching shape. The running sum is a
    * window per (lang) shard — at corpus scale the shard key is the
    * partition key, so no global ordering bottleneck exists. */
  /** The unordered packing core — ONE definition of the concat-and-cut
    * assignment shared by the published per-document query and the
    * [[trainingShards]] capstone's per-sequence rollup. */
  private def packCore(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), col("lang"),
        // the ONE shared tokenizer (an inline split could silently
        // diverge from TextPrep if corpus tokenization ever changes)
        size(TextPrep.wordsCol).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer DIV, not double /: the double path loses exactness past
      // 2^53 cumulative tokens and drifts off the twin's exact `//`
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before DIV $PackCapacity").as("seq_id"),
        expr(s"(cum_before + n_tokens - 1) DIV $PackCapacity" +
          s" - cum_before DIV $PackCapacity + 1").as("n_seqs_spanned"))
  }

  def packSequences(documents: DataFrame): DataFrame =
    packCore(documents).orderBy("doc_id")

  /** Per-sequence pack SLICES (VERDICT r10 task 7): WHERE each
    * spanning document is cut. [[packSequences]] reports how many
    * sequences a document spans but not the cut positions; a trainer
    * materializing actual sequences needs, per (doc, seq), the
    * within-document token range that lands in that sequence. Exact
    * integer arithmetic off the same [[packCore]] cumulative sum:
    * slice s of a doc at cum_before c with n tokens covers global
    * tokens [max(c, s·cap), min(c+n, (s+1)·cap)) — re-based to
    * 0-indexed within-doc offsets [tok_start, tok_end). Slice token
    * sums reconcile with n_tokens per doc BY CONSTRUCTION (asserted
    * in the spec). Zero-token documents occupy no slice. The explode
    * is map-side over the window output; row count = Σ n_seqs_spanned
    * (corpus tokens / capacity + one row per spanned doc) — linear.
    * Built on [[scalableCum]] (bounded window partitions), so the
    * production form carries no LOWCARD_WINDOW trade; the oracle is
    * the sequential-window twin, bit-equal by construction. */
  def packSlices(documents: DataFrame): DataFrame =
    scalableCum(documents)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"),
        explode(sequence(expr(s"cum_before DIV $PackCapacity"),
          expr(s"(cum_before + n_tokens - 1) DIV $PackCapacity"))).as("seq_id2"))
      .select(col("doc_id"), col("lang"), col("seq_id2").as("seq_id"),
        (greatest(col("cum_before"), col("seq_id2") * lit(PackCapacity))
          - col("cum_before")).as("tok_start"),
        (least(col("cum_before") + col("n_tokens"),
          (col("seq_id2") + 1) * lit(PackCapacity))
          - col("cum_before")).as("tok_end"))
      .withColumn("n_slice_tokens", col("tok_end") - col("tok_start"))
      .orderBy("doc_id", "seq_id")

  /** Packing EFFICIENCY report (round 11) — the number that justifies
    * concat-and-cut packing at all: per language, document/token mass,
    * how many capacity-token sequences the stream cuts into, the
    * padding the LAST partial sequence wastes, utilization (one IEEE
    * division of exact ints), and how many documents span a cut
    * (the attention-mask/document-boundary cost a trainer pays).
    * Built on [[scalableCum]]; one bounded-window pass + one
    * lang-cardinality aggregate. */
  def packEfficiency(documents: DataFrame): DataFrame =
    scalableCum(documents)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"(cum_before + n_tokens - 1) DIV $PackCapacity" +
          s" - cum_before DIV $PackCapacity + 1").as("spans"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("spans") > 1, 1L).otherwise(0L)).as("n_spanning_docs"))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${PackCapacity - 1}) DIV $PackCapacity"))
      .withColumn("pad_tokens",
        col("n_seqs") * lit(PackCapacity) - col("total_tokens"))
      .withColumn("utilization",
        col("total_tokens").cast("double") /
          (col("n_seqs") * lit(PackCapacity)).cast("double"))
      .orderBy("lang")

  val sqlPackEfficiency: String =
    s"""WITH ${sqlPackCtes("documents")},
        d AS (
          SELECT lang, n_tokens,
            (cum_before + n_tokens - 1) // $PackCapacity
              - cum_before // $PackCapacity + 1 AS spans
          FROM c),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
            CAST(sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_spanning_docs
          FROM d GROUP BY 1)
        SELECT lang, n_docs, total_tokens, n_spanning_docs,
          CAST((total_tokens + ${PackCapacity - 1}) // $PackCapacity
            AS BIGINT) AS n_seqs,
          CAST((total_tokens + ${PackCapacity - 1}) // $PackCapacity
            * $PackCapacity - total_tokens AS BIGINT) AS pad_tokens,
          CAST(total_tokens AS DOUBLE) /
            CAST((total_tokens + ${PackCapacity - 1}) // $PackCapacity
              * $PackCapacity AS DOUBLE) AS utilization
        FROM g ORDER BY lang"""

  val sqlPackSlices: String =
    s"""WITH ${sqlPackCtes("documents")},
        s AS (
          SELECT doc_id, lang, n_tokens, cum_before,
            unnest(generate_series(cum_before // $PackCapacity,
              (cum_before + n_tokens - 1) // $PackCapacity)) AS seq_id
          FROM c WHERE n_tokens > 0)
        SELECT doc_id, lang, seq_id,
          CAST(greatest(cum_before, seq_id * $PackCapacity) - cum_before
            AS BIGINT) AS tok_start,
          CAST(least(cum_before + n_tokens, (seq_id + 1) * $PackCapacity)
            - cum_before AS BIGINT) AS tok_end,
          CAST(least(cum_before + n_tokens, (seq_id + 1) * $PackCapacity)
            - greatest(cum_before, seq_id * $PackCapacity) AS BIGINT)
            AS n_slice_tokens
        FROM s ORDER BY doc_id, seq_id"""

  /** Batch packing against externally-carried per-language token
    * bases — the incremental form of [[packCore]] used by the
    * streaming pack sink ([[graft.streaming.Sources.packSequencesQuery]]):
    * cum_before = carried base + within-batch running sum, then the
    * SAME seq_id / span arithmetic, so streamed packing under
    * monotone-id arrival is row-identical to a batch repack of the
    * union. The within-batch window is bounded by the trigger size —
    * the unbounded-partition concern of the batch window doesn't
    * arise here. */
  private[graft] def packBatchWithBases(batch: DataFrame,
                                        bases: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    batch
      .select(col("doc_id"), col("lang"),
        size(TextPrep.wordsCol).cast("long").as("n_tokens"))
      .withColumn("local_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .join(bases, Seq("lang"), "left")
      .withColumn("cum_before",
        coalesce(col("base_tokens"), lit(0L)) + col("local_before"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before DIV $PackCapacity").as("seq_id"),
        expr(s"(cum_before + n_tokens - 1) DIV $PackCapacity" +
          s" - cum_before DIV $PackCapacity + 1").as("n_seqs_spanned"))
  }

  /** SQL pack core over any doc-shaped source `src` — the twin of
    * [[packCore]], parameterized like Multimodal's overKeyedDocs so
    * the capstone packs its SURVIVOR set with the same arithmetic.
    * Yields CTEs `t` and `c`; the consumer projects seq_id/spans. */
  private def sqlPackCtes(src: String): String =
    s"""t AS (
          SELECT doc_id, lang,
            CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n_tokens
          FROM $src),
        c AS (
          SELECT doc_id, lang, n_tokens,
            CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          FROM t)"""

  val sqlPackSequences: String =
    s"""WITH ${sqlPackCtes("documents")}
        SELECT doc_id, lang, n_tokens,
          CAST(cum_before // $PackCapacity AS BIGINT) AS seq_id,
          CAST((cum_before + n_tokens - 1) // $PackCapacity
            - cum_before // $PackCapacity + 1 AS BIGINT) AS n_seqs_spanned
        FROM c ORDER BY doc_id"""

  /** doc_id-range width of one packing bucket in the scalable path.
    * Order-aligned BY CONSTRUCTION (the packing order IS doc_id, so
    * contiguous id ranges are contiguous runs of the order, whatever
    * gaps the corpus has); sized so one bucket's window partition
    * stays a comfortable single task at any corpus density. */
  val PackBucketIds = 4096L

  /** The 100 TB twin of [[packSequences]] — IDENTICAL output, computed
    * as a two-level parallel prefix sum instead of one window per
    * language. The plain pack's window partitions on `lang` alone: a
    * handful of values, so at corpus scale one language's entire
    * token stream funnels through a single window task — the same
    * unbounded-partition defect the plan audit flags elsewhere,
    * hidden here behind a low-cardinality partition key. This variant
    * bounds every partition:
    *
    *  1. bucket = doc_id DIV [[PackBucketIds]] — order-aligned id
    *     ranges, each window partition ≤ PackBucketIds rows;
    *  2. per-(lang, bucket) LOCAL running sums (bounded window);
    *  3. per-bucket token totals → one tiny cumulative window over
    *     #buckets rows per lang (corpus/4096 rows — the only global
    *     step, over data ~10⁷× smaller than the corpus);
    *  4. base offsets join back on (lang, bucket) and
    *     cum_before = bucket_base + local running sum.
    *
    * Same `seq_id`/`n_seqs_spanned` arithmetic, bit-equal to the
    * sequential definition — so the ORACLE IS [[sqlPackSequences]]:
    * the scalable plan must hash-match the sequential twin exactly,
    * and a unit test additionally pins it to [[packSequences]]'s
    * output row-for-row. */
  /** The two-level parallel prefix sum itself: (doc_id, lang,
    * n_tokens, cum_before) with every window partition bounded —
    * the shared cumulative core of [[packSequencesScalable]],
    * [[packSlices]] and [[trainingShards]] (round 11: the latter two
    * build on THIS, not on [[packCore]]'s per-lang window, so the
    * LOWCARD_WINDOW plan-audit flag names exactly one query). Bit-
    * equal to the sequential window's cum_before by associativity of
    * integer sums over the same (lang, doc_id) order. */
  private def scalableCum(documents: DataFrame,
                          bucketIds: Long = PackBucketIds): DataFrame = {
    require(bucketIds > 0, s"bucketIds must be positive, got $bucketIds")
    import org.apache.spark.sql.expressions.Window
    val local = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the cross-bucket cumulative window runs over per-bucket TOTALS —
    // corpus/bucketIds rows — so its per-lang partition is bounded by
    // the bucket count, not the corpus
    val acrossBuckets = Window.partitionBy("lang").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = documents
      .select(col("doc_id"), col("lang"),
        size(TextPrep.wordsCol).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketIds"))
    val bucketBases = t.groupBy("lang", "bucket")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("bucket_base",
        coalesce(sum(col("bucket_tokens")).over(acrossBuckets), lit(0L)))
      .select("lang", "bucket", "bucket_base")
    t.withColumn("local_before",
        coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .join(bucketBases, Seq("lang", "bucket"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("bucket_base") + col("local_before")).as("cum_before"))
  }

  def packSequencesScalable(documents: DataFrame,
                            bucketIds: Long = PackBucketIds): DataFrame =
    scalableCum(documents, bucketIds)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before DIV $PackCapacity").as("seq_id"),
        expr(s"(cum_before + n_tokens - 1) DIV $PackCapacity" +
          s" - cum_before DIV $PackCapacity + 1").as("n_seqs_spanned"))
      .orderBy("doc_id")

  // ---- eval-set decontamination -------------------------------------

  val EvalMod = 50L
  val ContamThreshold = 0.2

  /** Train/eval decontamination: flag training documents that share
    * word n-grams with a held-out eval/benchmark set — the overlap
    * check every serious pretraining pipeline runs before training
    * (n-gram collision against benchmarks), re-expressed relationally.
    * The eval side here is the deterministic `doc_id % evalMod == 0`
    * slice standing in for a benchmark suite.
    *
    * 100 TB shape: benchmarks are MBs while the corpus is TBs, so the
    * distinct eval shingle set is broadcast and the corpus side pays
    * one map-side hash probe per shingle — the corpus is never
    * shuffled. Output: per training document, its shingle count, how
    * many shingles collide with the eval set, the collision fraction,
    * and the drop flag. */
  /** Per-TRAINING-DOCUMENT output base: every training doc gets a row,
    * INCLUDING docs too short to shingle (under ShingleWords words) —
    * docShingles drops those, so building the output from the shingle
    * frame alone would silently omit them and a consumer treating
    * absence as "clean" could not tell "checked, no shingles" from
    * "never checked". Pinned semantics for shingle-less docs:
    * n_shingles = 0, n_matched = 0, contamination_frac = NULL (0/0 is
    * undefined), contaminated = false (nothing to collide). */
  private def contaminationReport(documents: DataFrame, train: DataFrame,
                                  matched: DataFrame, evalMod: Long,
                                  threshold: Double): DataFrame =
    documents.select(col("doc_id")).filter(col("doc_id") % evalMod =!= 0)
      .join(train.select("doc_id", "n"), Seq("doc_id"), "left")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_shingles"),
        coalesce(col("matched"), lit(0L)).as("n_matched"))
      .withColumn("contamination_frac",
        when(col("n_shingles") > 0,
          col("n_matched").cast("double") / col("n_shingles").cast("double")))
      .withColumn("contaminated",
        coalesce(col("contamination_frac") >= threshold, lit(false)))
      .orderBy("doc_id")

  def decontaminate(documents: DataFrame, evalMod: Long = EvalMod,
                    threshold: Double = ContamThreshold): DataFrame = {
    // cached: the shingle prep feeds the train side twice (size join +
    // match explode) and the eval side once — same multi-consumer
    // shape decontaminateBloom already caches for
    val prep = TextPrep.docShingles(documents)
      .select("doc_id", "shs", "n").cache()
    val train = prep.filter(col("doc_id") % evalMod =!= 0)
    val evalSh = prep.filter(col("doc_id") % evalMod === 0)
      .select(explode(col("shs")).as("sh")).distinct()
    val matched = train
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("matched"))
    contaminationReport(documents, train, matched, evalMod, threshold)
  }

  def sqlDecontaminate(evalMod: Long = EvalMod,
                       threshold: Double = ContamThreshold): String =
    s"""WITH ${TextPrep.sqlShingleCtes},
        tr_all AS (SELECT doc_id FROM documents WHERE doc_id % $evalMod <> 0),
        train AS (SELECT doc_id, shs, n FROM docs WHERE doc_id % $evalMod <> 0),
        evs AS (
          SELECT DISTINCT unnest(shs) AS sh FROM docs
          WHERE doc_id % $evalMod = 0),
        m AS (
          SELECT t.doc_id, count(*) AS matched
          FROM (SELECT doc_id, unnest(shs) AS sh FROM train) t
          JOIN evs USING (sh) GROUP BY 1)
        SELECT tr_all.doc_id,
          CAST(coalesce(train.n, 0) AS BIGINT) AS n_shingles,
          CAST(coalesce(m.matched, 0) AS BIGINT) AS n_matched,
          CASE WHEN coalesce(train.n, 0) > 0 THEN
            CAST(coalesce(m.matched, 0) AS DOUBLE) / CAST(train.n AS DOUBLE)
          END AS contamination_frac,
          coalesce(
            CASE WHEN coalesce(train.n, 0) > 0 THEN
              CAST(coalesce(m.matched, 0) AS DOUBLE) / CAST(train.n AS DOUBLE)
            END >= $threshold, FALSE) AS contaminated
        FROM tr_all
        LEFT JOIN train ON tr_all.doc_id = train.doc_id
        LEFT JOIN m ON tr_all.doc_id = m.doc_id
        ORDER BY tr_all.doc_id"""

  /** Unicode NFC normalization report: the canonical pre-dedup pass.
    * Composed vs decomposed accents (é as U+00E9 vs e + combining
    * U+0301) are byte-different, so every md5-keyed operator — exact
    * dedup, shingles, winnowing — silently misses duplicates until the
    * corpus is normalized. Row-local native expression (fast path
    * returns already-normalized text with zero allocation, which is
    * ~all of a real corpus), emitting the normalized-content hash the
    * dedup family would key on plus the changed flag for monitoring.
    * Oracle twin is DuckDB's nfc_normalize — both engines implement
    * the same Unicode standard. */
  def normalizeText(documents: DataFrame): DataFrame = {
    val nfc = call_function("nfc_normalize", col("text"))
    documents
      .select(col("doc_id"),
        (nfc =!= col("text")).as("changed"),
        md5(nfc).as("content_hash"))
      .orderBy("doc_id")
  }

  val sqlNormalizeText: String =
    """SELECT doc_id, nfc_normalize(text) <> text AS changed,
       md5(nfc_normalize(text)) AS content_hash
       FROM documents ORDER BY doc_id"""

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s 100 TB
    * shape. The broadcast-the-eval-shingle-set plan above assumes the
    * benchmark suite's n-gram set fits in a broadcast; a serious eval
    * battery (every benchmark + all their paraphrases) can reach 10⁹
    * n-grams, where the exact set no longer broadcasts but a Bloom
    * filter of it does (≈1.2 GB at 1 % fpp). The plan: build the
    * filter DISTRIBUTED with Spark's own BloomFilterAggregate (the
    * runtime-filter machinery, surfaced as `bloom_build` — partial
    * filters OR-merge, nothing collects raw shingles), feed it to
    * `bloom_might_contain` as a scalar subquery (`Dataset.scalar()`,
    * the same shape Spark's own injected runtime filters use) to prune
    * the corpus-side shingle explode, and then exact-verify ONLY the
    * survivors against the eval set in a plain equi-join. False
    * positives die in the verify join, so the output is bit-identical to
    * [[decontaminate]] (they share oracle SQL); the bloom's job is to
    * shrink the verify join's probe side from every-shingle-in-the-
    * corpus to matches + fpp·corpus. The verify join is deliberately
    * NOT hinted broadcast: locally AQE broadcasts it anyway, at scale
    * it becomes a shuffle join whose probe side the bloom already cut.
    */
  /** Default bloom sizing for THIS corpus's eval slice. At the 10⁹-
    * shingle eval battery the docstring above cites, this default
    * would saturate the filter (fpp → 1) and the prefilter would stop
    * pruning — callers at that scale MUST pass their real eval-side
    * estimate (correctness is unaffected either way: the verify join
    * kills false positives; only the pruning power is at stake). */
  val BloomEstEvalShingles = 1L << 20

  def decontaminateBloom(documents: DataFrame, evalMod: Long = EvalMod,
                         threshold: Double = ContamThreshold,
                         expectedEvalShingles: Long = BloomEstEvalShingles): DataFrame = {
    // cached: the shingle prep feeds the train side twice and the eval
    // side twice (bloom build + verify join)
    val prep = TextPrep.docShingles(documents)
      .select("doc_id", "shs", "n").cache()
    val train = prep.filter(col("doc_id") % evalMod =!= 0)
    val evalSh = prep.filter(col("doc_id") % evalMod === 0)
      .select(explode(col("shs")).as("sh")).distinct()
    val bf = evalSh.agg(call_function("bloom_build",
      xxhash64(col("sh")), lit(expectedEvalShingles)).as("bf"))
    val cand = train
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .filter(call_function("bloom_might_contain", bf.scalar(), xxhash64(col("sh"))))
    val matched = cand.join(evalSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("matched"))
    contaminationReport(documents, train, matched, evalMod, threshold)
  }

  // ---- grouped quality top-k ----------------------------------------

  val QualityK = 10

  /** Top-k documents per language by quality score, via the
    * bounded-heap top_k_by aggregate: only k rows per group leave each
    * map partition, vs a Window's full shuffle-sort of the corpus.
    * Tie order (score desc, doc_id asc) matches the oracle's
    * row_number. */
  def qualityTopK(documents: DataFrame, k: Int = QualityK): DataFrame = {
    TextStats.textStatsUnordered(documents)
      .groupBy("lang")
      .agg(call_function("top_k_by", col("quality_score"), col("doc_id"), lit(k)).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rnk"),
        col("e.id").as("doc_id"), col("e.score").as("quality_score"))
      .orderBy("lang", "rnk")
  }

  val NumDeciles = 10

  /** Quality-decile report: rank the corpus into NumDeciles equal-count
    * buckets by quality score (ties broken by doc_id for a total
    * order) and report each bucket's size and score range — the table
    * behind "train on the top 3 deciles" curation policies.
    *
    * The exact ntile needs a global sort; that is the ORACLE-EXACT
    * baseline. The 100 TB path keeps the same output contract but
    * buckets by approx_percentile cutpoints (fixed-size sketch, one
    * map-only bucketing pass) — documented trade, same shape as
    * q_approx_quantiles' tolerance pattern. */
  def qualityDeciles(documents: DataFrame, n: Int = NumDeciles): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality_score").asc, col("doc_id").asc)
    TextStats.textStatsUnordered(documents)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("decile", ntile(n).over(w).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy("decile")
  }

  /** The 100 TB decile path: bucket by approx_percentile CUTPOINTS
    * instead of a global ntile sort. The sketch is fixed-size per map
    * partition; bucketing is then one broadcast of (n-1) cutpoints and
    * a map-only pass — no global sort anywhere. Because sketch
    * cutpoints differ from exact rank boundaries, per-bucket counts are
    * verified as tolerance BOOLEANS (same oracle pattern as
    * q_approx_quantiles): |n_docs − n_total/n| must stay within the
    * sketch's rank-error bound (accuracy 10000 → ≤ n/10⁴ per cutpoint)
    * plus a 10 % equal-split slack for value ties, which a value-bucket
    * cannot split the way ntile does. A decile spine guarantees all n
    * rows exist even if ties collapse a bucket. */
  def qualityDecilesApprox(documents: DataFrame, n: Int = NumDeciles): DataFrame = {
    val spark = documents.sparkSession
    val scores = TextStats.textStatsUnordered(documents)
      .select(col("doc_id"), col("quality_score"))
    val probs = (1 until n).map(i => s"${i.toDouble / n}D").mkString(",")
    // cache the 1-row sketch: it feeds both the bucketing crossJoin and
    // the final spine join as SEPARATE plan subtrees, and without the
    // cache each re-runs the full TextStats corpus aggregate (the file's
    // convention — curationFunnel/dsirWeights — never relies on
    // exchange reuse alone)
    val cutsRow = scores.agg(
      expr(s"approx_percentile(quality_score, array($probs), 10000)").as("cuts"),
      count(lit(1)).as("n_total"))
      .cache()
    val counts = scores.crossJoin(broadcast(cutsRow))
      .select(col("n_total"),
        (size(filter(col("cuts"), c => col("quality_score") > c)) + 1)
          .cast("int").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_docs"))
    val spine = spark.range(1, n + 1L)
      .select(col("id").cast("int").as("decile"))
    spine.join(counts, Seq("decile"), "left")
      .crossJoin(broadcast(cutsRow.select(col("n_total").as("nt"))))
      .select(col("decile"), col("nt").as("n_total"),
        (abs(coalesce(col("n_docs"), lit(0L)).cast("double") -
          col("nt").cast("double") / n) <=
          lit(0.10) * col("nt").cast("double") / n +
          lit(2.0 / 10000.0) * col("nt").cast("double") + lit(10.0))
          .as("count_within_tol"))
      .orderBy("decile")
  }

  def sqlQualityDecilesApprox(n: Int = NumDeciles): String =
    s"""WITH stats AS (${TextStats.sqlTextStats}),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM stats)
        SELECT CAST(g.d AS INTEGER) AS decile, n_total,
          TRUE AS count_within_tol
        FROM generate_series(1, $n) AS g(d), tot ORDER BY decile"""

  def sqlQualityDeciles(n: Int = NumDeciles): String =
    s"""WITH stats AS (${TextStats.sqlTextStats}),
        d AS (
          SELECT doc_id, quality_score,
            CAST(ntile($n) OVER (ORDER BY quality_score ASC, doc_id ASC)
              AS INTEGER) AS decile
          FROM stats)
        SELECT decile, count(*) AS n_docs,
          min(quality_score) AS min_quality,
          max(quality_score) AS max_quality
        FROM d GROUP BY 1 ORDER BY 1"""

  // ---- fixed-size per-stratum sample ---------------------------------

  val GroupSampleK = 5

  /** Exactly-k-per-stratum deterministic sample: order documents
    * within each language by a 48-bit md5-derived hash (a hash order
    * standing in for random order, reproducible across runs/clusters,
    * doc_id breaking hash ties) and keep the first k. The "give me 5
    * examples per language" eval-set draw.
    *
    * NOT a window (round 11, the LOWCARD_WINDOW audit's first catch):
    * row_number partitioned by `lang` ranks a language's ENTIRE
    * corpus share through one task — the hidden unbounded partition.
    * The verdict comes from the bounded-heap `top_k_by` aggregate
    * instead (the [[domainCap]] shape): per-language state is k
    * entries whatever the corpus, map-side partials, score = −hash
    * so the k highest scores are the k smallest hashes, equal-score
    * ties resolved id-ascending by the heap — the same total order
    * the twin's window states declaratively. 48 hash bits (12 hex
    * chars) keep the score exact in the heap's double. */
  def groupSample(documents: DataFrame, k: Int = GroupSampleK): DataFrame = {
    val h = conv(substring(
      md5(concat(lit("gs:"), col("doc_id").cast("string"))), 1, 12),
      16, 10).cast("long")
    documents
      .select(col("lang"), col("doc_id"), h.as("h"))
      .groupBy("lang")
      .agg(call_function("top_k_by",
        -col("h").cast("double"), col("doc_id"), lit(k)).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rnk"),
        col("entry.id").as("doc_id"))
      .orderBy("lang", "rnk")
  }

  def sqlGroupSample(k: Int = GroupSampleK): String =
    s"""SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id FROM (
          SELECT lang, doc_id,
            row_number() OVER (PARTITION BY lang ORDER BY
              CAST(concat('0x',
                substr(md5('gs:' || CAST(doc_id AS VARCHAR)), 1, 12))
                AS BIGINT), doc_id) AS rnk
          FROM documents)
        WHERE rnk <= $k ORDER BY lang, rnk"""

  // ---- C4/Gopher-style heuristic rule filter -------------------------

  val MinWords = 30
  val MeanWordLenLo = 3.0
  val MeanWordLenHi = 4.5
  val MaxWordLen = 20
  val StopWords: Seq[String] = Seq("the", "and", "of", "to", "a")

  /** C4/Gopher-style rule-based corpus filter: per-document boolean
    * verdicts for the classic cheap heuristics — minimum word count,
    * mean word length band, maximum word length, no code braces, and
    * at least one common stopword — plus the combined keep flag. Each
    * rule is a row-local codegen'd expression over one projection, so
    * the filter is a map-only pass that pushes column pruning down to
    * the scan (only `text` is read); at 100 TB it is embarrassingly
    * parallel with zero shuffle. Thresholds are calibrated so the
    * synthetic corpus splits non-trivially (docs run 10-99 words with
    * mean word length 4.1-4.9).
    *
    * Mean word length divides two exact integers in double — one IEEE
    * division, bit-identical across engines. */
  def c4Filter(documents: DataFrame): DataFrame = {
    val words = TextPrep.wordsCol
    documents
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"),
        array_max(transform(words, w => length(w))).cast("long").as("max_wlen"),
        col("text").contains("{").as("has_brace"),
        arrays_overlap(words,
          array(StopWords.map(lit): _*)).as("has_stopword"))
      .withColumn("mean_wlen",
        col("n_nonspace").cast("double") / col("n_words").cast("double"))
      .withColumn("keep",
        col("n_words") >= MinWords &&
        col("mean_wlen") >= MeanWordLenLo && col("mean_wlen") <= MeanWordLenHi &&
        col("max_wlen") <= MaxWordLen &&
        !col("has_brace") && col("has_stopword"))
      .select("doc_id", "n_words", "mean_wlen", "max_wlen",
        "has_brace", "has_stopword", "keep")
      .orderBy("doc_id")
  }

  val sqlC4Filter: String = {
    val stops = StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (
          SELECT doc_id,
            CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n_words,
            CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
            CAST(list_max(list_transform(${TextPrep.sqlWords}, w -> len(w)))
              AS BIGINT) AS max_wlen,
            contains(text, '{') AS has_brace,
            len(list_intersect(${TextPrep.sqlWords}, $stops)) > 0 AS has_stopword
          FROM documents),
        m AS (
          SELECT *, CAST(n_nonspace AS DOUBLE) / CAST(n_words AS DOUBLE)
            AS mean_wlen FROM f)
        SELECT doc_id, n_words, mean_wlen, max_wlen, has_brace, has_stopword,
          (n_words >= $MinWords AND mean_wlen >= $MeanWordLenLo
           AND mean_wlen <= $MeanWordLenHi AND max_wlen <= $MaxWordLen
           AND NOT has_brace AND has_stopword) AS keep
        FROM m ORDER BY doc_id"""
  }

  // ---- temperature-based mixture sampling ----------------------------

  /** Data-driven corpus mixture: downsample dominant languages toward a
    * sqrt-temperature mix (rate_s = 1000·sqrt(min_count/count_s) permille,
    * so the rarest language keeps everything and a language 4x the size
    * keeps half) and gate each row on the same salted-md5 bucket as
    * stratifiedSample. Unlike stratifiedSample's FIXED config rates,
    * the rates here come from the corpus itself — the "rebalance the
    * scrape toward uniform" curation step.
    *
    * sqrt is the one transcendental-free way to temper: IEEE-754
    * requires correctly-rounded sqrt, so floor(1000·sqrt(x)) is
    * bit-identical in Spark and DuckDB. The counts side is a tiny
    * aggregate broadcast back onto a map-only filter — no corpus
    * shuffle at any scale. */
  def mixtureSample(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val minCnt = counts.agg(min(col("cnt")).as("cmin"))
    val rates = counts.crossJoin(broadcast(minCnt))
      .select(col("lang"),
        greatest(lit(1L),
          floor(lit(1000.0) * sqrt(col("cmin").cast("double") / col("cnt").cast("double"))))
          .cast("long").as("rate_permille"))
    documents
      .join(broadcast(rates), "lang")
      .withColumn("b", hashBucket("mix", 1000,
        concat(col("lang"), lit(":"), col("doc_id").cast("string"))))
      .filter(col("b") < col("rate_permille"))
      .select(col("doc_id"), col("lang"), col("rate_permille"))
      .orderBy("doc_id")
  }

  val sqlMixtureSample: String =
    s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        m AS (SELECT min(cnt) AS cmin FROM c),
        r AS (
          SELECT lang, CAST(greatest(1, floor(1000.0 *
            sqrt(CAST(cmin AS DOUBLE) / CAST(cnt AS DOUBLE)))) AS BIGINT)
            AS rate_permille
          FROM c, m)
        SELECT doc_id, lang, rate_permille
        FROM documents JOIN r USING (lang)
        WHERE ${sqlHashBucket("mix", 1000, "lang || ':' || CAST(doc_id AS VARCHAR)")} < rate_permille
        ORDER BY doc_id"""

  def sqlQualityTopK(k: Int = QualityK): String =
    s"""WITH stats AS (${TextStats.sqlTextStats}),
        ranked AS (
          SELECT lang, doc_id, quality_score,
            row_number() OVER (PARTITION BY lang
              ORDER BY quality_score DESC, doc_id ASC) AS rnk
          FROM stats)
        SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id, quality_score
        FROM ranked WHERE rnk <= $k ORDER BY lang, rnk"""

  // ---- DSIR-style importance weighting -------------------------------

  val DsirBuckets = 1024
  val DsirTargetLang = "en"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how target-like its hashed unigram distribution is.
    * Features are md5-hashed word buckets (B = [[DsirBuckets]]); the
    * per-word factor is the add-one-smoothed target/raw bucket
    * probability ratio, and the document weight is the product of its
    * words' factors in word-position order. `target_like` (weight ≥ 1)
    * is the resampling keep-signal.
    *
    * Determinism: bucket counts are exact integers, each exactly
    * double-representable (< 2⁵³ words); the per-word factor casts
    * each count to double BEFORE multiplying (int64 products of two
    * ~2⁴⁵ counts would overflow — and Spark wraps where DuckDB
    * throws), so the factor is two identically-rounded double
    * products and one division, and the per-doc product folds in
    * pinned word order on both engines. No transcendental functions
    * anywhere — production DSIR sums library logs to dodge
    * under/overflow on very long documents, which no two engines
    * round identically; at this corpus' lengths the pinned-order
    * product is the hash-portable formulation, and the 100 TB variant
    * swaps in integer-bit log2 (the [[TextStats.rarityScore]] trick)
    * if documents grow past ~10³ words.
    *
    * Shapes: one positional explode (cached — it feeds the histograms
    * AND the scoring join), two ≤ B-row bucket histograms whose own
    * sums provide the totals, a broadcast ratio table, one per-doc
    * fold aggregate. */
  def dsirWeights(documents: DataFrame,
                  targetLang: String = DsirTargetLang): DataFrame = {
    val w = documents
      .select(col("doc_id"), col("lang"),
        posexplode(TextPrep.wordsCol).as(Seq("p", "word")))
      .withColumn("b", hashBucket("dsir", DsirBuckets, col("word")))
      .cache()
    // NOT eagerly filled (round 14, measured): ProfileOne shows the
    // five downstream aggregates racing this cold cache as five
    // concurrent ~770 ms jobs — but they overlap on idle cores, so
    // the duplicated fill costs task-time, not wall; an eager count()
    // SERIALIZES fill-then-consume and measured q_dsir_weights
    // 1.95 → 2.1–2.3 s. Materializing first only wins when the
    // duplicated subplan saturates the machine (see the ANN top-k and
    // PageRank notes in OPTIMIZATION_r14.md §13–§14).
    val raw = w.groupBy("b").agg(count(lit(1)).as("rc"))
    val tgt = w.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val tot = raw.agg(sum(col("rc")).as("rtot"))
      .crossJoin(tgt.agg(coalesce(sum(col("tc")), lit(0L)).as("ttot")))
    val dbl = (c: Column) => c.cast("double")
    val rtab = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (dbl(coalesce(col("tc"), lit(0L)) + 1) * dbl(col("rtot") + DsirBuckets) /
          (dbl(col("rc") + 1) * dbl(col("ttot") + DsirBuckets))).as("r"))
    // cached: one row per doc, consumed by both the median aggregate
    // and the output projection — never rerun the explode pipeline
    val d = w.join(broadcast(rtab), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        expr("aggregate(transform(array_sort(collect_list(struct(p, r))), x -> x.r), " +
          "CAST(1.0 AS DOUBLE), (a, x) -> a * x)").as("weight"))
      .cache()
    // resampling keep-signal: above-median weight (DSIR selects by
    // weight rank; an absolute 1.0 cut is meaningless because add-one
    // smoothing biases every factor slightly down)
    val med = d.agg(expr("percentile(weight, 0.5D)").as("medw"))
    d.crossJoin(broadcast(med))
      .select(col("doc_id"), col("n_words"), col("weight"),
        (col("weight") >= col("medw")).as("target_like"))
      .orderBy("doc_id")
  }

  def sqlDsirWeights(targetLang: String = DsirTargetLang): String =
    s"""WITH w AS (
          SELECT doc_id, lang,
            unnest(generate_series(1, len(ws))) AS p, unnest(ws) AS word
          FROM (SELECT doc_id, lang, ${TextPrep.sqlWords} AS ws FROM documents)),
        wb AS (
          SELECT doc_id, lang, p, ${sqlHashBucket("dsir", DsirBuckets, "word")} AS b
          FROM w),
        raw AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM wb GROUP BY 1),
        tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM wb
                WHERE lang = '$targetLang' GROUP BY 1),
        tot AS (
          SELECT rtot, ttot FROM
            (SELECT CAST(sum(rc) AS BIGINT) AS rtot FROM raw)
            CROSS JOIN
            (SELECT CAST(COALESCE(sum(tc), 0) AS BIGINT) AS ttot FROM tgt)),
        rt AS (
          SELECT raw.b,
            CAST(COALESCE(tc, 0) + 1 AS DOUBLE) * CAST(rtot + $DsirBuckets AS DOUBLE)
              / (CAST(rc + 1 AS DOUBLE) * CAST(ttot + $DsirBuckets AS DOUBLE)) AS r
          FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
        d AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            list_reduce(list(r ORDER BY p), (a, x) -> a * x) AS weight
          FROM wb JOIN rt USING (b) GROUP BY 1),
        med AS (SELECT quantile_cont(weight, 0.5) AS medw FROM d)
        SELECT doc_id, n_words, weight, weight >= medw AS target_like
        FROM d CROSS JOIN med ORDER BY doc_id"""

  // ---- curation funnel -----------------------------------------------

  val QualityFloor = 0.5

  /** The whole-pipeline dashboard in one query: document and token
    * counts surviving each curation stage, cumulatively —
    * 1_raw → 2_exact_dedup (md5 first-copy) → 3_near_dedup (no LSH
    * partner with a smaller doc_id at jaccard ≥ ClusterThreshold; the
    * pair-based survivor rule incremental dedup uses, deliberately
    * not transitive closure) → 4_rules ([[c4Filter]]) →
    * 5_quality (score ≥ [[QualityFloor]]).
    *
    * This is the report a data lead reads before a training run: how
    * much of the crawl survives, and which stage is eating it. Cost =
    * the LSH pair pipeline plus three doc-keyed joins and ONE
    * single-row aggregate; the per-stage rows are five projections of
    * that aggregate. */
  def curationFunnel(documents: DataFrame): DataFrame = {
    // fingerprint = md5(text), already computed by the stats pass —
    // the exact-dedup stage reuses it instead of re-hashing the corpus.
    // Cached: stats feeds THREE subtrees (keepExact's probe side, the
    // fingerprint groupBy, and the flags join) and Spark shares no
    // subplans — uncached, the tokenization + md5 pass runs 3x.
    val stats = TextStats.textStatsUnordered(documents)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("fingerprint"))
      .cache()
    val keepExact = stats
      .join(stats.groupBy("fingerprint").agg(min(col("doc_id")).as("m")),
        "fingerprint")
      .select(col("doc_id"), (col("doc_id") === col("m")).as("s2"))
    // pairs are emitted doc_a < doc_b, so "has a smaller near-dup
    // partner" == "appears as doc_b"
    val droppedNear = Dedup.minhashLshPairs(documents)
      .filter(col("jaccard") >= Dedup.ClusterThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dropped", lit(true))
    val flags = stats
      .join(keepExact, "doc_id")
      .join(droppedNear, Seq("doc_id"), "left")
      .join(c4Filter(documents).select(col("doc_id"), col("keep")), "doc_id")
      .select(col("n_tokens"), col("s2"),
        (col("s2") && !coalesce(col("near_dropped"), lit(false))).as("s3"),
        col("keep"), col("quality_score"))
      .withColumn("s4", col("s3") && col("keep"))
      .withColumn("s5", col("s4") && col("quality_score") >= QualityFloor)
    // cached: the expensive pipeline collapses to ONE row consumed by
    // all five stage projections — never rely on exchange reuse alone
    val a = flags.agg(
      count(lit(1)).as("n1"), sum(col("n_tokens")).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s2"), col("n_tokens")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("n4"),
      sum(when(col("s4"), col("n_tokens")).otherwise(0L)).as("t4"),
      sum(when(col("s5"), 1L).otherwise(0L)).as("n5"),
      sum(when(col("s5"), col("n_tokens")).otherwise(0L)).as("t5"))
      .cache()
    val stages = Seq(
      ("1_raw", "n1", "t1"), ("2_exact_dedup", "n2", "t2"),
      ("3_near_dedup", "n3", "t3"), ("4_rules", "n4", "t4"),
      ("5_quality", "n5", "t5"))
    stages.map { case (name, n, t) =>
      // NULL (not NaN) on an empty corpus: Spark 0.0/0.0 is NaN but
      // DuckDB's is NULL, and the oracle compares every cell
      a.select(lit(name).as("stage"), col(n).as("n_docs"), col(t).as("n_tokens"),
        when(col("n1") === 0, lit(null))
          .otherwise(col(n).cast("double") / col("n1").cast("double"))
          .as("pct_docs"))
    }.reduce(_ union _).orderBy("stage")
  }

  def sqlCurationFunnel(): String = {
    val unions = Seq(
      ("1_raw", "n1", "t1"), ("2_exact_dedup", "n2", "t2"),
      ("3_near_dedup", "n3", "t3"), ("4_rules", "n4", "t4"),
      ("5_quality", "n5", "t5"))
      .map { case (name, n, t) =>
        s"""SELECT '$name' AS stage, $n AS n_docs, $t AS n_tokens,
            CASE WHEN n1 = 0 THEN NULL
                 ELSE CAST($n AS DOUBLE) / CAST(n1 AS DOUBLE) END AS pct_docs
            FROM a"""
      }.mkString("\n          UNION ALL ")
    s"""WITH ${Dedup.sqlMinhashCtes},
        stats AS (${TextStats.sqlTextStats}),
        ke AS (
          SELECT s0.doc_id, s0.doc_id = m AS s2
          FROM stats s0 JOIN (
            SELECT fingerprint, min(doc_id) AS m FROM stats GROUP BY 1) g
            USING (fingerprint)),
        dn AS (
          SELECT DISTINCT doc_b AS doc_id FROM verified
          WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE)
            >= ${Dedup.ClusterThreshold}),
        c4 AS ($sqlC4Filter),
        flags AS (
          SELECT s.n_tokens, ke.s2,
            ke.s2 AND dn.doc_id IS NULL AS s3,
            ke.s2 AND dn.doc_id IS NULL AND c4.keep AS s4,
            ke.s2 AND dn.doc_id IS NULL AND c4.keep
              AND s.quality_score >= $QualityFloor AS s5
          FROM stats s JOIN ke ON s.doc_id = ke.doc_id
            LEFT JOIN dn ON s.doc_id = dn.doc_id
            JOIN c4 ON s.doc_id = c4.doc_id),
        a AS (
          SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(n_tokens) AS BIGINT) AS t1,
            CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
            CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
            CAST(sum(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
            CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
            CAST(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4,
            CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
            CAST(sum(CASE WHEN s5 THEN n_tokens ELSE 0 END) AS BIGINT) AS t5
          FROM flags)
        SELECT stage, n_docs, n_tokens, pct_docs FROM (
          $unions)
        ORDER BY stage"""
  }

  // ---- split leakage audit -------------------------------------------

  val LeakageThreshold = 0.8

  /** Train/eval LEAKAGE audit: near-duplicate pairs (MinHash-LSH,
    * jaccard ≥ [[LeakageThreshold]]) whose members landed in DIFFERENT
    * splits of [[splitAssign]]. Every row is an eval document whose
    * near-copy is in training — the contamination that silently
    * inflates benchmark numbers. Run this after any split; a clean
    * pipeline dedups BEFORE splitting, and this query is the check
    * that it actually did. Cost = the LSH pair pipeline plus two
    * hash-computed split lookups (no extra corpus scan: the split is
    * a pure function of doc_id, recomputed inline). */
  def splitLeakage(documents: DataFrame,
                   threshold: Double = LeakageThreshold): DataFrame = {
    def splitOf(c: Column): Column = splitCase(hashBucket("split", 100, c))
    Dedup.minhashLshPairs(documents)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), splitOf(col("doc_a")).as("split_a"),
        col("doc_b"), splitOf(col("doc_b")).as("split_b"), col("jaccard"))
      .filter(col("split_a") =!= col("split_b"))
      .orderBy("doc_a", "doc_b")
  }

  def sqlSplitLeakage(threshold: Double = LeakageThreshold): String = {
    def splitOf(c: String): String = sqlSplitCase(sqlHashBucket("split", 100, c))
    s"""WITH ${Dedup.sqlMinhashCtes},
        pr AS (
          SELECT doc_a, doc_b,
            CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
          FROM verified
          WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= $threshold)
        SELECT doc_a, ${splitOf("doc_a")} AS split_a,
               doc_b, ${splitOf("doc_b")} AS split_b, jaccard
        FROM pr
        WHERE ${splitOf("doc_a")} <> ${splitOf("doc_b")}
        ORDER BY doc_a, doc_b"""
  }

  // ---- deterministic training-order shuffle --------------------------

  val NumShards = 64

  /** Reproducible global shuffle for training-data ordering: every
    * document gets a shard (md5 bucket) and an intra-shard sort key
    * (the full md5 digest). The write contract downstream is
    * `repartition(col("shard")).sortWithinPartitions(col("sort_key"))`
    * — ONE hash shuffle plus a per-partition local sort, which at any
    * corpus size beats both a global ORDER BY (single-partition range
    * sort boundary) and randomShuffle-style RNG (not reproducible
    * across re-runs / repartitions). Epoch reshuffles re-salt the key.
    * This query emits the assignment itself so the oracle can verify
    * the exact shard/key mapping. */
  def shuffleShards(documents: DataFrame, shards: Int = NumShards): DataFrame =
    documents
      .select(col("doc_id"),
        hashBucket("shuffle", shards).as("shard"),
        md5(concat(lit("shuffle:"), col("doc_id").cast("string"))).as("sort_key"))
      .orderBy("doc_id")

  def sqlShuffleShards(shards: Int = NumShards): String =
    s"""SELECT doc_id,
        ${sqlHashBucket("shuffle", shards)} AS shard,
        md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS sort_key
        FROM documents ORDER BY doc_id"""

  // ---- length-bucketed batching planner ------------------------------

  /** Padding-waste report for length-bucketed batching: round every
    * document's whitespace token count up to the next power of two
    * (the bucket a batch-builder would pad it to) and report, per
    * bucket, document count, real token mass, padded token mass, and
    * the padding-waste fraction. The capacity planner for training
    * batch construction: buckets with high waste want finer splits or
    * packing ([[packSequences]]); the report is one map-only bucket
    * assignment plus one hash aggregate.
    *
    * The pow-2 ceiling is computed from the BINARY STRING length of
    * (n-1) — `1 << len(bin(n-1))` — never from float log2: library
    * log2 rounding at exact powers of two differs across engines and
    * the oracle compares every cell. */
  def lengthBuckets(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        size(TextPrep.wordsCol).cast("long").as("n"))
      .withColumn("bucket_cap",
        when(col("n") <= 1, 1L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")))
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"))
      .select(col("bucket_cap"), col("n_docs"), col("sum_tokens"),
        (col("bucket_cap") * col("n_docs")).as("padded_tokens"),
        (lit(1.0) - col("sum_tokens").cast("double") /
          (col("bucket_cap") * col("n_docs")).cast("double")).as("pad_waste"))
      .orderBy("bucket_cap")

  val sqlLengthBuckets: String =
    s"""WITH t AS (
         SELECT doc_id, CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS n
         FROM documents),
       b AS (
         SELECT doc_id, n,
           CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
                ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END AS bucket_cap
         FROM t),
       g AS (
         SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens
         FROM b GROUP BY 1)
       SELECT bucket_cap, n_docs, sum_tokens,
         bucket_cap * n_docs AS padded_tokens,
         1.0 - CAST(sum_tokens AS DOUBLE) / CAST(bucket_cap * n_docs AS DOUBLE) AS pad_waste
       FROM g ORDER BY bucket_cap"""

  val PrioritySampleK = 100
  private val PriorityM = 1048576L // 2^20 uniform-hash resolution

  /** Priority sampling (Duffield, Lund & Thorup, JACM'07): a
    * weight-sensitive sample of k documents with an UNBIASED
    * subset-sum estimator — the principled way to answer "how many
    * tokens does slice X hold" from a fixed-size sample when document
    * sizes are wildly skewed (uniform sampling misses the heavy tail;
    * weight-proportional without the threshold correction is biased).
    * Each doc gets priority w/u with u uniform in (0,1]; the top-k by
    * priority are kept, and every kept doc's weight estimate is
    * max(w, τ) where τ is the (k+1)-th priority.
    *
    * Determinism: u = (h+1)/2^20 from the md5 split-hash family (no
    * engine RNG); priority = (w·2^20)/(h+1) — exact BIGINT numerator
    * (w·2^20 < 2^53), ONE double division. Scale shape: the top-(k+1)
    * is TakeOrderedAndProject (per-partition heaps, no global sort);
    * the τ extraction and final rank run on the (k+1)-row frame —
    * constant-sized at any corpus. Corpus ≤ k degenerates correctly:
    * τ = 0 and every estimate is the exact weight. */
  def prioritySample(documents: DataFrame, k: Int = PrioritySampleK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = documents
      .select(col("doc_id"), size(TextPrep.wordsCol).cast("long").as("w"))
      .withColumn("h", hashBucket("prio", PriorityM.toInt))
      .withColumn("priority",
        (col("w") * lit(PriorityM)).cast("double") /
          (col("h") + lit(1L)).cast("double"))
    // cached: ranked feeds BOTH the tau broadcast and the final
    // projection, and TakeOrderedAndProject has no Exchange for plan
    // reuse to dedup — uncached, the corpus scan + per-doc md5 would
    // run twice. (k+1) rows; caller-released like every op cache.
    val top = base.orderBy(col("priority").desc, col("doc_id").asc)
      .limit(k + 1).cache()
    val ranked = top.withColumn("rn", row_number().over(
      Window.orderBy(col("priority").desc, col("doc_id").asc)))
    val tau = ranked.agg(coalesce(
      max(when(col("rn") === k + 1, col("priority"))), lit(0.0)).as("tau"))
    ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w").as("n_tokens"), col("priority"),
        greatest(col("w").cast("double"), col("tau")).as("est_tokens"))
      .orderBy("doc_id")
  }

  def sqlPrioritySample(k: Int = PrioritySampleK): String =
    s"""WITH base AS (
          SELECT doc_id,
            CAST(len(${TextPrep.sqlWords}) AS BIGINT) AS w,
            ${sqlHashBucket("prio", PriorityM.toInt)} AS h
          FROM documents),
        pr AS (
          SELECT doc_id, w,
            CAST(w * $PriorityM AS DOUBLE) / CAST(h + 1 AS DOUBLE) AS priority
          FROM base),
        top AS (
          SELECT * FROM pr ORDER BY priority DESC, doc_id ASC LIMIT ${k + 1}),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
          FROM top),
        tau AS (
          SELECT coalesce(max(CASE WHEN rn = ${k + 1} THEN priority END), 0.0)
            AS tau
          FROM ranked)
        SELECT doc_id, w AS n_tokens, priority,
          greatest(CAST(w AS DOUBLE), tau) AS est_tokens
        FROM ranked CROSS JOIN tau
        WHERE rn <= $k ORDER BY doc_id"""

  val RrfListN = 200
  val RrfTopK = 50
  val RrfC = 60 // the standard RRF dampening constant

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09) of
    * two curation signals: fuse the quality-score ranking and the
    * rarity ranking into one robust ordering —
    * rrf(d) = 1/(C+rank_quality) + 1/(C+rank_rarity) — and keep the
    * top-K. Rank fusion beats score fusion when the signals live on
    * incomparable scales (a [0,1] heuristic vs surprisal bits), which
    * is exactly the curation situation; docs strong on one list and
    * absent from the other still surface, docs mediocre on both don't.
    *
    * Scale shape: RRF is DEFINED over bounded top-N lists, so each
    * input ranking is TakeOrderedAndProject (per-partition heaps —
    * never a corpus-wide sort), the rank windows and the full-outer
    * fuse run on the two N-row frames, and absence from a list
    * contributes 0 via coalesce. Determinism: ranks are integers with
    * doc_id tie-breaks; the two reciprocal terms are added in pinned
    * order. */
  def rrfRank(documents: DataFrame, n: Int = RrfListN,
              k: Int = RrfTopK, c: Int = RrfC): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(df: DataFrame, score: String, rankCol: String): DataFrame = {
      val top = df.orderBy(col(score).desc, col("doc_id").asc).limit(n)
      top.withColumn(rankCol, row_number().over(
          Window.orderBy(col(score).desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col(rankCol))
    }
    val q = ranked(TextStats.textStatsUnordered(documents)
      .select(col("doc_id"), col("quality_score")), "quality_score", "rank_quality")
    val r = ranked(TextStats.rarityScore(documents)
      .select(col("doc_id"), col("mean_rarity_bits")), "mean_rarity_bits", "rank_rarity")
    q.join(r, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_quality"), col("rank_rarity"),
        (coalesce(lit(1.0) / (lit(c.toLong) + col("rank_quality")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toLong) + col("rank_rarity")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(k)
  }

  def sqlRrfRank(n: Int = RrfListN, k: Int = RrfTopK, c: Int = RrfC): String =
    s"""WITH qt AS (
          SELECT doc_id, quality_score FROM (${TextStats.sqlTextStats})
          ORDER BY quality_score DESC, doc_id ASC LIMIT $n),
        qr AS (
          SELECT doc_id, CAST(row_number() OVER (
            ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS rank_quality
          FROM qt),
        rt AS (
          SELECT doc_id, mean_rarity_bits FROM (${TextStats.sqlRarityScore})
          ORDER BY mean_rarity_bits DESC, doc_id ASC LIMIT $n),
        rr AS (
          SELECT doc_id, CAST(row_number() OVER (
            ORDER BY mean_rarity_bits DESC, doc_id ASC) AS BIGINT) AS rank_rarity
          FROM rt)
        SELECT doc_id, rank_quality, rank_rarity,
          coalesce(1.0 / ($c + rank_quality), 0.0)
            + coalesce(1.0 / ($c + rank_rarity), 0.0) AS rrf_score
        FROM qr FULL OUTER JOIN rr USING (doc_id)
        ORDER BY rrf_score DESC, doc_id ASC LIMIT $k"""

  /** UniMax epoch cap (each source may repeat at most this many times). */
  val UnimaxEpochCap = 3L

  /** UniMax-style token-budget allocation (Chung et al., 2023 —
    * "UniMax: Fairer and More Effective Language Sampling"): given a
    * training token budget and a per-source epoch cap C, allocate the
    * budget as uniformly as possible across sources subject to no
    * source exceeding C epochs of its own data. This is exact integer
    * WATERFILLING: with per-source caps c_s = C·n_s sorted ascending,
    * a source is CAPPED iff its cap fits under the fair share of the
    * budget remaining after all smaller caps are granted
    * (c_i·(k−i+1) + prefix_{i−1} ≤ B — a monotone prefix property),
    * and every uncapped source receives the integer water level
    * t = (B − Σ capped) div #uncapped. The ≤ #uncapped−1 remainder
    * tokens are intentionally left unallocated (reported), not
    * smeared — determinism over cosmetics.
    *
    * Budget here = half an epoch of the full corpus, which forces a
    * real reallocation. Scale shape: one corpus aggregate to
    * source-level rows, then rank/prefix windows over the SOURCE
    * frame — aggregate-sized (#sources, millions at web scale, never
    * corpus-sized), the same class as q_volume_anomaly's day frame. */
  def unimaxMix(documents: DataFrame, epochCap: Long = UnimaxEpochCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = documents
      .select(col("source"), size(TextPrep.wordsCol).cast("long").as("n_toks"))
      .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * epochCap)
    val totals = per.agg(
      sum(col("n_tokens")).as("corpus_tokens"),
      count(lit(1)).as("k"))
    val byCap = Window.orderBy(col("cap").asc, col("source").asc)
    val ranked = per.crossJoin(broadcast(totals))
      .withColumn("budget", expr("corpus_tokens DIV 2"))
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("prefix", sum(col("cap")).over(
        byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("capped",
        col("cap") * (col("k") - col("i") + 1L) + col("prefix") - col("cap")
          <= col("budget"))
    val water = ranked.agg(
      sum(when(col("capped"), col("cap")).otherwise(0L)).as("capped_sum"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("m"))
    ranked.crossJoin(broadcast(water))
      .withColumn("level",
        when(col("k") > col("m"),
          expr("(budget - capped_sum) DIV (k - m)")).otherwise(lit(0L)))
      .select(col("source"), col("n_tokens"), col("cap"), col("budget"),
        when(col("capped"), col("cap")).otherwise(col("level")).as("alloc"))
      .withColumn("epochs",
        col("alloc").cast("double") / col("n_tokens").cast("double"))
      .orderBy("source")
  }

  def sqlUnimaxMix(epochCap: Long = UnimaxEpochCap): String =
    s"""WITH per AS (
          SELECT source, CAST(sum(len(${TextPrep.sqlWords})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        per2 AS (SELECT source, n_tokens, n_tokens * $epochCap AS cap FROM per),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
                  CAST(count(*) AS BIGINT) AS k FROM per2),
        ranked AS (
          SELECT source, n_tokens, cap, corpus_tokens // 2 AS budget, k,
            CAST(row_number() OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS i,
            CAST(sum(cap) OVER (ORDER BY cap ASC, source ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
          FROM per2 CROSS JOIN tot),
        flagged AS (
          SELECT *, cap * (k - i + 1) + prefix - cap <= budget AS capped
          FROM ranked),
        water AS (
          SELECT CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT)
              AS capped_sum,
            CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS m
          FROM flagged)
        SELECT source, n_tokens, cap, budget,
          CASE WHEN capped THEN cap
            ELSE CASE WHEN k > m THEN (budget - capped_sum) // (k - m)
              ELSE 0 END END AS alloc,
          CAST(CASE WHEN capped THEN cap
            ELSE CASE WHEN k > m THEN (budget - capped_sum) // (k - m)
              ELSE 0 END END AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
        FROM flagged CROSS JOIN water
        ORDER BY source"""

  // ---- cross-modal example-assembly manifest --------------------------

  /** The ASSEMBLY stage at the end of a multimodal pipeline: one row
    * per candidate training example recording which modalities are
    * present (text tokens, an embedding), the split the shared hash
    * assigns it to, and a completeness flag the sampler reads — a
    * training run consumes the manifest, never re-derives modality
    * presence per step. Presence booleans are NULL-pinned (a NULL
    * text's token count is NULL in BOTH engines; the flag coalesces
    * to false identically).
    *
    * Scale shape: documents⋈embeddings is the one key–key equi-join —
    * at 100 TB both sides co-partition on doc_id at the warehouse
    * layout and the join is shuffle-free; split assignment is the
    * INLINED map-only [[splitCase]]([[hashBucket]]) expression — the
    * same shared definition [[splitAssign]] publishes, without its
    * second documents scan or a join, and so a NULL-doc_id example
    * keeps its NULL-split row in the manifest (an inner join against
    * splitAssign would silently drop it — the exact outcome the
    * NULL-split pin exists to prevent). No windows, no broadcast of
    * anything corpus-sized; output is one row per document, NULL ids
    * pinned first in BOTH engines. */
  def sampleManifest(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), col("lang"), col("source"),
      size(regexp_extract_all(col("text"), lit(TextPrep.TokenRe), lit(0)))
        .cast("long").as("n_tokens"),
      splitCase(hashBucket("split", 100)).as("split"))
    val emb = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), lit(true).as("has_emb"))
    toks
      .join(emb, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("split"),
        col("n_tokens"),
        coalesce(col("n_tokens") > lit(0L), lit(false)).as("has_text"),
        coalesce(col("has_emb"), lit(false)).as("has_embedding"))
      .withColumn("complete", col("has_text") && col("has_embedding"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  val sqlSampleManifest: String =
    s"""WITH e AS (
          SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL),
        t AS (
          SELECT doc_id, lang, source,
            CAST(len(regexp_extract_all(text, '${TextPrep.TokenRe}', 0)) AS BIGINT)
              AS n_tokens,
            ${sqlSplitCase(sqlHashBucket("split", 100))} AS split
          FROM documents)
        SELECT t.doc_id, lang, source, split, n_tokens,
          coalesce(n_tokens > 0, FALSE) AS has_text,
          e.vec_id IS NOT NULL AS has_embedding,
          coalesce(n_tokens > 0, FALSE) AND e.vec_id IS NOT NULL AS complete
        FROM t LEFT JOIN e ON t.doc_id = e.vec_id
        ORDER BY t.doc_id NULLS FIRST"""

  // ---- HTML main-content extraction -----------------------------------

  /** The deterministic HTML fixture, as ONE SQL expression string
    * evaluated by BOTH engines (Spark `expr(...)` and the DuckDB twin
    * splice the same text — the sqlPmod rule applied to a whole
    * generator): every document is wrapped in a page with a dropped
    * head (title/style/script), nav + footer boilerplate, an HTML
    * comment, entity escapes, kept anchors, and doc_id-conditional
    * extra blocks, so one corpus pass exercises every extractor state.
    * The raw text's markup-active chars are sanitized to spaces before
    * embedding (whitespace-collapse makes that lossless for the
    * fixture's word-soup corpus). Only engine-portable functions:
    * concat / replace / CASE / %. */
  val HtmlGenSql: String =
    """concat(
       '<html><head><title>Doc ', doc_id, '</title>',
       '<style>p{color:#fff}</style>',
       '<script>var x=', doc_id, ';</script></head><body>',
       '<nav><a href="/">home</a><a href="/a">about ', doc_id % 7, '</a></nav>',
       '<h1>Heading ', doc_id % 100, '</h1>',
       '<p>', replace(replace(replace(text, '&', ' '), '<', ' '), '>', ' '), '</p>',
       '<!-- hidden ', doc_id, ' -->',
       '<p>Visit <a href="/l">link ', doc_id % 5, '</a> now &amp; then.</p>',
       CASE WHEN doc_id % 3 = 0
         THEN concat('<p>Extra <a href="/e">extra ', doc_id % 11, '</a> tail.</p>')
         ELSE '' END,
       CASE WHEN doc_id % 4 = 1
         THEN concat('<ul><li>item one ', doc_id % 13, '</li><li>item two</li></ul>')
         ELSE '' END,
       '<footer>footer note ', doc_id % 3, '</footer></body></html>')"""

  /** HTML/markup main-content extraction over the generated page —
    * the FIRST stage of every real web-scale corpus run
    * (C4/RefinedWeb-class boilerplate removal), and the one
    * text-pipeline stage this suite previously lacked: documents
    * entered as clean text. The extraction itself is the native
    * codegen'd [[graft.functions.HtmlExtract]] state machine (strip
    * tags/script/style/comments, drop nav/header/footer/aside as
    * measured boilerplate, decode entities, collapse whitespace,
    * count kept-anchor text); this query emits the extracted text
    * plus the two classic page-quality signals — link density and
    * boilerplate ratio — each ONE IEEE division of exact ints.
    * Map-only, zero shuffle before the publication sort; at 100 TB
    * the pass runs at scan speed like [[c4Filter]]. The DuckDB twin
    * PREDICTS the extractor's exact output from the same generator
    * arithmetic — every main_text character and count is
    * hash-gated, the media-twin recipe applied to markup. */
  def htmlExtract(documents: DataFrame,
                  ordered: Boolean = true): DataFrame = {
    val core = documents
      .withColumn("x", call_function("html_extract", expr(HtmlGenSql)))
      .select(col("doc_id"),
        col("x.main_text").as("main_text"),
        col("x.n_links").as("n_links"),
        col("x.text_chars").as("text_chars"),
        col("x.link_chars").as("link_chars"),
        col("x.boiler_chars").as("boiler_chars"))
      // zero-guards (ADVICE r10): the generated fixture guarantees
      // text_chars > 0 (the heading) and boiler_chars > 0 (nav), but
      // real HTML can extract to nothing, and NaN here would poison
      // any downstream quality gate. Mirrored in the DuckDB twin so
      // the contract stays engine-symmetric.
      .withColumn("link_density",
        when(col("text_chars") > 0,
          col("link_chars").cast("double") / col("text_chars"))
          .otherwise(lit(0.0)))
      .withColumn("boilerplate_ratio",
        when(col("text_chars") + col("boiler_chars") > 0,
          col("boiler_chars").cast("double") /
            (col("text_chars") + col("boiler_chars")))
          .otherwise(lit(0.0)))
    if (ordered) core.orderBy("doc_id") else core
  }

  /** The twin never parses HTML: it rebuilds the pieces the extractor
    * must keep (heading, sanitized body text, anchor texts,
    * conditional blocks) and the boilerplate pieces (nav, footer)
    * from the SAME arithmetic [[HtmlGenSql]] wraps them with, then
    * collapses/trims exactly as the extractor's pinned semantics do.
    * An extractor bug of any kind — a dropped block, a kept script,
    * an undecoded entity, an off-by-one count — lands as a hash
    * mismatch on this query. */
  def sqlHtmlExtract(src: String = "documents"): String =
    s"""WITH src AS (
          SELECT doc_id,
            trim(regexp_replace(
              replace(replace(replace(text, '&', ' '), '<', ' '), '>', ' '),
              '[ \t\n\r]+', ' ', 'g')) AS t
          FROM $src),
        e AS (
          SELECT doc_id,
            trim(regexp_replace(concat(
              'Heading ', doc_id % 100, ' ', t,
              ' Visit link ', doc_id % 5, ' now & then.',
              CASE WHEN doc_id % 3 = 0
                THEN concat(' Extra extra ', doc_id % 11, ' tail.')
                ELSE '' END,
              CASE WHEN doc_id % 4 = 1
                THEN concat(' item one ', doc_id % 13, ' item two')
                ELSE '' END), '[ \t\n\r]+', ' ', 'g')) AS main_text,
            concat('home about ', doc_id % 7, ' footer note ', doc_id % 3)
              AS boiler_text,
            CAST(length(concat('link ', doc_id % 5)) AS INTEGER)
              + CASE WHEN doc_id % 3 = 0
                  THEN CAST(length(concat('extra ', doc_id % 11)) AS INTEGER)
                  ELSE 0 END AS link_chars,
            CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
              AS n_links
          FROM src)
        SELECT doc_id, main_text, n_links,
          CAST(length(main_text) AS INTEGER) AS text_chars,
          link_chars,
          CAST(length(boiler_text) AS INTEGER) AS boiler_chars,
          CASE WHEN length(main_text) > 0
            THEN CAST(link_chars AS DOUBLE) / length(main_text)
            ELSE 0.0 END AS link_density,
          CASE WHEN length(main_text) + length(boiler_text) > 0
            THEN CAST(length(boiler_text) AS DOUBLE)
              / (length(main_text) + length(boiler_text))
            ELSE 0.0 END AS boilerplate_ratio
        FROM e ORDER BY doc_id"""

  // ---- URL parsing + domain-level stats --------------------------------

  /** The deterministic URL fixture — the [[HtmlGenSql]] recipe applied
    * to the crawl-metadata side: one SQL expression evaluated verbatim
    * by both engines builds a URL per document exercising every parser
    * state (userinfo, port, empty-to-deep paths, query, fragment). */
  val UrlGenSql: String =
    """concat('https://',
       CASE WHEN doc_id % 13 = 0 THEN concat('u', doc_id % 9, ':pw@') ELSE '' END,
       'sub', doc_id % 7, '.site', doc_id % 23, '.',
       CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                       WHEN 2 THEN 'net' ELSE 'io' END,
       CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END,
       CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/a'
                       WHEN 2 THEN '/a/b' ELSE '/a/b/c' END,
       CASE WHEN doc_id % 3 = 0 THEN concat('?q=', doc_id % 11) ELSE '' END,
       CASE WHEN doc_id % 11 = 0 THEN '#top' ELSE '' END)"""

  /** Exact URL decomposition per document — the metadata half of the
    * web-corpus first mile ([[htmlExtract]] is the content half):
    * scheme/host/registrable-domain/tld/port/path-depth/query-flag via
    * the native single-pass [[graft.functions.UrlParts]] state machine
    * (no per-field regex). Map-only; the twin PREDICTS every parsed
    * field from the generator arithmetic without string surgery, so
    * any parser bug — userinfo kept, port left in the host, a
    * miscounted path segment — is a row-level hash miss. */
  def urlParse(documents: DataFrame): DataFrame = {
    documents
      .withColumn("u", call_function("url_parts", expr(UrlGenSql)))
      .select(col("doc_id"), col("u.scheme").as("scheme"),
        col("u.host").as("host"), col("u.domain").as("domain"),
        col("u.tld").as("tld"), col("u.path").as("path"),
        col("u.port").as("port"),
        col("u.path_depth").as("path_depth"),
        col("u.has_query").as("has_query"))
      .orderBy("doc_id")
  }

  /** The predicted-parts CTE shared by the URL twins, retargetable
    * at any doc-shaped source (the funnel composes it over survivor
    * sets). */
  private def sqlUrlParts(src: String = "documents"): String =
    s"""t AS (
         SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                           WHEN 2 THEN 'net' ELSE 'io' END AS tld
         FROM $src),
       p AS (
         SELECT doc_id, 'https' AS scheme,
           concat('sub', doc_id % 7, '.site', doc_id % 23, '.', tld) AS host,
           concat('site', doc_id % 23, '.', tld) AS domain, tld,
           CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/a'
                           WHEN 2 THEN '/a/b' ELSE '/a/b/c' END AS path,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 8443 ELSE 0 END AS INTEGER) AS port,
           CAST(doc_id % 4 AS INTEGER) AS path_depth,
           doc_id % 3 = 0 AS has_query
         FROM t)"""

  val sqlUrlParse: String =
    s"""WITH ${sqlUrlParts()}
        SELECT doc_id, scheme, host, domain, tld, path, port, path_depth,
          has_query
        FROM p ORDER BY doc_id"""

  /** Domains a crawl pipeline refuses outright — the blocklist shape
    * (in production a data file; two generated domains here so the
    * flag exercises both outcomes). */
  val DomainBlocklist: Seq[String] = Seq("site0.com", "site1.org")

  /** Per-domain crawl profile — what domain-level curation reads:
    * document and distinct-host counts, path-depth mass, query-URL
    * share, and the blocklist verdict. One map-only parse + one
    * hash-partitioned aggregate on the domain key; output is
    * domain-cardinality (tiny next to the corpus), the standard
    * domain-cap/blocklist input at 100 TB. */
  def domainStats(documents: DataFrame): DataFrame = {
    documents
      .withColumn("u", call_function("url_parts", expr(UrlGenSql)))
      .select(col("u.domain").as("domain"), col("u.tld").as("tld"),
        col("u.host").as("host"), col("u.path_depth").as("path_depth"),
        col("u.has_query").as("has_query"))
      .groupBy("domain", "tld")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col("path_depth").cast("long")).as("sum_path_depth"),
        sum(when(col("has_query"), 1L).otherwise(0L)).as("n_with_query"))
      .withColumn("blocked",
        col("domain").isin(DomainBlocklist: _*))
      .orderBy("domain")
  }

  def sqlDomainStats: String = {
    val blocked = DomainBlocklist.map(d => s"'$d'").mkString(", ")
    s"""WITH ${sqlUrlParts()}
        SELECT domain, tld, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
          CAST(sum(path_depth) AS BIGINT) AS sum_path_depth,
          CAST(sum(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT)
            AS n_with_query,
          domain IN ($blocked) AS blocked
        FROM p GROUP BY 1, 2 ORDER BY domain"""
  }

  /** URL-level MIRROR dedup — the crawl-side dedup that runs before
    * any content is even fetched twice: pages reached under different
    * subdomains of one registrable domain with the same normalized
    * path (the www./m./amp. mirror class) collapse to one canonical
    * page, smallest doc_id surviving. Query strings, ports, userinfo,
    * and fragments are already canonicalized away by the parser; the
    * path arrives slash-normalized. One hash-group aggregation + one
    * key join back — NO pair expansion, linear at any mirror density
    * (the [[graft.llm.Multimodal.phashDedup]] decision-record shape,
    * keyed on (domain, path)). */
  def urlDedup(documents: DataFrame,
               ordered: Boolean = true): DataFrame = {
    val parsed = documents
      .withColumn("u", call_function("url_parts", expr(UrlGenSql)))
      .select(col("doc_id"), col("u.domain").as("domain"),
        col("u.path").as("path"))
    val groups = parsed.groupBy("domain", "path")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
    val core = parsed.join(groups, Seq("domain", "path"))
      .select(col("doc_id"), col("domain"), col("path"),
        col("canonical_id"), col("n_copies"),
        (col("doc_id") === col("canonical_id")).as("keep"))
    if (ordered) core.orderBy("doc_id") else core
  }

  def sqlUrlDedup(src: String = "documents"): String =
    s"""WITH ${sqlUrlParts(src)},
        g AS (
          SELECT domain, path, min(doc_id) AS canonical_id,
            CAST(count(*) AS BIGINT) AS n_copies
          FROM p GROUP BY 1, 2)
        SELECT doc_id, domain, path, canonical_id, n_copies,
          doc_id = canonical_id AS keep
        FROM p JOIN g USING (domain, path)
        ORDER BY doc_id"""

  /** Per-domain document cap. */
  val DomainCapK = 4

  /** Domain-cap sampling (the RefinedWeb-class "no domain dominates"
    * rule): keep the first [[DomainCapK]] documents of every domain
    * (deterministic: smallest doc_ids). NOT a window: a hot domain at
    * corpus scale is exactly the unbounded window partition this
    * query exists to tame, so the verdict comes from the bounded-heap
    * `top_k_by` aggregate — per-domain state is K entries whatever
    * the domain's size (map-side partials), and the K-th-smallest-id
    * threshold joins back on the domain key (domain-cardinality
    * frame, co-partitioned equi-join). keep ⟺ doc_id ≤ threshold,
    * identical to rank ≤ K since ids are unique — the twin verifies
    * with the straightforward window form. */
  def domainCap(documents: DataFrame, k: Int = DomainCapK,
                ordered: Boolean = true): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    val parsed = documents
      .withColumn("u", call_function("url_parts", expr(UrlGenSql)))
      .select(col("doc_id"), col("u.domain").as("domain"))
    val threshold = parsed
      .groupBy("domain")
      .agg(call_function("top_k_by",
        -col("doc_id").cast("double"), col("doc_id"), lit(k)).as("top"))
      // the heap is score-descending, so the LAST entry is the K-th
      // smallest id (or the domain's largest when it has < K docs —
      // then every doc passes, which is the cap's semantics)
      .select(col("domain"),
        element_at(col("top"), -1).getField("id").as("kth_id"))
    val core = parsed.join(threshold, "domain")
      .select(col("doc_id"), col("domain"),
        (col("doc_id") <= col("kth_id")).as("keep"))
    if (ordered) core.orderBy("doc_id") else core
  }

  def sqlDomainCap(k: Int = DomainCapK,
                   src: String = "documents"): String =
    s"""WITH ${sqlUrlParts(src)},
        r AS (
          SELECT doc_id, domain,
            row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
          FROM p)
        SELECT doc_id, domain, rn <= $k AS keep
        FROM r ORDER BY doc_id"""

  // ---- web-corpus funnel ----------------------------------------------

  /** HTML quality gates for the web funnel (both outcomes occur on
    * the fixture corpus: text_chars spans 84–619, boilerplate_ratio
    * 0.04–0.24 at sf0.01). */
  val WebMinTextChars = 200
  val WebMaxBoilerRatio = 0.12

  /** The WEB-side curation funnel — the round-10 first-mile stages
    * composed in pipeline order, with doc count and token mass
    * surviving each (the [[curationFunnel]] dashboard for the crawl
    * half): raw → URL mirror dedup ([[urlDedup]]) → per-domain cap
    * over the survivors ([[domainCap]] — thresholds computed WITHIN
    * the deduped set, as a real pipeline would) → HTML quality gate
    * over what remains ([[htmlExtract]]'s extracted-length and
    * boilerplate-ratio signals). Each stage is the PUBLISHED component
    * run unordered and semi-joined on the warehouse key; four
    * conditional aggregates produce one row per stage. Output is four
    * rows whatever the corpus size. */
  def webFunnel(documents: DataFrame): DataFrame = {
    def stage(name: String, df: DataFrame): DataFrame =
      df.select(size(TextPrep.wordsCol).cast("long").as("nt"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val s1 = documents.join(
      urlDedup(documents, ordered = false)
        .filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val s2 = s1.join(
      domainCap(s1, ordered = false)
        .filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val s3 = s2.join(
      htmlExtract(s2, ordered = false)
        .filter(col("text_chars") >= WebMinTextChars &&
          col("boilerplate_ratio") <= WebMaxBoilerRatio)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")
    stage("0_raw", documents)
      .union(stage("1_url_dedup", s1))
      .union(stage("2_domain_cap", s2))
      .union(stage("3_html_quality", s3))
      .orderBy("stage")
  }

  /** Twin composes the SAME published component twins, each
    * retargeted at the previous stage's survivor set. */
  def sqlWebFunnel(): String = {
    def stage(name: String, src: String): String =
      s"""SELECT '$name' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(len(${TextPrep.sqlWords})), 0) AS BIGINT)
            AS n_tokens
          FROM $src"""
    s"""WITH ud AS (
          SELECT doc_id FROM (${sqlUrlDedup()}) WHERE keep),
        s1 AS (SELECT d.* FROM documents d SEMI JOIN ud USING (doc_id)),
        dc AS (
          SELECT doc_id FROM (${sqlDomainCap(src = "s1")}) WHERE keep),
        s2 AS (SELECT d.* FROM s1 d SEMI JOIN dc USING (doc_id)),
        hq AS (
          SELECT doc_id FROM (${sqlHtmlExtract("s2")})
          WHERE text_chars >= $WebMinTextChars
            AND boilerplate_ratio <= $WebMaxBoilerRatio),
        s3 AS (SELECT d.* FROM s2 d SEMI JOIN hq USING (doc_id))
        ${stage("0_raw", "documents")}
        UNION ALL ${stage("1_url_dedup", "s1")}
        UNION ALL ${stage("2_domain_cap", "s2")}
        UNION ALL ${stage("3_html_quality", "s3")}
        ORDER BY stage"""
  }

  // ---- training-shard capstone ----------------------------------------

  /** THE capstone artifact a trainer reads (round 10, VERDICT r9 task
    * 2): everything the suite curates, composed into ONE declarative
    * plan with no driver-side glue —
    *
    *  1. cross-modal curation verdict
    *     ([[graft.llm.Multimodal.curationLedger]], `keep` only),
    *  2. quality-proportional selection (the [[qualityWeightedSample]]
    *     rule via the shared [[qualityKept]] core),
    *  3. concat-and-cut sequence packing over the survivors (the
    *     shared [[packCore]]),
    *  4. reproducible shard assignment + intra-shard sort key per
    *     PACKED SEQUENCE (the [[shuffleShards]] md5 recipe keyed on
    *     (lang, seq_id)).
    *
    * One manifest row per packed training sequence: member-document
    * count, token mass attributed by start-sequence, first/last member
    * doc, shard, sort key. Scale shape: the ledger's four modality
    * passes and the quality stats are map-heavy scans joined on the
    * warehouse key (two LEFT SEMI joins — co-partitionable); packing
    * shuffles once on the lang shard key; the per-sequence rollup
    * groups on (lang, seq_id) — the pack window's own output grain —
    * and sharding is a map-only md5. No other exchange exists in the
    * plan; the sequence grain keeps the output a fraction of the
    * corpus at any scale. */
  def trainingShards(documents: DataFrame,
                     shards: Int = NumShards): DataFrame =
    trainingShardsCore(documents, shards).orderBy("lang", "seq_id")

  /** The unordered shard manifest — shared by the published query
    * (publication sort appended) and [[writeTrainingShards]] (which
    * replaces the sort with the layout-defining repartition). */
  private def trainingShardsCore(documents: DataFrame,
                                 shards: Int): DataFrame = {
    val kept = Multimodal.curationLedger(documents, ordered = false)
      .filter(col("keep")).select("doc_id")
    val survivors = documents
      .join(kept, Seq("doc_id"), "left_semi")
      .join(qualityKept(documents).select("doc_id"), Seq("doc_id"), "left_semi")
    // scalableCum, not packCore (round 11): the capstone must not
    // inherit the per-lang window's unbounded partition; cum_before
    // is bit-equal so the composed twin is unchanged
    shardSummary(
      scalableCum(survivors)
        .withColumn("seq_id", expr(s"cum_before DIV $PackCapacity")),
      shards)
  }

  /** The per-(lang, seq_id) shard rollup of any packed doc frame
    * (doc_id, lang, n_tokens, seq_id) — ONE definition shared by the
    * batch capstone and the streaming shard writer
    * ([[graft.streaming.Sources.trainingShardsQuery]]), so the two
    * artifacts can never drift on shard assignment or sort key. */
  private[graft] def shardSummary(packed: DataFrame,
                                  shards: Int = NumShards): DataFrame = {
    val seqKey = concat(col("lang"), lit(":"), col("seq_id").cast("string"))
    packed
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .select(col("lang"), col("seq_id"), col("n_docs"), col("n_tokens"),
        col("first_doc"), col("last_doc"),
        hashBucket("shuffle", shards, seqKey).as("shard"),
        md5(concat(lit("shuffle:"), seqKey)).as("sort_key"))
  }

  /** Merged read-back of the STREAMED shard artifact
    * ([[graft.streaming.Sources.trainingShardsQuery]]'s layout:
    * per-micro-batch PARTIAL sequence summaries under
    * `micro_batch_id=N/shard=M`): a sequence spanning a trigger
    * boundary has one partial row per touching batch, and every
    * summary statistic merges associatively — n_docs/n_tokens sum,
    * first/last min/max; shard and sort_key are functions of
    * (lang, seq_id), constant across the partials. One grouped
    * aggregate at sequence grain (a fraction of the corpus), after
    * which the rows are IDENTICAL to [[writeTrainingShards]]'s — the
    * linear-sketch read-time-merge recipe
    * ([[graft.streaming.Sources.readCmsSketch]]) applied to the
    * training artifact. Shard pruning survives: `shard=` stays a
    * partition column, so a reader filtering one shard lists only
    * that shard's directories before merging. */
  def readTrainingShards(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("lang", "seq_id", "shard", "sort_key")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .select("lang", "seq_id", "n_docs", "n_tokens",
        "first_doc", "last_doc", "shard", "sort_key")

  /** Shard WRITER (VERDICT r10 task 8) — the on-disk artifact a
    * trainer actually opens, closing the gap between the
    * [[trainingShards]] manifest and a consumable layout: written
    * `partitionBy(shard)` so a trainer's reader lists exactly its own
    * shard directory (partition PRUNING on read — asserted in the
    * spec — not a full-corpus listing), with rows inside each shard
    * file pre-sorted by the reproducible `sort_key`
    * (`sortWithinPartitions` — the within-shard shuffle order is ON
    * DISK, a sequential reader consumes it with no sort of its own).
    * One hash exchange on `shard` replaces the manifest's publication
    * sort; file count = one per shard per task wave, not per
    * sequence. The [[graft.streaming.Sources.writeWarehouseTable]]
    * partition-layout recipe applied to the training artifact. */
  def writeTrainingShards(documents: DataFrame, path: String,
                          shards: Int = NumShards): Unit =
    trainingShardsCore(documents, shards)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "sort_key")
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)

  /** The twin composes the SAME published component twins: the full
    * ledger twin, the quality-sample rule over the shared stats twin,
    * the shared pack CTEs retargeted at the survivor set, and the
    * shuffleShards md5 recipe on the sequence key. */
  def sqlTrainingShards(shards: Int = NumShards): String = {
    val seqKey = "concat(lang, ':', CAST(seq_id AS VARCHAR))"
    s"""WITH ledger AS (${Multimodal.sqlCurationLedger}),
        q AS (
          SELECT doc_id FROM (${TextStats.sqlTextStats})
          WHERE ${sqlHashBucket("qws", 1000)}
            < CAST(floor(quality_score * 1000) AS BIGINT)),
        surv AS (
          SELECT d.* FROM documents d
          SEMI JOIN (SELECT doc_id FROM ledger WHERE keep) k USING (doc_id)
          SEMI JOIN q USING (doc_id)),
        ${sqlPackCtes("surv")},
        p AS (
          SELECT doc_id, lang, n_tokens,
            CAST(cum_before // $PackCapacity AS BIGINT) AS seq_id
          FROM c),
        g AS (
          SELECT lang, seq_id,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM p GROUP BY 1, 2)
        SELECT lang, seq_id, n_docs, n_tokens, first_doc, last_doc,
          ${sqlHashBucket("shuffle", shards, seqKey)} AS shard,
          md5('shuffle:' || $seqKey) AS sort_key
        FROM g ORDER BY lang, seq_id"""
  }
}

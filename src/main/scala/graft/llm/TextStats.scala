package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language identification (marker-word heuristic), and
  * document fingerprinting. All row-local projections; every formula
  * has a DuckDB twin generated from the same constants.
  */
object TextStats {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Marker vocabularies for the n-gram language-ID heuristic. A real
    * deployment learns these from labeled corpora; the heuristic's
    * *mechanics* (score per language, deterministic argmax) are the
    * operator under test. Ordered alphabetically = tie-break order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("window", "batch", "merge"),
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("table", "scan", "row"),
    "fr" -> Seq("query", "filter", "join"),
    "zh" -> Seq("data", "stream", "value"))

  private def inList(vals: Seq[String]): String =
    vals.map(v => s"'$v'").mkString("(", ",", ")")

  /** Per-document statistics + quality score + fingerprint. */
  /** textStats without the presentation ORDER BY: internal consumers
    * (decile bucketing, cluster representatives, top-k) aggregate or
    * re-rank the stats, and a corpus-wide range-sort feeding an
    * aggregate is a pure waste of an exchange at 100 TB. */
  def textStatsUnordered(documents: DataFrame): DataFrame = {
    val nWords = size(col("words")).cast("long")
    // LONG accumulators (0L), not Int: a multi-GiB crawl-artifact doc
    // overflows an Int character sum at 2^31 and the cast-after-fold
    // applies only after the wrap; DuckDB's list_sum never wraps
    val sumLen =
      expr("aggregate(words, 0L, (acc, w) -> acc + CAST(length(w) AS LONG))")
    val nStop = expr(
      s"size(filter(words, w -> w IN ${inList(Stopwords)}))")
    documents
      .withColumn("words", TextPrep.wordsCol)
      .select(
        col("doc_id"), col("lang"),
        nWords.as("n_words"),
        size(regexp_extract_all(col("text"), lit(TextPrep.TokenRe), lit(0)))
          .cast("long").as("n_tokens"),
        expr("aggregate(words, 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS LONG))")
          .as("n_tokens_bpeish"),
        (sumLen.cast("double") / nWords.cast("double")).as("avg_word_len"),
        (nStop.cast("double") / nWords.cast("double")).as("stopword_ratio"),
        md5(col("text")).as("fingerprint"))
      .withColumn("quality_score",
        lit(0.4) * least(lit(1.0), col("n_words").cast("double") / 50.0) +
          lit(0.3) * (lit(1.0) - col("stopword_ratio")) +
          lit(0.3) * least(lit(1.0), col("avg_word_len") / 8.0))
  }

  def textStats(documents: DataFrame): DataFrame =
    textStatsUnordered(documents).orderBy("doc_id")

  val sqlTextStats: String = {
    val w = TextPrep.sqlWords
    s"""SELECT doc_id, lang,
        CAST(len($w) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '${TextPrep.TokenRe}', 0)) AS BIGINT) AS n_tokens,
        CAST(list_sum(list_transform($w, w -> CAST(ceil(length(w) / 4.0) AS INTEGER))) AS BIGINT) AS n_tokens_bpeish,
        CAST(list_sum(list_transform($w, w -> length(w))) AS DOUBLE)
          / CAST(len($w) AS DOUBLE) AS avg_word_len,
        CAST(len(list_filter($w, w -> w IN ${inList(Stopwords)})) AS DOUBLE)
          / CAST(len($w) AS DOUBLE) AS stopword_ratio,
        md5(text) AS fingerprint,
        0.4 * least(1.0, CAST(len($w) AS DOUBLE) / 50.0)
          + 0.3 * (1.0 - CAST(len(list_filter($w, w -> w IN ${inList(Stopwords)})) AS DOUBLE)
                          / CAST(len($w) AS DOUBLE))
          + 0.3 * least(1.0, (CAST(list_sum(list_transform($w, w -> length(w))) AS DOUBLE)
                          / CAST(len($w) AS DOUBLE)) / 8.0) AS quality_score
        FROM documents ORDER BY doc_id"""
  }

  val MaxDupNgramRatio = 0.2
  val MaxTopWordFrac = 0.2

  /** Repetition quality filters in the style of the Gopher rules
    * (Rae et al., 2021 — public paper): the fraction of duplicate
    * word-3-grams in a document and the frequency share of its most
    * common word. High values flag boilerplate / degenerate repetition
    * that exact and near dedup both miss (repetition is WITHIN a
    * document). Row-local: the 3-gram distinct count reuses the native
    * shingle expression; the top-word share is a per-row fold over the
    * word array (docs are bounded; no shuffle, no explode). */
  def repetitionStats(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"),
        // the ONE shared tokenizer — inline split would silently
        // diverge from the shingle kernel and the SQL twin if the
        // corpus tokenization ever changes
        size(TextPrep.wordsCol).cast("long").as("n_words"),
        size(call_function("shingle_hashes", col("text"), lit(3)).getField("shs"))
          .cast("long").as("n_distinct_3grams"),
        call_function("top_word_count", col("text")).as("top_word_count"))
      .select(
        col("doc_id"),
        col("n_words"),
        greatest(lit(0L), col("n_words") - 2).as("n_3grams"),
        col("n_distinct_3grams"),
        (col("top_word_count").cast("double") / col("n_words").cast("double"))
          .as("top_word_frac"))
      .withColumn("dup_3gram_ratio",
        when(col("n_3grams") > 0,
          lit(1.0) - col("n_distinct_3grams").cast("double") / col("n_3grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("repetition_ok",
        col("dup_3gram_ratio") <= MaxDupNgramRatio && col("top_word_frac") <= MaxTopWordFrac)
      .select("doc_id", "n_words", "n_3grams", "n_distinct_3grams",
        "dup_3gram_ratio", "top_word_frac", "repetition_ok")
      .orderBy("doc_id")
  }

  val sqlRepetitionStats: String = {
    val w = TextPrep.sqlWords
    s"""WITH d AS (
          SELECT doc_id, $w AS words,
            CAST(len(list_distinct(${TextPrep.sqlShingles(w)})) AS BIGINT) AS n_distinct_3grams
          FROM documents),
        b AS (
          SELECT doc_id,
            CAST(len(words) AS BIGINT) AS n_words,
            greatest(CAST(0 AS BIGINT), CAST(len(words) AS BIGINT) - 2) AS n_3grams,
            CASE WHEN len(words) >= 3 THEN n_distinct_3grams ELSE 0 END AS n_distinct_3grams,
            CAST(list_max(list_transform(words, w -> len(list_filter(words, x -> x = w)))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE) AS top_word_frac
          FROM d)
        SELECT doc_id, n_words, n_3grams, n_distinct_3grams,
          CASE WHEN n_3grams > 0
            THEN 1.0 - CAST(n_distinct_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE)
            ELSE 0.0 END AS dup_3gram_ratio,
          top_word_frac,
          (CASE WHEN n_3grams > 0
            THEN 1.0 - CAST(n_distinct_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE)
            ELSE 0.0 END) <= $MaxDupNgramRatio
            AND top_word_frac <= $MaxTopWordFrac AS repetition_ok
        FROM b ORDER BY doc_id"""
  }

  val KeywordK = 5

  /** Per-document keyword extraction: rank a document's words by
    * salience = tf × (N / df) — term frequency × inverse document
    * frequency in unlogged rational form. The ln() of classic TF-IDF
    * is deliberately avoided: transcendental functions are only
    * 1-ulp-accurate and engine-specific, so scores wouldn't be
    * hash-portable; tf·N/df is exact-integer arithmetic until one
    * IEEE division, bit-identical in any engine. Stopwords excluded.
    *
    * Shape: two hash aggregates (per-(doc,word) tf, per-word df) and
    * one join keyed on the word — the df side is VOCABULARY-sized,
    * which is aggregate-scale next to the corpus explode but 10⁸–10⁹
    * rows on a web corpus, so it is deliberately NOT broadcast-hinted
    * (same reasoning as [[rarityScore]]: a forced broadcast OOMs the
    * driver; AQE broadcasts on its own while the vocab is small). */
  def keywords(documents: DataFrame, k: Int = KeywordK): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(TextPrep.wordsCol).as("w"))
      .filter(!col("w").isin(Stopwords: _*))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    // Corpus size as a lazy 1-row broadcast, not an eager count() —
    // constructing the plan must not trigger a corpus scan.
    val n = documents.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("salience").desc, col("w").asc)
    tf.join(dfreq, "w")
      .crossJoin(broadcast(n))
      // double arithmetic end-to-end, same shape as the twin: the
      // tf·n product in LONG wraps silently past 2^63 at web-corpus
      // scale (Spark non-ANSI) while DuckDB's BIGINT product errors —
      // doubles lose precision gracefully and identically on both
      .withColumn("salience",
        col("tf").cast("double") * col("n").cast("double") /
          col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("w"), col("tf"), col("df"), col("salience"))
      .orderBy("doc_id", "rnk")
  }

  def sqlKeywords(k: Int = KeywordK): String =
    s"""WITH wds AS (
          SELECT doc_id, unnest(${TextPrep.sqlWords}) AS w FROM documents),
        tf AS (
          SELECT doc_id, w, count(*) AS tf FROM wds
          WHERE w NOT IN ${inList(Stopwords)} GROUP BY 1, 2),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
            CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE)
              / CAST(dfreq.df AS DOUBLE) AS salience
          FROM tf JOIN dfreq USING (w) CROSS JOIN n),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY salience DESC, w ASC) AS rnk
          FROM scored)
        SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, w, tf, df, salience
        FROM ranked WHERE rnk <= $k ORDER BY doc_id, rnk"""

  /** Corpus-composition report: per (lang, source) document and token
    * counts plus normalized mixture weights — the table a training-mix
    * recipe (domain weights, upsampling factors) is derived from.
    * One partial+final aggregate; the totals side is a broadcast of a
    * single row, so the corpus shuffles only its counter rows. */
  def corpusMix(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("lang"), col("source"),
      size(TextPrep.wordsCol).cast("long").as("n_toks"))
    val grouped = toks.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = grouped.agg(
      sum(col("n_docs")).as("tot_docs"), sum(col("n_tokens")).as("tot_tokens"))
    grouped.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("tot_docs")).as("pct_docs"),
        (col("n_tokens").cast("double") / col("tot_tokens")).as("pct_tokens"))
      .orderBy("lang", "source")
  }

  val sqlCorpusMix: String = {
    val w = TextPrep.sqlWords
    s"""WITH t AS (
          SELECT lang, source, CAST(len($w) AS BIGINT) AS n_toks FROM documents),
        g AS (
          SELECT lang, source, count(*) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1, 2),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
            CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM g)
        SELECT lang, source, n_docs, n_tokens,
          CAST(n_docs AS DOUBLE) / tot_docs AS pct_docs,
          CAST(n_tokens AS DOUBLE) / tot_tokens AS pct_tokens
        FROM g, tot ORDER BY lang, source"""
  }

  /** Per-source distribution drift: the EXACT total-variation distance
    * between each source's unigram distribution and the whole-corpus
    * distribution — the "which scrape changed under us" monitor that
    * catches template floods, language shifts, and spam injections
    * that per-doc quality filters miss. TV = ½·Σ_w |p_w − q_w| over
    * the full vocabulary, computed WITHOUT materializing zeros or
    * summing doubles: each present-word term rewrites as
    * |c_sw·N − C_w·N_s| / (N_s·N) — integer numerator — and the
    * absent-word tail Σ_{c_sw=0} C_w/N folds to (N − B_s)·N_s with
    * B_s = Σ C_w over the source's present words. Cross-row summation
    * is decimal(38,0)-exact (the moneySum trade: wrap-free products at
    * web-corpus counts), and the ONLY floating-point op is the final
    * division, written identically in the oracle — hash-exact with no
    * transcendentals (the same reason this is TV and not KL: KL's logs
    * of ratios have no integer form; floor-log2 surprisal already
    * covers the entropy angle in [[rarityScore]] / bigramSurprisal).
    *
    * Scale shape: one token explode, a (source, word) hash aggregate,
    * a vocabulary-sized word-total aggregate joined back on the word,
    * a single-row corpus total broadcast — no pair joins, no windows.
    */
  /** (source, word, c_sw): the per-source unigram table behind the
    * drift reports. */
  private def unigramCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(TextPrep.wordsCol).as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("c_sw"))

  def sourceDivergence(documents: DataFrame): DataFrame = {
    // cached: per-(source,word) counts feed the word totals, the
    // per-source totals, and the final join probe
    val csw = unigramCounts(documents).cache()
    val cw = csw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy("source").agg(
      sum(col("c_sw")).as("n_s"),
      count(lit(1)).as("n_distinct_words"))
    val n = cw.agg(sum(col("c_w")).as("n_tot"))
    val dec = "decimal(19,0)"
    val per = csw.join(cw, "word").join(ns, "source")
      .crossJoin(broadcast(n))
      .groupBy("source")
      .agg(
        sum(abs(col("c_sw").cast(dec) * col("n_tot").cast(dec) -
          col("c_w").cast(dec) * col("n_s").cast(dec))).as("a_num"),
        sum(col("c_w")).as("b_sum"))
    per.join(ns, "source").crossJoin(broadcast(n))
      .select(col("source"), col("n_s").as("n_tokens"),
        col("n_distinct_words"),
        ((col("a_num") +
          (col("n_tot") - col("b_sum")).cast(dec) * col("n_s").cast(dec))
          .cast("double") /
          (lit(2.0) * col("n_s").cast("double") * col("n_tot").cast("double")))
          .as("tv_divergence"))
      .orderBy("source")
  }

  /** The explainability half of [[sourceDivergence]]: WHICH words
    * drive each source's drift. Ranks a source's present words by the
    * same integer drift numerator |c_sw·N − C_w·N_s| that TV sums —
    * over-represented template/spam tokens surface first. Scope note:
    * a word entirely ABSENT from a source also contributes C_w·N_s to
    * that source's TV, but itemizing absences needs a source×vocab
    * cross product; this report deliberately ranks present words only
    * (the aggregate drift including absences is sourceDivergence's
    * number). Ranking is a window PARTITIONED by source over the
    * vocabulary-sized scored table — the corpus explode never reaches
    * the window. */
  val DriftTopK = 10

  def driftWords(documents: DataFrame, k: Int = DriftTopK): DataFrame = {
    val csw = unigramCounts(documents).cache()
    val cw = csw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
    val n = cw.agg(sum(col("c_w")).as("n_tot"))
    val dec = "decimal(19,0)"
    val scored = csw.join(cw, "word").join(ns, "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("word"), col("c_sw"), col("c_w"),
        abs(col("c_sw").cast(dec) * col("n_tot").cast(dec) -
          col("c_w").cast(dec) * col("n_s").cast(dec)).as("drift_num"))
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("drift_num").desc, col("word"))
    scored.withColumn("rnk", row_number().over(bySource))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk").cast("int").as("rnk"), col("word"),
        col("c_sw"), col("c_w"),
        col("drift_num").cast("double").as("drift_score"))
      .orderBy("source", "rnk")
  }

  def sqlDriftWords(k: Int = DriftTopK): String = {
    val w = TextPrep.sqlWords
    s"""WITH wds AS (
          SELECT source, unnest($w) AS word FROM documents),
        csw AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw
          FROM wds GROUP BY 1, 2),
        cw AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM csw GROUP BY 1),
        n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM cw),
        scored AS (
          SELECT source, word, c_sw, c_w,
            abs(CAST(c_sw AS DECIMAL(19,0)) * CAST(n_tot AS DECIMAL(19,0)) -
              CAST(c_w AS DECIMAL(19,0)) * CAST(n_s AS DECIMAL(19,0))) AS drift_num
          FROM csw JOIN cw USING (word) JOIN ns USING (source), n),
        r AS (
          SELECT source, word, c_sw, c_w, drift_num,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY drift_num DESC, word) AS INTEGER) AS rnk
          FROM scored)
        SELECT source, rnk, word, c_sw, c_w,
          CAST(drift_num AS DOUBLE) AS drift_score
        FROM r WHERE rnk <= $k ORDER BY source, rnk"""
  }

  val sqlSourceDivergence: String = {
    val w = TextPrep.sqlWords
    s"""WITH wds AS (
          SELECT source, unnest($w) AS word FROM documents),
        csw AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw
          FROM wds GROUP BY 1, 2),
        cw AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        ns AS (
          SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s,
            CAST(count(*) AS BIGINT) AS n_distinct_words
          FROM csw GROUP BY 1),
        n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM cw),
        per AS (
          SELECT source,
            sum(abs(CAST(c_sw AS DECIMAL(19,0)) * CAST(n_tot AS DECIMAL(19,0)) -
              CAST(c_w AS DECIMAL(19,0)) * CAST(n_s AS DECIMAL(19,0)))) AS a_num,
            CAST(sum(c_w) AS BIGINT) AS b_sum
          FROM csw JOIN cw USING (word) JOIN ns USING (source), n
          GROUP BY source)
        SELECT per.source, ns.n_s AS n_tokens, ns.n_distinct_words,
          CAST(per.a_num +
            CAST(n.n_tot - per.b_sum AS DECIMAL(19,0)) * CAST(ns.n_s AS DECIMAL(19,0))
            AS DOUBLE) /
          (2.0 * CAST(ns.n_s AS DOUBLE) * CAST(n.n_tot AS DOUBLE)) AS tv_divergence
        FROM per JOIN ns USING (source), n
        ORDER BY per.source"""
  }

  val VocabTopN = 1000

  /** (word, n_occurrences, n_docs) — the shared counting stage. */
  private def wordCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(TextPrep.wordsCol).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Vocabulary build — the tokenizer-training primitive: every word
    * ranked by corpus occurrence count (ties → lexicographic), with
    * document frequency alongside. Two hash aggregates; only the top-N
    * are ever ranked — the cap moves BEFORE the sort, so the ranking is
    * a TakeOrderedAndProject (size-N per-partition heaps), never a
    * single-partition sort of the vocabulary (which is 10⁸–10⁹ rows on
    * a web corpus). */
  def vocab(documents: DataFrame, topN: Int = VocabTopN): DataFrame =
    graft.util.TopN.rankedTopN(
      wordCounts(documents),
      struct((-col("n_occurrences")).as("nk"), col("word").as("wk")),
      topN, "rnk_i")
      .select(col("rnk_i").cast("long").as("vocab_rank"),
        col("word"), col("n_occurrences"), col("n_docs"))
      .orderBy("vocab_rank")

  /** How many of the SMALLEST occurrence counts get a smoothed
    * Good–Turing row (the estimator is only trusted at small r, where
    * N_{r+1} is populated; beyond that raw counts win — and "small"
    * is relative to the corpus, so the cut is rank-based, not a fixed
    * r ≤ k that can select zero rows on a saturated vocabulary). */
  val GoodTuringRows = 10

  /** Good–Turing frequency-of-frequencies: for the smallest observed
    * occurrence counts r, the count of words seen exactly r times
    * (N_r), the Turing-smoothed count r* = (r+1)·N_{r+1}/N_r, and the
    * unseen-mass estimate p₀ = N₁/N — the classic LM-smoothing
    * statistics (Good 1953, Katz backoff) and a direct data-quality
    * readout: a corpus whose hapax share p₀ is large is mostly unique
    * noise; one whose N_r curve is flat is template spam.
    *
    * Scale shape: the token explode feeds one (word) hash aggregate;
    * everything after operates on the counts-of-counts frame, whose
    * size is the number of DISTINCT occurrence counts (Zipf keeps it
    * ~10⁴ rows even at web-corpus scale — same argument as the vocab
    * bucket histogram above). The smallest-r cut is a
    * TakeOrderedAndProject (never a global window); the r+1 self-join
    * is an equi-join on a derived key (Catalyst extracts a.r+1 = b.r
    * as hash-join keys); the totals frame is one broadcast row. */
  def goodTuring(documents: DataFrame): DataFrame = {
    val cc = wordCounts(documents)
      .groupBy(col("n_occurrences").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val totals = cc.agg(
      sum(col("r") * col("n_r")).as("n_tokens"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n_hapax"))
    val low = graft.util.TopN.rankedTopN(cc, col("r"), GoodTuringRows, "rk")
      .drop("rk")
    low.as("a")
      .join(cc.as("b"), col("a.r") + 1 === col("b.r"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("a.r").as("r"),
        col("a.n_r").as("n_r"),
        coalesce(col("b.n_r"), lit(0L)).as("n_r_next"),
        (((col("a.r") + lit(1L)) * coalesce(col("b.n_r"), lit(0L)))
          .cast("double") / col("a.n_r").cast("double")).as("r_star"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("p_unseen"))
      .orderBy("r")
  }

  def sqlGoodTuring: String = {
    val w = TextPrep.sqlWords
    s"""WITH toks AS (
          SELECT unnest($w) AS word FROM documents),
        counts AS (
          SELECT word, CAST(count(*) AS BIGINT) AS r FROM toks GROUP BY 1),
        cc AS (
          SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY 1),
        tot AS (
          SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT)
              AS n_hapax
          FROM cc),
        low AS (SELECT r, n_r FROM cc ORDER BY r LIMIT $GoodTuringRows)
        SELECT a.r, a.n_r,
          CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_next,
          CAST((a.r + 1) * coalesce(b.n_r, 0) AS DOUBLE) /
            CAST(a.n_r AS DOUBLE) AS r_star,
          CAST(t.n_hapax AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS p_unseen
        FROM low a LEFT JOIN cc b ON a.r + 1 = b.r CROSS JOIN tot t
        ORDER BY a.r"""
  }

  /** Full (uncapped) frequency ranking: (word, n_occurrences, n_docs,
    * vocab_rank) — rarityScore needs the rank of EVERY word, so the
    * top-N cap can't apply. Instead of one global-window sort (single
    * partition holding the whole vocabulary), the rank decomposes as
    *   rank(w) = offset(bucket(w)) + row_number within bucket,
    * bucket = (n_occurrences, first char): within one occurrence count,
    * words sort lexicographically, so same-first-char words are
    * contiguous and per-bucket ranks are globally correct once each
    * bucket's start offset is known. The bucket histogram is metadata-
    * sized (distinct counts × ≤ alphabet; Zipf keeps distinct counts
    * ~10⁴ even at web scale — fail-loud cap like the k-means collect in
    * Similarity.scala), so offsets are a driver fold + broadcast join,
    * and the heavy ranking is a PARTITIONED window — the hapax cohort,
    * the classic skew case, is split ~36 ways by first char. */
  private def vocabRanks(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val vc = wordCounts(documents).withColumn("pfx", substring(col("word"), 1, 1))
    val hist = vc.groupBy("n_occurrences", "pfx")
      .agg(count(lit(1)).as("n_words")).collect()
    require(hist.length <= 2000000,
      s"vocab rank-bucket histogram blew the driver bound: ${hist.length} buckets")
    // Prefix order must be CODE-POINT (UTF-8 binary) order — what the
    // in-bucket window (Spark UTF8String binary compare) and the
    // DuckDB oracle (VARCHAR binary collation) both use. Scala's
    // default String ordering compares UTF-16 units, which disagrees
    // for non-BMP prefixes (surrogates 0xD800+ sort below U+E000+).
    val utf8Ord: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      var r = 0
      while (r == 0 && i < x.length && i < y.length) {
        r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
      }
      if (r != 0) r else x.length - y.length
    }
    var acc = 0L
    val offsets = hist.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy { case (occ, pfx, _) => (occ, pfx) }(
        Ordering.Tuple2(Ordering.Long.reverse, utf8Ord))
      .map { case (occ, pfx, cnt) => val o = (occ, pfx, acc); acc += cnt; o }
    val offDf = offsets.toSeq.toDF("n_occurrences", "pfx", "rank_offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_occurrences", "pfx").orderBy("word")
    vc.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(offDf), Seq("n_occurrences", "pfx"))
      .select(col("word"), col("n_occurrences"), col("n_docs"),
        (col("rank_offset") + col("rn")).as("vocab_rank"))
  }

  val BpeTopN = 50

  /** BPE merge-pair counting — the inner statistic of byte-pair-
    * encoding tokenizer training: every adjacent CHARACTER pair inside
    * every word occurrence, counted corpus-wide, top-N reported (the
    * first merge a BPE trainer would pick is rank 1). Row-local
    * explode (one 2-char slice per position), one hash aggregate on
    * the pair (keyspace ≤ alphabet², inherently bounded), bounded
    * top-N rank — the iteration step a full trainer would loop with
    * the previous round's merges applied. */
  def bpePairs(documents: DataFrame, topN: Int = BpeTopN): DataFrame = {
    val counts = documents
      .select(explode(TextPrep.wordsCol).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
    graft.util.TopN.rankedTopN(counts,
        struct((-col("n_occurrences")).as("nk"), col("pair").as("pk")), topN, "rnk")
      .select("rnk", "pair", "n_occurrences")
      .orderBy("rnk")
  }

  def sqlBpePairs(topN: Int = BpeTopN): String = {
    val w = TextPrep.sqlWords
    s"""WITH wds AS (SELECT unnest($w) AS w FROM documents),
        p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                i -> substr(w, i, 2))) AS pair
              FROM wds WHERE length(w) >= 2),
        g AS (SELECT pair, count(*) AS n_occurrences FROM p GROUP BY 1),
        r AS (SELECT pair, n_occurrences,
                CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC)
                  AS INTEGER) AS rnk
              FROM g)
        SELECT rnk, pair, n_occurrences FROM r WHERE rnk <= $topN ORDER BY rnk"""
  }

  /** Vocabulary sizes the coverage curve is evaluated at. */
  val CoverageKs: Seq[Int] = Seq(100, 250, 500, 1000)

  /** Tokenizer-planning coverage curve: for each candidate vocabulary
    * size K, the fraction of corpus TOKEN OCCURRENCES whose word ranks
    * within the top K — i.e. 1 − OOV rate if the vocab were cut at K.
    * One corpus explode probed against the broadcast frequency ranking
    * (the scalable bucket-offset ranking, never a global sort), with
    * the per-K tallies as conditional integer sums in a single
    * aggregate — exact longs, one double division per row, order-free.
    *
    * The broadcast side is CAPPED at max(CoverageKs) rows before the
    * hint: the curve only ever tests `vocab_rank <= k <= maxK`, so
    * ranks past maxK are dead weight — and a web-corpus vocabulary is
    * 10⁸–10⁹ words, which would OOM the driver as a full broadcast.
    * The LEFT join keeps every occurrence for n_total; an un-ranked
    * (rank > maxK) word has null vocab_rank and counts covered at no
    * K, exactly as before. The broadcast is now constant-sized (maxK
    * rows) at ANY corpus scale. */
  def vocabCoverage(documents: DataFrame): DataFrame = {
    val maxK = CoverageKs.max
    val ranks = vocabRanks(documents).select("word", "vocab_rank")
      .filter(col("vocab_rank") <= maxK)
    val aggs = count(lit(1)).as("n_total") +:
      CoverageKs.map(k =>
        sum(when(col("vocab_rank") <= k, 1L).otherwise(0L)).as(s"c$k"))
    val tallies = documents
      .select(explode(TextPrep.wordsCol).as("word"))
      .join(broadcast(ranks), Seq("word"), "left")
      .agg(aggs.head, aggs.tail: _*)
    val stacked = CoverageKs
      .map(k => s"$k, c$k")
      .mkString(s"stack(${CoverageKs.size}, ", ", ", ") AS (vocab_k, n_covered)")
    tallies
      .select(expr(stacked), col("n_total"))
      .select(col("vocab_k").cast("int").as("vocab_k"),
        col("n_covered"), col("n_total"),
        (col("n_covered").cast("double") / col("n_total").cast("double"))
          .as("coverage"))
      .orderBy("vocab_k")
  }

  // lazy: references sqlVocabRankCte, declared below (object-init order)
  lazy val sqlVocabCoverage: String = {
    val sums = CoverageKs
      .map(k => s"CAST(sum(CASE WHEN vocab_rank <= $k THEN 1 ELSE 0 END) AS BIGINT) AS c$k")
      .mkString(", ")
    val rows = CoverageKs
      .map(k => s"SELECT $k AS vocab_k, c$k AS n_covered, n_total FROM t")
      .mkString(" UNION ALL ")
    s"""WITH $sqlVocabRankCte,
        t AS (
          SELECT CAST(count(*) AS BIGINT) AS n_total, $sums
          FROM wds JOIN vr USING (word)),
        st AS ($rows)
        SELECT CAST(vocab_k AS INTEGER) AS vocab_k, n_covered, n_total,
          CAST(n_covered AS DOUBLE) / CAST(n_total AS DOUBLE) AS coverage
        FROM st ORDER BY vocab_k"""
  }

  private val sqlVocabRankCte: String =
    s"""wds AS (SELECT doc_id, unnest(${TextPrep.sqlWords}) AS word FROM documents),
        vc AS (
          SELECT word, count(*) AS n_occurrences,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM wds GROUP BY 1),
        vr AS (
          SELECT word, n_occurrences, n_docs,
            CAST(row_number() OVER (ORDER BY n_occurrences DESC, word ASC)
              AS BIGINT) AS vocab_rank
          FROM vc)"""

  val sqlVocab: String =
    s"""WITH $sqlVocabRankCte
        SELECT vocab_rank, word, n_occurrences, n_docs FROM vr
        WHERE vocab_rank <= $VocabTopN ORDER BY vocab_rank"""

  val EncodeLen = 16

  /** Tokenize-to-ids: encode each document's first EncodeLen words as
    * vocabulary ranks (OOV — rank beyond the top-N vocab — encodes as
    * 0), emitted as a CSV string plus OOV counts. The corpus-encoding
    * pass of a rank-vocabulary tokenizer, relationally: one explode,
    * one broadcast join against the (tiny) vocab, one per-doc
    * re-assembly with the order pinned by word position. */
  def tokenizeIds(documents: DataFrame, vocabSize: Int = VocabTopN,
                  maxLen: Int = EncodeLen): DataFrame = {
    val v = broadcast(vocab(documents, vocabSize).select("word", "vocab_rank"))
    documents
      .select(col("doc_id"),
        posexplode(slice(TextPrep.wordsCol, 1, maxLen)).as(Seq("pos", "word")))
      .join(v, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("vocab_rank"), lit(0L)).as("id"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("pos"), col("id")))).as("xs"),
        count(lit(1)).as("n_enc"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"),
        expr("array_join(transform(xs, x -> CAST(x.id AS STRING)), ',')")
          .as("token_ids"),
        col("n_enc"), col("n_oov"))
      .orderBy("doc_id")
  }

  val sqlTokenizeIds: String =
    s"""WITH $sqlVocabRankCte,
        v AS (SELECT word, vocab_rank FROM vr WHERE vocab_rank <= $VocabTopN),
        d AS (SELECT doc_id, ${TextPrep.sqlWords} AS ws FROM documents),
        t AS (SELECT doc_id, ws,
                unnest(generate_series(1, least(len(ws), $EncodeLen))) AS pos
              FROM d),
        tw AS (SELECT doc_id, pos, ws[pos] AS word FROM t),
        j AS (SELECT doc_id, pos, COALESCE(v.vocab_rank, 0) AS id
              FROM tw LEFT JOIN v USING (word)),
        enc AS (
          SELECT doc_id,
            list(CAST(id AS VARCHAR) ORDER BY pos) AS ids,
            CAST(count(*) AS BIGINT) AS n_enc,
            CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
          FROM j GROUP BY 1)
        SELECT doc_id, array_to_string(ids, ',') AS token_ids, n_enc, n_oov
        FROM enc ORDER BY doc_id"""

  /** Per-document word-rarity score: the mean of floor(log2(rank)) over
    * the document's words, rank = corpus frequency rank (1 = most
    * common). The unigram-LM quality-filter shape (rare-word-heavy docs
    * score high, boilerplate scores low) with the surprisal integerized:
    * floor(log2) is computed EXACTLY as length(bin(rank)) - 1 — both
    * engines' bin() — so the per-doc statistic is an exact integer sum
    * and one final division, hash-portable with no transcendental-
    * function cross-engine drift. The vocabulary side is deliberately
    * NOT broadcast-hinted: unlike the coverage curve (capped at maxK
    * rows), rarity needs EVERY word's rank, and a web-corpus
    * vocabulary is 10⁸–10⁹ rows — a forced broadcast OOMs the driver.
    * A plain shuffled join on `word` is the scale plan (rank side is
    * aggregate-sized vs the corpus explode); at small scale AQE
    * converts it to a broadcast join on its own at runtime. */
  def rarityScore(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(TextPrep.wordsCol).as("word"))
      .join(vocabRanks(documents).select("word", "vocab_rank"), "word")
      .select(col("doc_id"),
        (length(bin(col("vocab_rank"))) - 1).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("bits")).as("rarity_bits"))
      .select(col("doc_id"), col("n_words"), col("rarity_bits"),
        (col("rarity_bits").cast("double") / col("n_words").cast("double"))
          .as("mean_rarity_bits"))
      .orderBy("doc_id")

  val sqlRarityScore: String =
    s"""WITH $sqlVocabRankCte,
        b AS (
          SELECT wds.doc_id,
            CAST(length(bin(vr.vocab_rank)) - 1 AS BIGINT) AS bits
          FROM wds JOIN vr USING (word)),
        g AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(bits) AS BIGINT) AS rarity_bits
          FROM b GROUP BY 1)
        SELECT doc_id, n_words, rarity_bits,
          CAST(rarity_bits AS DOUBLE) / CAST(n_words AS DOUBLE)
            AS mean_rarity_bits
        FROM g ORDER BY doc_id"""

  val LenBucket = 64

  /** Token-length histogram: documents bucketed by word count into
    * LenBucket-wide bins, with corpus share — the context-length
    * planning table (how much of the corpus fits a given sequence
    * length). One aggregate over per-row arithmetic; the totals side
    * is a broadcast single row. */
  def lengthHistogram(documents: DataFrame): DataFrame = {
    val buckets = documents
      .select((floor(size(TextPrep.wordsCol).cast("long") / LenBucket) * LenBucket)
        .cast("long").as("bucket_start"))
      .groupBy("bucket_start")
      .agg(count(lit(1)).as("n_docs"))
    val tot = buckets.agg(sum(col("n_docs")).as("tot"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket_start"),
        (col("bucket_start") + LenBucket - 1).as("bucket_end"),
        col("n_docs"),
        (col("n_docs").cast("double") / col("tot")).as("pct_docs"))
      .orderBy("bucket_start")
  }

  val sqlLengthHistogram: String =
    s"""WITH b AS (
          SELECT CAST(len(${TextPrep.sqlWords}) // $LenBucket * $LenBucket AS BIGINT)
            AS bucket_start
          FROM documents),
        g AS (SELECT bucket_start, count(*) AS n_docs FROM b GROUP BY 1),
        tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM g)
        SELECT bucket_start, bucket_start + ${LenBucket - 1} AS bucket_end,
          n_docs, CAST(n_docs AS DOUBLE) / tot AS pct_docs
        FROM g, tot ORDER BY bucket_start"""

  /** Language ID: count marker-word hits per language, predict the
    * argmax with alphabetical tie-break. */
  def languageId(documents: DataFrame): DataFrame = {
    val scored = documents
      .withColumn("words", TextPrep.wordsCol)
      .select(
        (col("doc_id") +: col("lang").as("lang_actual") +:
          LangMarkers.map { case (l, ms) =>
            expr(s"size(filter(words, w -> w IN ${inList(ms)}))").as(s"score_$l")
          }): _*)
    val pred = LangMarkers.map(_._1).foldRight(lit(null): Column) {
      case (l, elseCol) =>
        val isMax = LangMarkers.map(_._1).filter(_ != l)
          .map(o => col(s"score_$l") >= col(s"score_$o"))
          .reduce(_ && _)
        when(isMax, lit(l)).otherwise(elseCol)
    }
    scored
      .withColumn("lang_pred", pred)
      .withColumn("lang_match", col("lang_pred") === col("lang_actual"))
      .orderBy("doc_id")
  }

  val CmsTopK = 20

  /** Count–Min-sketch word counts, checked against exact counts: the
    * sketch aggregate's shuffle is one fixed 64 KB counter matrix per
    * map partition regardless of corpus size (vs the exact histogram's
    * vocabulary-sized shuffle — THE sketch trade at 100 TB), and the
    * oracle verifies the CMS guarantees as booleans on the top-k
    * words: estimate ≥ exact always, and ≤ exact + (2/Width)·N. Same
    * tolerance-boolean pattern as q_approx_distinct — the oracle emits
    * exact counts and literal TRUEs, so a hash match means the sketch
    * honored its bounds on this corpus. */
  def cmsTopWords(documents: DataFrame, k: Int = CmsTopK): DataFrame = {
    val words = documents.select(explode(TextPrep.wordsCol).as("word"))
    // sketch + corpus total in ONE aggregate: as separate .agg() calls
    // they are different subplans ReuseExchange cannot merge, so each
    // would pay its own full corpus explode+scan
    val sketch = words.agg(call_function("cms_build", col("word")).as("sk"),
      count(lit(1)).as("n_total"))
    val eps = 2.0 / graft.functions.Cms.Width
    // rank via bounded top-k (TakeOrderedAndProject), never a global
    // single-partition window over the vocabulary
    graft.util.TopN.rankedTopN(
        words.groupBy("word").agg(count(lit(1)).as("n_exact")),
        struct((-col("n_exact")).as("nk"), col("word").as("wk")), k, "rnk")
      .crossJoin(broadcast(sketch))
      .select(col("rnk"), col("word"), col("n_exact"),
        (call_function("cms_query", col("sk"), col("word")) >= col("n_exact"))
          .as("est_ge_exact"),
        (call_function("cms_query", col("sk"), col("word")).cast("double") <=
          col("n_exact").cast("double") + lit(eps) * col("n_total").cast("double"))
          .as("est_within_eps"))
      .orderBy("rnk")
  }

  def sqlCmsTopWords(k: Int = CmsTopK): String =
    s"""WITH wds AS (
          SELECT unnest(${TextPrep.sqlWords}) AS word FROM documents),
        g AS (SELECT word, count(*) AS n_exact FROM wds GROUP BY 1),
        r AS (SELECT word, n_exact,
            CAST(row_number() OVER (ORDER BY n_exact DESC, word ASC) AS INTEGER) AS rnk
          FROM g)
        SELECT rnk, word, n_exact,
          TRUE AS est_ge_exact, TRUE AS est_within_eps
        FROM r WHERE rnk <= $k ORDER BY rnk"""

  /** Misra–Gries heavy hitters, guarantee-checked: the MG summary
    * (≤ K counters shuffled per map partition — the heavy-hitters dual
    * of the CMS counter matrix, biased LOW where CMS biases high) is
    * evaluated against the exact top-k words. The summary CONTENT is
    * merge-order-dependent, so the oracle verifies the ORDER-INVARIANT
    * guarantees, as pure INTEGER booleans (no floating point):
    * presence — exact·(K+1) > n_total forces membership; bounds —
    * est ≤ exact and (exact − est)·(K+1) ≤ n_total. The oracle emits
    * the exact top-k and literal TRUEs, so a hash match proves MG
    * honored its contract on this corpus. */
  def heavyHitters(documents: DataFrame, k: Int = CmsTopK): DataFrame = {
    val mgK = graft.functions.MisraGries.K
    val words = documents.select(explode(TextPrep.wordsCol).as("word"))
    // summary + corpus total in ONE aggregate (same one-scan reasoning
    // as cmsTopWords)
    val mg = words.agg(call_function("mg_build", col("word")).as("summary"),
      count(lit(1)).as("n_total"))
    val est = coalesce(
      element_at(expr("transform(filter(summary, e -> e.word = word), e -> e.cnt)"), 1),
      lit(0L))
    graft.util.TopN.rankedTopN(
        words.groupBy("word").agg(count(lit(1)).as("n_exact")),
        struct((-col("n_exact")).as("nk"), col("word").as("wk")), k, "rnk")
      .crossJoin(broadcast(mg))
      .withColumn("est", est)
      .select(col("rnk"), col("word"), col("n_exact"),
        (col("n_exact") * (mgK + 1) <= col("n_total") || col("est") > 0L)
          .as("hh_present_ok"),
        (col("est") <= col("n_exact") &&
          (col("n_exact") - col("est")) * (mgK + 1) <= col("n_total"))
          .as("est_bounds_ok"))
      .orderBy("rnk")
  }

  def sqlHeavyHitters(k: Int = CmsTopK): String =
    s"""WITH wds AS (
          SELECT unnest(${TextPrep.sqlWords}) AS word FROM documents),
        g AS (SELECT word, count(*) AS n_exact FROM wds GROUP BY 1),
        r AS (SELECT word, n_exact,
            CAST(row_number() OVER (ORDER BY n_exact DESC, word ASC) AS INTEGER) AS rnk
          FROM g)
        SELECT rnk, word, n_exact,
          TRUE AS hh_present_ok, TRUE AS est_bounds_ok
        FROM r WHERE rnk <= $k ORDER BY rnk"""

  /** Bigram-LM fluency score: per document, the mean integerized
    * surprisal of its distinct bigrams under the corpus bigram
    * document-frequency model — bits(bigram) = floor(log2(N / df)),
    * computed EXACTLY as length(bin(N DIV df)) - 1 so the per-doc
    * statistic is an integer sum plus one final division (the same
    * transcendental-free trick as rarityScore, lifted from unigrams to
    * bigrams). Boilerplate built from corpus-common bigrams scores low;
    * rare-continuation text scores high — the cheap KenLM-ish quality
    * signal.
    *
    * Plan: one explode (distinct bigrams per doc via the native
    * shingle_hashes kernel), a shuffle join on the bigram DF table
    * (self-derived aggregate, same key distribution), and one final
    * per-doc aggregate. At 100 TB the DF table join is the one
    * corpus-sized shuffle; its key space is the bigram vocabulary and
    * hot bigrams are bounded by per-doc distinctness + AQE. */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val b = documents.select(col("doc_id"),
      explode(call_function("shingle_hashes", col("text"), lit(2))
        .getField("shs")).as("bigram"))
    val df = b.groupBy("bigram").agg(count(lit(1)).as("n_docs"))
    val tot = documents.agg(count(lit(1)).as("n_total"))
    b.join(df, "bigram")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (length(bin(expr("n_total DIV n_docs"))) - 1).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("surprisal_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        (col("surprisal_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_surprisal_bits"))
      .orderBy("doc_id")
  }

  val sqlBigramSurprisal: String = {
    val w = TextPrep.sqlWords
    s"""WITH b AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(
              generate_series(1, len($w) - 1),
              i -> array_to_string(($w)[i:i+1], ' ')))) AS bigram
          FROM documents WHERE len($w) >= 2),
        g AS (SELECT bigram, count(*) AS n_docs FROM b GROUP BY 1),
        t AS (SELECT count(*) AS n_total FROM documents),
        s AS (
          SELECT doc_id,
            CAST(length(bin(n_total // n_docs)) - 1 AS BIGINT) AS bits
          FROM b JOIN g USING (bigram), t)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(bits) AS BIGINT) AS surprisal_bits,
          CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_surprisal_bits
        FROM s GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB marker-score projection + argmax CASE, shared by
    * [[sqlLanguageId]] and [[sqlLidAgreement]] so the marker oracle
    * can never de-sync between the per-classifier and agreement
    * queries. */
  private val sqlMarkerScores: String = {
    val w = TextPrep.sqlWords
    LangMarkers.map { case (l, ms) =>
      s"CAST(len(list_filter($w, x -> x IN ${inList(ms)})) AS INTEGER) AS score_$l"
    }.mkString(", ")
  }

  private val sqlMarkerPred: String = {
    val langs = LangMarkers.map(_._1)
    langs.map { l =>
      val cond = langs.filter(_ != l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("CASE ", " ", " ELSE NULL END")
  }

  val sqlLanguageId: String =
    s"""WITH scored AS (
          SELECT doc_id, lang AS lang_actual, $sqlMarkerScores FROM documents)
        SELECT *, $sqlMarkerPred AS lang_pred,
          ($sqlMarkerPred) = lang_actual AS lang_match
        FROM scored ORDER BY doc_id"""

  // ---- profile-based character-trigram language ID -------------------

  val LidTopTrigrams = 30

  /** Character-trigram language ID, profile-trained on the corpus
    * itself: build a top-[[LidTopTrigrams]] trigram profile per
    * labeled language (document-frequency ranked, weight = 31-rank),
    * then predict each document's language as the profile with the
    * highest summed weight over the document's DISTINCT trigrams
    * (tie → lexicographic). The textcat/fastText-style upgrade over
    * [[languageId]]'s fixed marker list — the profile comes from
    * data, not constants.
    *
    * Scale shape: trigram dedup happens ROW-LOCALLY (array_distinct
    * before the explode), so one explode feeds both the profile
    * aggregate and the scoring join with NO corpus-wide DISTINCT
    * shuffle. The profile rank window partitions by language over the
    * per-language trigram vocabulary, which is bounded by the charset
    * (≤ 37³ rows per language) — alphabet-sized, not corpus-sized.
    * The finished profile (#langs × 30 rows) broadcasts to the
    * scoring join, and the final argmax window holds ≤ #langs rows
    * per document. */
  def charTrigramLid(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc DISTINCT trigrams, deduplicated inside the row
    val dt = documents
      .filter(length(lower(col("text"))) >= 3)
      .select(col("doc_id"), col("lang"),
        // native codegen'd distinct-trigram kernel — the interpreted
        // transform/substring/array_distinct chain was this query's
        // whole-suite-slowest hot path
        explode(call_function("char_grams", col("text"), lit(3))).as("tri"))
      // NOT cached: with the compiled kernel, recomputing the explode
      // for the profile side costs less than materializing it (the
      // interpreted chain measured the opposite — the cache was its
      // workaround). At 100 TB the profile side trains on a bounded
      // doc SAMPLE instead (the standard LID methodology); the
      // full-corpus profile here keeps the small-sf oracle
      // deterministic for every language.
    val counts = dt.groupBy("lang", "tri").agg(count(lit(1)).as("c"))
    val rnk = org.apache.spark.sql.functions.row_number()
      .over(Window.partitionBy("lang").orderBy(col("c").desc, col("tri").asc))
    val profile = counts.withColumn("rnk", rnk)
      .filter(col("rnk") <= LidTopTrigrams)
      .select(col("lang").as("plang"), col("tri"),
        (lit(LidTopTrigrams + 1) - col("rnk")).cast("long").as("w"))
    val scores = dt.join(broadcast(profile), "tri")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(sum(col("w")).as("score"))
    val best = org.apache.spark.sql.functions.row_number()
      .over(Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang").asc))
    scores.withColumn("rn", best).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("lang_actual"),
        col("plang").as("lang_pred"), col("score"),
        (col("plang") === col("lang")).as("lang_match"))
      .orderBy("doc_id")
  }

  /** DuckDB trigram-LID CTE chain through `sc` (per-doc per-profile
    * scores, `lang` carried), shared by [[sqlCharTrigramLid]] and
    * [[sqlLidAgreement]] — one definition of the profile training and
    * scoring, so the two oracles can never drift. */
  private val sqlTrigramScoreCtes: String =
    s"""dt AS (
          SELECT doc_id, lang,
            unnest(list_distinct(list_transform(
              generate_series(1, length(lower(text)) - 2),
              i -> substr(lower(text), i, 3)))) AS tri
          FROM documents WHERE length(lower(text)) >= 3),
        cnt AS (SELECT lang, tri, count(*) AS c FROM dt GROUP BY 1, 2),
        prof AS (
          SELECT lang AS plang, tri, CAST(${LidTopTrigrams + 1} - rnk AS BIGINT) AS w
          FROM (
            SELECT lang, tri, c,
              row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri ASC) AS rnk
            FROM cnt)
          WHERE rnk <= $LidTopTrigrams),
        sc AS (
          SELECT doc_id, dt.lang, plang, CAST(sum(w) AS BIGINT) AS score
          FROM dt JOIN prof USING (tri) GROUP BY 1, 2, 3)"""

  val sqlCharTrigramLid: String =
    s"""WITH $sqlTrigramScoreCtes,
        best AS (
          SELECT doc_id, lang, plang, score,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
          FROM sc)
        SELECT doc_id, lang AS lang_actual, plang AS lang_pred, score,
          plang = lang AS lang_match
        FROM best WHERE rn = 1 ORDER BY doc_id"""

  /** Inter-classifier agreement between the two independent language
    * identifiers — the marker heuristic ([[languageId]]) and the
    * profile-trained trigram model ([[charTrigramLid]]): the full
    * agreement matrix plus Cohen's kappa (chance-corrected agreement).
    * The standard label-quality diagnostic when two labelers exist:
    * kappa near 1 = the cheap heuristic can stand in for the model;
    * kappa near 0 = their agreement is chance and neither should gate
    * data alone. Docs are compared where BOTH classifiers predict
    * (the trigram model abstains on texts under 3 chars or with no
    * profile hits).
    *
    * Exactness: po = diag/n and pe = Σ_k row_k·col_k / n² are single
    * double divisions of exact integer counts (row·col products stay
    * in BIGINT — bounded by n², safe to n ≈ 10⁹ docs); kappa =
    * (po − pe)/(1 − pe) with the identical parenthesization on both
    * engines. Scale shape: two per-doc prediction pipelines (each
    * documented at its definition), one doc-keyed join, then
    * everything runs on the #langs²-sized matrix frame; the stats
    * frame is one broadcast row. */
  def lidAgreement(documents: DataFrame): DataFrame = {
    val marker = languageId(documents)
      .select(col("doc_id"), col("lang_pred").as("lang_marker"))
    val trained = charTrigramLid(documents)
      .select(col("doc_id"), col("lang_pred").as("lang_trained"))
    val cm = marker.join(trained, "doc_id")
      .groupBy("lang_marker", "lang_trained")
      .agg(count(lit(1)).as("n_docs"))
    val tot = cm.agg(
      sum(col("n_docs")).as("n"),
      sum(when(col("lang_marker") === col("lang_trained"), col("n_docs"))
        .otherwise(0L)).as("diag"))
    val rowMargin = cm.groupBy(col("lang_marker").as("k"))
      .agg(sum(col("n_docs")).as("row_n"))
    val colMargin = cm.groupBy(col("lang_trained").as("k"))
      .agg(sum(col("n_docs")).as("col_n"))
    val crossSum = rowMargin.join(colMargin, "k")
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("cross_sum"))
    val stats = tot.crossJoin(crossSum)
      .select(
        (col("diag").cast("double") / col("n").cast("double")).as("po"),
        (col("cross_sum").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("pe"))
    cm.crossJoin(broadcast(stats))
      .select(col("lang_marker"), col("lang_trained"), col("n_docs"),
        col("po"), col("pe"),
        // PINNED: kappa is undefined at pe = 1 (both classifiers emit
        // one constant label, e.g. a single-language corpus) — 0/0.
        // Both engines must emit NULL there: unguarded, Spark's
        // non-ANSI divide gives NULL but DuckDB gives NaN.
        when(col("pe") =!= 1.0,
          (col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
      .orderBy("lang_marker", "lang_trained")
  }

  val sqlLidAgreement: String = {
    s"""WITH m AS (
          SELECT doc_id, $sqlMarkerPred AS lang_marker
          FROM (SELECT doc_id, $sqlMarkerScores FROM documents)),
        $sqlTrigramScoreCtes,
        t AS (
          SELECT doc_id, plang AS lang_trained
          FROM sc
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, plang ASC) = 1),
        cm AS (
          SELECT lang_marker, lang_trained, CAST(count(*) AS BIGINT) AS n_docs
          FROM m JOIN t USING (doc_id) GROUP BY 1, 2),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n,
            CAST(sum(CASE WHEN lang_marker = lang_trained
                     THEN n_docs ELSE 0 END) AS BIGINT) AS diag
          FROM cm),
        r AS (SELECT lang_marker AS k, sum(n_docs) AS row_n FROM cm GROUP BY 1),
        c AS (SELECT lang_trained AS k, sum(n_docs) AS col_n FROM cm GROUP BY 1),
        x AS (SELECT CAST(coalesce(sum(row_n * col_n), 0) AS BIGINT) AS cross_sum
              FROM r JOIN c USING (k)),
        s AS (
          SELECT CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po,
            CAST(cross_sum AS DOUBLE) /
              (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          FROM tot, x)
        SELECT cm.lang_marker, cm.lang_trained, cm.n_docs, s.po, s.pe,
          CASE WHEN s.pe <> 1 THEN (s.po - s.pe) / (1 - s.pe) END AS kappa
        FROM cm, s ORDER BY 1, 2"""
  }

  // ---- BPE trainer: the full merge loop ------------------------------

  val BpeMerges = 8

  /** Byte-pair-encoding TRAINER (Sennrich et al. 2016) — the actual
    * merge loop, not just one round of pair counts ([[bpePairs]]):
    * learn [[BpeMerges]] merges by repeatedly taking the highest-
    * weight adjacent symbol pair (weight = occurrences × word count;
    * ties → lexicographic) and fusing it greedily left-to-right in
    * every word. Output is the learned merge table, in order — the
    * artifact a tokenizer ships.
    *
    * Scale story: the corpus is touched ONCE (the word-count
    * aggregate); every merge iteration then runs on the WORD
    * FREQUENCY DICT, whose size is the vocabulary, not the corpus —
    * exactly how reference BPE trainers work, re-expressed as
    * dict-sized DataFrame rounds (window partitions = one word, ≤
    * max-word-length rows). Greedy non-overlapping application is a
    * run-parity selection (gaps-and-islands over occurrence
    * positions), NOT a sequential fold — the same windowed formula
    * runs identically in the oracle, which recomputes each round's
    * best pair as a scalar CTE rather than trusting any driver state.
    * Per-round lineage is cut with localCheckpoint so round t+1 plans
    * against materialized dict rows, and the single-row best-pair
    * frame broadcasts (the PlanAudit BNLJ allowlist entry). */
  def bpeTrain(documents: DataFrame, merges: Int = BpeMerges): DataFrame =
    bpeLoop(documents, merges)._1.reduce(_ union _).orderBy("step")

  /** The shared merge loop: returns (per-round merge rows, final dict
    * segmentation). Both the trainer ([[bpeTrain]]) and the encoder
    * ([[bpeEncode]]) are views over this one computation. */
  private def bpeLoop(documents: DataFrame,
                      merges: Int): (Seq[DataFrame], DataFrame) = {
    // fail loud, not 'empty.reduceLeft' three frames later (and the
    // SQL builders would emit a syntactically-broken empty UNION)
    require(merges >= 1, s"BPE needs at least one merge round, got $merges")
    import org.apache.spark.sql.expressions.Window
    val dict = documents
      .select(explode(TextPrep.wordsCol).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var seqs = dict
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint()
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val spark = documents.sparkSession
    import spark.implicits._
    // Static per-round plans (round 14, util.Sessions.staticPlans):
    // every merge round runs on the DICT (vocabulary-bounded), and
    // under AQE each round's exchanges (pair-count aggregate; window +
    // regroup behind the checkpoint) re-optimize as separate scheduler
    // jobs — 8 rounds × 4 BPE queries of pure fixed cost. The corpus-
    // scale dict aggregate above and the encode join after the loop
    // plan OUTSIDE this scope, under AQE.
    val nWords = seqs.count() // cheap: seqs was just checkpointed
    graft.util.Sessions.staticPlans(spark, nWords) {
    for (t <- 1 to merges) {
      val pc = seqs.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), " +
            "(x, y) -> named_struct('a', x, 'b', y))")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("cnt")).as("pcnt"))
      // BOUNDED 1-row collect of the round's argmax pair (round 13) —
      // the k-means-centroid pattern: the pair becomes plan LITERALS,
      // replacing a localCheckpoint job + a broadcast join per round
      // (the merge machinery runs per query × 4 BPE queries × 8
      // rounds). Deterministic: (pcnt desc, a, b) is a total order.
      val bestRow = pc.orderBy(col("pcnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (bestRow.isEmpty) {
        // no pair left (every word fully merged): the round is a no-op
        // — the old broadcast-join form produced occ=false everywhere
        // and an empty step frame; keep both behaviors without jobs.
        steps += Seq.empty[(Int, String, String, String, Long)]
          .toDF("step", "a", "b", "merged", "pair_count")
      } else {
      val (ba, bb, pcnt) =
        (bestRow(0).getString(0), bestRow(0).getString(1), bestRow(0).getLong(2))
      val bm = ba + bb
      steps += Seq((t, ba, bb, bm, pcnt))
        .toDF("step", "a", "b", "merged", "pair_count")
      // Greedy non-overlapping selection in ONE window spec (round 14):
      // the old gaps-and-islands form needed runmin over a SECOND spec
      // (word, grp) and prevsel = lag(sel) over a third WindowExec —
      // three sorts per merge round. All of it is expressible over the
      // single (word ordered by p) spec:
      //   occ(p)     = s[p]=a ∧ s[p+1]=b          (lead)
      //   prevocc(p) = occ(p−1) = s[p−1]=a ∧ s[p]=b  (lag — direct, no
      //                lag-of-a-window-column)
      //   runstart   = latest p' ≤ p with occ(p') ∧ ¬prevocc(p')
      //                (cumulative max) — the run's first occurrence,
      //                identical to the old runmin within every run
      //                (grp was constant exactly over consecutive occ
      //                positions),
      //   sel        = occ ∧ (p − runstart) even   (same parity rule)
      //   prevsel    = sel(p−1) = prevocc ∧ (p−1−runstart) even —
      //                runstart(p) = runstart(p−1) whenever prevocc
      //                (a start at p requires ¬occ(p−1)).
      // One sort, two chained WindowExecs (lead/lag, then the
      // cumulative max), zero extra exchanges; outputs bit-identical
      // (oracle re-verified tri-scale).
      val w = Window.partitionBy("word").orderBy("p")
      val cume = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      seqs = seqs
        .select(col("word"), col("cnt"),
          lit(ba).as("ba"), lit(bb).as("bb"), lit(bm).as("bm"),
          posexplode(col("syms")).as(Seq("p0", "s")))
        .withColumn("p", col("p0") + 1).drop("p0")
        .withColumn("occ",
          coalesce(col("s") === col("ba") && lead(col("s"), 1).over(w) === col("bb"),
            lit(false)))
        .withColumn("prevocc",
          coalesce(lag(col("s"), 1).over(w) === col("ba") && col("s") === col("bb"),
            lit(false)))
        .withColumn("runstart",
          max(when(col("occ") && !col("prevocc"), col("p"))).over(cume))
        .withColumn("sel",
          col("occ") && (col("p") - col("runstart")) % 2 === 0)
        .withColumn("prevsel",
          col("prevocc") && (col("p") - 1 - col("runstart")) % 2 === 0)
        .withColumn("s2",
          when(col("sel"), col("bm"))
            .when(col("prevsel"), lit(null))
            .otherwise(col("s")))
        .filter(col("s2").isNotNull)
        .groupBy("word", "cnt")
        .agg(expr("transform(array_sort(collect_list(struct(p, s2))), x -> x.s2)")
          .as("syms"))
        .localCheckpoint()
      }
    }
    }
    (steps.toSeq, seqs)
  }

  /** BPE ENCODER over the trained merges: segment every dict word with
    * the final merge state, then join the segmentation back onto the
    * corpus word stream — tokenization cost at corpus scale is one
    * word explode plus one dict-keyed join, never a per-document
    * re-run of the merge machinery. Emits per-document subtoken
    * counts and the chars-per-token compression the learned vocab
    * buys (the metric a tokenizer is judged by). Self-contained for
    * the oracle (training re-runs inside the query); a production
    * pipeline persists the dict segmentation like any model artifact. */
  def bpeEncode(documents: DataFrame, merges: Int = BpeMerges): DataFrame = {
    val seqs = bpeLoop(documents, merges)._2
    documents
      .select(col("doc_id"), explode(TextPrep.wordsCol).as("word"))
      .filter(col("word") =!= "")
      .join(seqs.select(col("word"), size(col("syms")).cast("long").as("n_sub")),
        "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** Per-source token-mass concentration: the Gini coefficient of
    * token counts across each source's documents —
    * G = (2·Σ i·y₍ᵢ₎)/(n·Σy) − (n+1)/n over ascending-sorted counts.
    * A high-Gini source packs its mass into few giant documents
    * (crawl artifacts, concatenated dumps), a signal that per-doc
    * quality sampling will see a very different corpus than
    * token-weighted training does. All sums are exact integers
    * (rank·count products in BIGINT); the two divisions are the final
    * IEEE ops. Scale shape: one per-doc projection, a PER-SOURCE rank
    * window (partitioned — no global sort), one aggregate. */
  def giniBySource(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = documents.select(col("source"),
      size(TextPrep.wordsCol).cast("long").as("n_toks"))
    val ranked = perDoc.withColumn("i",
      row_number().over(Window.partitionBy("source")
        .orderBy(col("n_toks").asc)).cast("long"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("i") * col("n_toks")).as("iy"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        ((lit(2.0) * col("iy").cast("double")) /
          (col("n_docs").cast("double") * col("total_tokens").cast("double")) -
          (col("n_docs") + 1L).cast("double") / col("n_docs").cast("double"))
          .as("gini"))
      .orderBy("source")
  }

  /* Rank ties (equal n_toks) get arbitrary i within the tie run, but
   * Σ i·y over a tie run is invariant: the i values are a fixed rank
   * set and y is constant inside the run — so the Gini is
   * deterministic without a tie-break column. */
  val sqlGiniBySource: String = {
    val w = TextPrep.sqlWords
    s"""WITH pd AS (
          SELECT source, CAST(len($w) AS BIGINT) AS n_toks FROM documents),
        r AS (
          SELECT source, n_toks,
            CAST(row_number() OVER (
              PARTITION BY source ORDER BY n_toks ASC) AS BIGINT) AS i
          FROM pd),
        g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS total_tokens,
            CAST(sum(i * n_toks) AS BIGINT) AS iy
          FROM r GROUP BY 1)
        SELECT source, n_docs, total_tokens,
          (2.0 * CAST(iy AS DOUBLE))
            / (CAST(n_docs AS DOUBLE) * CAST(total_tokens AS DOUBLE))
            - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gini
        FROM g ORDER BY source"""
  }

  /** Tokenizer-equity report: per language, the trained tokenizer's
    * FERTILITY (BPE tokens emitted per word) and compression
    * (chars per token) — the standard multilingual-tokenizer fairness
    * measurement (a language with high fertility pays more sequence
    * length per sentence, so its effective context and training mix
    * shrink). Same dict join as [[bpeEncode]], rolled up by `lang`
    * instead of doc — the per-word segmentation is corpus-bounded
    * (dict-sized), the rollup is one agg over the word stream. */
  def bpeFertility(documents: DataFrame, merges: Int = BpeMerges): DataFrame = {
    val seqs = bpeLoop(documents, merges)._2
    documents
      .select(col("lang"), explode(TextPrep.wordsCol).as("word"))
      .filter(col("word") =!= "")
      .join(seqs.select(col("word"), size(col("syms")).cast("long").as("n_sub")),
        "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  def sqlBpeFertility(merges: Int = BpeMerges): String =
    s"""WITH ${sqlBpeCtes(merges)},
        cw AS (
          SELECT lang, word FROM (
            SELECT lang, unnest(${TextPrep.sqlWords}) AS word FROM documents)
          WHERE word <> ''),
        enc AS (
          SELECT lang, word, CAST(len(syms) AS BIGINT) AS n_sub
          FROM cw JOIN s$merges USING (word))
        SELECT lang,
          CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
          CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility,
          CAST(sum(length(word)) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE)
            AS chars_per_token
        FROM enc GROUP BY 1 ORDER BY 1"""

  /** Tokenizer INVERTIBILITY gate: for every dict word, concatenating
    * its BPE segmentation must reproduce the word exactly — the
    * lossless-segmentation property a trainer bug (dropped char,
    * doubled merge, off-by-one in the pair rewrite) breaks first.
    * One row per dict word with its subtoken count and the roundtrip
    * verdict; BOTH engines run their own trainer, so a divergence in
    * either segmenter surfaces as a row-level hash mismatch, not just
    * a count drift. Dict-sized output (vocabulary, not corpus). */
  def bpeRoundtrip(documents: DataFrame, merges: Int = BpeMerges): DataFrame = {
    val seqs = bpeLoop(documents, merges)._2
    seqs.select(col("word"),
        size(col("syms")).cast("int").as("n_sub"),
        (expr("concat_ws('', syms)") === col("word")).as("roundtrip_ok"))
      .orderBy("word")
  }

  def sqlBpeRoundtrip(merges: Int = BpeMerges): String =
    s"""WITH ${sqlBpeCtes(merges)}
        SELECT word, CAST(len(syms) AS INTEGER) AS n_sub,
          array_to_string(syms, '') = word AS roundtrip_ok
        FROM s$merges ORDER BY word"""

  def sqlBpeTrain(merges: Int = BpeMerges): String = {
    val unions = (1 to merges).map { t =>
      s"SELECT CAST($t AS INTEGER) AS step, ba AS a, bb AS b, bm AS merged, pcnt AS pair_count FROM best$t"
    }.mkString("\n          UNION ALL ")
    s"""WITH ${sqlBpeCtes(merges)}
        SELECT * FROM (
          $unions)
        ORDER BY step"""
  }

  def sqlBpeEncode(merges: Int = BpeMerges): String =
    s"""WITH ${sqlBpeCtes(merges)},
        cw AS (
          SELECT doc_id, word FROM (
            SELECT doc_id, unnest(${TextPrep.sqlWords}) AS word FROM documents)
          WHERE word <> ''),
        enc AS (
          SELECT doc_id, word, CAST(len(syms) AS BIGINT) AS n_sub
          FROM cw JOIN s$merges USING (word))
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
          CAST(sum(length(word)) AS BIGINT) AS n_chars,
          CAST(sum(length(word)) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE)
            AS chars_per_token
        FROM enc GROUP BY 1 ORDER BY 1"""

  /** The shared WITH-body: w0/s0 (dict + char split) plus per-round
    * CTEs pc/best/ex/wa..wf/ff/s for each merge round. */
  private def sqlBpeCtes(merges: Int): String = {
    // mirror bpeLoop's guard: merges = 0 would emit a dangling comma
    // after s0 and an empty UNION body — a syntax error that only
    // surfaces when the oracle executes the string
    require(merges >= 1, s"BPE needs at least one merge round, got $merges")
    val iterCtes = (1 to merges).map { t =>
      s"""pc$t AS (
            SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
              SELECT cnt, unnest(syms[1:len(syms)-1]) AS a, unnest(syms[2:len(syms)]) AS b
              FROM s${t - 1} WHERE len(syms) >= 2)
            GROUP BY 1, 2),
          best$t AS (SELECT a AS ba, b AS bb, a || b AS bm, pcnt
                     FROM pc$t ORDER BY pcnt DESC, a, b LIMIT 1),
          ex$t AS (
            SELECT word, cnt, ba, bb, bm,
              unnest(generate_series(1, len(syms))) AS p, unnest(syms) AS s
            FROM s${t - 1} LEFT JOIN best$t ON TRUE),
          wa$t AS (SELECT *, COALESCE(s = ba AND
              lead(s) OVER (PARTITION BY word ORDER BY p) = bb, FALSE) AS occ
            FROM ex$t),
          wb$t AS (SELECT *, sum(CASE WHEN occ THEN 1 ELSE 0 END)
              OVER (PARTITION BY word ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM wa$t),
          wc$t AS (SELECT *, CASE WHEN occ THEN p - cum END AS grp FROM wb$t),
          wd$t AS (SELECT *, min(CASE WHEN occ THEN p END)
              OVER (PARTITION BY word, grp) AS runmin
            FROM wc$t),
          we$t AS (SELECT *, occ AND ((p - runmin) % 2 = 0) AS sel FROM wd$t),
          wf$t AS (SELECT *, COALESCE(lag(sel) OVER (PARTITION BY word ORDER BY p),
              FALSE) AS prevsel
            FROM we$t),
          ff$t AS (SELECT word, cnt, p,
              CASE WHEN sel THEN bm WHEN prevsel THEN NULL ELSE s END AS s2
            FROM wf$t),
          s$t AS (SELECT word, cnt, list(s2 ORDER BY p) AS syms
            FROM ff$t WHERE s2 IS NOT NULL GROUP BY 1, 2)"""
    }.mkString(",\n        ")
    s"""w0 AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(${TextPrep.sqlWords}) AS word FROM documents)
          WHERE word <> '' GROUP BY 1),
        s0 AS (
          SELECT word, cnt,
            list_transform(generate_series(1, length(word)),
              i -> substr(word, i, 1)) AS syms
          FROM w0),
        $iterCtes"""
  }
}

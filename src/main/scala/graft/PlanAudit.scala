package graft
import org.apache.spark.sql.SparkSession

/** Physical-plan red-flag sweep over every SparkEntry query: the
  * automated version of "explain everything and look for the shapes
  * that die at 100 TB". Flags:
  *  - CARTESIAN: CartesianProduct (a non-broadcast cross join);
  *  - BNLJ: BroadcastNestedLoopJoin (fine for single-row broadcast
  *    aggregates, fatal if either side is corpus-sized — review hits);
  *  - UNPART_WINDOW: a Window whose child exchange is
  *    SinglePartition — the whole input on one partition;
  *  - LOWCARD_WINDOW (round 11, VERDICT r10 task 6): a Window whose
  *    partition spec references ONLY declared low-cardinality columns
  *    (lang/source/status/type/currency) — the hidden form of the
  *    unbounded partition: the key exists, but a handful of values
  *    means one value's entire corpus share funnels through a single
  *    window task (the q_pack_sequences defect round 10 had to find
  *    by hand). A window keyed on (lang, bucket) does NOT flag —
  *    any non-low-card column bounds the partition.
  * Plan shapes only, no execution — runs at sf0.001 in seconds.
  *
  * This is a regression GATE, not a report: every flag must be in
  * [[allowlist]] (the declared scale trades documented in SCALE.md
  * §"Automated plan audit"), or the main exits non-zero and
  * `PlanAuditSpec` fails. Adding an operator that introduces a new
  * CARTESIAN/BNLJ/UNPART_WINDOW therefore breaks the build until the
  * shape is fixed or explicitly declared here next to its rationale. */
object PlanAudit {

  /** query → flags allowed there, with the one-line reason a reviewer
    * needs. Two classes:
    *  - BNLJ on tiny-broadcast crossJoins: single-row corpus totals /
    *    cutpoint rows / KB-sized sketches / √n centroid frames joined
    *    onto every row — broadcast by construction, scale-safe;
    *  - declared EXACT BASELINES: inherently O(n²) or single-partition
    *    ground-truth twins of scale-safe queries in the same suite
    *    (q_cosine_topk/q_embed_neardup → q_ann_ivf/q_embed_lsh/
    *    q_adc_topk; q_label_purity → q_label_purity_ann;
    *    q_quality_deciles → q_quality_deciles_approx). */
  private val baseAllowlist: Map[String, Set[String]] = Map(
    // --- declared exact baselines (scale twin in parentheses) ---
    "q_cosine_topk" -> Set("BNLJ"),        // all-pairs kNN (q_ann_ivf, q_adc_topk)
    "q_embed_neardup" -> Set("BNLJ"),      // all-pairs cosine (q_embed_lsh)
    "q_label_purity" -> Set("BNLJ"),       // all-pairs purity (q_label_purity_ann)
    "q_quality_deciles" -> Set("UNPART_WINDOW"), // exact ntile (…_approx)
    // the declared sequential-window baseline of q_pack_scalable
    // (bit-equal output, unit-pinned): its per-lang cumulative window
    // IS the hidden unbounded partition the scalable form removes —
    // kept as the oracle form, weak by design (SCALE.md round 10)
    "q_pack_sequences" -> Set("LOWCARD_WINDOW"),
    // exact Gini needs the full per-source rank-sum BY DEFINITION
    // (Σ i·y over every doc) — the declared exact-statistic class
    // (q_quality_deciles' exact-ntile rationale); the scale path is a
    // binned Lorenz approximation, not written because the exact form
    // is the oracle anchor
    "q_gini_sources" -> Set("LOWCARD_WINDOW"),
    // window over the per-DAY aggregate (rows = #days) — benign at any
    // corpus size; input is already corpus-reduced
    "q_volume_anomaly" -> Set("UNPART_WINDOW"),
    // --- tiny-broadcast crossJoins (single-row / sketch / √n frames) ---
    "q_adc_topk" -> Set("BNLJ"),           // codebook + 512-row LUT
    "q_ann_ivf" -> Set("BNLJ"),            // √n centroid frame
    "q_bigram_surprisal" -> Set("BNLJ"),   // corpus total row
    "q_bm25_topk" -> Set("BNLJ"),          // query-side stats row
    "q_cluster_quality" -> Set("BNLJ"),    // √n centroid frame
    "q_cms_topwords" -> Set("BNLJ"),       // one CMS sketch row
    "q_corpus_mix" -> Set("BNLJ"),         // corpus total row
    "q_hard_negatives" -> Set("BNLJ"),     // √n centroid frame
    "q_heavy_hitters" -> Set("BNLJ"),      // one MG sketch row
    "q_incremental_agg" -> Set("BNLJ"),    // one max-day cutoff row
    "q_keywords" -> Set("BNLJ"),           // corpus doc-count row
    "q_known_item" -> Set("BNLJ"),         // same corpus doc-count row
    "q_label_purity_ann" -> Set("BNLJ"),   // √n centroid frame
    "q_label_suspects" -> Set("BNLJ"),     // √n centroid frame (same bucketed shape)
    "q_length_histogram" -> Set("BNLJ"),   // one total row
    "q_mixture_sample" -> Set("BNLJ"),     // per-lang rate rows
    "q_positive_pairs" -> Set("BNLJ"),     // √n centroid frame
    "q_pq_codes" -> Set("BNLJ"),           // 16-row codebook frames
    "q_quality_deciles_approx" -> Set("BNLJ"), // one cutpoint row
    "q_semantic_dedup" -> Set("BNLJ"),     // √n centroid frame
    "q_source_divergence" -> Set("BNLJ"),  // corpus total row
    "q_drift_words" -> Set("BNLJ"),        // corpus total row
    "q_temperature_mix" -> Set("BNLJ"),    // per-lang weight rows
    "q_pagerank" -> Set("BNLJ"),           // single-row node-count frame per iteration
    // recall evaluation harness: sampled-query × corpus ground truth is
    // the DEFINITION of the measurement (q = fixed eval budget)
    "q_ivf_recall" -> Set("BNLJ"),
    // (q_mrl_recall needed this until round 12: the truncation eval
    // now scores over LSH bucket candidates — equi-joins only)
    "q_bpe_train" -> Set("BNLJ"),          // single-row best-pair frame per merge round
    "q_bpe_encode" -> Set("BNLJ"),         // same loop: single-row best-pair frames
    "q_skew_report" -> Set("BNLJ"),        // single-row totals frame
    "q_hll_union" -> Set("BNLJ"),          // single-row exact-total companion frame
    "q_dsir_weights" -> Set("BNLJ"),       // single-row totals + median-weight frames
    "q_cluster_text_quality" -> Set("BNLJ"), // √n centroid frame (assignment pass)
    // k-class model dim (k = #labels, bounded model state like k-means
    // centroids) crossJoined onto the token explode — NB scoring is
    // O(tokens × k) by definition
    "q_nb_classify" -> Set("BNLJ"),
    "q_nb_confusion" -> Set("BNLJ"),
    "q_nb_crossval" -> Set("BNLJ"),        // (K·k)-row fold×class model dim
    "q_nb_auc" -> Set("BNLJ"),             // same k-class model dim crossJoin
    "q_nb_margin" -> Set("BNLJ"),          // same k-class model dim crossJoin
    "q_quality_classifier" -> Set("BNLJ"), // same 2-class model dim crossJoin
    "q_good_turing" -> Set("BNLJ"),        // single-row token-total frame
    "q_lid_agreement" -> Set("BNLJ"),      // single-row kappa-stats frame
    "q_triangles" -> Set("BNLJ"),          // single-row census totals join
    "q_cuped" -> Set("BNLJ"),              // single-row pooled-moments frame
    // waterfilling rank/prefix windows run over the SOURCE-level
    // aggregate frame (rows = #sources), same class as q_volume_anomaly's
    // day frame; the single-row totals/water frames broadcast
    "q_unimax_mix" -> Set("BNLJ", "UNPART_WINDOW"),
    // rank + tau extraction run on the TakeOrdered (k+1)-row frame —
    // constant-sized at any corpus; single-row tau broadcast
    "q_priority_sample" -> Set("BNLJ", "UNPART_WINDOW"),
    // recall evaluation harness: the exact all-pairs truth side is the
    // DEFINITION of the measurement (bounded, requireBaselineSized)
    "q_lsh_recall" -> Set("BNLJ"),
    // pairwise crossJoin of the #sources-row KB-sketch frame — the
    // broadcast-sized postprocess that REPLACES the corpus pair join
    "q_theta_overlap" -> Set("BNLJ"),
    "q_blocking_quality" -> Set("BNLJ"),   // single-row corpus-count frame
    // single-row dropped-block stats frame broadcast onto the pairs
    "q_entity_resolution_capped" -> Set("BNLJ"),
    // same single-row stats frame riding the capped clustering's
    // output (round 10: the drop accounting is no longer discarded)
    "q_entity_clusters_capped" -> Set("BNLJ"),
    // same trade: single-row dropped-bucket stats broadcast onto the
    // phash near-dup pairs (see SCALE.md, capped hot-band guardrail)
    "q_phash_pairs" -> Set("BNLJ")
  )

  /** DECLARED corpus-resident caches (round 13, VERDICT r12 task 4a):
    * queries whose plan caches ONE NARROW ROW PER CORPUS ELEMENT for
    * multi-branch reuse — the broadened CORPUS_CACHE detector (no
    * token-explode requirement) sees them all; they are declared HERE
    * with their rationale instead of passing by accident of grain
    * (the r12 verdict's finding). Two classes, both of which a
    * production deployment replaces with a persisted artifact so the
    * cache drops out of the plan:
    *  - the ANN VECTOR INDEX: `Similarity.prepared()` normalizes
    *    (vec_id, v, nrm) once and every bucket table, candidate join
    *    side, and verification branch reads it — at 10⁹ vectors this
    *    IS the ANN serving set, and the streaming path
    *    (semanticDedupQuery) persists the identical frame on disk
    *    (q_embed_lsh*, q_semantic_*, q_ann_ivf, q_pq/adc, recalls,
    *    cluster/purity/negatives, image/audio/video ANN);
    *  - the per-document STATS/SIGNATURE LEDGER: (doc_id, n_tokens,
    *    quality_score, fingerprint) / minhash-shingle signatures /
    *    phash bands, computed by one decode-or-tokenize pass and read
    *    by several funnel stages or both sides of a banded candidate
    *    join — the warehouse's materialized columnar table at scale
    *    (q_curation_funnel, q_decontaminate*, q_jaccard*,
    *    q_minhash_est, q_simhash_pairs, q_dup_spans/q_strip_dup_spans,
    *    q_containment, q_novelty, q_memorization_risk, q_dsir_weights,
    *    q_phash_pairs above). */
  private val corpusResidentCache: Set[String] = Set(
    // vector-index class
    "q_adc_topk", "q_ann_ivf", "q_audio_ann", "q_cluster_quality",
    "q_cluster_text_quality", "q_embed_lsh", "q_embed_lsh_mp",
    "q_embed_lsh_topk", "q_hard_negatives", "q_image_ann", "q_ivf_recall",
    "q_label_purity_ann", "q_label_suspects", "q_lsh_recall",
    "q_memorization_risk", "q_mrl_recall", "q_positive_pairs", "q_pq_codes",
    "q_semantic_decontam", "q_semantic_dedup", "q_video_ann",
    // per-document stats/signature ledger class
    "q_containment", "q_curation_funnel", "q_decontaminate",
    "q_decontaminate_bloom", "q_dsir_weights", "q_dup_spans",
    "q_jaccard_capped", "q_jaccard_pairs", "q_minhash_est", "q_novelty",
    "q_simhash_pairs", "q_strip_dup_spans", "q_phash_pairs")

  /** The gate's effective allowlist: the per-query flag declarations
    * plus CORPUS_CACHE for every declared corpus-resident cache. */
  val allowlist: Map[String, Set[String]] =
    corpusResidentCache.foldLeft(baseAllowlist) { (m, q) =>
      m.updated(q, m.getOrElse(q, Set.empty[String]) + "CORPUS_CACHE")
    }

  /** Columns whose domain is a handful of values in this schema —
    * a window partitioned ONLY by these is an unbounded partition at
    * corpus scale no matter how legitimate the key looks. */
  val lowCardCols: Set[String] =
    Set("lang", "source", "status", "type", "transaction_type", "currency")

  /** Grouping keys that are themselves corpus-grain row ids: an
    * aggregate keyed by one of these does NOT reduce the corpus (one
    * output row per document/vector), so it must not exempt a
    * low-card window above it — the ADVICE r11 over-broad-exemption
    * class (a groupBy(doc_id) feeding a per-lang window is still an
    * unbounded partition). */
  val corpusGrainKeys: Set[String] =
    Set("doc_id", "vec_id", "query_id", "cand_id", "event_id")

  /** `Window [exprs], [partitionCols], [orderCols]` — the two trailing
    * bracket groups of a physical Window line (inner groups carry no
    * square brackets; the expression head may, so anchor at the END).
    * Spark ALSO prints two-group forms when one spec is absent —
    * `Window [exprs], [partitionCols]` (no order) and
    * `Window [exprs], [orderCols]` (no partition: a GLOBAL window) —
    * which round 11's single 3-group regex silently skipped; 15
    * registered queries' windows were invisible to the LOWCARD gate
    * through that hole (round 13, VERDICT r12 task 4b). The two forms
    * disambiguate by content: order entries always render as
    * `col ASC|DESC NULLS FIRST|LAST`, partition entries never do.
    * A Window line NONE of the forms parse now raises the
    * `WINSPEC_PARSE` flag, which fails the gate unless allowlisted —
    * loud, not documented-silent. */
  private val WinSpec = """.*\], \[([^\[\]]*)\], \[[^\[\]]*\]\s*$""".r
  private val WinSpec2 = """.*\], \[([^\[\]]*)\]\s*$""".r
  private def isOrderSpec(grp: String): Boolean =
    grp.contains(" ASC NULLS ") || grp.contains(" DESC NULLS ")
  private def splitCols(grp: String): Seq[String] =
    grp.split(",").toSeq.map(_.trim.takeWhile(_ != '#')).filter(_.nonEmpty)

  /** PARTITION columns of a physical Window line: Some(cols) when a
    * print form parsed (empty = global / unpartitioned window), None
    * when unparseable (→ WINSPEC_PARSE). WinSpec must be tried first:
    * the 2-group regex would match a 3-group line's trailing ORDER
    * group. */
  private def winPartitionCols(l: String): Option[Seq[String]] = {
    // a line with two `], [` separators is structurally 3-group; if
    // the 3-group regex still failed (a bracketed expression inside a
    // spec group), it must land on WINSPEC_PARSE — not be misread by
    // the 2-group fallback as an order-only global window
    val seps = "\\], \\[".r.findAllIn(l).length
    l match {
      case WinSpec(parts) => Some(splitCols(parts))
      case WinSpec2(grp) if seps == 1 =>
        if (isOrderSpec(grp)) Some(Seq.empty) else Some(splitCols(grp))
      case _ => None
    }
  }

  /** Child markers in physical-plan strings are '+-' AND ':-' (the
    * left child of a binary node prints ':-'; ADVICE r12: matching
    * only '+-' truncated subtree walks at the first join child). */
  private def markerCol(l: String): Int = {
    val a = l.indexOf("+-"); val b = l.indexOf(":-")
    if (a < 0) b else if (b < 0) a else math.min(a, b)
  }

  /** The plan lines strictly beneath line i in the operator tree. */
  private def subtreeOf(lines: Array[String], i: Int): Array[String] = {
    val col = markerCol(lines(i))
    lines.drop(i + 1).takeWhile(l => markerCol(l) > col)
  }

  /** Is this subtree row-bounded by a limit operator?
    * (WindowGroupLimit deliberately does NOT count: it caps rows per
    * window KEY, not the frame's corpus growth.) */
  private def limitBounded(subtree: Array[String]): Boolean =
    subtree.exists(l =>
      l.contains("TakeOrderedAndProject(limit=") ||
        l.contains("GlobalLimit") || l.contains("LocalLimit") ||
        l.contains("CollectLimit"))

  /** keys=[...] of a physical aggregate line. */
  private val AggKeys = """.*Aggregate\(keys=\[(.*?)\], functions.*""".r

  /** Does this aggregate line CORPUS-REDUCE its input — i.e. group by
    * keys none of which is a corpus-grain row id? A GLOBAL aggregate
    * (keys=[], one output row — funnel totals, sketch builds) is
    * maximal reduction and counts (round 13: the round-12 nonEmpty
    * requirement mis-flagged cached single-row totals frames once the
    * CORPUS_CACHE gate stopped requiring a Generate). Only such an
    * aggregate may exempt a low-card window or a corpus cache above
    * it. */
  private def aggReducesCorpus(l: String): Boolean = l match {
    case AggKeys(ks) => !corpusGrainKeys.exists(k => ks.contains(k + "#"))
    case _ => false
  }

  /** CORPUS_CACHE (round 12, VERDICT r11 task 6; BROADENED round 13,
    * VERDICT r12 task 4a): an InMemoryRelation whose cached subtree
    * scans a corpus table (documents/embeddings parquet) with no
    * fixed-budget bound (TakeOrdered / a Limit operator) anywhere in
    * the subtree and no corpus-reducing TOPMOST aggregate — a
    * `.cache()` that materializes a corpus-scale artifact (spilled at
    * 100 TB) instead of a probe-bounded or corpus-reduced frame. The
    * round-12 form additionally required a token-grain
    * `Generate explode(split(` producer, which is exactly the
    * q_known_item defect class but misses corpus-scale caches at
    * non-token grain — a mapPartitions decode frame, a per-document
    * ledger — so the Generate requirement is GONE: any unbounded
    * unreduced corpus cache flags, and the legitimate
    * materialized-index / corpus-resident-artifact caches are
    * DECLARED in [[allowlist]] with their rationale instead of
    * passing by accident of grain (the r12 verdict's "exempt by
    * accident of grain, not by declaration").
    *
    * A cache whose TOPMOST aggregate (first aggregate line of the
    * cached subtree in print order — the operator that fixes the
    * cached frame's grain) corpus-reduces ([[aggReducesCorpus]]) is
    * exempt: a per-(source, word) or per-(class, word) counts cache
    * is vocabulary grain, the standard sublinear model table.
    * REMAINING KNOWN FALSE-NEGATIVE CLASSES (documented, not silent):
    * a corpus-scale cache whose subtree contains an unrelated limit;
    * a reducing aggregate printed first from a SIBLING branch of the
    * actual cache spine. */
  private def corpusCache(lines: Array[String]): Boolean =
    lines.indices.exists { i =>
      lines(i).contains("InMemoryRelation") && {
        val subtree = subtreeOf(lines, i)
        val corpusScan = subtree.exists(l => l.contains("FileScan") &&
          (l.contains("documents.parquet") || l.contains("embeddings.parquet")))
        val grainFixedByAgg = subtree.find(_.contains("Aggregate("))
          .exists(aggReducesCorpus)
        corpusScan && !limitBounded(subtree) && !grainFixedByAgg
      }
    }

  /** Audit one query's executed plan string → flags found. */
  def flagsOf(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    // two UNPART detectors, belt and suspenders: the round-7 exchange
    // lookahead (catches a SinglePartition exchange feeding any
    // window), plus the round-13 SPEC-based form — an EMPTY partition
    // spec is a single-partition window BY CONSTRUCTION, whatever the
    // exchange layout (the q_rrf_rank class the lookahead missed) —
    // exempt only when the window's own subtree is limit-bounded (a
    // global rank over a TakeOrdered top-N frame is constant-sized)
    val unpartWindow = lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Window ") &&
        (i + 1 until math.min(i + 5, lines.length)).exists(j =>
          lines(j).contains("Exchange SinglePartition"))
    } || lines.indices.exists { i =>
      val l = lines(i)
      l.contains("Window [") && !l.contains("WindowGroupLimit") &&
        winPartitionCols(l).exists(_.isEmpty) &&
        !limitBounded(subtreeOf(lines, i))
    }
    val lowcardWindow = lines.indices.exists { i =>
      val l = lines(i)
      l.contains("Window [") && !l.contains("WindowGroupLimit") &&
        winPartitionCols(l).exists { cols =>
          cols.nonEmpty && cols.forall(lowCardCols) &&
          // rank-limited windows are exempt: InferWindowGroupLimit
          // plants a WindowGroupLimit beneath rank/row_number-≤-k
          // windows, so each map partition forwards AT MOST k rows
          // per key to the shuffle — bounded state by construction,
          // the same guarantee the bounded-heap aggregate gives
          !(i + 1 < lines.length &&
            lines(i + 1).contains("WindowGroupLimit")) && {
            // AGGREGATE-FED windows are exempt: a window over a
            // groupBy output is bounded by the aggregate's key
            // cardinality (per-lang windows over per-(lang, bucket)
            // totals, per-source ranks over per-(source, word)
            // counts), not by the corpus. Scan the child chain down
            // to its first leaf/scan; a CORPUS-REDUCING aggregate
            // there (round 12, ADVICE r11: keyed, and by no
            // corpus-grain row id — a groupBy(doc_id) emits one row
            // per document and bounds nothing) means the input was
            // already corpus-reduced.
            val tail = (i + 1 until math.min(i + 10, lines.length))
              .map(lines)
            val leaf = tail.indexWhere(t =>
              t.contains("Scan") || t.contains("Window ["))
            val chain = if (leaf >= 0) tail.take(leaf) else tail
            !chain.exists(aggReducesCorpus)
          }
        }
    }
    // fail-loud flag for Window lines NO spec form parses (round 13,
    // VERDICT r12 task 4b): a silently-skipped window was the one
    // undetectable hole in the LOWCARD gate
    val winSpecUnparsed = lines.exists { l =>
      l.contains("Window [") && !l.contains("WindowGroupLimit") &&
        winPartitionCols(l).isEmpty
    }
    Seq(
      "CARTESIAN" -> plan.contains("CartesianProduct"),
      "BNLJ" -> plan.contains("BroadcastNestedLoopJoin"),
      "UNPART_WINDOW" -> unpartWindow,
      "LOWCARD_WINDOW" -> lowcardWindow,
      "CORPUS_CACHE" -> corpusCache(lines),
      "WINSPEC_PARSE" -> winSpecUnparsed
    ).collect { case (f, true) => f }
  }

  /** Sweep every query; returns name → flags (errors → ERROR:msg flag). */
  def audit(spark: SparkSession, sf: String): Seq[(String, Seq[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val flags =
        try flagsOf(fn(spark, sf).queryExecution.executedPlan.toString)
        catch { case e: Throwable =>
          Seq("ERROR:" + Option(e.getMessage).getOrElse("").take(80))
        }
      // plan construction caches nothing intentionally, but fits inside
      // some builders cache; sweep so 100+ plans don't accumulate
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      name -> flags
    }

  /** Flags NOT covered by the allowlist (the gate condition). */
  def violations(results: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
    results.flatMap { case (name, flags) =>
      val extra = flags.filterNot(allowlist.getOrElse(name, Set.empty))
      if (extra.nonEmpty) Some(name -> extra) else None
    }

  def main(args: Array[String]): Unit = {
    // the shared engine session: the audit sees the plans that the
    // bench times and the oracle checks
    val spark = graft.util.Sessions.build("planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val results = audit(spark, sf)
    results.foreach { case (name, flags) =>
      println(f"$name%-28s ${if (flags.isEmpty) "ok" else flags.mkString(",")}")
    }
    val bad = violations(results)
    println(s"flagged: ${results.count(_._2.nonEmpty)}  violations: ${bad.size}")
    bad.foreach { case (n, f) => println(s"VIOLATION $n ${f.mkString(",")}") }
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}

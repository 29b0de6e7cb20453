package graft

import org.apache.spark.sql.functions._
import graft.llm.{Curate, Dedup, Multimodal, Similarity, TextStats}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today", "en", "s0", 49L),
    (1L, "the quick brown fox jumps over the lazy dog today", "en", "s1", 49L), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat today", "en", "s2", 49L), // near dup of 0
    (3L, "completely different words here about spark engines", "en", "s3", 52L),
    (4L, "tiny doc", "de", "s4", 8L) // < 3 words after split? 2 words → filtered
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exactDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out === Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("jaccard pairs finds the near-dup and the exact dup") {
    val pairs = Dedup.jaccardPairs(docs, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("capped jaccard bounds the hot-shingle bucket and lower-bounds exact") {
    // 30 docs all sharing one boilerplate sentence (a df=30 shingle
    // set), plus one genuine near-dup pair differing by a word
    val boiler = "subscribe to our newsletter for updates today"
    val skewed = ((0 until 30).map { i =>
      (i.toLong, s"$boiler unique document number token$i content", "en", s"s$i", 60L)
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta", "en", "sa", 46L),
      (101L, "alpha beta gamma delta epsilon zeta eta iota", "en", "sb", 45L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    val cap = 10
    // bucket bound: after the stop-shingle filter every posting list is
    // ≤ cap rows, so the join's worst bucket is cap² whatever the corpus
    val s = graft.llm.TextPrep.shingleSets(skewed)
    val keep = s.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
    val maxDf = keep.agg(max("df")).collect().head.getLong(0)
    assert(maxDf <= cap)
    // and the uncapped corpus genuinely HAS a hot shingle above the cap
    val hotDf = s.groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(max("df")).collect().head.getLong(0)
    assert(hotDf === 30L)
    val exact = Dedup.jaccardPairs(skewed, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.jaccardPairsCapped(skewed, 0.5, cap).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the genuine near-dup (rare shingles only) survives the cap exactly
    assert(capped.contains((100L, 101L)))
    assert(capped((100L, 101L)) === exact((100L, 101L)))
    // boilerplate-evidence-only pairs are dropped, and every surviving
    // score is a lower bound on (here: equal to or below) the exact one
    capped.foreach { case (k, v) => assert(v <= exact(k) + 1e-12) }
    assert(capped.size <= exact.size)
  }

  test("capped jaccard is a strict refinement on randomized corpora") {
    // seeded pseudo-corpora: whatever the word distribution, the capped
    // result's pairs must be a SUBSET of the exact result's (capped
    // intersection counts can only shrink, so a pair can clear the
    // threshold only if the exact pair does) with never-inflated scores
    val rnd = new scala.util.Random(7)
    val vocabs = Seq(
      (1 to 6).map(i => s"w$i"),            // tiny vocab → hot shingles
      (1 to 40).map(i => s"word$i"))        // spread vocab → rare shingles
    vocabs.zipWithIndex.foreach { case (vocab, vi) =>
      val corpus = (0 until 25).map { i =>
        val words = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, words.mkString(" "), "en", s"s$i", words.mkString(" ").length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val exact = Dedup.jaccardPairs(corpus, 0.3).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val capped = Dedup.jaccardPairsCapped(corpus, 0.3, maxPosting = 5).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      capped.foreach { case (k, v) =>
        assert(exact.contains(k), s"vocab$vi: capped pair $k absent from exact")
        assert(v <= exact(k) + 1e-12, s"vocab$vi: capped score inflated at $k")
      }
    }
  }

  test("minhash LSH candidates recover exact duplicates with jaccard 1.0") {
    val out = Dedup.minhashLshPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) === 1.0)
  }

  test("minhash LSH over a persisted shingle index matches the direct path") {
    val dir = java.nio.file.Files.createTempDirectory("shingle_idx").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      Dedup.writeShingleIndex(docs, path)
      val direct = Dedup.minhashLshPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val indexed = Dedup.minhashLshPairsFromIndex(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(indexed === direct)
      assert(indexed.nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("decontaminate flags train docs overlapping the eval slice") {
    // doc 0 (doc_id % 50 == 0) is the eval side; doc 4 is unshingleable
    val rows = Curate.decontaminate(docs).collect()
    val out = rows.map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4)))).toMap
    // EVERY training doc gets a row — including the unshingleable doc 4
    // (absence must never be confusable with "checked, clean")
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === ((8L, true))) // exact dup of the eval doc: all 8 shingles
    assert(out(2L)._1 === 6L && out(2L)._2) // near dup: 6 of 8 shingles collide
    assert(out(3L) === ((0L, false))) // disjoint text
    assert(out(4L) === ((0L, false))) // too short to shingle: pinned clean
    // pinned: shingle-less doc has n_shingles 0 and a NULL fraction
    val short = rows.find(_.getLong(0) == 4L).get
    assert(short.getLong(1) === 0L && short.isNullAt(3))
  }

  test("dup clusters: exact+near dups share a component, rest singletons") {
    val out = Dedup.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0/1 are exact dups (jaccard 1.0) → same cluster, min id 0
    assert(out(0L) === 0L && out(1L) === 0L)
    // disjoint docs are their own representatives
    assert(out(3L) === 3L && out(4L) === 4L)
    // labels are component minima: every cluster_id is a member doc_id
    assert(out.values.toSet.subsetOf(out.keySet))
    // transitivity: near-dup of an exact dup lands in the same cluster
    assert(out(2L) === out(0L) || out(2L) === 2L) // edge exists iff LSH banded them
  }

  test("incremental minhash dedup: only pairs touching the new batch") {
    val dir = java.nio.file.Files.createTempDirectory("incr_idx").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      Dedup.writeShingleIndex(docs, path)
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog today", "en", "s10", 49L), // dup of 0/1
        (11L, "entirely novel content unseen by any indexed document", "en", "s11", 53L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Dedup.minhashLshPairsIncremental(spark, path, batch).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // new exact dup pairs with both indexed copies
      assert(out((0L, 10L)) === 1.0 && out((1L, 10L)) === 1.0)
      // NO index-vs-index pair resurfaces
      assert(out.keys.forall { case (a, b) => a >= 10L || b >= 10L })
      // the novel doc pairs with nothing
      assert(!out.keys.exists { case (a, b) => a == 11L || b == 11L })
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("incremental minhash dedup: crash-replay batch emits each pair once") {
    // Replay state: the batch's survivors ALREADY landed in the index
    // (index write committed, stream checkpoint did not). Doc 1 is on
    // both sides; without the verify-frame doc_id dedup each (0,1)-ish
    // pair would match two shingle rows per endpoint → emitted 2–4×.
    val dir = java.nio.file.Files.createTempDirectory("replay_idx").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      Dedup.writeShingleIndex(docs, path)
      val replayed = Seq(
        (1L, "the quick brown fox jumps over the lazy dog today", "en", "s1", 49L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Dedup.minhashLshPairsIncremental(spark, path, replayed).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      val dupKeys = out.groupBy(_._1).filter(_._2.length > 1).keys
      assert(dupKeys.isEmpty, s"replayed batch duplicated pairs: $dupKeys")
      // and the pair itself still verifies exactly once at jaccard 1.0
      assert(out.toMap.get((0L, 1L)).contains(1.0))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("int8 quantization: error bounded by scale/2, zero vector safe") {
    val e = Seq(
      (0L, Seq.fill(64)(0.5f).updated(0, -1.27f)),
      (1L, Seq.fill(64)(0.0f))) // zero vector: scale 0 guard
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(e).collect()
    val r0 = out.find(_.getLong(0) == 0L).get
    val scale = r0.getDouble(1)
    assert(math.abs(scale - 1.27f / 127.0) < 1e-9)
    val q = r0.getString(2).split(",").map(_.toInt)
    assert(q(0) === -127)
    assert(q.drop(1).forall(_ == math.floor(0.5f / scale + 0.5).toInt))
    assert(r0.getDouble(3) <= scale / 2 + 1e-12)
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getDouble(1) === 0.0)
    assert(r1.getString(2).split(",").forall(_ == "0"))
    assert(r1.getDouble(3) === 0.0)
  }

  test("containment pairs: shared substring detected, disjoint docs not") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "unrelated prefix then alpha beta gamma delta epsilon zeta and more"), // contains doc 0's phrase
      (2L, "completely different content with nothing in common whatsoever"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.keySet.contains((0L, 1L)))
    assert(!out.keySet.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("dup rate by source counts redundancy per source") {
    val d = Seq(
      (0L, "same text", "s0"), (1L, "same text", "s0"), (2L, "other", "s0"),
      (3L, "unique here", "s1"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dupRateBySource(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("s0") === ((3L, 2L, 1.0 - 2.0 / 3.0)))
    assert(out("s1") === ((1L, 1L, 0.0)))
  }

  test("PII redaction scrubs emails, phones, ssns and counts matches") {
    val d = Seq((1L, "write to alice.smith+x@corp.example.org or call 555-123-4567, ssn 987-65-4320 ok"))
      .toDF("doc_id", "text")
    val r = d.select(Curate.redactCol(col("text"))).collect().head.getString(0)
    assert(r === "write to <EMAIL> or call <PHONE>, ssn <SSN> ok")
    // no false positives on clean text
    val clean = "just words and 123 numbers 2024-01-01 date"
    assert(Seq((2L, clean)).toDF("doc_id", "text")
      .select(Curate.redactCol(col("text"))).collect().head.getString(0) === clean)
  }

  test("split assignment is deterministic, exhaustive, and stable under growth") {
    val d = Tables.documents(spark, sf())
    val a1 = Curate.splitAssign(d).collect().map(r => (r.getLong(0), r.getString(2)))
    val a2 = Curate.splitAssign(d).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(a1.toSeq === a2.toSeq)
    assert(a1.map(_._2).toSet === Set("train", "validation", "test"))
    // adding documents must not reassign existing ones
    val half = Curate.splitAssign(d.filter(col("doc_id") < 50)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(half.forall { case (id, s) => a1.toMap.apply(id) === s })
    // hash split lands near 80/10/10
    val frac = a1.groupBy(_._2).view.mapValues(_.length.toDouble / a1.length).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9)
  }

  test("stratified sample: deterministic subset honoring per-lang rates") {
    val d = Tables.documents(spark, sf())
    val s1 = Curate.stratifiedSample(d).collect().map(_.getLong(0)).toSeq
    assert(s1 === Curate.stratifiedSample(d).collect().map(_.getLong(0)).toSeq)
    assert(s1.toSet.subsetOf(d.select("doc_id").collect().map(_.getLong(0)).toSet))
    val byLang = Curate.stratifiedSample(d).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en sampled at 10%, others at 30% — en's realized rate must be lower
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    val deRate = byLang.getOrElse("de", 0L).toDouble / totals("de")
    assert(enRate < deRate)
  }

  test("doc chunks: stride overlap, short-tail chunk, single-chunk short docs") {
    val d = Seq(
      (0L, (1 to 95).map(i => s"w$i").mkString(" ")), // 95 words → chunks at 0, 40 (55 left → 50), 80 (15 left)
      (1L, "short doc here"))                         // 3 words → 1 chunk
      .toDF("doc_id", "text")
    val out = Curate.docChunks(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(" ").length, r.getLong(3)))
    val doc0 = out.filter(_._1 == 0L)
    assert(doc0.map(_._2).toSeq === Seq(0L, 1L, 2L))
    assert(doc0.map(_._4).toSeq === Seq(50L, 50L, 15L))
    assert(doc0.map(_._3).toSeq === Seq(50, 50, 15))
    // overlap: chunk 1 starts at word 41 (stride 40)
    val c1 = Curate.docChunks(d).filter(col("doc_id") === 0 && col("chunk_id") === 1)
      .collect().head.getString(2)
    assert(c1.startsWith("w41 "))
    assert(out.filter(_._1 == 1L).toSeq === Seq((1L, 0L, 3, 3L)))
  }

  test("span corruption: non-overlapping in-range spans at the declared mask ratio") {
    val docs = Tables.documents(spark, sf())
    val rows = Curate.spanCorruption(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, spans) =>
      val n = spans.head._5
      val sorted = spans.sortBy(_._3)
      // every span inside the document, lengths in 2..4
      sorted.foreach { case (_, _, start, len, _, _) =>
        assert(start >= 0 && start + len <= n, s"doc $doc span out of range")
        assert(len >= Curate.SpanLenBase &&
          len < Curate.SpanLenBase + Curate.SpanLenMod)
      }
      // non-overlap BY CONSTRUCTION (one span per segment)
      sorted.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0)._3 + w(0)._4 <= w(1)._3, s"doc $doc spans overlap")
      }
      // span count is the declared integer mask budget
      assert(spans.length == (n * Curate.SpanMaskNum / Curate.SpanMaskDen),
        s"doc $doc span count off")
    }
  }

  test("fim split: three positive segment lengths summing to the token count") {
    val docs = Tables.documents(spark, sf())
    val rows = Curate.fimSplit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, n, p, m, s) =>
      assert(p >= 1 && m >= 1 && s >= 1, s"doc $doc degenerate segment")
      assert(p + m + s == n, s"doc $doc lengths do not sum")
    }
  }

  test("sequence packing: contiguous seq ids, span math, shard independence") {
    val d = Seq(
      (0L, (1 to 200).map(_ => "w").mkString(" "), "en"),
      (1L, (1 to 100).map(_ => "w").mkString(" "), "en"), // straddles 256 boundary
      (2L, (1 to 10).map(_ => "w").mkString(" "), "de"))  // separate shard restarts at 0
      .toDF("doc_id", "text", "lang")
    val out = Curate.packSequences(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) === ((0L, 1L)))  // tokens 0-199 in seq 0
    assert(out(1L) === ((0L, 2L)))  // tokens 200-299 span seqs 0 and 1
    assert(out(2L) === ((0L, 1L)))  // de shard packs from 0
  }

  test("keywords: rare terms outrank common ones, stopwords excluded") {
    val d = Seq(
      (0L, "the spark engine spark engine zebra"),
      (1L, "the spark engine common words"),
      (2L, "the spark engine common words"))
      .toDF("doc_id", "text")
    val out = TextStats.keywords(d, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val doc0 = out.filter(_._1 == 0L).map(_._3).toSeq
    // zebra: tf=1, df=1 → salience 3; spark: tf=2, df=3 → salience 2
    assert(doc0.head === "zebra")
    assert(doc0.contains("spark"))
    assert(!out.map(_._3).contains("the")) // stopword gone
    assert(out.groupBy(_._1).values.forall(_.length <= 3))
  }

  test("repetition stats: degenerate docs flagged, diverse docs pass") {
    val d = Seq(
      (0L, "spam spam spam spam spam spam spam spam"),          // pure repetition
      (1L, "every single word here is fully distinct text now"), // diverse
      (2L, "ab"))                                                // 1 word, no 3-grams
      .toDF("doc_id", "text")
    val out = TextStats.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    val (dup0, top0, ok0) = out(0L)
    assert(dup0 > 0.8 && top0 === 1.0 && !ok0)
    val (dup1, top1, ok1) = out(1L)
    assert(dup1 === 0.0 && top1 < 0.2 && ok1)
    // single word: no 3-grams (ratio 0), but top word frac is 1.0 → flagged
    val (dup2, top2, ok2) = out(2L)
    assert(dup2 === 0.0 && top2 === 1.0 && !ok2)
  }

  test("corpus mix: counts and weights sum to one") {
    val out = TextStats.corpusMix(Tables.documents(spark, sf())).collect()
    assert(out.nonEmpty)
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    assert(math.abs(out.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    out.foreach(r => assert(r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("quality top-k matches the row_number ranking per language") {
    val d = Tables.documents(spark, sf())
    val topk = Curate.qualityTopK(d, 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val expected = TextStats.textStats(d)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("quality_score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= 3)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy("lang", "rnk")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(topk === expected)
    // k bounds the per-group output
    assert(topk.groupBy(_._1).values.forall(_.length <= 3))
  }

  test("simhash: identical texts identical hashes; near-dups within small hamming") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    assert(sh(0L) === sh(1L))
    val d02 = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    val d03 = java.lang.Long.bitCount(sh(0L) ^ sh(3L))
    assert(d02 < d03)
  }

  test("simhash banded pairs equal the quadratic same-lang definition") {
    val d = Tables.documents(spark, sf())
    val banded = Dedup.simhashPairs(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Quadratic reference: same-lang all-pairs, exact hamming filter.
    val sh = Dedup.simhash(d)
      .join(d.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"),
        shiftleft(col("simhash_hi"), 32).bitwiseOR(col("simhash_lo")).as("fp"))
    val quad = sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === quad)
  }

  test("native text-hash expressions: null, empty, and short inputs") {
    // null text propagates null through every expression
    val nulls = spark.sql(
      """SELECT shingle_hashes(CAST(NULL AS STRING), 3) AS sh,
         simhash64(CAST(NULL AS STRING)) AS s64,
         winnow_fps(CAST(NULL AS STRING), 8, 4) AS wf""").collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
    // empty / too-short text yields empty shingle + fingerprint sets
    val short = spark.sql(
      """SELECT size(shingle_hashes('', 3).shs) AS a,
         size(winnow_fps('abc', 8, 4)) AS b,
         minhash_sigs(CAST(array() AS ARRAY<BIGINT>),
                      CAST(array() AS ARRAY<BIGINT>), 4) AS c""").collect().head
    assert(short.getInt(0) === 0 && short.getInt(1) === 0)
    assert(short.getSeq[Long](2).isEmpty)
    // simhash of empty text is still defined (votes of the "" word)
    assert(!spark.sql("SELECT simhash64('')").collect().head.isNullAt(0))
    // uppercase folds: shingles of mixed case equal lowercase shingles
    val fold = spark.sql(
      "SELECT shingle_hashes('A B C', 3).shs = shingle_hashes('a b c', 3).shs")
      .collect().head.getBoolean(0)
    assert(fold)
  }

  test("native text-hash expressions reject malformed arguments loudly") {
    // mismatched ha/hb would index off the shorter array — silent
    // garbage on UnsafeArrayData — so the kernel must throw instead
    val e1 = intercept[Exception] {
      spark.sql("SELECT minhash_sigs(array(1L,2L,3L), array(1L), 4)").collect()
    }
    assert(e1.getMessage.contains("equal-length") ||
      String.valueOf(e1.getCause).contains("equal-length"))
    // w = 0 slips past the window-count guard and reads past the gram
    // array; k < 1 similarly — both must fail loudly
    val e2 = intercept[Exception] {
      spark.sql("SELECT winnow_fps('abc', 2, 0)").collect()
    }
    assert(e2.getMessage.contains(">= 1") ||
      String.valueOf(e2.getCause).contains(">= 1"))
  }

  test("char_grams counts code points, not UTF-16 units (non-BMP parity)") {
    // U+1D54F is a surrogate PAIR in UTF-16 but ONE character to
    // DuckDB's substr — the kernel must gram by code point or the
    // trigram features diverge from the oracle outside the BMP
    val grams = spark.sql("SELECT char_grams('𝕏ab', 2)")
      .collect().head.getSeq[String](0)
    assert(grams === Seq("𝕏a", "ab"))
  }

  test("session extension exposes every custom function to SQL text, new sessions too") {
    // no registration call: the test session names GraftExtensions in
    // spark.sql.extensions, as util.Sessions.build does, and Spark
    // applies it to every session state it builds
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ===
      classOf[graft.functions.GraftExtensions].getName)
    Seq(spark, spark.newSession()).foreach(exposesEveryFunction)
  }

  private def exposesEveryFunction(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.GraftFunctions.all.foreach { case (n, _) =>
      assert(spark.catalog.functionExists(n), n)
    }
    assert(spark.sql("SELECT dot_d(array(1.0D,2.0D), array(3.0D,4.0D))")
      .collect().head.getDouble(0) === 11.0)
    assert(spark.sql("SELECT simhash64('hello world')").collect().head.getLong(0) ===
      spark.sql("SELECT simhash64('hello world')").collect().head.getLong(0))
    assert(spark.sql("SELECT size(shingle_hashes('a b c d', 3).shs)")
      .collect().head.getInt(0) === 2)
    assert(spark.sql("SELECT size(winnow_fps('abcdefghijklmno', 8, 4))")
      .collect().head.getInt(0) > 0)
    val sig = spark.sql(
      "SELECT minhash_sigs(array(5L, 7L), array(3L, 2L), 4)").collect().head.getSeq[Long](0)
    assert(sig === Seq(5L, 8L, 11L, 13L)) // min over (a + i*b) % P per seed i
    assert(spark.sql(
      "SELECT top_k_by(s, i, 2) FROM VALUES (0.1D, 1L), (0.9D, 2L), (0.5D, 3L) AS t(s, i)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) === Seq(2L, 3L))
    // round-6 additions: positional gram hashes (non-distinct, in
    // document order — 'a b' repeats), NFC normalization, and Spark's
    // bloom runtime-filter pair surfaced as SQL functions
    val gh = spark.sql("SELECT gram_hashes_pos('a b a b a', 2)")
      .collect().head.getSeq[Long](0)
    assert(gh.length === 4 && gh(0) === gh(2) && gh(1) === gh(3))
    assert(gh(0) !== gh(1))
    assert(spark.sql("SELECT nfc_normalize('cafe\\u0301') = 'caf\\u00e9'")
      .collect().head.getBoolean(0))
    // probe over a row set, the production shape (a probe in a
    // literal-only one-row projection trips a codegen quirk inside
    // Spark's BloomFilterMightContain and falls back to interpreter
    // mode; scans — the path that matters — codegen cleanly)
    val bloomHit = spark.sql(
      """WITH f AS (SELECT bloom_build(xxhash64(x), 100L) AS bf
           FROM VALUES ('a'), ('b') AS t(x))
         SELECT x, bloom_might_contain((SELECT bf FROM f), xxhash64(x)) AS hit
         FROM VALUES ('a'), ('zzz') AS probes(x) ORDER BY x""")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(bloomHit("a"))     // member always hits
    assert(!bloomHit("zzz"))  // tiny filter: non-member misses
  }

  test("a user's same-named function on a new session shadows graft's only there") {
    val fresh = spark.newSession()
    // a new session starts with graft's builder, from the extension
    assert(fresh.sql("SELECT dot_d(array(1.0D,2.0D), array(3.0D,4.0D))")
      .collect().head.getDouble(0) === 11.0)
    fresh.udf.register("dot_d", (a: Seq[Double], b: Seq[Double]) => -1.0)
    assert(fresh.sql("SELECT dot_d(array(1.0D), array(1.0D))")
      .collect().head.getDouble(0) === -1.0) // user's udf is live there
    // the parent and any other new session keep graft's
    assert(spark.sql("SELECT dot_d(array(2.0D), array(2.0D))")
      .collect().head.getDouble(0) === 4.0)
    assert(spark.newSession().sql("SELECT dot_d(array(2.0D), array(2.0D))")
      .collect().head.getDouble(0) === 4.0)
  }

  test("winnowing: shared substring yields shared fingerprint; short docs none") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en", "s0", 49L),
      (1L, "once more the quick brown fox jumps over the lazy dog again", "en", "s1", 60L),
      (2L, "entirely unrelated content about database engines", "en", "s2", 49L),
      (3L, "tiny", "en", "s3", 4L)) // shorter than k+w-1 → no fingerprints
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fps = Dedup.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // guarantee: any shared substring of length >= k+w-1 (11) shares a fingerprint
    assert((fps(0L) & fps(1L)).nonEmpty)
    assert(!fps.contains(3L))
    // determinism
    val again = Dedup.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(fps === again)
  }

  test("vocab ranks by count desc then word asc; tokenize encodes ranks with OOV=0") {
    val d = Seq(
      (0L, "aa bb aa cc", "en", "s", 11L),
      (1L, "aa bb dd", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val v = TextStats.vocab(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // aa:3 occurrences; bb:2; cc/dd:1 each (tie -> lexicographic)
    assert(v.toSeq === Seq((1L, "aa", 3L, 2L), (2L, "bb", 2L, 2L),
      (3L, "cc", 1L, 1L), (4L, "dd", 1L, 1L)))
    val enc = TextStats.tokenizeIds(d, vocabSize = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(enc(0L) === (("1,2,1,3", 0L)))
    assert(enc(1L) === (("1,2,0", 1L))) // dd beyond vocabSize 3 -> OOV 0
  }

  test("rarity score is the exact mean of floor(log2(rank)) bits") {
    val d = Seq(
      (0L, "aa aa aa bb", "en", "s", 11L), // ranks: aa=1, bb=2
      (1L, "bb", "en", "s", 2L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.rarityScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 0: bits(1)=0 x3, bits(2)=1 -> sum 1, mean 0.25
    assert(out(0L) === ((4L, 1L, 0.25)))
    assert(out(1L) === ((1L, 1L, 1.0)))
  }

  test("good-turing counts-of-counts, smoothed r*, and unseen mass are exact") {
    // word counts: a=3, b=2, c=2, d=1 → N_1=1, N_2=2, N_3=1, N=8 tokens
    val d = Seq(
      (0L, "a a a b b c", "en", "s", 11L),
      (1L, "d c", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.goodTuring(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((1L, 2L, 4.0, 0.125)))   // r*=2·N_2/N_1=4, p₀=1/8
    assert(out(2L) === ((2L, 1L, 1.5, 0.125)))   // r*=3·N_3/N_2=1.5
    assert(out(3L) === ((1L, 0L, 0.0, 0.125)))   // N_4=0 → r*=0
  }

  test("lid agreement: kappa is 1 on perfect agreement, matrix counts partition") {
    // marker words repeated AND distinct trigram profiles per lang:
    // both classifiers must predict the label, so agreement is total
    val docs = Seq(
      (1L, "the the the and a xqz", "en", "s", 22L),
      (2L, "the a and the the xqz", "en", "s", 21L),
      (3L, "query filter join query vbn", "fr", "s", 27L),
      (4L, "filter query join join vbn", "fr", "s", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = llm.TextStats.lidAgreement(docs)
      .select("lang_marker", "lang_trained", "n_docs", "kappa")
      .as[(String, String, Long, Double)].collect()
    assert(out.map(_._3).sum == 4, "matrix must partition the joined docs")
    assert(out.forall { case (m, t, _, _) => m == t },
      s"engineered corpus must agree perfectly: ${out.toSeq}")
    assert(out.forall(r => math.abs(r._4 - 1.0) < 1e-12),
      s"perfect agreement must score kappa 1: ${out.toSeq}")
  }

  test("good-turing invariants hold on the real corpus") {
    val d = Tables.documents(spark, sf())
    val rows = TextStats.goodTuring(d)
      .select("r", "n_r", "n_r_next", "r_star", "p_unseen")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty && rows.length <= TextStats.GoodTuringRows)
    // r strictly increasing (the smallest observed counts, in order)
    assert(rows.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    // r* is exactly (r+1)·N_{r+1}/N_r for each emitted row
    rows.foreach { case (r, nr, nrn, rstar, _) =>
      assert(math.abs(rstar - (r + 1).toDouble * nrn / nr) < 1e-12) }
    // p₀ is constant across rows and within [0, 1] (0 is legitimate:
    // a saturated word-salad corpus can have no hapax words at all)
    val p0 = rows.map(_._5).distinct
    assert(p0.length == 1 && p0.head >= 0.0 && p0.head <= 1.0)
  }

  test("lid agreement invariants hold on the real corpus") {
    val d = Tables.documents(spark, sf())
    val rows = llm.TextStats.lidAgreement(d)
      .select("n_docs", "po", "pe", "kappa")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    val (po, pe, kappa) = (rows.head._2, rows.head._3, rows.head._4)
    assert(rows.forall(r => r._2 == po && r._3 == pe && r._4 == kappa),
      "stats columns must be constant across matrix rows")
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(kappa <= 1.0, s"kappa > 1: $kappa")
    // diagonal share of the matrix must equal po exactly
    val matrix = llm.TextStats.lidAgreement(d)
      .select("lang_marker", "lang_trained", "n_docs")
      .as[(String, String, Long)].collect()
    val n = matrix.map(_._3).sum
    val diag = matrix.filter(r => r._1 == r._2).map(_._3).sum
    assert(math.abs(po - diag.toDouble / n) < 1e-15)
  }

  test("length histogram buckets by 64 words and shares sum to 1") {
    val d = Seq(
      (0L, Seq.fill(10)("w").mkString(" "), "en", "s", 10L),
      (1L, Seq.fill(70)("w").mkString(" "), "en", "s", 70L),
      (2L, Seq.fill(80)("w").mkString(" "), "en", "s", 80L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.lengthHistogram(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((0L, 63L, 1L, 1.0 / 3), (64L, 127L, 2L, 2.0 / 3)))
  }

  test("cluster representatives keep the highest-quality member per cluster") {
    // the exact dups 0/1 share every band -> one cluster; the rest are
    // singletons at whatever the LSH banding recovers on 5 docs
    val out = Dedup.clusterRepresentatives(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byCluster(0L)._1 >= 2L) // at least the exact dups 0,1
    // representatives tie on quality (same-length near-dups) -> min id
    assert(byCluster(0L)._2 === 0L)
    assert(byCluster(3L) === ((1L, 3L)))
    assert(byCluster(4L) === ((1L, 4L)))
    // every document appears in exactly one cluster
    assert(out.map(_._2).sum === 5L)
  }

  test("corpus diff classifies added/removed/changed/unchanged") {
    val d = (0L to 20L).map(i => (i, "text body " + i, "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.corpusDiff(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(3L) === "added")      // 3 % 3 == 0 (not in old), in new
    assert(out(5L) === "removed")    // 5 % 5 == 0 (not in new), in old
    assert(out(7L) === "changed")    // edited in the new snapshot
    assert(out(1L) === "unchanged")
    assert(!out.contains(15L))       // in neither snapshot (%3 and %5)
    assert(!out.contains(0L))
  }

  test("bigram counts rank by document frequency with distinct-per-doc semantics") {
    val d = Seq(
      (0L, "a b a b", "en", "s", 7L),   // bigrams {a b, b a}: dup "a b" counted once
      (1L, "a b c", "en", "s", 5L),     // {a b, b c}
      (2L, "x", "en", "s", 1L)          // too short: no bigrams
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.bigramCounts(d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, "a b", 2L), (2, "b a", 1L), (3, "b c", 1L)))
  }

  test("quality deciles: equal-count buckets, monotone score ranges") {
    val d = (0L until 100L).map(i =>
      (i, Seq.fill(5 + (i % 37).toInt)("w" + i).mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.qualityDeciles(d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === (1 to 10))
    assert(out.map(_._2).sum === 100L)
    assert(out.forall { case (_, n, mn, mx) => n == 10L && mn <= mx })
    // decile score ranges don't overlap out of order
    assert(out.sliding(2).forall { case Array(a, b) => a._4 <= b._3 + 1e-12; case _ => true })
  }

  test("cluster quality: every member's centroid stats well-formed") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(j => if (j == (i % 3).toInt) 1.0f else 0.01f), "l" + i % 3)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterQuality(emb).collect()
    assert(out.map(_.getLong(1)).sum === 30L) // every vector assigned once
    out.foreach { r =>
      val (avg, mn) = (r.getDouble(2), r.getDouble(3))
      assert(mn <= avg + 1e-12 && avg <= 1.0 + 1e-12 && mn >= -1.0 - 1e-12)
    }
  }

  test("cosine topk: self-similar vectors rank first, cosine in [-1,1]") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(e, 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(top(0L)._1 === 1L && top(0L)._2 > 0.99)
    assert(top(1L)._1 === 0L)
    assert(top(3L)._2 <= 1.0 && top(3L)._2 >= -1.0)
  }

  test("ivf topk returns well-formed ranks and respects k") {
    val emb = Tables.embeddings(spark, sf())
    val out = Similarity.ivfTopK(emb.limit(50), 5)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { rs =>
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      assert(ranks === (1 to ranks.length))
      assert(ranks.length <= 5)
    }
  }

  test("semantic dedup drops later near-identical vectors in-bucket") {
    val emb = Tables.embeddings(spark, sf()).limit(60)
    val out = Similarity.semanticDedup(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size === 60) // every vector gets a verdict
    out.foreach { case (id, (dupOf, keep)) =>
      if (keep) assert(dupOf === -1L)
      else assert(dupOf >= 0L && dupOf < id) // dup_of is an EARLIER id
    }
    // determinism: a second run yields the identical verdict map
    val again = Similarity.semanticDedup(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out === again)
  }

  test("knn label purity: perfectly separated labels score 1.0") {
    // two tight clusters with distinct labels → every neighbor shares
    // the query's label at k=1
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, Array(0.01f, 0.99f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelPurity(e, 1).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(out(0) === ((2L, 1.0)))
    assert(out(1) === ((2L, 1.0)))
  }

  test("exact baselines refuse corpus-sized input loudly") {
    val big = spark.range(Similarity.ExactBaselineMaxRows + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0f)).as("embedding"), lit(0).as("label"))
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(big, 1)
    }
    assert(e.getMessage.contains("EXACT baseline"))
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(big, 0.9)
    }
    ()
  }

  test("knn label purity ANN twin: pure separated clusters score 1.0") {
    // two tight label-pure clusters, ids interleaved so the first-√n
    // centroid seeds cover both; every within-bucket neighbor then
    // shares the query's label regardless of exact Lloyd outcomes
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f), 0),
      (3L, Array(0.01f, 0.99f, 0.0f, 0.0f), 1),
      (4L, Array(0.98f, 0.02f, 0.0f, 0.0f), 0),
      (5L, Array(0.02f, 0.98f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelPurityAnn(e, 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out.foreach { case (_, (rows, matches, purity)) =>
      assert(rows > 0L)
      assert(matches === rows) // label-pure buckets: every neighbor matches
      assert(purity === 1.0)
    }
    assert(out.keySet === Set(0, 1))
    // determinism: rerun yields the identical report
    val again = Similarity.knnLabelPurityAnn(e, 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === again)
  }

  test("IVF index persists bucketed; probe join needs no corpus-side exchange") {
    val emb = Tables.embeddings(spark, sf()).limit(200)
    Similarity.writeIvfIndex(emb, "ivf_index", buckets = 4)
    try {
      val index = spark.table("ivf_index")
      assert(index.count() === 200) // every vector assigned exactly once
      // a probe frame (query → centroid to search) joining the bucketed
      // corpus: only the probe side may shuffle
      val probes = index.select(col("vec_id").as("query_id"),
        col("centroid_id")).limit(10)
      val joined = probes.join(index, "centroid_id")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"corpus side reshuffled:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucket-aware:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_index")
  }

  test("postings index: bucket-pruned probe equals the inline plan") {
    val d = Seq(
      (0L, "slow hash batch slow hash batch ok", "en", "s0", 34L),
      (1L, "row column sort and slow hash batch", "en", "s1", 35L),
      (2L, "nothing relevant here at all", "en", "s2", 28L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // 32 buckets >> 8 query terms, so a pruned probe CANNOT need every
    // bucket (8 terms touch at most 8)
    llm.Retrieval.writePostingsIndex(d, "postings_idx", buckets = 32)
    try {
      val fromIndex = llm.Retrieval.phraseSearchFromIndex(spark, "postings_idx")
      assert(fromIndex.collect().toSeq ===
        llm.Retrieval.phraseSearch(d).collect().toSeq)
      // bucketing by term buys bucket pruning: the probe's term IN (...)
      // filter must read only the buckets the query terms hash to
      val plan = fromIndex.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in probe plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probe read every bucket:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS postings_idx")
  }

  test("source divergence: exact TV distance on a hand-computed corpus") {
    // s0 = "a a b" (N_s=3), s1 = "a c" (N_s=2); corpus N=5,
    // C = {a:3, b:1, c:1}
    //   TV(s0) = ½(|2/3−3/5| + |1/3−1/5| + |0−1/5|) = 0.2
    //   TV(s1) = ½(|1/2−3/5| + |0−1/5| + |1/2−1/5|) = 0.3
    val d = Seq(
      (0L, "a a b", "en", "s0", 5L),
      (1L, "a c", "en", "s1", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.sourceDivergence(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("s0") === ((3L, 2L, 0.2)))
    assert(out("s1") === ((2L, 2L, 0.3)))
  }

  test("NFC normalization: composed and decomposed accents converge") {
    val composed = "caf\u00e9 menu"        // e-acute, precomposed
    val decomposed = "cafe\u0301 menu"      // e + combining acute
    val d = Seq(
      (0L, composed, "fr", "s0", 9L),
      (1L, decomposed, "fr", "s1", 10L),
      (2L, "plain ascii text", "en", "s2", 16L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.normalizeText(d).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(!out(0L)._1)                        // already NFC
    assert(out(1L)._1)                         // decomposed → changed
    assert(out(0L)._2 === out(1L)._2)          // same content hash now
    assert(!out(2L)._1)
    // the raw texts would NOT have deduped: different md5s pre-NFC
    assert(composed !== decomposed)
  }

  test("drift words: the over-represented token ranks first") {
    // s0 floods "spam" (4 of its 6 tokens); s1 is plain prose. The
    // drift numerator |c_sw*N - C_w*N_s| must put "spam" at rank 1
    // for BOTH sources: over-represented in s0, under-represented
    // (yet present) in s1.
    val d = Seq(
      (0L, "spam spam spam spam alpha beta", "en", "s0", 30L),
      (1L, "alpha beta gamma delta spam epsilon", "en", "s1", 35L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.driftWords(d, k = 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(out(("s0", 1)) === "spam")
    assert(out(("s1", 1)) === "spam")
  }

  test("source divergence: identical distributions score exactly zero") {
    val d = Seq(
      (0L, "x y z", "en", "sa", 5L),
      (1L, "x y z", "en", "sb", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tv = TextStats.sourceDivergence(d).collect()
      .map(r => r.getDouble(3)).toSeq
    assert(tv === Seq(0.0, 0.0))
  }

  test("text stats formulas: token counts, ratios, quality bounded") {
    val one = Seq((0L, "the cat sat on the mat", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextStats.textStats(one).collect().head
    assert(r.getAs[Long]("n_words") === 6)
    assert(r.getAs[Long]("n_tokens") === 6)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-12)
    assert(math.abs(r.getAs[Double]("avg_word_len") - 17.0 / 6) < 1e-12)
    val q = r.getAs[Double]("quality_score")
    assert(q > 0.0 && q <= 1.0)
  }

  test("language id picks argmax with alphabetical tie-break") {
    val d = Seq(
      (0L, "window batch merge window", "de", "s", 10L),     // de markers
      (1L, "table scan row row", "es", "s", 10L),            // es markers
      (2L, "zzz yyy xxx", "zh", "s", 10L))                   // no markers → tie → de
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.languageId(d).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "de")
    assert(out(1L) === "es")
    assert(out(2L) === "de") // all scores 0 → first alphabetical wins
  }

  test("multimodal: typed decode preserves batching shape and determinism") {
    val feats = Multimodal.mediaFeatures(docs).collect()
    assert(feats.length === 5)
    val r = feats.head
    assert(r.getAs[String]("media_type") === "image") // doc_id 0 % 3
    assert(r.getAs[String]("content_hash").length === 64)
    assert(r.getSeq[Long](r.fieldIndex("frame_offsets")).length === 10)
    // text bytes are not a decodable image → stub fallback, flagged
    assert(feats.forall(!_.getAs[Boolean]("decoded")))
    // determinism: same input → same features
    val again = Multimodal.mediaFeatures(docs).collect()
    assert(feats.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("multimodal: javax.imageio decodes real PNG and JPEG payloads") {
    import java.awt.image.BufferedImage
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val png = encode(40, 25, "png")
    val jpg = encode(17, 33, "jpg")
    val media = Seq(
      Multimodal.MediaFile(0L, "image", png, png.length.toLong),
      Multimodal.MediaFile(1L, "image", jpg, jpg.length.toLong),
      Multimodal.MediaFile(2L, "image", "not an image".getBytes("UTF-8"), 12L))
      .toDS()
    val out = Multimodal.decodeFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    // real decode: exact raster dimensions and channel count
    assert(out(0L).decoded && out(0L).width === 40 && out(0L).height === 25
      && out(0L).channels === 3)
    assert(out(1L).decoded && out(1L).width === 17 && out(1L).height === 33
      && out(1L).channels === 3)
    // undecodable payload falls back to the deterministic stub
    assert(!out(2L).decoded && out(2L).channels === 0)
    assert(out(2L).width === 16 + ('n' & 0x3f) && out(2L).height === 16 + ('e' & 0x3f))
  }

  test("audio decode: real JDK codec round-trip recovers the encoded header facts") {
    val out = Multimodal.audioDecode(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size === 5)
    out.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("decoded"), s"doc $id fell to the stub")
      assert(r.getAs[String]("container") ===
        Multimodal.AudioFormats((id % 3).toInt))
      assert(r.getAs[Int]("sample_rate") ===
        Multimodal.AudioRates((id % 4).toInt))
      assert(r.getAs[Int]("channels") === 1 + (id % 2).toInt)
      assert(r.getAs[Int]("bits") === 16)
      assert(r.getAs[Long]("n_frames") === 100L + id % 900)
      // integer-exact duration: frames * 1e6 DIV rate, no float path
      assert(r.getAs[Long]("duration_us") ===
        (100L + id % 900) * 1000000L / Multimodal.AudioRates((id % 4).toInt))
    }
    // a corrupt payload flags, never throws (same policy as images)
    val junk = Seq(Multimodal.MediaFile(9L, "wav",
      "not audio".getBytes("UTF-8"), 9L)).toDS()
    // reuse the decode core through a one-row table: feed audioDecode's
    // parser directly via AudioSystem to assert the failure is catchable
    val ex = intercept[Exception] {
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(junk.head().content))
    }
    assert(ex.isInstanceOf[javax.sound.sampled.UnsupportedAudioFileException])
  }

  test("audio stats: decoded PCM samples reproduce the generator arithmetic exactly") {
    val stats = Multimodal.audioStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(stats.size === 5)
    stats.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("decoded"), s"doc $id fell to the stub")
      val nS = (100 + id % 900) * (1 + id % 2)
      assert(r.getAs[Long]("n_samples") === nS)
      // recompute the expected statistics from the generator formula —
      // independent of any codec, so a byte-order or framing slip in
      // EITHER the writer or the parser breaks the equality
      var sumAbs = 0L; var sumSq = 0L; var peak = 0
      var first = 0; var last = 0
      var i = 0L
      while (i < nS) {
        val s = ((id * 2654435761L + i * 40503L) & 0xffffL).toShort.toInt
        if (i == 0) first = s
        last = s
        sumAbs += math.abs(s); sumSq += s.toLong * s
        peak = math.max(peak, math.abs(s))
        i += 1
      }
      assert(r.getAs[Long]("sum_abs") === sumAbs, s"doc $id sum_abs")
      assert(r.getAs[Long]("sum_sq") === sumSq, s"doc $id sum_sq")
      assert(r.getAs[Int]("peak") === peak, s"doc $id peak")
      assert(r.getAs[Int]("first_sample") === first, s"doc $id first")
      assert(r.getAs[Int]("last_sample") === last, s"doc $id last")
    }
  }

  test("video decode: RIFF walk recovers header facts and every MJPEG frame decodes") {
    val out = Multimodal.videoFrames(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size === 5)
    out.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("decoded"), s"doc $id fell to the stub")
      val w = Multimodal.VideoWidthBase +
        (id % Multimodal.VideoWidthMod).toInt * Multimodal.VideoWidthStep
      val h = Multimodal.VideoHeightBase +
        (id % Multimodal.VideoHeightMod).toInt * Multimodal.VideoHeightStep
      val nf = Multimodal.VideoFrameBase + (id % Multimodal.VideoFrameMod).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[Long]("n_frames") === nf)
      // EVERY frame chunk decoded through the real JPEG codec, and the
      // decoded rasters carry the header dims (JPEG preserves dims)
      assert(r.getAs[Long]("frames_decoded") === nf, s"doc $id lost frames")
      assert(r.getAs[Int]("frame_w") === w && r.getAs[Int]("frame_h") === h)
    }
    // corrupt containers FLAG, never throw (same policy as the
    // image/audio paths): junk bytes, and a real AVI truncated
    // mid-chunk, both take the decoded=false path
    val junk = Multimodal.parseAvi(
      Multimodal.MediaFile(9L, "avi", "not a riff".getBytes("UTF-8"), 10L))
    assert(!junk.decoded)
    val truncated = Multimodal.parseAvi(
      Multimodal.MediaFile(9L, "avi", Multimodal.aviBytes(9L).take(40), 40L))
    assert(!truncated.decoded)
    // a NEGATIVE chunk size must flag too — without the walker's
    // forward-progress guard it computes next <= position and spins
    // the walk loop forever instead of ever reaching the catch
    val evil = new java.io.ByteArrayOutputStream()
    evil.write("RIFF".getBytes("US-ASCII"))
    evil.write(Array[Byte](16, 0, 0, 0))
    evil.write("AVI JUNK".getBytes("US-ASCII"))
    evil.write(Array[Byte](-8, -1, -1, -1)) // size = -8 little-endian
    evil.write(new Array[Byte](8))
    val spin = Multimodal.parseAvi(
      Multimodal.MediaFile(9L, "avi", evil.toByteArray, 28L))
    assert(!spin.decoded)
  }

  test("video frame sampling decodes exactly the stride-surviving indices") {
    val out = Multimodal.videoFrameSample(docs, stride = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"),
        r.getAs[Int]("width"), r.getAs[Boolean]("decoded")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (id, rows) =>
      val nf = Multimodal.VideoFrameBase + (id % Multimodal.VideoFrameMod).toInt
      val expectIdx = (0 until nf).filter(_ % 2 == 0)
      assert(rows.map(_._2).sorted === expectIdx, s"doc $id sampled wrong frames")
      val w = Multimodal.VideoWidthBase +
        (id % Multimodal.VideoWidthMod).toInt * Multimodal.VideoWidthStep
      assert(rows.forall(r => r._3 == w && r._4), s"doc $id frame decode")
    }
  }

  test("audio dedup: cross-container replicas share one fingerprint; silence stats match the layout") {
    val aDocs = (0L until 96L).toDF("doc_id") // 32 cid groups, all rules exercised
    val out = Multimodal.audioDedup(aDocs).collect()
    assert(out.length == 96)
    val byCid = out.groupBy(r =>
      java.lang.Math.floorDiv(r.getAs[Long]("doc_id"), Multimodal.AudioDedupReplica.toLong))
    byCid.foreach { case (cid, g) =>
      // identical PCM delivered as wav/aiff/au -> ONE fingerprint group
      assert(g.map(_.getAs[String]("audio_fp")).toSet.size == 1, s"cid $cid fp diverged")
      assert(g.map(_.getAs[String]("container")).toSet.size == g.length,
        s"cid $cid replicas should span containers")
      // silence stats against the layout rule, recomputed independently
      val nSeg = (Multimodal.AudioSegBase +
        java.lang.Math.floorMod(cid, Multimodal.AudioSegMod.toLong)).toInt
      val runLen = java.lang.Math.floorMod(cid, Multimodal.AudioSilentRunMod.toLong).toInt
      val silentFlags = (0 until nSeg).map(s =>
        java.lang.Math.floorMod(cid + s, Multimodal.AudioSilentPeriod.toLong) < runLen)
      val maxRun = silentFlags.foldLeft((0, 0)) { case ((best, run), f) =>
        val nr = if (f) run + 1 else 0; (math.max(best, nr), nr)
      }._1
      g.foreach { r =>
        assert(r.getAs[Long]("n_samples") == nSeg.toLong * Multimodal.AudioSegFrames)
        assert(r.getAs[Int]("n_segments") == nSeg)
        assert(r.getAs[Int]("n_silent") == silentFlags.count(identity), s"cid $cid n_silent")
        assert(r.getAs[Int]("max_silence_run") == maxRun, s"cid $cid max run")
      }
    }
    // global keep rule: exactly the min doc_id of each fingerprint group
    out.groupBy(_.getAs[String]("audio_fp")).values.foreach { g =>
      val ids = g.map(_.getAs[Long]("doc_id"))
      g.foreach { r =>
        assert(r.getAs[Long]("canonical_id") == ids.min)
        assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("doc_id") == ids.min))
        assert(r.getAs[Long]("n_copies") == ids.length)
      }
    }
  }

  test("curation ledger: one row per keyed doc, keep composes the component verdicts") {
    val lDocs = (0L until 60L).map(i => (i, s"text ${i % 7}")).toDF("doc_id", "text")
    val out = Multimodal.curationLedger(lDocs).collect()
    assert(out.length == 60)
    val text = graft.llm.Dedup.dedupDecision(lDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_canonical")).toMap
    val image = Multimodal.phashDedup(lDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val audio = Multimodal.audioDedup(lDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val video = Multimodal.frameDedup(lDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_slideshow")).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("text_keep") == text(id))
      // image verdict NULL exactly for hash-ineligible (tiny) images
      assert(Option(r.getAs[java.lang.Boolean]("image_keep"))
        .map(_.booleanValue) == image.get(id))
      assert(r.getAs[Boolean]("audio_keep") == audio(id))
      assert(r.getAs[Boolean]("is_slideshow") == video(id))
      val expect = text(id) && image.getOrElse(id, true) &&
        audio(id) && !video(id)
      assert(r.getAs[Boolean]("keep") == expect, s"doc $id keep")
    }
    // the fixture exercises both outcomes
    assert(out.exists(_.getAs[Boolean]("keep")))
    assert(out.exists(r => !r.getAs[Boolean]("keep")))
  }

  test("materialized LSH index: stored-bucket consumers equal the in-memory operators") {
    val emb = Tables.embeddings(spark, sf())
    val path = "target/lsh_idx_test"
    val np = llm.Similarity.writeLshIndex(emb, path)
    val nVec = emb.filter(col("embedding").isNotNull).count()
    assert(np == llm.Similarity.adaptivePlanes(nVec), "stored width must be the adaptive width")
    // the index records its width so probes can't silently mismatch
    val stored = spark.read.parquet(s"$path/buckets")
    assert(stored.select("np").distinct().as[Int].collect().toSeq == Seq(np))
    assert(stored.count() == nVec * llm.Similarity.NumTables)
    // pair generation from storage == the in-memory operator
    val fromIdx = llm.Similarity.lshNearDupPairsFromIndex(spark, path, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val direct = llm.Similarity.lshNearDupPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(fromIdx == direct,
      s"extra=${(fromIdx -- direct).take(3)} missing=${(direct -- fromIdx).take(3)}")
    // point lookup: top-k over exactly the query's stored-bucket mates
    val someId = direct.head._1
    val got = llm.Similarity.lshNeighborsFromIndex(spark, path, someId, 5)
      .select("rnk", "neighbor_id", "cosine").as[(Int, Long, Double)].collect()
    assert(got.nonEmpty && got.map(_._1).toSeq == (1 to got.length))
    // every returned neighbor truly shares a bucket with the query
    val mates = stored.as("x").join(stored.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket"))
      .filter(col("x.vec_id") === someId && col("y.vec_id") =!= someId)
      .select(col("y.vec_id")).as[Long].collect().toSet
    assert(got.map(_._2).forall(mates), "a neighbor came from outside the probed buckets")
    // scores descend (ties broken deterministically upstream)
    assert(got.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    spark.catalog.clearCache()
  }

  test("url parsing: userinfo, ports, schemes, paths, query/fragment, malformed") {
    import org.apache.spark.unsafe.types.UTF8String
    def u(url: String): (String, String, String, String, String, Int, Int, Boolean) = {
      val r = graft.functions.UrlText.computeUrlParts(UTF8String.fromString(url))
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getUTF8String(2).toString, r.getUTF8String(3).toString,
        r.getUTF8String(4).toString, r.getInt(5), r.getInt(6),
        r.getBoolean(7))
    }
    assert(u("https://www.Example.COM/a/b?q=1#f")
      == (("https", "www.example.com", "example.com", "com", "/a/b", 0, 2, true)))
    assert(u("http://user:pw@sub.site.org:8080/x")
      == (("http", "sub.site.org", "site.org", "org", "/x", 8080, 1, false)))
    // no scheme: whole input starts at the host; path NORMALIZES —
    // duplicate slashes collapse, the trailing slash drops
    assert(u("example.net/a//b/") == (("", "example.net", "example.net",
      "net", "/a/b", 0, 2, false)))
    // empty query / fragment-only query are NOT queries
    assert(!u("https://a.io/p?")._8 && !u("https://a.io/p?#f")._8)
    assert(u("https://a.io/p?#f")._7 == 1)
    // fragment before '?' means the '?' is fragment text, not a query
    assert(!u("https://a.io/p#frag?x=1")._8)
    // single-label host: domain == host, tld == host
    assert(u("https://localhost:9999") == (("https", "localhost",
      "localhost", "localhost", "", 9999, 0, false)))
    // non-numeric ':' suffix is not a port
    assert(u("https://a.b.c:notaport/x")._2 == "a.b.c:notaport")
    assert(u("") == (("", "", "", "", "", 0, 0, false)))
    // DF path: the codegen'd expression agrees with the kernel
    val df = Seq("https://u@h.d.com:81/a/b/c?x=1").toDF("s")
      .select(call_function("url_parts", col("s")).as("u"))
      .select("u.scheme", "u.host", "u.domain", "u.tld", "u.path", "u.port",
        "u.path_depth", "u.has_query")
      .as[(String, String, String, String, String, Int, Int, Boolean)]
      .collect().head
    assert(df == (("https", "h.d.com", "d.com", "com", "/a/b/c", 81, 3, true)))
  }

  test("scalable packing is bit-equal to the sequential window at any bucket width") {
    val docs = Tables.documents(spark, sf())
    val seq = Curate.packSequences(docs).collect().map(_.toSeq)
    // widths straddling the corpus: one-bucket (degenerates to the
    // sequential shape), mid, and width-1 (every doc its own bucket —
    // the pure prefix-sum-of-totals extreme)
    for (w <- Seq(1L, 7L, 4096L, 1L << 40)) {
      val par = Curate.packSequencesScalable(docs, bucketIds = w)
        .collect().map(_.toSeq)
      assert(par.toSeq == seq.toSeq, s"bucketIds=$w diverged")
    }
  }

  test("training shards capstone: manifest reconciles with its component stages") {
    val docs = Tables.documents(spark, sf())
    val out = Curate.trainingShards(docs).collect()
    assert(out.nonEmpty)
    // rebuild the survivor set from the PUBLISHED component queries —
    // the capstone must compose exactly them, nothing else
    val kept = Multimodal.curationLedger(docs).filter(col("keep"))
      .select("doc_id")
    val survivors = docs
      .join(kept, Seq("doc_id"), "left_semi")
      .join(Curate.qualityWeightedSample(docs).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val packed = Curate.packSequences(survivors)
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.length == packed.size)
    out.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[Long]("seq_id"))
      val (nd, nt, fd, ld) = packed(key)
      assert(r.getAs[Long]("n_docs") == nd && r.getAs[Long]("n_tokens") == nt)
      assert(r.getAs[Long]("first_doc") == fd && r.getAs[Long]("last_doc") == ld)
      val shard = r.getAs[Long]("shard")
      assert(shard >= 0 && shard < Curate.NumShards)
      assert(r.getAs[String]("sort_key").matches("[0-9a-f]{32}"))
    }
    // sequences are contiguous per language starting at 0 (concat-and-
    // cut over the survivor stream can skip nothing)
    out.groupBy(_.getAs[String]("lang")).values.foreach { rows =>
      val ids = rows.map(_.getAs[Long]("seq_id")).sorted
      assert(ids.head == 0L && ids.toSeq == (0L until ids.length).toSeq)
    }
    spark.catalog.clearCache()
  }

  test("pack slices reconcile: per-doc slice tokens sum to n_tokens, cuts abut") {
    val docs = Tables.documents(spark, sf())
    val slices = Curate.packSlices(docs).collect()
    val packed = Curate.packSequences(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("seq_id"),
          r.getAs[Long]("n_seqs_spanned"))).toMap
    val byDoc = slices.groupBy(_.getAs[Long]("doc_id"))
    // every tokenized doc appears; zero-token docs occupy no slice
    assert(byDoc.keySet == packed.filter(_._2._1 > 0).keySet)
    byDoc.foreach { case (id, rows) =>
      val (n, seq0, spans) = packed(id)
      val sorted = rows.sortBy(_.getAs[Long]("seq_id"))
      // slice set = exactly the spanned sequences of q_pack_sequences
      assert(sorted.map(_.getAs[Long]("seq_id")).toSeq
        == (seq0 until seq0 + spans).toSeq, s"doc $id sequence set")
      // token ranges abut: first starts at 0, each picks up where the
      // previous ended, last ends at n_tokens — so sums reconcile
      assert(sorted.head.getAs[Long]("tok_start") == 0L)
      assert(sorted.last.getAs[Long]("tok_end") == n)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("tok_end") == b.getAs[Long]("tok_start"))
        case _ => ()
      }
      assert(rows.map(_.getAs[Long]("n_slice_tokens")).sum == n)
      // no empty slices, none longer than the capacity
      rows.foreach { r =>
        val w = r.getAs[Long]("n_slice_tokens")
        assert(w > 0 && w <= Curate.PackCapacity)
      }
    }
    spark.catalog.clearCache()
  }

  test("shard writer: partitioned layout, pruned reads, intra-shard sort on disk") {
    val docs = Tables.documents(spark, sf())
    val path = "target/training_shards_test"
    Curate.writeTrainingShards(docs, path)
    val manifest = Curate.trainingShards(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("shard"), r.getAs[String]("sort_key")))
    // read-back equals the manifest exactly
    val disk = spark.read.parquet(path)
      .select("lang", "seq_id", "shard", "sort_key").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Number]("shard").longValue(), r.getString(3)))
    assert(disk.toSet == manifest.toSet)
    // a trainer reading ONE shard prunes partitions: the scan's
    // partition filters bind on the shard column and only that
    // shard's rows come back
    val shard0 = manifest.filter(_._3 == manifest.head._3)
    val one = spark.read.parquet(path)
      .filter(col("shard") === manifest.head._3)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.contains("shard"), s"no partition pruning in:\n$plan")
    assert(one.count() == shard0.length)
    // intra-shard sort is ON DISK: each parquet file's rows arrive
    // already ordered by sort_key (no sort in the reading plan)
    import org.apache.spark.sql.functions.{input_file_name, monotonically_increasing_id}
    val fileRows = spark.read.parquet(path)
      .select(col("sort_key"), input_file_name().as("f"),
        monotonically_increasing_id().as("pos"))
      .collect().groupBy(_.getString(1))
    fileRows.values.foreach { rows =>
      val inOrder = rows.sortBy(_.getLong(2)).map(_.getString(0)).toSeq
      assert(inOrder == inOrder.sorted, "file rows not sorted by sort_key")
    }
    spark.catalog.clearCache()
  }

  test("image ANN: replica re-encodes rank at cosine 1 ahead of other images") {
    val docs = Tables.documents(spark, sf())
    val ann = Similarity.lshTopKNeighbors(
      Multimodal.imageEmbeddings(docs), 5)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    // eligibility matches the hash path: same images feed both
    val eligible = Multimodal.imageEmbeddings(docs)
      .select("vec_id").as[Long].collect().toSet
    assert(rows.map(_.getAs[Long]("query_id")).toSet.subsetOf(eligible))
    // PhashReplica consecutive ids share content: where a replica pair
    // is in the candidate set, it must sit at the top with cosine ~ 1
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    val replicaTops = byQuery.flatMap { case (q, rs) =>
      val top = rs.minBy(_.getAs[Int]("rnk"))
      val n = top.getAs[Long]("neighbor_id")
      if (java.lang.Math.floorDiv(q, Multimodal.PhashReplica.toLong)
        == java.lang.Math.floorDiv(n, Multimodal.PhashReplica.toLong))
        Some(top.getAs[Double]("cosine"))
      else None
    }
    assert(replicaTops.nonEmpty)
    replicaTops.foreach(c => assert(c > 0.999999, s"replica cosine $c"))
    spark.catalog.clearCache()
  }

  test("video ANN: replica re-encodes rank at cosine 1 ahead of other clips") {
    val docs = Tables.documents(spark, sf())
    val ann = Multimodal.videoAnnTopK(docs, 5)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    val eligible = Multimodal.videoEmbeddings(docs)
      .select("vec_id").as[Long].collect().toSet
    assert(rows.map(_.getAs[Long]("query_id")).toSet.subsetOf(eligible))
    // VideoAnnReplica consecutive ids share rasters (containers differ
    // only in fps header): where a replica pair is in the candidate
    // set, it must sit at the top with cosine ~ 1 — container-blind
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    val replicaTops = byQuery.flatMap { case (q, rs) =>
      val top = rs.minBy(_.getAs[Int]("rnk"))
      val n = top.getAs[Long]("neighbor_id")
      if (java.lang.Math.floorDiv(q, Multimodal.VideoAnnReplica.toLong)
        == java.lang.Math.floorDiv(n, Multimodal.VideoAnnReplica.toLong))
        Some(top.getAs[Double]("cosine"))
      else None
    }
    assert(replicaTops.nonEmpty)
    replicaTops.foreach(c => assert(c > 0.999999, s"replica cosine $c"))
    spark.catalog.clearCache()
  }

  test("DIB AVI fixture: spec-valid container, replicas differ only in fps header") {
    // the uncompressed path must still be a well-formed AVI the
    // existing RIFF machinery reads: parseAvi (header facts off the
    // bytes) sees the right dims/frame count, decodes ZERO frames
    // through the JPEG codec (there are none — '00db', not '00dc'),
    // and flags nothing
    val cid0 = 12L // any id; content derives from floorDiv(id, 3)
    val f = Multimodal.parseAvi(Multimodal.MediaFile(
      cid0, "avi", Multimodal.dibAviBytes(cid0),
      Multimodal.dibAviBytes(cid0).length.toLong))
    assert(f.decoded && f.frames_decoded == 0L)
    def pm(id: Long, m: Int) =
      java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 3L), m.toLong).toInt
    assert(f.width == Multimodal.VideoWidthBase +
      pm(cid0, Multimodal.VideoWidthMod) * Multimodal.VideoWidthStep)
    assert(f.n_frames == Multimodal.VideoAnnFrameBase +
      pm(cid0, Multimodal.VideoAnnFrameMod))
    // replicas: same movi payload bytes, different fps header
    val a = Multimodal.dibAviBytes(12L); val b = Multimodal.dibAviBytes(13L)
    assert(!java.util.Arrays.equals(a, b)) // headers differ (fps)
    def moviOf(bytes: Array[Byte]) = {
      val s = new String(bytes, "ISO-8859-1")
      s.substring(s.indexOf("movi"))
    }
    assert(moviOf(a) == moviOf(b), "replica rasters must be byte-identical")
    spark.catalog.clearCache()
  }

  test("html extraction: boilerplate routing, raw-text skip, entities, malformed input") {
    import org.apache.spark.unsafe.types.UTF8String
    def x(html: String): (String, Int, Int, Int, Int) = {
      val r = graft.functions.HtmlText.computeHtmlExtract(
        UTF8String.fromString(html))
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4))
    }
    // head dropped, body kept, tags become collapsed separators
    assert(x("<html><head><title>T</title></head><body><p>a</p><p>b</p></body></html>")
      == (("a b", 0, 3, 0, 0)))
    // script/style raw-skip even when their bodies contain tag-like text
    assert(x("<p>keep</p><script>var a = '<p>junk</p>';</script><style>p>a{}</style><p>more</p>")._1
      == "keep more")
    // nav/footer subtree text measured as boilerplate, not main —
    // including anchors inside them (not links)
    val (m1, l1, tc1, lc1, bc1) =
      x("<nav><a href='/'>home</a> menu</nav><p>body</p><footer>foot</footer>")
    assert(m1 == "body" && l1 == 0 && lc1 == 0)
    assert(tc1 == 4 && bc1 == "home menu foot".length)
    // nested boilerplate closes correctly
    assert(x("<header>h <nav>n</nav> t</header><p>x</p>") ==
      (("x", 0, 1, 0, "h n t".length)))
    // kept anchors: counted, text measured, entity-decoded
    val (m2, l2, _, lc2, _) =
      x("<p>go <a href='/a'>one &amp; two</a> or <a>x</a></p>")
    assert(m2 == "go one & two or x" && l2 == 2)
    assert(lc2 == "one & two".length + 1)
    // entities: named, numeric, unknown left literal, unterminated
    assert(x("<p>&lt;tag&gt; &#65; &nope; &unterminated</p>")._1
      == "<tag> A &nope; &unterminated")
    // comments skipped, even spanning tag-like content
    assert(x("<p>a</p><!-- <p>no</p> --><p>b</p>")._1 == "a b")
    // malformed: unterminated comment/script/tag, stray closes
    assert(x("<p>a<!-- open")._1 == "a")
    assert(x("<p>a<script>open")._1 == "a")
    assert(x("<p>a<b")._1 == "a")
    assert(x("</nav></head><p>still here</p>")._1 == "still here")
    // attribute values containing '>' do not end the tag
    assert(x("""<p data-x="a>b">ok</p>""")._1 == "ok")
    // uppercase tags are recognized
    assert(x("<NAV>n</NAV><P>body</P>") == (("body", 0, 4, 0, 1)))
    // whitespace runs collapse; leading/trailing trimmed
    assert(x("<p>  a\t\n b  </p>") == (("a b", 0, 3, 0, 0)))
    // DF-level: the codegen'd expression path agrees with the kernel
    val df = Seq("<nav>skip</nav><p>hello <a>w</a></p>").toDF("h")
      .select(call_function("html_extract", col("h")).as("x"))
      .select("x.main_text", "x.n_links", "x.text_chars", "x.link_chars",
        "x.boiler_chars")
      .as[(String, Int, Int, Int, Int)].collect().head
    assert(df == (("hello w", 1, 7, 1, 4)))
  }

  test("multi-probe from the index: recall parity with the in-memory multi-probe") {
    val emb = Tables.embeddings(spark, sf())
    val path = "target/lsh_idx_mp_test"
    llm.Similarity.writeLshIndex(emb, path)
    // the stored-width index gets the SAME pair set as the in-memory
    // multi-probe (identical width, identical probe ring, identical
    // exact-cosine verify) — the round-10 recall-lift parity claim
    val fromIdx = llm.Similarity.multiProbeLshPairsFromIndex(spark, path, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val direct = llm.Similarity.multiProbeLshPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(fromIdx == direct,
      s"extra=${(fromIdx -- direct).take(3)} missing=${(direct -- fromIdx).take(3)}")
    // multi-probe is a superset of single-probe from the same index
    val single = llm.Similarity.lshNearDupPairsFromIndex(spark, path, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(fromIdx))
    // point lookup with the probe ring: still rank-contiguous, and a
    // superset-or-equal neighbor reach vs the exact-bucket probe
    val someId = direct.head._1
    val exact = llm.Similarity.lshNeighborsFromIndex(spark, path, someId, 1000)
      .select("neighbor_id").as[Long].collect().toSet
    val probed = llm.Similarity
      .lshNeighborsFromIndex(spark, path, someId, 1000, multiProbe = true)
    val probedRows = probed
      .select("rnk", "neighbor_id").as[(Int, Long)].collect()
    assert(probedRows.map(_._1).toSeq == (1 to probedRows.length))
    assert(exact.subsetOf(probedRows.map(_._2).toSet))
    spark.catalog.clearCache()
  }

  test("incremental LSH probe ring: cold-start equality, indexed superset") {
    val emb = Tables.embeddings(spark, sf())
    // cold start (no index): within-batch multi-probe pairs equal the
    // batch multi-probe operator (same adaptive width, same ring)
    val inc = llm.Similarity
      .lshPairsIncremental(spark, "target/lsh_idx_absent", emb, 0.3,
        multiProbe = true)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val direct = llm.Similarity.multiProbeLshPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(inc == direct)
    // against a real index: the ring can only ADD verified pairs
    val path = "target/lsh_idx_incmp_test"
    llm.Similarity.writeLshIndex(emb, path)
    val batch = emb.filter(col("vec_id") % 7 === 0)
    def pairs(mp: Boolean) = llm.Similarity
      .lshPairsIncremental(spark, path, batch, 0.3, multiProbe = mp)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs(mp = false).subsetOf(pairs(mp = true)))
    spark.catalog.clearCache()
  }

  test("index write lease: conflicting writers fail loud, same holder reclaims") {
    val emb = Tables.embeddings(spark, sf())
    val path = "target/lsh_idx_lease_test"
    llm.Similarity.writeLshIndex(emb, path)
    // simulate a crashed compaction: lease left naming 'compact'
    graft.util.BatchState.acquireLease(spark, path, "compact")
    // a conflicting appender must fail loudly, not race the compactor
    val ex = intercept[IllegalArgumentException] {
      llm.Similarity.appendLshIndexForBatch(
        emb.limit(5), path, batchId = 7L)
    }
    assert(ex.getMessage.contains("write-locked by 'compact'"))
    // the compactor itself RECLAIMS its own lease (crash re-run) and
    // releases it on success...
    graft.util.BatchState.compactState(spark, path)
    // ...after which the append goes through and releases in turn
    llm.Similarity.appendLshIndexForBatch(emb.limit(5), path, batchId = 7L)
    graft.util.BatchState.compactState(spark, path)
    spark.catalog.clearCache()
  }

  test("index width invariant: mixed-width appends refused; half-present index fails loud") {
    val emb = Tables.embeddings(spark, sf())
    val path = "target/lsh_idx_width_test"
    val np = llm.Similarity.writeLshIndex(emb, path)
    // an explicit append width differing from the stored one is refused
    val ex = intercept[IllegalArgumentException] {
      llm.Similarity.appendLshIndexForBatch(
        emb.limit(5), path, batchId = 1L, numPlanes = np + 1)
    }
    assert(ex.getMessage.contains("mix signature widths"))
    // a hand-corrupted mixed-width index is refused by every consumer
    // (localCheckpoint breaks the read-while-write lineage on buckets)
    spark.read.parquet(s"$path/buckets").limit(10).localCheckpoint()
      .withColumn("np", lit(np + 1)).withColumn("micro_batch_id", lit(99L))
      .write.mode("append").partitionBy("micro_batch_id", "tbl")
      .parquet(s"$path/buckets")
    val ex2 = intercept[IllegalArgumentException] {
      llm.Similarity.lshNearDupPairsFromIndex(spark, path, 0.3).count()
    }
    assert(ex2.getMessage.contains("mixed signature widths"))
    // half-present index (vectors gone) fails the incremental prober
    // instead of silently degrading to within-batch dedup
    val path2 = "target/lsh_idx_half_test"
    llm.Similarity.writeLshIndex(emb, path2)
    val fs = new org.apache.hadoop.fs.Path(path2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path2/vectors"), true)
    val ex3 = intercept[IllegalArgumentException] {
      llm.Similarity.lshPairsIncremental(spark, path2, emb.limit(5), 0.3)
    }
    assert(ex3.getMessage.contains("half-present"))
    // present-but-EMPTY index (zero bucket rows, e.g. a bulk build
    // over zero eligible vectors) gets its own diagnosis, not the
    // misleading mixed-width rebuild advice (ADVICE r10)
    val path3 = "target/lsh_idx_empty_test"
    spark.read.parquet(s"$path/buckets").filter(lit(false))
      .write.mode("overwrite").parquet(s"$path3/buckets")
    val ex4 = intercept[IllegalArgumentException] {
      llm.Similarity.requireUniformWidth(spark, path3)
    }
    assert(ex4.getMessage.contains("EMPTY"))
    spark.catalog.clearCache()
  }

  test("frame dedup: hash-based counts equal the change-every arithmetic; decode evidence holds") {
    val vids = (0L until 48L).toDF("doc_id") // covers all (nf, ce, dims) residues
    val out = Multimodal.frameDedup(vids).collect()
    assert(out.length == 48)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nf = (Multimodal.SlideFrameBase + id % Multimodal.SlideFrameMod).toInt
      val ce = (1 + id % Multimodal.SlideChangeMod).toInt
      val sampled = (0 until nf).filter(_ % Multimodal.VideoSampleStride == 0)
      val contents = sampled.map(_ / ce)
      assert(r.getAs[Long]("n_frames") == nf && r.getAs[Int]("change_every") == ce)
      assert(r.getAs[Int]("n_sampled") == sampled.length, s"doc $id n_sampled")
      // the load-bearing claim: JPEG-byte hashing distinguishes exactly
      // the designed content indices (the >= 17-luma-step argument)
      assert(r.getAs[Int]("n_distinct") == contents.distinct.length, s"doc $id n_distinct")
      val maxRun = contents.foldLeft((0, -1, 0)) { case ((best, prev, run), c) =>
        val nr = if (c == prev) run + 1 else 1
        (math.max(best, nr), c, nr)
      }._1
      assert(r.getAs[Int]("max_static_run") == maxRun, s"doc $id max_static_run")
      assert(r.getAs[Boolean]("is_slideshow") == (contents.distinct.length < contents.length))
      assert(r.getAs[Boolean]("probe_decoded"), s"doc $id probe frame failed the JPEG codec")
    }
    // the fixture exercises both regimes at stride 2: ce=3 videos show
    // static runs, ce=1 (every frame fresh) never does
    assert(out.exists(_.getAs[Boolean]("is_slideshow")))
    assert(out.exists(r => !r.getAs[Boolean]("is_slideshow")))
  }

  test("image phash: replicas share every bit; banded pairs equal the brute-force Hamming set") {
    // a real id RANGE (the shared 5-doc fixture's cids are all tiny and
    // min-dim-filtered): 200 ids -> 67 cids, ~30 eligible image groups
    val phDocs = (0L until 200L).toDF("doc_id")
    val hs = Multimodal.imageHashes(phDocs).collect().map(h => h.doc_id -> h).toMap
    assert(hs.nonEmpty)
    // eligibility is exactly the min-dim rule over cid-derived dims
    hs.keys.foreach { id =>
      val cid = java.lang.Math.floorDiv(id, Multimodal.PhashReplica.toLong)
      assert(1 + java.lang.Math.floorMod(cid, 13L) >= Multimodal.PhashMinDim)
      assert(1 + java.lang.Math.floorMod(cid, 7L) >= Multimodal.PhashMinDim)
    }
    // replica groups: same cid -> identical hash even across png/bmp delivery
    hs.values.groupBy(h => java.lang.Math.floorDiv(h.doc_id, Multimodal.PhashReplica.toLong))
      .foreach { case (cid, g) =>
        assert(g.map(x => (x.b0, x.b1, x.b2, x.b3)).toSet.size == 1,
          s"cid $cid replica hashes diverge")
      }
    // banding is COMPLETE at Hamming <= PhashMaxHamming (< bands), and
    // with no bucket over the cap at this SF the output IS the exact set
    def ham(a: Multimodal.ImageHash, b: Multimodal.ImageHash) =
      Integer.bitCount(a.b0 ^ b.b0) + Integer.bitCount(a.b1 ^ b.b1) +
        Integer.bitCount(a.b2 ^ b.b2) + Integer.bitCount(a.b3 ^ b.b3)
    val ids = hs.keys.toArray.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      d = ham(hs(ids(i)), hs(ids(j))) if d <= Multimodal.PhashMaxHamming
    } yield (ids(i), ids(j)) -> d).toMap
    val rows = Multimodal.phashPairs(phDocs).collect()
    assert(rows.forall(_.getAs[Long]("dropped_buckets") == 0L), "cap bound at test SF?")
    val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      -> r.getAs[Int]("hamming")).toMap
    assert(got == brute,
      s"extra=${(got.keySet -- brute.keySet).take(3)} missing=${(brute.keySet -- got.keySet).take(3)}")
    // the bounded dedup artifact: keep iff min doc_id of the full-hash
    // group; copy count is the group size; replicas share one group
    val ded = Multimodal.phashDedup(phDocs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"),
          r.getAs[Boolean]("keep"))).toMap
    assert(ded.keySet == hs.keySet)
    val byHash = hs.values.groupBy(x => (x.b0, x.b1, x.b2, x.b3))
    byHash.values.foreach { g =>
      val idsG = g.map(_.doc_id)
      idsG.foreach { id =>
        val (canon, n, keep) = ded(id)
        assert(canon == idsG.min && n == idsG.size && keep == (id == idsG.min))
      }
    }
    spark.catalog.clearCache()
  }

  test("media metadata frame offsets evenly spaced") {
    val m = Multimodal.mediaMetadata(docs).filter(col("doc_id") === 0).collect().head
    val n = m.getAs[Long]("n_bytes")
    val offs = m.getAs[String]("frame_offsets").split(",").map(_.toLong).toSeq
    assert(offs === (0 until 10).map(i => i * (n / 10)))
  }

  test("media resize preserves aspect ratio within the target box") {
    Multimodal.mediaResize(docs).collect().foreach { r =>
      val (inW, inH) = (r.getAs[Int]("in_w"), r.getAs[Int]("in_h"))
      val (outW, outH) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      assert(outW <= Multimodal.ResizeW && outH <= Multimodal.ResizeH)
      // one dimension hits the box (up to floor rounding)
      assert(outW >= Multimodal.ResizeW - 1 || outH >= Multimodal.ResizeH - 1)
      // aspect ratio preserved up to floor rounding
      val scale = math.min(Multimodal.ResizeW.toDouble / inW,
        Multimodal.ResizeH.toDouble / inH)
      assert(outW === math.floor(inW * scale).toInt)
      assert(outH === math.floor(inH * scale).toInt)
    }
  }

  test("media summary never reads the content blob column") {
    val plan = Multimodal.mediaSummary(docs).queryExecution.optimizedPlan.toString
    assert(!plan.contains("content")) // pruned before the scan
    val rows = Multimodal.mediaSummary(docs).collect()
    assert(rows.map(_.getAs[String]("media_type")).toSeq ===
      rows.map(_.getAs[String]("media_type")).toSeq.sorted)
    val img = rows.find(_.getAs[String]("media_type") === "image").get
    assert(img.getAs[Long]("n_files") === 2) // doc_ids 0 and 3
  }
  test("dup-span stats: coverage, islands, and the excluded short doc") {
    val spanDocs = Seq(
      // docs 0/1 share the 5-word passage "a b c d e" → its three
      // 3-grams are cross-doc duplicated, one consecutive run of 3
      (0L, "a b c d e f g h", "en", "s0", 15L),
      (1L, "x y a b c d e z", "en", "s1", 15L),
      (2L, "p q r s t u v w", "en", "s2", 15L), // fully unique
      // doc 3 shares "a b c" (pos 0) and "c d e" (pos 6): two islands
      // of length 1 separated by unique grams
      (3L, "a b c q1 q2 q3 c d e", "en", "s3", 20L),
      (4L, "a b", "de", "s4", 3L) // < 3 words → no 3-grams → no row
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dupSpanStats(spanDocs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(0L) === ((6L, 3L, 0.5, 3L)))    // covered at pos 0,1,2
    assert(out(1L) === ((6L, 3L, 0.5, 3L)))    // covered at pos 2,3,4
    assert(out(2L) === ((6L, 0L, 0.0, 0L)))
    assert(out(3L) === ((7L, 2L, 2.0 / 7.0, 1L))) // two size-1 islands
  }

  test("strip dup spans: removes exactly the covered words, rebuilds text") {
    val d = Seq(
      (0L, "a b c d e f g h", "en", "s0", 15L),   // covers words 0..4
      (1L, "x y a b c d e z", "en", "s1", 15L),   // covers words 2..6
      (2L, "p q r s t u v w", "en", "s2", 15L),   // untouched
      (3L, "a b c q1 q2 q3 c d e", "en", "s3", 20L), // covers 0..2 and 6..8
      (4L, "a b", "de", "s4", 3L)                 // sub-k: passes through
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.stripDupSpans(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(0L) === ((8L, 5L, h("f g h"))))
    assert(out(1L) === ((8L, 5L, h("x y z"))))
    assert(out(2L) === ((8L, 0L, h("p q r s t u v w"))))
    assert(out(3L) === ((9L, 6L, h("q1 q2 q3"))))
    assert(out(4L) === ((2L, 0L, h("a b"))))
  }

  test("dup-span stats: within-doc repetition alone is not cross-doc dup") {
    // "m n o" occurs twice in doc 0 but in no other doc → df counts
    // DISTINCT docs, so nothing in either doc is covered
    val d = Seq(
      (0L, "m n o m n o", "en", "s0", 11L),
      (1L, "u v w x y z", "en", "s1", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dupSpanStats(d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq.sorted
    assert(out === Seq((0L, 0L, 0L), (1L, 0L, 0L)))
  }

  test("phrase search counts every overlapping occurrence per doc") {
    val d = Seq(
      (0L, "slow hash batch slow hash batch ok", "en", "s0", 34L),
      (1L, "row column sort and slow hash batch", "en", "s1", 35L),
      (2L, "slow hash only never the full phrase", "en", "s2", 36L),
      (3L, "nothing relevant here at all", "en", "s3", 28L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = llm.Retrieval.phraseSearch(d).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === Map(
      ("slow hash batch", 0L) -> 2L,
      ("slow hash batch", 1L) -> 1L,
      ("row column sort", 1L) -> 1L))
  }

  test("bloom-prefiltered decontamination equals the exact broadcast path") {
    // eval docs are doc_id % 5 == 0; doc 7 copies eval doc 5's text
    // (fully contaminated), doc 11 shares a 3-shingle span, doc 13 is
    // clean. The bloom path must reproduce the exact path bit-for-bit
    // (false positives die in the verify join).
    val d = Seq(
      (5L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 46L),
      (7L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s1", 46L),
      (11L, "intro words then alpha beta gamma delta closing remarks", "en", "s2", 55L),
      (13L, "completely unrelated content about storage engines", "en", "s3", 50L),
      (10L, "another eval document with its own phrasing", "en", "s4", 43L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Curate.decontaminate(d, evalMod = 5L).collect().toSeq
    val bloom = Curate.decontaminateBloom(d, evalMod = 5L).collect().toSeq
    assert(bloom === exact)
    // sanity on content: the verbatim copy is fully contaminated,
    // the clean doc matches nothing
    val byId = bloom.map(r => r.getLong(0) -> r).toMap
    assert(byId(7L).getBoolean(4))
    assert(byId(13L).getLong(2) === 0L)
  }

  test("phrase search matches only exact in-order adjacency") {
    val d = Seq(
      (0L, "batch hash slow", "en", "s0", 15L),       // reversed
      (1L, "slow hash fast batch", "en", "s1", 20L),  // gap breaks it
      (2L, "a slow hash batch b", "en", "s2", 19L)    // embedded match
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = llm.Retrieval.phraseSearch(d).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === Map(("slow hash batch", 2L) -> 1L))
  }
  test("jl projection: exact left-fold values, norms preserved on average") {
    val emb = Tables.embeddings(spark, sf())
    val out = Similarity.jlProject(emb).collect()
    val in = emb.orderBy("vec_id").collect()
    assert(out.length === in.length)
    // recompute p1 of the first vector with the same md5-sign formula
    // and the same ascending-i accumulation order: must match exactly
    val v = in.head.getSeq[Float](1).map(_.toDouble)
    def sign(j: Int, i: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    val expected = (1 to Similarity.Dim)
      .foldLeft(0.0)((acc, i) => acc + v(i - 1) * sign(1, i)) /
      math.sqrt(Similarity.JlK.toDouble)
    assert(out.head.getDouble(1) === expected)
    // JL promise: squared norm is preserved in expectation — check the
    // corpus mean ratio sits in a loose band (k=8 is high-variance)
    val ratios = out.zip(in).map { case (p, o) =>
      val pv = (1 to Similarity.JlK).map(j => p.getDouble(j))
      val ov = o.getSeq[Float](1).map(_.toDouble)
      pv.map(x => x * x).sum / ov.map(x => x * x).sum
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean outside JL band")
  }

  test("jl projection: exactly linear under power-of-two scaling") {
    val emb = Tables.embeddings(spark, sf()).limit(20)
    val scaled = emb.withColumn("embedding",
      expr("transform(embedding, x -> x * 4.0F)"))
    val a = Similarity.jlProject(emb).collect()
      .map(r => r.getLong(0) -> (1 to Similarity.JlK).map(r.getDouble)).toMap
    val b = Similarity.jlProject(scaled).collect()
      .map(r => r.getLong(0) -> (1 to Similarity.JlK).map(r.getDouble)).toMap
    // x4 is exact in IEEE and distributes exactly over the fold, so the
    // projection must scale bit-exactly — any drift means the fold
    // order or sign matrix changed
    a.foreach { case (id, pa) =>
      assert(pa.map(_ * 4.0) === b(id), s"vec $id not exactly linear")
    }
  }

  test("novelty: first copy owns shared shingles, dup scores zero") {
    val nov = Dedup.noveltyScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(nov(0L)._3 === 1.0) // first occurrence of every shingle it has
    assert(nov(1L)._3 === 0.0) // exact dup of 0: nothing first-seen here
    assert(nov(2L)._3 > 0.0 && nov(2L)._3 < 1.0) // near dup: only the changed part
    assert(nov(3L)._3 === 1.0) // unique content
    assert(!nov.contains(4L)) // 2 words < shingle width: filtered
  }

  test("source overlap: dup sources jaccard 1, disjoint sources absent") {
    val m = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    assert(m(("s0", "s1")) === 1.0) // identical single docs
    assert(m(("s0", "s2")) > 0.0 && m(("s0", "s2")) < 1.0)
    assert(!m.keys.exists { case (a, b) => a == "s3" || b == "s3" })
    // symmetric duplicates are not emitted: a < b ordering only
    assert(!m.contains(("s1", "s0")))
  }

  test("shuffle shards: deterministic, in-range, spread, stable under growth") {
    val documents = Tables.documents(spark, sf())
    val a = Curate.shuffleShards(documents).collect()
    val b = Curate.shuffleShards(documents).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) < Curate.NumShards))
    assert(a.map(_.getLong(1)).distinct.length > Curate.NumShards / 2)
    // adding documents never reassigns existing ones
    val grown = documents.union(documents.withColumn("doc_id", col("doc_id") + 1000000L))
    val g = Curate.shuffleShards(grown).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(a.forall(r => g(r.getLong(0)) === ((r.getLong(1), r.getString(2)))))
  }

  test("char-trigram LID learns profiles from labels and separates langs") {
    val d = Seq(
      (0L, "alpha alpha alpha granite granite", "aa", "s", 33L),
      (1L, "alpha granite alpha granite alpha", "aa", "s", 33L),
      (2L, "zephyr zephyr quartz quartz zephyr", "zz", "s", 34L),
      (3L, "quartz zephyr quartz zephyr quartz", "zz", "s", 34L),
      (4L, "alpha granite alpha", "aa", "s", 19L) // held-in doc, clear aa
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.charTrigramLid(d).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(4))).toMap
    assert(out.size === 5)
    assert((0L to 4L).forall(i => out(i)._2), s"misclassified: $out")
    assert(out(4L)._1 === "aa")
  }

  test("pagerank: star center outranks leaves, integer math is exactly stable") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b") // star: 0 is the hub
    val a = Dedup.pageRankFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a(0L)._1 === 2L && a(1L)._1 === 1L) // degrees
    assert(a(0L)._2 > a(1L)._2, s"hub must outrank leaf: $a")
    assert(a(1L) === a(2L)) // symmetric leaves identical
    // exact first-iteration algebra, by hand: n=3, S=1e12
    // base = (15*(S div 3)) div 100; hub gets both leaf contribs
    val b = Dedup.pageRankFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === b) // bit-stable across runs: no float accumulation
    // total mass stays ≈ S (floor losses only shrink it, never grow)
    val total = a.values.map(_._2).sum
    assert(total <= Dedup.PrScale && total > Dedup.PrScale * 9 / 10)
  }

  test("label suspects: the planted mislabel is the only flag") {
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val rows = (0L to 4L).map(i => (i, a, 0)) ++ Seq((5L, a, 1)) ++ // 5 = planted
      (6L to 11L).map(i => (i, b, 1))
    val out = Similarity.labelSuspects(rows.toDF("vec_id", "embedding", "label"), k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(4)))
    assert(out === Seq((5L, 1, 0.0)), s"got ${out.toSeq}")
  }

  test("cluster text quality: per-centroid stats well-formed, ids joined") {
    val emb = Tables.embeddings(spark, sf()).limit(60)
    val documents = Tables.documents(spark, sf())
    val out = Similarity.clusterTextQuality(emb, documents).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(1)).sum === 60L) // every vector lands somewhere
    out.foreach { r =>
      val (mean, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= mean && mean <= hi, s"mean outside [min,max]: $r")
      assert(lo >= 0.0 && hi <= 1.0001)
    }
  }

  test("ivf recall: sampled queries, hits bounded by k, deterministic") {
    val emb = Tables.embeddings(spark, sf())
    val out = Similarity.ivfRecall(emb).collect()
    assert(out.nonEmpty)
    // only the 1-in-20 sample appears, and every recall is well-formed
    assert(out.forall(r => r.getLong(0) % Similarity.RecallSampleMod == 0))
    assert(out.forall { r =>
      val (ne, nh, rec) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      nh >= 0 && nh <= ne && rec >= 0.0 && rec <= 1.0 && rec == nh.toDouble / ne
    })
    // the index must find SOME true neighbors overall
    assert(out.map(_.getLong(2)).sum > 0L, "IVF found zero true neighbors")
    val again = Similarity.ivfRecall(emb).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("bpe trainer: greedy merges, weighted counts, stops when pairs run out") {
    // dict: aaab x3, ab x2. By hand:
    //   round 1: (a,a) 2x3=6 beats (a,b) 3+2=5 -> merge aa; aaab -> [aa,a,b]
    //   round 2: (a,b) 3+2=5 beats (aa,a) 3    -> merge ab; -> [aa,ab], [ab]
    //   round 3: (aa,ab) 3                      -> merge aaab
    //   round 4: no adjacent pairs left         -> no row emitted
    val d = Seq((0L, "aaab aaab aaab ab ab", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.bpeTrain(d, merges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out === Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("bpe encoder: subtoken counts reflect the learned merges") {
    // same dict as the trainer test; after 3 effective merges the
    // segmentations are aaab -> [aaab] (1 token), ab -> [ab] (1 token)
    val d = Seq(
      (0L, "aaab aaab aaab ab", "en", "s", 17L),
      (1L, "aaab ab", "en", "s", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.bpeEncode(d, merges = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out(0L) === ((4L, 4L, 14L, 14.0 / 4.0)))
    assert(out(1L) === ((2L, 2L, 6L, 3.0)))
  }

  test("bpe roundtrip: every dict word's segmentation rejoins exactly") {
    val d = Seq(
      (0L, "aaab aaab aaab ab", "en", "s", 17L),
      (1L, "aaab ab ba", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.bpeRoundtrip(d, merges = 4).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Int]("n_sub"),
        r.getAs[Boolean]("roundtrip_ok")))
    assert(out.map(_._1).toSeq === Seq("aaab", "ab", "ba")) // dict, sorted
    assert(out.forall(_._3), s"segmentation lost characters: $out")
    // merged words segment to fewer subtokens than their length
    assert(out.find(_._1 == "aaab").get._2 < 4)
  }

  test("dedupDecision: every doc gets a verdict, duplicates share one canonical") {
    val d = Seq(
      (1L, "same text", "en", "s", 9L),
      (2L, "same text", "en", "s", 9L),
      (3L, "unique", "en", "s", 6L),
      (4L, null: String, "en", "s", 0L),
      (5L, null: String, "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dedupDecision(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"),
          r.getAs[Boolean]("is_canonical"))).toMap
    assert(out.size === 5, "a document vanished from the decision record")
    assert(out(1L) === ((1L, 2L, true)) && out(2L) === ((1L, 2L, false)))
    assert(out(3L) === ((3L, 1L, true)))
    // NULL texts form ONE group (no join, so no NULL-key drop)
    assert(out(4L) === ((4L, 2L, true)) && out(5L) === ((4L, 2L, false)))
    // the kept set reconciles with exactDedup's representatives
    val reps = Dedup.exactDedup(d).select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2._3).keySet === reps)
  }

  test("dsir weights: target-language docs outweigh off-target docs") {
    val d = ((0L until 10L).map(i =>
        (i, "solar panels store bright energy cleanly", "en", "s", 40L)) ++
      (10L until 20L).map(i =>
        (i, "gravel trucks haul heavy cargo slowly", "de", "s", 38L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.dsirWeights(d).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3)))
    val (en, de) = out.partition(_._1 < 10L)
    assert(en.map(_._2).min > de.map(_._2).max,
      s"en weights must dominate: $out")
    assert(en.forall(_._3) && de.forall(!_._3)) // median splits the langs
    // deterministic across runs
    val again = Curate.dsirWeights(d).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq === again.toSeq)
  }

  test("curation funnel: each stage eats exactly its target docs") {
    // 35 distinct words (dense shingle set so the near-dup pair is
    // firmly inside LSH recall), stopwords present, mean wlen in band
    val good = "the quick brown fox leaps over lazy dogs and runs past " +
      "tall green trees near blue lake with cold wind from north hill " +
      "then turns back home to rest under warm sun light all day"
    // near dup: only the LAST word changes -> shingle jaccard ~0.89
    val near = (good.split(" ").dropRight(1) :+ "cats").mkString(" ")
    // rule-fail: unique content (not a near dup of good), brace word
    val braced = Seq.fill(7)("a tiny red snake rests").mkString(" ") + " {"
    val d = Seq(
      (0L, good, "en", "s", good.length.toLong),
      (1L, good, "en", "s", good.length.toLong),   // exact dup -> stage 2
      (2L, near, "en", "s", 0L),                   // near dup  -> stage 3
      (3L, braced, "en", "s", 0L)                  // brace     -> stage 4
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.curationFunnel(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("1_raw")._1 === 4L && out("1_raw")._3 === 1.0)
    assert(out("2_exact_dedup")._1 === 3L)  // doc 1 gone
    assert(out("3_near_dedup")._1 === 2L)   // doc 2 gone
    assert(out("4_rules")._1 === 1L)        // doc 3 gone (brace)
    assert(out("5_quality")._1 <= 1L)
    // docs and tokens are monotone non-increasing down the funnel
    val order = Seq("1_raw", "2_exact_dedup", "3_near_dedup", "4_rules", "5_quality")
    order.sliding(2).foreach { case Seq(x, y) =>
      assert(out(x)._1 >= out(y)._1 && out(x)._2 >= out(y)._2)
    }
  }

  test("split leakage: cross-split near-dups flagged, within-split not") {
    // 40 copies of one text: every pair is a jaccard-1.0 near-dup;
    // leakage = exactly the pairs whose hash-splits differ
    val txt = "the quick brown fox jumps over the lazy dog today"
    val d = (0L until 40L).map(i => (i, txt, "en", "s", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def expectedSplit(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      val b = java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16) % 100
      if (b < 80) "train" else if (b < 90) "validation" else "test"
    }
    val rows = Curate.splitLeakage(d).collect()
    assert(rows.nonEmpty, "identical docs across hash splits must leak")
    rows.foreach { r =>
      assert(r.getString(1) === expectedSplit(r.getLong(0)))
      assert(r.getString(3) === expectedSplit(r.getLong(2)))
      assert(r.getString(1) !== r.getString(3))
      assert(r.getDouble(4) === 1.0)
    }
    // completeness: every cross-split pair is present
    val splits = (0L until 40L).map(i => i -> expectedSplit(i)).toMap
    val expected = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if splits(a) != splits(b)
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet === expected)
  }

  test("dup-quality correlation: dup-heavy low quality drives r negative") {
    val lowQ = "a b a b a b"
    val highQ = ("substantial unique content about distributed query engines " * 5).trim
    val d = Seq(
      (0L, lowQ, "en", "s", 11L), (1L, lowQ, "en", "s", 11L),       // dups, low q
      (2L, highQ + " one", "en", "s", 300L),
      (3L, highQ + " two", "en", "s", 300L)                          // unique, high q
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.dupQualityCorr(d).collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 2L)
    assert(r.getDouble(2) < -0.5, s"expected strongly negative r, got $r")
    // zero dup variance -> NULL r, never NaN
    val unique = Seq((0L, "aa bb cc", "en", "s", 8L), (1L, "dd ee ff", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.dupQualityCorr(unique).collect().head.isNullAt(2))
  }

  test("length buckets: pow-2 caps, exact counts, waste math") {
    val d = Seq(
      (0L, "a", "en", "s", 1L),             // 1 word  -> cap 1
      (1L, "a b c", "en", "s", 5L),         // 3 words -> cap 4
      (2L, "a b c d", "en", "s", 7L),       // 4 words -> cap 4
      (3L, "a b c d e", "en", "s", 9L)      // 5 words -> cap 8
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.lengthBuckets(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) === ((1L, 1L, 1L, 0.0)))
    assert(out(4L) === ((2L, 7L, 8L, 1.0 - 7.0 / 8.0)))
    assert(out(8L) === ((1L, 5L, 8L, 1.0 - 5.0 / 8.0)))
    assert(out.keySet === Set(1L, 4L, 8L))
  }
}

class TopKAggSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("top_k_by: bounded heap matches window ranking incl. ties, across partitions") {
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.9), (1L, 13L, 0.1), (1L, 14L, 0.8),
      (2L, 20L, 0.5), (2L, 21L, 0.5), (2L, 22L, 0.5), (2L, 23L, 0.4))
    val df = rows.toDF("q", "id", "score").repartition(7)
    val out = df.groupBy("q")
      .agg(call_function("top_k_by", col("score"), col("id"), lit(3)).as("top"))
      .select(col("q"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q"), col("pos"), col("e.id"), col("e.score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // q=1: score desc, id asc on ties → 10(0.9), 12(0.9), 11(0.8)
    assert(out === Set(
      (1L, 0, 10L, 0.9), (1L, 1, 12L, 0.9), (1L, 2, 11L, 0.8),
      (2L, 0, 20L, 0.5), (2L, 1, 21L, 0.5), (2L, 2, 22L, 0.5)))
  }

  test("top_k_by: k larger than group returns whole group sorted") {
    val df = Seq((1L, 5L, 0.3), (1L, 6L, 0.7)).toDF("q", "id", "score")
    val top = df.groupBy("q")
      .agg(call_function("top_k_by", col("score"), col("id"), lit(10)).as("top"))
      .select(explode(col("top")).as("e")).select("e.id")
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(6L, 5L))
  }

  test("minhash estimate: identical docs estimate jaccard 1.0 within tolerance") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en", "s0", 49L),
      (1L, "the quick brown fox jumps over the lazy dog today", "en", "s1", 49L),
      (2L, "the quick brown fox jumps over the lazy cat today", "en", "s2", 49L),
      (3L, "completely different words here about spark engines", "en", "s3", 52L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.minhashEstimateCheck(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val (j01, e01, ok01) = out((0L, 1L))
    // exact dup and sets smaller than k: bottom-k degenerates to exact
    assert(j01 === 1.0 && e01 === 1.0 && ok01)
    val (j02, e02, ok02) = out((0L, 2L))
    assert(j02 === e02 && ok02) // sets < k → estimator is exact here too
  }

  test("iqr outliers: single far point flagged, fences from exact quartiles") {
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val vals = Seq(10.0, 11.0, 12.0, 13.0, 14.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1L, "click", v, t, "{}")
    }.toDF("event_id", "user_id", "event_type", "value", "ts", "props")
    val r = pipeline.Windows.iqrOutliers(df).collect().head
    assert(r.getLong(5) === 6L)      // n
    assert(r.getLong(6) === 1L)      // the 1000.0 point
    assert(r.getDouble(1) < r.getDouble(2)) // q1 < q3
  }

  test("c4 filter: each rule fires on its designed violation") {
    val longOk = ("the " + Seq.fill(40)("word").mkString(" ")).trim // 41 words, has stopword
    val rows = Seq(
      (0L, longOk, "en", "s0", 0L),                                  // keep
      (1L, "the short doc", "en", "s1", 0L),                         // too few words
      (2L, longOk + " {code}", "en", "s2", 0L),                      // brace
      (3L, Seq.fill(40)("word").mkString(" "), "en", "s3", 0L),      // no stopword
      (4L, ("the " + Seq.fill(40)("incomprehensibilities").mkString(" ")).trim,
        "en", "s4", 0L)                                              // mean wlen too high
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.c4Filter(rows).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out === Map(0L -> true, 1L -> false, 2L -> false,
      3L -> false, 4L -> false))
  }

  test("mixture sample keeps all of the rarest lang, downsamples dominant by sqrt") {
    // 4:1 ratio → dominant rate = floor(1000*sqrt(1/4)) = 500 permille
    val rows = (0L until 80L).map(i => (i, s"doc $i words here", "en", "s", 0L)) ++
      (80L until 100L).map(i => (i, s"doc $i words here", "fr", "s", 0L))
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.mixtureSample(df).collect()
    val rates = out.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rates("fr") === 1000L && rates("en") === 500L)
    val frKept = out.count(_.getString(1) == "fr")
    assert(frKept === 20) // rate 1000 keeps every row
  }

  test("edit-distance pairs: blocked near-dups found, cross-block missed") {
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta " + Seq.fill(10)("x").mkString(" "), "en"),
      (1L, "alpha beta gamma delta epsilon zippy eta theta " + Seq.fill(10)("x").mkString(" "), "en"), // same block, close title
      (2L, "omega beta gamma delta epsilon zeta eta theta " + Seq.fill(10)("x").mkString(" "), "en"), // different first word → missed
      (3L, "alpha " + Seq.fill(60)("y").mkString(" "), "en") // same w1, different length bucket
    ).map { case (i, t, l) => (i, t, l, "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.editDistPairs(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((0L, 1L)))
  }

  test("bigram surprisal: corpus-common bigrams score fewer bits than rare ones") {
    val common = "spark runs fast" // "spark runs" and "runs fast" in every doc
    val rows = (0L until 8L).map(i => (i, common, "en", "s", 0L)) :+
      (8L, "spark runs fast unique continuation", "en", "s", 0L)
    val out = TextStats.bigramSurprisal(rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // doc 8 adds bigrams seen once (9 docs / 1 = bits 3) vs common (9/9 = bits 0)
    assert(out(0L) === 0.0)
    assert(out(8L) > out(0L))
  }

  test("pearson r from integer sums: exact +1 on a perfectly linear relation") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 24).map { h =>
      (h.toLong, 7L, "click", h * 2.0,
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"), "{}")
    } :+ ((100L, 7L, "view", 5.0, ts0, "{}"))
    val df = rows.toDF("event_id", "user_id", "event_type", "value", "ts", "props")
    val got = pipeline.Windows.corrValueHour(df).collect()
    val click = got.find(_.getString(0) == "click").get
    assert(math.abs(click.getDouble(2) - 1.0) < 1e-12) // value = 2*hour exactly
    val view = got.find(_.getString(0) == "view").get
    assert(view.isNullAt(2)) // single point: zero variance -> NULL, not ANSI error
  }

  test("salted enrich equals the unsalted join aggregate") {
    val events = Seq(
      (1L, 10L, "click", 5.0), (2L, 10L, "view", 7.0),
      (3L, 20L, "click", 1.0), (4L, 99L, "view", 2.0) // 99 has no dim row
    ).toDF("event_id", "user_id", "event_type", "value")
    val customer = Seq((10L, 1L), (20L, 2L)).toDF("c_custkey", "c_nationkey")
    val out = pipeline.Enrich.saltedUserEnrich(events, customer).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((1L, 2L, 12.0), (2L, 1L, 1.0)))
  }

}

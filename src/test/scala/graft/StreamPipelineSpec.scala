package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.Schemas
import graft.util.BatchState
import graft.streaming.{Sessionize, Sources, StreamPipeline}
import java.sql.Timestamp
import java.nio.file.Files

class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def txnJson(id: String, acct: String, typ: String, amount: Double,
                      ts: String, extra: String = ""): String =
    s"""{"transaction_id":"$id","account_id":"$acct","transaction_type":"$typ",""" +
      s""""amount":$amount,"currency":"USD","timestamp":"$ts","status":"completed"$extra}"""

  test("P1/P2 parse: kafka-shaped json decodes against declared schema, missing fields null") {
    val df = Seq(("ACC1", txnJson("T1", "ACC1", "deposit", 1500.0, "2024-01-01T10:15:00")))
      .toDF("key", "value")
    val parsed = StreamPipeline.parse(df)
    val r = parsed.collect().head
    assert(r.getAs[String]("transaction_id") === "T1")
    assert(r.getAs[Double]("amount") === 1500.0)
    assert(r.getAs[String]("customer_id") === null)   // missing → null
    assert(parsed.columns.contains("merchant_info"))
  }

  test("P3+P6 typed + enrich: reference thresholds 1000/500/100") {
    val rows = Seq(
      ("T1", "A", "deposit", 1000.01), ("T2", "A", "deposit", 1000.0),
      ("T3", "A", "withdrawal", 500.01), ("T4", "A", "withdrawal", 500.0),
      ("T5", "A", "payment", 100.01), ("T6", "A", "payment", 100.0),
      ("T7", "A", "refund", 99999.0))
    val df = rows.map { case (i, a, t, m) => ("k", txnJson(i, a, t, m, "2024-01-01T00:00:00")) }
      .toDF("key", "value")
    val out = StreamPipeline.pipeline(df)
      .select("transaction_id", "transaction_category")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map(
      "T1" -> "large_deposit", "T2" -> "regular_deposit",
      "T3" -> "large_withdrawal", "T4" -> "regular_withdrawal",
      "T5" -> "large_payment", "T6" -> "regular_payment",
      "T7" -> "refund"))
  }

  test("P8 account enrichment fills customer and metadata via broadcast join") {
    val txn = StreamPipeline.typed(StreamPipeline.parse(
      Seq(("k", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        ("k", txnJson("T2", "ACC9", "deposit", 10.0, "2024-01-01T00:00:00")))
        .toDF("key", "value")))
    val accounts = Seq(("ACC1", "CUST7", "checking", "active"))
      .toDF("account_id", "customer_id", "account_type", "account_status")
    val out = StreamPipeline.enrichWithAccounts(txn, accounts)
      .select("transaction_id", "customer_id", "metadata", "enrichment_status")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getAs[Map[String, String]]("metadata"), r.getString(3)))).toMap
    assert(out("T1")._1 === "CUST7")
    assert(out("T1")._2 === Map("account_type" -> "checking", "account_status" -> "active"))
    assert(out("T1")._3 === "enriched_with_account")
    assert(out("T2")._1 === null)
    assert(out("T2")._3 === "no_account_info")
  }

  test("A1/A2 watermarked windowed agg over MemoryStream (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val parsed = StreamPipeline.typed(StreamPipeline.parse(
      mem.toDF().toDF("key", "value")))
    val agg = StreamPipeline.windowedAgg(parsed)
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 100.0, "2024-01-01T10:05:00")),
        ("A", txnJson("T2", "ACC1", "deposit", 50.0, "2024-01-01T10:55:00")),
        ("A", txnJson("T3", "ACC2", "payment", 20.0, "2024-01-01T10:30:00")))
      q.processAllAvailable()
      // advance watermark past 11:00+30min so the 10:00 window closes
      mem.addData(("A", txnJson("T9", "ACC3", "deposit", 1.0, "2024-01-01T12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select("account_id", "transaction_count", "total_amount")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows === Set(("ACC1", 2L, 150.0), ("ACC2", 1L, 20.0)))
    } finally q.stop()
  }

  test("S2 kafka sink shape: key=account_id, value=null-stripped json") {
    val df = StreamPipeline.parse(
      Seq(("k", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")))
        .toDF("key", "value"))
    val r = StreamPipeline.kafkaSinkShape(df).collect().head
    assert(r.getString(0) === "ACC1")
    assert(r.getString(1).contains(""""transaction_id":"T1""""))
    assert(!r.getString(1).contains("customer_id")) // null stripped
  }

  test("S8 dual sink via foreachBatch writes valid + dead-letter parquet") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_dual").toString
    val mem = MemoryStream[(String, String)]
    val parsed = StreamPipeline.typed(StreamPipeline.parse(mem.toDF().toDF("key", "value")))
    val q = Sources.dualSinkQuery(parsed, s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
    try {
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        ("A", txnJson("T2", "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/main").select("transaction_id")
        .collect().map(_.getString(0)).toSeq === Seq("T1"))
      assert(spark.read.parquet(s"$tmp/dead").select("transaction_id")
        .collect().map(_.getString(0)).toSeq === Seq("T2"))
    } finally q.stop()
  }

  test("retrySplit routes valid, retryable under the bound, and dead-letter") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("transaction_id").collect().map(_.getString(0)).toSet
    val noCount = Seq(
      ("T1", "ACC1", 10.0),          // valid
      ("T2", null: String, 5.0),     // unknown account: retryable
      ("T3", "ACC1", -1.0),          // bad amount never heals
      ("T4", null: String, -1.0))    // bad amount, no account: not retryable
      .toDF("transaction_id", "account_id", "amount")
      .withColumn("transaction_type", lit("deposit"))
    val (v, r, d) = StreamPipeline.retrySplit(noCount, maxRetries = 2)
    assert(ids(v) === Set("T1") && ids(r) === Set("T2") && ids(d) === Set("T3", "T4"))
    assert(r.select("retry_count").as[Int].collect().toSeq === Seq(0)) // absent → 0
    // a re-ingested record parks while retry_count < maxRetries, then dies
    val counted = Seq(("T5", 1), ("T6", 2)).toDF("transaction_id", "retry_count")
      .withColumn("account_id", lit(null).cast("string"))
      .withColumn("amount", lit(5.0))
      .withColumn("transaction_type", lit("deposit"))
    val (v2, r2, d2) = StreamPipeline.retrySplit(counted, maxRetries = 2)
    assert(ids(v2).isEmpty && ids(r2) === Set("T5") && ids(d2) === Set("T6"))
  }

  test("S8 retry loop: retryable records re-enter and converge within maxRetries") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_retry").toString
    val mem = MemoryStream[(String, String)]
    val fresh = StreamPipeline.parse(mem.toDF().toDF("key", "value")).drop("kafka_key")
    val q = Sources.retryLoopQuery(fresh, s"$tmp/retry", s"$tmp/main",
      s"$tmp/dead", s"$tmp/ckpt", maxRetries = 2)
    try {
      mem.addData(
        // valid → main
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        // well-formed but unknown account → retryable
        ("A", s"""{"transaction_id":"T2","transaction_type":"deposit",""" +
          s""""amount":5.0,"currency":"USD","timestamp":"2024-01-01T00:00:00"}"""),
        // bad amount → permanent failure, straight to dead-letter
        ("A", txnJson("T3", "ACC1", "deposit", -1.0, "2024-01-01T00:00:00")))
      // processAllAvailable loops until no source has new data, and the
      // parked retry files ARE new data for the union source — so one
      // call drains the whole feedback loop; maxRetries bounds it.
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/main").select("transaction_id")
        .collect().map(_.getString(0)).toSeq === Seq("T1"))
      // T2 was re-ingested twice (retry_count 1 then 2 parked), then
      // dead-lettered at retry_count == maxRetries; T3 died immediately
      val dead = spark.read.parquet(s"$tmp/dead")
        .select("transaction_id", "retry_count")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(dead === Map("T2" -> 2, "T3" -> 0))
      // the parked generations are on the retry topic dir — one
      // batch_<id>/ subdir per parking trigger (the crash-replay-safe
      // layout: a replayed batch overwrites its own subdir)
      val parked = spark.read.parquet(s"$tmp/retry/batch_*")
        .select("transaction_id", "retry_count")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toSet
      assert(parked === Set("T2" -> 1, "T2" -> 2))
    } finally q.stop()
  }

  test("streaming near-dup dedup: index, within-batch, and cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_neardup").toString
    val base = "the quick brown fox jumps over the lazy dog today"
    // seed index with doc 0
    graft.llm.Dedup.writeShingleIndex(
      Seq((0L, base, "en", "s", 49L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/idx")
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.nearDupDedupQuery(docs, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.8)
    try {
      // batch 1: 10 dups the index, 11/12 are exact dups of each other
      // (lower id 11 survives), 13 is novel
      mem.addData(
        (10L, base, "en", "s", 49L),
        (11L, "completely different words here about spark engines today ok", "en", "s", 60L),
        (12L, "completely different words here about spark engines today ok", "en", "s", 60L),
        (13L, "an entirely novel document with its own unique content words", "en", "s", 60L))
      q.processAllAvailable()
      val clean1 = spark.read.parquet(s"$tmp/clean")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(clean1 === Set(11L, 13L))
      // batch 2: 20 dups batch-1 survivor 11 (now indexed), 21 novel
      mem.addData(
        (20L, "completely different words here about spark engines today ok", "en", "s", 60L),
        (21L, "yet another brand new text that matches nothing else at all", "en", "s", 60L))
      q.processAllAvailable()
      val clean2 = spark.read.parquet(s"$tmp/clean")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(clean2 === Set(11L, 13L, 21L))
      // the index grew to exactly the seed + survivors
      assert(spark.read.parquet(s"$tmp/idx").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(0L, 11L, 13L, 21L))
    } finally q.stop()
  }

  test("streaming semantic dedup: index, within-batch, cross-batch, null pass-through") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_semdedup").toString
    val vecs = Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull).orderBy("vec_id").limit(4)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect()
    val (v0, v1, v2, v3) = (vecs(0), vecs(1), vecs(2), vecs(3))
    // bulk-seed the index with vector 0; its width pins every append
    val np = graft.llm.Similarity.writeLshIndex(
      Seq((0L, v0)).toDF("vec_id", "embedding"), s"$tmp/idx")
    val mem = MemoryStream[(Long, Option[Seq[Double]])]
    val emb = mem.toDF().toDF("vec_id", "embedding")
    // threshold 0.9999: only exact vector copies count as dups, so the
    // assertions don't depend on the fixture's pairwise cosines
    val q = Sources.semanticDedupQuery(emb, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.9999)
    try {
      // 10 dups the indexed v0; 11/12 are copies (lower id survives);
      // 13 novel; 14 has no embedding and must pass through untouched
      mem.addData(
        (10L, Some(v0)), (11L, Some(v1)), (12L, Some(v1)),
        (13L, Some(v2)), (14L, None))
      q.processAllAvailable()
      val clean1 = spark.read.parquet(s"$tmp/clean")
        .select("vec_id").as[Long].collect().toSet
      assert(clean1 === Set(11L, 13L, 14L))
      // batch 2: 20 dups batch-1 survivor 11 (now indexed), 21 novel
      mem.addData((20L, Some(v1)), (21L, Some(v3)))
      q.processAllAvailable()
      val clean2 = spark.read.parquet(s"$tmp/clean")
        .select("vec_id").as[Long].collect().toSet
      assert(clean2 === Set(11L, 13L, 14L, 21L))
      // width pinned by the seed build; vectors grew to seed +
      // non-null survivors (14 is in the clean sink, not the index)
      assert(graft.llm.Similarity.storedIndexWidth(spark, s"$tmp/idx")
        === Some(np))
      assert(spark.read.parquet(s"$tmp/idx/vectors").select("vec_id")
        .as[Long].collect().toSet === Set(0L, 11L, 13L, 21L))
      // maintenance: compaction folds the per-trigger partitions into
      // the bulk partition without changing ANY read result
      val before = spark.read.parquet(s"$tmp/idx/buckets")
        .select("vec_id", "tbl", "bucket", "np")
        .as[(Long, Int, Long, Int)].collect().toSet
      BatchState.compactState(spark, s"$tmp/idx")
      val after = spark.read.parquet(s"$tmp/idx/buckets")
      assert(after.select("vec_id", "tbl", "bucket", "np")
        .as[(Long, Int, Long, Int)].collect().toSet === before)
      assert(after.select("micro_batch_id").distinct().as[Long].collect().toSeq
        === Seq(-1L), "compaction must leave only the bulk partition")
      assert(graft.llm.Similarity.storedIndexWidth(spark, s"$tmp/idx")
        === Some(np))
    } finally q.stop()
  }

  test("streaming curation ledger: incremental verdicts equal the batch ledger") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_stream_ledger").toString
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.curationLedgerQuery(docs, s"$tmp/state", s"$tmp/ledger",
      s"$tmp/ckpt")
    // media content derives from doc_id arithmetic, so consecutive ids
    // exercise image/audio replicas naturally; text dups are planted
    // both within batch 1 (5 copies 3) and across batches (12 copies 2)
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    try {
      mem.addData((0L to 9L).map(i =>
        doc(i, if (i == 5) "copy target three" else
          if (i == 3) "copy target three" else s"unique text $i")): _*)
      q.processAllAvailable()
      mem.addData((10L to 19L).map(i =>
        doc(i, if (i == 12) "unique text 2" else s"unique text $i")): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/ledger")
        .select("doc_id", "text_keep", "image_keep", "audio_keep",
          "max_silence_run", "is_slideshow", "keep")
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      // batch-recompute the ledger over ALL docs ever streamed:
      // verdicts must agree column-for-column (monotone-id arrival)
      val all = ((0L to 9L).map(i =>
        doc(i, if (i == 5) "copy target three" else
          if (i == 3) "copy target three" else s"unique text $i")) ++
        (10L to 19L).map(i =>
          doc(i, if (i == 12) "unique text 2" else s"unique text $i")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val batch = graft.llm.Multimodal.curationLedger(all).collect()
      assert(batch.length == streamed.size)
      batch.foreach { b =>
        val s = streamed(b.getAs[Long]("doc_id"))
        for (c <- Seq("text_keep", "audio_keep", "is_slideshow", "keep"))
          assert(s.getAs[Boolean](c) == b.getAs[Boolean](c),
            s"doc ${b.getAs[Long]("doc_id")} col $c")
        assert(Option(s.getAs[java.lang.Boolean]("image_keep"))
          == Option(b.getAs[java.lang.Boolean]("image_keep")),
          s"doc ${b.getAs[Long]("doc_id")} image_keep")
        assert(s.getAs[Int]("max_silence_run")
          == b.getAs[Int]("max_silence_run"))
      }
      // the planted text dups resolved as designed
      assert(streamed(3L).getAs[Boolean]("text_keep"))
      assert(!streamed(5L).getAs[Boolean]("text_keep"))
      assert(!streamed(12L).getAs[Boolean]("text_keep"))
      // indexes grew: every novel fingerprint of both batches stored
      assert(spark.read.parquet(s"$tmp/state/text").select("fp")
        .distinct().count() == 18) // 20 docs - 2 dup texts
    } finally q.stop()
    // maintenance (round 11): compaction is mutually exclusive with a
    // held append lease, and folds every per-trigger partition into
    // micro_batch_id=-1 without changing ANY read result
    val beforeFps = Seq("text", "image", "audio").map { sub =>
      sub -> spark.read.parquet(s"$tmp/state/$sub").select("fp")
        .as[String].collect().toSet
    }.toMap
    BatchState.acquireLease(spark, s"$tmp/state", "append:99")
    val ex = intercept[IllegalArgumentException] {
      BatchState.compactState(spark, s"$tmp/state")
    }
    assert(ex.getMessage.contains("write-locked by 'append:99'"))
    BatchState.releaseLease(spark, s"$tmp/state")
    BatchState.compactState(spark, s"$tmp/state")
    Seq("text", "image", "audio").foreach { sub =>
      val idx = spark.read.parquet(s"$tmp/state/$sub")
      assert(idx.select("fp").as[String].collect().toSet === beforeFps(sub),
        s"compaction changed the $sub fingerprint set")
      assert(idx.select("micro_batch_id").distinct().as[Long].collect().toSeq
        === Seq(-1L), s"$sub must hold only the bulk partition")
    }
  }

  test("streaming sequence packing equals a batch repack of everything streamed") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_stream_pack").toString
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.packSequencesQuery(docs, s"$tmp/state", s"$tmp/packed",
      s"$tmp/ckpt")
    def doc(id: Long, lang: String, words: Int) =
      (id, Seq.fill(words)("w").mkString(" "), lang, "s", words.toLong)
    try {
      // batch 1: two languages, en crosses a 256-token boundary mid-doc
      mem.addData(doc(1, "en", 200), doc(2, "en", 100), doc(3, "de", 50))
      q.processAllAvailable()
      // batch 2: packing must CONTINUE from the carried totals
      mem.addData(doc(4, "en", 30), doc(5, "de", 300), doc(6, "fr", 10))
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/packed")
        .select("doc_id", "lang", "n_tokens", "seq_id", "n_seqs_spanned")
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val all = Seq(doc(1, "en", 200), doc(2, "en", 100), doc(3, "de", 50),
        doc(4, "en", 30), doc(5, "de", 300), doc(6, "fr", 10))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val batch = graft.llm.Curate.packSequences(all)
        .as[(Long, String, Long, Long, Long)].collect().toSeq
      assert(streamed == batch)
      // the boundary doc really did land where the carried total says:
      // en doc 4 starts at token 300 -> sequence 1
      assert(streamed.find(_._1 == 4L).get._4 == 1L)
      // state is per-batch deltas; totals recover by sum
      val totals = spark.read.parquet(s"$tmp/state")
        .groupBy("lang").agg(sum("batch_tokens").as("t"))
        .as[(String, Long)].collect().toMap
      assert(totals == Map("en" -> 330L, "de" -> 350L, "fr" -> 10L))
    } finally q.stop()
    // maintenance (round 11): delta compaction preserves the sum-over-
    // partitions contract exactly and leaves only the bulk partition
    BatchState.compactState(spark, s"$tmp/state")
    val compacted = spark.read.parquet(s"$tmp/state")
    assert(compacted.groupBy("lang").agg(sum("batch_tokens").as("t"))
      .as[(String, Long)].collect().toMap
      === Map("en" -> 330L, "de" -> 350L, "fr" -> 10L))
    assert(compacted.select("micro_batch_id").distinct().as[Long].collect().toSeq
      === Seq(-1L))
  }

  test("curation ledger replay: the batch's own crashed index write cannot flip verdicts") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_ledger_replay").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    val b0 = (0L to 9L).map(i => doc(i, s"unique text $i"))
    val b0df = b0.toDF("doc_id", "text", "lang", "source", "n_chars")
    // simulate the exact on-disk state a REPLAY of batch 0 sees: the
    // first attempt wrote every novel fingerprint into micro_batch_id=0 of
    // all three indexes, then died before the checkpoint commit
    // (ADVICE r10). The replayed batch must not read its own crashed
    // partition as "indexed".
    b0df.select(md5(col("text")).as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/text")
    graft.llm.Multimodal.imageHashes(b0df).toDF()
      .select(format_string("%04x%04x%04x%04x",
        col("b3"), col("b2"), col("b1"), col("b0")).as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/image")
    graft.llm.Multimodal.audioFpRows(b0df)
      .select(col("audio_fp").as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/audio")
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.curationLedgerQuery(docs, s"$tmp/state", s"$tmp/ledger",
      s"$tmp/ckpt")
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      val keeps = spark.read.parquet(s"$tmp/ledger")
        .select("doc_id", "text_keep").as[(Long, Boolean)].collect().toMap
      // all ten texts are unique: every replayed verdict keeps. Before
      // the micro_batch_id < batchId read filter, the replay saw its own
      // crashed fingerprints as prior state and flipped all ten to
      // false — permanently, because the ledger write is an overwrite.
      assert(keeps.size == 10, s"expected 10 ledger rows, got $keeps")
      assert(keeps.values.forall(identity),
        s"replay flipped verdicts: $keeps")
    } finally q.stop()
  }

  test("sequence packing replay: the batch's own crashed delta cannot shift bases") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_pack_replay").toString
    def doc(id: Long, lang: String, words: Int) =
      (id, Seq.fill(words)("w").mkString(" "), lang, "s", words.toLong)
    val b0 = Seq(doc(1, "en", 200), doc(2, "en", 100), doc(3, "de", 50))
    // crash state (ADVICE r10): batch 0's per-lang delta landed, the
    // checkpoint never committed. The replay's base read must exclude
    // batch 0's own partition or en packing starts at token 300.
    Seq(("en", 300L), ("de", 50L)).toDF("lang", "batch_tokens")
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state")
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.packSequencesQuery(docs, s"$tmp/state", s"$tmp/packed",
      s"$tmp/ckpt")
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/packed")
        .select("doc_id", "lang", "n_tokens", "seq_id", "n_seqs_spanned")
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val batch = graft.llm.Curate.packSequences(
        b0.toDF("doc_id", "text", "lang", "source", "n_chars"))
        .as[(Long, String, Long, Long, Long)].collect().toSeq
      assert(streamed == batch,
        s"replayed pack diverged from fresh pack: $streamed vs $batch")
      // the delta write stayed idempotent: batch 0's partition was
      // overwritten with the correct totals, not appended beside
      val totals = spark.read.parquet(s"$tmp/state")
        .groupBy("lang").agg(sum("batch_tokens").as("t"))
        .as[(String, Long)].collect().toMap
      assert(totals == Map("en" -> 300L, "de" -> 50L))
    } finally q.stop()
  }

  test("streaming semantic dedup over IMAGE vectors: replicas drop against the index") {
    // the round-11 composition seam end-to-end in streaming: the image
    // feature extractor feeds the SAME incremental LSH dedup the
    // embeddings table uses — no image-specific streaming code at all.
    // PhashReplica consecutive doc_ids carry identical rasters, so
    // their centered feature vectors are exact copies (cosine 1).
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_img_stream").toString
    val rep = graft.llm.Multimodal.PhashReplica.toLong
    // choose one eligible content id (w,h >= PhashMinDim) and stream
    // its three replicas across two batches plus one distinct image
    val base = graft.llm.Multimodal.imageEmbeddings(
        (0L until 200L).toDF("doc_id"))
      .select("vec_id").as[Long].collect().toSet
    val cid = (0L until 200L).find(id => id % rep == 0 &&
      base(id) && base(id + 1) && base(id + 2)).get
    val other = base.find(id => id / rep != cid / rep).get
    def embOf(ids: Seq[Long]) =
      graft.llm.Multimodal.imageEmbeddings(ids.toDF("doc_id"))
        .as[(Long, Array[Float])].collect().toSeq.map {
          case (i, v) => (i, Option(v.map(_.toDouble).toSeq))
        }
    val mem = MemoryStream[(Long, Option[Seq[Double]])]
    val emb = mem.toDF().toDF("vec_id", "embedding")
    val q = Sources.semanticDedupQuery(emb, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.9999)
    try {
      // batch 1: replica pair in-batch (lower id survives) + distinct
      mem.addData(embOf(Seq(cid, cid + 1, other)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
      // batch 2: the third replica arrives later and drops against the
      // persisted index — cross-batch image dedup through ANN state
      mem.addData(embOf(Seq(cid + 2)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
    } finally q.stop()
  }

  test("streaming semantic dedup over AUDIO vectors: replicas drop against the index") {
    // round-12's audioEmbeddings claims the same composition seam the
    // round-11 image test proved (VERDICT r12 "What's wrong" #3: the
    // claim was untested) — the PCM CountSketch extractor feeds the
    // SAME incremental LSH dedup, zero audio-specific streaming code.
    // AudioDedupReplica consecutive doc_ids carry identical PCM in
    // DIFFERENT containers (wav/aiff/au), so their sketch vectors are
    // exact copies (cosine 1): a drop here is container-blind
    // cross-batch dedup through the persisted ANN state.
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_aud_stream").toString
    val rep = graft.llm.Multimodal.AudioDedupReplica.toLong
    val base = graft.llm.Multimodal.audioEmbeddings(
        (0L until 200L).toDF("doc_id"))
      .select("vec_id").as[Long].collect().toSet
    val cid = (0L until 200L).find(id => id % rep == 0 &&
      base(id) && base(id + 1) && base(id + 2)).get
    val other = base.find(id => id / rep != cid / rep).get
    def embOf(ids: Seq[Long]) =
      graft.llm.Multimodal.audioEmbeddings(ids.toDF("doc_id"))
        .as[(Long, Array[Float])].collect().toSeq.map {
          case (i, v) => (i, Option(v.map(_.toDouble).toSeq))
        }
    val mem = MemoryStream[(Long, Option[Seq[Double]])]
    val emb = mem.toDF().toDF("vec_id", "embedding")
    val q = Sources.semanticDedupQuery(emb, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.9999)
    try {
      // batch 1: replica pair in-batch (lower id survives) + distinct
      mem.addData(embOf(Seq(cid, cid + 1, other)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
      // batch 2: the third replica arrives in yet another container
      // and drops against the persisted index
      mem.addData(embOf(Seq(cid + 2)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
    } finally q.stop()
  }

  test("streaming semantic dedup over VIDEO vectors: replicas drop against the index") {
    // round-13 closes the modality matrix: the pooled-DIB clip-vector
    // extractor rides the identical seam — replicas share rasters in
    // containers differing only in fps header (VideoAnnReplica).
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_vid_stream").toString
    val rep = graft.llm.Multimodal.VideoAnnReplica.toLong
    val base = graft.llm.Multimodal.videoEmbeddings(
        (0L until 200L).toDF("doc_id"))
      .select("vec_id").as[Long].collect().toSet
    val cid = (0L until 200L).find(id => id % rep == 0 &&
      base(id) && base(id + 1) && base(id + 2)).get
    val other = base.find(id => id / rep != cid / rep).get
    def embOf(ids: Seq[Long]) =
      graft.llm.Multimodal.videoEmbeddings(ids.toDF("doc_id"))
        .as[(Long, Array[Float])].collect().toSeq.map {
          case (i, v) => (i, Option(v.map(_.toDouble).toSeq))
        }
    val mem = MemoryStream[(Long, Option[Seq[Double]])]
    val emb = mem.toDF().toDF("vec_id", "embedding")
    val q = Sources.semanticDedupQuery(emb, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.9999)
    try {
      mem.addData(embOf(Seq(cid, cid + 1, other)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
      mem.addData(embOf(Seq(cid + 2)): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("vec_id")
        .as[Long].collect().toSet === Set(cid, other))
    } finally q.stop()
  }

  test("streaming url dedup equals batch urlDedup under monotone arrival") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_url_stream").toString
    def doc(id: Long) = (id, s"text $id", "en", "s", 7L)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.urlDedupQuery(docs, s"$tmp/state", s"$tmp/out",
      s"$tmp/ckpt")
    try {
      // (domain, path) keys repeat every lcm(23, 4) = 92 ids, so both
      // batches contain within-batch mirrors AND cross-batch mirrors
      mem.addData((0L to 99L).map(doc): _*)
      q.processAllAvailable()
      mem.addData((100L to 199L).map(doc): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/out")
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      val batch = graft.llm.Curate.urlDedup(
        (0L to 199L).map(doc).toDF("doc_id", "text", "lang", "source", "n_chars"))
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      assert(streamed.size == 200)
      assert(streamed === batch)
      // sanity on the fixture: mirrors exist and were dropped
      assert(streamed.count(!_._2) > 0)
    } finally q.stop()
    // maintenance: compaction preserves the key set, lease excludes
    val beforeKeys = spark.read.parquet(s"$tmp/state")
      .select("domain", "path").as[(String, String)].collect().toSet
    BatchState.compactState(spark, s"$tmp/state")
    val after = spark.read.parquet(s"$tmp/state")
    assert(after.select("domain", "path").as[(String, String)]
      .collect().toSet === beforeKeys)
    assert(after.select("micro_batch_id").distinct().as[Long].collect().toSeq
      === Seq(-1L))
  }

  /** The inputs of the two compaction crash-recovery specs: a state
    * root `build` fills with two appended batches, the partitioned dir
    * inside it where the crash is staged, that dir's partition columns
    * below micro_batch_id, and the columns whose rows compaction must
    * keep. The LSH index's `buckets` dir has the nested `tbl`
    * partition. */
  private case class CrashInput(kind: String, build: String => Unit,
                                dir: String => String, nested: Seq[String],
                                key: Seq[String])

  private val compactionCrashInputs = Seq(
    CrashInput("shingle", { root =>
      def docsDf(rows: (Long, String)*) =
        rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
      graft.llm.Dedup.appendShingleIndexForBatch(
        docsDf(1L -> "completely different words here about spark engines today ok"),
        root, batchId = 0L)
      graft.llm.Dedup.appendShingleIndexForBatch(
        docsDf(2L -> "an entirely novel document with its own unique content words"),
        root, batchId = 1L)
    }, identity, Nil, Seq("doc_id", "sig")),
    CrashInput("LSH", { root =>
      val emb = Tables.embeddings(spark, sf())
        .filter(col("embedding").isNotNull).orderBy("vec_id").limit(4)
      val ids = emb.select("vec_id").as[Long].collect()
      graft.llm.Similarity.appendLshIndexForBatch(
        emb.filter(col("vec_id").isin(ids.take(2): _*)), root, batchId = 0L)
      graft.llm.Similarity.appendLshIndexForBatch(
        emb.filter(col("vec_id").isin(ids.drop(2): _*)), root, batchId = 1L)
    }, root => s"$root/buckets", Seq("tbl"), Seq("vec_id", "tbl", "bucket", "np")))

  private def keyRows(in: CrashInput, df: org.apache.spark.sql.DataFrame) =
    df.select(in.key.map(col): _*).collect().toSet

  /** The partition column names directly under the compacted `-1`
    * partition: compaction must keep the nested layout. */
  private def nestedLayout(fs: org.apache.hadoop.fs.FileSystem, d: String) =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/micro_batch_id=-1"))
      .filter(_.isDirectory).map(_.getPath.getName.takeWhile(_ != '=')).toSet

  compactionCrashInputs.foreach { in =>
    test(s"${in.kind} compaction recovery: mid-crash aside partitions roll back, never lost") {
      import org.apache.hadoop.fs.{Path => HPath}
      val tmp = Files.createTempDirectory("graft_compact_recover").toString
      val idx = s"$tmp/idx"
      in.build(idx)
      val d = in.dir(idx)
      val before = keyRows(in, spark.read.parquet(d))
      // simulate a compaction swap that died MID rename loop: one live
      // partition moved aside, root still non-empty, and — as in every
      // real mid-aside crash — the staged replacement still sitting
      // complete under .compact/ (the aside loop only starts after the
      // staged write commits; its presence is what tells recovery the
      // swap-in has NOT happened). The pre-fix recovery guard
      // (root-must-be-empty) skipped this state and the entry deletes
      // then destroyed the moved-aside original (ADVICE r10) — silent
      // loss of batch 0.
      val fs = new HPath(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new HPath(s"$d/.old"))
      fs.mkdirs(new HPath(s"$d/.compact/micro_batch_id=-1"))
      assert(fs.rename(new HPath(s"$d/micro_batch_id=0"),
        new HPath(s"$d/.old/micro_batch_id=0")))
      BatchState.compactState(spark, idx)
      val after = spark.read.parquet(d)
      assert(keyRows(in, after) === before,
        "compaction after a simulated mid-swap crash lost rows")
      assert(after.select("micro_batch_id").distinct().as[Long].collect().toSeq
        === Seq(-1L))
      assert(nestedLayout(fs, d) === in.nested.toSet)
      assert(!fs.exists(new HPath(s"$d/.old")))
      assert(!fs.exists(new HPath(s"$d/.compact")))
    }

    test(s"${in.kind} compaction recovery: crash AFTER swap-in deletes the aside copy, never duplicates") {
      import org.apache.hadoop.fs.{Path => HPath}
      val tmp = Files.createTempDirectory("graft_compact_postswap").toString
      val idx = s"$tmp/idx"
      in.build(idx)
      val d = in.dir(idx)
      val before = keyRows(in, spark.read.parquet(d))
      val beforeCount = spark.read.parquet(d).count()
      // simulate a crash in the window AFTER the staged micro_batch_id=-1
      // swapped in but BEFORE the aside delete finished: root holds ONLY
      // the complete replacement, .old/ holds every original partition,
      // .compact/ is drained of partition dirs. The pre-fix recovery
      // rolled the originals back BESIDE the replacement — every row
      // duplicated, and the rerun baked the duplicates into the new -1
      // (ADVICE r11 high). Recovery must recognize the drained .compact/
      // as swap-complete and DELETE the aside copy instead.
      val fs = new HPath(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new HPath(s"$d/.old"))
      assert(fs.rename(new HPath(s"$d/micro_batch_id=0"),
        new HPath(s"$d/.old/micro_batch_id=0")))
      assert(fs.rename(new HPath(s"$d/micro_batch_id=1"),
        new HPath(s"$d/.old/micro_batch_id=1")))
      // the complete replacement the real swap-in would have moved to
      // the root: the same rows rewritten under micro_batch_id=-1
      spark.read.parquet(s"$d/.old")
        .drop("micro_batch_id").withColumn("micro_batch_id", lit(-1L))
        .write.partitionBy("micro_batch_id" +: in.nested: _*)
        .parquet(s"$d/.stage_tmp")
      assert(fs.rename(new HPath(s"$d/.stage_tmp/micro_batch_id=-1"),
        new HPath(s"$d/micro_batch_id=-1")))
      fs.delete(new HPath(s"$d/.stage_tmp"), true)
      fs.mkdirs(new HPath(s"$d/.compact")) // exists, drained
      BatchState.compactState(spark, idx)
      val after = spark.read.parquet(d)
      assert(after.count() === beforeCount,
        "post-swap crash recovery duplicated rows")
      assert(keyRows(in, after) === before)
      assert(after.select("micro_batch_id").distinct().as[Long].collect().toSeq
        === Seq(-1L))
      assert(nestedLayout(fs, d) === in.nested.toSet)
      assert(!fs.exists(new HPath(s"$d/.old")))
      assert(!fs.exists(new HPath(s"$d/.compact")))
    }
  }

  /** Real corpus rows for the shard-writer tests: the ledger's media
    * replica structure and the quality gate drop synthetic fixtures
    * wholesale; the batch capstone's own tests use the real table for
    * the same reason. Monotone doc_id order — the streaming pack
    * contract. */
  private def realDocRows(n: Int): Seq[(Long, String, String, String, Long)] =
    Tables.documents(spark, sf())
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").limit(n)
      .as[(Long, String, String, String, Long)].collect().toSeq

  test("streaming shard writer: merged shards row-identical to the batch capstone") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_shards_stream").toString
    val docRows = realDocRows(240)
    val (b1, b2) = docRows.splitAt(120)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.trainingShardsQuery(docs, s"$tmp/state", s"$tmp/shards",
      s"$tmp/ckpt")
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val all = docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.llm.Curate.writeTrainingShards(all, s"$tmp/batch_shards")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), col("seq_id"), col("n_docs"), col("n_tokens"),
        col("first_doc"), col("last_doc"), col("shard").cast("int"),
        col("sort_key"))
      .as[(String, Long, Long, Long, Long, Long, Int, String)]
      .collect().toSet
    val streamed = rows(graft.llm.Curate.readTrainingShards(spark, s"$tmp/shards"))
    val batch = rows(spark.read.parquet(s"$tmp/batch_shards"))
    assert(streamed.nonEmpty, "fixture produced no shard rows")
    assert(streamed === batch,
      "streamed shard artifact diverged from the batch capstone")
    // maintenance: compacting all four state dirs under the shared
    // lease leaves the artifact read-back unchanged
    BatchState.compactState(spark, s"$tmp/state")
    assert(rows(graft.llm.Curate.readTrainingShards(spark, s"$tmp/shards"))
      === batch)
  }

  test("streaming shard writer replay: crashed state writes cannot change the artifact") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_shards_replay").toString
    val b0 = realDocRows(120)
    val b0df = b0.toDF("doc_id", "text", "lang", "source", "n_chars")
    // simulate the on-disk state a REPLAY of batch 0 sees: the first
    // attempt landed every novel fingerprint AND the pack delta, then
    // died before the checkpoint commit. The replay must not read its
    // own crashed partitions — or every verdict flips to drop AND the
    // (deliberately inflated) pack delta shifts every seq_id, both of
    // which would diverge from the batch capstone below.
    b0df.select(md5(col("text")).as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/text")
    graft.llm.Multimodal.imageHashes(b0df).toDF()
      .select(format_string("%04x%04x%04x%04x",
        col("b3"), col("b2"), col("b1"), col("b0")).as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/image")
    graft.llm.Multimodal.audioFpRows(b0df)
      .select(col("audio_fp").as("fp")).distinct()
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/audio")
    Seq(("en", 99999L), ("de", 99999L), ("fr", 99999L))
      .toDF("lang", "batch_tokens")
      .withColumn("micro_batch_id", lit(0L))
      .write.partitionBy("micro_batch_id").parquet(s"$tmp/state/pack")
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.trainingShardsQuery(docs, s"$tmp/state", s"$tmp/shards",
      s"$tmp/ckpt")
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
    } finally q.stop()
    graft.llm.Curate.writeTrainingShards(b0df, s"$tmp/batch_shards")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), col("seq_id"), col("n_docs"), col("n_tokens"),
        col("first_doc"), col("last_doc"), col("shard").cast("int"),
        col("sort_key"))
      .as[(String, Long, Long, Long, Long, Long, Int, String)]
      .collect().toSet
    assert(rows(graft.llm.Curate.readTrainingShards(spark, s"$tmp/shards"))
      === rows(spark.read.parquet(s"$tmp/batch_shards")),
      "replayed batch diverged from the batch capstone")
  }

  test("shard-partial occupancy trigger: auto-compaction bounds partitions, artifact unchanged") {
    // VERDICT r12 task 6: nothing asserted WHEN compaction must run —
    // a months-long stream could let the read-side merge degrade
    // unboundedly. The trigger folds PRIOR batches' partials when a
    // trigger finds more than maxPartials partitions, so occupancy
    // never exceeds maxPartials + 1, while the merged read-back stays
    // row-identical to the batch capstone (the associative-merge
    // soundness argument) and crash-replay stays safe (only ids < the
    // current batch fold).
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_shards_occup").toString
    val docRows = realDocRows(240)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.trainingShardsQuery(docs, s"$tmp/state", s"$tmp/shards",
      s"$tmp/ckpt", maxPartials = 2)
    def nPartials(path: String, prefix: String): Int = {
      val d = new java.io.File(path)
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory && f.getName.startsWith(prefix))
    }
    try {
      docRows.grouped(40).foreach { b => // 6 triggers
        mem.addData(b: _*)
        q.processAllAvailable()
        // a trigger folds prior partials when count > K, THEN adds its
        // own partition: occupancy after any trigger is <= K + 1
        assert(nPartials(s"$tmp/shards", "micro_batch_id=") <= 3)
        assert(nPartials(s"$tmp/state/pack", "micro_batch_id=") <= 3)
      }
    } finally q.stop()
    // compaction actually fired: the folded base partitions exist
    assert(new java.io.File(s"$tmp/shards/micro_batch_id=-1").exists())
    assert(new java.io.File(s"$tmp/state/pack/micro_batch_id=-1").exists())
    // the artifact still reads back identical to the batch capstone
    val all = docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.llm.Curate.writeTrainingShards(all, s"$tmp/batch_shards")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), col("seq_id"), col("n_docs"), col("n_tokens"),
        col("first_doc"), col("last_doc"), col("shard").cast("int"),
        col("sort_key"))
      .as[(String, Long, Long, Long, Long, Long, Int, String)]
      .collect().toSet
    assert(rows(graft.llm.Curate.readTrainingShards(spark, s"$tmp/shards"))
      === rows(spark.read.parquet(s"$tmp/batch_shards")),
      "occupancy compaction changed the merged artifact")
  }

  test("streaming postings index: probe equals batch phrase search across compaction") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_postings_stream").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    // planted phrase occurrences: in-batch repeats, cross-doc hits,
    // and a doc with none
    val b1 = Seq(
      doc(1, "alpha slow hash batch omega"),
      doc(2, "row column sort then slow hash batch again slow hash batch"),
      doc(3, "nothing phrase shaped here at all"))
    val b2 = Seq(
      doc(4, "stream table hash stream table hash"),
      doc(5, "slow hash batch"))
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = Sources.postingsIndexQuery(docs, s"$tmp/idx", s"$tmp/ckpt")
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      // compact BETWEEN triggers while the query is live: the probe
      // and the next trigger's append must both see compacted state
      // transparently
      BatchState.compactState(spark, s"$tmp/idx")
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("phrase", "doc_id", "n_hits")
        .as[(String, Long, Long)].collect().toSet
    val streamed = rows(
      graft.llm.Retrieval.phraseSearchFromParquetIndex(spark, s"$tmp/idx"))
    val batch = rows(graft.llm.Retrieval.phraseSearch(
      (b1 ++ b2).toDF("doc_id", "text", "lang", "source", "n_chars")))
    assert(streamed.nonEmpty && streamed.exists(_._3 > 1L),
      "fixture must plant repeated phrase hits")
    assert(streamed === batch,
      "streamed postings probe diverged from the batch phrase search")
  }

  test("concurrent streams: mid-stream compaction between triggers, lease serializes") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_concurrent_compact").toString
    // two co-running streaming queries sharing nothing but the engine:
    // URL dedup and the curation ledger, each with its own state root,
    // each compacted BETWEEN triggers while both queries stay live
    // (VERDICT r11 task 7)
    def udoc(id: Long) = (id, s"text $id", "en", "s", 7L)
    def ldoc(id: Long) = (id, s"unique ledger text $id", "en", "s", 20L)
    val memU = MemoryStream[(Long, String, String, String, Long)]
    val memL = MemoryStream[(Long, String, String, String, Long)]
    val qU = Sources.urlDedupQuery(
      memU.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/ustate", s"$tmp/uout", s"$tmp/uckpt")
    val qL = Sources.curationLedgerQuery(
      memL.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/lstate", s"$tmp/ledger", s"$tmp/lckpt")
    try {
      memU.addData((0L to 99L).map(udoc): _*)
      memL.addData((0L to 49L).map(ldoc): _*)
      qU.processAllAvailable(); qL.processAllAvailable()
      // compact BOTH states while the other query is live — the lease
      // is per state root, so a compactor never races the other stream
      BatchState.compactState(spark, s"$tmp/ustate")
      BatchState.compactState(spark, s"$tmp/lstate")
      // next triggers append against the compacted states
      memU.addData((100L to 199L).map(udoc): _*)
      memL.addData((50L to 99L).map(ldoc): _*)
      qU.processAllAvailable(); qL.processAllAvailable()
      val streamedU = spark.read.parquet(s"$tmp/uout")
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      val batchU = graft.llm.Curate.urlDedup(
        (0L to 199L).map(udoc).toDF("doc_id", "text", "lang", "source", "n_chars"))
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      assert(streamedU === batchU,
        "URL verdicts changed across mid-stream compaction")
      val keepsL = spark.read.parquet(s"$tmp/ledger")
        .select("doc_id", "text_keep").as[(Long, Boolean)].collect().toMap
      assert(keepsL.size == 100 && keepsL.values.forall(identity),
        "ledger verdicts changed across mid-stream compaction")
      // lease serialization, asserted fail-loud: while a compactor
      // holds the state root's lease, a live trigger must REFUSE to
      // append rather than race the swap
      BatchState.acquireLease(spark, s"$tmp/ustate", "compact")
      spark.catalog.clearCache()
      memU.addData(udoc(200L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qU.processAllAvailable()
      }
      assert(e.getMessage.contains("write-locked"),
        s"expected a lease-conflict failure, got: ${e.getMessage}")
      // the refused trigger still unpersisted its batch
      assert(spark.sharedState.cacheManager.isEmpty,
        "a trigger refused by the lease left its batch cached")
      BatchState.releaseLease(spark, s"$tmp/ustate")
    } finally { qU.stop(); qL.stop() }
  }

  test("dedup sinks lease the index before reading it: a refused trigger writes no clean batch, its replay does") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_dedup_lease").toString
    val vecs = Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull).orderBy("vec_id").limit(2)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect()
    val texts = Seq(
      "completely different words here about spark engines today ok",
      "an entirely novel document with its own unique content words")
    val docs = MemoryStream[(Long, String, String, String, Long)]
    val emb = MemoryStream[(Long, Option[Seq[Double]])]
    // per sink: how to start it on a checkpoint, and how to add batch b
    val sinks = Seq[(String,
        (String, String, String) => org.apache.spark.sql.streaming.StreamingQuery,
        Int => Unit)](
      ("shingle",
        Sources.nearDupDedupQuery(
          docs.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"), _, _, _),
        b => docs.addData((b.toLong, texts(b), "en", "s", 60L))),
      ("lsh",
        Sources.semanticDedupQuery(
          emb.toDF().toDF("vec_id", "embedding"), _, _, _, threshold = 0.9999),
        b => emb.addData((b.toLong, Some(vecs(b))))))
    for ((name, start, add) <- sinks) {
      val (idx, clean, ckpt) =
        (s"$tmp/$name/idx", s"$tmp/$name/clean", s"$tmp/$name/ckpt")
      def landed(b: Int) =
        Files.exists(java.nio.file.Paths.get(s"$clean/micro_batch_id=$b"))
      val q = start(idx, clean, ckpt)
      try {
        add(0)
        q.processAllAvailable()
        assert(landed(0), s"$name: batch 0 did not land")
        // a compactor holds the index (say it crashed mid-swap): the
        // next trigger must fail before it reads the index
        BatchState.acquireLease(spark, idx, "compact")
        add(1)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("write-locked"),
          s"$name: expected a lease-conflict failure, got: ${e.getMessage}")
        assert(!landed(1),
          s"$name: batch 1 reached the clean sink from an unleased index read")
      } finally q.stop()
      BatchState.compactState(spark, idx) // reclaims 'compact'
      val replay = start(idx, clean, ckpt)
      try {
        replay.processAllAvailable()
        assert(landed(1), s"$name: the replay did not land batch 1")
      } finally replay.stop()
    }
  }

  test("streaming near-dup dedup cold start: first batch creates the index") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_neardup_cold").toString
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    // no index exists at indexPath — the first micro-batch must fall
    // back to within-batch dedup and create the index from survivors
    val q = Sources.nearDupDedupQuery(docs, s"$tmp/idx", s"$tmp/clean",
      s"$tmp/ckpt", threshold = 0.8)
    try {
      mem.addData(
        (1L, "completely different words here about spark engines today ok", "en", "s", 60L),
        (2L, "completely different words here about spark engines today ok", "en", "s", 60L),
        (3L, "an entirely novel document with its own unique content words", "en", "s", 60L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      assert(spark.read.parquet(s"$tmp/idx").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      // a later batch dedups against the index the cold start created
      mem.addData(
        (9L, "an entirely novel document with its own unique content words", "en", "s", 60L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/clean").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      // maintenance: compaction folds the per-trigger partitions into
      // the bulk partition without changing ANY read result, and the
      // shared write lease excludes a racing appender
      q.stop()
      val before = spark.read.parquet(s"$tmp/idx")
        .select("doc_id", "sig").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      BatchState.acquireLease(spark, s"$tmp/idx", "compact")
      val ex = intercept[IllegalArgumentException] {
        graft.llm.Dedup.appendShingleIndexForBatch(
          Seq((99L, "x", "en", "s", 1L))
            .toDF("doc_id", "text", "lang", "source", "n_chars"),
          s"$tmp/idx", batchId = 9L)
      }
      assert(ex.getMessage.contains("write-locked by 'compact'"))
      BatchState.compactState(spark, s"$tmp/idx") // reclaims
      val after = spark.read.parquet(s"$tmp/idx")
      assert(after.select("doc_id", "sig").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet === before)
      assert(after.select("micro_batch_id").distinct().as[Long].collect().toSeq
        === Seq(-1L), "compaction must leave only the bulk partition")
      // pair generation over the compacted index still works
      assert(graft.llm.Dedup.minhashLshPairsFromIndex(spark, s"$tmp/idx")
        .count() >= 0L)
    } finally q.stop()
  }

  test("corrupt JSON routes to dead-letter: truncated, wrong-type, empty, non-json") {
    val df = Seq(
      ("k1", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")), // clean
      ("k2", """{"transaction_id":"T2","account_id":"ACC1","transa"""),      // truncated
      ("k3", """{"transaction_id":"T3","account_id":"ACC1","transaction_type":"deposit","amount":"not_a_number","timestamp":"2024-01-01T00:00:00"}"""), // wrong type
      ("k4", ""),                                                            // empty
      ("k5", "plainly not json at all"))                                     // garbage
      .toDF("key", "value")
    val (valid, dead) = StreamPipeline.deadLetterSplit(
      StreamPipeline.typed(StreamPipeline.parse(df)))
    assert(valid.select("transaction_id").collect().map(_.getString(0)).toSeq === Seq("T1"))
    // permissive from_json nulls the unparseable rows; the validity
    // predicate then routes every one of them to the dead letter
    assert(dead.count() === 4)
    val deadKeys = dead.select("kafka_key").collect().map(_.getString(0)).toSet
    assert(deadKeys === Set("k2", "k3", "k4", "k5"))
  }

  test("streaming dedup drops duplicate transaction_ids within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val deduped = StreamPipeline.dedupStream(StreamPipeline.typed(
      StreamPipeline.parse(mem.toDF().toDF("key", "value"))))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:05:00")), // dup id
        ("A", txnJson("T2", "ACC1", "deposit", 20.0, "2024-01-01T00:01:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("transaction_id")
        .collect().map(_.getString(0)).toSeq
      assert(ids.sorted === Seq("T1", "T2"))
    } finally q.stop()
  }

  test("streaming dedup passes ALL null-id records through (no null-key collapse)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val deduped = StreamPipeline.dedupStream(StreamPipeline.typed(
      StreamPipeline.parse(mem.toDF().toDF("key", "value"))))
    val q = deduped.writeStream.format("memory").queryName("dedup_null_out")
      .outputMode("append").start()
    try {
      // two DISTINCT malformed records, both with no transaction_id:
      // Spark's dedup treats null keys as equal, so keying them through
      // dropDuplicates would silently discard the second — exactly the
      // rows the dead-letter route downstream must still see
      val noId = (amt: Double, ts: String) =>
        s"""{"account_id":"ACC1","transaction_type":"deposit",""" +
          s""""amount":$amt,"currency":"USD","timestamp":"$ts","status":"completed"}"""
      mem.addData(
        ("A", noId(1.0, "2024-01-01T00:00:00")),
        ("A", noId(2.0, "2024-01-01T00:01:00")),
        ("A", txnJson("T1", "ACC1", "deposit", 3.0, "2024-01-01T00:02:00")))
      q.processAllAvailable()
      val out = spark.table("dedup_null_out")
      assert(out.count() === 3L, "a null-id record was collapsed away")
      assert(out.filter(col("transaction_id").isNull).count() === 2L)
    } finally q.stop()
  }

  test("dedup state stays watermark-bounded across batches (no unbounded growth)") {
    implicit val sqlCtx = spark.sqlContext
    val capture = new graft.streaming.Monitor.ProgressCapture
    spark.streams.addListener(capture)
    val mem = MemoryStream[(String, String)]
    val deduped = StreamPipeline.dedupStream(StreamPipeline.typed(
      StreamPipeline.parse(mem.toDF().toDF("key", "value"))))
    val q = deduped.writeStream.format("memory").queryName("dedup_state_out")
      .outputMode("append").start()
    try {
      val nBatches = 6
      (0 until nBatches).foreach { b =>
        // each batch jumps 2 h — far past the 30 min watermark horizon,
        // so every prior batch's keys are evictable by the next batch
        val h = b * 2
        mem.addData(
          ("A", txnJson(f"T${b}a", "ACC1", "deposit", 1.0, f"2024-01-01T$h%02d:00:00")),
          ("A", txnJson(f"T${b}b", "ACC2", "deposit", 1.0, f"2024-01-01T$h%02d:01:00")))
        q.processAllAvailable()
      }
      // all ids unique → nothing dropped
      assert(spark.table("dedup_state_out").count() === nBatches * 2L)
      // listener delivery is async — poll until the input batches land
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def stateRows: Seq[Long] = {
        import spark.implicits._
        capture.snapshot(spark).filter(col("n_input_rows") > 0)
          .orderBy("batch_id").select("n_state_rows").as[Long].collect().toSeq
      }
      var rows = stateRows
      while (rows.size < nBatches && System.nanoTime() < deadline) {
        Thread.sleep(200); rows = stateRows
      }
      assert(rows.size >= nBatches, s"captured only ${rows.size} batch metrics")
      // the bound: state holds at most ~one horizon of keys (2 new +
      // ≤2 awaiting next-batch eviction), NEVER the cumulative key
      // count — an unbounded dropDuplicates would show 12 by the end
      assert(rows.max <= 6, s"state rows grew past watermark bound: $rows")
      assert(rows.last < nBatches * 2L, s"state accumulated every key: $rows")
    } finally { q.stop(); spark.streams.removeListener(capture) }
  }

  test("stream-stream interval join correlates followers of large txns") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val txns = StreamPipeline.typed(StreamPipeline.parse(mem.toDF().toDF("key", "value")))
    val joined = StreamPipeline.followsLargeTxn(txns)
    val q = joined.writeStream.format("memory").queryName("interval_join")
      .outputMode("append").start()
    try {
      mem.addData(
        ("A", txnJson("L1", "ACC1", "deposit", 5000.0, "2024-01-01T10:00:00")), // large
        ("A", txnJson("F1", "ACC1", "withdrawal", 200.0, "2024-01-01T10:30:00")), // within 1h
        ("A", txnJson("F2", "ACC1", "withdrawal", 300.0, "2024-01-01T12:00:00")), // outside 1h
        ("A", txnJson("F3", "ACC2", "withdrawal", 400.0, "2024-01-01T10:15:00"))) // other acct
      q.processAllAvailable()
      // advance both watermarks far enough to emit the joined rows
      mem.addData(("A", txnJson("Z", "ACC9", "deposit", 1.0, "2024-01-01T14:00:00")))
      q.processAllAvailable()
      val out = spark.table("interval_join")
        .select("large_id", "follow_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(out === Set(("L1", "F1")))
    } finally q.stop()
  }

  test("validation results artifact: per-record JSON lines + summary") {
    val tmp = Files.createTempDirectory("graft_vr").toString
    val ev = Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double)](
      (1L, 2L, "click", 1.0),
      (2L, null, "click", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
    graft.pipeline.Validate.saveValidationResults(ev, tmp)
    val results = spark.read.json(s"$tmp/results")
    assert(results.count() === 2)
    assert(results.filter(col("is_valid") === false).count() === 1)
    val s = spark.read.json(s"$tmp/summary").collect().head
    assert(s.getAs[Long]("n_total") === 2 && s.getAs[Long]("n_valid") === 1)
    assert(s.getAs[String]("timestamp").matches("\\d{4}-\\d{2}-\\d{2}T.*"))
  }

  test("S3 console sink wiring: complete mode, console format, untruncated") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val agg = StreamPipeline.windowedAgg(StreamPipeline.typed(
      StreamPipeline.parse(mem.toDF().toDF("key", "value"))))
    // console sink is side-effect-only; starting and draining it proves
    // the complete-mode query plan is valid end-to-end
    val q = Sources.consoleWriter(agg)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_console").toString)
      .start()
    try {
      mem.addData(("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")))
      q.processAllAvailable()
      assert(q.isActive)
    } finally q.stop()
  }

  test("S9 triple routing: valid, dead-letter, and alert subsets") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_route").toString
    val mem = MemoryStream[(String, String)]
    val parsed = StreamPipeline.typed(StreamPipeline.parse(mem.toDF().toDF("key", "value")))
    val q = Sources.routedSinkQuery(parsed, s"$tmp/main", s"$tmp/dead",
      s"$tmp/alerts", s"$tmp/ckpt")
    try {
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),   // valid, no alert
        ("A", txnJson("T2", "ACC1", "deposit", 5000.0, "2024-01-01T00:00:00")), // valid, large → alert
        ("A", txnJson("T3", "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))   // invalid → dead
      q.processAllAvailable()
      def ids(p: String) = spark.read.parquet(p).select("transaction_id")
        .collect().map(_.getString(0)).toSet
      assert(ids(s"$tmp/main") === Set("T1", "T2"))
      assert(ids(s"$tmp/dead") === Set("T3"))
      assert(ids(s"$tmp/alerts") === Set("T2"))
    } finally q.stop()
  }

  test("S7 transaction_summary write partitions by year/month") {
    val tmp = Files.createTempDirectory("graft_sum").toString
    val agg = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "ACC1", 2L, 30.0),
      (Timestamp.valueOf("2024-02-01 10:00:00"), "ACC1", 1L, 9.0))
      .toDF("window_start", "account_id", "transaction_count", "total_amount")
    Sources.writeSummaryTable(agg, tmp)
    assert(new java.io.File(s"$tmp/year=2024/month=1").exists())
    val pruned = spark.read.parquet(tmp).filter(col("month") === 2)
    assert(pruned.select("transaction_count").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("bucketed warehouse tables join without an exchange") {
    val orders = Tables.orders(spark, sf()).limit(500)
    Sources.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "orders_bucketed", "o_orderkey", 4)
    try {
      val t = spark.table("orders_bucketed")
      val joined = t.as("a").join(t.as("b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing co-locates both sides: no shuffle before the join
      assert(!plan.contains("Exchange hashpartitioning"))
    } finally spark.sql("DROP TABLE IF EXISTS orders_bucketed")
  }

  test("S7 warehouse write partitions by year/month/day and prunes on read") {
    val tmp = Files.createTempDirectory("graft_wh").toString
    val df = StreamPipeline.typed(StreamPipeline.parse(Seq(
      ("k", txnJson("T1", "A", "deposit", 1.0, "2024-01-15T10:00:00")),
      ("k", txnJson("T2", "A", "deposit", 1.0, "2024-02-20T10:00:00")))
      .toDF("key", "value")))
    Sources.writeWarehouse(df, tmp)
    assert(new java.io.File(s"$tmp/year=2024/month=1/day=15").exists())
    val pruned = spark.read.parquet(tmp).filter(col("month") === 2)
    assert(pruned.select("transaction_id").collect().map(_.getString(0)).toSeq === Seq("T2"))
  }

  test("S7 catalog warehouse table: partitions visible via catalog API") {
    val df = StreamPipeline.typed(StreamPipeline.parse(Seq(
      ("k", txnJson("T1", "A", "deposit", 1.0, "2024-01-15T10:00:00")),
      ("k", txnJson("T2", "A", "deposit", 1.0, "2024-02-20T10:00:00")))
      .toDF("key", "value")))
    Sources.writeWarehouseTable(df, "txn_warehouse")
    try {
      // the table is a catalog object, not just a path
      assert(spark.catalog.tableExists("txn_warehouse"))
      // partition metadata comes from the CATALOG (SHOW PARTITIONS
      // requires a partitioned catalog table; it throws on path tables)
      val parts = spark.sql("SHOW PARTITIONS txn_warehouse")
        .collect().map(_.getString(0)).toSet
      assert(parts === Set("year=2024/month=1/day=15", "year=2024/month=2/day=20"))
      // reads resolve through the catalog and prune to one partition
      val pruned = spark.table("txn_warehouse").filter(col("month") === 2)
      assert(pruned.select("transaction_id").collect()
        .map(_.getString(0)).toSeq === Seq("T2"))
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("month=2") || !scan.contains("month=1"))
    } finally spark.sql("DROP TABLE IF EXISTS txn_warehouse")
  }

  test("sessionization: gap closes sessions, totals correct") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Txn]
    val q = Sessionize.sessions(mem.toDS(),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 10:10:00")
      val t2 = Timestamp.valueOf("2024-01-01 11:30:00") // > 30min gap → closes first
      mem.addData(
        Sessionize.Txn("ACC1", t0, 10.0),
        Sessionize.Txn("ACC1", t1, 15.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Txn("ACC1", t2, 99.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_out")
        .collect().map(r => (r.getAs[String]("account_id"), r.getAs[Long]("n_txns"),
          r.getAs[Double]("total_amount"))).toSeq
      assert(closed === Seq(("ACC1", 2L, 25.0)))
    } finally q.stop()
  }

  test("native session_window agg: sessions merge, close on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val parsed = StreamPipeline.typed(StreamPipeline.parse(
      mem.toDF().toDF("key", "value")))
    val q = StreamPipeline.sessionWindowAgg(parsed)
      .writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    try {
      // two events 10 min apart → ONE session [10:00, 10:40) after the
      // 30-min gap extension from the last event
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T10:00:00")),
        ("A", txnJson("T2", "ACC1", "deposit", 15.0, "2024-01-01T10:10:00")))
      q.processAllAvailable()
      // nothing closed yet: watermark hasn't passed the session end
      assert(spark.table("sess_win").count() === 0L)
      // a much later event pushes the watermark past 10:40 → emit
      mem.addData(
        ("A", txnJson("T3", "ACC1", "deposit", 99.0, "2024-01-01T13:00:00")))
      q.processAllAvailable()
      val out = spark.table("sess_win").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toString,
          r.getAs[Timestamp]("session_end").toString,
          r.getAs[String]("account_id"), r.getAs[Long]("n_txns"),
          r.getAs[Double]("total_amount"))).toSeq
      assert(out === Seq(
        ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", "ACC1", 2L, 25.0)))
    } finally q.stop()
  }

  test("stateful queries run on the RocksDB state store provider") {
    // the 100 TB state story: HDFS-backed in-memory state dies when
    // aggregate state outgrows executor heap; RocksDB spills to local
    // disk with incremental checkpointing. Assert the whole stateful
    // path (session_window merging) works under the provider switch.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, String)]
      val parsed = StreamPipeline.typed(StreamPipeline.parse(
        mem.toDF().toDF("key", "value")))
      val q = StreamPipeline.sessionWindowAgg(parsed)
        .writeStream.format("memory").queryName("sess_rocks")
        .outputMode("append").start()
      try {
        mem.addData(
          ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T10:00:00")),
          ("A", txnJson("T2", "ACC1", "deposit", 15.0, "2024-01-01T10:10:00")))
        q.processAllAvailable()
        mem.addData(
          ("A", txnJson("T3", "ACC1", "deposit", 99.0, "2024-01-01T13:00:00")))
        q.processAllAvailable()
        val out = spark.table("sess_rocks").collect()
          .map(r => (r.getAs[String]("account_id"), r.getAs[Long]("n_txns"),
            r.getAs[Double]("total_amount"))).toSeq
        assert(out === Seq(("ACC1", 2L, 25.0)))
        // and the query genuinely ran RocksDB, not the default provider
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty &&
          ops.exists(_.customMetrics.containsKey("rocksdbGetCount")))
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("transformWithState sessionization matches the fMGWS semantics") {
    implicit val sqlCtx = spark.sqlContext
    // TWS keeps each state variable in its own column family, which the
    // default HDFS-backed provider cannot do — RocksDB is a hard
    // requirement of the API, not just the scale choice
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Sessionize.Txn]
    // TimeMode.None in tests for the same reason Sessionize passes
    // NoTimeout: armed timers keep processAllAvailable from settling
    val q = graft.streaming.SessionizeTws.sessions(mem.toDS(),
      org.apache.spark.sql.streaming.TimeMode.None())
      .writeStream.format("memory").queryName("tws_sessions")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 10:10:00")
      val t2 = Timestamp.valueOf("2024-01-01 11:30:00") // > 30min gap
      mem.addData(
        Sessionize.Txn("ACC1", t0, 10.0),
        Sessionize.Txn("ACC1", t1, 15.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Txn("ACC1", t2, 99.0))
      q.processAllAvailable()
      val closed = spark.table("tws_sessions")
        .collect().map(r => (r.getAs[String]("account_id"),
          r.getAs[Long]("n_txns"), r.getAs[Double]("total_amount"),
          r.getAs[Boolean]("closed"))).toSeq
      // identical rows to the flatMapGroupsWithState spec above
      assert(closed === Seq(("ACC1", 2L, 25.0, true)))
    } finally { q.stop(); spark.conf.unset(key) }
  }

  test("streaming funnel: converts across batches, ignores pre-click purchases") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.FunnelTrack.Ev]
    val q = graft.streaming.FunnelTrack.conversions(mem.toDS(),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      val t = (s: String) => Timestamp.valueOf(s)
      mem.addData(
        graft.streaming.FunnelTrack.Ev(7L, t("2024-01-01 09:00:00"), "purchase"), // pre-click
        graft.streaming.FunnelTrack.Ev(7L, t("2024-01-01 10:00:00"), "click"),
        graft.streaming.FunnelTrack.Ev(9L, t("2024-01-01 10:00:00"), "click"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() === 0) // nothing converted yet
      mem.addData(
        graft.streaming.FunnelTrack.Ev(7L, t("2024-01-01 11:00:00"), "purchase"))
      q.processAllAvailable()
      val out = spark.table("funnel_out").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("first_click"), r.getAs[Timestamp]("purchase_time")))
      assert(out.toSeq === Seq((7L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00"))))
    } finally q.stop()
  }

  test("S1 kafka reader wiring reaches Spark's source resolver") {
    // The kafka connector jar isn't deployed in this environment; the
    // documented failure proves the reader options flow to the resolver.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Sources.kafkaReader(spark, "localhost:9092", "banking.transactions.raw")
    }
    assert(e.getMessage.contains("kafka"))
  }

  test("S2 kafka writer wiring reaches Spark's sink resolver at start()") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_kafka_ckpt").toString
    val mem = MemoryStream[(String, String)]
    val parsed = StreamPipeline.parse(mem.toDF().toDF("key", "value"))
    val writer = Sources.kafkaWriter(parsed, "localhost:9092",
      "banking.processed", ckpt)
    // As for S1: no kafka connector jar is deployed, so start() stops at
    // the resolver, after the sink shape and writer options are built.
    val e = intercept[org.apache.spark.sql.AnalysisException](writer.start())
    assert(e.getMessage.contains("kafka"))
    assert(spark.streams.active.isEmpty)
  }

  test("streaming CMS maintenance: batch-sketch sum equals one-shot build") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cms_out").toString
    val ckpt = Files.createTempDirectory("cms_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Sources.cmsSinkQuery(mem.toDF().toDF("doc_id", "text"), dir, ckpt)
    val texts = Seq("spark streams data", "data data pipelines", "spark again")
    try {
      mem.addData((0L, texts(0)), (1L, texts(1)))
      q.processAllAvailable()
      mem.addData((2L, texts(2)))
      q.processAllAvailable()
    } finally q.stop()
    val summed = Sources.readCmsSketch(spark, dir)
      .select("sk").as[Seq[Long]].head()
    // linearity: sum of per-batch sketches == one-shot sketch of all texts
    val oneShot = texts.toDF("text")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .agg(expr("cms_build(word)").as("sk"))
      .select("sk").as[Seq[Long]].head()
    assert(summed === oneShot)
    // the recovered sketch answers point queries with CMS guarantees
    val est = Sources.readCmsSketch(spark, dir)
      .select(expr("cms_query(sk, 'data')")).as[Long].head()
    assert(est >= 3L) // 'data' appears 3 times; CMS never undercounts
  }

  test("streaming IVF ingest: assignments match batch path, probes prune partitions") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf())
    val centroidsPath = Files.createTempDirectory("ivf_cents").toString
    val indexDir = Files.createTempDirectory("ivf_idx").toString
    val ckpt = Files.createTempDirectory("ivf_ckpt").toString
    graft.llm.Similarity.fitCentroids(emb.limit(40))
      .write.mode("overwrite").parquet(centroidsPath)
    val rows = emb.filter(col("vec_id") >= 40).limit(20)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val q = Sources.ivfIngestQuery(
      mem.toDF().toDF("vec_id", "embedding", "label"), centroidsPath, indexDir, ckpt)
    try {
      mem.addData(rows.take(10).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(10).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() === 20L)
    // streamed assignments == one-shot batch assignments on the union
    val expected = graft.llm.Similarity.assignToFixedCentroids(
        emb.filter(col("vec_id") >= 40).limit(20),
        spark.read.parquet(centroidsPath))
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partition-column inference reads centroid_id back as INT: cast
    val got = idx.select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // a single-centroid probe prunes on the partition column
    val someCid = got.values.head
    val probePlan = idx.filter(col("centroid_id") === someCid)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters") &&
      probePlan.contains("centroid_id"), probePlan.take(500))
  }

  test("idempotent sink: restart resumes from the checkpoint without duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("resume_out").toString
    val ckpt = Files.createTempDirectory("resume_ckpt").toString
    val mem1 = MemoryStream[(Long, String)]
    val q1 = Sources.idempotentSinkQuery(mem1.toDF().toDF("id", "v"), out, ckpt)
    try {
      mem1.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the SAME checkpoint: the re-delivered first batch
    // occupies the COMMITTED offsets and must be skipped, not
    // reprocessed — only the genuinely new record forms a new batch
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((1L, "a"), (2L, "b")) // re-delivery at committed offsets
    mem2.addData((3L, "c"))            // new data past the checkpoint
    val q2 = Sources.idempotentSinkQuery(mem2.toDF().toDF("id", "v"), out, ckpt)
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select(col("id"), col("micro_batch_id").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.keySet === Set(1L, 2L, 3L), s"got $rows")
      assert(rows(1L) === 0L && rows(2L) === 0L)
      assert(rows(3L) > 0L, s"restart must continue batch ids: $rows")
    } finally q2.stop()
  }

  test("idempotent sink: replaying a batch replaces its partition, not appends") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("idem_out").toString
    val ckpt = Files.createTempDirectory("idem_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Sources.idempotentSinkQuery(mem.toDF().toDF("id", "v"), out, ckpt)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 3L)
      // simulate the crash-replay of batch 1 with a partial/altered
      // payload: the micro_batch_id=1 partition must be REPLACED, batch 0 kept
      BatchState.writeBatchIdempotent(
        Seq((3L, "c"), (4L, "d")).toDF("id", "v"), out, 1L)
      val rows = spark.read.parquet(out)
        .select("id", "micro_batch_id").as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
    } finally q.stop()
  }

  private def sinkRows(dir: String): Set[(String, Long)] =
    spark.read.parquet(dir)
      .select(col("transaction_id"), col("micro_batch_id").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet

  test("routed idempotent write: a replay of batch N replaces every route's partition N") {
    val tmp = Files.createTempDirectory("routed_replay").toString
    val dirs = Map("main" -> s"$tmp/main", "dead" -> s"$tmp/dead")
    def write(batchId: Long, rows: (String, Boolean)*): Unit =
      BatchState.writeBatchIdempotent(rows.toDF("transaction_id", "ok"),
        when(col("ok"), "main").otherwise("dead"), dirs, batchId, Nil)
    write(0L, "T1" -> true, "T2" -> false)
    write(1L, "T3" -> true, "T4" -> false)
    // the crash-replay of batch 1 with an altered payload
    write(1L, "T5" -> true, "T6" -> false, "T7" -> false)
    assert(sinkRows(dirs("main")) === Set("T1" -> 0L, "T5" -> 1L))
    assert(sinkRows(dirs("dead")) === Set("T2" -> 0L, "T6" -> 1L, "T7" -> 1L))
    // an empty replay leaves batch 1 in neither sink
    write(1L)
    assert(sinkRows(dirs("main")) === Set("T1" -> 0L))
    assert(sinkRows(dirs("dead")) === Set("T2" -> 0L))
  }

  test("S8 dual sink: a replay whose dead route is empty leaves no stale dead partition") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_dual_replay").toString
    def start(mem: MemoryStream[(String, String)]) =
      Sources.dualSinkQuery(StreamPipeline.typed(StreamPipeline.parse(
        mem.toDF().toDF("key", "value"))), s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
    val mem1 = MemoryStream[(String, String)]
    val q1 = start(mem1)
    try {
      mem1.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        ("A", txnJson("T2", "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(sinkRows(s"$tmp/dead") === Set("T2" -> 0L))
    // crash after the sink write, before the offset commit: batch 0 is
    // replayed on restart, this time with no invalid row
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(
      java.nio.file.Paths.get(s"$tmp/ckpt/commits/$f")))
    val mem2 = MemoryStream[(String, String)]
    mem2.addData(
      ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
      ("A", txnJson("T3", "ACC1", "deposit", 7.0, "2024-01-01T00:00:00")))
    val q2 = start(mem2)
    try q2.processAllAvailable() finally q2.stop()
    assert(sinkRows(s"$tmp/main") === Set("T1" -> 0L, "T3" -> 0L))
    assert(!new java.io.File(s"$tmp/dead/micro_batch_id=0").exists(),
      "the replay kept the first attempt's dead-letter rows")
  }

  test("S8 dual sink: outputs carry no route column and no staging residue") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_dual_layout").toString
    val mem = MemoryStream[(String, String)]
    val q = Sources.dualSinkQuery(StreamPipeline.typed(StreamPipeline.parse(
      mem.toDF().toDF("key", "value"))), s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
    try {
      Seq(("T1", "T2"), ("T3", "T4")).foreach { case (good, bad) =>
        mem.addData(
          ("A", txnJson(good, "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
          ("A", txnJson(bad, "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))
        q.processAllAvailable()
      }
    } finally q.stop()
    Seq("main", "dead").foreach { d =>
      val df = spark.read.parquet(s"$tmp/$d")
      assert(!df.columns.exists(_.startsWith("_")), df.columns.mkString(","))
      assert(df.count() === 2L)
      // the listing maybeCompactShardPartials counts partitions with
      val names = new java.io.File(s"$tmp/$d").list().toSeq.sorted
      assert(names === Seq("micro_batch_id=0", "micro_batch_id=1"), s"$d: $names")
    }
  }

  test("S8 dual sink: one trigger runs one write job") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_dual_jobs").toString
    val mem = MemoryStream[(String, String)]
    val q = Sources.dualSinkQuery(StreamPipeline.typed(StreamPipeline.parse(
      mem.toDF().toDF("key", "value"))), s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
    val qid = q.id.toString
    // jobs of this query, snapshotted when its data trigger's progress
    // event arrives: a listener sees events in posting order, and the
    // progress event is posted after the trigger's jobs ended
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val atProgress = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == qid))
          jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case p: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
              if p.progress.id.toString == qid && p.progress.numInputRows > 0 =>
            atProgress.compareAndSet(-1, jobs.get())
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mem.addData(
        ("A", txnJson("T1", "ACC1", "deposit", 10.0, "2024-01-01T00:00:00")),
        ("A", txnJson("T2", "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (atProgress.get() < 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(atProgress.get() === 1, "jobs in the dual sink's data trigger")
    } finally { q.stop(); spark.sparkContext.removeSparkListener(listener) }
  }

  test("BatchTimestampByReference: batch timestamps become BatchConstant references") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentBatchTimestamp, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    import graft.functions.{BatchConstant, BatchTimestampByReference}
    val stamps = Seq(TimestampType, TimestampNTZType, DateType)
      .map(CurrentBatchTimestamp(1700000123456L, _, Some("America/New_York")))
    val plan = Project(stamps.zipWithIndex.map { case (t, i) => Alias(t, s"t$i")() },
      OneRowRelation())
    // ConstantFolding runs after the rule in the optimizer: it must not
    // turn the constants back into literals
    val rewritten = ConstantFolding(BatchTimestampByReference(plan))
    val consts = rewritten.expressions.flatMap(_.collect { case c: BatchConstant => c })
    assert(rewritten.expressions.forall(_.find(e =>
      e.isInstanceOf[CurrentBatchTimestamp] || e.isInstanceOf[Literal]).isEmpty), rewritten)
    assert(consts.map(c => Literal(c.value, c.dataType)) === stamps.map(_.toLiteral))
    // generated code reads the value, it does not inline it
    def javaSource(c: BatchConstant): String =
      c.genCode(new org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext)
        .code.toString
    consts.foreach { c =>
      assert(javaSource(c) === javaSource(c.copy(value = 0)), c)
      val row = GenerateUnsafeProjection.generate(Seq(c)).apply(null)
      assert(row.get(0, c.dataType) === c.value, c)
    }
    // a batch plan's current_timestamp() is a literal before the rule runs
    val batch = spark.range(1).select(current_timestamp()).queryExecution.optimizedPlan
    assert(batch.expressions.forall(_.find(_.isInstanceOf[BatchConstant]).isEmpty), batch)
  }

  /** Move a JSON-lines file of `n` transactions (one valid, the rest
    * invalid) into `dir` whole, so a running file source never lists a
    * partial file. */
  private def dropTxnFile(dir: String, i: Int, n: Int = 2): Unit = {
    val tmp = Files.createTempFile("graft_txn", ".json")
    Files.write(tmp, (txnJson(s"T$i", "ACC1", "deposit", 10.0 + i, "2024-01-01T00:00:00") +:
      (1 until n).map(k => txnJson(s"X$i-$k", "ACC1", "deposit", -5.0, "2024-01-01T00:00:00")))
      .mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, java.nio.file.Paths.get(dir, f"part-$i%03d.json"))
  }

  private def oneFilePerTrigger(dir: String) =
    StreamPipeline.typed(spark.readStream.schema(Schemas.transactionSchema)
      .option("maxFilesPerTrigger", 1).json(dir))

  test("S8 dual sink: no codegen compile after the first trigger") {
    val tmp = Files.createTempDirectory("graft_dual_codegen").toString
    val in = Files.createDirectories(java.nio.file.Paths.get(tmp, "in")).toString
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    dropTxnFile(in, 0)
    val q = Sources.dualSinkQuery(oneFilePerTrigger(in), s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      val afterFirst = compiles.getCount
      (1 to 6).foreach(dropTxnFile(in, _))
      q.processAllAvailable()
      assert(compiles.getCount - afterFirst === 0L,
        "classes compiled by the 6 triggers after the first")
    } finally q.stop()
    assert(sinkRows(s"$tmp/main").map(_._2) === (0L to 6L).toSet, "one file per trigger")
  }

  test("S8 dual sink: each batch's rows carry that batch's timestamp, across a restart") {
    val tmp = Files.createTempDirectory("graft_dual_stamp").toString
    val in = Files.createDirectories(java.nio.file.Paths.get(tmp, "in")).toString
    // two runs on one checkpoint: batches 0-2, then 3-5 after the restart
    Seq(0 to 2, 3 to 5).foreach { files =>
      files.foreach(dropTxnFile(in, _, n = 3))
      val q = Sources.dualSinkQuery(oneFilePerTrigger(in),
        s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    val stamps = Seq("main", "dead")
      .map(d => spark.read.parquet(s"$tmp/$d")
        .select(col("micro_batch_id").cast("long"), unix_micros(col("ingestion_time"))))
      .reduce(_ union _)
      .distinct().as[(Long, Long)].collect().groupBy(_._1)
      .map { case (b, rows) => b -> rows.map(_._2).toSeq }
    assert(stamps.keySet === (0L to 5L).toSet)
    val batchTimestampMs = "\"batchTimestampMs\":(\\d+)".r
    stamps.toSeq.sortBy(_._1).foreach { case (b, us) =>
      val logged = batchTimestampMs.findFirstMatchIn(
        new String(Files.readAllBytes(java.nio.file.Paths.get(tmp, "ckpt", "offsets", b.toString)),
          "UTF-8")).get.group(1).toLong
      assert(us === Seq(logged * 1000L), s"batch $b: ingestion_time µs vs offsets log")
    }
    assert(stamps.values.flatten.toSet.size === 6, s"batches share a timestamp: $stamps")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Naive Bayes classifier, record linkage, triangle census, and the
  * TPC-H Q3 shape — handcrafted inputs with known answers. */
class ClassifyLinkageSpec extends SparkSpec {
  import spark.implicits._

  test("nbClassify learns a clear word signal and predicts it") {
    // class 'a' docs speak apples, class 'b' docs speak bolts
    val docs = Seq(
      (1L, "apple apple orchard fruit", "a"),
      (2L, "apple fruit orchard apple", "a"),
      (3L, "bolt nut wrench bolt", "b"),
      (4L, "bolt wrench nut nut", "b"),
      (5L, "apple orchard apple fruit", "a"))
      .toDF("doc_id", "text", "lang")
    val out = llm.Classify.nbClassify(docs)
      .select("doc_id", "cls_actual", "cls_pred", "correct")
      .as[(Long, String, String, Boolean)].collect()
    assert(out.length == 5)
    assert(out.forall(_._4), s"misclassified: ${out.filterNot(_._4).toSeq}")
  }

  test("nbClassify breaks exact score ties lexicographically") {
    // perfectly symmetric classes: every doc scores identically for
    // both, so every prediction must be the lexicographically first
    val docs = Seq(
      (1L, "x y", "b"), (2L, "x y", "a"),
      (3L, "x y", "b"), (4L, "x y", "a"))
      .toDF("doc_id", "text", "lang")
    val preds = llm.Classify.nbClassify(docs)
      .select("cls_pred").distinct().as[String].collect()
    assert(preds.toSeq == Seq("a"))
  }

  test("nbConfusion shares sum to 1 per actual class") {
    val docs = Tables.documents(spark, sf())
    val sums = llm.Classify.nbConfusion(docs)
      .groupBy("cls_actual").agg(sum("share_of_actual").as("s"))
      .select("s").as[Double].collect()
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("nbAuc is 1.0 on a separable corpus and 0.5 under total ties") {
    val separable = Seq(
      (1L, "apple apple orchard fruit", "a"),
      (2L, "apple fruit orchard apple", "a"),
      (3L, "bolt nut wrench bolt", "b"),
      (4L, "bolt wrench nut nut", "b"))
      .toDF("doc_id", "text", "lang")
    val auc1 = llm.Classify.nbAuc(separable)
      .select("cand", "auc").as[(String, Double)].collect().toMap
    assert(auc1.keySet == Set("a", "b"))
    assert(auc1.values.forall(a => math.abs(a - 1.0) < 1e-12),
      s"separable corpus must score AUC 1.0 per class: $auc1")

    // identical docs ⇒ every score ties ⇒ midrank AUC is exactly 0.5
    val tied = Seq(
      (1L, "x y", "a"), (2L, "x y", "b"),
      (3L, "x y", "a"), (4L, "x y", "b"), (5L, "x y", "b"))
      .toDF("doc_id", "text", "lang")
    val auc2 = llm.Classify.nbAuc(tied)
      .select("auc").as[Double].collect()
    assert(auc2.length == 2 && auc2.forall(a => math.abs(a - 0.5) < 1e-12),
      s"all-ties corpus must score AUC 0.5: ${auc2.toSeq}")
  }

  test("nbAuc counts positives and negatives per class exactly") {
    val docs = Tables.documents(spark, sf())
    val byLang = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val n = byLang.values.sum
    val out = llm.Classify.nbAuc(docs)
      .select("cand", "n_pos", "n_neg").as[(String, Long, Long)].collect()
    assert(out.length == byLang.size)
    out.foreach { case (cand, np, nn) =>
      assert(np == byLang(cand) && np + nn == n, s"$cand: $np + $nn != $n")
    }
  }

  test("nbAuc midrank formula matches brute-force pairwise AUC on random corpora") {
    // the midrank algebra is the optimized path; the definitional AUC is
    // P(bits_pos < bits_neg) + ½·P(bits_pos = bits_neg) over all
    // positive × negative pairs — compare them on corpora engineered
    // for tie storms (tiny vocab, repeated docs)
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val vocab = Vector("u", "v", "w", "zz")
      val docs = (1L to 30L).map { i =>
        val words = Seq.fill(2 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
        (i, words.mkString(" "), if (rnd.nextBoolean()) "a" else "b")
      }.toDF("doc_id", "text", "lang")
      val actual = docs.select("doc_id", "lang")
        .as[(Long, String)].collect().toMap
      val scores = llm.Classify.perClassScores(docs)
        .select("doc_id", "cand", "total_bits")
        .as[(Long, String, Long)].collect()
      val expected = scores.groupBy(_._2).map { case (cand, rows) =>
        val (pos, neg) = rows.partition { case (id, _, _) => actual(id) == cand }
        val wins = (for { (_, _, bp) <- pos; (_, _, bn) <- neg } yield
          if (bp < bn) 1.0 else if (bp == bn) 0.5 else 0.0).sum
        cand -> wins / (pos.length.toDouble * neg.length.toDouble)
      }
      val got = llm.Classify.nbAuc(docs)
        .select("cand", "auc").as[(String, Double)].collect().toMap
      expected.foreach { case (cand, e) =>
        assert(math.abs(got(cand) - e) < 1e-12,
          s"trial $trial $cand: midrank ${got(cand)} != brute-force $e")
      }
    }
  }

  test("nbMargin buckets partition the corpus and cap at the top bucket") {
    val docs = Tables.documents(spark, sf())
    val out = llm.Classify.nbMargin(docs)
      .select("margin_bucket", "n_docs", "n_correct")
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._2).sum == docs.count(), "buckets must partition docs")
    assert(out.forall { case (b, nd, nc) =>
      b >= 0 && b <= llm.Classify.MarginBucketCap && nc <= nd })
    // identical docs in one class: no runner-up class distinction ⇒
    // margin 0 (tie) lands in bucket 0, and accuracy is the tie-break
    val tied = Seq((1L, "x y", "a"), (2L, "x y", "b"))
      .toDF("doc_id", "text", "lang")
    val t = llm.Classify.nbMargin(tied)
      .select("margin_bucket", "n_docs").as[(Long, Long)].collect()
    assert(t.toSeq == Seq((0L, 2L)), s"got ${t.toSeq}")
  }

  test("entityResolution window blocking is lossless across the size boundary") {
    val parts = Seq(
      // sizes 5 and 6 land in DIFFERENT width-2 buckets under a naive
      // floor(size/2) key; the two-bucket window must still pair them
      (1L, "red widget", "Brand#1", "ECONOMY", 5),
      (2L, "red gadget", "Brand#1", "ECONOMY", 6), // lev(widget,gadget)=3 ≤ 4
      // same block, name too far — candidate but not a match
      (3L, "purple anvil", "Brand#1", "ECONOMY", 5),
      // matching names but different brand — must never pair
      (4L, "red widget", "Brand#2", "ECONOMY", 5),
      // size gap 2 — candidate never generated
      (5L, "red widget", "Brand#1", "ECONOMY", 8))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val pairs = pipeline.Linkage.entityResolution(parts)
      .select("k1", "k2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // the bucket width derives from the threshold: at maxSizeDiff=3
    // the size-5/size-8 pair (gap 3, different width-2 buckets) must
    // now be blocked together and match
    val wide = pipeline.Linkage.entityResolution(parts, maxSizeDiff = 3)
      .select("k1", "k2").as[(Long, Long)].collect().toSet
    assert(wide == Set((1L, 2L), (1L, 5L), (2L, 5L)), s"got $wide")
  }

  test("entityClusters merges transitive matches and leaves singletons alone") {
    // 1-2 match and 2-6 match (via the adjacent-size window), but 1-6
    // (gap 2) do NOT pair directly — the cluster must still merge all
    // three transitively; 3 and 4 stay singletons
    val parts = Seq(
      (1L, "red widget", "Brand#1", "ECONOMY", 5),
      (2L, "red gadget", "Brand#1", "ECONOMY", 6),
      (6L, "red gadget", "Brand#1", "ECONOMY", 7),
      (3L, "purple anvil", "Brand#1", "ECONOMY", 5),
      (4L, "red widget", "Brand#2", "ECONOMY", 5))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val pairs = pipeline.Linkage.entityResolution(parts)
      .select("k1", "k2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 6L)), s"got $pairs")
    val out = pipeline.Linkage.entityClusters(parts)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 3L -> 3L, 4L -> 4L),
      s"got $out")
  }

  test("entityResolution emits each matched pair exactly once") {
    val out = pipeline.Linkage.entityResolution(Tables.part(spark, sf()))
    assert(out.count() == out.select("k1", "k2").distinct().count())
  }

  test("triangleStats counts a clique and ignores isolated docs") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (1L, t, "en"), (2L, t, "en"), (3L, t, "en"), // identical → 3-clique
      (4L, "completely different words entirely here nothing shared at all ok", "en"))
      .toDF("doc_id", "text", "lang")
    val row = llm.Dedup.triangleStats(docs).collect().head
    assert(row.getAs[Long]("n_nodes") == 3)
    assert(row.getAs[Long]("n_edges") == 3)
    assert(row.getAs[Long]("n_wedges") == 3)
    assert(row.getAs[Long]("n_triangles") == 1)
    assert(math.abs(row.getAs[Double]("global_clustering") - 1.0) < 1e-12)
  }

  test("nbCrossval scores each doc against a model excluding its own fold") {
    // fold 0 = docs 0,5; fold 1 = docs 1,6; ... (K=5). Signal words are
    // shared across folds, so held-out models still carry them; every
    // fold should classify perfectly on this clean signal.
    val docs = (0L until 10L).map { i =>
      if (i % 2 == 0) (i, "apple apple orchard fruit apple", "a")
      else (i, "bolt nut wrench bolt nut", "b")
    }.toDF("doc_id", "text", "lang")
    val out = llm.Classify.nbCrossval(docs)
      .select("fold", "n_docs", "accuracy")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == (0L until 5L))
    assert(out.map(_._2).sum == 10L)
    assert(out.forall(_._3 == 1.0), s"got $out")
  }

  test("nbCrossval never trains on the scored fold") {
    // fold-0 'a' docs pair a fold-0-ONLY marker 'zzz' with the class-b
    // word 'bolt'. A model that (wrongly) saw its own fold would count
    // zzz as strong 'a' evidence; the held-out model has never seen
    // zzz, so only the b-evidence remains and fold 0 must misclassify
    val docs = Seq(
      (0L, "zzz bolt", "a"), (5L, "zzz bolt", "a"),
      (1L, "apple apple apple", "a"), (6L, "apple apple apple", "a"),
      (2L, "bolt bolt bolt", "b"), (7L, "bolt bolt bolt", "b"),
      (3L, "bolt bolt nut", "b"), (8L, "apple apple fruit", "a"),
      (4L, "nut nut bolt", "b"), (9L, "nut bolt bolt", "b"))
      .toDF("doc_id", "text", "lang")
    val acc = llm.Classify.nbCrossval(docs)
      .select("fold", "accuracy").as[(Long, Double)].collect().toMap
    // folds 1-4 classify on live signal; fold 0's 'a' docs lost theirs
    assert(acc(1L) == 1.0 && acc(2L) == 1.0, s"got $acc")
    assert(acc(0L) == 0.0, s"fold 0 scored on its own words: $acc")
  }

  test("cupedReadout: adjusted means preserve the pooled mean and reduce variance") {
    val out = pipeline.Windows.cupedReadout(Tables.events(spark, sf("sf0.01")))
      .collect()
    assert(out.length == 2)
    val varRed = out.head.getAs[Double]("var_reduction")
    assert(varRed >= 0.0 && varRed < 1.0) // cov²/var ≥ 0 ⇒ never negative
    // CUPED is mean-preserving in the weighted pooled sense:
    // Σ n_a·(adj_a − y_a) = −θ·Σ n_a·(x̄_a − x̄) = 0
    val drift = out.map(r =>
      r.getAs[Long]("n_users") *
        (r.getAs[Double]("mean_y_adj") - r.getAs[Double]("mean_y"))).sum
    assert(math.abs(drift) < 1e-6, s"pooled mean drifted by $drift")
    assert(out.map(_.getAs[Double]("theta")).distinct.length == 1)
  }

  test("cupedReadout: zero pre-period variance yields NULL stats, not inf/NaN") {
    // every event is AFTER the split → per-user x is uniformly 0.00 →
    // vxx = 0; the guarded divisions must emit NULL (an unguarded
    // double division would emit IEEE inf/NaN, which is not
    // cross-engine hash-stable)
    val ev = Seq(
      (1L, 10.0, "2024-06-01 00:00:00"),
      (2L, 20.0, "2024-06-02 00:00:00"),
      (3L, 30.0, "2024-06-03 00:00:00"))
      .toDF("user_id", "value", "s")
      .select(col("user_id"), col("value"), col("s").cast("timestamp").as("ts"))
    val out = pipeline.Windows.cupedReadout(ev).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("mean_y"))) // plain mean still defined
      assert(r.isNullAt(r.fieldIndex("theta")))
      assert(r.isNullAt(r.fieldIndex("mean_y_adj")))
      assert(r.isNullAt(r.fieldIndex("var_reduction")))
    }
  }

  test("bpeFertility aggregates exactly the per-doc encoder totals") {
    val docs = Tables.documents(spark, sf())
    val perDoc = llm.TextStats.bpeEncode(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(
        sum("n_words").as("w"), sum("n_bpe_tokens").as("t"))
    val fert = llm.TextStats.bpeFertility(docs)
    val joined = fert.join(perDoc, "lang")
      .select("n_words", "w", "n_bpe_tokens", "t")
      .as[(Long, Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r._1 == r._2 && r._3 == r._4), s"got ${joined.toSeq}")
  }

  test("localSupplierVolume enforces the customer=supplier nation constraint") {
    val customer = Seq((1L, 2L), (2L, 3L)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((10L, 1L, "1996-06-01"), (11L, 2L, "1996-06-01"),
      (12L, 1L, "1995-06-01")) // outside the year window
      .toDF("o_orderkey", "o_custkey", "od")
      .withColumn("o_orderdate", col("od").cast("timestamp")).drop("od")
    val lineitem = Seq(
      (10L, 100L, 100.0, 0.0), // supplier 100 in nation 2 = customer 1's → counts
      (10L, 200L, 100.0, 0.0), // supplier 200 in nation 3 ≠ customer 1's → dropped
      (11L, 200L, 100.0, 0.0), // customer 2 nation 3 = supplier 200's → counts
      (12L, 100L, 100.0, 0.0)) // order outside window → dropped
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supplier = Seq((100L, 2L), (200L, 3L)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((2L, "NATION_2", 2L), (3L, "NATION_3", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((2L, "ASIA"), (0L, "AFRICA")).toDF("r_regionkey", "r_name")
    val out = pipeline.Enrich.localSupplierVolume(
        customer, orders, lineitem, supplier, nation, region)
      .select("nation", "revenue").as[(String, Double)].collect().toSet
    assert(out == Set(("NATION_2", 100.0), ("NATION_3", 100.0)), s"got $out")
  }

  test("Q5/Q10 plans broadcast dimensions and keep the top-K exchange-free") {
    val d = sf()
    val q5 = pipeline.Enrich.localSupplierVolume(
      Tables.customer(spark, d), Tables.orders(spark, d),
      Tables.lineitem(spark, d), Tables.supplier(spark, d),
      Tables.nation(spark, d), Tables.region(spark, d))
    val p5 = q5.queryExecution.executedPlan.toString
    assert(p5.contains("BroadcastHashJoin"), p5.take(400))
    assert(!p5.contains("CartesianProduct") && !p5.contains("BroadcastNestedLoopJoin"))
    val q10 = pipeline.Enrich.returnedItemLosses(
      Tables.customer(spark, d), Tables.orders(spark, d),
      Tables.lineitem(spark, d), Tables.nation(spark, d))
    val p10 = q10.queryExecution.executedPlan.toString
    assert(p10.contains("TakeOrderedAndProject"), p10.take(400))
    // returnflag + date predicates reach the parquet scans
    assert(p10.contains("PushedFilters") &&
      p10.contains("EqualTo(l_returnflag,R)"), p10.take(800))
  }

  test("returnedItemLosses only counts returned lineitems in the quarter") {
    val customer = Seq((1L, "c1", 10.0, 2L))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val orders = Seq((10L, 1L, "1996-11-01"), (11L, 1L, "1996-02-01"))
      .toDF("o_orderkey", "o_custkey", "od")
      .withColumn("o_orderdate", col("od").cast("timestamp")).drop("od")
    val lineitem = Seq(
      (10L, "R", 100.0, 0.1), // in quarter, returned → 90.00
      (10L, "N", 500.0, 0.0), // not returned
      (11L, "R", 500.0, 0.0)) // outside quarter
      .toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    val nation = Seq((2L, "NATION_2")).toDF("n_nationkey", "n_name")
    val out = pipeline.Enrich.returnedItemLosses(customer, orders, lineitem, nation)
      .select("c_custkey", "revenue").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 90.0)), s"got $out")
  }

  test("unimaxMix caps small sources and waterfills the rest") {
    // one tiny source (cap 3·10=30 under any fair share) + three large.
    // corpus=1210 tokens → budget=605. tiny capped at 30; level =
    // (605-30) div 3 = 191 each; remainder 575-573=2 unallocated.
    val docs = Seq(
      (1L, ("w " * 10).trim, "tiny"),
      (2L, ("w " * 400).trim, "big1"),
      (3L, ("w " * 400).trim, "big2"),
      (4L, ("w " * 400).trim, "big3"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val out = llm.Curate.unimaxMix(docs)
      .select("source", "alloc").as[(String, Long)].collect().toMap
    assert(out("tiny") == 30L, s"got $out")
    assert(out("big1") == 191L && out("big2") == 191L && out("big3") == 191L,
      s"got $out")
  }

  test("sampleManifest records modality presence, split, and NULL-pinned completeness") {
    val docs = Tables.documents(spark, sf())
    val emb = Tables.embeddings(spark, sf())
    val out = llm.Curate.sampleManifest(docs, emb).collect()
    assert(out.length === docs.count())
    val splits = llm.Curate.splitAssign(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val embIds = emb.filter(col("embedding").isNotNull)
      .select("vec_id").as[Long].collect().toSet
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("split") === splits(id))
      assert(r.getAs[Boolean]("has_embedding") === embIds.contains(id))
      assert(r.getAs[Boolean]("complete") ===
        (r.getAs[Boolean]("has_text") && r.getAs[Boolean]("has_embedding")))
    }
    // NULL text pins has_text (and complete) to false, never NULL;
    // a NULL doc_id keeps its row (split NULL), never silently drops
    val withNull = Seq(
      (java.lang.Long.valueOf(1L), null: String, "en", "web"),
      (java.lang.Long.valueOf(2L), "a b", "en", "web"),
      (null: java.lang.Long, "orphan text", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val embTiny = Seq((1L, Seq.fill(4)(0.5)), (2L, Seq.fill(4)(0.5)))
      .toDF("vec_id", "embedding")
    val rows = llm.Curate.sampleManifest(withNull, embTiny).collect()
    assert(rows.length === 3, "a NULL-doc_id example vanished from the manifest")
    val pinned = rows.filter(!_.isNullAt(0))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("has_text"), r.getAs[Boolean]("complete"))).toMap
    assert(pinned(1L) === ((false, false)))
    assert(pinned(2L) === ((true, true)))
    val orphan = rows.find(_.isNullAt(0)).get
    assert(orphan.isNullAt(orphan.fieldIndex("split")), "NULL id must get NULL split")
    assert(!orphan.getAs[Boolean]("has_embedding") &&
      !orphan.getAs[Boolean]("complete"))
  }

  test("unimaxMix never exceeds the budget or any source's epoch cap") {
    val out = llm.Curate.unimaxMix(Tables.documents(spark, sf()))
      .select("alloc", "cap", "budget").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._1 <= r._2), "a source exceeded its epoch cap")
    assert(out.map(_._1).sum <= out.head._3, "allocation exceeded the budget")
  }

  test("multiProbeLshPairs returns a superset of the single-probe pairs") {
    val emb = Tables.embeddings(spark, sf())
    val single = llm.Similarity.lshNearDupPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val multi = llm.Similarity.multiProbeLshPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi),
      s"missing from multi-probe: ${(single -- multi).take(5)}")
    val cos = llm.Similarity.multiProbeLshPairs(emb, 0.3)
      .select("cosine").as[Double].collect()
    assert(cos.forall(_ >= 0.3))
  }

  test("adaptivePlanes follows the +1-per-doubling rule and planesFor widens by prefix") {
    // tuned point: the 2k suite table keeps the verified default
    assert(llm.Similarity.adaptivePlanes(2048) == llm.Similarity.NumPlanes)
    // 10x data -> +~3.3 bits: the measured sf1 setting
    assert(llm.Similarity.adaptivePlanes(20000) == 10)
    // floor: tiny corpora never go below the suite default
    assert(llm.Similarity.adaptivePlanes(1) == llm.Similarity.NumPlanes)
    // monotone, +1 per doubling above the floor
    val at = (10 to 30).map(b => llm.Similarity.adaptivePlanes(1L << b))
    assert(at.zip(at.tail).forall { case (a, b) => b == a + 1 || (a == b && a == llm.Similarity.NumPlanes) },
      s"not +1/doubling: $at")
    // 100 TB design point: 1e9 vectors still packs into one Long
    assert(llm.Similarity.adaptivePlanes(1000000000L) == 25)
    assert(llm.Similarity.adaptivePlanes(Long.MaxValue) == 58) // ceil(2^63/32) = 2^58 buckets
    // widening SUBDIVIDES: planesFor(k) is a prefix of planesFor(k+1),
    // so every k-bucket is a union of (k+1)-buckets and no candidate
    // pair gained at width k+1 was outside its width-k bucket
    val p6 = llm.Similarity.planesFor(6)
    val p7 = llm.Similarity.planesFor(7)
    assert(p6.indices.forall(t => p7(t).take(6) == p6(t)))
  }

  test("LSH default width is ADAPTIVE: past 2048 vectors the default equals the +1-plane width") {
    val emb = Tables.embeddings(spark, sf())
    // 5 shifted copies -> 2500 vectors -> adaptivePlanes = 7, one past
    // the suite floor, so a fixed-6 default would bucket differently
    val big = (0 until 5).map(i => emb.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    val n = big.filter(col("embedding").isNotNull).count()
    assert(llm.Similarity.adaptivePlanes(n) == 7)
    val byDefault = llm.Similarity.lshNearDupPairs(big, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val explicit7 = llm.Similarity.lshNearDupPairs(big, 0.9, numPlanes = 7)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(byDefault == explicit7, "default did not resolve to adaptivePlanes(n)")
    // and the adaptive twin carries the same rule: a width-derivation
    // CTE plus gated plane terms wide enough for the 10x corpus
    val twin = llm.Similarity.sqlLshNearDupPairs(0.9)
    assert(twin.contains("npw AS") && twin.contains(">= np"))
    spark.catalog.clearCache()
  }

  test("wider signatures produce a candidate subset with identical verified semantics") {
    val emb = Tables.embeddings(spark, sf())
    val narrow = llm.Similarity.lshNearDupPairs(emb, 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val wide = llm.Similarity.lshNearDupPairs(emb, 0.3, numPlanes = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // exact verification means wide results are a subset (bucket
    // subdivision can only REMOVE candidates), never wrong pairs
    assert(wide.subsetOf(narrow),
      s"pairs appeared from nowhere: ${(wide -- narrow).take(5)}")
  }

  test("lshTopKNeighbors equals per-query top-k over the verified LSH candidate pairs") {
    val emb = Tables.embeddings(spark, sf())
    // threshold -1 returns EVERY verified candidate pair with its cosine
    val pairs = llm.Similarity.lshNearDupPairs(emb, -1.0)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
    val directed = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val expected = directed.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      cs.sortBy(x => (-x._3, x._2)).take(5).zipWithIndex.map {
        case ((_, nb, c), i) => (q, i + 1, nb, c)
      }
    }.toSet
    val got = llm.Similarity.lshTopKNeighbors(emb, 5)
      .select("query_id", "rnk", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got === expected,
      s"diff: extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
  }

  test("embedDimStats: Dim rows, exact quantized sums, dead-dim flag on a constant dim") {
    val emb = Tables.embeddings(spark, sf())
    val out = llm.Similarity.embedDimStats(emb).collect()
    assert(out.length === llm.Similarity.Dim)
    val nVecs = emb.filter(col("embedding").isNotNull).count()
    assert(out.forall(_.getAs[Long]("n") === nVecs))
    // dim 0 recomputed by hand with the same floor(x*1e4+0.5) rule
    val d0 = emb.filter(col("embedding").isNotNull)
      .select(col("embedding").getItem(0).cast("double")).as[Double].collect()
      .map(x => math.floor(x * 10000.0 + 0.5).toLong)
    val r0 = out.find(_.getAs[Int]("dim") == 0).get
    assert(r0.getAs[Long]("sum_q") === d0.sum)
    // sum_q2 is STRING on the hashed surface (decimal math is internal)
    assert(r0.getAs[String]("sum_q2").toLong === d0.map(q => q * q).sum)
    assert(r0.getAs[Long]("min_q") === d0.min && r0.getAs[Long]("max_q") === d0.max)
    // a handcrafted frame with one constant dim trips the dead flag
    val tiny = Seq((1L, Seq(1.0, 0.5)), (2L, Seq(1.0, -0.5)))
      .toDF("vec_id", "embedding")
    val flags = llm.Similarity.embedDimStats(tiny).collect()
      .map(r => r.getAs[Int]("dim") -> r.getAs[Boolean]("dead_dim")).toMap
    assert(flags(0) === true && flags(1) === false)
  }

  test("semanticDecontam flags each test doc's strongest train neighbor exactly once") {
    val docs = Tables.documents(spark, sf())
    val emb = Tables.embeddings(spark, sf())
    val splits = llm.Curate.splitAssign(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val out = llm.Similarity.semanticDecontam(docs, emb)
      .select("test_id", "train_id", "cosine").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty, "no semantic leakage found — fixture too sparse?")
    assert(out.map(_._1).distinct.length === out.length, "a test doc repeated")
    assert(out.forall(r => splits(r._1) == "test"), "a non-test doc was flagged")
    assert(out.forall(r => splits(r._2) == "train"), "a non-train neighbor reported")
    assert(out.forall(_._3 >= 0.3))
    // cross-check the argmax against the full verified LSH pair set
    val pairs = llm.Similarity.lshNearDupPairs(emb, -1.0)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
    val best = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .filter { case (t, tr, c) =>
        splits(t) == "test" && splits(tr) == "train" && c >= 0.3 }
      .groupBy(_._1).map { case (t, cs) =>
        val top = cs.minBy(x => (-x._3, x._2)); (t, top._2, top._3) }
      .toSet
    assert(out.toSet === best,
      s"extra=${(out.toSet -- best).take(3)} missing=${(best -- out.toSet).take(3)}")
  }

  test("prioritySample keeps k docs with tau-corrected estimates") {
    val out = llm.Curate.prioritySample(Tables.documents(spark, sf("sf0.01")))
      .select("n_tokens", "priority", "est_tokens")
      .as[(Long, Double, Double)].collect()
    assert(out.length == llm.Curate.PrioritySampleK)
    // every estimate is max(w, tau) ≥ w for ONE shared tau: rows where
    // the estimate exceeds the raw weight all expose tau directly
    assert(out.forall(r => r._3 >= r._1.toDouble))
    val exposed = out.filter(r => r._3 > r._1.toDouble).map(_._3).distinct
    assert(exposed.length <= 1, s"multiple tau values: ${exposed.toSeq}")
    exposed.headOption.foreach { tau =>
      assert(out.forall(r => r._3 == math.max(r._1.toDouble, tau)))
    }
  }

  test("prioritySample degenerates to the full population when corpus <= k") {
    val docs = Seq((1L, "a b c", "en"), (2L, "d e", "en"), (3L, "f", "en"))
      .toDF("doc_id", "text", "lang")
    val out = llm.Curate.prioritySample(docs, k = 10)
      .select("doc_id", "n_tokens", "est_tokens")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    // tau = 0 → every doc kept with its EXACT weight
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    assert(out.forall(r => r._3 == r._2.toDouble), s"got $out")
  }

  test("rrfRank fuses exactly the reciprocal ranks of its two input lists") {
    val docs = Tables.documents(spark, sf())
    // independently rebuild both rankings from the public building blocks
    val qRanks = llm.TextStats.textStats(docs)
      .select("doc_id", "quality_score")
      .as[(Long, Double)].collect()
      .sortBy { case (id, q) => (-q, id) }.take(llm.Curate.RrfListN)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val rRanks = llm.TextStats.rarityScore(docs)
      .select("doc_id", "mean_rarity_bits")
      .as[(Long, Double)].collect()
      .sortBy { case (id, r) => (-r, id) }.take(llm.Curate.RrfListN)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val out = llm.Curate.rrfRank(docs)
      .select("doc_id", "rank_quality", "rank_rarity", "rrf_score")
      .as[(Long, Option[Long], Option[Long], Double)].collect()
    assert(out.length == llm.Curate.RrfTopK)
    out.foreach { case (id, rq, rr, score) =>
      assert(rq == qRanks.get(id), s"doc $id quality rank")
      assert(rr == rRanks.get(id), s"doc $id rarity rank")
      val expected = rq.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rr.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(score == expected, s"doc $id rrf $score vs $expected")
    }
    // the output really is the global top-K by fused score
    val all = (qRanks.keySet ++ rRanks.keySet).toSeq.map { id =>
      id -> (qRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.sortBy { case (id, s) => (-s, id) }.take(llm.Curate.RrfTopK).map(_._1)
    assert(out.map(_._1).toSeq == all)
  }

  test("thetaSourceOverlap estimates agree with the exact overlap") {
    val out = llm.Dedup.thetaSourceOverlap(Tables.documents(spark, sf()))
      .select("n_shared", "n_union", "inter_ok", "union_ok")
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._1 <= r._2), "intersection exceeded union")
    assert(out.forall(_._3) && out.forall(_._4),
      s"estimates out of tolerance: ${out.filterNot(r => r._3 && r._4).take(3).toSeq}")
  }

  test("kllValueQuantiles ranks land inside tolerance for every scope") {
    // sf0.001 on purpose: its thinnest days (~20 rows) exercise the
    // rank-quantization edge the wider scales never hit
    val out = pipeline.Windows.kllValueQuantiles(Tables.events(spark, sf()))
      .select("scope", "n_rows", "p50_rank_ok", "p95_rank_ok")
      .as[(String, Long, Boolean, Boolean)].collect()
    assert(out.count(_._1 == "total") == 1)
    assert(out.map(_._2).sum == 2 * out.filter(_._1 == "total").head._2,
      "day rows don't sum to the total scope")
    assert(out.forall(r => r._3 && r._4), s"out of tolerance: ${out.filterNot(r => r._3 && r._4).toSeq}")
  }

  test("multiGrainAgg grains are mutually consistent") {
    val out = pipeline.Windows.multiGrainAgg(Tables.events(spark, sf()))
      .select("g_type", "g_day", "n_events")
      .as[(Int, Int, Long)].collect()
    val total = out.filter(r => r._1 == 1 && r._2 == 1).map(_._3)
    assert(total.length == 1)
    // every grain sums to the same grand total
    assert(out.filter(r => r._1 == 0 && r._2 == 1).map(_._3).sum == total.head)
    assert(out.filter(r => r._1 == 1 && r._2 == 0).map(_._3).sum == total.head)
    assert(out.filter(r => r._1 == 0 && r._2 == 0).map(_._3).sum == total.head)
  }

  test("unpivotMetrics emits one metric row per source column with equal counts") {
    val out = pipeline.Windows.unpivotMetrics(Tables.lineitem(spark, sf()))
      .select("metric", "n_rows").as[(String, Long)].collect().toMap
    assert(out.keySet == Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    assert(out.values.toSet.size == 1, s"unequal counts: $out")
  }

  test("trendSlopes recovers an exact linear trend and nulls zero-variance segments") {
    // type 'a': daily total = 2·dayIndex + 5 → slope exactly 2, intercept 5.
    // type 'b': a single day → zero x-variance → NULL slope.
    val rows = (0 until 10).map { d =>
      (1000L + d, f"2024-01-${d + 1}%02d 12:00:00", "a", 2.0 * d + 5.0)
    } :+ ((2000L, "2024-01-05 12:00:00", "b", 7.0))
    val events = rows.toDF("event_id", "tss", "event_type", "value")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val m = pipeline.Windows.trendSlopes(events)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("a").getLong(1) == 10L)
    assert(m("a").getDouble(2) == 2.0 && m("a").getDouble(3) == 5.0)
    assert(m("b").isNullAt(2) && m("b").isNullAt(3))
  }

  test("giniBySource: uniform masses score 0, a point mass approaches 1") {
    val docs = Seq(
      // 'flat': 4 docs of 5 tokens each → Gini 0
      (1L, "a b c d e", "flat"), (2L, "a b c d e", "flat"),
      (3L, "a b c d e", "flat"), (4L, "a b c d e", "flat"),
      // 'spike': three 1-token docs + one 17-token doc → G = 2·26/(4·20) − 5/4 = 0.6? recomputed in assert
      (5L, "a", "spike"), (6L, "b", "spike"), (7L, "c", "spike"),
      (8L, ("w " * 17).trim, "spike"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val g = llm.TextStats.giniBySource(docs)
      .select("source", "gini").as[(String, Double)].collect().toMap
    assert(g("flat") == 0.0, s"got $g")
    // sorted counts 1,1,1,17: iy = 1+2+3+68 = 74; G = 2·74/(4·20) − 5/4
    assert(math.abs(g("spike") - (2.0 * 74 / (4.0 * 20) - 5.0 / 4)) < 1e-12)
  }

  test("trendResiduals flags the injected spike day and nothing on a clean trend") {
    val base = (0 until 12).map { d =>
      (100L + d, f"2024-01-${d + 1}%02d 08:00:00", "a", 10.0 + d)
    }
    val spike = Seq((500L, "2024-01-06 09:00:00", "a", 500.0)) // day 5 doubles up
    val events = (base ++ spike).toDF("event_id", "tss", "event_type", "value")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val out = pipeline.Windows.trendResiduals(events)
      .select("day", "is_outlier").as[(String, Boolean)].collect().toMap
    assert(out("2024-01-06"), s"spike not flagged: $out")
    assert(out.count(_._2) == 1, s"extra outliers: ${out.filter(_._2)}")
  }

  test("blockingQuality summary rows reconcile with the per-block rows") {
    // n_pairs math runs in DECIMAL(38,0) internally (the n(n-1)/2
    // cross-product wraps BIGINT at ~3e9 records per block) and is
    // emitted as STRING — safe to cast back to long at test scale
    val out = pipeline.Linkage.blockingQuality(Tables.part(spark, sf()))
      .select(col("block_key"), col("n_records"),
        col("n_pairs").cast("long").as("n_pairs"))
      .as[(String, Long, Long)].collect()
    val total = out.filter(_._1 == "TOTAL")
    val dist = out.filter(_._1 == "TOTAL_DISTINCT")
    val blocks = out.filterNot(r => r._1 == "TOTAL" || r._1 == "TOTAL_DISTINCT")
    assert(total.length == 1 && dist.length == 1)
    assert(blocks.map(_._2).sum == total.head._2)
    assert(blocks.map(_._3).sum == total.head._3)
    // the distinct candidate set can only be smaller than the per-block
    // work count (same-bucket pairs surface from two blocks), and must
    // be at least the published match count (matches ⊆ candidates)
    assert(dist.head._3 <= total.head._3)
    assert(dist.head._3 >=
      pipeline.Linkage.entityResolution(Tables.part(spark, sf())).count())
  }

  test("entityClustersCapped: generous cap equals the uncapped clustering; tight cap only refines") {
    val part = Tables.part(spark, sf())
    val full = pipeline.Linkage.entityClusters(part)
      .as[(Long, Long)].collect().toMap
    // generous cap: identical labeling (no block dropped) and the
    // ride-along accounting reports exactly that
    val looseRows = pipeline.Linkage
      .entityClustersCapped(part, maxBlock = 1 << 20).collect()
    val loose = looseRows
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("entity_id"))
      .toMap
    assert(loose == full)
    assert(looseRows.forall(r => r.getAs[Long]("dropped_blocks") == 0L
      && r.getAs[Long]("dropped_entries") == 0L))
    // tight cap: a REFINEMENT — records the capped run merges were
    // also merged uncapped (dropping edges can only split clusters) —
    // and the accounting reconciles with the block-size frame
    val tightRows = pipeline.Linkage
      .entityClustersCapped(part, maxBlock = 2).collect()
    val tight = tightRows
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("entity_id"))
      .toMap
    assert(tight.keySet == full.keySet, "every record must stay labeled")
    tight.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(full).toSet.size == 1,
        "capped clustering merged records the uncapped one separates")
    }
    val expectedDrops = pipeline.Linkage.blockingQuality(part)
      .filter(!col("block_key").isin("TOTAL", "TOTAL_DISTINCT")
        && col("n_records") > 2)
      .agg(count(lit(1)), coalesce(sum(col("n_records")), lit(0L)))
      .as[(Long, Long)].collect().head
    assert(tightRows.head.getAs[Long]("dropped_blocks") == expectedDrops._1)
    assert(tightRows.head.getAs[Long]("dropped_entries") == expectedDrops._2)
  }

  test("entityResolutionCapped: generous cap is identity, tight cap drops monotonically") {
    val part = Tables.part(spark, sf())
    val uncapped = pipeline.Linkage.entityResolution(part)
      .select("k1", "k2").as[(Long, Long)].collect().toSet
    // cap far above any block: identical pairs, zero dropped
    val loose = pipeline.Linkage.entityResolutionCapped(part, maxBlock = 1 << 20)
    val looseRows = loose.collect()
    assert(looseRows.map(r => (r.getAs[Long]("k1"), r.getAs[Long]("k2"))).toSet
      == uncapped)
    assert(looseRows.forall(r => r.getAs[Long]("dropped_blocks") == 0L
      && r.getAs[Long]("dropped_entries") == 0L))
    // cap of 1: every multi-record block is hot — pairs ⊆ uncapped and
    // the drop accounting reconciles with the block-size frame
    val tight = pipeline.Linkage.entityResolutionCapped(part, maxBlock = 1)
    val tightRows = tight.collect()
    assert(tightRows.map(r => (r.getAs[Long]("k1"), r.getAs[Long]("k2"))).toSet
      .subsetOf(uncapped))
    val expected = pipeline.Linkage.blockingQuality(part)
      .filter(!col("block_key").isin("TOTAL", "TOTAL_DISTINCT")
        && col("n_records") > 1)
      .agg(count(lit(1)), coalesce(sum(col("n_records")), lit(0L)))
      .as[(Long, Long)].collect().head
    if (tightRows.nonEmpty) {
      assert(tightRows.head.getAs[Long]("dropped_blocks") == expected._1)
      assert(tightRows.head.getAs[Long]("dropped_entries") == expected._2)
    } else {
      // no surviving pair at cap 1 is legitimate; the accounting is
      // then carried by the oracle twin, which always computes ds
      assert(expected._1 >= 0L)
    }
  }

  test("dropCheckpoint releases RDD-layer blocks that unpersist() misses") {
    def checkpointed: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    // earlier tests legitimately leave their FINAL checkpoints alive
    // (released by the harness sweep) — track only this test's delta
    val baseline = checkpointed
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint()
    val derived = df.select(col("a")) // narrow transform over the checkpoint
    val mine = checkpointed -- baseline
    assert(mine.nonEmpty)
    // Dataset.unpersist goes through the CacheManager, which never
    // tracked the checkpoint's RDD — the blocks survive it
    derived.unpersist(blocking = true)
    assert((checkpointed -- baseline) == mine)
    // dropCheckpoint walks the plan to the LogicalRDD and unpersists it
    util.Graphs.dropCheckpoint(derived)
    assert(checkpointed.intersect(mine).isEmpty)
  }

  test("entityClusters fails loudly when the diameter exceeds maxRounds") {
    // a pure chain graph: every propagation round moves the min label
    // one hop, so a 30-node chain cannot converge in 3 rounds — the
    // loop must throw, never return non-minimal labels silently
    val n = 30
    val nodes = (1 to n).map(i => (i.toLong, i.toLong))
      .toDF("p_partkey", "label")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1))
    val sym = (edges ++ edges.map { case (a, b) => (b, a) })
      .toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      util.Graphs.minLabelPropagate(nodes, sym, maxRounds = 3,
        idCol = "p_partkey", context = "test").collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with enough rounds the same chain converges to the global min
    val ok = util.Graphs.minLabelPropagate(nodes, sym, maxRounds = n + 1,
      idCol = "p_partkey", context = "test").as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("char_grams kernel matches the interpreted transform chain") {
    val docs = Tables.documents(spark, sf()).limit(50)
      .union(Seq((9001L, "ab", "en", "x", 2L), (9002L, "AbCd", "en", "x", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // (sequence(1, len-2) auto-descends for len < 3 — guard with CASE,
    // the same reason the production query filters length >= 3)
    val diff = docs.select(col("doc_id"),
        call_function("char_grams", col("text"), lit(3)).as("fast"),
        expr("CASE WHEN length(text) < 3 THEN array() ELSE " +
          "array_distinct(transform(sequence(1, length(lower(text)) - 2), " +
          "i -> substring(lower(text), i, 3))) END").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0, diff.take(3).mkString(";"))
  }

  test("topUnshippedOrders filters both dates and ranks by decimal revenue") {
    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (10L, 1L, "1998-01-01", "1-URGENT"), // qualifies
      (11L, 1L, "1998-01-01", "2-HIGH"),   // qualifies, higher revenue
      (12L, 1L, "1999-01-01", "1-URGENT"), // ordered after cutoff
      (13L, 2L, "1998-01-01", "1-URGENT")) // wrong segment
      .toDF("o_orderkey", "o_custkey", "od", "o_orderpriority")
      .withColumn("o_orderdate", col("od").cast("timestamp")).drop("od")
    val lineitem = Seq(
      (10L, 100.0, 0.1, "1998-08-01"),
      (10L, 50.0, 0.0, "1998-01-02"),  // shipped before cutoff — excluded
      (11L, 300.0, 0.5, "1998-08-01"),
      (12L, 999.0, 0.0, "1999-02-01"),
      (13L, 999.0, 0.0, "1998-08-01"))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "sd")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd")
    val out = pipeline.Enrich.topUnshippedOrders(customer, orders, lineitem)
      .select("o_orderkey", "revenue").as[(Long, Double)].collect().toSeq
    // order 11: 300·0.5 = 150.00 beats order 10: 100·0.9 = 90.00
    assert(out == Seq((11L, 150.0), (10L, 90.0)), s"got $out")
  }
}

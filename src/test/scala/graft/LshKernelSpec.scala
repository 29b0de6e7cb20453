package graft

import org.apache.spark.sql.functions._
import graft.functions.{LshBucketCodes, LshPlanes}

/** The round-13 fused LSH kernel (`lsh_bucket_codes`) must be
  * BIT-IDENTICAL to the unfused formulation it replaced — 16 struct
  * columns of `when(dot_d(v, <plane literals>) >= 0, 2^p)` sums — or
  * every banded candidate join in the suite silently changes its
  * buckets. This spec pins the equivalence on adversarial vectors
  * (zero vector, all-negative, ±extremes, pseudo-random) at the suite
  * width and the widest twin width, plus the kernel's failure
  * contract (length mismatch throws like dot_d did). */
class LshKernelSpec extends SparkSpec {

  private def unfusedBuckets(v: Array[Double], numPlanes: Int): Array[Long] = {
    val pl = LshPlanes.planesFor(numPlanes)
    (0 until LshPlanes.NumTables).map { t =>
      (0 until numPlanes).map { p =>
        var s = 0.0
        var d = 0
        while (d < LshPlanes.Dim) { s += v(d) * pl(t)(p)(d); d += 1 }
        // Spark's `>= 0` on doubles: nanSafeCompareDoubles semantics
        if (s >= 0.0 || java.lang.Double.isNaN(s)) 1L << p else 0L
      }.sum
    }.toArray
  }

  private def vectors: Seq[Array[Double]] = {
    val zero = Array.fill(LshPlanes.Dim)(0.0)
    val negs = Array.fill(LshPlanes.Dim)(-1.0)
    val ext = Array.tabulate(LshPlanes.Dim)(d =>
      if (d % 2 == 0) 1e300 else -1e300)
    val rnd = (0 until 50).map { i =>
      Array.tabulate(LshPlanes.Dim) { d =>
        // deterministic pseudo-random in [-1, 1]
        val h = (i * 1315423911L + d * 2654435761L) & 0xffffffL
        h.toDouble / 0x7fffff - 1.0
      }
    }
    Seq(zero, negs, ext) ++ rnd
  }

  test("fused lsh_bucket_codes matches the unfused when/dot_d formulation") {
    import spark.implicits._
    for (np <- Seq(6, llm.Similarity.MaxTwinPlanes)) {
      val df = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "v")
      val fused = df.select(col("vec_id"),
          call_function("lsh_bucket_codes", col("v"), lit(np)).as("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      vectors.zipWithIndex.foreach { case (v, i) =>
        assert(fused(i.toLong) == unfusedBuckets(v, np).toSeq,
          s"bucket codes diverge at width $np for vector $i")
      }
    }
  }

  test("fused kernel keeps dot_d's length-mismatch failure contract") {
    val bad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1.0, 2.0))
    val e = intercept[IllegalArgumentException](LshBucketCodes.compute(bad, 6))
    assert(e.getMessage.contains("length mismatch"))
  }

  test("NULL vector DROPS from the index (documented divergence from " +
    "the unfused when(dot_d) form, which bucketed NULLs as code 0)") {
    // ADVICE r13: prepared() filters `embedding IS NOT NULL`, so this
    // path is unreachable from every production caller — but the
    // semantics must be PINNED so a future non-prepared caller is not
    // surprised: the fused kernel is null-intolerant (null in → null
    // out), and posexplode of the null array emits NO rows, i.e. a
    // NULL vector simply does not enter the LSH index.
    import spark.implicits._
    val df = Seq((1L, Some(Seq.fill(LshPlanes.Dim)(1.0))), (2L, None))
      .toDF("vec_id", "v")
    val exploded = df.select(col("vec_id"),
      posexplode(call_function("lsh_bucket_codes", col("v"), lit(6)))
        .as(Seq("tbl", "bucket")))
    val byId = exploded.groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == LshPlanes.NumTables.toLong)
    assert(!byId.contains(2L), "NULL vector must drop, not bucket as 0")
  }
}

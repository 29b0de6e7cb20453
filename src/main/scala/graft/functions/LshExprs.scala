package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Deterministic sign-projection LSH planes — the ONE derivation shared
  * by the Spark kernel below, `llm.Similarity`'s oracle-SQL twins, and
  * the `graft.ProbeBuckets` occupancy probe (all route through
  * `Similarity.planesFor`, which delegates here). Weight (t,p,d) =
  * (md5("t:p:d") mod 2001 − 1000)/1000 ∈ [−1,1]; each weight depends
  * only on its own coordinates, so planesFor(k) is a prefix of
  * planesFor(k+1) (widening subdivides buckets — the adaptive-width
  * contract). */
object LshPlanes {
  val Dim = 64
  val NumTables = 16

  def planesFor(numPlanes: Int): Seq[Seq[Seq[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NumTables).map { t =>
      (0 until numPlanes).map { p =>
        (0 until Dim).map { d =>
          val hex = md.digest(s"$t:$p:$d".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(15)
          ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
        }
      }
    }
  }

  /** Flat weight layout [t][p][d] for the fused kernel, cached per
    * width (widths in practice: the suite default 6 up to ~25 at the
    * 10⁹-vector design point — a handful of entries, ~50 KB each). */
  private val flatCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  def flat(numPlanes: Int): Array[Double] =
    flatCache.computeIfAbsent(numPlanes, np => {
      val pl = planesFor(np)
      val w = new Array[Double](NumTables * np * Dim)
      var i = 0
      var t = 0
      while (t < NumTables) {
        var p = 0
        while (p < np) {
          var d = 0
          while (d < Dim) { w(i) = pl(t)(p)(d); i += 1; d += 1 }
          p += 1
        }
        t += 1
      }
      w
    })
}

/** Fused LSH bucket kernel: ALL NumTables bucket codes of one vector in
  * a single expression — `lsh_bucket_codes(v, numPlanes)` returns
  * array<long>[NumTables], element t = Σ_p [dot(v, w(t,p)) ≥ 0] · 2^p.
  *
  * Replaces the unfused form (16 struct columns × numPlanes
  * `when(dot_d(v, array(64 literals)) >= 0, …)` terms): at width 6
  * that expression tree carries ~6k literal leaves and 96 separate
  * codegen'd dot loops — Catalyst walks the tree on every optimizer
  * pass and janino compiles ~100× the source, several seconds of pure
  * PLANNING/COMPILE time per LSH query before a row moves (guide §4:
  * codegen-friendly expressions; measured in OPTIMIZATION_r13.md). At
  * run time the fused loop reads the vector once into a primitive
  * array and streams the weight matrix linearly — same FLOPs, better
  * locality, no per-plane bounds/null re-checks.
  *
  * BIT-IDENTICAL to the unfused form by construction:
  *  - per (t,p) the accumulation is the same d-ascending IEEE left
  *    fold `0.0 + v₀w₀ + v₁w₁ + …` as `dot_d(v, planes(t)(p))`;
  *  - the sign test replicates Spark's `>= 0` comparison semantics on
  *    doubles (nanSafeCompareDoubles: NaN compares greater than any
  *    value, ±0.0 compare equal) as `s >= 0.0 || isNaN(s)`;
  *  - length/null-element violations throw the same
  *    [[DotProductD.lengthMismatch]]/[[DotProductD.nullElement]] the
  *    unfused dot_d threw.
  */
case class LshBucketCodes(child: Expression, numPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok && numPlanes >= 1 && numPlanes <= 62)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket_codes requires array<double> and 1 <= numPlanes <= 62, " +
        s"got ${child.dataType.simpleString} / $numPlanes")
  }

  override protected def nullSafeEval(a: Any): Any =
    LshBucketCodes.compute(a.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshBucketCodes.compute($c, $numPlanes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketCodes {
  import LshPlanes.{Dim, NumTables}

  /** The fused kernel — static so generated code calls one method. */
  def compute(v: ArrayData, numPlanes: Int): ArrayData = {
    val n = v.numElements()
    if (n != Dim) throw DotProductD.lengthMismatch(Dim, n)
    val vv = new Array[Double](Dim)
    var d = 0
    while (d < Dim) {
      if (v.isNullAt(d)) throw DotProductD.nullElement()
      vv(d) = v.getDouble(d)
      d += 1
    }
    val w = LshPlanes.flat(numPlanes)
    val out = new Array[Long](NumTables)
    var t = 0
    var base = 0
    while (t < NumTables) {
      var code = 0L
      var p = 0
      while (p < numPlanes) {
        var s = 0.0
        var i = 0
        while (i < Dim) { s += vv(i) * w(base + i); i += 1 }
        // Spark double `>= 0`: nanSafeCompareDoubles — NaN sorts above
        // every value, ±0.0 equal; primitive >= covers -0.0, add NaN.
        if (s >= 0.0 || java.lang.Double.isNaN(s)) code |= (1L << p)
        base += Dim
        p += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Count–Min sketch (Cormode–Muthukrishnan 2005) as a pair of Catalyst
  * primitives:
  *
  *  - `cms_build(word)` — a TypedImperativeAggregate whose buffer is a
  *    fixed Depth×Width counter matrix (flattened long array, ~64 KB);
  *    partial aggregation merges by elementwise add, so the shuffle
  *    carries one 64 KB sketch per map partition REGARDLESS of corpus
  *    size — the point at 100 TB, where the exact word histogram's
  *    shuffle is the vocabulary itself.
  *  - `cms_query(sketch, word)` — the min-over-rows point estimate.
  *
  * Guarantees (deterministic for a fixed dataset, any partitioning,
  * because counter updates commute): estimate ≥ true count ALWAYS;
  * estimate ≤ true + (2/Width)·N with prob 1-(1/2)^Depth over the
  * hash draw — checked as oracle booleans in `q_cms_topwords`.
  *
  * Hashing is the library's standard portable scheme (one md5 per
  * word, Kirsch–Mitzenmacher row derivation h_i = ha + (i+1)·hb mod P
  * — same construction as `minhash_sigs`, TextHashExprs.scala), so
  * build and query agree across JVMs with no seed plumbing.
  */
object Cms {
  val Depth = 4
  val Width = 2048
  val HashP: Long = TextHash.HashP

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-row counter columns for a word: ha/hb are 60-bit halves of
    * md5(word) mod P (digest bytes read big-endian nibble-wise, the
    * same value as parsing the hex string — matching TextHashExprs). */
  def cols(word: UTF8String): Array[Int] = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(word.getBytes)
    // hex[0,15) = first 7.5 bytes; hex[16,31) = bytes 8..15.5
    var ha = 0L; var hb = 0L
    var i = 0
    while (i < 7) { ha = (ha << 8) | (d(i) & 0xffL); i += 1 }
    ha = (ha << 4) | ((d(7) >> 4) & 0xfL)
    i = 8
    while (i < 15) { hb = (hb << 8) | (d(i) & 0xffL); i += 1 }
    hb = (hb << 4) | ((d(15) >> 4) & 0xfL)
    ha %= HashP; hb %= HashP
    val out = new Array[Int](Depth)
    i = 0
    while (i < Depth) {
      out(i) = ((ha + (i + 1) * hb) % HashP % Width).toInt
      i += 1
    }
    out
  }
}

/** `cms_build(word)` → array<bigint> of length Depth·Width. */
case class CountMinBuild(
    wordExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  import Cms._

  override def children: Seq[Expression] = Seq(wordExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Depth * Width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val w = wordExpr.eval(input)
    if (w != null) {
      val cs = cols(w.asInstanceOf[UTF8String])
      var i = 0
      while (i < Depth) { buf(i * Width + cs(i)) += 1L; i += 1 }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](Depth * Width)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinBuild =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinBuild =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(wordExpr = newChildren(0))
}

/** `cms_query(sketch, word)` → bigint point estimate (min over rows).
  * Interpreted eval is fine: queries probe a handful of rows, never
  * the corpus. */
case class CountMinQuery(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  import Cms._

  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, word: Any): Any = {
    val arr = sketch.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // SQL-exposed: a wrong-shaped sketch array must fail loudly — an
    // UnsafeArrayData shorter than Depth·Width would otherwise be read
    // off-buffer and return silent garbage estimates
    if (arr.numElements() != Depth * Width) throw new IllegalArgumentException(
      s"cms_query: sketch must have ${Depth * Width} counters " +
        s"(got ${arr.numElements()}) — pass the cms_build output")
    val cs = cols(word.asInstanceOf[UTF8String])
    var m = Long.MaxValue
    var i = 0
    while (i < Depth) {
      val v = arr.getLong(i * Width + cs(i))
      if (v < m) m = v
      i += 1
    }
    m
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

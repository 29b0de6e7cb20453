package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Bounded-heap top-k aggregate: `top_k_by(score, id, k)` keeps the k
  * highest (score, id) pairs per group, ordered score DESC then id ASC
  * (ties), returning array<struct<score:double, id:bigint>>.
  *
  * Why a custom TypedImperativeAggregate: the built-in route for
  * per-group top-k is a Window (row_number over partition) — which
  * shuffles EVERY candidate row to sort it, O(n) shuffle per group. A
  * partial-aggregable bounded heap shuffles at most k rows per group
  * per map partition — the only top-k shape that survives a 100 TB
  * corpus (SURVEY.md §7.3). collect_list+slice would also shuffle
  * everything.
  *
  * The buffer is a simple size-bounded min-heap over (score, -id): the
  * root is the weakest entry, evicted on insert when full. merge()
  * folds one heap into another, giving map-side combine for free.
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByScore.Heap] {

  import TopKByScore._

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): Heap = new Heap(k)

  override def update(buf: Heap, input: InternalRow): Heap = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Heap, other: Heap): Heap = { buf.mergeFrom(other); buf }

  override def eval(buf: Heap): Any = {
    val arr = buf.sortedDesc()
    new GenericArrayData(arr.map { case (s, i) =>
      InternalRow(s, i)
    })
  }

  override def serialize(buf: Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var j = 0
    while (j < buf.size) {
      out.writeDouble(buf.scores(j)); out.writeLong(buf.ids(j)); j += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val h = new Heap(k)
    var j = 0
    while (j < n) { h.insert(in.readDouble(), in.readLong()); j += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKByScore {

  /** Size-bounded binary min-heap on (score asc, id desc) so the root
    * is the entry to evict: lowest score, ties broken by HIGHEST id
    * (because the output order is score desc, id asc). */
  final class Heap(k: Int) {
    // clear message instead of NegativeArraySizeException from the
    // array allocation: top_k_by is SQL-exposed and k comes from the
    // user's literal
    require(k >= 0, s"top_k_by: k must be >= 0 (got $k)")
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    // a is weaker than b → a sorts out first. Double.compare is a
    // TOTAL order: NaN > +Inf > everything, exactly how Spark's sort
    // and DuckDB's ORDER BY ... DESC rank NaN (first). Plain < / ==
    // would make every NaN comparison false — a NaN entry could
    // neither be evicted nor evict, silently poisoning the heap.
    // (Zero-norm embeddings make cosine 0/0 = NaN; they must surface
    // in the top-k like the SQL oracle surfaces them, not vanish.)
    private def weaker(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = java.lang.Double.compare(sa, sb)
      c < 0 || (c == 0 && ia > ib)
    }

    def insert(s0: Double, i: Long): Unit = {
      // Canonicalize -0.0 to +0.0: SQL ORDER BY ties them (id breaks
      // the tie), but Double.compare ranks -0.0 < +0.0.
      val s = if (s0 == 0.0d) 0.0d else s0
      if (size < k) {
        scores(size) = s; ids(size) = i; size += 1
        siftUp(size - 1)
      } else if (k > 0 && weaker(scores(0), ids(0), s, i)) {
        scores(0) = s; ids(0) = i
        siftDown(0)
      }
    }

    def mergeFrom(o: Heap): Unit = {
      var j = 0
      while (j < o.size) { insert(o.scores(j), o.ids(j)); j += 1 }
    }

    private def siftUp(j0: Int): Unit = {
      var j = j0
      while (j > 0) {
        val p = (j - 1) / 2
        if (weaker(scores(j), ids(j), scores(p), ids(p))) { swap(j, p); j = p }
        else return
      }
    }

    private def siftDown(j0: Int): Unit = {
      var j = j0
      while (true) {
        val l = 2 * j + 1; val r = l + 1
        var m = j
        if (l < size && weaker(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < size && weaker(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == j) return
        swap(j, m); j = m
      }
    }

    private def swap(a: Int, b: Int): Unit = {
      val ts = scores(a); scores(a) = scores(b); scores(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }

    /** (score desc, id asc) under the same total order as insert —
      * NaN first, like SQL's ORDER BY score DESC. */
    def sortedDesc(): Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](size)
      var j = 0
      while (j < size) { out(j) = (scores(j), ids(j)); j += 1 }
      scala.util.Sorting.stableSort(out,
        (a: (Double, Long), b: (Double, Long)) => {
          val c = java.lang.Double.compare(a._1, b._1)
          c > 0 || (c == 0 && a._2 < b._2)
        })
      out
    }
  }
}

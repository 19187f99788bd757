package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded top-k (score desc, id asc) aggregate over
  * (score, id) input rows, returning `array<struct<id, score>>` in
  * best-first order — the Catalyst-level replacement for the typed
  * [[graft.functions.TopKByScore]] `Aggregator` (r16, guide §"per-task
  * work": eliminate non-codegen boundaries in the hot path).
  *
  * Why: the typed Aggregator could only be attached through
  * `groupByKey(...).mapValues(ScoredId)`, and each of those inserts an
  * `AppendColumns` node — a full InternalRow -> Scala object -> encoder
  * pass over EVERY scored row before partial aggregation even starts
  * (measured on the knn_graph plan: two AppendColumns over the n² pair
  * stream, no WholeStageCodegen anywhere in the subtree). This
  * aggregate evaluates its children straight off the InternalRow, so
  * the pair stream stays inside codegen until the partial aggregate.
  *
  * Contract: keep the k best rows by (score desc, id asc); ties cannot
  * arise beyond exact (score, id) duplicates, whose retention is
  * content-identical either way. The result is a total order, so
  * output is independent of arrival and merge order — partial
  * aggregation and AQE cannot change it. Rows with a null score, a
  * null id or a NaN score are SKIPPED: they never enter the result,
  * and a group whose every row is skipped yields an empty array. This
  * is where it departs from TopKByScore, which ranked NaN through
  * `java.lang.Double.compare` (see `update`).
  */
case class TopKScored(
    left: Expression, // score
    right: Expression, // id
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKScored.Buf] with BinaryLike[Expression] {

  require(k >= 1, s"topk_scored needs k >= 1, got $k")

  override def createAggregationBuffer(): TopKScored.Buf = new TopKScored.Buf(k)

  override def update(buf: TopKScored.Buf, input: InternalRow): TopKScored.Buf = {
    val s = left.eval(input)
    val i = right.eval(input)
    // NaN scores are skipped like nulls (r17): `worse()` is not a total
    // order under NaN — every comparison with NaN is false, so a NaN row
    // reaching the heap root would never be evicted and would block
    // strictly better rows (the replaced typed aggregator deterministically
    // ranked NaN via java.lang.Double.compare). NaN is reachable only on
    // degenerate inputs (cosine of a zero-norm vector); ranking paths
    // filter those upstream, and a NaN score carries no ranking signal.
    if (s != null && i != null && !java.lang.Double.isNaN(s.asInstanceOf[Double]))
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKScored.Buf, other: TopKScored.Buf): TopKScored.Buf = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKScored.Buf): Any = {
    val sorted = buf.sortedBestFirst()
    new GenericArrayData(sorted.map { case (s, i) =>
      new GenericInternalRow(Array[Any](i, s)): Any
    })
  }

  override def serialize(buf: TopKScored.Buf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKScored.Buf =
    TopKScored.Buf.fromBytes(k, bytes)

  override def nullable: Boolean = false
  override def dataType: DataType = TopKScored.resultType

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScored =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScored =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKScored =
    copy(left = newLeft, right = newRight)
}

object TopKScored {

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  /** `array<struct<id, score>>` of the k best (score desc, id asc)
    * rows per group, best first — drop-in for the typed
    * `TopKByScore.toColumn` output shape. */
  def topk(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKScored(GraftColumnBridge.expression(score),
        GraftColumnBridge.expression(id), k).toAggregateExpression())

  /** Bounded buffer: parallel primitive arrays kept as an implicit
    * worst-first binary heap once full ("worse" = lower score, then
    * larger id), so a rejected row costs one comparison against the
    * root and an accepted one O(log k) sift — no per-row allocation. */
  final class Buf(k: Int) {
    private val scores = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0
    private var heapified = false

    // a is WORSE than b: lower score, ties to larger id
    @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      sa < sb || (sa == sb && ia > ib)

    private def siftDown(root: Int): Unit = {
      var p = root
      while (true) {
        val l = 2 * p + 1
        val r = l + 1
        var w = p // index of the worst among p and its children
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == p) return
        val ts = scores(p); val ti = ids(p)
        scores(p) = scores(w); ids(p) = ids(w)
        scores(w) = ts; ids(w) = ti
        p = w
      }
    }

    private def heapify(): Unit = {
      var i = n / 2 - 1
      while (i >= 0) { siftDown(i); i -= 1 }
      heapified = true
    }

    def add(s: Double, i: Long): Unit = {
      if (n < k) {
        scores(n) = s; ids(n) = i; n += 1
        if (n == k) heapify()
      } else {
        // root = current worst kept row; replace only if the new row
        // beats it
        if (!heapified) heapify()
        if (worse(scores(0), ids(0), s, i)) {
          scores(0) = s; ids(0) = i
          siftDown(0)
        }
      }
    }

    def mergeFrom(other: Buf): Unit = {
      var i = 0
      while (i < other.n) { add(other.scores(i), other.ids(i)); i += 1 }
    }

    /** (score, id) pairs, best (score desc, id asc) first. */
    def sortedBestFirst(): Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](n)
      var i = 0
      while (i < n) { out(i) = (scores(i), ids(i)); i += 1 }
      scala.util.Sorting.stableSort(out,
        (a: (Double, Long), b: (Double, Long)) =>
          a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      out
    }

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 16 * n)
      bb.putInt(n)
      var i = 0
      while (i < n) { bb.putDouble(scores(i)); bb.putLong(ids(i)); i += 1 }
      bb.array()
    }
  }

  object Buf {
    def fromBytes(k: Int, bytes: Array[Byte]): Buf = {
      val bb = ByteBuffer.wrap(bytes)
      val m = bb.getInt
      val buf = new Buf(k)
      var i = 0
      while (i < m) { buf.add(bb.getDouble, bb.getLong); i += 1 }
      buf
    }
  }
}

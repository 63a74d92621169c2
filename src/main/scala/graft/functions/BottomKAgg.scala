package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bottom-k (KMV) distinct-count sketch: the k SMALLEST distinct hash
  * values of a group, as a sorted `array<bigint>`.
  *
  * Unlike counter sketches (Misra–Gries, Space-Saving) whose state depends
  * on arrival order, bottom-k is a pure function of the value SET — k-min
  * is commutative, associative and idempotent — so signatures are
  * bit-identical under any partitioning/merge order and a SQL oracle can
  * replay them exactly (row_number over hash order). Distinct-count
  * estimate: with the signed hash space mapped to [0, 2⁶⁴), the k-th
  * minimum u_k gives D̂ = (k−1)·2⁶⁴/u_k; groups holding fewer than k
  * distinct hashes are EXACT (the sketch has the whole set). Sketches
  * merge losslessly (k-min of unions = k-min of merged sketches), which is
  * what makes the estimate distributable and roll-up-able at 100 TB —
  * same mergeability story as q_hll_merge, but deterministic and
  * oracle-checkable.
  *
  * State is a bounded k-long sorted buffer; update is a binary search +
  * insertion, merge a linear two-pointer pass.
  */
case class BottomKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKAgg.Buf] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, k>=1), got " +
        s"(${child.dataType.simpleString}, $k)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BottomKAgg.Buf =
    new BottomKAgg.Buf(new Array[Long](k), 0)

  override def update(buf: BottomKAgg.Buf, input: InternalRow): BottomKAgg.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: BottomKAgg.Buf, b2: BottomKAgg.Buf): BottomKAgg.Buf = {
    var i = 0
    while (i < b2.n) { b1.insert(b2.a(i)); i += 1 }
    b1
  }

  override def eval(buf: BottomKAgg.Buf): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.a, buf.n))

  override def serialize(buf: BottomKAgg.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 8)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.a(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BottomKAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val a = new Array[Long](k)
    var i = 0
    while (i < n) { a(i) = bb.getLong; i += 1 }
    new BottomKAgg.Buf(a, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "bottom_k"
}

object BottomKAgg {
  /** Sorted distinct bottom-k buffer (signed ascending; the normalization
    * to unsigned position happens only in the estimate formula). */
  final class Buf(val a: Array[Long], var n: Int) {
    def insert(x: Long): Unit = {
      var idx = java.util.Arrays.binarySearch(a, 0, n, x)
      if (idx >= 0) return // already present — sketch is a SET
      idx = -idx - 1
      if (idx >= a.length) return // larger than the current k minima
      val last = math.min(n, a.length - 1)
      System.arraycopy(a, idx, a, idx + 1, last - idx)
      a(idx) = x
      if (n < a.length) n += 1
    }
  }

  /** Aggregate column: sorted k smallest distinct values of a bigint col. */
  def bottomK(spark: SparkSession)(v: Column, k: Int): Column =
    call_function("bottom_k", v, lit(k))
}

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Deterministic Bloom filter over bigint keys: the semi-join reduction a
  * big join wants at scale — build the filter from the SMALL (already
  * filtered) side, test the BIG side's keys BEFORE its shuffle, let the
  * exact join remove the (rare) false positives. Result set is identical
  * to the plain join by construction: a Bloom filter has no false
  * negatives, so the pre-filter only trims rows the join would drop
  * anyway.
  *
  * Spark's optimizer has an automatic version of this shape (the runtime
  * bloom-filter rewrite); the explicit operator exists for the cases the
  * rewrite's heuristics miss, with the filter size a declared dial and a
  * deterministic hash family (splitmix64 double hashing — public-domain
  * mixing constants) so plans replay bit-identically.
  *
  * Sizing: 2¹⁷ bits (16 KiB) / 5 probes ≈ 0.1% false positives at ~10k
  * distinct keys; both are dials — a 100 TB build side would size m from
  * the key-count estimate the same way Spark's own rewrite does.
  */
object BloomFns {
  /** Filter geometry — bits MUST be a power of two (mask indexing). */
  val NumBits: Int = 1 << 17
  val NumLongs: Int = NumBits / 64
  val NumProbes: Int = 5

  private final val C1 = 0x9E3779B97F4A7C15L
  private final val C2 = 0xBF58476D1CE4E5B9L
  private final val C3 = 0x94D049BB133111EBL

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer. */
  def mix(z0: Long): Long = {
    var z = z0 + C1
    z = (z ^ (z >>> 30)) * C2
    z = (z ^ (z >>> 27)) * C3
    z ^ (z >>> 31)
  }

  /** Set the key's probe bits in `buf` (double hashing: h1 + i·h2, h2 odd
    * so the stride walks the full power-of-two table). */
  def add(buf: Array[Long], v: Long): Unit = {
    val h1 = mix(v)
    val h2 = mix(v + C1) | 1L
    var i = 0
    while (i < NumProbes) {
      val bit = ((h1 + i * h2) & (NumBits - 1)).toInt
      buf(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** Probe — called from both the interpreted path and generated code (the
    * static forwarder makes it reachable from Janino). */
  def mightContain(bits: ArrayData, v: Long): Boolean = {
    // the probe geometry is fixed (2^17 bits = 2048 longs); a shorter
    // array — e.g. a hand-written SQL call with an arbitrary list — must
    // fail with a diagnosable message, not an index error mid-probe
    if (bits.numElements() != NumLongs) throw new IllegalArgumentException(
      s"graft_bloom_might_contain: filter must be $NumLongs longs " +
        s"(a graft_bloom_agg result), got ${bits.numElements()}")
    val h1 = mix(v)
    val h2 = mix(v + C1) | 1L
    var i = 0
    while (i < NumProbes) {
      val bit = ((h1 + i * h2) & (NumBits - 1)).toInt
      if ((bits.getLong(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** One-pass Bloom build as a typed imperative aggregate: partial buffers
  * fill map-side, merge is a bitwise OR — constant 16 KiB state per
  * partial, the cheapest possible distributed build. */
case class BloomAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](BloomFns.NumLongs)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomFns.add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(BloomFns.NumLongs)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_bloom_agg"
}

/** Membership probe that participates in whole-stage codegen — the test
  * runs per FACT row, so it must stay inside the generated loop (5 mixes +
  * 5 indexed loads, zero allocation). */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = BooleanType

  override def nullSafeEval(bits: Any, v: Any): Any =
    BloomFns.mightContain(bits.asInstanceOf[ArrayData], v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bits, v) =>
      s"${ev.value} = graft.functions.BloomFns.mightContain($bits, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bloom_might_contain"
}

object BloomFilter {
  /** Aggregate column: Bloom filter (array<bigint>) of a bigint key column. */
  def bloomAgg(spark: SparkSession)(key: Column): Column =
    call_function("graft_bloom_agg", key)

  /** Probe column: true iff `key` may be in `bloom` (no false negatives). */
  def mightContain(spark: SparkSession)(bloom: Column, key: Column): Column =
    call_function("graft_bloom_might_contain", bloom, key)
}

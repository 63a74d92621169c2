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

/** One-pass MinHash signature as a native TYPED IMPERATIVE AGGREGATE:
  * `minhash_sig(tok_id)` folds every token into all `k` hash lanes of a
  * single primitive buffer — partial (map-side) aggregation, lane-wise-min
  * merge across partitions, constant memory per group.
  *
  * This is the signature builder that scales: the `k` min-columns
  * formulation (`agg(min(h0), …, min(h7))`) re-evaluates `k` expressions
  * per row and widens the aggregate schema linearly, which stops being
  * reasonable at the 64–128 lanes real corpus dedup uses. One buffer, one
  * pass, one array column out.
  *
  * Hash lanes are the FIXED affine family h_i(x) = (a_i·x + b_i) mod p
  * shared with [[graft.operators.TrainingData]] — signatures are
  * bit-identical to the column formulation (proven by MinHashAggSpec), so
  * the DuckDB oracle replays them exactly.
  */
case class MinHashAgg(
    child: Expression,
    k: Int = MinHashAgg.K,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  import MinHashAgg.P

  // Lane family for this instance's k: first 8 lanes are the published
  // constants, further lanes generated deterministically (same envelope).
  // @transient lazy: rebuilt per executor from (k) alone — no state ships.
  @transient private lazy val lanes = MinHashAgg.family(k)

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      // reduce the id BEFORE multiplying: with a ≈ 2³¹ multipliers,
      // a·(x mod P) ≤ ~4.6·10¹⁸ < Long.Max for ANY bigint id — 64-bit-safe
      // (and replayable in int64 SQL) at a 10⁹⁺-token vocab, where the
      // unreduced product would overflow
      val xr = x % P
      val (la, lb) = lanes
      var i = 0
      while (i < k) {
        val h = (la(i) * xr + lb(i)) % P
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.forall(_ == Long.MaxValue)) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "minhash_sig"
}

object MinHashAgg {
  /** Lane count and the affine family — MUST stay in sync with
    * [[graft.operators.TrainingData]]'s column formulation and oracle.
    *
    * The multipliers are LARGE (≈ P/2..P, primes, each ≥ 2·10⁸ away from
    * 0 and P mod P): every lane wraps the modulus within 2 consecutive
    * ids, so consecutive vocab ids land in unrelated hash positions. The
    * original family (a_i ≤ 8291) never wrapped over a fixture-sized
    * vocab (a·x < P for x < 259 013), making each lane MONOTONE in
    * tok_id — all 8 argmins collapsed to the doc's minimum (i.e.
    * lexicographically first) token, est_jac degenerated to {0,1}, and
    * the operator silently clustered "docs sharing their first vocab
    * token" (quadratic cliques: 38.6 M pairs on the ×8 skew-shard corpus,
    * ~2.4× super-linear). The skew octave caught it; MinHashAggSpec pins
    * wrap-richness and argmin diversity so the family cannot regress. */
  val K = 8
  val P = 2147483647L
  val A: Array[Long] = Array(1100000009L, 1210000013L, 1320000041L,
    1430000017L, 1540000001L, 1650000049L, 1760000027L, 1870000087L)
  val B: Array[Long] = Array(1409L, 2003L, 2707L, 3323L, 4001L, 4703L, 5419L, 6089L)

  /** Affine family at an arbitrary lane count. Lanes < 8 are the published
    * constants above (the declared 8-lane surface and its oracle replay
    * them verbatim — MinHashAggSpec pins this prefix). Lanes ≥ 8 are
    * generated deterministically inside the same wrap-richness envelope
    * the 8 published multipliers satisfy: a ∈ [2.1·10⁸, P − 2.1·10⁸], so
    * every generated lane wraps P within ~10 consecutive ids and no lane
    * is monotone over a realistic vocab (the round-6 degeneracy class).
    * Used by the production-lane (64–128) measurement tier; the formula is
    * fixed so K=64 runs are replayable. */
  def family(k: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    val span = P - 2L * 210000000L   // envelope width
    var i = 0
    while (i < k) {
      if (i < K) { a(i) = A(i); b(i) = B(i) }
      else {
        a(i) = 210000000L + (A(i % K) * 31L + 104729L * i) % span
        b(i) = B(i % K) + 7013L * i
      }
      i += 1
    }
    (a, b)
  }

  /** Aggregate column: MinHash-`K` signature of a grouped bigint column. */
  def minhashSig(spark: SparkSession)(tokId: Column): Column =
    call_function("minhash_sig", tokId)

  /** Aggregate column at an EXPLICIT lane count, `minhash_sig(x, k)` — the
    * production-lane measurement tier (64–128 lanes). Same one-buffer
    * shape; the declared 8-lane surface keeps using [[minhashSig]]. */
  def minhashSigK(spark: SparkSession, k: Int)(tokId: Column): Column =
    call_function("minhash_sig", tokId, lit(k))
}

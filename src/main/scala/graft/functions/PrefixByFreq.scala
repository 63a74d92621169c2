package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native expression: PPJoin prefix selection in the array domain.
  *
  * Given a doc's distinct shingle-hash array (from [[ShingleHashes]]) and a
  * FIXED corpus frequency sketch (bucket `b` = total occurrences of shingles
  * with `hash & (size-1) == b`), returns the `n - ceil(theta*n) + 1`
  * elements that come FIRST in the global total order
  * `(sketchFreq(sh), sh)` ascending — i.e. rarest-first — ordered by that
  * same key, so `posexplode` yields each prefix element's in-doc rank for
  * free.
  *
  * Why this replaces the explode→join→window formulation: per-doc prefix
  * rank via `row_number()` costs a corpus-wide shuffle plus a per-partition
  * sort (profiled at 3.0 s of q_dedup_ngram's 4 s at sf0.1); this kernel
  * needs only the broadcast sketch and turns the whole prefix stage into a
  * map-only pass. PPJoin's filter correctness requires ONLY a consistent
  * total order over the shingle universe — any order finds every qualifying
  * pair; frequency ordering is purely a selectivity heuristic — so an
  * approximate (bucketed) frequency changes candidate COUNT, never the
  * verified result set. The sketch is fixed-size (2^16 ints here — a
  * conf-sized dial, 2^20+ at corpus scale), so collecting it to the driver
  * is bounded like collecting k-means centroids, not corpus-sized.
  *
  * The sketch rides into the expression as an int-array literal child,
  * decoded once per task; `sh` breaks ties, so the order is injective.
  */
case class PrefixByFreq(child: Expression, freqsLit: Expression, theta: Double)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, freqsLit)
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, freqsLit.dataType) match {
      case (ArrayType(LongType, _), ArrayType(IntegerType, _))
        if freqsLit.isInstanceOf[Literal] && theta > 0 && theta <= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (c, f) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, literal array<int>, 0<theta<=1), " +
          s"got (${c.simpleString}, ${f.simpleString}, $theta)")
    }

  @transient private lazy val freqs: Array[Int] =
    freqsLit.eval().asInstanceOf[ArrayData].toIntArray()
  @transient private lazy val mask: Int = freqs.length - 1

  override def foldable: Boolean = child.foldable

  /** max-heap order on (freq, sh): is element i "larger" than element j? */
  private def gt(fi: Int, si: Long, fj: Int, sj: Long): Boolean =
    fi > fj || (fi == fj && si > sj)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val in = child.eval(input)
    if (in == null) return null
    val shs = in.asInstanceOf[ArrayData].toLongArray()
    val n = shs.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val k = math.min(n - math.ceil(theta * n).toInt + 1, n)
    // Select the k smallest by (sketch frequency asc, hash asc) with a
    // bounded max-heap over primitive parallel arrays — O(n log k), no
    // boxing. The generic `sortBy(sh => (freq, sh))` it replaces allocated
    // a boxed tuple per element and compared through Ordering (profiled at
    // ~0.5 s of q_dedup_ngram's total at sf0.1 for ~600-element arrays).
    val hs = new Array[Long](k)
    val hf = new Array[Int](k)
    var i = 0
    while (i < k) { hs(i) = shs(i); hf(i) = freqs(shs(i).toInt & mask); i += 1 }
    def siftDown(start: Int, end: Int): Unit = {
      var root = start
      var done = false
      while (!done && 2 * root + 1 < end) {
        var c = 2 * root + 1
        if (c + 1 < end && gt(hf(c + 1), hs(c + 1), hf(c), hs(c))) c += 1
        if (gt(hf(c), hs(c), hf(root), hs(root))) {
          val tf = hf(root); hf(root) = hf(c); hf(c) = tf
          val ts = hs(root); hs(root) = hs(c); hs(c) = ts
          root = c
        } else done = true
      }
    }
    var h = k / 2 - 1
    while (h >= 0) { siftDown(h, k); h -= 1 }
    i = k
    while (i < n) {
      val f = freqs(shs(i).toInt & mask)
      if (gt(hf(0), hs(0), f, shs(i))) { hf(0) = f; hs(0) = shs(i); siftDown(0, k) }
      i += 1
    }
    // heap-sort finish: repeatedly move the max to the tail → ascending
    var end = k - 1
    while (end > 0) {
      val tf = hf(0); hf(0) = hf(end); hf(end) = tf
      val ts = hs(0); hs(0) = hs(end); hs(end) = ts
      siftDown(0, end)
      end -= 1
    }
    new GenericArrayData(hs)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), freqsLit = newChildren(1))

  override def prettyName: String = "prefix_by_freq"
}

object PrefixByFreq {
  /** Rarest-first prefix of a shingle array under a fixed frequency sketch.
    * `freqs.length` must be a power of two. */
  def prefix(spark: SparkSession)(shs: Column, freqs: Array[Int], theta: Double): Column = {
    require(freqs.nonEmpty && (freqs.length & (freqs.length - 1)) == 0,
      "sketch size must be a power of two")
    call_function("prefix_by_freq", shs, typedLit(freqs), lit(theta))
  }
}

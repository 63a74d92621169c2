package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: the SORTED, DISTINCT multiset of 64-bit hashes of all
  * `n`-character shingles of a string, in ONE pass — `O(len)` primitive ops,
  * one output array, no per-window `UTF8String` allocation on the ASCII
  * fast path.
  *
  * The composed-builtins formulation
  * (`array_sort(array_distinct(transform(sequence(...), i ->
  * xxhash64(substr(text, i, n)))))`) allocates a substring AND evaluates a
  * full hash expression per window — measured several times slower on the
  * corpus. Hash identity is all that matters downstream (set equality /
  * intersection of shingle sets), so a polynomial rolling-window hash over
  * the code points is used; 64-bit wraparound multiplication gives a
  * negligible collision rate for within-document set sizes.
  *
  * Output order/distinctness contract matches what
  * [[SortedIntersectCount]] requires of its inputs.
  */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, window>=1), got " +
        s"(${child.dataType.simpleString}, $n)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private final val B = 0x100000001b3L // FNV-ish odd multiplier

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // ASCII fast path: bytes are code points; otherwise fall back to
    // per-character windows (correct for any UTF-8).
    val ascii = s.numBytes() == s.numChars()
    val len = if (ascii) s.numBytes() else s.numChars()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    if (ascii) {
      val bytes = s.getBytes
      var i = 0
      while (i <= len - n) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * B + (bytes(i + j) & 0xffL); j += 1 }
        out(i) = h
        i += 1
      }
    } else {
      var i = 0
      while (i <= len - n) {
        val w = s.substringSQL(i + 1, n)
        val b = w.getBytes
        var h = 0L
        var j = 0
        while (j < b.length) { h = h * B + (b(j) & 0xffL); j += 1 }
        out(i) = h
        i += 1
      }
    }
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted array
    var w = 0
    var r = 1
    while (r < out.length) {
      if (out(r) != out(w)) { w += 1; out(w) = out(r) }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w + 1))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {
  /** Sorted distinct hashes of all n-char shingles of a string column. */
  def shingles(spark: SparkSession)(text: Column, n: Int): Column =
    call_function("shingle_hashes", text, lit(n))
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Native expression: does any band BEFORE position `pos` match between
  * two packed band-value arrays? — the lowest-matching-band dedup
  * predicate of the LSH band joins ([[graft.operators.LlmPipeline
  * .qDedupEmbed]] and kin): a pair agreeing on k bands surfaces k times
  * from the band join, and only the row at the lowest matching band
  * survives, so the expensive verify runs once per pair with no
  * |pairs|-sized distinct shuffle.
  *
  * Why native (round 9, measured at the N=100k growth rung): the
  * unrolled `(bi > t && bva[t] = bvb[t]) OR …` formulation grows with
  * the band count and at 32 bands blows the fused stage out of
  * whole-stage codegen — the post-join stage fell to interpreted
  * evaluation and the candidate pass went 5 → 101 s. The HOF
  * `exists(zip_with(slice…))` formulation is size-constant but
  * allocates three arrays per joined row — 184 s on the declared
  * geometry's 156M-row join, 18× worse than unrolled. This expression
  * is both: constant codegen footprint AND a zero-allocation fused
  * loop — ≤ pos long compares, early exit on first match.
  *
  * Null/shape semantics: NULL in any input → NULL (standard ternary
  * null-intolerance); compares positions `0 until min(pos, |a|, |b|)`;
  * a NULL ELEMENT inside either array never matches (the band kernels
  * emit containsNull=false arrays, so this is defensive only).
  */
case class BandsMatchBefore(left: Expression, right: Expression,
    pos: Expression, width: Int = 1) extends TernaryExpression {

  require(width >= 1, s"width must be >= 1, got $width")

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = pos

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType, pos.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, p) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, int[, width]), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${p.simpleString})")
    }

  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, b: Any, p: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val lim = math.min(va.numElements(), vb.numElements())
    val groups = p.asInstanceOf[Int]
    var j = 0
    while (j < groups) {
      var i = 0
      var all = true
      while (all && i < width) {
        val d = j * width + i
        all = d < lim && !va.isNullAt(d) && !vb.isNullAt(d) &&
          va.getLong(d) == vb.getLong(d)
        i += 1
      }
      if (all) return true
      j += 1
    }
    false
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p) => {
      val lim = ctx.freshName("lim"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val all = ctx.freshName("all")
      val d = ctx.freshName("d")
      s"""
         |int $lim = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = false;
         |for (int $j = 0; $j < $p && !${ev.value}; $j++) {
         |  boolean $all = true;
         |  for (int $i = 0; $all && $i < $width; $i++) {
         |    int $d = $j * $width + $i;
         |    $all = $d < $lim && !$a.isNullAt($d) && !$b.isNullAt($d)
         |      && $a.getLong($d) == $b.getLong($d);
         |  }
         |  if ($all) ${ev.value} = true;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, pos = newThird)
  // width is a constructor constant, not a child — it survives copies

  override def prettyName: String = "bands_match_before"
}

object BandsMatchBefore {
  /** True iff the two packed band arrays agree at any index < pos. */
  def matchBefore(spark: SparkSession)(a: Column, b: Column,
      pos: Column): Column =
    call_function("bands_match_before", a, b, pos)

  /** Grouped form: true iff any group of `width` consecutive lanes
    * before group index `pos` agrees completely — the minhash
    * earlier-band predicate, where band j = lanes j·width..j·width+
    * width−1 of the carried signatures. */
  def matchBeforeGrouped(spark: SparkSession)(a: Column, b: Column,
      pos: Column, width: Int): Column =
    call_function("bands_match_before", a, b, pos, lit(width))
}

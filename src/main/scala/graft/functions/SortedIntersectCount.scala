package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: |a ∩ b| for two ASCENDING-SORTED, distinct,
  * null-free `array<long>` columns, by two-pointer merge — O(n+m), zero
  * allocation, whole-stage-codegen'd.
  *
  * This is the verify kernel of the set-similarity operators
  * ([[graft.operators.LlmPipeline.qDedupNgram]]): candidate pairs carry both
  * docs' sorted shingle-hash arrays, and the exact Jaccard needs only the
  * intersection size. Spark's built-in `array_intersect` materializes the
  * intersection ARRAY via a per-row hash set (boxing on the generic path) —
  * ~10x slower when only the COUNT is needed and sortedness is known.
  * Inputs MUST be sorted ascending (`array_sort`) — unsorted input silently
  * undercounts, which the call sites guarantee by construction.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var (i, j) = (0, 0)
    var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ctx.freshName, never fixed locals — see FloatVectorDot.doGenCode
    val n = ctx.freshName("n"); val m = ctx.freshName("m")
    val i = ctx.freshName("i"); val j = ctx.freshName("j")
    val c = ctx.freshName("c"); val xv = ctx.freshName("x")
    val yv = ctx.freshName("y")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $c;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  /** Intersection size of two sorted distinct array<long> columns. */
  def interCount(spark: SparkSession)(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}

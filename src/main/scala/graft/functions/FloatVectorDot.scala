package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` or
  * `array<double>` columns (sides independent), accumulated in float64,
  * sequential element order.
  *
  * This is the one hot spot where built-ins genuinely underperform: the
  * higher-order-function formulation (`transform` → `zip_with` →
  * `aggregate`) is evaluated INTERPRETED (HOFs have no codegen) and
  * materializes two intermediate arrays per row-pair. This expression
  * participates in whole-stage codegen — a tight primitive loop, zero
  * allocation — and computes the BIT-IDENTICAL result: each step is
  * `s += (double) a[i] * (double) b[i]`, the same IEEE op sequence as the
  * HOF fold and as the DuckDB oracle's `list_transform`+`list_sum`, so
  * swapping it in changes nothing the correctness gate can see.
  */
case class FloatVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, fl: Boolean, i: String): String =
      if (fl) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
    // ctx.freshName, never fixed locals: with NON-nullable children
    // nullSafeCodeGen inlines this body unbraced into the shared method
    // scope, so two instances in one projection (fdot(e,e) twice, or
    // fdot + sign_bands which used to share graft_n/graft_i) would declare
    // duplicate locals, fail Janino, and silently fall back to
    // interpreted evaluation for the whole stage
    val n = ctx.freshName("n")
    val sAcc = ctx.freshName("s")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sAcc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sAcc += ${get(a, isFloat(left), i)} * ${get(b, isFloat(right), i)};
         |}
         |${ev.value} = $sAcc;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot_f"
}

object FloatVectorDot {
  /** Dot product of two array<float> columns as float64. */
  def dotF(spark: SparkSession)(a: Column, b: Column): Column =
    call_function("vec_dot_f", a, b)
}

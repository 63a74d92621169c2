package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native expression: pack the SIGN BITS of a float vector into `nBands`
  * long band values of `width` bits each — band `t` holds bits for dims
  * `t*width .. t*width+width-1`, bit `i` set iff `v[t*width+i] > 0`.
  *
  * This is the per-row kernel of sign-LSH banding
  * ([[graft.operators.LlmPipeline.qDedupEmbed]]). The composed-builtins
  * formulation (`width` × `nBands` `when(element_at(..) > 0, 1L<<i)` nodes
  * summed per band) evaluates an O(nBands·width)-node expression tree per
  * row and bloats analysis/codegen; this expression is ONE pass over the
  * array, participating in whole-stage codegen.
  *
  * Semantics match the builtin formulation bit-for-bit:
  *  - a missing dim (vector shorter than `nBands*width`) packs to bit 0,
  *    exactly like the `when(..).otherwise(0)` guard (and like the DuckDB
  *    oracle's `CASE WHEN embedding[i] > 0 THEN .. ELSE 0 END`, where an
  *    out-of-range list index yields NULL → ELSE);
  *  - a NULL element packs to 0 (`NULL > 0` is NULL → otherwise-branch);
  *  - NaN packs to 1, matching Spark/DuckDB comparison semantics where NaN
  *    is greater than every number (Java's `NaN > 0f` is false, so the
  *    check is explicit).
  */
case class SignBands(child: Expression, nBands: Int, width: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nBands >= 1 && width >= 1 && width <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, bands>=1, 1<=width<=64), got " +
        s"(${t.simpleString}, $nBands, $width)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Long](nBands)
    var t = 0
    while (t < nBands) {
      var bv = 0L
      var i = 0
      while (i < width) {
        val d = t * width + i
        if (d < n && !v.isNullAt(d)) {
          val x = v.getFloat(d)
          if (x > 0f || java.lang.Float.isNaN(x)) bv |= (1L << i)
        }
        i += 1
      }
      out(t) = bv
      t += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val arrCls = classOf[GenericArrayData].getName
      // ctx.freshName, never fixed locals — see FloatVectorDot.doGenCode:
      // with non-nullable children two kernel instances inline into one
      // method scope, and duplicate locals fail Janino (silent
      // interpreted fallback)
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val bv = ctx.freshName("bv")
      val i = ctx.freshName("i"); val dIx = ctx.freshName("d")
      val xv = ctx.freshName("x")
      s"""
         |int $n = $v.numElements();
         |long[] $out = new long[$nBands];
         |for (int $t = 0; $t < $nBands; $t++) {
         |  long $bv = 0L;
         |  for (int $i = 0; $i < $width; $i++) {
         |    int $dIx = $t * $width + $i;
         |    if ($dIx < $n && !$v.isNullAt($dIx)) {
         |      float $xv = $v.getFloat($dIx);
         |      if ($xv > 0f || java.lang.Float.isNaN($xv)) {
         |        $bv |= (1L << $i);
         |      }
         |    }
         |  }
         |  $out[$t] = $bv;
         |}
         |${ev.value} = new $arrCls($out);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sign_bands"
}

object SignBands {
  /** Packed sign-bit band values of a float-vector column. */
  def bands(spark: SparkSession)(v: Column, nBands: Int, width: Int): Column =
    call_function("sign_bands", v, lit(nBands), lit(width))
}

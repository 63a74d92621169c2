package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native expression: how many positions of two long arrays are equal —
  * the MinHash match-count estimator (est_jac = lanes_equal_count / k)
  * in [[graft.operators.TrainingData.qDedupMinhash]].
  *
  * Why native (round 9): the unrolled
  * `when(siga[0]=sigb[0],1).otherwise(0) + … (k terms)` grows with the
  * lane dial and at the PRODUCTION dials the repo itself recommends
  * (k = 64–128, README minhash table) it measurably degrades the fused
  * post-join stage: +5.7 s at k=64 / +22 s at k=128 over a 2.3M / 4.8M-
  * row candidate stream whose raw join costs 1.5 s — ~39 ns per clause,
  * interpreted-evaluation territory, the same codegen-size disease as
  * the embed dedup OR-chain ([[BandsMatchBefore]]'s scaladoc has the
  * three-way numbers for that episode). This is a size-constant
  * zero-allocation loop instead.
  *
  * Null semantics: a NULL element equals nothing (the unrolled `when`
  * fell through to 0 there too); positions beyond the shorter array
  * count as unequal. A NULL input ARRAY yields NULL — a deliberate
  * divergence from the unrolled when/otherwise sum it replaced, which
  * summed k fall-through zeros to 0. The divergence is invisible
  * through qDedupMinhash (signatures are non-null by construction, and
  * a null-signature row would be dropped by the est_jac / earlier-band
  * predicates under either semantics), but do not substitute this
  * kernel for an unrolled sum where a NULL array must read as 0.
  */
case class LanesEqualCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = math.min(va.numElements(), vb.numElements())
    var c = 0
    var t = 0
    while (t < n) {
      if (!va.isNullAt(t) && !vb.isNullAt(t) &&
        va.getLong(t) == vb.getLong(t)) c += 1
      t += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val t = ctx.freshName("t")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0;
         |for (int $t = 0; $t < $n; $t++) {
         |  if (!$a.isNullAt($t) && !$b.isNullAt($t)
         |      && $a.getLong($t) == $b.getLong($t)) {
         |    ${ev.value}++;
         |  }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lanes_equal_count"
}

object LanesEqualCount {
  /** Count of positions where the two long arrays agree. */
  def lanesEqual(spark: SparkSession)(a: Column, b: Column): Column =
    call_function("lanes_equal_count", a, b)
}

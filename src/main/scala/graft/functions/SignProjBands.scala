package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native expression: RANDOM-HYPERPLANE sign-LSH banding (Charikar
  * SimHash for cosine, the standard construction from the published
  * literature) — `nBands` long band values of `width` bits each, where
  * bit `i` of band `t` is the sign of the dot product between the
  * vector and a deterministic Rademacher (±1) hyperplane derived from
  * `(seed, t, i, dim)` by a splitmix64-style mixer.
  *
  * This is [[SignBands]]' scale-path sibling: axis-aligned banding
  * partitions the vector's OWN dims, so 64 dims cap the total bit
  * budget at 64 and widening a band necessarily removes bands (the
  * measured recall cliff in BASELINE's embed growth ladder).
  * Hyperplane banding draws `nBands·width` independent projections, so
  * collision odds (2^-width per band for unrelated vectors) and recall
  * (`nBands` chances) are tuned independently of the embedding
  * dimension. Cost is one fused pass: `nBands·width·dim`
  * multiply-adds per row, inside whole-stage codegen — no hyperplane
  * matrix is materialized, shipped or broadcast; the "matrix" is the
  * mixer formula itself, bit-identical on every executor.
  *
  * Semantics (eval == codegen, pinned by SignProjBandsSpec):
  *  - the projection accumulates in DOUBLE over float elements —
  *    identical arithmetic in both paths (no reassociation: one fixed
  *    dim-order loop);
  *  - a NULL element contributes 0 (skipped), like a missing dim;
  *  - a NaN element poisons its accumulators to NaN, and `NaN > 0` is
  *    false → the bit packs to 0. Callers that exclude NaN vectors
  *    up front (qDedupEmbed's `isnan(nrm)` guard) never reach this;
  *  - bit set iff the projection is strictly > 0 (ties at exactly 0
  *    pack to 0, deterministically).
  */
case class SignProjBands(child: Expression, seed: Long, nBands: Int, width: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nBands >= 1 && width >= 1 && width <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, seed, bands>=1, 1<=width<=64), " +
        s"got (${t.simpleString}, $seed, $nBands, $width)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Hyperplane signs, bit-packed: bit `d & 63` of word
    * `(t·width + i)·DimWords + (d >> 6)` is 1 iff rsign(seed,t,i,d) < 0,
    * for dims below [[SignProjBands.DimCap]] (past the cap — no real
    * embedding — the mixer is called directly; same values either way).
    * ~10-op mixer → 1 array-bit load per multiply-add: the banding pass
    * is nBands·width·dim FMAs per row, so this table is the difference
    * between the projection costing like a dot product and costing like
    * a hash flood (measured 2.2 s → see BASELINE ladder). 256 bits ×
    * 4096 dims = 128 KiB, built lazily once per deserialized instance.
    */
  @transient private lazy val signBits: Array[Long] = {
    val out = new Array[Long](nBands * width * SignProjBands.DimWords)
    var p = 0
    var t = 0
    while (t < nBands) {
      var i = 0
      while (i < width) {
        var d = 0
        while (d < SignProjBands.DimCap) {
          if (SignProjBands.rsign(seed, t, i, d) < 0)
            out(p + (d >> 6)) |= (1L << (d & 63))
          d += 1
        }
        p += SignProjBands.DimWords
        i += 1
      }
      t += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val bits = signBits
    val out = new Array[Long](nBands)
    var t = 0
    while (t < nBands) {
      var bv = 0L
      var i = 0
      while (i < width) {
        val base = (t * width + i) * SignProjBands.DimWords
        var s = 0.0
        var d = 0
        while (d < n) {
          if (!v.isNullAt(d)) {
            val sign =
              if (d < SignProjBands.DimCap)
                1.0 - 2.0 * ((bits(base + (d >> 6)) >>> (d & 63)) & 1L)
              else SignProjBands.rsign(seed, t, i, d)
            s += v.getFloat(d).toDouble * sign
          }
          d += 1
        }
        if (s > 0.0) bv |= (1L << i)
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
      val helper = SignProjBands.getClass.getName.stripSuffix("$") + "$.MODULE$"
      // the packed hyperplane table rides the plan as a reference object
      // — generated code does one bit load per multiply-add, exactly
      // like interpreted eval
      val bits = ctx.addReferenceObj("signBits", signBits, "long[]")
      // ctx.freshName, never fixed locals — see FloatVectorDot.doGenCode
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val bv = ctx.freshName("bv")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val base = ctx.freshName("base")
      val sg = ctx.freshName("sg")
      s"""
         |int $n = $v.numElements();
         |long[] $out = new long[$nBands];
         |for (int $t = 0; $t < $nBands; $t++) {
         |  long $bv = 0L;
         |  for (int $i = 0; $i < $width; $i++) {
         |    int $base = ($t * $width + $i) * ${SignProjBands.DimWords};
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      if (!$v.isNullAt($d)) {
         |        double $sg = $d < ${SignProjBands.DimCap}
         |          ? 1.0 - 2.0 * (($bits[$base + ($d >> 6)] >>> ($d & 63)) & 1L)
         |          : $helper.rsign(${seed}L, $t, $i, $d);
         |        $s += (double) $v.getFloat($d) * $sg;
         |      }
         |    }
         |    if ($s > 0.0) $bv |= (1L << $i);
         |  }
         |  $out[$t] = $bv;
         |}
         |${ev.value} = new $arrCls($out);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sign_proj_bands"
}

object SignProjBands {
  /** Dims covered by the packed hyperplane table (beyond it the mixer
    * runs per element — identical values, just slower; 4096 covers
    * every real embedding family). 128 KiB at 256 band-bits. */
  val DimCap = 4096
  val DimWords: Int = DimCap / 64

  /** Deterministic Rademacher sign for hyperplane bit (t, i), dim d:
    * splitmix64 finalizer over the packed coordinates; the low bit picks
    * ±1. Public + JVM-primitive so GENERATED code calls the exact same
    * function as interpreted eval — any drift would split a vector's
    * band value between codegen'd and fallback plan fragments. */
  def rsign(seed: Long, t: Int, i: Int, d: Int): Double = {
    var x = seed ^ (((t.toLong * 1315423911L + i) * 2654435761L + d)
      * 0x9E3779B97F4A7C15L)
    x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
    x ^= (x >>> 27); x *= 0x94D049BB133111EBL
    x ^= (x >>> 31)
    if ((x & 1L) == 0L) 1.0 else -1.0
  }

  /** Packed hyperplane-sign band values of a float-vector column. */
  def bands(spark: SparkSession)(v: Column, seed: Long, nBands: Int,
      width: Int): Column =
    call_function("sign_proj_bands", v, lit(seed), lit(nBands), lit(width))
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.functions.SignProjBands

/** Pins the random-hyperplane banding kernel: codegen == interpreted
  * eval == an independent Scala reference, on fixture vectors and on
  * the degenerate shapes (nulls inside vectors, NaN, short/empty
  * vectors); plus the LSH contract the qDedupEmbed `proj` lane rests
  * on — determinism across invocations and sessions (the hyperplane
  * "matrix" is a pure function of the seed, never RNG state). */
class SignProjBandsSpec extends SparkSpec {

  private val SEED = 0x67726166L

  /** Independent reference: same contract, implemented over plain Scala
    * collections (no ArrayData, no codegen). */
  private def reference(v: Seq[Option[Float]], nBands: Int, width: Int): Seq[Long] =
    (0 until nBands).map { t =>
      (0 until width).foldLeft(0L) { (bv, i) =>
        val s = v.zipWithIndex.foldLeft(0.0) {
          case (acc, (Some(x), d)) => acc + x.toDouble * SignProjBands.rsign(SEED, t, i, d)
          case (acc, (None, _)) => acc
        }
        if (s > 0.0) bv | (1L << i) else bv
      }
    }

  private val edgeVectors: Seq[Seq[Option[Float]]] = Seq(
    Seq.empty,
    Seq(Some(0f)),
    Seq(Some(1f), None, Some(-2f)),
    Seq(Some(Float.NaN), Some(1f)),
    (0 until 64).map(i => Some((i - 31.5f) / 10f)),
    (0 until 7).map(i => Some(if (i % 2 == 0) 1f else -1f)))

  test("kernel == independent reference on edge vectors, codegen and interpreted") {
    val schema = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(edgeVectors.map(v =>
        Row(v.map(_.map(java.lang.Float.valueOf).orNull).toSeq)): _*), schema)
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df.select(
          SignProjBands.bands(spark)(col("v"), SEED, 4, 16).as("b"))
          .collect().map(_.getSeq[Long](0))
        edgeVectors.zip(got).foreach { case (v, g) =>
          assert(g == reference(v, 4, 16),
            s"[$codegen] vector $v: got $g, want ${reference(v, 4, 16)}")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
  }

  test("deterministic across invocations and geometry-sensitive") {
    val e = Tables.embeddings(spark, sfDir("sf0.001"))
    val a = e.select(col("vec_id"),
      SignProjBands.bands(spark)(col("embedding"), SEED, 16, 16).as("b"))
    val b = e.select(col("vec_id"),
      SignProjBands.bands(spark)(col("embedding"), SEED, 16, 16).as("b"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a different seed must produce different hyperplanes (overwhelming
    // probability on 500 × 16 × 16 sign bits)
    val c = e.select(col("vec_id"),
      SignProjBands.bands(spark)(col("embedding"), SEED + 1, 16, 16).as("b"))
    assert(a.exceptAll(c).count() > 0)
  }

  test("expression participates in whole-stage codegen") {
    val e = Tables.embeddings(spark, sfDir("sf0.001"))
    val plan = e.select(SignProjBands.bands(spark)(col("embedding"), SEED, 4, 16)
        .as("b"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project [sign_proj_bands"), plan.take(500))
  }

  test("qDedupEmbed proj lane: deterministic, shuffle-pinned, default untouched") {
    val d = sfDir("sf0.001")
    val defaultRows = SparkEntry.queries("q_dedup_embed")(spark, d).collect()
    spark.conf.set("spark.graft.embed.lsh", "proj")
    try {
      val q = SparkEntry.queries("q_dedup_embed")(spark, d)
      val r1 = q.collect()
      val r2 = SparkEntry.queries("q_dedup_embed")(spark, d).collect()
      assert(r1.toSeq == r2.toSeq, "proj lane must be deterministic")
      // the pinned shuffle (GenJoinAudit criterion) must hold in
      // this lane too — same explode-above-join shape
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = SparkEntry.queries("q_dedup_embed")(spark, d)
          .queryExecution.executedPlan
        import org.apache.spark.sql.execution.GenerateExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        assert(plan.collect {
          case j: SortMergeJoinExec if j.exists(_.isInstanceOf[GenerateExec]) => j
        }.nonEmpty, s"proj lane lost the shuffle pin\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    } finally spark.conf.unset("spark.graft.embed.lsh")
    val after = SparkEntry.queries("q_dedup_embed")(spark, d).collect()
    assert(after.toSeq == defaultRows.toSeq,
      "unsetting the dial must restore the declared default result")
  }
}

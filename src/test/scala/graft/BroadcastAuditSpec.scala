package graft

import org.apache.spark.sql.functions._

/** Controls for the fifth static-plan audit class (r10 verdict item 1):
  * every `broadcast()` hint in a declared query must carry a structural
  * boundedness argument — tools.BroadcastAudit's criterion — because a
  * pinned hint on an SF-scaled table cannot degrade and turns into an
  * OOM at the scale the plan exists for. The r10 hits (q_multimodal's
  * embeddings hint, q_join_multi's customer hint) were fixed by dropping
  * the hint; AuditsSpec keeps the class closed over the declared surface
  * and the sensitivity controls here prove the walker still fires on
  * exactly the hazard shapes that were fixed.
  */
class BroadcastAuditSpec extends SparkSpec {

  private def hitsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    tools.BroadcastAudit.hits(df.queryExecution.analyzed)

  test("sensitivity: a broadcast hint on a bare corpus scan is flagged") {
    val d = sfDir("sf0.001")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    // the exact q_multimodal r10 defect shape
    val bad = docs.join(broadcast(e), col("doc_id") === col("vec_id"))
    val hs = hitsOf(bad)
    assert(hs.size == 1 && hs.head.contains("embeddings.parquet"), hs)
  }

  test("sensitivity: bounded dim joined to an SF-scaled side is flagged") {
    val d = sfDir("sf0.001")
    val sup = spark.read.parquet(s"$d/supplier.parquet")
      .join(broadcast(spark.read.parquet(s"$d/nation.parquet")),
        col("s_nationkey") === col("n_nationkey"))
    val cost = spark.read.parquet(s"$d/lineitem.parquet")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    // the exact q_supplier r11 defect shape: the hint wraps a composite
    // whose supplier input is SF-scaled even though one input is bounded
    val bad = cost.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
    val hs = hitsOf(bad)
    assert(hs.size == 1 && hs.head.contains("supplier.parquet"), hs)
  }

  test("boundedness arguments: agg / pin-filter / limit / dim all pass") {
    val d = sfDir("sf0.001")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    // rollup (single-row stats)
    assert(hitsOf(docs.crossJoin(
      broadcast(e.agg(count(lit(1)).as("n"))))).isEmpty)
    // distinct = Deduplicate
    assert(hitsOf(docs.join(
      broadcast(e.select(col("label")).distinct()), docs("doc_id") === col("label"))).isEmpty)
    // probe pin: equality and small-upper-bound forms
    assert(hitsOf(docs.crossJoin(
      broadcast(e.where(col("vec_id") === 0).select(col("embedding"))))).isEmpty)
    assert(hitsOf(docs.crossJoin(
      broadcast(e.where(col("vec_id") < 10).select(col("embedding"))))).isEmpty)
    // top-k
    assert(hitsOf(docs.crossJoin(
      broadcast(e.orderBy(col("vec_id")).limit(5).select(col("vec_id"))))).isEmpty)
    // bounded-by-construction dimension
    val n = spark.read.parquet(s"$d/nation.parquet")
    assert(hitsOf(docs.join(broadcast(n),
      docs("doc_id") === n("n_nationkey"))).isEmpty)
  }

  test("control: a corpus-fraction range filter is NOT a boundedness argument") {
    val d = sfDir("sf0.001")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .where(col("vec_id") >= 10) // keeps a corpus-sized fraction
    assert(hitsOf(docs.join(broadcast(e),
      docs("doc_id") === e("vec_id"))).nonEmpty)
  }

  test("control: an equality pin on a VALUE column is NOT a boundedness argument") {
    // r11 ADVICE (medium): `lang === 'en'` or `label === 0` pins a
    // low-cardinality value column and keeps a corpus-sized FRACTION —
    // the audit must flag such a hint, not pass it as a probe pin.
    val d = sfDir("sf0.001")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .where(col("label") === 0) // selective-looking, still SF-scaled
    assert(hitsOf(docs.join(broadcast(e),
      docs("doc_id") === e("vec_id"))).nonEmpty)
    val en = docs.where(col("lang") === "en") // same shape on a string col
    assert(hitsOf(spark.read.parquet(s"$d/embeddings.parquet")
      .join(broadcast(en), col("vec_id") === en("doc_id"))).nonEmpty)
  }

  test("control: an ALIASED derived column named like a key is NOT a pin") {
    // r12 ADVICE (low): keyAttr previously matched by NAME alone, so
    // `something AS doc_id` — a derived, possibly non-unique column —
    // counted as a boundedness argument. The provenance trace (exprId
    // must come from the key's own table scan) closes that: an Alias
    // mints a fresh exprId that no scan emitted.
    val d = sfDir("sf0.001")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("label").cast("long").as("doc_id"), col("embedding"))
      .where(col("doc_id") === 0) // pins a NON-unique value column
    assert(hitsOf(docs.crossJoin(broadcast(e))).nonEmpty)
    // and the table-mismatch half: a REAL scan column (raw exprId, no
    // alias) named like some OTHER table's key is not a bound either —
    // a scan of a foreign parquet whose `doc_id` column is non-unique
    val mdir = java.nio.file.Files
      .createTempDirectory("graft-bcast-mismatch").toString
    spark.range(100).selectExpr("id % 3 as doc_id", "id as v")
      .write.mode("overwrite").parquet(s"$mdir/notdocs.parquet")
    val m = spark.read.parquet(s"$mdir/notdocs.parquet")
      .where(col("doc_id") === 0)
    assert(hitsOf(docs.crossJoin(broadcast(m))).nonEmpty)
    // positive control: the genuine scan key still passes the trace
    val ok = spark.read.parquet(s"$d/embeddings.parquet")
      .where(col("vec_id") === 0)
    assert(hitsOf(docs.crossJoin(broadcast(ok))).isEmpty)
  }

  test("vocab broadcast flip is result-invariant (the written degradation path)") {
    // TrainingData.vocabJoin's scaladoc argues the dictionary broadcast;
    // its degradation path is a conf, not a silent OOM — prove the
    // shuffle form returns the identical declared result
    val d = sfDir("sf0.001")
    val hinted = SparkEntry.queries("q_dedup_minhash")(spark, d)
    spark.conf.set("spark.graft.vocab.broadcast", "false")
    try {
      val shuffled = SparkEntry.queries("q_dedup_minhash")(spark, d)
      assert(hinted.exceptAll(shuffled).isEmpty
        && shuffled.exceptAll(hinted).isEmpty)
    } finally spark.conf.unset("spark.graft.vocab.broadcast")
  }
}

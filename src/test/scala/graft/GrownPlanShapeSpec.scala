package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape pins at GROWN stats (r12 verdict item 6): the documented
  * regime flips — plans that legitimately CHANGE as the corpus grows —
  * lived only in BASELINE prose, so a Spark upgrade that silently moved
  * a flip point would surface as a bench mystery, not a test failure.
  * This spec builds the same grown corpus the round-5 probe measured
  * (×4 documents over sf0.1 via GrowCorpus.growDocuments) and
  * asserts the EXPECTED plan on each side of the flip:
  *
  *  - q_dedup_ngram verify joins at base sf0.1: the shingle-array sides
  *    fit the broadcast threshold — BroadcastHashJoin regime;
  *  - at ×4 grown stats: the array table crosses the threshold and the
  *    verify joins degrade to SortMergeJoin (BASELINE round 5: "3 SMJ,
  *    0 BHJ") — the declared let-stats-decide degradation, which is the
  *    ONLY plan that still works when the array table is corpus-sized.
  *
  * AQE is disabled for the reads (the PlanDiffSpec cold-cache
  * convention): the pins are about the STATIC stats-driven pick, and
  * AQE wrappers hide join nodes behind AdaptiveSparkPlan until
  * execution. */
class GrownPlanShapeSpec extends SparkSpec {

  private val grownDir = "/tmp/graft-grownplan-x4"
  private lazy val mkGrownOnce: Unit = {
    tools.GrowCorpus.growDocuments(spark, sfDir("sf0.1"), grownDir, 4)
    // q_dedup_ngram reads only documents; nothing else needed in the dir
  }

  private def joinCounts(d: String): (Int, Int) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q_dedup_ngram")(spark, d)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      ("BroadcastHashJoin".r.findAllIn(p).size,
        "SortMergeJoin".r.findAllIn(p).size)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_dedup_ngram verify joins: broadcast regime at base sf0.1 stats") {
    val (bhj, _) = joinCounts(sfDir("sf0.1"))
    assert(bhj >= 1,
      s"expected the array-side verify joins to broadcast at sf0.1 ($bhj BHJ) — " +
        "if Spark moved the threshold, re-measure q_dedup_ngram with " +
        "HeadTime and update " +
        "BASELINE r5 before accepting this")
  }

  test("q_dedup_ngram verify joins: SMJ regime at x4 grown stats") {
    mkGrownOnce
    val (bhj, smj) = joinCounts(grownDir)
    // the Bloom side (16 KiB, single-row aggregate) legitimately stays
    // broadcast at any SF — the flip pin is about the ARRAY table sides:
    // past the threshold the equi-joins must be SMJ and the array table
    // must not be broadcast anywhere
    assert(smj >= 3,
      s"expected >= 3 SortMergeJoin at x4 grown stats, got $smj (BHJ=$bhj) — " +
        "either Spark moved the broadcast threshold or a hint crept in; " +
        "re-measure q_dedup_ngram with HeadTime before accepting")
  }
}

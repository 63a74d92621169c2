package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Pins qRecordLinkage's candidate lanes (block | symdel, and the query's
  * own pick between them) to one match set: symdel rests on the
  * symmetric-deletion argument (an optimal ≤2-edit script maps to ≤ 2
  * deletions per side), so any divergence is a soundness bug, not a
  * tuning choice.
  *
  * Beyond the fixture (whose names are uniform-length with digit
  * suffixes), the adversarial table exercises exactly the shapes that
  * break positional schemes: INSERT/DELETE twins (shifted suffixes),
  * length-9..11 boundary names around the short-lane cutoff, sub-9-char
  * and empty names (catch-all lane), nulls, exact duplicates, and CJK
  * multi-char-codepoint names. */
class RecordLinkageBlockSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getString(3), r.getLong(4))).toSeq

  private def canon(d: String): Seq[(Long, Long, Int, String, Long)] =
    pairs(operators.Hygiene.qRecordLinkage(spark, d))

  private def ab(d: String): Unit = {
    val plain = canon(d) // the query's own lane pick
    for (arm <- Seq("block", "symdel")) {
      val got = pairs(operators.Hygiene.recordLinkage(spark, d, arm))
      assert(got == plain,
        s"$arm changed the match set: $arm ${got.size} vs " +
          s"plain ${plain.size} pairs; $arm-only " +
          s"${got.diff(plain).take(3)}; plain-only ${plain.diff(got).take(3)}")
    }
    assert(plain.nonEmpty, "A/B is vacuous: zero pairs on all paths")
  }

  test("symdel and block lanes match auto on the clean fixture") {
    ab(sfDir("sf0.001"))
    ab(sfDir("sf0.01"))
  }

  test("symdel and block lanes match auto on adversarial name shapes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-linkage-adv").toString
    val rows = Seq(
      // insert/delete twins: suffix shifts by 1 — the shapes that break
      // positional blocking schemes
      (1L, "Customer#000000123", 1, 10.0, "AUTO"),
      (2L, "Customer#0000000123", 1, 10.0, "AUTO"),   // 1 insert
      (3L, "Customer#00000123", 1, 10.0, "AUTO"),     // 1 delete
      (4L, "Customer#X00000123Y", 1, 10.0, "AUTO"),   // 2 edits w/ shift
      // boundary lengths around the 9/11 short-lane cutoffs
      (5L, "abcdefgh", 1, 0.0, "AUTO"),               // len 8 (short lane)
      (6L, "abcdefghi", 1, 0.0, "AUTO"),              // len 9
      (7L, "abcdefghij", 1, 0.0, "AUTO"),             // len 10
      (8L, "abcdefghijk", 1, 0.0, "AUTO"),            // len 11
      (9L, "abcdefghijkl", 1, 0.0, "AUTO"),           // len 12
      // tiny / empty / duplicate / unrelated
      (10L, "ab", 1, 0.0, "AUTO"),
      (11L, "", 1, 0.0, "AUTO"),
      (12L, "", 1, 0.0, "AUTO"),                      // exact dup of 11
      (13L, "zzzzzzzzzzzzzzzzzz", 1, 0.0, "AUTO"),
      // CJK names one substitution apart
      (14L, "顧客番号一二三四五六七八九零", 1, 0.0, "AUTO"),
      (15L, "顧客番号一二三四五六七八九一", 1, 0.0, "AUTO"),
      // same names in ANOTHER block must not pair across blocks
      (16L, "Customer#000000123", 2, 0.0, "AUTO"),
      (17L, "Customer#000000124", 2, 0.0, "BUILD"))
    spark.createDataFrame(rows)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int"))
      .write.mode("overwrite").parquet(dir + "/customer.parquet")
    ab(dir)
    // sanity on the shapes themselves: the shifted twins all matched 1
    val got = canon(dir).map(p => (p._1, p._2)).toSet
    for (pair <- Seq((1L, 2L), (1L, 3L), (1L, 4L), (11L, 12L), (14L, 15L)))
      assert(got.contains(pair), s"expected pair $pair in ${got.toSeq.sorted}")
    assert(!got.contains((1L, 16L)), "cross-block pair leaked")
  }

  /** Round-9 regression pin for the explode-blind-stats mis-plan: the
    * symdel variant self-join sits above a Generate (~172× row inflation
    * the static size estimate cannot see), so an unhinted plan
    * broadcasts a corpus-sized table — measured 6.5× slower at ×10
    * growth and a hard "cannot build and broadcast" OOM at ×20 (BASELINE
    * r9 crossover_v3). The fix is a `shuffle_merge` hint on that join;
    * this test fails if a refactor drops the hint or a Spark
    * upgrade stops honoring it. AQE is disabled because the hazard is the
    * STATIC planner's choice (AQE re-plans from accurate runtime sizes,
    * where a broadcast demotion would be legitimate); the plan is
    * inspected unexecuted, as the static planner leaves it. */
  test("explode-inflated lanes pin the shuffle join against blind static stats") {
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = operators.Hygiene.linkageCandidates(spark, d, "symdel")
        .queryExecution.executedPlan
      val blind = plan.collect {
        case b: BroadcastHashJoinExec
            if b.exists(_.isInstanceOf[GenerateExec]) => b
      }
      assert(blind.isEmpty,
        "symdel lane planned a broadcast join over a Generate subtree " +
          s"(the r9 OOM mis-plan):\n${blind.mkString("\n")}")
      // the pinned join must actually be there as a sort-merge
      val pinned = plan.collect {
        case j: SortMergeJoinExec
            if j.exists(_.isInstanceOf[GenerateExec]) => j
      }
      assert(pinned.nonEmpty,
        s"symdel lane has no sort-merge join over its Generate — hint lost?\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** The `auto` dispatch (r10): its decision variable must pick the lane
    * the crossover_v3 measurement says wins — block below the crossover
    * (the fixtures), symdel above it (block-mass-dominated corpora). The
    * skew corpus makes block_pairs exceed 0.6·variant_rows without being
    * large: one block of 60 short names → block_pairs = 1770,
    * variant_rows = 60·(1+8+28) = 2220, ratio 0.80 → symdel; and the
    * match set must STILL equal block's on exactly that corpus (the
    * dispatch can never change answers, only walls). */
  test("auto dispatch picks block on the fixture, symdel on a block-mass-dominated corpus") {
    val fix = operators.Hygiene.linkageAutoChoice(spark, sfDir("sf0.001"))
    assert(fix._1 == "block",
      s"fixture sits far below the crossover (ratio " +
        s"${fix._2.toDouble / fix._3}): $fix")

    val dir = java.nio.file.Files
      .createTempDirectory("graft-linkage-auto").toString
    val rows = (1L to 60L).map { i =>
      (i, f"name$i%04d", 1, 0.0, "AUTO")
    }
    spark.createDataFrame(rows)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int"))
      .write.mode("overwrite").parquet(dir + "/customer.parquet")
    val skew = operators.Hygiene.linkageAutoChoice(spark, dir)
    assert(skew._1 == "symdel",
      s"one dense block of short names must flip the dispatch: $skew")
    assert(skew._2 == 60L * 59 / 2, s"block_pairs must be exact: $skew")
    // the flipped lane still returns block's match set
    val plain = pairs(operators.Hygiene.recordLinkage(spark, dir, "block"))
    val auto = canon(dir)
    assert(auto == plain,
      s"auto changed the match set: ${auto.size} vs ${plain.size}")
    assert(plain.nonEmpty, "vacuous: zero pairs on the skew corpus")
  }
}

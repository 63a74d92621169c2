package graft

import org.apache.spark.sql.functions._

/** Laws of the r13 q_win_range lanes (BASELINE r13 "window-head skew
  * ladder" holds the measured basis): the bucketed lane exists because
  * one hot user puts the whole stream in one task and Spark's sliding
  * RANGE frame re-aggregates on every lower-bound move — the ladder
  * measured ×2.1–2.3 wall per ×2 hot mass. Soundness argument pinned
  * here: a trailing 30-min frame at time t only reaches rows with
  * us ∈ [t−30min, t], and floor((t−30min)/30min) = floor(t/30min) − 1,
  * so every in-frame row lives in t's own 30-min bucket or the one
  * before it — exactly the (own, next-bucket context) pair each row is
  * exploded into. Any divergence is a soundness bug, not tuning. */
class WinRangeLaneSpec extends SparkSpec {

  private def lane(d: String, name: String) =
    operators.Windows.winRange(spark, d, name).collect().toSeq

  private def auto(d: String) =
    operators.Windows.qWinRange(spark, d).collect().toSeq

  test("bucketed == plain on the clean fixture") {
    for (tier <- Seq("sf0.001", "sf0.01")) {
      val d = sfDir(tier)
      assert(lane(d, "bucketed") == lane(d, "plain"), tier)
    }
  }

  test("bucketed == plain on a hot-user corpus with boundary-exact ties") {
    // one hot user with rows ON bucket boundaries (us = k·30min exactly,
    // the frame-inclusive edge), duplicate timestamps across copies, and
    // a normal user interleaved — the shapes the bucket split must not
    // miscount
    val dir = java.nio.file.Files
      .createTempDirectory("graft-winrange-hot").toString
    val H = 1800000000L
    val rows = (0 until 400).map { i =>
      // hot user 7: every 10 min, so each frame spans 3 prior rows;
      // every 3rd row sits exactly on a bucket boundary
      (i.toLong, 7L,
        new java.sql.Timestamp((i.toLong * H / 3) / 1000L), i.toDouble, "a")
    } ++ (0 until 50).map { i =>
      (1000L + i, 8L,
        new java.sql.Timestamp((i.toLong * H) / 1000L), 1.0, "b")
    } ++ Seq(
      // duplicate-us pair for the hot user (RANGE ties)
      (2000L, 7L, new java.sql.Timestamp(H / 1000L), 5.0, "a"),
      (2001L, 7L, new java.sql.Timestamp(H / 1000L), 6.0, "a"))
    spark.createDataFrame(rows)
      .toDF("event_id", "user_id", "ts", "value", "event_type")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    val plain = lane(dir, "plain")
    val bucketed = lane(dir, "bucketed")
    assert(plain.nonEmpty && bucketed == plain,
      s"bucketed diverged: ${bucketed.size} vs ${plain.size} rows")

    // r14 auto-dispatch cells (VERDICT r13 item 1): this corpus's hot
    // user holds 402 of 452 rows — far above the 2-balanced-task-share
    // crossover — so auto must pick bucketed here...
    val (hotChoice, hot, total) =
      operators.Windows.winRangeAutoChoice(spark, dir)
    assert(hotChoice == "bucketed" && hot >= 400 && total == 452L,
      s"auto on the hot corpus: ($hotChoice, $hot, $total)")
    // ...and the auto LANE must be row-identical to plain end-to-end
    assert(auto(dir) == plain)
  }

  test("auto picks plain on the skew-free fixture and matches it") {
    val d = sfDir("sf0.001")
    val (choice, hot, total) =
      operators.Windows.winRangeAutoChoice(spark, d)
    assert(choice == "plain",
      s"auto on the clean fixture: ($choice, $hot, $total)")
    assert(hot * spark.conf.get("spark.sql.shuffle.partitions").toLong
      <= 2L * total)
    assert(auto(d) == lane(d, "plain"))
  }
}

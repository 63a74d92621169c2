package graft

/** Control for the round-10 partition-less-window criterion
  * (BASELINE "window audit" — the fourth static-plan hazard class after
  * explode-blind broadcasts, per-run re-scans, and blocked pushdown):
  * an empty PARTITION BY collapses the window's entire input into ONE
  * task for the sort. The r4 q_rfm ntile defect was this shape; round
  * 10's audit found one more (q_skyline's global pass — its "frontier-
  * sized" input is catalog-sized exactly when price and size trade
  * off), now rewritten as a range-partitioned prefix-max scan.
  *
  * Criterion (tools.WindowAudit.chains): a partition-less WindowExec
  * must have a cardinality-bounding node below it — an aggregate (the
  * window then sorts a calendar/dim/vocabulary rollup: q_win_frame's
  * daily series, q_ewma's per-type days), a top-k/limit, or a
  * checkpointed intermediate (bounded by the r10 decision rule at
  * materialization).
  *
  * Sensitivity control: a partition-less window straight over a scan
  * must produce a chain — proving the walker sees the hazard before
  * AuditsSpec's clean-surface assertion means anything.
  */
class WindowAuditSpec extends SparkSpec {

  test("control: the walker flags a global window straight over a scan") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = spark.read.parquet(s"$d/orders.parquet")
        .withColumn("rk", row_number().over(Window.orderBy(col("o_orderkey"))))
      val hits = tools.WindowAudit.chains(bad.queryExecution.executedPlan)
      assert(hits.nonEmpty, "an unbounded global window must be seen")
      assert(hits.head.startsWith("Window"), hits.head)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

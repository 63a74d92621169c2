package graft

import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.functions.{col, count, lit}

/** Control for the one-task-collapse criterion (tools.CoalesceAudit):
  * `coalesce(1)` runs its whole input stage in one task, which is free
  * over one split and a bottleneck over a shuffle or many splits.
  *
  * Sensitivity control: an ungated `coalesce(1)` after an aggregate must
  * be flagged, and `Tables.orderedRows` over a one-file scan must not —
  * proving the walker tells the two apart before AuditsSpec's
  * clean-surface assertion means anything.
  */
class CoalesceAuditSpec extends SparkSpec {

  test("control: coalesce(1) over an aggregate is flagged, orderedRows over one file is not") {
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val orders = Tables.orders(spark, d)
      assert(Tables.scanSplits(orders) == Some(1))
      val bad = orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .coalesce(1).sortWithinPartitions("o_orderstatus")
      assert(tools.CoalesceAudit.collapses(bad.queryExecution.executedPlan) ==
        Seq("coalesce(1) over a shuffle or an unsized leaf"))
      val ok = Tables.orderedRows(col("o_orderkey"))(orders)
      assert(ok.queryExecution.executedPlan.exists(_.isInstanceOf[CoalesceExec]))
      assert(tools.CoalesceAudit.collapses(ok.queryExecution.executedPlan).isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

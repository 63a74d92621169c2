package graft

import org.apache.spark.sql.functions._

/** Sensitivity controls for tools.PruneAudit (the round-10
  * pushdown/pruning audit). The controls prove the walker can actually
  * SEE both failure shapes before AuditsSpec's surface-wide assertion
  * means anything:
  *
  *  - positive pushdown: an equality predicate on a stored column must
  *    surface as a pushed data filter and count pushable-shaped;
  *  - cast-blocked true positive: cast(column) vs literal is
  *    pushable-SHAPED but parquet translation drops casts — the silent
  *    full-read regression NOPUSH exists to catch must flag;
  *  - function-wrapped true negative: upper(column) = literal is
  *    structurally untranslatable — seen, but classified out;
  *  - column pruning: a two-column projection must read strictly fewer
  *    columns than the file holds.
  */
class PruneAuditSpec extends SparkSpec {

  test("controls: the walker sees pushed filters, blocked pushdown, and pruning") {
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pushable = spark.read.parquet(s"$d/orders.parquet")
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
      val p = tools.PruneAudit.reports(pushable.queryExecution.executedPlan)
      assert(p.size == 1, p.toString)
      assert(p.head.pushedData >= 1 && p.head.pushableAtoms >= 1 &&
        p.head.pushedData >= p.head.pushableAtoms,
        s"equality on a stored column must push: ${p.head}")
      assert(p.head.colsRead == 3 && p.head.colsRead < p.head.colsInFile,
        s"2 projected + 1 filter column, strictly pruned: ${p.head}")

      // cast-blocked TRUE POSITIVE: pushable-shaped (cast of a bare
      // column vs a literal) but parquet translation drops casts —
      // the exact silent regression NOPUSH exists to catch
      val castBlocked = spark.read.parquet(s"$d/orders.parquet")
        .where(col("o_orderkey").cast("string") === "5")
        .select(col("o_orderkey"))
      val cb = tools.PruneAudit.reports(castBlocked.queryExecution.executedPlan)
      assert(cb.size == 1 && cb.head.pushableAtoms == 1 &&
        cb.head.pushedData == 0,
        s"a cast-wrapped compare must flag as NOPUSH: ${cb.head}")

      // function-wrapped TRUE NEGATIVE: structurally untranslatable,
      // must be classified out (not a regression)
      val blocked = spark.read.parquet(s"$d/orders.parquet")
        .where(upper(col("o_orderstatus")) === "F")
        .select(col("o_orderkey"))
      val b = tools.PruneAudit.reports(blocked.queryExecution.executedPlan)
      assert(b.size == 1, b.toString)
      assert(b.head.pushedData == 0 && b.head.parentFilterAtoms >= 1 &&
        b.head.pushableAtoms == 0,
        s"a function-wrapped predicate is untranslatable by nature — " +
          s"seen but not counted pushable: ${b.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

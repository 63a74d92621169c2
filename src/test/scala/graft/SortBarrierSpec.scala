package graft

/** Shape of the final-sort shuffle barrier (TrainingData.sortedOutput;
  * measured basis in OPTIMIZATION_r15.md §0): a hash-repartition on the
  * sort keys sits below the global sort's range exchange, and the logical
  * plan stays intact (no LogicalRDD collapse), so lineage recompute and
  * the plan audits both keep working. */
class SortBarrierSpec extends SparkSpec {

  test("shuffle flavor (the r15 default) keeps the logical plan and " +
      "interposes a repartition below the sort") {
    val d = sfDir("sf0.001")
    val sh = operators.Hygiene.qLineDedup(spark, d).queryExecution
    val logical = sh.optimizedPlan.toString
    assert(!logical.contains("LogicalRDD"), logical)
    // physical shape: the global Sort's range exchange sits on top of a
    // hash-partitioned exchange on the sort keys — the barrier whose map
    // output the boundary-sampling job materializes once
    val phys = sh.executedPlan.toString
    assert(phys.contains("rangepartitioning"), phys)
    assert(phys.contains("hashpartitioning"), phys)
  }
}

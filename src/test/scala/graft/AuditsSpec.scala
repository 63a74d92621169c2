package graft

import org.apache.spark.sql.execution.QueryExecution

/** Full-surface gate of the seven static-plan audits: every declared
  * query's sf0.001 plans, built once with AQE off (the audits judge the
  * static planner's choices), must have no offender under any audit's
  * `offenders` rule — the same rules `graft.tools.Audits` runs at any SF.
  * Each audit's sensitivity controls stay in its own spec.
  */
class AuditsSpec extends SparkSpec {

  private lazy val plans: Seq[(String, QueryExecution)] = {
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, d).queryExecution
      qe.executedPlan // planned now, while AQE is off
      name -> qe
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Test title and remedy per audit. */
  private val cases = Map(
    "broadcast" -> ("every broadcast hint is bounded",
      "a broadcast() hint has no boundedness argument — drop the hint and " +
        "let stats/AQE degrade to a shuffle join (the r10 q_multimodal/" +
        "q_join_multi fix), or bound the hinted side"),
    "genjoin" -> ("every broadcast-over-Generate chain is bounded",
      "unbounded broadcast build over a Generate (the symdel OOM shape) — " +
        "pin the join's shuffle or classify it per the BASELINE " +
        "gen_join_audit criterion"),
    "scan" -> ("no source table scanned 3+ times per run",
      "a source table is scanned 3+ times in one run — fold the extra " +
        "derivation onto an existing stream (the q_hll_merge n_partials " +
        "shape), checkpoint the bounded intermediate, or classify it per " +
        "the BASELINE scan_audit criterion"),
    "prune" -> ("pushable filters push; no WIDE scans",
      "pushdown/pruning regression — a filter lost its row-group skip or " +
        "a wide table is read full-width"),
    "window" -> ("no partition-less window over unbounded input",
      "a partition-less window sorts its whole input in ONE task — bound " +
        "it below an aggregate/top-k or rewrite it as a range-partitioned " +
        "scan (paretoFrontGlobal precedent)"),
    "aqeflip" -> ("no un-pinned corpus-keyed aggregate join side",
      "an aggregate join side keyed on corpus-cardinality keys can flip " +
        "to a multi-GB broadcast under AQE — pin the join's shuffle " +
        "(merge hint) or record the written bound in decidedPins"),
    "coalesce" -> ("no coalesce(1) collapses a shuffle or a many-split scan",
      "coalesce(1) runs its whole input stage in ONE task — sort with " +
        "Tables.orderedRows (which collapses only a one-split stage) or " +
        "orderBy, or bound the rows first and list the query in " +
        "CoalesceAudit.boundedByDesign"))

  for ((audit, rule) <- tools.Audits.all) {
    val (title, remedy) = cases(audit)
    test(s"$audit: $title") {
      val offenders = plans.flatMap { case (name, qe) =>
        rule(name, qe).map(o => s"$name: $o")
      }
      assert(offenders.isEmpty, s"$remedy:\n${offenders.mkString("\n")}")
    }
  }
}

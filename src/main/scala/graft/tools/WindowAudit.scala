package graft.tools

import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec

/** Full-surface sweep for the fourth static-plan hazard class: a
  * PARTITION-LESS window (empty PARTITION BY) collapses its entire
  * input into ONE task for the sort — the r4 q_rfm defect (three
  * partition-less ntile windows over the whole customer dim, invisible
  * at sf0.1, a single-task cliff at a real warehouse; rewritten then
  * to broadcast cut points). Per-query pins exist for the decided
  * cases; this audits every query and every future one.
  *
  * Criterion (the GenJoinAudit bounding-node discipline): a
  * partition-less `WindowExec` is legitimate ONLY when a
  * cardinality-bounding node sits BELOW it in the same subtree —
  *
  *  - an aggregate (HashAggregate / ObjectHashAggregate /
  *    SortAggregate): the window then sorts a rollup (calendar/dim/
  *    vocabulary-bounded), not the corpus — q_win_frame's daily series,
  *    q_ewma's per-type days;
  *  - a top-k (TakeOrderedAndProject / WindowGroupLimit) or a LIMIT:
  *    input bounded outright.
  *
  * A partition-less window with NO bounding node below reads the whole
  * corpus through one task and is flagged. `WindowGroupLimitExec` with
  * an empty partition spec is NOT flagged (it is itself a bounded-heap
  * top-k, the thing one WANTS instead of a full sort). No classification
  * list: the surface must be clean outright.
  */
object WindowAudit {
  private val bounding = Seq("HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "TakeOrderedAndProject", "WindowGroupLimit",
    "GlobalLimit", "LocalLimit")

  /** Offending chains: for each partition-less WindowExec whose subtree
    * holds no bounding node, the node-class chain from the window down
    * to its source. */
  def chains(root: SparkPlan): Seq[String] = {
    import Audits.descend
    def hasBounding(p: SparkPlan): Boolean = p match {
      // a trackedCheckpoint() read: in declared queries an ExistingRDD
      // is a materialized intermediate that passed the r10 bounded-
      // intermediate decision rule (calendar/dim rollup) by
      // construction — the aggregate that bounded it ran at checkpoint
      // time and is invisible to this walk
      case _: RDDScanExec => true
      case _ =>
        val name = p.getClass.getSimpleName.stripSuffix("Exec")
        bounding.contains(name) || descend(p).exists(hasBounding)
    }
    def sourceChain(p: SparkPlan): List[String] = {
      val name = p.getClass.getSimpleName.stripSuffix("Exec")
      name :: descend(p).headOption.map(sourceChain).getOrElse(Nil)
    }
    def walk(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !hasBounding(w.child) =>
          Seq(sourceChain(w).mkString(" <- "))
        case _ => Seq.empty
      }
      here ++ descend(p).flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(root)
  }

  /** Partition-less windows over unbounded input in `query`'s static
    * plan. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    chains(qe.executedPlan).distinct
}

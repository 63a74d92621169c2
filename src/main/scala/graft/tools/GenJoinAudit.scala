package graft.tools

import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Full-surface sweep for the round-9 blind-stats hazard, generalized:
  * Spark's static size estimate does not model the row multiplication of
  * `Generate` (explode) — a unary node's sizeInBytes is scaled by the
  * row-WIDTH ratio only — so any join planned above an explode
  * under-estimates the exploded side and can pick a broadcast build that
  * is really corpus-sized (the symdel lane's measured 6.5×-slower /
  * OOM-at-×20 mis-plan, BASELINE r9 crossover_v3).
  *
  * For every `SparkEntry.queries` entry this walks the STATIC physical
  * plan (AQE off — the hazard is the static planner's choice; AQE
  * re-plans from accurate runtime sizes) and reports each
  * `BroadcastExchange` whose build subtree contains a `GenerateExec`,
  * with the node chain from the exchange down to the Generate so a hit
  * can be triaged: an aggregate over a BOUNDED key space between the two
  * is legitimate (the broadcast side is small no matter what the explode
  * produced); a chain with no cardinality-reducing node between them is
  * the mis-plan. Cached subtrees (`InMemoryTableScan`) are descended
  * into, since the hazard applies at cache materialization too.
  *
  * Criterion ([[offenders]], BASELINE "gen_join_audit"): a chain is
  * bounded by an aggregate or top-k node, or by a cache scan (a
  * materialized relation reports its REAL byte size). Any other chain
  * must pin its join's shuffle (RecordLinkageBlockSpec,
  * ExplodeJoinPinSpec) or be listed in [[boundedByDesign]].
  */
object GenJoinAudit {
  /** Chains allowed WITHOUT a bounding node, because the explode's row
    * inflation is a small design constant rather than a corpus factor:
    * BinnedRangeJoin sizes `binWidth` near the median interval span, so
    * an interval explodes into 1–2 bins and a mis-broadcast is at worst
    * a few × the intended size (BASELINE r9: broadcast measured 3.9×
    * faster than the pinned shuffle at sf0.1 for q_overlap_join). */
  val boundedByDesign = Set("q_overlap_join", "q_range_bin")

  private val bounding = Seq("HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "TakeOrderedAndProject", "WindowGroupLimit",
    "InMemoryTableScan")

  /** Broadcast-over-Generate chains of `query`'s static plan with no
    * bounding node. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    if (boundedByDesign(query)) Nil
    else chains(qe.executedPlan).filterNot(c => bounding.exists(c.contains))
      .distinct

  /** Node chain from `root` down to the first GenerateExec in each
    * broadcast subtree: class names only, cache boundaries marked. */
  def chains(root: SparkPlan): Seq[String] = {
    import Audits.descend
    def firstGenChain(p: SparkPlan, acc: List[String]): Option[List[String]] = {
      val name = p.getClass.getSimpleName.stripSuffix("Exec")
      p match {
        case _: GenerateExec => Some((name :: acc).reverse)
        case _ =>
          descend(p).iterator
            .map(firstGenChain(_, name :: acc))
            .collectFirst { case Some(c) => c }
      }
    }
    def bcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = p match {
      case b: BroadcastExchangeExec => b +: descend(b).flatMap(bcasts)
      case other => descend(other).flatMap(bcasts)
    }
    bcasts(root).flatMap(b => firstGenChain(b, Nil).map(_.mkString(" <- ")))
  }
}

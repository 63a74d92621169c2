package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Round-9 gen_join_audit pins beyond the linkage lanes (which
  * RecordLinkageBlockSpec covers): queries whose static plan would
  * broadcast a Generate-inflated side with no accurate-stats boundary
  * below the exchange now hint their shuffle, and this spec fails if a
  * refactor drops the hint or a Spark upgrade stops honoring it.
  *
  *  - q_dedup_embed: the band self-join's inputs are scan → posexplode
  *    (×8, carrying full vectors) — the symdel hazard shape; pinned
  *    shuffle_merge (measured a tie at sf0.1, BASELINE.md round 9).
  *  - q_join_salted: the ×SALT-exploded aggregate side is pinned
  *    shuffle_hash because the operator demonstrates the skew-safe
  *    salted shuffle — under a broadcast plan the salt replication is
  *    overhead with no benefit (no per-key shuffle partition to bound).
  *
  * AQE off: the hazard is the STATIC planner's choice; plans are
  * inspected unexecuted. q_overlap_join stays stats-decided by design
  * (bounded bin inflation — see BinnedRangeJoin's scaladoc), so it is
  * deliberately absent here.
  */
class ExplodeJoinPinSpec extends SparkSpec {

  private def staticPlan(q: String) = {
    val d = sfDir("sf0.001")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(q)(spark, d).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_dedup_embed band self-join is a sort-merge join, never a broadcast over its explode") {
    val plan = staticPlan("q_dedup_embed")
    val blind = plan.collect {
      case b: BroadcastHashJoinExec if b.exists(_.isInstanceOf[GenerateExec]) => b
    }
    assert(blind.isEmpty,
      s"band self-join planned a broadcast over a Generate subtree:\n${blind.mkString("\n")}")
    assert(plan.collect {
      case j: SortMergeJoinExec if j.exists(_.isInstanceOf[GenerateExec]) => j
    }.nonEmpty, s"no sort-merge join over the band explode — hint lost?\n$plan")
  }

  test("q_join_salted joins through the salted shuffle, never a broadcast of the exploded aggregate") {
    val plan = staticPlan("q_join_salted")
    val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.isEmpty,
      s"salted join planned a broadcast — salting is dead weight there:\n${bhj.mkString("\n")}")
    assert(plan.collect {
      case j: ShuffledHashJoinExec if j.exists(_.isInstanceOf[GenerateExec]) => j
    }.nonEmpty, s"no shuffled hash join over the salt explode — hint lost?\n$plan")
  }
}

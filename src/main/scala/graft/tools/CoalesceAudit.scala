package graft.tools

import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}

/** Full-surface sweep for the one-task collapse: `coalesce(1)` merges
  * its input stage into ONE task without a shuffle, so every operator
  * of that stage (the scan, a join's stream side, an aggregate's final
  * merge) runs single-threaded. That is free when the stage reads one
  * split anyway — [[graft.Tables.orderedRows]] takes that branch only
  * then — and a 100 TB bottleneck when the stage reads a shuffle or a
  * table of many splits.
  *
  * For every `SparkEntry.queries` entry this walks the STATIC physical
  * plan (AQE off), cache builds included, and reports each
  * `CoalesceExec(1)` whose input stage reads a shuffle, a leaf of
  * unknown size, or more than one scan split (the same count
  * `orderedRows` decides by, [[graft.Tables.stageSplits]]). A result
  * that is bounded by construction before it is collapsed is listed in
  * [[boundedByDesign]].
  */
object CoalesceAudit {
  /** Collapses allowed over a shuffle, because the rows collapsed are a
    * design constant: q_tfidf sorts its top-5-per-language result, at
    * most 5 rows per language (25 on the fixtures), in one task. */
  val boundedByDesign = Set("q_tfidf")

  /** One-task collapses of `query`'s static plan over more than one
    * split or a shuffle. */
  def offenders(query: String, qe: QueryExecution): Seq[String] =
    if (boundedByDesign(query)) Nil else collapses(qe.executedPlan)

  /** Each `CoalesceExec(1)` under `root` whose input stage is not one
    * split, described by what that stage reads. */
  def collapses(root: SparkPlan): Seq[String] = {
    val here = root match {
      case c: CoalesceExec if c.numPartitions == 1 =>
        graft.Tables.stageSplits(c.child) match {
          case Some(n) if n <= 1 => Nil
          case Some(n) => Seq(s"coalesce(1) over $n scan splits")
          case None => Seq("coalesce(1) over a shuffle or an unsized leaf")
        }
      case _ => Nil
    }
    here ++ Audits.descend(root).flatMap(collapses)
  }
}

package graft.tools

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The seven static-plan audits: plan shapes that pass at fixture scale
  * and fail at 100 TB (ARCHITECTURE "Scale architecture"). Each audit's
  * one rule, `offenders(query, queryExecution)`, is what AuditsSpec
  * gates at sf0.001 and what this runner applies at any SF.
  *
  * The runner opens one AQE-off session (the audits judge the static
  * planner's choices), builds each declared query once and runs all seven
  * rules on it. Prints `OFFENDER <audit> <query>: …` and
  * `FAILED <query>: <class>: <msg>` lines, then one
  * `{"metric":"audits",…}` line; exits 1 on any offender or failure.
  *
  * Usage: `sbt "runMain graft.tools.Audits [sfDir] [q_name ...]"`.
  */
object Audits {
  val all: Seq[(String, (String, QueryExecution) => Seq[String])] = Seq(
    "broadcast" -> (BroadcastAudit.offenders _),
    "genjoin" -> (GenJoinAudit.offenders _),
    "scan" -> (ScanAudit.offenders _),
    "prune" -> (PruneAudit.offenders _),
    "window" -> (WindowAudit.offenders _),
    "aqeflip" -> (AqeFlipAudit.offenders _),
    "coalesce" -> (CoalesceAudit.offenders _))

  /** A physical node's children, with a cache scan descending into its
    * cached plan (the hazards apply at cache materialization too). */
  private[tools] def descend(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
    case other => other.children
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val found = scala.collection.mutable.LinkedHashMap(all.map(_._1 -> 0): _*)
    var queries = 0
    var failed = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        queries += 1
        graft.Bench.attempt {
          val qe = fn(spark, d).queryExecution
          for ((audit, rule) <- all; o <- rule(name, qe)) {
            found(audit) += 1
            println(s"OFFENDER $audit $name: $o")
          }
        }.foreach { cause =>
          failed += 1
          println(s"FAILED $name: $cause")
        }
      }
    val byAudit = found.map { case (a, n) => s""""$a":$n""" }.mkString("{", ",", "}")
    println(s"""{"metric":"audits","sf":"$d","queries":$queries,"offenders":${found.values.sum},"by_audit":$byAudit,"failed":$failed}""")
    graft.operators.TrainingData.unpersistAll()
    spark.stop()
    if (found.values.sum + failed > 0) sys.exit(1)
  }
}

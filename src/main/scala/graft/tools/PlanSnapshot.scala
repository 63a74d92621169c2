package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Per-query plan-complexity snapshot — the shuffle/broadcast/sort/
  * window/scan counts of every declared query's static plan, one JSON
  * line per query, written to stdout AND `PLANS_r{tag}.jsonl` when a
  * tag argument is given. The audits (GenJoin/Scan/Prune/Window) pin
  * CRITERIA; this pins the raw COUNTS as a committed baseline, so a
  * future rewrite that quietly adds an exchange to an unpinned query
  * shows up as a one-line diff against the previous round's snapshot
  * instead of a bench mystery. Counts are static-plan facts (AQE off),
  * deterministic at a fixed SF **under the COLD-CACHE convention**: a
  * materialized InMemoryRelation reports its actual byte size and can
  * legitimately flip join picks, so snapshots are defined for a fresh
  * session where `cached()` assets are registered but never executed —
  * PlanDiffSpec restores that state (unpersistAll + clearCache) before
  * comparing.
  *
  * Columns: hashEx (hash-partitioned exchanges = real shuffles),
  * singleEx (single-partition exchanges = global agg/limit collects),
  * bcast, sorts, windows, scans (parquet + DSv2), rddScans
  * (checkpoint reads).
  *
  * Usage: `sbt "runMain graft.tools.PlanSnapshot [sfDir] [tag]"`.
  */
object PlanSnapshot {
  final case class Counts(hashEx: Int, singleEx: Int, bcast: Int,
    sorts: Int, windows: Int, scans: Int, rddScans: Int)

  def counts(root: SparkPlan): Counts = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    var c = Counts(0, 0, 0, 0, 0, 0, 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: ShuffleExchangeExec =>
          if (s.outputPartitioning == SinglePartition)
            c = c.copy(singleEx = c.singleEx + 1)
          else c = c.copy(hashEx = c.hashEx + 1)
        case _: BroadcastExchangeExec => c = c.copy(bcast = c.bcast + 1)
        case _: SortExec => c = c.copy(sorts = c.sorts + 1)
        case _: WindowExec => c = c.copy(windows = c.windows + 1)
        case _: FileSourceScanExec | _: BatchScanExec =>
          c = c.copy(scans = c.scans + 1)
        case _: RDDScanExec => c = c.copy(rddScans = c.rddScans + 1)
        case _ =>
      }
      p match {
        case cache: InMemoryTableScanExec =>
          if (!seen.containsKey(cache.relation.cachedPlan)) {
            seen.put(cache.relation.cachedPlan, ())
            walk(cache.relation.cachedPlan)
          }
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(root)
    c
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val tag = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val line = try {
          val x = counts(fn(spark, d).queryExecution.executedPlan)
          s"""{"q":"$name","hashEx":${x.hashEx},"singleEx":${x.singleEx},"bcast":${x.bcast},"sorts":${x.sorts},"windows":${x.windows},"scans":${x.scans},"rddScans":${x.rddScans}}"""
        } catch {
          case scala.util.control.NonFatal(e) =>
            s"""{"q":"$name","error":"${e.getClass.getSimpleName}"}"""
        }
        println(line)
        line
    }
    tag.foreach { t =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"PLANS_$t.jsonl"),
        (lines.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    graft.operators.TrainingData.unpersistAll()
    spark.stop()
  }
}

package etlbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `rep` ties every span of one query repetition
  * together; `parent` is the index of the enclosing span (-1 at the root).
  * Times are epoch microseconds. */
final case class Span(name: String, kind: String, rep: String,
    startUs: Long, endUs: Long, var parent: Int = -1) {
  def durUs: Long = endUs - startUs
}

/** Spark listener events kept in memory during a traced run. Registered
  * only by the traced run, from outside the program: a [[SparkListener]]
  * for jobs, stages and tasks and a [[QueryExecutionListener]] for the
  * planning phases and the executed plans. */
final class Trace extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
      var ended: Boolean = false)
  final case class Stage(id: Int, startMs: Long, endMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, failed: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, inBytes: Long, inRows: Long, outBytes: Long)
  final case class Query(atMs: Long, phases: Map[String, (Long, Long)], memScans: Int)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()

  /** Waits until every started job has ended and no planning event arrived
    * for a moment, so that removing the listeners loses nothing. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    while ((jobs.values.asScala.exists(!_.ended) || queries.size != last) &&
        System.currentTimeMillis() < deadline) {
      last = queries.size
      Thread.sleep(200)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j => j.endMs = e.time; j.ended = true }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.put(i.stageId, Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      e.taskInfo.failed, g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
      g(_.outputMetrics.bytesWritten)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val scans = scala.util.Try(Trace.memScans(qe.executedPlan)).getOrElse(0)
    val at = phases.get("planning").map(_._2).getOrElse(System.currentTimeMillis())
    queries.add(Query(at, phases, scans))
  }
}

object Trace {
  /** In-memory (cached asset) scans in an executed plan, looking through
    * adaptive plans, query stages, command wrappers and subqueries. */
  def memScans(p: SparkPlan): Int = p match {
    case _: InMemoryTableScanExec => 1
    case a: AdaptiveSparkPlanExec => memScans(a.executedPlan)
    case s: QueryStageExec => memScans(s.plan)
    case c: CommandResultExec => memScans(c.commandPhysicalPlan)
    case _ => (p.children ++ p.subqueries).map(memScans).sum
  }

  /** Links every span to the tightest span of a lower layer that contains
    * it. Layers, outermost first: pass, query, build|action, plan|job,
    * stage. */
  def link(spans: mutable.ArrayBuffer[Span]): Unit = {
    val depth = Map("pass" -> 0, "query" -> 1, "build" -> 2, "action" -> 2,
      "plan" -> 3, "job" -> 3, "stage" -> 4)
    val byStart = spans.indices.sortBy(i => (spans(i).startUs, depth(spans(i).kind)))
    for (i <- spans.indices) {
      val s = spans(i)
      var best = -1
      for (j <- byStart if j != i) {
        val p = spans(j)
        if (depth(p.kind) < depth(s.kind) && p.startUs <= s.startUs && s.endUs <= p.endUs &&
            (best < 0 || depth(p.kind) > depth(spans(best).kind)))
          best = j
      }
      s.parent = best
    }
  }

  /** Self time per span kind: duration minus the union of the children. */
  def selfTimes(spans: mutable.ArrayBuffer[Span]): Map[String, Double] = {
    val kids = spans.indices.groupBy(spans(_).parent)
    spans.indices.groupBy(spans(_).kind).map { case (kind, idx) =>
      kind -> idx.map { i =>
        val s = spans(i)
        val ivs = kids.getOrElse(i, Nil).map(spans(_)).map(c =>
          (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).sortBy(_._1)
        var covered = 0L
        var cur = (0L, -1L)
        for ((a, b) <- ivs) {
          if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
          else cur = (cur._1, math.max(cur._2, b))
        }
        if (cur._2 > cur._1) covered += cur._2 - cur._1
        (s.durUs - covered).toDouble / 1e6
      }.sum
    }
  }

  def spansJson(spans: Seq[Span]): java.util.List[java.util.Map[String, Any]] =
    spans.map { s =>
      Map[String, Any]("name" -> s.name, "kind" -> s.kind, "rep" -> s.rep,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent).asJava
    }.asJava
}

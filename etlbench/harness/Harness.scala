package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM, driven through the program's public entry
  * points only: `SparkEntry.queries(name)(spark, dir)` builds a query, a
  * `noop`-sink write executes it (the protocol of `graft.Bench`), and
  * `TrainingData.unpersistAll()` clears the asset cache at the end.
  *
  * Closed loop, one client: the next query is submitted only after the
  * previous one completed. Order of work:
  *  1. session (the settings `graft.Bench` uses) and the program's warm
  *     phase (`Bench.warmQs` entries that are in the query list) — set-up;
  *  2. one untimed verification repetition of every query, written as
  *     parquet for the oracle compare;
  *  3. `warm_passes` untimed passes over the list, so that the timed ones
  *     run on JIT-compiled code;
  *  4. `passes` timed passes, pass-major; a query's time is its median
  *     over the passes.
  * With `trace` on, step 4 is six passes instead, traced and untraced in
  * t u u t t u order (listeners registered only for the traced ones), an
  * I/O canary joins the CPU canary before each pass, and the kernels are
  * timed after the passes.
  *
  * Usage: etlbench.Harness <config.json>; writes the result JSON to the
  * config's `out` path.
  */
object Harness {
  private val om = new ObjectMapper()

  private def nowUs(): Long = System.currentTimeMillis() * 1000

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def procIo(): Map[String, Long] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/io")).asScala.map { l =>
      val Array(k, v) = l.split(":\\s*"); k -> v.trim.toLong
    }.toMap).getOrElse(Map.empty)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  private def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def fileCount(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.count(Files.isRegularFile(_)).toLong

  /** Wall time of a fixed xorshift loop on each of `threads` threads. */
  private def cpuCanary(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = 88172645463325252L + k
        var i = 0
        while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42) println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def ioCanary(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    s.range(0, 200000, 1, 1).selectExpr("id", "id * 7 as v").write.mode("overwrite")
      .parquet(dir)
    s.read.parquet(dir).selectExpr("sum(v)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  final case class Failure(query: String, phase: String, error: Throwable)

  def main(args: Array[String]): Unit = {
    val cfg = om.readTree(Files.readString(Paths.get(args(0))))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = cfg.get("data_dir").asText()
    val queries = cfg.get("queries").elements().asScala.map(_.asText()).toSeq
    val warmPasses = cfg.get("warm_passes").asInt()
    val nPasses = cfg.get("passes").asInt()
    val traced = cfg.get("trace").asBoolean()
    val verifyDir = cfg.get("verify_dir").asText()
    val scratch = cfg.get("scratch_dir").asText()
    val cpus = cfg.get("cpus").asInt()
    val sinkDir = Paths.get(scratch, "sink")

    // ---- 1. set-up: session + warm phase -------------------------------
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "2000000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace) else None
    val spans = mutable.ArrayBuffer[Span]()
    val failures = mutable.ArrayBuffer[Failure]()
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val warmQs = graft.Bench.warmQs.filter(queries.contains)
    val warm = warmQs.map { q =>
      val t0 = System.nanoTime()
      try run(graft.SparkEntry.queries(q)(spark, dir))
      catch { case e: Throwable if scala.util.control.NonFatal(e) => failures += Failure(q, "warm", e) }
      q -> (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val assetsBuilt = (spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).size

    // ---- 2. verification repetition (untimed) ---------------------------
    val verifyS = queries.map { q =>
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$verifyDir/$q")
      catch { case e: Throwable if scala.util.control.NonFatal(e) => failures += Failure(q, "verify", e) }
      q -> (System.nanoTime() - t0) / 1e9
    }

    // ---- 3, 4. warm and timed passes -----------------------------------
    final class Passes {
      val times = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
      val builds = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
      val cpuCan = mutable.ArrayBuffer[Double]()
      val ioCan = mutable.ArrayBuffer[Double]()
      var n = 0
      var actionWallS = 0.0
      var elapsedS = 0.0
      def batchS: Double = queries.map(q => median(times(q))).sum
    }
    /** One pass over the query list into `ps`; spans only when `spanned`. */
    def pass(ps: Passes, tag: String, spanned: Boolean): Unit = {
      ps.n += 1
      ps.cpuCan += cpuCanary(cpus)
      if (traced) ps.ioCan += ioCanary(spark, s"$scratch/io-canary")
      val t0Pass = System.nanoTime()
      val p0 = nowUs()
      val sp = mutable.ArrayBuffer[Span]()
      for (q <- queries) {
        val rep = s"$tag${ps.n}/$q"
        val q0 = nowUs()
        val t0 = System.nanoTime()
        try {
          val df = graft.SparkEntry.queries(q)(spark, dir)
          val t1 = System.nanoTime()
          val b1 = nowUs()
          sp += Span(q, "build", rep, q0, b1)
          // a DataFrame is analyzed eagerly while it is built
          df.queryExecution.tracker.phases.get("analysis").foreach { p =>
            sp += Span("plan.analysis", "plan", rep, p.startTimeMs * 1000, p.endTimeMs * 1000)
          }
          run(df)
          val t2 = System.nanoTime()
          sp += Span(q, "action", rep, b1, nowUs())
          ps.times(q) = (t2 - t0) / 1e9 :: ps.times(q)
          ps.builds(q) = (t1 - t0) / 1e9 :: ps.builds(q)
          ps.actionWallS += (t2 - t1) / 1e9
        } catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            failures += Failure(q, s"$tag${ps.n}", e)
        }
        sp += Span(q, "query", rep, q0, nowUs())
      }
      sp += Span(s"$tag${ps.n}", "pass", s"$tag${ps.n}", p0, nowUs())
      if (spanned) spans ++= sp
      ps.elapsedS += (System.nanoTime() - t0Pass) / 1e9
    }
    val warmed = new Passes
    for (_ <- 1 to warmPasses) pass(warmed, "w", spanned = false)
    val io0 = procIo()
    val gc0 = gcSeconds()
    val persistedTimed = spark.sparkContext.getPersistentRDDs.keySet
    val timed = new Passes
    val tracedPasses = new Passes
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps no total; count x mean approximates it
    def cgTotalS: Double = cg.getCount * cg.getSnapshot.getMean / 1e3
    var cgCompiles, cgS = 0.0
    trace match {
      case None =>
        for (_ <- 1 to nPasses) pass(timed, "p", spanned = false)
      case Some(t) =>
        // traced (t) and untraced (u) passes in t u u t t u order; the
        // difference of their batch times is the tracing overhead
        for (on <- Seq(true, false, false, true, true, false)) {
          if (on) {
            val (c0, s0) = (cg.getCount, cgTotalS)
            spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t)
            pass(tracedPasses, "t", spanned = true)
            t.quiesce()
            spark.sparkContext.removeSparkListener(t); spark.listenerManager.unregister(t)
            cgCompiles += cg.getCount - c0
            cgS += cgTotalS - s0
          } else pass(timed, "u", spanned = false)
        }
    }
    timed.cpuCan += cpuCanary(cpus)
    val io1 = procIo()
    val gc1 = gcSeconds()
    val builtTimed = (spark.sparkContext.getPersistentRDDs.keySet -- persistedTimed).size
    val sinkFiles = fileCount(sinkDir)
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // broadcast and shuffle blocks whose owners died are released by the
    // ContextCleaner after one collection; measure after the next one
    System.gc(); Thread.sleep(300); System.gc()
    val liveHeapMb = oldGenAfterGcMb()
    val times = timed.times
    val allPasses = timed.n + tracedPasses.n
    val med = queries.map(q => q -> median(times(q)))
    val written = io1.getOrElse("wchar", 0L) - io0.getOrElse("wchar", 0L)
    val result = new java.util.LinkedHashMap[String, Any]()
    def put(k: String, v: Any): Unit = result.put(k, v)
    def obj(kv: Seq[(String, Double)]): java.util.Map[String, Double] = {
      val m = new java.util.LinkedHashMap[String, Double](); kv.foreach { case (k, v) => m.put(k, v) }; m
    }
    put("session_s", sessionS)
    put("setup_s", setupS)
    put("warm", obj(warm))
    put("verify_s", obj(verifyS))
    put("passes", timed.n)
    put("timed_s", timed.elapsedS)
    put("query_s", obj(med))
    put("query_reps_s", queries.map(q => q -> times(q).reverse.asJava).toMap.asJava)
    put("batch_s", timed.batchS)
    put("cached_mb", cachedMb)
    put("live_heap_mb", liveHeapMb)
    put("written_bytes", written / allPasses)
    put("gc_s", (gc1 - gc0) / allPasses)
    put("assets_built_warm", assetsBuilt)
    put("assets_built_timed", builtTimed.toDouble / allPasses)
    put("sink_files", sinkFiles)
    put("oracle_sql", queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap.asJava)
    put("failures", failures.map { f =>
      Map("query" -> f.query, "phase" -> f.phase, "class" -> f.error.getClass.getName,
        "message" -> String.valueOf(f.error.getMessage).take(500)).asJava
    }.asJava)
    put("cpu_canary_s", median((timed.cpuCan ++ tracedPasses.cpuCan).toSeq))

    trace.foreach { t =>
      val tp = tracedPasses
      put("trace.batch_s", tp.batchS)
      put("trace.overhead_s", tp.batchS - timed.batchS)
      put("codegen.compiles", cgCompiles / tp.n)
      put("codegen.compile_s", cgS / tp.n)
      layerMetrics(t, spans, queries, tp.builds, tp.n, tp.actionWallS, cpus, put)
      put("io_canary_s", median((timed.ioCan ++ tp.ioCan).toSeq))
      put("kernels_ns_row", obj(Kernels.run(spark, dir, 3)))
      Files.writeString(Paths.get(cfg.get("trace_out").asText()),
        om.writeValueAsString(Trace.spansJson(spans.toSeq)))
    }
    graft.operators.TrainingData.unpersistAll()
    spark.stop()
    Files.writeString(Paths.get(cfg.get("out").asText()), om.writeValueAsString(result))
  }

  /** Per-layer figures of the traced passes, per pass unless noted. */
  private def layerMetrics(t: Trace, spans: mutable.ArrayBuffer[Span], queries: Seq[String],
      builds: mutable.Map[String, List[Double]], passes: Int, actionWallS: Double, cpus: Int,
      put: (String, Any) => Unit): Unit = {
    val passSpans = spans.filter(_.kind == "pass").toSeq
    def inPasses(a: Long, b: Long) = passSpans.exists(p => p.startUs <= a && b <= p.endUs)
    val phaseKind = Map("analysis" -> "plan.analysis", "optimization" -> "plan.optimization",
      "planning" -> "plan.physical")
    val plan = t.queries.asScala.toSeq.flatMap(_.phases.collect {
      case (k, (a, b)) if phaseKind.contains(k) && inPasses(a * 1000, b * 1000) =>
        Span(phaseKind(k), "plan", "", a * 1000, b * 1000)
    })
    val jobs = t.jobs.values.asScala.toSeq.filter(j => inPasses(j.startMs * 1000, j.endMs * 1000))
    val jobStages = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val stages = t.stages.values.asScala.toSeq.filter(s => jobStages.contains(s.id))
    val stageIds = stages.map(_.id).toSet
    val tasks = t.tasks.asScala.toSeq.filter(k => stageIds(k.stage))
    val all = spans ++ plan ++
      jobs.map(j => Span(s"job${j.id}", "job", "", j.startMs * 1000, j.endMs * 1000)) ++
      stages.map(s => Span(s"stage${s.id}", "stage", "", s.startMs * 1000, s.endMs * 1000))
    Trace.link(all)
    // every listener span inherits the repetition id of the query it sits in
    def repOf(i: Int): String =
      if (all(i).rep.nonEmpty || all(i).parent < 0) all(i).rep else repOf(all(i).parent)
    val linked = all.indices.map(i => all(i).copy(rep = repOf(i), parent = all(i).parent))
    spans.clear(); spans ++= linked
    val self = Trace.selfTimes(spans)
    Seq("pass", "query", "build", "action", "plan", "job", "stage").foreach { k =>
      put(s"self.${k}_s", self.getOrElse(k, 0.0) / passes)
    }
    val buildJobs = spans.count(s => s.kind == "job" && s.parent >= 0 && spans(s.parent).kind == "build")
    put("operators.build_s", queries.map(q => median(builds(q))).sum)
    put("operators.build_jobs", buildJobs.toDouble / passes)
    val phaseS = (n: String) => spans.filter(_.name == n).map(_.durUs).sum / 1e6 / passes
    put("planning.analysis_s", phaseS("plan.analysis"))
    put("planning.optimization_s", phaseS("plan.optimization"))
    put("planning.physical_s", phaseS("plan.physical"))
    // build spans already contain the analysis done while building
    put("span.build_plan_s", spans.filter(s => s.kind == "build" ||
      (s.kind == "plan" && (s.parent < 0 || spans(s.parent).kind != "build")))
      .map(_.durUs).sum / 1e6 / passes)
    put("exec.jobs", jobs.size.toDouble / passes)
    put("exec.stages", stages.size.toDouble / passes)
    put("exec.tasks", tasks.size.toDouble / passes)
    put("exec.failed_tasks", tasks.count(_.failed).toDouble / passes)
    val runS = tasks.map(_.runMs).sum / 1e3
    put("exec.task_run_s", runS / passes)
    put("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / passes)
    put("exec.task_gc_s", tasks.map(_.gcMs).sum / 1e3 / passes)
    put("exec.parallelism", if (actionWallS > 0) runS / (actionWallS * cpus) else 0.0)
    val mb = (f: t.Task => Long) => tasks.map(f).sum / 1048576.0 / passes
    put("exec.shuffle_write_mb", mb(_.shuffleWrite))
    put("exec.shuffle_read_mb", mb(_.shuffleRead))
    put("exec.spill_mb", mb(_.spill))
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(k => (k.finishMs - k.launchMs).toDouble)
      val m = median(d)
      if (m > 0) d.max / m else 1.0
    }
    put("exec.skew_max", if (skew.isEmpty) 1.0 else skew.max)
    put("tables.scan_mb", mb(_.inBytes))
    put("tables.scan_rows", tasks.map(_.inRows).sum.toDouble / passes)
    put("tables.scan_tasks", tasks.count(_.inBytes > 0).toDouble / passes)
    put("sink.write_mb", mb(_.outBytes))
    put("sink.write_s", tasks.filter(_.outBytes > 0).map(_.runMs).sum / 1e3 / passes)
    put("mem_scans", t.queries.asScala.filter(q => inPasses(q.atMs * 1000, q.atMs * 1000))
      .map(_.memScans).sum.toDouble / passes)
  }
}

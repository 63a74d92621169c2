package graft
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Headline benchmark over the full `SparkEntry.queries` surface.
  *
  * Jitter doctrine (BASELINE.md): this host shows transient degraded
  * windows where untouched code inflates 10x+ for tens of seconds
  * (round-5's driver artifact landed in one: uniform 1.63x median
  * inflation, q_map at 83.7 s vs its 0.3 s quiet-band time). A single
  * timing pass therefore cannot be a trustworthy scoring artifact. The
  * fix is N full passes in ONE JVM with per-query median:
  *
  *  - PASS-MAJOR ordering (run the whole suite, then run it again), not
  *    query-major. A degraded window is contiguous in wall-clock, so
  *    pass-major spreads it across at most one rep of many queries and
  *    the per-query median sheds it; query-major (N back-to-back reps of
  *    the same query) would put all N reps of the unlucky queries inside
  *    the window and the median would keep the noise.
  *  - The reported total is the sum of per-query medians — comparable
  *    across rounds regardless of rep count.
  *  - `reps`, per-query median (`queries`) and per-query min
  *    (`queries_min`) all appear in the machine line; `reps` is repeated
  *    in the compact summary line so a tail-truncated artifact is still
  *    self-describing.
  *
  * ACTION — protocol v2 (r13): each timed rep materializes the query
  * with a `noop`-sink write (Spark's own benchmark idiom), not
  * `count()`. The v1 count action let Catalyst prune every computed
  * column that does not affect cardinality — measured on the r13 code:
  * q_win_range's Window node is REMOVED ENTIRELY from the optimized
  * count plan (its flat 0.15 s at a 3.1M-row hot partition in the first
  * skew ladder was a scan-count, not a window), the whole §2.5
  * window family loses its output-only window expressions, the scalar
  * queries (§2.8) lose their expressions, and EliminateSorts drops
  * every final orderBy. The declared result is the full column set in
  * the declared order — Verify writes it as parquet — so v1
  * under-measured those plans; noop forces exactly the declared
  * computation with no sink or driver-transfer cost. The v1↔v2
  * per-query mapping is recorded in BASELINE.md r13; the history
  * line's `protocol` field tells v1 lines from v2 ones, so cross-round
  * diffs never silently mix them.
  */
object Bench {
  /** Shared-asset warm list — the single definition. Contract (r9,
    * BASELINE.md "Bench warm-list trim"): one entry per MULTI-consumer
    * corpus-snapshot asset's first-toucher, nothing else. Assets with one
    * consumer need no warming — their population cost belongs to their
    * only query and the median-of-reps sheds the first-touch rep; the r8
    * list warmed 8 such entries (including q_token_count, which populates
    * NO cached asset at all) and spent 22–28 s of the driver's 48–70 s
    * warmup on them. Coverage: q_zipf→allToks(×5), q_dedup_near→
    * docToks(×5)+nearPairs(×2), q_dedup_minhash→vocab(×3, an asset the
    * r8 list MISSED — its population was charged to whichever consumer
    * ran first), q_range_bin→eventSessions(×2), q_basket_pairs→
    * basketPairs(×3). Re-check the `warm_assets` artifact entry after
    * adding/re-wiring any cached() asset. */
  val warmQs = Seq("q_zipf", "q_dedup_near", "q_dedup_minhash",
    "q_range_bin", "q_basket_pairs")

  /** Window index basket (r14, quiet-band item): the index is the median
    * over these cheap, PLAN-STABLE heads of (this run's median / the
    * head's calibration median). The basket is scan+compute shapes no
    * graft dial can move, spread across scan/filter/scalar/sort/window/
    * union plan classes, so the ratio isolates HOST speed from plan
    * changes: watch heads grazing their thresholds at window_index ~1.4
    * is a slow host, not a regression. Constants are deliberately FROZEN
    * to a record line rather than re-derived per session: a
    * self-recalibrating basket would let a genuine whole-surface
    * regression re-zero its own yardstick. Only meaningful at the close
    * shape (sf0.1, v2 noop). RE-FROZEN r16 to the per-head medians of
    * BENCH_HISTORY ts 2026-08-19T00:01, commit be31851f4 (OPTIMIZATION_r16.md
    * §1). tools/close.sh re-normalizes every history line's total with a
    * copy of these constants (WINDOW_BASKET); DriftSpec fails on
    * drift between the two. */
  private[graft] val windowBasket = Seq(
    "q_project" -> 0.767, "q_filter" -> 0.319, "q_math" -> 0.736,
    "q_str" -> 0.310, "q_case" -> 0.365, "q_date" -> 0.340,
    "q_array" -> 0.341, "q_map" -> 1.032, "q_sort" -> 0.553,
    "q_agg_pricing" -> 0.462, "q_win_lag" -> 0.668, "q_union" -> 0.376)

  /** Short HEAD commit of the enclosing git work tree, resolved by
    * reading `.git` directly (no `git` subprocess — Bench must not
    * depend on a shell). Walks up from the CWD to find `.git`, follows
    * one level of `ref:` indirection, falls back to packed-refs. None
    * on any miss — the history stamp records null rather than failing
    * the bench over provenance metadata. */
  private def resolveGitHead(): Option[String] = scala.util.Try {
    import java.nio.file.{Files, Path, Paths}
    def findGit(p: Path): Option[Path] =
      if (p == null) None
      else { val g = p.resolve(".git")
             // worktrees/submodules: `.git` is a FILE holding
             // "gitdir: <path>" — follow it instead of skipping it,
             // which would walk past this repo and stamp an enclosing
             // repo's HEAD (r12 ADVICE)
             if (Files.isDirectory(g)) Some(g)
             else if (Files.isRegularFile(g)) {
               val line = Files.readString(g).trim
               if (line.startsWith("gitdir: "))
                 Some(p.resolve(line.stripPrefix("gitdir: ").trim)
                   .normalize())
               else None
             }
             else findGit(p.getParent) }
    val git = findGit(Paths.get("").toAbsolutePath).get
    // a worktree's gitdir holds HEAD but shares refs/packed-refs with
    // the main repo through its `commondir` pointer
    val common = {
      val c = git.resolve("commondir")
      if (Files.isRegularFile(c))
        git.resolve(Files.readString(c).trim).normalize()
      else git
    }
    val head = Files.readString(git.resolve("HEAD")).trim
    val full =
      if (head.startsWith("ref: ")) {
        val ref = head.stripPrefix("ref: ").trim
        val loose = common.resolve(ref)
        if (Files.exists(loose)) Files.readString(loose).trim
        else { // packed ref: lines are "<sha> <refname>"
          val packed = Files.readString(common.resolve("packed-refs"))
          packed.linesIterator
            .filter(l => !l.startsWith("#") && l.endsWith(" " + ref))
            .map(_.split(" ")(0)).next()
        }
      } else head
    full.take(9)
  }.toOption.filter(_.nonEmpty)

  /** A failure as `"<class>: <first message line>"`. */
  private[graft] def cause(e: Throwable): String = {
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse("")
    s"${e.getClass.getName}: $msg"
  }

  /** Runs `body`; None on success, else the failure's [[cause]]. Only
    * non-fatal throwables are caught — an OutOfMemoryError or an
    * interrupt ends the run instead of being booked as one failed query. */
  private[graft] def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case NonFatal(e) => Some(cause(e)) }

  /** Classes Spark's code generator compiled, and the seconds it spent
    * compiling, while `body` ran (JVM-wide counters, so work on other
    * threads counts too). */
  private[graft] def codegenDuring(body: => Unit): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val (c0, ns0) = (h.getCount, CodeGenerator.compileTime)
    body
    (h.getCount - c0, (CodeGenerator.compileTime - ns0) / 1e9)
  }

  /** Spark jobs `spark` started while `body` ran, counted by a job-start
    * listener that is removed again once the listener bus has delivered
    * every event the body posted; -1 when the bus did not drain. */
  private[graft] def jobsDuring(spark: org.apache.spark.sql.SparkSession)(
      body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    val drained =
      try { body; org.apache.spark.sql.graft.Bridge.drainListeners(sc) }
      finally sc.removeSparkListener(counter)
    if (drained) n.get else -1
  }

  /** Median; the mean of the two middle values at an even count. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** JSON string literal: quotes, backslashes and control chars escaped. */
  private[graft] def jsonStr(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val protocolId = "pass-major-median-v2-noop"
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val spark = LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: absorb session/codegen/parquet-reader init so the first
    // query's time is honest. The 5-row region table touches the real scan
    // path (footer read, vectorized reader, agg codegen) at zero data cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    catch { case NonFatal(_) => }
    // Shared-asset warm-up: the TrainingData.cached() intermediates are
    // corpus-snapshot assets amortized across the suite — at cluster scale
    // you materialize them once, not once per query. Populating the
    // MULTI-consumer ones before the timing loop makes per-query numbers
    // measure INCREMENTAL cost and stop depending on map iteration order
    // (r3 verdict: cache population was charged to whichever consumer ran
    // first). The population cost is NOT hidden: it is reported separately
    // as warmup_sec below, and single-consumer assets' population lands in
    // their own query's rep 1 (visible as the queries-vs-queries_min
    // spread; the median is the incremental cost). See `warmQs` scaladoc
    // for the measured basis.
    // Per-asset first-touch seconds ride along in the summary line (r9
    // verdict item 4): the r9 artifact's 57.7 s warmup on a trimmed warm
    // list was indistinguishable from a warm-list regression without a
    // local re-run — per-entry timings make a degraded host window
    // (uniform inflation) readable straight off the artifact.
    // Per-ASSET build seconds ride along too (r15 verdict item 7): the
    // warm-query times below attribute population to the FIRST-TOUCHER
    // query, but one entry can populate several assets (q_dedup_near →
    // docToks + nearDocSums + nearPairs), so asset-level movement
    // between the timed and untimed regions was not auditable from the
    // artifact alone. During the warm phase (ONLY — the flag is off for
    // the timed reps, so rep-1 mins keep their meaning) cached() times
    // each asset's first materialization individually; the snapshot is
    // stamped as "warm_assets" in the summary line.
    val w0 = System.nanoTime()
    graft.operators.TrainingData.eagerAssetTiming = true
    val warmTimes = try warmQs.map { q =>
      val t0 = System.nanoTime()
      // a failure here recurs in the timed reps, which record its cause
      attempt(run(SparkEntry.queries(q)(spark, sfDir)))
      q -> (System.nanoTime() - t0) / 1e9
    } finally graft.operators.TrainingData.eagerAssetTiming = false
    val warmAssets = graft.operators.TrainingData.assetBuildSecs
      .toSeq.collect { case ((`sfDir`, a), secs) => a -> secs }.sortBy(-_._2)
    val warmup = (System.nanoTime() - w0) / 1e9
    // Fixed query order shared by every pass (stable map iteration order
    // per JVM, but pin it explicitly so passes are strictly comparable).
    val order = SparkEntry.queries.keys.toSeq
    // times(q) = seconds per successful rep; a throwing rep records no
    // time, and the first cause per query lands in the full line's errors.
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // (classes compiled, compile seconds) per timed pass: a pass that
    // compiles again what the one before it compiled has outgrown Spark's
    // generated-class cache; and the jobs each pass started
    val passJobs = scala.collection.mutable.ArrayBuffer[Int]()
    val passCodegen = (1 to reps).map { _ =>
      codegenDuring { passJobs += jobsDuring(spark) {
        for (name <- order) {
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          val err = attempt(run(fn(spark, sfDir)))
          val dt = (System.nanoTime() - t0) / 1e9
          err match {
            case None => times(name) = dt :: times(name)
            case Some(e) => if (!errors.contains(name)) errors(name) = e
          }
        }
      } }
    }
    // -1.0 marks a query that failed on every rep (same sentinel as before).
    val med = order.map(q =>
      q -> (if (times(q).nonEmpty) median(times(q)) else -1.0))
    val mins = order.map(q =>
      q -> (if (times(q).nonEmpty) times(q).min else -1.0))
    def obj(kvs: Iterable[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = med.collect { case (_, v) if v >= 0 => v }.sum
    // Window index: see `windowBasket`; -1.0 when the run's shape has no
    // basket heads (e.g. a filtered head list).
    val medLookup = med.toMap
    val windowIndex = {
      val rs = windowBasket.flatMap { case (q, cal) =>
        medLookup.get(q).filter(_ > 0).map(_ / cal) }.sorted
      // calibrated at sf0.1 only — a ratio against another SF's corpus
      // would read as host speed when it's data volume
      if (rs.isEmpty || !sfDir.stripSuffix("/").endsWith("sf0.1")) -1.0
      else median(rs)
    }
    // Locale-pinned formatting (r14 ADVICE): an f"" interpolator uses the
    // JVM default locale — under a comma-decimal locale it would emit
    // "1,042" and corrupt the hand-built JSON of every artifact line
    // (after which close.sh's norm_total parse fails and the quiet-band
    // guard dies). Every other number in these lines is Double.toString,
    // which is locale-independent already.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val widx = f3(windowIndex)
    // Normalized total stamped in the artifact itself (r14 verdict item
    // 5): the driver's BENCH tail keeps only 2000 chars, and before this
    // the reader had to divide value by window_index by hand. -1 when the
    // run's shape has no index (non-sf0.1). close.sh's norm_total prefers
    // this field.
    val normTotal = if (windowIndex > 0) f3(total / windowIndex) else "-1.000"
    val errorsObj = errors.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","warmup_sec":$warmup,"reps":$reps,"window_index":$widx,"normalized_total":$normTotal,"queries":${obj(med)},"queries_min":${obj(mins)},"errors":$errorsObj,"codegen_compiles":${passCodegen.map(_._1).mkString("[", ",", "]")},"codegen_compile_s":${passCodegen.map(p => f3(p._2)).mkString("[", ",", "]")},"jobs":${passJobs.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Compact summary printed LAST: artifact collectors that keep only the
    // tail of stdout (the driver stores 2000 chars) must still see the
    // totals, rep count, the slowest queries, the dedup-family
    // done-criteria queries and any failures — r4's full-JSON-only output
    // lost all of those to the truncation window.
    val slowest = med.filter(_._2 >= 0).sortBy(-_._2).take(15)
    val medMap = medLookup
    val minMap = mins.toMap
    // Watch list with done-criteria (BASELINE.md), RE-BASED r13 for
    // protocol v2 (the noop action times ordered-output materialization
    // v1 pruned; per-query mapping in BASELINE r13 "bench protocol v2"):
    // q_dedup_ngram <= 6 s, q_dedup_embed <= 3 s,
    // q_record_linkage <= 5 s, q_cube <= 1.5 s,
    // q_topk_group <= 2x q_topk_group_native's median at sf0.1,
    // q_dedup_clusters <= 4.5 s — the r8 verdict's two named watch items
    // (linkage Σblock² growth, cube ordering rewrite), the r9 artifact's
    // one >2x mover (topk_group, A/B-resolved as host jitter — BASELINE
    // r10 "q_topk_group A/B"), and the r10 artifact's one min-level
    // mover (clusters, adjudicated as a window artifact — BASELINE r11,
    // quiet band 2.3-3.2 s, criterion set above the band's
    // window-inflated edge) are machine-tracked here so
    // every future artifact tail carries them.
    val watchQs = Seq("q_dedup_ngram", "q_dedup_embed", "q_record_linkage",
      "q_cube", "q_topk_group", "q_topk_group_native", "q_dedup_clusters")
    val watch = watchQs.flatMap(q => medMap.get(q).map(q -> _))
    val watchMin = watchQs.flatMap(q => minMap.get(q).map(q -> _))
    val failures = med.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val summaryLine = s"""{"metric":"summary","total":$total,"warmup_sec":$warmup,"window_index":$widx,"normalized_total":$normTotal,"warm":${obj(warmTimes)},"warm_assets":${obj(warmAssets)},"reps":$reps,"n_queries":${med.size},"slowest":${obj(slowest)},"watch":${obj(watch)},"watch_min":${obj(watchMin)},"failures":$failures}"""
    // Compact total line, printed as the FINAL stdout line (r7 postmortem:
    // BENCH_r07.json was parsed:null because the driver json-parses the
    // {"metric":"total"} line from its 2000-char tail, and the full line's
    // two 138-entry per-query maps are ~8 KB — they can never fit. This
    // line carries the scoring scalars only (~170 chars, always inside any
    // tail); the per-query maps live earlier on stdout and in the
    // BENCH_LOCAL.json sidecar).
    val totalLine = s"""{"metric":"total","value":$total,"unit":"sec","warmup_sec":$warmup,"window_index":$widx,"normalized_total":$normTotal,"reps":$reps,"n_queries":${med.size},"failures":$failures,"sf":"$sfDir"}"""
    // Tail hardening (r6 postmortem): BENCH_r06.json came back parsed:null
    // because teardown AFTER the summary println flooded stderr with
    // checkpoint-unpersist WARNs and the driver tails the COMBINED stream —
    // the flood evicted the summary from the 2000-char window. Defense in
    // depth, in order:
    //  1. Sidecar file first: the artifact no longer depends on tail
    //     geometry at all.
    //  2. ALL teardown (unpersist + stop) runs BEFORE the printlns, with
    //     the log level dropped to ERROR so the known-benign shutdown WARN
    //     classes (org.apache.spark.rdd locally-checkpointed warnings,
    //     executor shutdown chatter) are silenced; JVM-exit shutdown hooks
    //     inherit the ERROR level too.
    //  3. The two JSON lines print after everything Spark will ever write.
    // tools/bench_tail_check.sh pins this ordering under a forced WARN
    // flood (SPARK_GRAFT_BENCH_WARNFLOOD).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      fullLine + "\n" + summaryLine + "\n" + totalLine + "\n")
    // Append-only history (r10 verdict item 4): BENCH_LOCAL.json is
    // overwritten per run and the driver's 2000-char artifact tail
    // truncates the 138-entry per-query maps, so only ~43 queries were
    // round-over-round comparable. Every run — including the driver's
    // per-round one — appends its FULL line (median + min maps) here,
    // so the next judge can diff all queries across rounds.
    //
    // Provenance stamp (r11 verdict item 3): without it the history
    // lines were attributable only by position — one stray append and
    // every round-over-round diff silently shifts. Each line now leads
    // with {ts, commit, round, src, protocol}:
    //  - ts: wall-clock ISO-8601 UTC at append time.
    //  - commit: short HEAD of the working tree the run executed in
    //    (read from .git without shelling out; null if unresolvable).
    //    NOTE: says which commit was checked out, not that the tree was
    //    clean — mid-round local runs usually carry uncommitted work.
    //  - round: the driver exports SPARK_GRAFT_ROUND for its per-round
    //    run; builder-local runs may set it by hand; null otherwise.
    //  - src: SPARK_GRAFT_BENCH_SRC ("driver"|"close"|...), default
    //    "local" — distinguishes the scoring run from iteration runs.
    //  - protocol: the measurement protocol id, bumped only when the
    //    timing methodology changes (see the object scaladoc).
    // Schema documented in artifacts/README.md; the six pre-r12 lines
    // were backfilled positionally from BASELINE's round-11 notes.
    val ts = java.time.Instant.now().toString
    val commit = resolveGitHead().map("\"" + _ + "\"").getOrElse("null")
    val round = sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(r => scala.util.Try(r.trim.toInt).toOption)
      .map(_.toString).getOrElse("null")
    val src = sys.env.getOrElse("SPARK_GRAFT_BENCH_SRC", "local")
    val stamp = s""""ts":"$ts","commit":$commit,"round":$round,"src":"$src","protocol":"$protocolId""""
    val historyLine = "{" + stamp + "," + fullLine.drop(1)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_HISTORY.jsonl"), historyLine + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    graft.operators.TrainingData.unpersistAll()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.contains("SPARK_GRAFT_BENCH_WARNFLOOD")) {
      // Simulated late writer for the tail check: 500 WARNs at the exact
      // point teardown spam would land. Must be invisible under ERROR.
      val flood = org.slf4j.LoggerFactory.getLogger("graft.bench.flood")
      (1 to 500).foreach(i => flood.warn(s"synthetic teardown warn $i"))
    }
    spark.stop()
    println(fullLine)
    println(summaryLine)
    println(totalLine)
    // Belt-and-braces for the driver's tail parse (r8 postmortem): even if
    // some layer re-decorates stdout, mirror the compact total line to
    // stderr as the process's very last write — stderr lines carry no sbt
    // "[info] " prefix, so the combined stream still ends in parseable JSON.
    // The pause is load-bearing (r9 find): sbt pumps the forked stdout and
    // stderr through two independent threads into one combined stream, so a
    // stderr write issued immediately after the stdout flush can SPLICE
    // into the middle of a still-draining stdout line (observed once in a
    // raw no-batch tail). Child-side flush ordering cannot sequence the
    // pumps; giving the stdout pump time to drain before the mirror write
    // makes the mirror land cleanly after it, keeping BOTH tail guarantees:
    // undecorated stdout ends in totalLine, and the mirror (the process's
    // final write) is a whole line of its own.
    System.out.flush()
    Thread.sleep(500)
    System.err.println(totalLine)
    System.err.flush()
  }
}

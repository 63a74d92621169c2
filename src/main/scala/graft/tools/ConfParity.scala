package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** Differential configuration-parity harness over the full declared surface.
  *
  * At 100 TB the session that runs these operators will NOT look like the
  * local test session: AQE makes different runtime decisions, broadcast
  * thresholds flip implicit joins to shuffle joins, codegen can fall back
  * to the interpreted path under compilation limits, shuffle partition
  * counts are orders of magnitude higher, and input files split into many
  * more scan partitions. A query whose RESULT depends on any of those
  * knobs is silently partition-dependent and would produce different
  * answers on a cluster than it does under the oracle-checked local conf.
  *
  * This tool proves the surface is invariant: it renders every query's
  * result under the baseline conf (the same session shape Verify uses),
  * then re-runs all 138 queries under each perturbed arm and compares
  * canonicalized cells. Arms:
  *
  *   - nocodegen:  wholeStage off + factoryMode=NO_CODEGEN — the fully
  *                 interpreted path; proves every custom Expression's
  *                 eval() agrees with its doGenCode() in situ.
  *   - noaqe:      adaptive execution off — plan-time-only decisions.
  *   - nobcast:    autoBroadcastJoinThreshold=-1 — every implicit
  *                 broadcast becomes a shuffle join (explicit broadcast()
  *                 hints survive, as they would on a cluster).
  *   - shuffle7:   spark.sql.shuffle.partitions=7 — different (and odd)
  *                 reduce-side partitioning; catches partial-agg /
  *                 merge-order and per-partition-RNG dependence.
  *   - tinysplit:  maxPartitionBytes=64k, openCostInBytes=0 — many scan
  *                 splits per file; catches map-side partition-count
  *                 dependence (per-partition seeds, zipWithIndex shape).
  *   - sortagg:    useObjectHashAggregateExec=false — TypedImperative
  *                 aggregates (MinHashAgg, BloomAgg, BottomKAgg, ...) run
  *                 under SortAggregate: exercises their serialize/merge
  *                 path in a different grouping regime.
  *   - noansi / novecread (round 8): ANSI mode off, row-based parquet read.
  *   - casesens / maplastwin / nopushdown (round 8): case-sensitive
  *                 analysis, LAST_WIN map keys, parquet filter pushdown off.
  *
  * Queries with no oracle SQL entry (the declared approximate sketches)
  * are compared on row count + column names only — their cell values are
  * legitimately merge-order-sensitive (approx_percentile's
  * QuantileSummaries is not merge-associative in general), exactly the
  * weaker check the driver applies.
  *
  * Doubles/floats are canonicalized to 10 significant digits (%.9e = one
  * leading digit + 9 decimals) before comparison to absorb
  * associativity-of-addition drift that different partition counts
  * legitimately introduce; everything else is exact.
  *
  * Usage: runMain graft.tools.ConfParity <sfDir> [armName ...]
  */
object ConfParity {

  final case class Arm(name: String, confs: Map[String, String])

  val arms: Seq[Arm] = Seq(
    Arm("nocodegen", Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")),
    Arm("noaqe", Map("spark.sql.adaptive.enabled" -> "false")),
    Arm("nobcast", Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Arm("shuffle7", Map("spark.sql.shuffle.partitions" -> "7")),
    Arm("tinysplit", Map(
      "spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "0")),
    Arm("sortagg", Map(
      "spark.sql.execution.useObjectHashAggregateExec" -> "false")),
    // Spark 4 defaults ANSI ON; the r7 fuzz round proved ANSI kill-modes
    // existed (q_supplier divide-by-zero, q_active_users null-user day)
    // and fixed them with explicit guards. Flipping ANSI OFF proves the
    // whole surface's arithmetic is explicitly guarded rather than
    // accidentally relying on either mode's cast/division/overflow
    // semantics — on a cluster whose admins pin either value, results
    // must not move.
    Arm("noansi", Map("spark.sql.ansi.enabled" -> "false")),
    // The row-based (non-vectorized) parquet read path: different batch
    // shapes, different decoders (lazy dictionary, no columnar batches);
    // catches any dependence on the vectorized reader's null/NaN/decimal
    // decode behavior at the scan.
    Arm("novecread", Map(
      "spark.sql.parquet.enableVectorizedReader" -> "false")),
    // Round-8 arms: the remaining admin-pinnable semantics knobs.
    // Case-sensitive analysis: every identifier the operators emit must
    // resolve byte-identically (a `Value` vs `value` slip is invisible
    // under the default case-insensitive resolver but an AnalysisException
    // kill on a cluster whose admins pin caseSensitive=true).
    Arm("casesens", Map("spark.sql.caseSensitive" -> "true")),
    // Map duplicate-key policy: default EXCEPTION kills the job on a
    // duplicate map key, LAST_WIN silently rewrites the map. Zero diffs
    // proves no declared query ever constructs a duplicate-keyed map —
    // i.e. the surface's map outputs don't depend on the policy at all.
    Arm("maplastwin", Map("spark.sql.mapKeyDedupPolicy" -> "LAST_WIN")),
    // Parquet filter pushdown off: every predicate re-evaluates Spark-side
    // on unfiltered row groups. Zero diffs proves no result leans on the
    // pushed filters' parquet-level NULL/NaN comparison semantics (a
    // classic cross-layer divergence class at the scan).
    Arm("nopushdown", Map("spark.sql.parquet.filterPushdown" -> "false")),
  )

  /** Negative control, NOT in the default arm set: a session-timezone flip
    * MUST produce diffs (date_trunc / window bucketing on TimestampType is
    * session-zone-dependent) — run `ConfParity <sfDir> negctl` to prove
    * the comparator actually fires; an all-green negctl would mean the
    * harness is vacuous, not that the engine is invariant. */
  val extraArms: Seq[Arm] = Seq(
    Arm("negctl", Map("spark.sql.session.timeZone" -> "America/New_York")),
    // EXPECTED-DIFF arm, deliberately NOT in the default set: the opt-in
    // DECIMAL(38,16) money-sum lane (Cols.moneySum). The lanes agree on
    // every cell whose exact sum sits AWAY from the half-cent grid — at
    // sf0.01 that is 137/138 queries bit-identical — but 4-decimal money
    // products make a small population of cells land within ~1e-7 of a
    // half cent (measured: q_date_spine day 1995-01-16, exact sum
    // 1665422.974999999938), where the fp64 lane's answer is
    // accumulation-order luck and the decimal lane's is the
    // deterministic resolution. Running this arm and checking that every
    // diff is a one-cent flip on such a boundary cell is
    // MoneyLaneSpec's divergence-class law; a zero-diff expectation here
    // would be claiming fp64 is stable exactly where the r14 ×16 run
    // proved it is not.
    Arm("decmoney", Map("spark.graft.money.decimal" -> "true")))

  /** Render one cell deterministically; floating point at 10 significant
    * digits — %.9e is one mantissa digit before the decimal plus nine
    * after (binary64 sums differ in the last ulps across partition
    * orders — that drift is not a semantic difference). */
  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d == 0.0) "0" // fold -0.0 and 0.0
      else f"$d%.9e"
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + ":" + cell(x) }.toSeq.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Canonical sorted rendering of a whole result: columns sorted by
    * name, each row rendered, rows sorted. */
  def canon(df: DataFrame): Vector[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.head, cols.tail: _*).collect()
      .map(r => r.toSeq.map(cell).mkString("\u0001")).sorted.toVector
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val qs = SparkEntry.queries
    val sketchOnly = qs.keySet -- SparkEntry.oracleSql.keySet
    val order = qs.keys.toSeq

    // Per-arm fresh derived state: the shared cached intermediates must be
    // rebuilt UNDER the arm's conf or the arm would silently reuse
    // baseline-conf results for the cached subtrees.
    def resetDerived(): Unit = {
      graft.operators.TrainingData.unpersistAll()
      spark.catalog.clearCache()
    }

    def runAll(label: String): Map[String, Either[String, Either[(Long, Seq[String]), Vector[String]]]] = {
      resetDerived()
      order.map { name =>
        val res =
          try {
            val df = qs(name)(spark, sfDir)
            if (sketchOnly(name))
              Right(Left((df.count(), df.columns.sorted.toSeq)))
            else Right(Right(canon(df)))
          } catch {
            case NonFatal(e) =>
              Left(graft.Bench.cause(e))
          }
        name -> res
      }.toMap
    }

    val t0 = System.nanoTime()
    val base = runAll("base")
    val baseErr = base.collect { case (q, Left(e)) => s"$q: $e" }
    println(f"[confparity] base pass done in ${(System.nanoTime() - t0) / 1e9}%.1f s, errors=${baseErr.size}")
    baseErr.foreach(e => println(s"[confparity] BASE ERROR $e"))

    val results = scala.collection.mutable.LinkedHashMap[String, (Int, Int, List[String])]()
    val selected =
      if (wanted.isEmpty) arms else (arms ++ extraArms).filter(a => wanted(a.name))
    for (arm <- selected) {
      val saved = arm.confs.keys.map(k =>
        k -> spark.conf.getOption(k)).toMap
      arm.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val ta = System.nanoTime()
      val got = runAll(arm.name)
      val secs = (System.nanoTime() - ta) / 1e9
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      var ok = 0
      var diffs = List.empty[String]
      for (q <- order) (base(q), got(q)) match {
        case (Right(b), Right(g)) if b == g => ok += 1
        case (Right(Right(b)), Right(Right(g))) =>
          val onlyB = b.diff(g)
          val onlyG = g.diff(b)
          diffs ::= s"$q: ${onlyB.size}/${onlyG.size} rows differ" +
            onlyB.headOption.map(r => s"; base-only e.g. [${r.replace('\u0001', '|')}]").getOrElse("") +
            onlyG.headOption.map(r => s"; arm-only e.g. [${r.replace('\u0001', '|')}]").getOrElse("")
        case (Right(Left((nb, cb))), Right(Left((ng, cg)))) =>
          diffs ::= s"$q: sketch rows/cols differ base=($nb,$cb) arm=($ng,$cg)"
        case (Left(_), _) => // base already errored; not the arm's fault
          ok += 1
        case (_, Left(e)) => diffs ::= s"$q: arm ERROR $e"
        case _ => diffs ::= s"$q: shape mismatch"
      }
      results(arm.name) = (ok, diffs.size, diffs.reverse)
      println(f"[confparity] arm=${arm.name}%-10s ok=$ok/${order.size} diffs=${diffs.size} in $secs%.1f s")
      diffs.reverse.foreach(d => println(s"[confparity]   DIFF $d"))
    }

    resetDerived()
    spark.stop()
    val summary = results.map { case (a, (ok, nd, _)) =>
      s""""$a":{"ok":$ok,"diffs":$nd}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"confparity","sf":"$sfDir","n_queries":${order.size},"base_errors":${baseErr.size},"arms":$summary}""")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExplainMode, GenerateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}

import graft.operators._

/** Physical-plan shape assertions: the plans that pass correctness must ALSO
  * be the plans that survive a 100 TB scale-up. Each test pins a property
  * (scan pruning, pushdown, join strategy, top-k operator, partial agg,
  * codegen) that a refactor could silently regress without failing any
  * value-level test. */
class PlanShapeSpec extends SparkSpec {

  private val d = sfDir("sf0.001")

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_filter pushes its predicates into the parquet scan") {
    val p = planOf(Relational.qFilter(spark, d))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("In(o_orderstatus"), "status IN should be pushed")
    assert(p.contains("GreaterThanOrEqual(o_totalprice"), "BETWEEN should push bounds")
  }

  test("q_filter, q_str, q_csv_roundtrip and q_vecbin_roundtrip run as one job with no exchange") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    for (q <- Seq("q_filter", "q_str", "q_csv_roundtrip", "q_vecbin_roundtrip")) {
      val df = SparkEntry.queries(q)(spark, d)
      assert(!planOf(df).contains("Exchange"), s"$q:\n${planOf(df)}")
      val jobs = Bench.jobsDuring(spark)(
        df.write.format("noop").mode("overwrite").save())
      assert(jobs == 1, s"$q ran $jobs jobs")
    }
  }

  test("q_project prunes the lineitem scan to the referenced columns") {
    val p = planOf(Relational.qProject(spark, d))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_returnflag"),
      s"unreferenced column not pruned: $readSchema")
  }

  test("q_join_broadcast plans a broadcast hash join (dim never shuffles the fact)") {
    val p = planOf(Relational.qJoinBroadcast(spark, d))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_semi and q_anti stay semi/anti at the physical level") {
    assert(planOf(Relational.qSemi(spark, d)).contains("LeftSemi"))
    assert(planOf(Relational.qAnti(spark, d)).contains("LeftAnti"))
  }

  test("q_join_range is an equi-join on user_id, not a nested loop") {
    val p = planOf(Relational.qJoinRange(spark, d))
    assert(!p.contains("CartesianProduct"), "range join must not go cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join must keep the user_id equi-key")
  }

  test("q_topk plans TakeOrderedAndProject (no global sort of the input)") {
    val p = planOf(Relational.qTopk(spark, d))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_pricing does partial (map-side) then final aggregation") {
    val p = planOf(Relational.qAggPricing(spark, d))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got:\n$p")
  }

  test("q_bloom_join probes the Bloom filter BELOW the fact-side exchange") {
    // executedPlan (pre-execution) has EnsureRequirements' exchanges;
    // sparkPlan does not, so the below-the-exchange relation only exists
    // here. Text-level: the probe node (pushed into the single-bloom-row
    // broadcast join's condition) must print BELOW (deeper than, after)
    // the fact side's hashpartitioning exchange.
    val lines = Relational.qBloomJoin(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    def indent(l: String): Int = l.indexWhere(c => c.isLetter || c == '*')
    assert(lines.exists(_.contains("ShuffledHashJoin")),
      s"join must be shuffle-hash (the at-scale shape):\n${lines.mkString("\n")}")
    val ex = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(o_custkey"))
    val probe = lines.indexWhere(_.contains("graft_bloom_might_contain"))
    assert(ex >= 0 && probe > ex && indent(lines(probe)) > indent(lines(ex)),
      "bloom probe must filter fact rows before they shuffle:\n" +
        lines.mkString("\n"))
  }

  test("hygiene/analytics ops keep distributable shapes (no cartesian, no corpus window)") {
    // line dedup: rebuild via per-doc aggregate + in-row array_sort — never
    // a corpus-wide window sort, never a cartesian
    val pLine = planOf(Hygiene.qLineDedup(spark, d))
    assert(!pLine.contains("Window"), "line dedup must not window-sort the corpus")
    assert(!pLine.contains("CartesianProduct"))
    // record linkage: block keys keep the pair join equi; the bounded
    // levenshtein kernel is in the plan
    val pLink = planOf(Hygiene.qRecordLinkage(spark, d))
    assert(!pLink.contains("CartesianProduct") && !pLink.contains("BroadcastNestedLoopJoin"),
      "blocked linkage must stay an equi-join")
    assert(pLink.contains("levenshtein"), pLink.take(400))
    // incremental dedup: candidates go through the exact codegen'd verify
    val pIncr = planOf(TrainingData.qIncrementalDedup(spark, d))
    assert(pIncr.contains("sorted_intersect_count"),
      "near tier must verify candidates with the exact intersect kernel")
    assert(!pIncr.contains("CartesianProduct"))
    // basket pairs: top-20 via per-partition heaps, not a global sort
    val pBasket = planOf(Insights.qBasketPairs(spark, d))
    assert(pBasket.contains("TakeOrderedAndProject"), pBasket.take(400))
    // triangles: wedge + closure joins stay equi
    val pTri = planOf(Insights.qTriangles(spark, d))
    assert(!pTri.contains("CartesianProduct") && !pTri.contains("BroadcastNestedLoopJoin"))
    // kmv: the bottom-k typed imperative aggregate runs as partial+final
    // ObjectHashAggregate (mergeable partials — the distributable shape)
    val pKmv = planOf(Insights.qKmvDistinct(spark, d))
    assert(pKmv.contains("bottom_k") && pKmv.contains("ObjectHashAggregate"),
      pKmv.take(400))
  }

  test("q_rfm scores via broadcast cut points — no partition-less window sort") {
    // r1–r4 ran three Window.orderBy(...) ntiles = one-task sort of the
    // whole customer dim ×3 (the r4 verdict's weak component). The cut-point
    // formulation must plan ZERO window operators: one single-row percentile
    // aggregate broadcast onto a map-only scorer.
    val p = planOf(Insights.qRfm(spark, d))
    assert(!p.contains("Window"),
      s"rfm must not window-sort the customer dim:\n${p.take(600)}")
    assert(p.contains("percentile"), p.take(400))
  }

  test("q_exists_or plans an existence join (not a semi, not a row-duplicating inner)") {
    val p = planOf(Relational.qExistsOr(spark, d))
    assert(p.contains("ExistenceJoin"),
      s"EXISTS OR <pred> must carry the match bit, not filter rows:\n${p.take(600)}")
  }

  test("q_topk_group_native: partial heaps below the key exchange, final above") {
    val lines = Relational.qTopkGroupNative(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    val fin = lines.indexWhere(_.contains("TopKPerKeyFinal"))
    // search BELOW the final heap: the r15 sort barrier adds its own
    // hashpartitioning(l_orderkey, rn) exchange above it
    val ex = lines.indexWhere(
      _.contains("Exchange hashpartitioning(l_orderkey"), fin + 1)
    val part = lines.indexWhere(_.contains("TopKPerKeyPartial"))
    assert(fin >= 0 && ex > fin && part > ex,
      "expected Final → Exchange → Partial (map-side k-reduction before " +
        s"the shuffle):\n${lines.mkString("\n")}")
    // and the native result equals the window formulation row-for-row
    val native = Relational.qTopkGroupNative(spark, d).collect().toSeq
    val window = Relational.qTopkGroup(spark, d).collect().toSeq
    assert(native == window)
  }

  test("q_agg_pricing scan stays inside whole-stage codegen") {
    // AQE finalizes codegen spans only at execution: run, then inspect.
    val df = Relational.qAggPricing(spark, d)
    df.collect()
    // codegen'd operators render with the "*(n) " stage prefix
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(600))
  }

  test("similarity kernels use the native codegen expressions") {
    val pTopk = planOf(LlmPipeline.qSimTopk(spark, d))
    assert(pTopk.contains("vec_dot_f"), "native dot expression missing from plan")
    val pNgram = planOf(LlmPipeline.qDedupNgram(spark, d))
    assert(pNgram.contains("sorted_intersect_count"),
      "native intersect kernel missing from plan")
    // verify-join reduction: the candidate-id Bloom probe must sit on the
    // shingle-array side, pruning the corpus-sized table map-side (below
    // its exchange) once the verify joins are in the shuffle regime; the
    // sf0.001 fixture is under the stats gate's broadcast threshold
    assert(!pNgram.contains("graft_bloom_might_contain"),
      "stats gate must skip the probe while the array table broadcasts")
    // the gate's ON direction: with broadcasting disabled every verify
    // join is in the shuffle regime, so auto must plant the probe
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pNoBc = try planOf(LlmPipeline.qDedupNgram(spark, d)) finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(pNoBc.contains("graft_bloom_might_contain"),
      "stats gate must apply the probe once the array table cannot broadcast")
  }

  test("q_ann_ivf reads one persisted assignment table on both join sides") {
    val p = planOf(TrainingData.qAnnIvf(spark, d))
    assert(p.contains("InMemoryTableScan"),
      "probe and candidate sides must read the cached assignment, not " +
        "recompute the centroid-build + cross-join + window subtree twice")
  }

  test("q_ann_ivf centroid build is UNSUPERVISED — label never enters it") {
    // a production embedding corpus has no labels; init and each Lloyd
    // step must derive centroids from (vec_id, embedding) alone
    // the scan's ReadSchema is what the subtree actually consumes — the
    // Relation header always prints the full parquet schema
    def readSchemas(p: String): Seq[String] =
      p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val init = TrainingData.ivfInit(spark, d, TrainingData.IvfK)
    val initSchemas = readSchemas(planOf(init))
    assert(initSchemas.nonEmpty && initSchemas.forall(!_.contains("label")),
      planOf(init))
    val step = TrainingData.ivfStep(spark, d, init)
    val stepSchemas = readSchemas(planOf(step))
    assert(stepSchemas.nonEmpty && stepSchemas.forall(!_.contains("label")),
      planOf(step))
    // and the step aggregates with map-side partials, not a ranking window
    assert(!planOf(step).contains("Window"),
      "argmin assignment must not fall back to a ranking window")
  }

  test("q_supplier broadcasts the dim chain and partial-aggregates the argmin") {
    val p = planOf(Relational.qSupplier(spark, d))
    assert(p.contains("BroadcastHashJoin"), "supplier/nation/region must broadcast")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 4, // partial+final for unit-cost agg AND min(struct) argmin
      s"min(struct) argmin should aggregate with map-side partials, got:\n$p")
    assert(!p.contains("Window"), "argmin must not fall back to a ranking window")
  }

  test("q_repetition computes entirely inside the row — no shuffle before the sort") {
    // the SIGNALS need no shuffle: the ONLY hash exchange is the final-sort
    // barrier — a second one means a join/agg crept in
    val pd = planOf(CorpusFilters.qRepetition(spark, d))
    val hashEx = pd.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected exactly the sort-barrier exchange, got:\n$pd")
  }

  test("q_contamination broadcasts the bounded eval-gram side") {
    val p = planOf(CorpusFilters.qContamination(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      "eval suite grams are bounded by construction and must broadcast")
  }

  test("partitioned round-trip read prunes partitions on the lang predicate") {
    Roundtrip.qPartitionedRoundtrip(spark, d).count() // materialize the layout
    val p = planOf(Roundtrip.partitionedRead(spark, d)
      .where(org.apache.spark.sql.functions.col("lang") === "en"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"lang predicate must prune directories: $p")
  }

  test("q_join_salted keeps the salted key in the join and never goes cartesian") {
    val p = planOf(Relational.qJoinSalted(spark, d))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("salt"), "salt must be part of the join key")
  }

  test("q_cdc_apply merges base and changelog in one keyed join, never a loop") {
    val p = planOf(Analytics.qCdcApply(spark, d))
    assert(p.contains("FullOuter"), s"merge must be a full-outer keyed join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_win_range runs one window pass over one user_id shuffle") {
    val p = planOf(Windows.qWinRange(spark, d))
    assert(p.linesIterator.count(_.trim.startsWith("(")) > 0)
    val windows = p.linesIterator.count(_.contains(") Window"))
    assert(windows == 1, s"expected a single Window operator:\n$p")
    val hashEx = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash shuffle (user_id):\n$p")
  }

  test("q_zipf term frequencies aggregate partial+final before the rank window") {
    val p = planOf(CorpusFilters.qZipf(spark, d))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"tf counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_corpus_pipeline stacks all stages on exactly two hash shuffles") {
    val p = planOf(CorpusFilters.qCorpusPipeline(spark, d))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 2,
      s"quality+hash fuse into the scan; only dedup window + pack window shuffle:\n$p")
  }

  test("q_sample_stratified is map-only before its output sort") {
    val p = planOf(CorpusFilters.qSampleStratified(spark, d))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0, s"stratified sampling must not shuffle:\n$p")
  }

  test("q_gopher_gate folds every signal inside the row (no hash shuffle, no window)") {
    // the gate SIGNALS never shuffle: the ONLY hash exchange is the
    // final-sort barrier
    val pd = planOf(CorpusFilters.qGopherGate(spark, d))
    val hashEx = pd.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected exactly the sort-barrier exchange, got:\n$pd")
    assert(!pd.contains("Window"), s"gate must not need a window:\n$pd")
  }

  test("q_dsir_weight selects its feature space with a top-k, not a global window") {
    val p = planOf(CorpusFilters.qDsirWeight(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1024 selection should be a distributed top-k:\n$p")
    assert(!p.contains("Window"),
      s"no single-partition rank window allowed in the feature build:\n$p")
  }

  test("q_retention aggregates partial+final and never goes cartesian") {
    val p = planOf(Insights.qRetention(spark, d))
    assert(!p.contains("CartesianProduct"), p)
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 4, s"distinct + cohort aggs must combine map-side:\n$p")
  }

  test("q_bm25: one stats broadcast back onto the checkpointed profile, zero shuffles, top-20 via TakeOrdered") {
    val p = planOf(Insights.qBm25(spark, d))
    val bx = p.linesIterator.count(_.matches("""\(\d+\) BroadcastExchange.*"""))
    assert(bx == 1, s"df + corpus stats ride ONE single-row broadcast:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0,
      s"tf folds in-row off the per-doc profile — nothing corpus-sized " +
        s"may shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not globally sort:\n$p")
  }

  test("q_tfidf: documents by doc_id, no cached token stream, no (term, doc_id) exchange, <= 2 scans") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try LlmPipeline.qTfidf(spark, d).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val p = plan.toString
    assert(!p.contains("InMemoryTableScan"), s"no cached token asset:\n$p")
    assert("""hashpartitioning\(term#\d+, doc_id""".r.findFirstIn(p).isEmpty,
      s"the distinct (term, doc_id) merge rides the doc_id exchange:\n$p")
    assert(p.contains("hashpartitioning(doc_id"), p)
    val scans = tools.ScanAudit.perRun(plan).getOrElse("documents.parquet", 0)
    assert(scans <= 2, s"documents scanned $scans times per run:\n$p")
  }

  test("q_tfidf: the text crosses one doc_id exchange, df reuses it, and no Generate feeds n_total") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try LlmPipeline.qTfidf(spark, d).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    def onDocId(e: Exchange): Boolean = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.references.map(_.name).toSet) == Seq(Set("doc_id"))
      case _ => false
    }
    val byDoc = plan.collect { case e: ShuffleExchangeExec if onDocId(e) => e }
    assert(byDoc.size == 1 && byDoc.head.output.exists(_.name == "text"),
      s"one doc_id exchange carries the text:\n$plan")
    val reused = plan.collect { case r: ReusedExchangeExec if onDocId(r.child) => r }
    assert(reused.nonEmpty, s"df reads tf's doc_id exchange again:\n$plan")
    // the nodes that first produce n_total; a ReusedExchange is a leaf here
    val nTotal = plan.collect {
      case p if p.output.exists(_.name == "n_total") &&
        !p.children.exists(_.output.exists(_.name == "n_total")) => p
    }
    assert(nTotal.nonEmpty, plan)
    assert(nTotal.forall(_.collect { case g: GenerateExec => g }.isEmpty),
      s"n_total explodes no tokens of its own:\n$plan")
  }

  test("q_ewma runs on exactly one window (one shuffle past the daily agg)") {
    val p = planOf(Insights.qEwma(spark, d))
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(windows == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_agg_approx: one scan, KMV + exact distinct in one two-phase pipeline, <= 3 exchanges") {
    val p = planOf(Relational.qAggApprox(spark, d))
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"sketch and exact baseline must share one scan:\n$p")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    // distinct expand on (type, user), final agg on type, presentation sort
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges:\n$p")
    val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2, s"bottom-k must combine map-side:\n$p")
  }

  test("q_agg_approx_quantile: both quantile windows share one sort; final agg reuses the window partitioning") {
    val p = planOf(Relational.qAggApproxQuantile(spark, d))
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, p)
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(windows == 2, s"cumulative + total windows expected:\n$p")
    val sorts = p.linesIterator.count(_.matches("""\(\d+\) Sort.*"""))
    assert(sorts == 2, s"one sort must feed BOTH windows (+ the output sort):\n$p")
    // bin agg, window repartition on type, presentation sort — the final
    // per-type aggregate must NOT add a fourth (it is already
    // type-partitioned after the window exchange)
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 3, s"expected exactly 3 exchanges, got $exchanges:\n$p")
  }

  test("q_hll_merge: n_partials rides the merge stream — two scans total, no third pass") {
    val p = planOf(Insights.qHllMerge(spark, d))
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 2,
      s"direct pass + partial pipeline only; a third scan means the " +
        s"n_partials fold regressed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_hll_merge builds sketches as partial+final ObjectHashAggregate (mergeable partials)") {
    // both the declared KMV formulation and the native HLL one must
    // combine map-side — partial+final typed-imperative aggregates
    for (df <- Seq(Insights.qHllMerge(spark, d),
                   Insights.qHllMergeNative(spark, d))) {
      val p = planOf(df)
      val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
      assert(objAggs >= 2, s"sketches must combine map-side:\n$p")
    }
  }

  test("q_pagerank plans no cartesian product across its 5 iterations") {
    val p = planOf(Insights.qPagerank(spark, d))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_minhash: production conf flip changes sketch width, never the shuffle shape") {
    def shape(): (Int, String) = {
      val p = planOf(TrainingData.qDedupMinhash(spark, d))
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"band join must stay an equi-join:\n$p")
      (p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")), p)
    }
    val (defaultEx, defaultPlan) = shape()
    try {
      spark.conf.set("spark.graft.minhash.k", "64")
      spark.conf.set("spark.graft.minhash.r", "8")
      val (prodEx, prodPlan) = shape()
      assert(prodEx === defaultEx,
        s"k=64/r=8 must not add exchanges:\ndefault:\n$defaultPlan\nprod:\n$prodPlan")
    } finally {
      spark.conf.unset("spark.graft.minhash.k")
      spark.conf.unset("spark.graft.minhash.r")
    }
  }

  test("q_substring_dup: wins distinct per (doc_id, h)") {
    // Premise of the r16 count(1)-for-countDistinct swap: ShingleHashes
    // emits the sorted DISTINCT hash set per document, so the exploded
    // (doc_id, h) stream carries no duplicate rows — count(1) per h IS
    // the distinct-doc count. Pinned on the fixture corpus.
    import org.apache.spark.sql.functions._
    val shingles = graft.functions.ShingleHashes.shingles(spark) _
    val wins = Tables.documents(spark, d)
      .where(length(col("text")) >= 30)
      .select(col("doc_id"), explode(shingles(col("text"), 30)).as("h"))
    assert(wins.count() === wins.distinct().count(),
      "wins carries duplicate (doc_id, h) rows — the count(1) freq is unsound")
  }

  test("hygiene frequency join-backs never broadcast the corpus-linear aggregate side") {
    // r15, root-caused from the preserved ×16 grown Verify log: AQE's
    // runtime flip broadcast qSubstringDup's shingle-frequency side
    // (compressed two-long shuffle rows sat under the 10 MB adaptive
    // threshold; the deserialized HashedRelation was multi-GB) and OOMed
    // the driver load-dependently — the r14 "unreproduced transient".
    // Both frequency sides are corpus-linear (distinct shingles /
    // distinct segments), so the merge pin is the scale-safe shape at
    // EVERY factor; this test holds it against refactors. The fixture is
    // small enough that AQE WOULD broadcast without the hint, so the
    // assertion is non-vacuous at sf0.001.
    for ((name, df) <- Seq(
        "q_substring_dup" -> Hygiene.qSubstringDup(spark, d),
        "q_line_dedup" -> Hygiene.qLineDedup(spark, d))) {
      df.collect() // materialize so AQE finalizes its runtime decisions
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"$name freq join-back got broadcast:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"$name freq join-back must be a merge join:\n$p")
    }
  }
}

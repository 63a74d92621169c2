package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Cols
import graft.operators.TrainingData.CheckpointOps

/** Decision-support operators a pipeline team runs ON TOP of the curated
  * data: cohort retention, RFM segmentation, statistical anomaly flags,
  * BM25 relevance ranking, Pareto (skyline) extraction, and a fixed-point
  * graph centrality (PageRank). Each is the Spark-shaped version of a
  * classic warehouse/IR workload, declared under the same DuckDB-oracle
  * contract as everything else.
  *
  * Scale notes:
  *  - retention/anomaly: map-side-combined grouped aggregates; the only
  *    broadcast sides are bounded by the CALENDAR (weeks, days) or the
  *    event-type domain, never by the corpus.
  *  - rfm: quartiles are broadcast CUT POINTS from one single-row
  *    aggregate (exact `percentile`; swap to `approx_percentile` at a
  *    10⁹-row dim — same plan shape), scored map-only. No global window
  *    anywhere (the r1–r4 ntile formulation was the repo's one scale
  *    anti-pattern; PlanShapeSpec now pins its absence).
  *  - skyline: two-phase — local fronts per partition key (embarrassingly
  *    parallel), then one pass over the survivors, which are frontier-sized.
  *    No quadratic dominance join anywhere (the oracle IS the quadratic
  *    NOT-EXISTS formulation, as the independent check).
  *  - pagerank: rank mass flows along an edge table that is NODE-count
  *    sized after the build aggregation; each of the 5 fixed iterations is
  *    one join + one aggregate, with per-round localCheckpoint exactly like
  *    q_dedup_clusters' Pregel loop.
  */
object Insights {

  /** Weekly cohort retention over the event stream: users are cohorted by
    * the ISO week of their FIRST event; for every (cohort week, week
    * offset) cell, the number of cohort members active that week and the
    * retention fraction. The classic product-analytics matrix.
    *
    * ONE pass over the event stream: a single user-keyed aggregate
    * carries both the cohort week (min ts) and the user's distinct active
    * weeks (a calendar-bounded set — |weeks in the corpus span|, not
    * events), checkpointed as the per-user activity profile every
    * downstream derives from. The r1–r9 formulation scanned events three
    * times (firsts, distinct user-weeks, cohort sizes) and shuffled the
    * two big streams through a user-keyed self-join; cells now explode
    * off the profile directly, so the join is gone with the scans
    * (ScanAudit r10: 3 scans + 1 corpus join -> 1 scan).
    *
    * `collect_set(struct(week))` not `collect_set(week)`: a null week (a
    * corrupt null ts on the dirty corpora) must stay a real activity row
    * like the old `.distinct()` kept it, and collect_set drops bare
    * nulls while a struct holding a null field is itself non-null — the
    * q_hll_merge n_partials discipline. */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("w"))
      .groupBy(col("user_id"))
      .agg(min(col("w")).as("first_week"),
        collect_set(struct(col("w"))).as("weeks"))
      .trackedCheckpoint()
    val sizes = perUser.groupBy(col("first_week").as("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    perUser.where(col("user_id").isNotNull)
      .select(col("first_week").as("cohort_week"),
        explode(col("weeks")).as("wk"))
      .withColumn("week_offset",
        floor(datediff(col("wk.w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        Cols.r6(col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** RFM customer segmentation: per customer, days since last order
    * (anchored at the corpus max order date so the cut is reproducible),
    * order count, and total spend, each scored into value quartiles and
    * concatenated into the classic 3-digit segment code.
    *
    * Quartiles are CUT POINTS, not ntile ranks: ONE single-row aggregate
    * computes the three quartile boundaries of each metric (exact
    * `percentile` here; `approx_percentile` is the same API shape at a
    * 10⁹-row customer dim), r6-rounded for cross-engine determinism,
    * broadcast back, and each customer scores via three comparisons — a
    * map-only pass. The r1–r4 formulation ran three PARTITION-LESS ntile
    * windows, i.e. a one-task sort of the whole customer dim ×3: invisible
    * at sf0.1, a scale cliff at a real warehouse (r4 verdict's one weak
    * component). Ties at a boundary all land in the same bucket on both
    * engines (the oracle replays the identical cut-point arithmetic), so
    * no custkey tiebreak is needed. */
  def qRfm(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    // ONE orders scan: the per-customer aggregate is checkpointed
    // (customer-dim-bounded) and the corpus-max anchor derives from it —
    // max over per-customer last orders IS the corpus max — instead of
    // its own scan of orders; the quartile-cut re-read below then also
    // hits the checkpoint, not the fact table (ScanAudit r10 batch 2:
    // 2 scans -> 1)
    val per0 = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice")).as("monetary0"))
      .trackedCheckpoint()
    val anchor = per0.agg(max(col("last_order")).as("anchor"))
    val per = per0
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("anchor"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"),
        Cols.r2(col("monetary0")).as("monetary"))
    val qs = typedLit(Seq(0.25, 0.5, 0.75))
    val cuts = per.agg(
      percentile(col("recency_days"), qs).as("rc"),
      percentile(col("frequency"), qs).as("fc"),
      // NaN monetary (a NaN price anywhere in a customer's sum) is invalid
      // data: it leaves the quartile estimation (Cols.nanNull doctrine) and
      // the customer itself scores worst-bucket via the NaN > cut compare
      percentile(Cols.nanNull(col("monetary").cast("double")), qs).as("mc"))
    // ascending metric (recency: small = good) → 1 + #cuts strictly below;
    // descending (frequency/monetary: large = good) → 4 − #cuts below.
    // NULL metric (possible only on dirty input, e.g. an all-null
    // o_totalprice sum): when(m > cut).otherwise(0) scores it as the
    // bottom bucket (1 or 4). The oracle mirrors this with
    // coalesce((m > cut)::int, 0) — round-7 canonicalization; an unknown
    // metric is WORST-bucketed on both engines, not dropped from
    // segmentation.
    def above(metric: Column, cutsArr: Column): Column = (1 to 3)
      .map(i => when(metric.cast("double") >
        Cols.r6(element_at(cutsArr, i)), 1L).otherwise(0L))
      .reduce(_ + _)
    per.crossJoin(broadcast(cuts))
      .withColumn("r_score", lit(1L) + above(col("recency_days"), col("rc")))
      .withColumn("f_score", lit(4L) - above(col("frequency"), col("fc")))
      .withColumn("m_score", lit(4L) - above(col("monetary"), col("mc")))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .drop("rc", "fc", "mc")
      // r15: examined for the final-sort barrier and left unwrapped — the
      // repartition merges into the per-customer aggregate's exchange
      // (static no-op; −1.2%, OPTIMIZATION_r15.md §6), same as qPercentile
      .orderBy("o_custkey")
  }

  /** Daily-value anomaly flags per event type: day totals z-scored against
    * the type's own mean/stddev across days, |z| > 2 flagged. The shape of
    * every pipeline-health monitor (volume spikes, silent-drop days). One
    * shuffle for the daily aggregate; the per-type stats are a
    * type-domain-bounded broadcast back onto it. */
  def qAnomaly(s: SparkSession, d: String): DataFrame = {
    // |types x days|-bounded rollup with two consumers (stats, z-join) —
    // checkpointed so the raw event stream is scanned once (ScanAudit
    // r10 batch 2: 2 scans -> 1)
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("day_value"), count(lit(1)).as("n_events"))
      .trackedCheckpoint()
    val stats = daily.groupBy(col("event_type"))
      .agg(avg(graft.Cols.nanNull(col("day_value"))).as("mu"),
        stddev_samp(graft.Cols.nanNull(col("day_value"))).as("sigma"))
    daily.join(broadcast(stats), "event_type")
      .withColumn("z",
        Cols.r6((col("day_value") - col("mu")) / nullif(col("sigma"), lit(0.0))))
      .select(col("event_type"), col("day"),
        Cols.r2(col("day_value")).as("day_value"), col("n_events"),
        col("z"), (abs(col("z")) > 2.0).as("anomalous"))
      // r15: measured for the final-sort barrier, left unwrapped (paired
      // two-JVM A/B −6%: the broadcast z-score join over the
      // |types×days|-bounded rollup is ~free to re-run)
      .orderBy("event_type", "day")
  }

  /** BM25 relevance ranking of the corpus for the fixed query
    * "spark hash join" (k1 = 1.2, b = 0.75, the Robertson idf): top-20
    * docs containing at least one query term.
    *
    * The query-term set is FIXED and tiny, so tf folds in-row: one
    * map-only projection computes doc length and the three per-term
    * occurrence counts from a single `split` (no explode, no (doc, term)
    * shuffle), cached as the per-doc profile (the `bm25Profile` asset:
    * one copy per session and corpus, freed by
    * [[TrainingData.unpersistAll]], so repeated runs hold no extra
    * storage). df and the corpus
    * stats then ride ONE single-row aggregate over the profile
    * (`sum(tf > 0)` per term IS that term's document frequency), and
    * scoring is a broadcast of that row back onto the profile — in-row
    * contribs in fixed term order, r6-rounded like the shuffled sum was.
    * The r1–r9 formulation scanned documents four times (lengths, corpus
    * stats, tf, and the length join's re-scan) and shuffled the exploded
    * token stream; now the corpus is read once and nothing corpus-sized
    * shuffles at all (ScanAudit r10: 4 scans -> 1). The one exception is
    * [[graft.Tables.spreadToCores]]: a corpus that arrives in fewer
    * splits than cores is round-robined first, so the split and filters
    * run on every core. */
  def qBm25(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("spark", "hash", "join")
    def tfCol(t: String) = col(s"tf_$t")
    val perDoc = TrainingData.cached("bm25Profile", s, d) {
      spreadToCores(documents(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(Seq(col("doc_id"),
          Cols.sizeN(col("toks")).cast("double").as("dl")) ++
          qTerms.map(t =>
            Cols.sizeN(filter(col("toks"), _ === t)).as(s"tf_$t")): _*)
    }
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      qTerms.map(t =>
        sum(when(tfCol(t) > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    def idf(t: String): Column =
      log(lit(1.0) + (col("n_docs") - col(s"df_$t") + 0.5) /
        (col(s"df_$t") + 0.5))
    def contrib(t: String): Column =
      when(tfCol(t) > 0, idf(t) * (tfCol(t) * 2.2) /
        (tfCol(t) + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        qTerms.map(t => when(tfCol(t) > 0, 1L).otherwise(0L))
          .reduce(_ + _).as("n_terms"),
        Cols.r6(qTerms.map(contrib).reduce(_ + _)).as("bm25"))
      .where(col("n_terms") > 0)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  private[graft] def paretoFront(df: DataFrame, partition: Seq[Column]): DataFrame = {
    // 2D skyline in one sorted pass: order by (price asc, size desc,
    // partkey asc); a row survives iff its size strictly exceeds every
    // earlier row's (earlier = cheaper, or equal-price-bigger). Exact
    // (price, size) duplicates collapse to the min partkey by the same
    // rule.
    val ord = Seq(col("p_retailprice").asc, col("p_size").desc,
      col("p_partkey").asc)
    val w = Window.partitionBy(partition: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("runmax", max(col("p_size")).over(w))
      .where(col("runmax").isNull || col("p_size") > col("runmax"))
      .drop("runmax")
  }

  /** The GLOBAL skyline pass as a range-partitioned prefix-max scan —
    * the same sorted-pass semantics as [[paretoFront]] with an empty
    * partition, WITHOUT the partition-less window (which sorts its whole
    * input in ONE task — r10 WindowAudit's one hit). The hazard is not
    * hypothetical: the front is large exactly when the two attributes
    * trade off (big parts cost more ⇒ the whole price/size diagonal is
    * Pareto-optimal), so "frontier-sized" can approach catalog-sized on
    * a real catalog.
    *
    * Shape: a PARALLEL range sort (orderBy = range exchange +
    * per-partition sort; partition order of a range-sorted RDD is the
    * global order — the vocab/surrogate-key zipWithIndex discipline),
    * one narrow pass collecting each partition's max size (bounded
    * driver state: one long per partition), a broadcast of the
    * exclusive prefix maxima, then a per-partition scan seeded with its
    * prefix. A row survives iff its size strictly exceeds the running
    * max of every earlier row; only survivors can raise the max, so
    * updating on keep is exact. Costs one extra narrow job vs the
    * window form and keeps the worst case parallel. */
  private[graft] def paretoFrontGlobal(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val sorted = df
      .withColumn("__sz", col("p_size").cast("long"))
      .orderBy(col("p_retailprice").asc, col("p_size").desc,
        col("p_partkey").asc)
    val szIdx = sorted.schema.fieldIndex("__sz")
    // The two passes below (partition-max collect, survivor filter) must
    // see IDENTICAL partition contents — and re-evaluating `sorted.rdd`
    // re-runs the whole upstream plan, so a nondeterministic input
    // (rand/sample upstream) or a non-total sort key would let the two
    // evaluations disagree and produce silently wrong prefix maxima.
    // localCheckpoint materializes the range-sorted partitions at the
    // first job (the partition-max collect) so both passes read the same
    // blocks; a lost block then fails the job loudly (truncated lineage
    // cannot recompute) instead of recomputing into a different world.
    // The trade is one catalog-sized write to executor-local storage —
    // accepted: the alternative (re-running the sort per pass) costs the
    // same work TWICE and is only correct under a determinism
    // precondition no caller should have to prove.
    val rdd = sorted.rdd.localCheckpoint()
    val partMax: Array[Option[Long]] = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var mx: Option[Long] = None
        it.foreach { r =>
          if (!r.isNullAt(szIdx)) {
            val v = r.getLong(szIdx)
            if (mx.forall(v > _)) mx = Some(v)
          }
        }
        Iterator.single(i -> mx)
      }.collect().sortBy(_._1).map(_._2)
    // prefix(i) = max size over partitions 0..i-1 (None before the first)
    val prefix: Array[Option[Long]] = partMax
      .scanLeft(Option.empty[Long]) { (acc, cur) =>
        (acc ++ cur).reduceOption(_ max _)
      }.init
    val bc = s.sparkContext.broadcast(prefix)
    val survivors = rdd.mapPartitionsWithIndex { (i, it) =>
      var run: Option[Long] = bc.value(i)
      it.filter { r =>
        if (r.isNullAt(szIdx)) run.isEmpty // null size: window semantics
        else {
          val v = r.getLong(szIdx)
          val keep = run.forall(v > _)
          if (keep) run = Some(v)
          keep
        }
      }
    }
    s.createDataFrame(survivors, sorted.schema).drop("__sz")
  }

  /** Skyline (Pareto front) of the part catalog: parts where no other part
    * is both cheaper-or-equal AND larger-or-equal (strict somewhere) —
    * minimize p_retailprice, maximize p_size. Computed without any
    * dominance join: a local front per brand (partitioned window,
    * embarrassingly parallel — a global skyline point always survives its
    * local pass), then the same sorted-pass semantics over the survivors
    * as a range-partitioned prefix-max scan ([[paretoFrontGlobal]] —
    * never a partition-less window, which would sort the whole survivor
    * set in one task; the survivor set is catalog-sized exactly when
    * price and size trade off). The oracle is the independent quadratic
    * NOT-EXISTS formulation. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    // Dominance is undefined against a null/NaN price or a null size —
    // the skyline is declared over VALID points only (on dirty input a
    // null-priced part would otherwise "win" Spark's nulls-first sorted
    // pass while DuckDB's NOT-EXISTS drops it; round-7 fuzz caught the
    // mismatch)
    val p = part(s, d)
      .where(col("p_retailprice").isNotNull && !isnan(col("p_retailprice"))
        && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size"))
    paretoFrontGlobal(paretoFront(p, Seq(col("p_brand"))))
      .select(col("p_partkey"), col("p_brand"),
        Cols.r2(col("p_retailprice")).as("p_retailprice"), col("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  /** PageRank over the nation-level trade graph (edge src→dst = customer
    * nation → supplier nation, weighted by lineitem count; out-edge
    * fractions normalized): 5 fixed power iterations, damping 0.85,
    * uniform teleport — deterministic, so the DuckDB oracle replays the
    * identical 5 iterations as unrolled CTEs (the q_ann_ivf k-means oracle
    * precedent). The edge build reduces the fact tables to a
    * node²-bounded edge list ONCE; each iteration joins ranks to edges and
    * re-aggregates. Unlike q_dedup_clusters (whose data-dependent round
    * count forces per-round localCheckpoint), the iteration count here is
    * a FIXED 5 — plan depth is constant by construction, so the loop stays
    * lazy and Catalyst plans the whole power series as one job. */
  def qPagerank(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    val e0 = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val outw = e0.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val edges = e0.join(outw, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("outw")).as("frac"))
      .trackedCheckpoint()
    val nTot = broadcast(n.agg(count(lit(1)).cast("double").as("n_nodes")))
    var ranks = n.select(col("n_nationkey").as("node")).crossJoin(nTot)
      .withColumn("pr", lit(1.0) / col("n_nodes"))
    // r15 optimization (guide §2.4/§3.1): every per-iteration join side is
    // node-bounded BY CONSTRUCTION (ranks ≤ |nation| = 25 rows, contrib ≤
    // |nation| after the dst re-aggregation — the nation graph's node count
    // is schema-fixed, independent of SF), yet Catalyst's size estimate of
    // the iteratively grown rank plan blew past the broadcast threshold and
    // planned 9 SortMergeJoins / 21 shuffle Exchanges across the unrolled
    // power series. Broadcast pins on the bounded sides replace every
    // rank-loop SMJ with a BroadcastHashJoin: the only remaining
    // per-iteration exchange is the ≤node²-row contrib re-aggregation.
    // Plan diff: 21 shuffle Exchanges → 12, 9 SMJ → 0 BHJ
    // (plans/r15/q_pagerank_{before,after}).
    for (_ <- 1 to 5) {
      val contrib = edges
        .join(broadcast(ranks.select(col("node"), col("pr"))),
          col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("frac") * col("pr")).as("contrib"))
      ranks = ranks.select(col("node"), col("n_nodes"))
        .join(broadcast(contrib), col("node") === col("dst"), "left")
        .withColumn("pr", lit(0.15) / col("n_nodes") +
          lit(0.85) * coalesce(col("contrib"), lit(0.0)))
        .select(col("node"), col("n_nodes"), col("pr"))
    }
    ranks.join(broadcast(n), col("node") === col("n_nationkey"))
      .select(col("n_name"), Cols.r6(col("pr")).as("pagerank"))
      .orderBy("n_name")
  }

  /** Exponentially weighted moving average (α = 0.3) of each event type's
    * daily value total — the classic trend-smoothing pass of a metrics
    * pipeline. The recursion y_i = 0.7·y_{i−1} + 0.3·x_i (seeded with the
    * first day) is evaluated as an EXACT left fold over the ordered prefix
    * on BOTH engines (Spark `aggregate` HOF, DuckDB `list_reduce`, both
    * seeded with the head element), so the sequence semantics — not an
    * approximation of them — are what the hash gate checks.
    *
    * Scale: series are per-type CALENDAR series (bounded by days × types,
    * not corpus size); the windowed prefix-list is O(n²) per series, fine
    * for bounded calendars — an unbounded series would use a segmented-scan
    * formulation instead. */
  def qEwma(s: SparkSession, d: String): DataFrame = {
    // |types x days|-bounded rollup consumed twice (series + day-less
    // split) — checkpointed, one event-stream scan (ScanAudit r10
    // batch 2: 2 scans -> 1)
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("day_value"))
      .trackedCheckpoint()
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Day-less rows leave the series (same doctrine as qWinFrame since
    // round 7): their ewma is null and they never seed a fold. Within the
    // series, collect_list SKIPS null day sums (a null day contributes
    // nothing to the fold — the oracle replays that with list_filter) and
    // the CASE guard nulls the head rows of an all-null prefix, which ANSI
    // slice would otherwise reject at length −1. A NaN day sum is a VALID
    // series point and NaN-poisons the fold tail on both engines — sums
    // propagate poison, only null/day-less rows leave (the Cols.nanNull
    // doctrine applies to statistics, not running folds).
    val series = daily.where(col("day").isNotNull)
      .withColumn("xs", collect_list(col("day_value")).over(w))
      .withColumn("ewma", expr(
        "CASE WHEN size(xs) >= 1 THEN " +
          "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), " +
          "(acc, x) -> acc * 0.7 + 0.3 * x) END"))
      .select(col("event_type"), col("day"),
        Cols.r2(col("day_value")).as("day_value"), Cols.r6(col("ewma")).as("ewma"))
    val dayless = daily.where(col("day").isNull)
      .select(col("event_type"), col("day"),
        Cols.r2(col("day_value")).as("day_value"),
        lit(null).cast("double").as("ewma"))
    series.unionByName(dayless)
      // r15: measured for the final-sort barrier, left unwrapped (paired
      // two-JVM A/B −8.5%: the fold window runs over the |types×days|-
      // bounded checkpointed rollup, ~free to re-run)
      .orderBy("event_type", "day")
  }

  /** Sketch mergeability — THE property that makes approximate distinct
    * counting distributed: per-(type, day) partial sketches built
    * independently (as a 1000-executor cluster would), merged, must equal
    * what one direct pass builds. DECLARED over KMV (bottom-k) partials so
    * the DuckDB oracle replays partial build, merge, estimate AND the
    * equality flag exactly: k-min of the union of per-day bottom-k sketches
    * IS the bottom-k of the union (any overall k-minimum is among its own
    * day's k minima — pigeonhole), so `merge_lossless` compares the full
    * sketch arrays, not just estimates. The Spark-native HLL path
    * ([[qHllMergeNative]], `hll_sketch_agg`/`hll_union_agg` register
    * max-merge) is bound-tested in ScalaTest — HLL register layout is
    * engine-specific and cannot be oracle-replayed.
    *
    * Scale: the partial-build → merge shape is exactly the map/reduce split
    * a 1000-executor aggregate performs; partials are bounded k-long
    * arrays, so the merge input is n_partials·k longs regardless of data
    * size. */
  def qHllMerge(s: SparkSession, d: String): DataFrame = {
    val K = 128
    val P = 2147483647L
    val bk = graft.functions.BottomKAgg.bottomK(s) _
    def est(sk: Column): Column =
      when(size(sk) < K, size(sk).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(P.toDouble) /
          element_at(sk, K).cast("double"))
    val e = events(s, d)
      .withColumn("h", (col("user_id") * 2654435761L + 1409L) % P)
      .where(col("h").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("h"))
    val perDay = e.groupBy(col("event_type"), col("day"))
      .agg(bk(col("h"), K).as("sk"))
    // n_partials rides the SAME exploded stream as the merge (one scan,
    // one exchange): each (type, day) partial contributes its ≤ k sketch
    // elements, so distinct days on that stream = partial count. The
    // struct wrapper is load-bearing — countDistinct(day) would skip a
    // null-day partial (ts-null rows form a real group), while a struct
    // holding a null field is itself non-null and counts on both engines.
    val merged = perDay
      .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
      .groupBy(col("event_type"))
      .agg(bk(col("h"), K).as("skm"),
        countDistinct(struct(col("day"))).as("n_partials"))
    val direct = e.groupBy(col("event_type")).agg(bk(col("h"), K).as("skd"))
    direct.join(merged, Seq("event_type"))
      .select(col("event_type"),
        Cols.r2(est(col("skd"))).as("approx_direct"),
        Cols.r2(est(col("skm"))).as("approx_merged"),
        col("n_partials"),
        (col("skd") === col("skm")).as("merge_lossless"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** The Spark-native HLL++ formulation of [[qHllMerge]]: per-(type, day)
    * `hll_sketch_agg` partials merged with `hll_union_agg` vs one direct
    * pass — register max-merge is lossless, so merged == direct. Not
    * declared (sketch bytes are engine-specific); InsightsSpec pins
    * merged == direct AND both within 5% of the exact distinct count. */
  def qHllMergeNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("approx_direct"))
    val perDay = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = perDay.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_merged"),
        count(lit(1)).as("n_partials"))
    direct.join(merged, "event_type")
      .select(col("event_type"), col("approx_direct"), col("approx_merged"),
        col("n_partials"),
        (col("approx_direct") === col("approx_merged")).as("merge_lossless"))
      .orderBy("event_type")
  }

  /** Rolling engagement: per calendar day, exact DAU and trailing-7-day
    * active users (WAU-7) plus the DAU/WAU stickiness ratio. Each distinct
    * (user, day) contributes to the 7 window days it participates in —
    * explode ×7 then ONE distinct aggregate per window day; no
    * self-join-per-offset, no window over the user stream. Days are
    * clamped to the observed max so partial future windows don't appear.
    *
    * Scale: the explode multiplies the DISTINCT (user, day) stream (≪ raw
    * events) by the window length; the per-day exact distinct is one
    * shuffle. At 100 TB the same shape runs with hll partials
    * (q_hll_merge) in place of the exact distinct. */
  def qActiveUsers(s: SparkSession, d: String): DataFrame = {
    // three consumers (max-day bound, WAU explode, DAU) — checkpointed so
    // the raw event stream is scanned ONCE; the distinct (user, day)
    // activity table is exactly the asset a 100 TB engagement pipeline
    // materializes per snapshot (ScanAudit r10: 3 scans -> 1)
    val ud = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .trackedCheckpoint()
    val mx = ud.agg(max(col("day")).as("mx"))
    val wau = ud
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("day"))
      .crossJoin(broadcast(mx))
      .where(col("day") <= col("mx"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    wau.join(dau, "day")
      .select(col("day"), col("dau"), col("wau7"),
        // wau7 = countDistinct(user_id) is 0 on a day whose only activity
        // came from NULL user ids (dau counts rows, wau7 counts users) —
        // stickiness is undefined there, not an ANSI DIVIDE_BY_ZERO kill
        // (round-7 fuzz corpus caught this with null-user poison)
        Cols.r6(col("dau").cast("double") /
          nullif(col("wau7"), lit(0L))).as("stickiness"))
      // r15: sort barrier — sampling was re-running the wau-dau join
      .transform(TrainingData.sortedOutput(col("day")))
  }

  /** Winsorization (percentile clipping) per event type: values clipped to
    * the type's own [p05, p95], reporting raw vs winsorized means and the
    * clip count — the standard robust-mean cleaning pass before metric
    * aggregation. One corpus aggregate for the cut points (exact
    * interpolated percentile; swap approx_percentile at 100 TB, same API
    * shape as q_percentile), broadcast back, one re-aggregate.
    *
    * Engine boundary (BASELINE r12, found by the ×8 grown-corpus sweep):
    * `n_clipped` compares raw values against the UNROUNDED cut, and
    * exact-percentile implementations differ in ALGEBRA — Spark's
    * `percentile` computes lo + g·(hi−lo), DuckDB's `quantile_cont`
    * computes (1−g)·lo + g·hi, which are a few ULP apart even on a tie
    * run (FP non-identity: (1−g)·x + g·x ≠ x). A massive tie block
    * sitting EXACTLY at a percentile position therefore flips its
    * `value < cut` test across engines. No fixture/fuzz corpus
    * manufactures that shape (×8 row duplication does); the p05/p95
    * output columns themselves are r6-rounded and always agree.
    * Classified with the r7 engine-defined parity non-goals. */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val cuts = ev.groupBy(col("event_type"))
      .agg(expr("percentile(CASE WHEN NOT isnan(value) THEN value END, 0.05)")
          .as("p05"),
        expr("percentile(CASE WHEN NOT isnan(value) THEN value END, 0.95)")
          .as("p95"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("wv", when(col("value") < col("p05"), col("p05"))
        .when(col("value") > col("p95"), col("p95"))
        .otherwise(col("value")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.r6(first(col("p05"))).as("p05"),
        Cols.r6(first(col("p95"))).as("p95"),
        Cols.r6(avg(col("value"))).as("mean_raw"),
        Cols.r6(avg(col("wv"))).as("mean_wins"),
        sum(when(col("wv") =!= col("value"), 1L).otherwise(0L)).as("n_clipped"))
      .orderBy("event_type")
  }

  /** Incremental aggregate maintenance: the don't-rescan-history pattern a
    * daily 100 TB pipeline lives by. Yesterday's per-status STATE aggregate
    * (orders before the cutoff = max date − 30 d) is merged with today's
    * DELTA aggregate (count/sum add, min/max least/greatest) instead of
    * recomputing over all history. The oracle is the INDEPENDENT single-pass
    * recompute over everything — the hash match is the algebraic proof that
    * merge(state, delta) == recompute, which is exactly the property that
    * lets the real pipeline only scan the new partition. */
  def qIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cut = broadcast(o.agg(
      date_sub(to_date(max(col("o_orderdate"))), 30).as("cut")))
    val oc = o.crossJoin(cut)
    // ONE grouped pass splits state from delta via the cutoff flag — the
    // r1-r9 formulation aggregated each side from its own scan of orders
    // (ScanAudit r10: 3 scans -> 2; the cut date needs its own bounded
    // agg by construction). A null o_orderdate nulls the flag and falls
    // out of BOTH sides, exactly as it failed both the < and >= filters.
    // The tiny (status x 2)-row result is checkpointed so slicing it
    // twice can't re-run the pass; the full-join MERGE below is untouched
    // - it remains the algebraic merge(state, delta) == recompute proof.
    val parts = oc
      .groupBy(col("o_orderstatus"),
        (to_date(col("o_orderdate")) >= col("cut")).as("is_delta"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sp"),
        min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"))
      .trackedCheckpoint()
    val state = parts.where(!col("is_delta")).drop("is_delta")
      .toDF("o_orderstatus", "n_s", "sp_s", "mn_s", "mx_s")
    val delta = parts.where(col("is_delta")).drop("is_delta")
      .toDF("o_orderstatus", "n_d", "sp_d", "mn_d", "mx_d")
    // NULL-SAFE merge key: a USING full join matches with `=`, so a null
    // status in BOTH state and delta would emit TWO unmerged rows — the
    // incremental aggregate silently splits on any null dimension value
    // (round-7 fuzz caught it; merge(state, delta) == recompute only holds
    // under <=>).
    state.join(delta,
        state("o_orderstatus") <=> delta("o_orderstatus"), "full")
      .select(coalesce(state("o_orderstatus"), delta("o_orderstatus"))
          .as("o_orderstatus"),
        (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_total"),
        coalesce(col("n_s"), lit(0L)).as("n_state"),
        coalesce(col("n_d"), lit(0L)).as("n_delta"),
        Cols.r2(coalesce(col("sp_s"), lit(0.0)) + coalesce(col("sp_d"), lit(0.0)))
          .as("total_price"),
        Cols.epochUs(least(coalesce(col("mn_s"), col("mn_d")),
          coalesce(col("mn_d"), col("mn_s")))).as("min_date_us"),
        Cols.epochUs(greatest(coalesce(col("mx_s"), col("mx_d")),
          coalesce(col("mx_d"), col("mx_s")))).as("max_date_us"))
      .orderBy("o_orderstatus")
  }

  /** Dense surrogate-key assignment — the warehouse-load step that gives
    * every row a stable sequential id. A partition-less `row_number()`
    * window would collapse the table into ONE task; instead the table is
    * RANGE-SORTED (parallel shuffle) and ids come from `zipWithIndex`
    * (two passes over partition counts — the [[TrainingData.vocab]]
    * discipline). Partition order of a range-sorted RDD is the global
    * order, so the ids are bit-identical to the oracle's
    * `row_number() OVER (ORDER BY lang, doc_id) - 1`. */
  def qSurrogateKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sorted = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
      // NULLS LAST explicitly: Spark's default asc ordering is NULLS
      // FIRST while the oracle's row_number ORDER BY (DuckDB) is NULLS
      // LAST — a null lang would shift EVERY surrogate key by one, not
      // just its own row (no-op on the fixture, which has no null langs)
      .orderBy(col("lang").asc_nulls_last, col("doc_id"))
      .as[(Long, String, String)].rdd
    s.createDataFrame(sorted.zipWithIndex().map { case ((id, lang, src), i) =>
        (i, id, lang, src) })
      .toDF("sk", "doc_id", "lang", "source")
      .orderBy("sk")
  }

  /** Distinct (order, part) basket items — shared by the association-rule
    * and co-purchase-graph operators. */
  private def basketItems(s: SparkSession, d: String): DataFrame =
    TrainingData.cached("basketItems", s, d) {
      lineitem(s, d).select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
    }

  /** Co-purchased part pairs appearing in ≥ 2 shared orders — the edge
    * list both market-basket metrics and the co-purchase graph read. The
    * within-basket self-join is bounded by Σ basket² (baskets are order
    * line counts, single digits at any corpus size), so pair generation is
    * linear in orders — never a parts×parts product. */
  private def basketPairs(s: SparkSession, d: String): DataFrame =
    TrainingData.cached("basketPairs", s, d) {
      val it = basketItems(s, d)
      it.toDF("o", "pa")
        .join(it.toDF("o", "pb"), "o")
        .where(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
    }

  /** Market-basket association rules: top-20 co-purchased part pairs by
    * LIFT (joint support over the product of item supports), min joint
    * count 2. The first pass of a-priori, the shape recommendation
    * candidates are mined with.
    *
    * Scale: item supports are one map-side-combined aggregate; the totals
    * ride a single-row broadcast; the pair⋈support joins key on part ids
    * (vocabulary-sized — stats-broadcast here, shuffle at scale); top-20
    * via TakeOrderedAndProject, never a global sort. */
  def qBasketPairs(s: SparkSession, d: String): DataFrame = {
    val items = basketItems(s, d)
    val supp = items.groupBy(col("p")).agg(count(lit(1)).as("cs"))
    val n = items.agg(countDistinct(col("o")).as("n_orders"))
    // MERGE-PINNED support joins (r15, AqeFlipAudit): supp is a per-part
    // COUNT table — (long, long) rows, catalog-linear, the
    // compression-betrayed shape of the root-caused ×16 broadcast-OOM
    // class (BASELINE r15). supp leaves its aggregate hash-partitioned
    // on p, so each merge join re-sorts, it does not re-shuffle supp;
    // the pairs stream shuffles on pa/pb, the plan a growing part
    // catalog needs at every factor.
    basketPairs(s, d)
      .join(supp.toDF("pa", "ca").hint("merge"), "pa")
      .join(supp.toDF("pb", "cb").hint("merge"), "pb")
      .crossJoin(broadcast(n))
      .withColumn("lift", Cols.r6(col("c").cast("double") * col("n_orders") /
        (col("ca") * col("cb"))))
      .select(col("pa"), col("pb"), col("c"), col("ca"), col("cb"), col("lift"))
      .orderBy(col("lift").desc, col("pa").asc, col("pb").asc)
      .limit(20)
  }

  /** Per-node triangle counts over the co-purchase graph ([[basketPairs]]
    * edges): for every part in the graph, its degree and the number of
    * triangles through it — the local clustering signal community
    * detection starts from.
    *
    * Scale shape (Suri–Vassilvitskii): wedges are enumerated from each
    * edge's SMALLER-(degree, id) endpoint, so a hub of degree Δ
    * contributes wedges only through its low-degree neighbors — the
    * classic skew bound that keeps MapReduce triangle counting feasible;
    * wedge closure is one more equi-join against the oriented edge list,
    * and per-corner counts are an explode + aggregate. The oracle is the
    * independent unoriented 3-way self-join. */
  def qTriangles(s: SparkSession, d: String): DataFrame = {
    val und = basketPairs(s, d).select(col("pa"), col("pb"))
    val deg = und.select(col("pa").as("v"), col("pb").as("w"))
      .unionByName(und.select(col("pb").as("v"), col("pa").as("w")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient every edge from its smaller (degree, id) endpoint; the
    // oriented edge list feeds FOUR join sides below (two wedge, two
    // closure) — persist it once, exactly the asset a production triangle
    // job materializes (without it the orientation join replays 4×)
    val oriented = TrainingData.cached("orientedEdges", s, d) {
      // MERGE-PINNED degree joins (r15, AqeFlipAudit): deg is a per-node
      // COUNT table — the same extreme-compressible catalog-linear shape
      // as qBasketPairs' supp (see there; BASELINE r15 broadcast-OOM
      // class). Re-sort over reused agg partitioning, never a broadcast.
      und
        .join(deg.toDF("pa", "da").hint("merge"), "pa")
        .join(deg.toDF("pb", "db").hint("merge"), "pb")
        .select(
          when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")),
            struct(col("pa").as("src"), col("pb").as("dst")))
            .otherwise(struct(col("pb").as("src"), col("pa").as("dst"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }
    val wedges = oriented.toDF("ctr", "x")
      .join(oriented.toDF("ctr", "y"), "ctr")
      .where(col("x") < col("y"))
    // close each wedge: (x, y) must be an edge in either orientation —
    // and the symmetric closure of the oriented list filtered back to
    // x < y is by construction exactly the undirected pa < pb pair set,
    // so the closure side reads `und` directly (one union, one filter
    // and two re-reads of the oriented cache dropped from the plan)
    val closing = und.toDF("x", "y")
    val tris = wedges.join(closing, Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("ctr"), col("x"), col("y"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    // same class: perNode is a per-node triangle-COUNT table
    deg.join(perNode.hint("merge"), Seq("v"), "left")
      .select(col("v").as("part"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .transform(TrainingData.sortedOutput(col("part")))
  }

  /** Hop-bounded BFS (shortest hop distance) over the co-purchase graph
    * from its smallest part id — completes the graph tier
    * (degree/triangles/PageRank/connected-components) with the PATH
    * primitive. Frontier discipline: each round expands ONLY last round's
    * newly-visited nodes (frontier ⋈ edges, distinct, anti-join against
    * visited), so per-round work is frontier×degree, never
    * visited×degree; rounds are bounded by the hop cap (8);
    * localCheckpoint truncates the per-round lineage exactly like the
    * q_dedup_clusters Pregel loop. At 100 TB the visited anti-join is the
    * shape to watch — it shuffles on node id and can carry a Bloom
    * pre-filter (q_bloom_join's kernel) once the visited set dwarfs the
    * frontier. The oracle replays the same reach with a hop-bounded
    * recursive CTE.
    *
    * Fixture note: the co-purchase graph's density is SF-dependent (pair
    * counts grow linearly with orders while the part-pair space grows
    * quadratically with parts), so the gate SF (0.01: avg degree ≈ 3.4)
    * sits ABOVE the percolation threshold — a 1 830-node giant component,
    * 8 hops deep — while sf0.1 (avg degree ≈ 0.36) fragments into tiny
    * components; both reaches hash-match the oracle. */
  def qBfs(s: SparkSession, d: String): DataFrame = {
    val und = basketPairs(s, d).select(col("pa"), col("pb"))
    val edges = und.select(col("pa").as("a"), col("pb").as("b"))
      .unionByName(und.select(col("pb").as("a"), col("pa").as("b")))
      .trackedCheckpoint()
    // one bounded scalar (the deterministic source node), not a data pull;
    // an edgeless graph (possible at tiny SFs / filtered corpora) has no
    // source and yields the empty reach rather than an NPE
    val srcRow = und.agg(min(col("pa"))).head()
    if (srcRow.isNullAt(0))
      return s.range(0).select(col("id").as("part"), col("id").as("dist"))
    val src = srcRow.getLong(0)
    var visited = s.range(1)
      .select(lit(src).as("node"), lit(0L).as("dist")).trackedCheckpoint()
    var frontier = visited
    var hop = 0L
    while (hop < 8 && !frontier.isEmpty) {
      hop += 1
      val next = frontier.join(edges, frontier("node") === edges("a"))
        .select(col("b").as("node")).distinct()
        .join(visited.select(col("node").as("v")),
          col("node") === col("v"), "left_anti")
        .withColumn("dist", lit(hop))
        .trackedCheckpoint()
      visited = visited.unionByName(next).trackedCheckpoint()
      frontier = next
    }
    visited.select(col("node").as("part"), col("dist")).orderBy("part")
  }

  /** Event-type transition matrix (first-order Markov): per user the event
    * stream in (ts, event_id) order, counting each consecutive
    * (from → to) hop, then P(to | from) per source type. The
    * session-flow / next-action model product analytics fits.
    *
    * Scale: ONE window pass partitioned by user (per-user streams are
    * bounded), one map-side-combined aggregate over a |types|² matrix,
    * and the per-source totals ride the same vocabulary-sized aggregate —
    * no corpus-sized sort anywhere. */
  def qTransitionMatrix(s: SparkSession, d: String): DataFrame = {
    // ts NULLS LAST explicitly (DuckDB window default; Spark's is NULLS
    // FIRST) so a null-timestamp event yields the same hop pairs on both
    // engines — no-op on the fixture, which has no null timestamps
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id"))
    val hops = events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("from_type"))
    hops
      .withColumn("p", Cols.r6(col("n").cast("double") /
        sum(col("n")).over(tot)))
      .orderBy("from_type", "to_type")
  }

  /** KMV (bottom-k) distinct-count sketch, k = 128, over user-day activity
    * keys per event type, plus the merged ALL row — the deterministic
    * counterpart to [[qHllMerge]]: bottom-k state is a pure function of
    * the value SET (order/partitioning independent), so unlike HLL the
    * sketch, its merge, AND the resulting estimate replay exactly in the
    * DuckDB oracle (row_number over the same affine hash). Per scope:
    * exact distinct, sketch size, the (k−1)·P/u_k estimate, and the
    * relative error the k=128 sketch actually achieved.
    *
    * The hash is the MinHashAgg-style affine family over a compact
    * (user, day) key — small-integer domain by fixture construction, so
    * no overflow under ANSI on either engine; a 100 TB id space would
    * swap in a 64-bit mixer (same kernel, different column expression).
    *
    * Scale: one map-side-combined pass builds every per-type sketch
    * (bounded k-long state per group — the roll-up-able asset); the ALL
    * row merges the per-type SKETCHES through the same kernel (k-min of
    * sketch unions = k-min of the union — mergeability is the point);
    * the exact countDistinct columns exist only as the verification
    * baseline. */
  def qKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val K = 128
    val P = 2147483647L
    val bk = graft.functions.BottomKAgg.bottomK(s) _
    val e = events(s, d).select(col("event_type"),
      (col("user_id") * 131072L +
        floor(Cols.epochUs(col("ts")) / lit(86400000000L))).as("key"))
      // Knuth multiplicative scrambling: key·2654435761 spans ~2²³ multiples
      // of P before the fold, so arithmetic-progression keys (user·2¹⁷+day)
      // land uniformly; a small multiplier would fold too few segments and
      // clump the bottom of the hash space (measured: 44% estimate error on
      // the ALL row with a·key for a ≈ 3000, vs ≤ 11% ≈ 1.3σ here)
      .withColumn("h", (col("key") * 2654435761L + 1409L) % P)
    // perType feeds BOTH the ALL-row sketch merge and the final union —
    // persist it so the events aggregate runs once, not twice (the ALL
    // row's exact count is the one remaining full pass; it cannot derive
    // from per-type exacts, since a key can appear under several types)
    val perType = TrainingData.cached("kmvPerType", s, d) {
      e.groupBy(col("event_type").as("scope"))
        .agg(bk(col("h"), K).as("sk"), countDistinct(col("key")).as("exact"))
    }
    val allRow = perType.select(explode(col("sk")).as("h"))
      .agg(bk(col("h"), K).as("sk"))
      .crossJoin(broadcast(e.agg(countDistinct(col("key")).as("exact"))))
      .select(lit("ALL").as("scope"), col("sk"), col("exact"))
    val est = when(size(col("sk")) < K, size(col("sk")).cast("double"))
      .otherwise(lit((K - 1).toDouble) * lit(P.toDouble) /
        element_at(col("sk"), K).cast("double"))
    // ORDER on (is_all, raw scope): a data event_type literally equal to
    // 'ALL' renders identically to the merged grand row; sorting on the
    // rendered string alone would tie there and de-totalize row order
    // (r8 fuzz 'ALL'-injection axis). The marker is sort-only, not output.
    perType.withColumn("is_all", lit(0))
      .unionByName(allRow.withColumn("is_all", lit(1)))
      .withColumn("e", est)
      .select(col("is_all"), col("scope"), col("exact").as("exact_distinct"),
        size(col("sk")).cast("long").as("sketch_size"),
        Cols.r2(col("e")).as("est_distinct"),
        // an empty scope (the ALL row of an empty feed) has exact = est = 0;
        // its relative error is 0 by definition, not a division by zero
        Cols.r6(when(col("exact") === 0, lit(0.0))
          .otherwise(abs(col("e") - col("exact")) / col("exact"))).as("rel_err"))
      .orderBy(col("is_all"), col("scope").asc_nulls_first)
      .drop("is_all")
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_retention" -> (qRetention _),
    "q_rfm"       -> (qRfm _),
    "q_anomaly"   -> (qAnomaly _),
    "q_bm25"      -> (qBm25 _),
    "q_skyline"   -> (qSkyline _),
    "q_pagerank"  -> (qPagerank _),
    "q_ewma"      -> (qEwma _),
    "q_hll_merge" -> (qHllMerge _),
    "q_active_users" -> (qActiveUsers _),
    "q_winsorize" -> (qWinsorize _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_surrogate_key" -> (qSurrogateKey _),
    "q_basket_pairs" -> (qBasketPairs _),
    "q_triangles" -> (qTriangles _),
    "q_transition_matrix" -> (qTransitionMatrix _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_bfs" -> (qBfs _))

  val oracles: ListMap[String, String] = ListMap(
    "q_hll_merge" ->
      """WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    (user_id*2654435761 + 1409) % 2147483647 AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |hh AS (SELECT DISTINCT event_type, h FROM e),
        |rd AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |        count(*) OVER (PARTITION BY event_type) AS nd
        |       FROM hh),
        |skd AS (SELECT event_type, list(h ORDER BY h) AS skd,
        |          max(nd) AS nd, max(CASE WHEN rk = 128 THEN h END) AS u_k
        |        FROM rd WHERE rk <= 128 GROUP BY 1),
        |hpd AS (SELECT DISTINCT event_type, day, h FROM e),
        |rpd AS (SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rk
        |        FROM hpd),
        |mh AS (SELECT DISTINCT event_type, h FROM rpd WHERE rk <= 128),
        |rm AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |        count(*) OVER (PARTITION BY event_type) AS nd
        |       FROM mh),
        |skm AS (SELECT event_type, list(h ORDER BY h) AS skm,
        |          max(nd) AS nd, max(CASE WHEN rk = 128 THEN h END) AS u_k
        |        FROM rm WHERE rk <= 128 GROUP BY 1),
        |np AS (SELECT event_type, count(*) AS n_partials FROM
        |         (SELECT DISTINCT event_type, day FROM e) GROUP BY 1)
        |SELECT d.event_type,
        |  floor((CASE WHEN d.nd < 128 THEN CAST(d.nd AS DOUBLE)
        |         ELSE 127.0 * 2147483647.0 / d.u_k END) * 100.0 + 0.5) / 100.0
        |    AS approx_direct,
        |  floor((CASE WHEN m.nd < 128 THEN CAST(m.nd AS DOUBLE)
        |         ELSE 127.0 * 2147483647.0 / m.u_k END) * 100.0 + 0.5) / 100.0
        |    AS approx_merged,
        |  np.n_partials,
        |  (d.skd = m.skm) AS merge_lossless
        |FROM skd d JOIN skm m ON d.event_type = m.event_type
        |  JOIN np ON np.event_type = d.event_type
        |ORDER BY d.event_type NULLS FIRST""".stripMargin,
    "q_bfs" ->
      """WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ee AS (SELECT pa AS a, pb AS b FROM e
        |  UNION ALL SELECT pb, pa FROM e),
        |src AS (SELECT min(pa) AS s FROM e),
        |walk(node, dist) AS (
        |  SELECT s, 0 FROM src WHERE s IS NOT NULL
        |  UNION
        |  SELECT ee.b, walk.dist + 1 FROM walk JOIN ee ON ee.a = walk.node
        |  WHERE walk.dist < 8)
        |SELECT node AS part, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kmv_distinct" ->
      """WITH e0 AS (SELECT event_type, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |e AS (SELECT event_type,
        |    user_id * 131072 +
        |      (us - ((us % 86400000000) + 86400000000) % 86400000000)
        |        // 86400000000 AS key
        |  FROM e0),
        |hh AS (SELECT DISTINCT event_type,
        |         (key*2654435761 + 1409) % 2147483647 AS h
        |       FROM e),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |        count(h) OVER (PARTITION BY event_type) AS nd
        |      FROM hh),
        |ex AS (SELECT event_type, count(DISTINCT key) AS exact FROM e GROUP BY 1),
        |sk AS (SELECT event_type, max(CASE WHEN rk = 128 THEN h END) AS u_k,
        |         CAST(least(max(nd), 128) AS BIGINT) AS sketch_size,
        |         max(nd) AS nd
        |       FROM r GROUP BY 1),
        |per AS (SELECT sk.event_type AS scope, ex.exact, sk.sketch_size,
        |          CASE WHEN sk.nd < 128 THEN CAST(sk.nd AS DOUBLE)
        |               ELSE 127.0 * 2147483647.0 / u_k END AS e
        |        FROM sk JOIN ex
        |          ON sk.event_type IS NOT DISTINCT FROM ex.event_type),
        |uh AS (SELECT DISTINCT h FROM r WHERE rk <= 128 AND h IS NOT NULL),
        |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rk,
        |         count(*) OVER () AS nd FROM uh),
        |uall AS (SELECT 'ALL' AS scope,
        |           (SELECT count(DISTINCT key) FROM e) AS exact,
        |           CAST(least(coalesce(max(nd), 0), 128) AS BIGINT)
        |             AS sketch_size,
        |           CASE WHEN coalesce(max(nd), 0) < 128
        |                THEN CAST(coalesce(max(nd), 0) AS DOUBLE)
        |                ELSE 127.0 * 2147483647.0
        |                  / max(CASE WHEN rk = 128 THEN h END) END AS e
        |         FROM ur),
        |u AS (SELECT 0 AS is_all, * FROM per
        |      UNION ALL SELECT 1, * FROM uall)
        |SELECT scope, exact AS exact_distinct, sketch_size,
        |  floor(e * 100.0 + 0.5) / 100.0 AS est_distinct,
        |  CASE WHEN exact = 0 THEN 0.0
        |       ELSE floor((abs(e - exact) / exact) * 1000000.0 + 0.5) / 1000000.0
        |  END AS rel_err
        |FROM u ORDER BY is_all, scope NULLS FIRST""".stripMargin,
    "q_basket_pairs" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM it),
        |supp AS (SELECT p, CAST(count(*) AS BIGINT) AS cs FROM it GROUP BY 1),
        |pairs AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, c, sa.cs AS ca, sb.cs AS cb,
        |  floor((c * 1.0 * n_orders / (sa.cs * sb.cs)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS lift
        |FROM pairs JOIN supp sa ON sa.p = pa JOIN supp sb ON sb.p = pb
        |CROSS JOIN n
        |ORDER BY lift DESC, pa ASC, pb ASC LIMIT 20""".stripMargin,
    "q_triangles" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS pa, b.p AS pb
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
        |tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        |  FROM e e1 JOIN e e2 ON e2.pa = e1.pb
        |    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |t AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM corners GROUP BY 1)
        |SELECT deg.v AS part, degree,
        |  coalesce(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
        |FROM deg LEFT JOIN t ON deg.v = t.v ORDER BY part""".stripMargin,
    "q_transition_matrix" ->
      """WITH h AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM h WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  floor((n * 1.0 / sum(n) OVER (PARTITION BY from_type))
        |    * 1000000.0 + 0.5) / 1000000.0 AS p
        |FROM c ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""".stripMargin,
    "q_surrogate_key" ->
      """SELECT CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT)
        |    AS sk,
        |  doc_id, lang, source
        |FROM documents ORDER BY sk""".stripMargin,
    "q_incremental_agg" ->
      """WITH cut AS (SELECT CAST(max(o_orderdate) AS DATE) - 30 AS cut
        |             FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_state,
        |  CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) >= cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_delta,
        |  floor(sum(o_totalprice)*100.0 + 0.5)/100.0 AS total_price,
        |  epoch_us(min(o_orderdate)) AS min_date_us,
        |  epoch_us(max(o_orderdate)) AS max_date_us
        |FROM orders, cut
        |WHERE o_orderdate IS NOT NULL
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus NULLS FIRST""".stripMargin,
    "q_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |              CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |mx AS (SELECT max(day) AS mx FROM ud),
        |c AS (SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day2
        |      FROM ud, unnest(range(0, 7)) r(i)),
        |w AS (SELECT day2 AS day, CAST(count(DISTINCT user_id) AS BIGINT)
        |        AS wau7
        |      FROM c, mx WHERE day2 <= mx.mx GROUP BY 1),
        |dd AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
        |SELECT w.day, dd.dau, w.wau7,
        |  floor((dd.dau*1.0/nullif(w.wau7, 0))*1000000.0 + 0.5)/1000000.0
        |    AS stickiness
        |FROM w JOIN dd USING (day) ORDER BY day""".stripMargin,
    "q_winsorize" ->
      """WITH cuts AS (
        |  SELECT event_type,
        |    quantile_cont(CASE WHEN NOT isnan(value) THEN value END, 0.05)
        |      AS p05,
        |    quantile_cont(CASE WHEN NOT isnan(value) THEN value END, 0.95)
        |      AS p95
        |  FROM events GROUP BY 1),
        |w AS (SELECT e.event_type, e.value, c.p05, c.p95,
        |        CASE WHEN e.value < c.p05 THEN c.p05
        |             WHEN e.value > c.p95 THEN c.p95
        |             ELSE e.value END AS wv
        |      FROM events e JOIN cuts c USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  floor(min(p05)*1000000.0 + 0.5)/1000000.0 AS p05,
        |  floor(min(p95)*1000000.0 + 0.5)/1000000.0 AS p95,
        |  floor(avg(value)*1000000.0 + 0.5)/1000000.0 AS mean_raw,
        |  floor(avg(wv)*1000000.0 + 0.5)/1000000.0 AS mean_wins,
        |  CAST(sum(CASE WHEN wv <> value THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped
        |FROM w GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    sum(value) AS day_value
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, day_value,
        |    list_filter(list(CAST(day_value AS DOUBLE)) OVER (
        |        PARTITION BY event_type
        |        ORDER BY day ROWS UNBOUNDED PRECEDING),
        |      x -> x IS NOT NULL) AS xs
        |  FROM daily WHERE day IS NOT NULL)
        |SELECT event_type, day,
        |  floor(day_value*100.0 + 0.5)/100.0 AS day_value,
        |  CASE WHEN len(xs) >= 1 THEN
        |    floor(list_reduce(xs, (a, x) -> a*0.7 + 0.3*x)*1000000.0 + 0.5)
        |      /1000000.0 END AS ewma
        |FROM l
        |UNION ALL
        |SELECT event_type, day, floor(day_value*100.0 + 0.5)/100.0,
        |  CAST(NULL AS DOUBLE)
        |FROM daily WHERE day IS NULL
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
        |        AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |        CAST(date_trunc('week', ts) AS DATE) AS week FROM e),
        |cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM f GROUP BY 1),
        |g AS (SELECT f.cohort_week,
        |        CAST(floor(date_diff('day', f.cohort_week, a.week) / 7.0)
        |          AS BIGINT) AS week_offset,
        |        CAST(count(*) AS BIGINT) AS n_active
        |      FROM a JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT g.cohort_week, g.week_offset, g.n_active, cs.cohort_size,
        |  floor((g.n_active*1.0/cs.cohort_size)*1000000.0 + 0.5)/1000000.0
        |    AS retention
        |FROM g JOIN cs USING (cohort_week)
        |ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST""".stripMargin,
    "q_rfm" ->
      """WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor
        |                FROM orders),
        |per AS (SELECT o_custkey,
        |          max(CAST(o_orderdate AS DATE)) AS last_order,
        |          CAST(count(*) AS BIGINT) AS frequency,
        |          floor(sum(o_totalprice)*100.0 + 0.5)/100.0 AS monetary
        |        FROM orders GROUP BY 1),
        |m AS (SELECT o_custkey,
        |        CAST(date_diff('day', last_order, anchor) AS BIGINT)
        |          AS recency_days,
        |        frequency, monetary
        |      FROM per CROSS JOIN anchor),
        |cuts AS (SELECT
        |    floor(quantile_cont(recency_days, 0.25)*1000000.0 + 0.5)/1000000.0 AS r1,
        |    floor(quantile_cont(recency_days, 0.50)*1000000.0 + 0.5)/1000000.0 AS r2,
        |    floor(quantile_cont(recency_days, 0.75)*1000000.0 + 0.5)/1000000.0 AS r3,
        |    floor(quantile_cont(frequency, 0.25)*1000000.0 + 0.5)/1000000.0 AS f1,
        |    floor(quantile_cont(frequency, 0.50)*1000000.0 + 0.5)/1000000.0 AS f2,
        |    floor(quantile_cont(frequency, 0.75)*1000000.0 + 0.5)/1000000.0 AS f3,
        |    floor(quantile_cont(CASE WHEN NOT isnan(monetary) THEN CAST(monetary AS DOUBLE) END, 0.25)*1000000.0 + 0.5)/1000000.0 AS m1,
        |    floor(quantile_cont(CASE WHEN NOT isnan(monetary) THEN CAST(monetary AS DOUBLE) END, 0.50)*1000000.0 + 0.5)/1000000.0 AS m2,
        |    floor(quantile_cont(CASE WHEN NOT isnan(monetary) THEN CAST(monetary AS DOUBLE) END, 0.75)*1000000.0 + 0.5)/1000000.0 AS m3
        |  FROM m),
        |scored AS (SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(1 + coalesce((recency_days > r1)::int, 0)
        |           + coalesce((recency_days > r2)::int, 0)
        |           + coalesce((recency_days > r3)::int, 0) AS BIGINT) AS r_score,
        |    CAST(4 - coalesce((frequency > f1)::int, 0)
        |           - coalesce((frequency > f2)::int, 0)
        |           - coalesce((frequency > f3)::int, 0) AS BIGINT) AS f_score,
        |    CAST(4 - coalesce((monetary > m1)::int, 0)
        |           - coalesce((monetary > m2)::int, 0)
        |           - coalesce((monetary > m3)::int, 0) AS BIGINT) AS m_score
        |  FROM m CROSS JOIN cuts)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM scored ORDER BY o_custkey NULLS FIRST""".stripMargin,
    "q_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    sum(value) AS day_value, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |         avg(CASE WHEN NOT isnan(day_value) THEN day_value END) AS mu,
        |         stddev_samp(CASE WHEN NOT isnan(day_value) THEN day_value END)
        |           AS sigma
        |       FROM daily GROUP BY 1),
        |z AS (SELECT d.event_type, d.day,
        |        floor(d.day_value*100.0 + 0.5)/100.0 AS day_value, d.n_events,
        |        floor(((d.day_value - st.mu) / nullif(st.sigma, 0.0))
        |          *1000000.0 + 0.5)/1000000.0 AS z
        |      FROM daily d JOIN st USING (event_type))
        |SELECT event_type, day, day_value, n_events, z,
        |  (abs(z) > 2.0) AS anomalous
        |FROM z ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_bm25" ->
      """WITH dl AS (SELECT doc_id,
        |              CAST(len(string_split(text,' ')) AS DOUBLE) AS dl
        |            FROM documents),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |      FROM dl),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
        |         SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |         FROM documents)
        |       WHERE tok IN ('spark','hash','join') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  floor(sum(ln(1.0 + (c.n_docs - df.df + 0.5)/(df.df + 0.5))
        |    * (tf.tf * 2.2)
        |    / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/c.avgdl)))*1000000.0 + 0.5)
        |    /1000000.0 AS bm25
        |FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN c
        |GROUP BY tf.doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q_skyline" ->
      """WITH vp AS (SELECT p_partkey, p_brand, p_retailprice, p_size
        |  FROM part
        |  WHERE p_retailprice IS NOT NULL AND NOT isnan(p_retailprice)
        |    AND p_size IS NOT NULL)
        |SELECT p.p_partkey, p.p_brand,
        |  floor(p.p_retailprice*100.0 + 0.5)/100.0 AS p_retailprice, p.p_size
        |FROM vp p
        |WHERE NOT EXISTS (SELECT 1 FROM vp q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |AND p.p_partkey = (SELECT min(q2.p_partkey) FROM vp q2
        |  WHERE q2.p_retailprice = p.p_retailprice AND q2.p_size = p.p_size)
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    "q_pagerank" ->
      """WITH e0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |              CAST(count(*) AS BIGINT) AS w
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey
        |            JOIN customer c ON o.o_custkey = c.c_custkey
        |            JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |            GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY 1),
        |e AS (SELECT e0.src, e0.dst, e0.w*1.0/ow.outw AS frac
        |      FROM e0 JOIN ow USING (src)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nation),
        |r0 AS (SELECT n_nationkey AS node, 1.0/nn.n_nodes AS pr
        |       FROM nation, nn),
        |c1 AS (SELECT e.dst AS node, sum(e.frac * r0.pr) AS contrib
        |       FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT r0.node,
        |         0.15/nn.n_nodes + 0.85*coalesce(c1.contrib, 0.0) AS pr
        |       FROM r0 LEFT JOIN c1 USING (node), nn),
        |c2 AS (SELECT e.dst AS node, sum(e.frac * r1.pr) AS contrib
        |       FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT r1.node,
        |         0.15/nn.n_nodes + 0.85*coalesce(c2.contrib, 0.0) AS pr
        |       FROM r1 LEFT JOIN c2 USING (node), nn),
        |c3 AS (SELECT e.dst AS node, sum(e.frac * r2.pr) AS contrib
        |       FROM e JOIN r2 ON e.src = r2.node GROUP BY 1),
        |r3 AS (SELECT r2.node,
        |         0.15/nn.n_nodes + 0.85*coalesce(c3.contrib, 0.0) AS pr
        |       FROM r2 LEFT JOIN c3 USING (node), nn),
        |c4 AS (SELECT e.dst AS node, sum(e.frac * r3.pr) AS contrib
        |       FROM e JOIN r3 ON e.src = r3.node GROUP BY 1),
        |r4 AS (SELECT r3.node,
        |         0.15/nn.n_nodes + 0.85*coalesce(c4.contrib, 0.0) AS pr
        |       FROM r3 LEFT JOIN c4 USING (node), nn),
        |c5 AS (SELECT e.dst AS node, sum(e.frac * r4.pr) AS contrib
        |       FROM e JOIN r4 ON e.src = r4.node GROUP BY 1),
        |r5 AS (SELECT r4.node,
        |         0.15/nn.n_nodes + 0.85*coalesce(c5.contrib, 0.0) AS pr
        |       FROM r4 LEFT JOIN c5 USING (node), nn)
        |SELECT n.n_name,
        |  floor(r5.pr*1000000.0 + 0.5)/1000000.0 AS pagerank
        |FROM r5 JOIN nation n ON r5.node = n.n_nationkey
        |ORDER BY n.n_name""".stripMargin)
}

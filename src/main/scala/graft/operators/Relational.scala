package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.{Cols, OracleDsl}

/** Relational core: projection/filter (SURVEY §2.2), joins (§2.3),
  * aggregations (§2.4), sorts/top-k (§2.6), set ops (§2.7).
  *
  * Conventions shared by every declared query (SURVEY §2 determinism box):
  *  - total ORDER BY with a unique tiebreak key;
  *  - double aggregates rounded via the shared-formula helpers Cols.r2/r6
  *    (see Cols.scala for why not `round`);
  *  - counts/ranks emitted as BIGINT on both engines;
  *  - instants emitted as epoch-microsecond BIGINT (`unix_micros` ↔ DuckDB
  *    `epoch_us`) so timestamp-timezone representation can never diverge.
  *
  * Scale notes are attached per-query: every join states its intended
  * physical strategy (broadcast vs shuffle) for the 1000-executor case.
  */
object Relational {

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---- §2.2 projection / filter -------------------------------------------

  /** Row-level derived columns; expression-only, no shuffle at any scale. */
  def qProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      Cols.r2(revenue).as("revenue"),
      Cols.r2(revenue * (lit(1.0) + col("l_tax"))).as("charge"),
      Cols.r2(col("l_quantity") * col("l_extendedprice")).as("gross"))
      .transform(orderedRows(col("l_orderkey"), col("l_linenumber")))

  /** Conjunctive/disjunctive predicates, BETWEEN, IN, LIKE — all pushed to
    * the parquet scan by Catalyst (verify via PushedFilters in explain). */
  def qFilter(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O")
        && col("o_totalprice").between(50000.0, 200000.0)
        && (col("o_orderpriority").like("1-%") || col("o_orderpriority").like("2-%")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .transform(orderedRows(col("o_orderkey")))

  // ---- §2.3 joins ----------------------------------------------------------

  /** Fact ⋈ dim as a broadcast-hash join — picked by STATS, not a pinned
    * hint (r11, extending the r10 verdict's customer/embeddings finding
    * to every SF-scaled table): `part` is 200k rows × SF, so it grows
    * with the catalog exactly like customer does, and a forced hint
    * cannot degrade. At every fixture SF stats choose the same
    * BroadcastHashJoin the hint forced (part ≪ the 10 MB threshold —
    * the operator still demonstrates the broadcast plan); past the
    * threshold the join degrades to a shuffle instead of an OOM. */
  def qJoinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val p  = part(s, d)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(Cols.moneySum(revenue).as("brand_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Fact ⋈ fact: shuffle (sort-merge) on the join key; both sides hash-
    * partition on l_orderkey/o_orderkey, AQE coalesces post-shuffle. */
  def qJoinShuffle(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val o  = orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Cols.moneySum(revenue).as("priority_revenue"))
      .orderBy("o_orderpriority")
  }

  /** Star join chain: orders ⋈ customer ⋈ nation ⋈ region. Nation and
    * region are hint-broadcast — bounded BY CONSTRUCTION (25/5 rows at
    * any SF), the snowflaked dim tail collapses into map-side lookups.
    * Customer is UNHINTED (r10 verdict): it is 150k rows × SF and grows
    * with the business, and a pinned broadcast cannot degrade — stats
    * broadcast it while it fits (they do at every fixture SF — same
    * plan as the hinted form) and shuffle on o_custkey past the
    * threshold. */
  def qJoinMulti(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = customer(s, d)
    val n = nation(s, d)
    val r = region(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        Cols.moneySum(col("o_totalprice")).as("nation_revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Left outer join with null-extension, aggregated per left row. */
  def qJoinLeft(s: SparkSession, d: String): DataFrame = {
    val o  = orders(s, d)
    val li = lineitem(s, d)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("n_items"),
        Cols.r2(coalesce(sum(col("l_quantity")), lit(0.0))).as("total_qty"))
      .orderBy("o_orderkey")
  }

  /** Left semi = EXISTS. Only the key column of the right side moves. */
  def qSemi(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .transform(orderedRows(col("c_custkey")))
  }

  /** Left anti = NOT EXISTS. Restricted to recent orders so the result is
    * non-empty on the fixtures (every customer has *some* order). */
  def qAnti(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .transform(orderedRows(col("c_custkey")))
  }

  /** Range (theta) join: event pairs within 1h per user, via
    * [[graft.plans.BinnedRangeJoin.selfPairsWithin]]'s ownership-bin
    * discipline on (user_id, 1h bin) — r10 verdict item 5. The former
    * shape self-joined on user_id ALONE with the range condition as a
    * post-join predicate: still an equi sort-merge join, but its
    * candidate set is Σ per-user² pairs, so one hot user (the r6
    * skew-octave shape) makes a single key quadratic. Binning bounds
    * candidates by per-(user, adjacent-hour) mass instead — the same
    * result multiset (every |Δt| ≤ 1h pair meets the bin probe; the
    * residual keeps exactly the qualifying ones), strictly less join
    * output on any user active for more than two hours. */
  def qJoinRange(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("user_id"), col("event_id"), Cols.epochUs(col("ts")).as("us"))
    graft.plans.BinnedRangeJoin
      .selfPairsWithin(e, Seq("user_id"), "event_id", "us", 3600000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        Cols.r6(avg(abs(col("b_us") - col("a_us")).cast("double"))).as("avg_gap_us"))
      .orderBy("user_id")
  }

  /** As-of join via the union+running-last trick: one shuffle on the key,
    * one sort — the classic scalable as-of plan (no per-row subqueries).
    * Tie-break: at equal timestamps, orders sort before events and higher
    * o_orderkey wins ("latest order at or before the event").
    */
  def qAsof(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      col("user_id").as("k"), Cols.epochUs(col("ts")).as("t_us"),
      col("event_id"), lit(null).cast("long").as("okey"), lit(1).as("is_ev"))
    val or = orders(s, d).select(
      col("o_custkey").as("k"), Cols.epochUs(col("o_orderdate")).as("t_us"),
      lit(null).cast("long").as("event_id"), col("o_orderkey").as("okey"),
      lit(0).as("is_ev"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t_us"), col("is_ev"), col("okey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.unionByName(or)
      .withColumn("o_orderkey", last(col("okey"), ignoreNulls = true).over(w))
      .where(col("is_ev") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("t_us").as("ts_us"), col("o_orderkey"))
      // r15: final-sort barrier (TrainingData.sortedOutput) — the range
      // exchange's boundary sampling was re-executing the as-of window;
      // event_id is unique, so the barriered sort is row-identical
      .transform(TrainingData.sortedOutput(col("event_id")))
  }

  /** Skew-safe equi-join: enrich every event with its user's totals. Hot
    * keys are THE failure mode of fact-side joins at 100 TB — one user with
    * 10^8 events pins an entire shuffle partition on one task. SALTING
    * splits each key into SALT sub-keys (deterministic hash of the row id)
    * and replicates the small aggregate side across all SALT sub-keys, so
    * per-task work is bounded at 1/SALT of the hottest key. Semantics are
    * EXACTLY the plain join's — the DuckDB oracle is the unsalted join.
    * (AQE skew-join splits oversized partitions adaptively; salting is the
    * declarative guarantee when a single KEY exceeds a task.) */
  def qJoinSalted(s: SparkSession, d: String): DataFrame = {
    val SALT = 8L
    val ev = events(s, d)
    val agg = ev.groupBy(col("user_id"))
      .agg(Cols.moneySum(col("value")).as("user_total"),
        count(lit(1)).as("user_events"))
    val aggSalted = agg.withColumn("salt",
      explode(sequence(lit(0L), lit(SALT - 1))))
    // Pin the salted SHUFFLE — the shape this operator exists to
    // demonstrate (same pin rationale as qBloomJoin's shuffle_hash). The
    // static planner otherwise broadcasts the ×SALT-exploded aggregate
    // at fixture SFs (gen_join_audit r9), which makes the salt
    // replication pure overhead with none of its benefit: a broadcast
    // join never shuffles, so there is no per-key partition to bound.
    // The explode also sits above the aggregate with no stats boundary,
    // so the estimate is ×SALT-blind on top.
    ev.withColumn("salt", pmod(xxhash64(col("event_id")), lit(SALT)))
      .join(aggSalted.hint("shuffle_hash"), Seq("user_id", "salt"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("user_total"), col("user_events"))
      // r15: measured for the final-sort barrier, left unwrapped — the
      // result is row-per-event (barrier shuffles the whole output) while
      // the salted hash join re-exec streams cheaply; paired two-JVM A/B
      // had the barrier LOSING ~11%
      .orderBy("event_id")
  }

  /** Bloom-filter semi-join reduction: build a deterministic 16 KiB Bloom
    * filter over the (already filtered) dimension keys, test every fact
    * row BEFORE the join's shuffle, and let the exact join drop the rare
    * false positives — so the result is identical to the plain join while
    * ~96% of fact rows never enter the exchange. This is the explicit form
    * of Spark's runtime bloom-filter rewrite, for when its heuristics
    * (size thresholds, creation-side cost) miss; the probe is a native
    * codegen'd expression ([[graft.functions.BloomMightContain]]) so the
    * per-fact-row test stays inside the whole-stage loop.
    *
    * The join side carries a shuffle_hash hint to pin the
    * demonstrated-at-scale shape (at 100 TB neither side broadcasts); the
    * single-row Bloom build does broadcast — it is one 16 KiB row by
    * construction. */
  def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 8000)
      .select(col("c_custkey"), col("c_name"))
    val bloom = dim.agg(
      graft.functions.BloomFilter.bloomAgg(s)(col("c_custkey")).as("bf"))
    val fact = orders(s, d)
      .crossJoin(broadcast(bloom))
      .where(graft.functions.BloomFilter.mightContain(s)(col("bf"), col("o_custkey")))
      .select(col("o_custkey"), col("o_totalprice"))
    fact.join(dim.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"),
        Cols.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("c_custkey")
  }

  /** Explicit GROUPING SETS through the `spark.sql` entry path (every other
    * declared query uses the DataFrame API; this one exercises the SQL
    * front door end-to-end). `grouping()` flags disambiguate real NULL keys
    * from subtotal rows; physically identical to rollup here — one Expand +
    * partial/final aggregate. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  CASE WHEN isnan(sum(l_extendedprice*(1-l_discount)))
        |       THEN sum(l_extendedprice*(1-l_discount))
        |       ELSE floor(sum(l_extendedprice*(1-l_discount))*100.0D + 0.5D)
        |         /100.0D END AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        |""".stripMargin)
  }

  /** Disjunctive EXISTS through the SQL front door — the one join variant
    * the rest of the suite never produces: `EXISTS(...) OR <local pred>`
    * cannot plan as a LeftSemi (a row failing the subquery may still
    * qualify via the disjunct), so Catalyst plans an EXISTENCE join that
    * carries the match bit as a column into the surviving Filter. Pinned
    * in PlanShapeSpec; same physics as a semi join at scale (hash on the
    * correlation key, no row duplication). The presentation sort leaves
    * the SQL text for [[graft.Tables.orderedRows]]. */
  def qExistsOr(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    customer(s, d).createOrReplaceTempView("customer")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_acctbal > 9000)
        |   OR o_totalprice > 450000""".stripMargin)
      .transform(orderedRows(col("o_orderkey")))
  }

  /** Recursive CTE through the SQL front door (`WITH RECURSIVE`, Spark 4's
    * iterative union execution): every customer walks the synthetic
    * binary-tree hierarchy parent(k) = k div 2 up to the root, emitting its
    * depth and the key-sum along the path. The oracle runs the identical
    * recursion in DuckDB.
    *
    * Scale shape: a recursive CTE executes as ITERATED distributed steps —
    * each iteration scans only the frontier produced by the previous one
    * (rows still walking), so total work is O(|customers| · depth) spread
    * over the cluster and the iteration count is the hierarchy DEPTH
    * (log₂ max-key ≈ 25 even at 100 TB key spaces), not the row count.
    * Same execution family as q_dedup_clusters' Pregel loop, but
    * declaratively planned. One deployment dial (measured in BASELINE
    * r12 "Non-dedup bench heads"): Spark fences recursive CTEs with
    * `spark.sql.cteRecursionRowLimit` (default 1e6 TOTAL rows across
    * iterations, a foot-gun guard rather than a memory bound — each
    * iteration's frontier is still bounded); at ≳60k walking rows ×
    * ~18 levels the query trips it, so the limit must scale with
    * |customers| · depth like any row-count quota. */
  def qRecursive(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("customer")
    s.sql(
      """WITH RECURSIVE walk(k, cur, depth, path_sum) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_custkey AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT k, CAST(floor(cur / 2.0) AS BIGINT), depth + 1,
        |    path_sum + CAST(floor(cur / 2.0) AS BIGINT)
        |  FROM walk WHERE cur > 1
        |)
        |SELECT k AS c_custkey, CAST(max(depth) AS BIGINT) AS depth,
        |  CAST(max(path_sum) AS BIGINT) AS path_sum
        |FROM walk GROUP BY k ORDER BY c_custkey""".stripMargin)
  }

  /** TPC-H Q2-shaped sourcing query: for each small part, the cheapest
    * EUROPE-region supplier (min observed unit price over lineitem, since
    * this schema has no partsupp), ties to the smaller s_suppkey.
    *
    * Scale shape: lineitem aggregates once on (l_partkey, l_suppkey) with
    * map-side partials — the only corpus-sized shuffle; nation/region are
    * hint-broadcast (bounded by construction); the supplier slice and part
    * join without hints (stats-broadcast here, shuffle join at scale — both
    * are SF-scaled). The per-part argmin is `min(struct(...))` — struct
    * ordering is lexicographic, so (unit_cost, s_suppkey, …) encodes the
    * ORDER BY including the unique tiebreak, and the aggregate gets
    * map-side partial combine where a ranking window would full-sort. */
  def qSupplier(s: SparkSession, d: String): DataFrame = {
    // Unit cost is undefined for a zero-quantity line: yield null (the min
    // ignores it) instead of an ANSI DIVIDE_BY_ZERO — at scale ONE corrupt
    // zero-quantity row would otherwise kill the whole job (the round-7
    // dirty corpus caught exactly that). The oracle carries the same guard:
    // DuckDB doesn't error but would fold inf/NaN into the min instead.
    // A (part, supplier) group whose every line is zero-quantity has NO
    // defined unit cost — drop it before the argmin (Spark's min(struct)
    // sorts a null first field FIRST where DuckDB's window sorts it last;
    // filtering makes the semantics engine-independent).
    val cost = lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(Cols.r6(min(when(col("l_quantity") =!= 0,
        col("l_extendedprice") / col("l_quantity")))).as("unit_cost"))
      .where(col("unit_cost").isNotNull)
    val sup = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).where(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // sup is UNHINTED (r11): supplier is 10k rows × SF, and the EUROPE
    // filter keeps a constant FRACTION (1 of 5 regions), not a constant
    // size — at 100 TB the slice is GBs and a pinned broadcast is an
    // OOM. Stats broadcast it at every fixture SF (same plan as the
    // hinted form) and shuffle on l_suppkey past the threshold.
    cost
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(part(s, d).where(col("p_size") <= 10),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("p_size"))
      .agg(min(struct(col("unit_cost"), col("s_suppkey"), col("s_name"),
        col("n_name"), col("s_acctbal"))).as("best"))
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("best.s_name").as("s_name"), col("best.n_name").as("n_name"),
        col("best.s_acctbal").as("s_acctbal"),
        col("best.unit_cost").as("unit_cost"))
      // r15: sort barrier — sampling was re-running the argmin final agg
      .transform(TrainingData.sortedOutput(col("p_partkey")))
  }

  // ---- §2.4 aggregations ---------------------------------------------------

  /** Flagship (TPC-H Q1 shape): partial+final hash aggregate; the shuffle
    * carries only |groups| rows per partition thanks to map-side combine. */
  def qAggPricing(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Cols.moneySum(col("l_quantity")).as("sum_qty"),
        Cols.moneySum(col("l_extendedprice")).as("sum_base_price"),
        Cols.moneySum(revenue).as("sum_disc_price"),
        Cols.moneySum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Cols.r6(avg(col("l_quantity"))).as("avg_qty"),
        Cols.r6(avg(col("l_extendedprice"))).as("avg_price"),
        Cols.r6(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Exact distinct count — expands to a two-phase aggregate in Spark. */
  def qAggDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** Approximate distinct users per event type — DECLARED as the
    * deterministic KMV (bottom-k) estimate so the DuckDB oracle replays the
    * sketch, its k-th minimum and the (k−1)·P/u_k estimate bit-for-bit
    * (the [[graft.operators.Insights.qKmvDistinct]] discipline: bottom-k
    * state is a pure function of the value SET, partitioning/merge-order
    * independent). The exact distinct rides along so the row itself shows
    * the error the k=128 sketch achieved. The Spark-native HyperLogLog++
    * path is [[qAggApproxHll]], bound-tested in ScalaTest (HLL register
    * layout is engine-specific and cannot be oracle-replayed).
    *
    * Scale: one map-side-combined pass, bounded k-long state per group —
    * the same constant-memory-per-group story as HLL; exact_users exists
    * as the verification baseline, droppable at 100 TB. The affine hash is
    * overflow-safe under ANSI for |user_id| < 3.4e9 (Long.Max / 2654435761),
    * far above the fixture id domain (see qKmvDistinct's bound analysis). */
  def qAggApprox(s: SparkSession, d: String): DataFrame = {
    val K = 128
    val P = 2147483647L
    val bk = graft.functions.BottomKAgg.bottomK(s) _
    val est = when(size(col("sk")) < K, size(col("sk")).cast("double"))
      .otherwise(lit((K - 1).toDouble) * lit(P.toDouble) /
        element_at(col("sk"), K).cast("double"))
    events(s, d)
      .withColumn("h", (col("user_id") * 2654435761L + 1409L) % P)
      .groupBy(col("event_type"))
      .agg(bk(col("h"), K).as("sk"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), Cols.r2(est).as("approx_users"),
        col("exact_users"), col("n_events"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** The Spark-native HLL++ formulation of [[qAggApprox]] — constant
    * memory per group, the 100 TB answer to countDistinct. Not declared
    * (sketch internals are engine-specific so no oracle can replay it);
    * QueriesSmokeSpec bounds the estimate within 5% of exact. */
  def qAggApproxHll(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Approximate quantiles per event type — DECLARED as a deterministic
    * fixed-grid summary the DuckDB oracle replays exactly: values fold to
    * `floor(value/w)` bins (w = 1.0 on the fixture value domain), one
    * cumulative pass finds the bin holding rank q·n, and the estimate
    * linearly interpolates inside that bin. Both engines evaluate the
    * bit-identical IEEE formula (same discipline as [[Cols.r2]]), so the
    * estimate is cross-engine deterministic by construction — unlike GK /
    * t-digest whose state depends on merge order. NaN/null measurements
    * are excluded per the [[Cols.nanNull]] contract; a type with no valid
    * measurement has no quantile and emits no row (both engines agree).
    * The Spark-native GK path is [[qAggApproxQuantileNative]],
    * bound-tested in ScalaTest.
    *
    * Scale: state is one row per OCCUPIED bin per group (range/w, not n) —
    * the fixed-resolution-histogram quantile used at 100 TB when the
    * answer may be ±w but the pass must be one shuffle; the grid width is
    * the accuracy/state dial. */
  def qAggApproxQuantile(s: SparkSession, d: String): DataFrame = {
    val w = 1.0
    val b = events(s, d)
      .where(col("value").isNotNull && !isnan(col("value")))
      .groupBy(col("event_type"), floor(col("value") / lit(w)).as("bin"))
      .agg(count(lit(1)).as("c"))
    val overType = Window.partitionBy(col("event_type"))
    val cumW = overType.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exactly one bin satisfies cum_prev < q·n <= cum (cum is strictly
    // increasing, q·n ∈ (0, n]) — the bin holding rank q·n
    def estAt(q: Double): Column = {
      val t = col("n").cast("double") * lit(q)
      val cumPrev = (col("cum") - col("c")).cast("double")
      when(col("cum") >= t && cumPrev < t,
        col("bin").cast("double") * lit(w) +
          lit(w) * (t - cumPrev) / col("c").cast("double"))
    }
    b.withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(overType))
      .withColumn("e50", estAt(0.5))
      .withColumn("e90", estAt(0.9))
      .groupBy(col("event_type"))
      .agg(Cols.r6(max(col("e50"))).as("p50_approx"),
        Cols.r6(max(col("e90"))).as("p90_approx"),
        max(col("n")).as("n_events"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** The Spark-native GK-sketch formulation of [[qAggApproxQuantile]]
    * (`approx_percentile`) — the constant-memory companion to
    * [[graft.operators.Analytics.qPercentile]]'s exact interpolated
    * percentiles. Not declared (GK internals differ across engines);
    * QueriesSmokeSpec bounds it against the exact percentile. */
  def qAggApproxQuantileNative(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        Cols.r2(approx_percentile(col("value"), lit(0.5), lit(1000)))
          .as("p50_approx"),
        Cols.r2(approx_percentile(col("value"), lit(0.9), lit(1000)))
          .as("p90_approx"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** ROLLUP subtotals. Roll-up markers come from grouping(), not from
    * coalescing the grouped value (same discipline as [[qCube]]): a DATA
    * null in l_returnflag/l_linestatus must not collide with the 'ALL'
    * subtotal sentinel, or the presentation ORDER BY stops being total and
    * row order diverges between engines. No-op on the fixtures, whose
    * flag/status columns are never null. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("gf"),
        grouping(col("l_linestatus")).as("gl"),
        Cols.moneySum(revenue).as("rev"), count(lit(1)).as("n"))
      // ORDER on (grouping flags, RAW nullable keys), not on the rendered
      // sentinel strings: a data value literally equal to 'ALL'/'(null)'
      // renders identically to a subtotal/null-group row, and an ORDER BY
      // over the rendering de-totalizes on exactly that tie (the r8 fuzz
      // 'ALL'-injection axis; same bug class as q_cube's numeric
      // sentinels). The rendered presentation is unchanged — only the sort
      // key is collision-free (the q_grouping_sets discipline).
      .orderBy(col("gf"), col("gl"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
      .select(
        when(col("gf") === 1, lit("ALL"))
          .otherwise(coalesce(col("l_returnflag"), lit("(null)"))).as("rflag"),
        when(col("gl") === 1, lit("ALL"))
          .otherwise(coalesce(col("l_linestatus"), lit("(null)"))).as("lstatus"),
        col("rev"), col("n"))

  /** CUBE over event_type × json-derived bucket. */
  def qCube(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // try_cast: one non-numeric $.k poison string must not ANSI-kill the
      // job (nulls identically in both modes; oracle TRY_CAST mirrors)
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .withColumn("k_bucket", col("k") % 5)
      .cube(col("event_type"), col("k_bucket"))
      // roll-up markers come from grouping(), not from coalescing the
      // grouped value: a DATA null (missing/malformed props, null
      // event_type) must not collide with the subtotal sentinel, or the
      // presentation ORDER BY stops being total and row order diverges
      // between engines (no-op on the fixtures, which have no null keys).
      // Sentinels sit at -5/-6: both engines' % keeps the dividend's sign,
      // so a REAL bucket is always in [-4, 4] and the sentinels are
      // provably outside the data domain — the r8 fuzz extension (negative
      // $.k values) caught the old -1/-2 markers colliding with genuine
      // negative buckets, which silently de-totalized the ORDER BY
      .agg(grouping(col("event_type")).as("ge"), grouping(col("k_bucket")).as("gk"),
        count(lit(1)).as("n"), Cols.moneySum(col("value")).as("sum_value"))
      // ORDER on (flags, RAW keys), not the rendering: a literal 'ALL' or
      // '(null)' event_type value renders identically to a subtotal/null
      // row and would de-totalize an etype-string sort (the kb sentinels
      // are already collision-free numerically; the string side cannot be)
      .orderBy(col("ge"), col("gk"), col("event_type").asc_nulls_first,
        col("k_bucket").asc_nulls_first)
      .select(
        when(col("ge") === 1, lit("ALL"))
          .otherwise(coalesce(col("event_type"), lit("(null)"))).as("etype"),
        when(col("gk") === 1, lit(-5L))
          .otherwise(coalesce(col("k_bucket"), lit(-6L))).as("kb"),
        col("n"), col("sum_value"))

  /** HAVING: post-aggregation filter on the (rounded) aggregate. */
  def qHaving(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(Cols.moneySum(col("value")).as("total_value"),
        count(lit(1)).as("n_events"))
      .filter(col("total_value") > 1000.0)
      .orderBy("user_id")

  // ---- §2.6 sorts / top-k --------------------------------------------------

  /** Multi-key global sort → range-partitioned SortExec. */
  def qSort(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc,
        col("o_orderkey").asc)

  /** Global top-k → TakeOrderedAndProject: each partition keeps a k-heap,
    * driver merges k·p rows — no global sort even at 100 TB. */
  def qTopk(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(Cols.moneySum(revenue).as("part_revenue"))
      .orderBy(col("part_revenue").desc, col("l_partkey").asc)
      .limit(20)

  /** Per-group top-k via ranking window (single shuffle on the group key). */
  def qTopkGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(revenue.desc, col("l_linenumber").asc)
    lineitem(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"),
        Cols.r2(revenue).as("revenue"), col("rn"))
      // r15: measured for the final-sort barrier, left unwrapped (paired
      // two-JVM A/B −7%: the windowed-and-filtered stream re-exec is
      // cheaper than re-shuffling the 2-per-key survivors)
      .orderBy("l_orderkey", "rn")
  }

  /** Grouped top-k through the NATIVE operator ([[graft.plans.TopKPerKey]]
    * — logical node + injected planner strategy + partial/final heap
    * execs): same result set as [[qTopkGroup]]'s window formulation, but
    * the heavy lifting is bounded per-key heaps that reduce map-side and
    * ship ≤ k rows per (key, partition) into the exchange — the window
    * must sort EVERY row of every group. The rank column is re-derived
    * afterwards by a window over the ≤ k survivors per key (k-bounded
    * input, negligible). PlanShapeSpec pins partial-below-exchange. */
  def qTopkGroupNative(s: SparkSession, d: String): DataFrame = {
    val projected = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), revenue.as("rev"))
    val top = graft.plans.TopKPerKey.of(s, projected,
      Seq("l_orderkey"), Seq("rev" -> false, "l_linenumber" -> true), 2)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("rev").desc, col("l_linenumber").asc)
    top.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"),
        Cols.r2(col("rev")).as("revenue"), col("rn"))
      // r15: measured for the final-sort barrier, left unwrapped (paired
      // two-JVM A/B −6.5%; the k-bounded rank-rederive is cheap to re-run)
      .orderBy("l_orderkey", "rn")
  }

  // ---- §2.7 set operations -------------------------------------------------

  private def highBal(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_acctbal") > 5000.0).select(col("c_custkey").as("k"))

  private def recentCust(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey").as("k"))

  def qUnion(s: SparkSession, d: String): DataFrame =
    highBal(s, d).union(recentCust(s, d)).distinct().orderBy("k")

  def qIntersect(s: SparkSession, d: String): DataFrame =
    highBal(s, d).intersect(recentCust(s, d)).orderBy("k")

  def qExcept(s: SparkSession, d: String): DataFrame =
    highBal(s, d).except(recentCust(s, d)).orderBy("k")

  /** Multiset set ops: the orders side carries one row per order, so
    * `exceptAll`/`intersectAll` preserve MULTIPLICITY (bag semantics) where
    * [[qExcept]]/[[qIntersect]] collapse to distinct keys — e.g. a customer
    * with three qualifying orders but no high balance survives exceptAll
    * three times. Same single shuffle as the distinct forms. */
  def qExceptAll(s: SparkSession, d: String): DataFrame =
    recentCust(s, d).exceptAll(highBal(s, d)).orderBy("k")

  def qIntersectAll(s: SparkSession, d: String): DataFrame =
    recentCust(s, d).intersectAll(highBal(s, d)).orderBy("k")

  // ---- wiring --------------------------------------------------------------

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_project"        -> (qProject _),
    "q_filter"         -> (qFilter _),
    "q_join_broadcast" -> (qJoinBroadcast _),
    "q_join_shuffle"   -> (qJoinShuffle _),
    "q_join_multi"     -> (qJoinMulti _),
    "q_join_left"      -> (qJoinLeft _),
    "q_semi"           -> (qSemi _),
    "q_anti"           -> (qAnti _),
    "q_join_range"     -> (qJoinRange _),
    "q_asof"           -> (qAsof _),
    "q_join_salted"    -> (qJoinSalted _),
    "q_bloom_join"     -> (qBloomJoin _),
    "q_supplier"       -> (qSupplier _),
    "q_agg_pricing"    -> (qAggPricing _),
    "q_agg_distinct"   -> (qAggDistinct _),
    "q_agg_approx"     -> (qAggApprox _),
    "q_agg_approx_quantile" -> (qAggApproxQuantile _),
    "q_rollup"         -> (qRollup _),
    "q_grouping_sets"  -> (qGroupingSets _),
    "q_recursive"      -> (qRecursive _),
    "q_exists_or"      -> (qExistsOr _),
    "q_cube"           -> (qCube _),
    "q_having"         -> (qHaving _),
    "q_sort"           -> (qSort _),
    "q_topk"           -> (qTopk _),
    "q_topk_group"     -> (qTopkGroup _),
    "q_topk_group_native" -> (qTopkGroupNative _),
    "q_union"          -> (qUnion _),
    "q_intersect"      -> (qIntersect _),
    "q_except"         -> (qExcept _),
    "q_except_all"     -> (qExceptAll _),
    "q_intersect_all"  -> (qIntersectAll _))

  val oracles: ListMap[String, String] = ListMap(
    "q_exists_or" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_acctbal > 9000)
        |   OR o_totalprice > 450000
        |ORDER BY o_orderkey""".stripMargin,
    "q_bloom_join" ->
      """SELECT c_custkey, c_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  floor(sum(o_totalprice)*100.0 + 0.5)/100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000
        |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin,
    "q_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    floor((min(CASE WHEN l_quantity <> 0
        |      THEN l_extendedprice / l_quantity END))*1000000.0 + 0.5)/1000000.0
        |      AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |sup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT p_partkey, p_name, p_size, s_name, n_name, s_acctbal, unit_cost
        |FROM (
        |  SELECT p.p_partkey, p.p_name, p.p_size, s.s_name, s.n_name, s.s_acctbal,
        |    c.unit_cost,
        |    row_number() OVER (PARTITION BY p.p_partkey
        |      ORDER BY c.unit_cost ASC, s.s_suppkey ASC) AS rk
        |  FROM cost c JOIN sup s ON c.l_suppkey = s.s_suppkey
        |    JOIN part p ON c.l_partkey = p.p_partkey
        |  WHERE p.p_size <= 10 AND c.unit_cost IS NOT NULL)
        |WHERE rk = 1 ORDER BY p_partkey""".stripMargin,
    "q_project" ->
      """SELECT l_orderkey, l_linenumber,
        | floor((l_extendedprice*(1-l_discount))*100.0 + 0.5)/100.0 AS revenue,
        | floor((l_extendedprice*(1-l_discount)*(1+l_tax))*100.0 + 0.5)/100.0 AS charge,
        | floor((l_quantity*l_extendedprice)*100.0 + 0.5)/100.0 AS gross
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_filter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O')
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT p_brand,
        | floor((sum(l_extendedprice*(1-l_discount)))*100.0 + 0.5)/100.0 AS brand_revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | floor((sum(l_extendedprice*(1-l_discount)))*100.0 + 0.5)/100.0 AS priority_revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  floor(sum(l_extendedprice*(1-l_discount))*100.0 + 0.5)/100.0 AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |HAVING count(*) > 0
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_recursive" ->
      """WITH RECURSIVE walk(k, cur, depth, path_sum) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_custkey AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT k, CAST(floor(cur / 2.0) AS BIGINT), depth + 1,
        |    path_sum + CAST(floor(cur / 2.0) AS BIGINT)
        |  FROM walk WHERE cur > 1
        |)
        |SELECT k AS c_custkey, CAST(max(depth) AS BIGINT) AS depth,
        |  CAST(max(path_sum) AS BIGINT) AS path_sum
        |FROM walk GROUP BY k ORDER BY c_custkey""".stripMargin,
    "q_join_salted" ->
      """WITH agg AS (
        |  SELECT user_id, floor(sum(value)*100.0 + 0.5)/100.0 AS user_total,
        |    count(*) AS user_events
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.user_id, event_type, value, user_total, user_events
        |FROM events e JOIN agg USING (user_id)
        |ORDER BY event_id""".stripMargin,
    "q_join_multi" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | floor((sum(o_totalprice))*100.0 + 0.5)/100.0 AS nation_revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_left" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
        | floor((coalesce(sum(l_quantity),0))*100.0 + 0.5)/100.0 AS total_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT a.user_id, count(*) AS n_pairs,
        | floor((avg(CAST(abs(b.us - a.us) AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 AS avg_gap_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(b.us - a.us) <= 3600000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "q_asof" ->
      """WITH u AS (
        |  SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         event_id, NULL::BIGINT AS okey, 1 AS is_ev FROM events
        |  UNION ALL
        |  SELECT o_custkey, epoch_us(o_orderdate), NULL, o_orderkey, 0 FROM orders),
        |w AS (
        |  SELECT *, last_value(okey IGNORE NULLS) OVER (
        |    PARTITION BY k
        |    ORDER BY t_us NULLS FIRST, is_ev, okey NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo
        |  FROM u)
        |SELECT event_id, k AS user_id, t_us AS ts_us, lo AS o_orderkey
        |FROM w WHERE is_ev = 1 ORDER BY event_id""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity))*100.0 + 0.5)/100.0 AS sum_qty,
        | floor((sum(l_extendedprice))*100.0 + 0.5)/100.0 AS sum_base_price,
        | floor((sum(l_extendedprice*(1-l_discount)))*100.0 + 0.5)/100.0 AS sum_disc_price,
        | floor((sum(l_extendedprice*(1-l_discount)*(1+l_tax)))*100.0 + 0.5)/100.0 AS sum_charge,
        | floor((avg(l_quantity))*1000000.0 + 0.5)/1000000.0 AS avg_qty,
        | floor((avg(l_extendedprice))*1000000.0 + 0.5)/1000000.0 AS avg_price,
        | floor((avg(l_discount))*1000000.0 + 0.5)/1000000.0 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""".stripMargin,
    "q_agg_approx" ->
      """WITH e AS (SELECT event_type, user_id,
        |    (user_id*2654435761 + 1409) % 2147483647 AS h FROM events),
        |hh AS (SELECT DISTINCT event_type, h FROM e WHERE h IS NOT NULL),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |        count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM hh),
        |sk AS (SELECT event_type, max(CASE WHEN rk = 128 THEN h END) AS u_k,
        |         max(nd) AS nd FROM r GROUP BY 1),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |         count(*) AS n_events FROM e GROUP BY 1)
        |SELECT ex.event_type,
        |  floor((CASE WHEN coalesce(sk.nd, 0) < 128
        |         THEN CAST(coalesce(sk.nd, 0) AS DOUBLE)
        |         ELSE 127.0 * 2147483647.0 / u_k END) * 100.0 + 0.5) / 100.0
        |    AS approx_users,
        |  exact_users, n_events
        |FROM ex LEFT JOIN sk
        |  ON ex.event_type IS NOT DISTINCT FROM sk.event_type
        |ORDER BY ex.event_type NULLS FIRST""".stripMargin,
    "q_agg_approx_quantile" ->
      """WITH v AS (SELECT event_type, value FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT event_type, floor(value / 1.0) AS bin, count(*) AS c
        |      FROM v GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n FROM b),
        |est AS (SELECT event_type,
        |  max(CASE WHEN cum >= CAST(n AS DOUBLE)*0.5
        |            AND CAST(cum - c AS DOUBLE) < CAST(n AS DOUBLE)*0.5
        |       THEN CAST(bin AS DOUBLE)*1.0 + 1.0 *
        |         (CAST(n AS DOUBLE)*0.5 - CAST(cum - c AS DOUBLE))
        |           / CAST(c AS DOUBLE) END) AS p50,
        |  max(CASE WHEN cum >= CAST(n AS DOUBLE)*0.9
        |            AND CAST(cum - c AS DOUBLE) < CAST(n AS DOUBLE)*0.9
        |       THEN CAST(bin AS DOUBLE)*1.0 + 1.0 *
        |         (CAST(n AS DOUBLE)*0.9 - CAST(cum - c AS DOUBLE))
        |           / CAST(c AS DOUBLE) END) AS p90,
        |  CAST(max(n) AS BIGINT) AS n_events
        | FROM cum GROUP BY 1)
        |SELECT event_type,
        |  floor(p50*1000000.0 + 0.5)/1000000.0 AS p50_approx,
        |  floor(p90*1000000.0 + 0.5)/1000000.0 AS p90_approx,
        |  n_events
        |FROM est ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_rollup" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |            ELSE coalesce(l_returnflag, '(null)') END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |      ELSE coalesce(l_linestatus, '(null)') END AS lstatus,
        | floor((sum(l_extendedprice*(1-l_discount)))*100.0 + 0.5)/100.0 AS rev,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |HAVING count(*) > 0
        |ORDER BY GROUPING(l_returnflag), GROUPING(l_linestatus),
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """WITH e AS (SELECT event_type, value,
        |   TRY_CAST(CASE WHEN json_valid(props) THEN
        |     json_extract_string(props,'$.k') END AS BIGINT) % 5 AS k_bucket FROM events)
        |SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
        |            ELSE coalesce(event_type, '(null)') END AS etype,
        | CASE WHEN GROUPING(k_bucket) = 1 THEN -5
        |      ELSE coalesce(k_bucket, -6) END AS kb,
        | count(*) AS n,
        | floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM e GROUP BY CUBE(event_type, k_bucket)
        |HAVING count(*) > 0
        |ORDER BY GROUPING(event_type), GROUPING(k_bucket),
        |  event_type NULLS FIRST, k_bucket NULLS FIRST""".stripMargin,
    // NaN propagates through the rounding folds on both engines (r2/r6
    // went NaN-transparent in round 7; DuckDB floor(NaN) is NaN natively),
    // and NaN compares GREATER than any value on both engines, so the
    // HAVING threshold keeps NaN groups on both sides.
    "q_having" ->
      """SELECT user_id,
        |  floor((sum(value))*100.0 + 0.5)/100.0 AS total_value,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id
        |HAVING (floor((sum(value))*100.0 + 0.5)/100.0) > 1000.0
        |ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_sort" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_totalprice DESC NULLS LAST, o_orderkey ASC""".stripMargin,
    "q_topk" ->
      """SELECT l_partkey, floor((sum(l_extendedprice*(1-l_discount)))*100.0 + 0.5)/100.0 AS part_revenue
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY part_revenue DESC NULLS LAST, l_partkey ASC NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_topk_group" ->
      """SELECT l_orderkey, l_linenumber,
        | floor((l_extendedprice*(1-l_discount))*100.0 + 0.5)/100.0 AS revenue,
        | CAST(row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_extendedprice*(1-l_discount) DESC, l_linenumber ASC) AS BIGINT) AS rn
        |FROM lineitem
        |QUALIFY rn <= 2
        |ORDER BY l_orderkey, rn""".stripMargin,
    "q_topk_group_native" ->
      """SELECT l_orderkey, l_linenumber,
        | floor((l_extendedprice*(1-l_discount))*100.0 + 0.5)/100.0 AS revenue,
        | CAST(row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_extendedprice*(1-l_discount) DESC, l_linenumber ASC) AS BIGINT) AS rn
        |FROM lineitem
        |QUALIFY rn <= 2
        |ORDER BY l_orderkey, rn""".stripMargin,
    "q_union" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY k""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY k""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY k""".stripMargin,
    "q_except_all" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |EXCEPT ALL
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY k""".stripMargin,
    "q_intersect_all" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |INTERSECT ALL
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY k""".stripMargin)
}

package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Cols

/** Statistical / reshaping analytics beyond the SURVEY §2 core: exact
  * percentiles, distribution moments, fixed-width histograms, pivot tables,
  * and latest-state (upsert-materialization) extraction.
  *
  * Scale notes: percentile/moments/histogram are single-shuffle grouped
  * aggregates (exact percentile needs the per-group value multiset — at
  * 100 TB swap in approx_percentile, same API shape); pivot compiles to
  * conditional aggregation (one shuffle, no reshape pass); latest-state is
  * the classic row_number()=1 upsert compaction, one shuffle on the key.
  */
object Analytics {

  /** Exact interpolated percentiles (median, p90) of event value per type.
    * Both engines use the classic pos = p·(n−1) linear interpolation. */
  def qPercentile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        Cols.r6(expr(
          "percentile(CASE WHEN NOT isnan(value) THEN value END, 0.5)")).as("p50"),
        Cols.r6(expr(
          "percentile(CASE WHEN NOT isnan(value) THEN value END, 0.9)")).as("p90"),
        count(lit(1)).as("n"))
      // r15: examined for the final-sort barrier and left UNWRAPPED — a
      // repartition on the grouping key merges into the aggregate's own
      // ENSURE_REQUIREMENTS exchange (static no-op), and the 7-rep A/B
      // showed no real win (shuffle −12.4%, OPTIMIZATION_r15.md §6): the
      // sampling re-exec above the last exchange is only the |groups|-row
      // final agg
      .orderBy("event_type")

  /** Sample moments + correlation of value with the JSON-extracted k. */
  def qStatsMoments(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // try_cast: ANSI-kill-proof against a non-numeric $.k string (the
      // resulting NaN from a "NaN" payload is then dropped by nanNull on
      // both engines — see the oracle's isnan(k0) filter)
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)"))
      .groupBy(col("event_type"))
      .agg(
        Cols.r6(stddev_samp(Cols.nanNull(col("value")))).as("sd"),
        Cols.r6(var_samp(Cols.nanNull(col("value")))).as("vr"),
        Cols.r6(corr(Cols.nanNull(col("value")), Cols.nanNull(col("k")))).as("corr_vk"),
        Cols.r6(covar_samp(Cols.nanNull(col("value")), Cols.nanNull(col("k")))).as("covar_vk"))
      // r15: examined, left unwrapped (same no-op merge as qPercentile)
      .orderBy("event_type")

  /** Fixed-width histogram of event values: 50-unit buckets, explicit
    * integer arithmetic (identical on both engines, no width_bucket
    * dialect differences). */
  def qHistogram(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket", floor(col("value") / 50.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), Cols.moneySum(col("value")).as("sum_value"))
      .orderBy("bucket")

  /** Pivot: order status columns per priority. Spark's pivot compiles to
    * conditional aggregation — the oracle states that form directly. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(Cols.moneySum(col("o_totalprice")))
      .orderBy("o_orderpriority")

  /** Unpivot (melt): the inverse of [[qPivot]] — a wide per-user matrix of
    * event-type value sums back to long form. Missing cells are 0-filled
    * BEFORE melting so the long form is dense and engine-agnostic (Spark's
    * `unpivot` keeps nulls, DuckDB's UNPIVOT drops them — pinning density
    * sidesteps the dialect split). Melt is a per-row explode: no shuffle
    * beyond the pivot's own aggregation. */
  def qUnpivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("view", "click", "signup", "purchase", "error")
    events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(Cols.moneySum(col("value")))
      .na.fill(0.0, types)
      .unpivot(Array(col("user_id")), types.map(col).toArray,
        "event_type", "total")
      .orderBy("user_id", "event_type")
  }

  /** Latest-state compaction ("upsert view" of the event stream): the most
    * recent event per user, ties broken by event_id. */
  def qLatestState(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    events(s, d)
      .select(col("user_id"), col("event_id"), Cols.epochUs(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  /** SCD2-style state history from the event stream: per user, one validity
    * interval per run of a repeated event_type; valid_to of the last state is
    * NULL ("current"). Change detection (lag) then interval closing (lead
    * over changes only) — two windows, one shuffle on user_id. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), Cols.epochUs(col("ts")).as("ts_us"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(wOrd))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "valid_from")
  }

  /** ETL data-quality gate: one summary row of constraint violations over
    * `orders` (nulls, key duplicates, domain and range violations). */
  def qDqChecks(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(when(col("o_custkey").isNull, 1)).as("n_null_custkey"),
        count(when(col("o_totalprice") <= 0.0, 1)).as("n_nonpos_price"),
        (count(col("o_orderkey")) - countDistinct(col("o_orderkey"))).as("n_dup_keys"),
        count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)).as("n_bad_status"),
        count(when(col("o_orderdate") > lit("2026-01-01").cast("timestamp"), 1))
          .as("n_future_dates"))

  /** Deterministic ~10% sample via the shared overflow-safe mixing bucket
    * ([[graft.Cols.mixBucket]]) of an orderkey⊕linenumber key — reproducible
    * across engines and runs (never `rand()` in a pipeline that must be
    * auditable), high-bit-dependent (a bare `key·c % 100` keeps same-residue
    * keys together forever) and ANSI-safe at any orderkey (the old
    * multiplicative form overflowed past key ≈ 3.4·10⁹). */
  def qSample(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(graft.Cols.mixBucket(col("l_orderkey")
        .bitwiseXOR(col("l_linenumber").cast("long") * lit(2654435761L)), 100) < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .transform(orderedRows(col("l_orderkey"), col("l_linenumber")))

  /** Keyed list/string aggregation (denormalization): each customer's
    * sorted order-key list as one CSV string. `collect_list` is
    * order-nondeterministic across partitions, so `array_sort` pins the
    * output before joining — the standard trick that keeps list-agg
    * hash-comparable across engines. One partial+final aggregate. */
  def qCollect(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(transform(array_sort(collect_list(col("o_orderkey"))),
          x => x.cast("string")), ",").as("order_keys"))
      .orderBy("o_custkey")

  /** qDateSpine's grid cap in days, trailing from the newest ship date:
    * 7300 d (20 y) ≈ 3× the fixture's 6.8-year span, a no-op on clean
    * data. The oracle SQL applies the same clamp from this constant. */
  private[graft] val DateSpineMaxDays = 7300

  /** Date-spine gap fill: one row per calendar day between min and max
    * ship date, with missing days' revenue as 0.0 — the canonical
    * time-series densification step. The spine is generated, not stored;
    * the join runs on |days| rows because revenue is pre-aggregated per
    * day below the join (at 100 TB the fact side collapses before any
    * wide operation sees it). */
  def qDateSpine(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    // DELIBERATE second lineitem pass (ScanAudit r10 batch 2 kept the
    // old shape by measurement): the bounds aggregate below is the
    // cheapest possible kind — shuffle-free, column-pruned to
    // l_shipdate alone, 1-row output — while routing bounds through a
    // checkpointed rollup serializes the plan behind an eager
    // materialization barrier and measured 2.53x slower at sf0.1
    // (0.161 -> 0.408 s, BASELINE.md round 10 "Batch 2"). Recompute
    // beats materializing when the recompute is a single-column scan
    // (the q_tfidf doctrine);
    // the x2 per-run count is inside the ScanAudit budget.
    val rev = li
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(Cols.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
    // Bounded spine (same doctrine as qResample): min/max-bounded
    // sequence() lets one corrupt pre-epoch date inflate the spine to a
    // century of days; clamp to a trailing window from the newest ship
    // date (see DateSpineMaxDays).
    val days = li
      .agg(date_trunc("day", min(col("l_shipdate"))).as("lo0"),
        date_trunc("day", max(col("l_shipdate"))).as("hi"))
      .selectExpr(s"greatest(lo0, hi - interval $DateSpineMaxDays days) AS lo",
        "hi")
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    days.join(rev, Seq("day"), "left")
      .select(Cols.epochUs(col("day")).as("day_us"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("day_us")
  }

  /** CDC MERGE: apply a changelog (insert / update / DELETE ops) to a base
    * table in one full-outer shuffle join — the upsert-with-deletes core of
    * every incremental ETL load, which [[qLatestState]] (no deletes) and
    * [[qScd2]] (history, not state) do not cover. The changelog is derived
    * deterministically from the base so the oracle can replay the final
    * state directly: keys ≡0 (mod 97) delete, ≡1 update price +10%, ≡2
    * insert as a fresh key. One shuffle on the key; at 100 TB the same plan
    * runs per-partition when base and changelog share bucketing, and the
    * swap becomes a transactional-format commit. */
  def qCdcApply(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val m = col("o_orderkey") % 97
    // one filtered pass derives all three op classes in-row — the r1–r9
    // three-branch union scanned the base once PER op class, so the
    // changelog cost three extra corpus passes (ScanAudit r10: 4 scans
    // -> 2; base + changelog is the honest floor while the changelog is
    // simulated from the base — in production it is its own source)
    val changes = base.where(m === 0 || m === 1 || m === 2)
      .select(
        when(m === 2, col("o_orderkey") + 100000000L)
          .otherwise(col("o_orderkey")).as("c_key"),
        col("o_custkey").as("c_cust"),
        col("o_orderstatus").as("c_status"),
        when(m === 1, Cols.r2(col("o_totalprice") * 1.1))
          .otherwise(col("o_totalprice")).as("c_price"),
        when(m === 0, lit("D")).when(m === 1, lit("U"))
          .otherwise(lit("I")).as("op"))
    base.join(changes, col("o_orderkey") === col("c_key"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("c_key"), col("o_orderkey")).as("o_orderkey"),
        coalesce(col("c_cust"), col("o_custkey")).as("o_custkey"),
        coalesce(col("c_status"), col("o_orderstatus")).as("o_orderstatus"),
        coalesce(col("c_price"), col("o_totalprice")).as("o_totalprice"))
      // r15: measured for the final-sort barrier, left unwrapped (paired
      // two-JVM A/B flat: the merge re-exec streams the already-sorted
      // shuffle files, ~the same cost as re-shuffling the full result)
      .orderBy("o_orderkey")
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_percentile"    -> (qPercentile _),
    "q_stats_moments" -> (qStatsMoments _),
    "q_histogram"     -> (qHistogram _),
    "q_pivot"         -> (qPivot _),
    "q_latest_state"  -> (qLatestState _),
    "q_scd2"          -> (qScd2 _),
    "q_dq_checks"     -> (qDqChecks _),
    "q_sample"        -> (qSample _),
    "q_collect"       -> (qCollect _),
    "q_date_spine"    -> (qDateSpine _),
    "q_cdc_apply"     -> (qCdcApply _),
    "q_unpivot"       -> (qUnpivot _))

  val oracles: ListMap[String, String] = ListMap(
    "q_unpivot" ->
      """WITH t AS (SELECT user_id, event_type,
        |    floor((sum(value))*100.0 + 0.5)/100.0 AS total
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT DISTINCT user_id FROM events),
        |ty AS (SELECT unnest(['view','click','signup','purchase','error'])
        |       AS event_type)
        |SELECT u.user_id AS user_id, ty.event_type AS event_type,
        |  coalesce(CASE WHEN isnan(t.total) THEN 0.0 ELSE t.total END, 0.0)
        |    AS total
        |FROM u CROSS JOIN ty
        |LEFT JOIN t ON t.user_id IS NOT DISTINCT FROM u.user_id
        |  AND t.event_type = ty.event_type
        |ORDER BY u.user_id NULLS FIRST, ty.event_type""".stripMargin,
    "q_cdc_apply" ->
      """WITH survivors AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 1
        |         THEN floor((o_totalprice * 1.1)*100.0 + 0.5)/100.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |inserts AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |    o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 2)
        |SELECT * FROM survivors UNION ALL SELECT * FROM inserts
        |ORDER BY o_orderkey""".stripMargin,
    "q_collect" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys
        |FROM orders GROUP BY 1 ORDER BY o_custkey NULLS FIRST""".stripMargin,
    "q_date_spine" ->
      s"""WITH days AS (
        |  SELECT unnest(generate_series(
        |    greatest(
        |      date_trunc('day', (SELECT min(l_shipdate) FROM lineitem)),
        |      date_trunc('day', (SELECT max(l_shipdate) FROM lineitem))
        |        - INTERVAL $DateSpineMaxDays DAY),
        |    date_trunc('day', (SELECT max(l_shipdate) FROM lineitem)),
        |    INTERVAL 1 DAY)) AS day),
        |rev AS (SELECT date_trunc('day', l_shipdate) AS day,
        |    floor(sum(l_extendedprice*(1-l_discount))*100.0 + 0.5)/100.0 AS revenue
        |  FROM lineitem GROUP BY 1)
        |SELECT epoch_us(CAST(days.day AS TIMESTAMP)) AS day_us,
        |  coalesce(revenue, 0.0) AS revenue
        |FROM days LEFT JOIN rev ON days.day = rev.day
        |ORDER BY day_us""".stripMargin,
    "q_percentile" ->
      """SELECT event_type,
        | floor((quantile_cont(CASE WHEN NOT isnan(value) THEN value END,
        |   0.5))*1000000.0 + 0.5)/1000000.0 AS p50,
        | floor((quantile_cont(CASE WHEN NOT isnan(value) THEN value END,
        |   0.9))*1000000.0 + 0.5)/1000000.0 AS p90,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_stats_moments" ->
      """WITH e0 AS (SELECT event_type, value,
        |  TRY_CAST(CASE WHEN json_valid(props) THEN
        |    json_extract_string(props, '$.k') END AS DOUBLE) AS k0 FROM events),
        |e AS (SELECT event_type,
        |  CASE WHEN NOT isnan(value) THEN value END AS value,
        |  CASE WHEN NOT isnan(k0) THEN k0 END AS k FROM e0)
        |SELECT event_type,
        | floor((stddev_samp(value))*1000000.0 + 0.5)/1000000.0 AS sd,
        | floor((var_samp(value))*1000000.0 + 0.5)/1000000.0 AS vr,
        | floor((corr(value, k))*1000000.0 + 0.5)/1000000.0 AS corr_vk,
        | floor((covar_samp(value, k))*1000000.0 + 0.5)/1000000.0 AS covar_vk
        |FROM e GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_histogram" ->
      """SELECT CASE WHEN isnan(value) THEN 0
        |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bucket,
        | count(*) AS n,
        | floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        | floor((sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END))*100.0 + 0.5)/100.0 AS "F",
        | floor((sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END))*100.0 + 0.5)/100.0 AS "O",
        | floor((sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END))*100.0 + 0.5)/100.0 AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "q_latest_state" ->
      """SELECT user_id, event_id, ts_us, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |         event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC NULLS LAST, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |                  event_type FROM events),
        |c AS (SELECT *, lag(event_type, 1) OVER w AS prev_type FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id)),
        |ch AS (SELECT * FROM c WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS state, ts_us AS valid_from,
        |       lead(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id) AS valid_to
        |FROM ch ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST""".stripMargin,
    "q_dq_checks" ->
      """SELECT count(*) AS n_rows,
        | count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_custkey,
        | count(CASE WHEN o_totalprice <= 0.0 THEN 1 END) AS n_nonpos_price,
        | count(o_orderkey) - count(DISTINCT o_orderkey) AS n_dup_keys,
        | count(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS n_bad_status,
        | count(CASE WHEN o_orderdate > TIMESTAMP '2026-01-01 00:00:00' THEN 1 END) AS n_future_dates
        |FROM orders""".stripMargin,
    "q_sample" ->
      """WITH k AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    xor(l_orderkey, l_linenumber * 2654435761) AS key FROM lineitem),
        |h0 AS (SELECT *, xor(key, (key >> 33) & 2147483647) AS x FROM k),
        |h AS (SELECT *,
        |    ((x % 268435399 + 268435399) % 268435399) * 2654435761 AS hm
        |  FROM h0)
        |SELECT l_orderkey, l_linenumber, l_quantity FROM h
        |WHERE xor(hm, hm >> 29) % 100 < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
}

package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Cols
import graft.operators.TrainingData.CheckpointOps

/** Event-stream operators with batch event-time semantics (SURVEY §2.9).
  *
  * These mirror Structured Streaming's window/watermark model exactly but run
  * deterministic batch plans so they stay DuckDB-verifiable; the streaming
  * `readStream` wrappers over the same logic live in [[graft.streaming]].
  * Window structs are flattened to epoch-micros start/end BIGINTs per the
  * SURVEY §2 determinism box.
  *
  * Scale notes: every operator here shuffles at most once, on the natural key
  * (window bucket / user_id / event_id). Per-key state is bounded: tumbling
  * and sliding windows pre-aggregate map-side; session windows sort within
  * user partitions only.
  */
object EventTime {

  private val HourUs = 3600000000L

  /** Tumbling 1h windows × event_type via Spark's `window()`. */
  def qWinTumbling(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Cols.moneySum(col("value")).as("sum_value"))
      .select(Cols.epochUs(col("window.start")).as("start_us"),
        Cols.epochUs(col("window.end")).as("end_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("start_us", "event_type")

  /** Sliding windows: 1h length, 15min slide — each event lands in exactly 4
    * windows (epoch-aligned starts, matching Spark's `window()` definition,
    * which the oracle replicates with integer epoch-us arithmetic). */
  def qWinSliding(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), Cols.moneySum(col("value")).as("sum_value"))
      .select(Cols.epochUs(col("window.start")).as("start_us"),
        Cols.epochUs(col("window.end")).as("end_us"),
        col("n"), col("sum_value"))
      .orderBy("start_us")

  /** Session windows per user, 30-min inactivity gap. Spark semantics: a
    * session's end is last-event-time + gap; an event joins the current
    * session iff ts <= current end (Spark 4's MergingSessionsIterator
    * starts a new session only when sessionStart > currentSessionEnd), so
    * an event at EXACTLY the gap still merges and a new session starts
    * only when the gap is > 30 min. The oracle replicates this with the
    * classic gaps-and-islands (lag + cumulative new-session flag)
    * construction — split strictly-greater, matching Spark's boundary. */
  def qWinSession(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Cols.moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        Cols.epochUs(col("session_window.start")).as("start_us"),
        Cols.epochUs(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      // r15: final-sort barrier (TrainingData.sortedOutput) — the range
      // exchange's boundary sampling was re-executing the session
      // aggregation; (user_id, start_us) is unique by session construction
      .transform(TrainingData.sortedOutput(col("user_id"), col("start_us")))

  /** Stream dedup: keep the earliest occurrence per event_id (full column
    * tiebreak so the survivor is unique even for exact-duplicate rows).
    * Streaming analogue: `dropDuplicatesWithinWatermark`. */
  def qDedupEvents(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("user_id"),
      Cols.epochUs(col("ts")).as("ts_us"), col("event_type"), col("value"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("ts_us"), col("user_id"), col("event_type"), col("value"))
    e.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      // r15: examined for the final-sort barrier and left unwrapped — the
      // sort key IS the window partition key, so the repartition merges
      // into the window's own exchange (static no-op, same as qPercentile)
      .orderBy("event_id")
  }

  /** Watermark / late-data policy, batch-emulated: the watermark is the
    * per-type max event time minus 1h; events older than it are "late".
    * Streaming analogue: `withWatermark("ts", "1 hour")` drop semantics. */
  def qLateData(s: SparkSession, d: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    events(s, d)
      .select(col("event_type"), Cols.epochUs(col("ts")).as("us"))
      .withColumn("wm", max(col("us")).over(wt) - lit(HourUs))
      .groupBy(col("event_type"))
      .agg(max(col("wm")).as("watermark_us"),
        count(when(col("us") < col("wm"), 1)).as("n_late"),
        count(when(col("us") >= col("wm"), 1)).as("n_ontime"))
      .orderBy("event_type")
  }

  /** Stateful funnel: per user, first signup → first purchase at-or-after it;
    * converted iff that purchase lands within 24h. Two window passes over the
    * user partition — the batch twin of `flatMapGroupsWithState` (see
    * [[graft.streaming.FunnelState]] for the streaming twin). */
  def qSessionizeFunnel(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("user_id"), col("event_type"), Cols.epochUs(col("ts")).as("us"))
    val wu = Window.partitionBy(col("user_id"))
    e.withColumn("s_us", min(when(col("event_type") === "signup", col("us"))).over(wu))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("signup_us"),
        min(when(col("event_type") === "purchase" && col("us") >= col("s_us"),
          col("us"))).as("purchase_us"))
      .withColumn("converted",
        when(col("purchase_us").isNotNull
          && col("purchase_us") - col("signup_us") <= lit(24L * HourUs), 1L)
          .otherwise(0L))
      .orderBy("user_id")
  }

  /** Per-user session intervals (30-min gap), cached: feeds both range-join
    * shapes below and is the session-interval asset a cluster would
    * materialize once per snapshot. */
  private def sessionIntervals(s: SparkSession, d: String): DataFrame =
    TrainingData.cached("eventSessions", s, d) {
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          Cols.epochUs(col("session_window.start")).as("start_us"),
          Cols.epochUs(col("session_window.end")).as("end_us"))
    }

  /** Pure interval-point range join (NO equi key): for every user session
    * window, how many PURCHASE events — from ANY user — landed inside it
    * (platform load seen during the session). Naive Spark plans this
    * `BETWEEN` join as BroadcastNestedLoopJoin; here it runs through
    * [[graft.plans.BinnedRangeJoin]] (1h bins), which turns it into a
    * shuffled equi-join on the bin id — the 100 TB-safe shape. Inner join:
    * sessions whose window saw no purchase are absent by definition. */
  def qRangeBin(s: SparkSession, d: String): DataFrame = {
    val sessions = sessionIntervals(s, d)
    val purchases = events(s, d)
      .where(col("event_type") === "purchase")
      .select(Cols.epochUs(col("ts")).as("ev_us"))
    graft.plans.BinnedRangeJoin
      .pointInInterval(purchases, "ev_us", sessions, "start_us", "end_us", HourUs)
      .groupBy("user_id", "start_us", "end_us")
      .agg(count(lit(1)).as("n_concurrent"))
      // r16: sort barrier REMOVED (r15 had kept it on a segment≫result
      // argument over a −2% paired read). The sort keys are a PREFIX of
      // the grouping keys, so the barrier does not merge away — it pays
      // a full extra shuffle of the orders-scaled result — while the
      // segment the sampling job re-runs is only the final-merge
      // HashAggregate above the aggregate's own exchange (map-side
      // partials are reused across jobs). Re-measured r16 with the
      // rotated four-arm A/B (−28%) AND paired two-JVM ABBA at sf0.1
      // (false 1.151 vs shuffle 1.452 min-of-medians, −21%) AND at the
      // ×8 grown corpus (false 1.21/1.57 vs shuffle 1.58/2.89 — false
      // wins both positions): the wrap loses in every instrument at
      // every scale probed (OPTIMIZATION_r16.md §5b).
      .orderBy(col("user_id"), col("start_us"))
  }

  /** INTERVAL-INTERVAL overlap join (NO equi key): which user pairs were on
    * the platform concurrently, for how many session pairs and how much
    * combined overlap time. The naive plan is a quadratic
    * BroadcastNestedLoopJoin over all session pairs; here both sides bin
    * through [[graft.plans.BinnedRangeJoin.intervalOverlap]] (1h bins,
    * ownership-bin dedup) so it runs as a shuffled equi-join — the other
    * classic range-join cliff after point-in-interval. A user's own
    * sessions never overlap (session construction guarantees a >= 30-min
    * gap), so `user_a < user_b` both orients pairs and drops self-joins. */
  def qOverlapJoin(s: SparkSession, d: String): DataFrame = {
    val sess = sessionIntervals(s, d)
    val a = sess.toDF("user_a", "a_start", "a_end")
    val b = sess.toDF("user_b", "b_start", "b_end")
    graft.plans.BinnedRangeJoin
      .intervalOverlap(a, "a_start", "a_end", b, "b_start", "b_end", HourUs)
      .where(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("a_end"), col("b_end"))
          - greatest(col("a_start"), col("b_start"))).as("overlap_us"))
      // r15: examined for the final-sort barrier and left unwrapped — the
      // sort keys ARE the grouping keys, so the repartition merges into
      // the aggregate's own exchange (static no-op, same as qPercentile)
      .orderBy("user_a", "user_b")
  }

  /** qResample's grid cap in hours, trailing from the newest observation:
    * 8760 h (1 y) is ~290× the fixture span, so clean-corpus results are
    * untouched. The oracle SQL applies the same clamp from this constant. */
  private[graft] val ResampleMaxHours = 8760

  /** Resample to a fixed 1-hour grid with LINEAR INTERPOLATION of interior
    * gaps (leading/trailing gaps carry the nearest known value) — the
    * gap-fill pass a metrics/feature pipeline runs before any rolling
    * computation, since EWMA/rolling stats are only meaningful on a
    * complete grid. Each grid point reports whether it was observed or
    * filled.
    *
    * Scale: the hourly aggregate map-side combines the event stream down
    * to |types × hours| rows; the grid is generated in-row (sequence →
    * explode, zero shuffle) from a single-row broadcast of the time
    * bounds; the two interpolation windows run over the GRID (bounded by
    * the time span, not the corpus), partitioned by type. */
  def qResample(s: SparkSession, d: String): DataFrame = {
    // three consumers (time bounds, the type list, the grid join) —
    // checkpointed so the raw event stream is scanned ONCE; the hourly
    // aggregate is |types x hours|-bounded, the canonical materialized
    // rollup (ScanAudit r10: 3 scans -> 1)
    val obs = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(avg(col("value")).as("v"))
      .trackedCheckpoint()
    // The grid span is BOUNDED (trailing window from the newest
    // observation, see ResampleMaxHours), never raw data-bounded: with
    // min/max bounds alone, ONE corrupt pre-epoch timestamp stretches
    // sequence() to a century of hours × event types and the query
    // "hangs" materializing millions of grid rows nobody asked for (the
    // round-7 dirty corpus caught exactly that with a 1900-01-01 poison
    // row — 1.09M hours/type).
    val bounds = obs.agg(min(col("hr")).as("mn0"), max(col("hr")).as("mx"))
      .selectExpr(s"greatest(mn0, mx - interval $ResampleMaxHours hours) AS mn",
        "mx")
    val grid = obs.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(mn, mx, interval 1 hour)")).as("hr"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(obs, Seq("event_type", "hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nt", first(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), Cols.epochUs(col("hr")).as("hr_us"),
        Cols.r6(when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((Cols.epochUs(col("hr")) - Cols.epochUs(col("pt"))) * lit(1.0) /
              (Cols.epochUs(col("nt")) - Cols.epochUs(col("pt")))))).as("value"),
        col("v").isNotNull.as("observed"))
      // r15: sort barrier — sampling was re-running BOTH interpolation
      // windows; the grid makes (event_type, hr_us) unique
      .transform(TrainingData.sortedOutput(col("event_type"), col("hr_us")))
  }

  /** Batch last-touch click attribution — the declared twin of the
    * streaming stream-stream interval join
    * ([[graft.streaming.Streams.attributeClicks]]): every purchase is
    * attributed to the SAME USER's latest click at-or-before it, if that
    * click is within the 1-hour attribution horizon. The latest click
    * overall is always the closest, so "latest overall, then check the
    * horizon" equals "latest within the horizon" — which is what lets the
    * as-of union trick below replace a range join entirely.
    *
    * Scale: clicks and purchases union into ONE stream, shuffle once on
    * user_id, and a running ignore-nulls `last` over (ts, tag, id) order
    * carries the newest click onto each purchase row — the q_asof
    * discipline; no per-pair join ever materializes, so cost is linear in
    * events at any scale (the oracle is the independent range-join +
    * rank formulation). */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      Cols.epochUs(col("ts")).as("us"), col("event_type"))
    val tagged = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(0).as("tag"), col("event_id"))
      .unionByName(ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), lit(1).as("tag"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("lc_id", last(when(col("tag") === 0, col("event_id")),
        ignoreNulls = true).over(w))
      .withColumn("lc_us", last(when(col("tag") === 0, col("us")),
        ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .withColumn("attributed", col("lc_us").isNotNull &&
        col("us") - col("lc_us") <= HourUs)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"),
        when(col("attributed"), col("lc_id")).as("click_id"),
        when(col("attributed"), col("us") - col("lc_us")).as("lag_us"),
        col("attributed"))
      // r15: sort barrier — sampling was re-running the as-of union window
      .transform(TrainingData.sortedOutput(col("purchase_id")))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_win_tumbling"      -> (qWinTumbling _),
    "q_win_sliding"       -> (qWinSliding _),
    "q_win_session"       -> (qWinSession _),
    "q_dedup_events"      -> (qDedupEvents _),
    "q_late_data"         -> (qLateData _),
    "q_sessionize_funnel" -> (qSessionizeFunnel _),
    "q_range_bin"         -> (qRangeBin _),
    "q_overlap_join"      -> (qOverlapJoin _),
    "q_resample"          -> (qResample _),
    "q_attribution"       -> (qAttribution _))

  val oracles: ListMap[String, String] = ListMap(
    "q_attribution" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e
        |      WHERE event_type = 'click'),
        |r AS (SELECT p.purchase_id, c.click_id, c.cus,
        |        row_number() OVER (PARTITION BY p.purchase_id
        |          ORDER BY c.cus DESC, c.click_id DESC) AS rn
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.cus <= p.us AND c.cus >= p.us - 3600000000),
        |b AS (SELECT * FROM r WHERE rn = 1)
        |SELECT p.purchase_id, p.user_id, p.us AS purchase_us, b.click_id,
        |  p.us - b.cus AS lag_us, (b.click_id IS NOT NULL) AS attributed
        |FROM p LEFT JOIN b ON p.purchase_id = b.purchase_id
        |ORDER BY p.purchase_id""".stripMargin,
    "q_resample" ->
      s"""WITH obs AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, avg(value) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT greatest(min(hr), max(hr) - INTERVAL $ResampleMaxHours HOUR) AS mn,
        |      max(hr) AS mx FROM obs),
        |grid AS (SELECT t.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM obs) t, b,
        |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) g(hr)),
        |j AS (SELECT g.event_type, g.hr, o.v
        |  FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.hr = o.hr),
        |w AS (SELECT *,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr
        |    ROWS UNBOUNDED PRECEDING) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS pt,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM j)
        |SELECT event_type, epoch_us(hr) AS hr_us,
        |  floor((CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * ((epoch_us(hr) - epoch_us(pt)) * 1.0
        |      / (epoch_us(nt) - epoch_us(pt))) END) * 1000000.0 + 0.5)
        |    / 1000000.0 AS value,
        |  (v IS NOT NULL) AS observed
        |FROM w ORDER BY event_type NULLS FIRST, hr_us""".stripMargin,
    // ts IS NOT NULL: Spark's window()/session_window drop null event
    // times (the declared semantics); DuckDB's bucket arithmetic would
    // otherwise emit a NULL bucket. No-op on clean fixtures (no null ts).
    "q_win_tumbling" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value FROM events
        |          WHERE ts IS NOT NULL)
        |SELECT us - ((us % 3600000000) + 3600000000) % 3600000000 AS start_us,
        |       us - ((us % 3600000000) + 3600000000) % 3600000000
        |         + 3600000000 AS end_us,
        |       event_type, count(*) AS n,
        |       floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM e GROUP BY 1, 2, 3
        |ORDER BY start_us, event_type NULLS FIRST""".stripMargin,
    "q_win_sliding" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
        |          WHERE ts IS NOT NULL),
        |w AS (SELECT us - ((us % 900000000) + 900000000) % 900000000
        |        - j * 900000000 AS start_us, value
        |      FROM e CROSS JOIN generate_series(0, 3) AS t(j))
        |SELECT start_us, start_us + 3600000000 AS end_us, count(*) AS n,
        |       floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM w GROUP BY 1 ORDER BY start_us""".stripMargin,
    "q_win_session" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
        |          WHERE ts IS NOT NULL),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                     THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |       count(*) AS n_events, floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id NULLS FIRST, start_us""".stripMargin,
    "q_dedup_events" ->
      """SELECT event_id, user_id, ts_us, event_type, value FROM (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |         event_type, value,
        |         row_number() OVER (PARTITION BY event_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), user_id, event_type, value) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_late_data" ->
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT *, max(us) OVER (PARTITION BY event_type) - 3600000000 AS wm FROM e)
        |SELECT event_type, max(wm) AS watermark_us,
        |       count(CASE WHEN us < wm THEN 1 END) AS n_late,
        |       count(CASE WHEN us >= wm THEN 1 END) AS n_ontime
        |FROM w GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_sessionize_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
        |        OVER (PARTITION BY user_id) AS s_us FROM e),
        |a AS (SELECT user_id,
        |        min(CASE WHEN event_type = 'signup' THEN us END) AS signup_us,
        |        min(CASE WHEN event_type = 'purchase' AND us >= s_us THEN us END) AS purchase_us
        |      FROM g GROUP BY user_id)
        |SELECT user_id, signup_us, purchase_us,
        |  CASE WHEN purchase_us IS NOT NULL AND purchase_us - signup_us <= 86400000000
        |       THEN 1 ELSE 0 END::BIGINT AS converted
        |FROM a ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_range_bin" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                     THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |iv AS (SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us
        |       FROM s GROUP BY user_id, sid),
        |p AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ev_us FROM events
        |      WHERE event_type = 'purchase')
        |SELECT iv.user_id, iv.start_us, iv.end_us, count(*) AS n_concurrent
        |FROM iv JOIN p ON p.ev_us BETWEEN iv.start_us AND iv.end_us
        |GROUP BY 1, 2, 3 ORDER BY user_id NULLS FIRST, start_us""".stripMargin,
    "q_overlap_join" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                     THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |iv AS (SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us
        |       FROM s GROUP BY user_id, sid)
        |SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_pairs,
        |       CAST(sum(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us)) AS BIGINT) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.start_us <= b.end_us AND b.start_us <= a.end_us
        | AND a.user_id < b.user_id
        |GROUP BY 1, 2 ORDER BY user_a, user_b""".stripMargin)
}

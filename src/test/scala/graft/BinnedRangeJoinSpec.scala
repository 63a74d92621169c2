package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.plans.BinnedRangeJoin

/** Laws for the binned interval-point join: exact equivalence with the naive
  * cross-join + BETWEEN filter (including boundary and bin-edge cases), one
  * output row per qualifying pair, and a physical plan that is an equi-join
  * — never a nested loop. */
class BinnedRangeJoinSpec extends SparkSpec {

  import spark.implicits._

  test("binned join == naive BETWEEN join, boundaries and bin edges included") {
    val binW = 10L
    // Points sit ON interval bounds, ON bin edges, inside, and outside;
    // intervals span 0, 1, and 3 bins, overlap each other, and one is
    // degenerate (lo == hi on a bin edge).
    val points = Seq(0L, 9L, 10L, 11L, 19L, 20L, 25L, 30L, 99L, 100L)
      .toDF("p")
    val intervals = Seq(
      (1L, 0L, 9L),    // exactly bin 0
      (2L, 5L, 25L),   // spans bins 0..2
      (3L, 10L, 10L),  // degenerate, on a bin edge
      (4L, 18L, 22L),  // straddles bin edge 20
      (5L, 90L, 100L)  // right-closed on a bin edge
    ).toDF("iv_id", "lo", "hi")

    val binned = BinnedRangeJoin
      .pointInInterval(points, "p", intervals, "lo", "hi", binW)
      .select("p", "iv_id", "lo", "hi")
    val naive = points.crossJoin(intervals)
      .where(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "iv_id", "lo", "hi")

    val b = binned.collect().map(_.toSeq).toList.sortBy(_.toString)
    val n = naive.collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(b == n)
    // exactly-once: no pair may surface per extra overlapped bin
    assert(b.distinct.size == b.size)
  }

  test("q_range_bin plans an equi-join on the bin id, not a nested loop") {
    val p = operators.EventTime.qRangeBin(spark, sfDir("sf0.001"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_overlap_join plans an equi-join on the bin id, not a nested loop") {
    val p = operators.EventTime.qOverlapJoin(spark, sfDir("sf0.001"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("NULL points and bounds: binned helper == naive everywhere") {
    val points = Seq[Option[Long]](Some(5L), None, Some(25L))
      .toDF("p")
    val intervals = Seq(
      (1L, Option(0L), Option(10L)),
      (2L, None, Option(30L)),     // null lo: BETWEEN is null -> no match
      (3L, Option(20L), None)      // null hi: same
    ).toDF("iv_id", "lo", "hi")
    def naive = points.crossJoin(intervals)
      .where(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "iv_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    val viaHelper = BinnedRangeJoin
      .pointInInterval(points, "p", intervals, "lo", "hi", 10L)
      .select("p", "iv_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(viaHelper == naive)
  }

  test("inverted intervals (lo > hi) yield empty results, never a crash") {
    val points = (0L to 50L).toDF("p")
    val intervals = Seq((1L, 40L, 10L), (2L, 5L, 8L)).toDF("iv_id", "lo", "hi")
    val viaHelper = BinnedRangeJoin
      .pointInInterval(points, "p", intervals, "lo", "hi", 10L)
      .select("iv_id").as[Long].collect().toSet
    assert(viaHelper == Set(2L))
  }

  test("intervalOverlap helper == naive overlap join, edges included, exactly once") {
    val binW = 10L
    val a = Seq(
      (1L, 0L, 9L),     // exactly bin 0
      (2L, 5L, 25L),    // spans bins 0..2
      (3L, 10L, 10L),   // degenerate on a bin edge
      (4L, 18L, 22L),   // straddles bin edge 20
      (5L, 90L, 100L),  // right-closed on a bin edge
      (6L, 40L, 30L)    // inverted: matches nothing
    ).toDF("a_id", "a_lo", "a_hi")
    val b = Seq(
      (10L, 9L, 10L),   // touches 1, 2, 3 at single points
      (20L, 26L, 89L),  // gap-filler: overlaps nothing but 6? no - nothing
      (30L, 0L, 100L),  // overlaps everything non-inverted
      (40L, 20L, 20L),  // degenerate inside 2 and 4
      (50L, 101L, 150L) // starts past every a
    ).toDF("b_id", "b_lo", "b_hi")
    val binned = plans.BinnedRangeJoin
      .intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", binW)
      .select("a_id", "b_id")
    val naive = a.crossJoin(b)
      .where(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id")
    val g = binned.collect().map(_.toSeq).toList.sortBy(_.toString)
    val n = naive.collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(g == n)
    assert(g.distinct.size == g.size, "a pair surfaced at more than one bin")
  }

  test("intervalOverlap: NULL bounds drop rows exactly like the naive join") {
    val a = Seq((1L, Option(0L), Option(10L)), (2L, None, Option(10L)),
      (3L, Option(0L), None)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((7L, Option(5L), Option(6L)), (8L, None, Option(6L)))
      .toDF("b_id", "b_lo", "b_hi")
    val naive = a.crossJoin(b)
      .where(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    val viaHelper = BinnedRangeJoin
      .intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 10L)
      .select("a_id", "b_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(viaHelper == naive && naive == List(Seq(1L, 7L)))
  }

  test("selfPairsWithin == naive keyed self-join, bin edges and Δ == window included") {
    val w = 10L
    // per-key timestamp sets exercising: same-bin pairs, adjacent-bin
    // pairs, Δ exactly == window (inclusive boundary), Δ == window + 1
    // (exclusive), points ON bin edges, a hot key with a dense cluster,
    // and a key whose points all fall in one bin
    val rows = Seq(
      ("u1", 1L, 0L), ("u1", 2L, 9L), ("u1", 3L, 10L), ("u1", 4L, 20L),
      ("u1", 5L, 21L),                     // Δ(4,5)=1 same bin; Δ(3,4)=10=w adjacent
      ("u2", 6L, 0L), ("u2", 7L, 11L),     // Δ=11 > w: no pair
      ("u3", 8L, 5L), ("u3", 9L, 5L),      // Δ=0 duplicate ts, distinct ids
      ("hot", 10L, 0L), ("hot", 11L, 1L), ("hot", 12L, 2L), ("hot", 13L, 3L),
      ("hot", 14L, 50L), ("hot", 15L, 59L), ("hot", 16L, 60L),
      ("u4", 17L, 7L)                      // singleton: no pair
    ).toDF("k", "id", "ts")
    val got = plans.BinnedRangeJoin
      .selfPairsWithin(rows, Seq("k"), "id", "ts", w)
      .select("k", "a_id", "a_ts", "b_id", "b_ts")
    val e1 = rows.toDF("k", "a_id", "a_ts")
    val e2 = rows.toDF("k", "b_id", "b_ts")
    val naive = e1.join(e2, Seq("k"))
      .where(col("a_id") < col("b_id")
        && abs(col("b_ts") - col("a_ts")) <= lit(w))
      .select("k", "a_id", "a_ts", "b_id", "b_ts")
    val g = got.collect().map(_.toSeq).toList.sortBy(_.toString)
    val n = naive.collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(g == n)
    assert(g.distinct.size == g.size, "a pair surfaced more than once")
    // orientation law: every emitted pair has a_id < b_id
    assert(got.where(col("a_id") >= col("b_id")).isEmpty)
  }

  test("selfPairsWithin: null keys and null timestamps drop like the naive join") {
    val w = 10L
    val rows = Seq(
      (Option("u"), Option(1L), Option(3L)),
      (Option("u"), Option(2L), Option(8L)),
      (Option("u"), Option(3L), None),       // null ts: pairs with nothing
      (None, Option(4L), Option(5L)),        // null key: equi-join drops
      (None, Option(5L), Option(6L))
    ).toDF("k", "id", "ts")
    val got = plans.BinnedRangeJoin
      .selfPairsWithin(rows, Seq("k"), "id", "ts", w)
      .select("k", "a_id", "b_id").collect().map(_.toSeq).toList
    assert(got == List(Seq("u", 1L, 2L)))
  }

  test("q_join_range plans an equi-join on (user, bin), not a nested loop") {
    val p = physical(operators.Relational.qJoinRange(spark, sfDir("sf0.001")))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("negative timestamps: selfPairsWithin pairs straddling ts = 0 survive") {
    // r11 ADVICE claimed pairs straddling ts = 0 were dropped under the
    // old truncating `div`; exhaustive simulation REFUTED that (trunc is
    // monotone — bin 0 is just double-wide — see BinnedRangeJoin's
    // scaladoc). Floor binning was adopted anyway for the textbook
    // invariant; this cell pins negative-domain correctness either way:
    // dense 0-straddle, bin edges on both sides of 0, Δ == w inclusive.
    val w = 10L
    val rows = Seq(
      ("u", 1L, -25L), ("u", 2L, -20L), ("u", 3L, -15L), ("u", 4L, -10L),
      ("u", 5L, -5L), ("u", 6L, -1L), ("u", 7L, 0L), ("u", 8L, 4L),
      ("u", 9L, 9L), ("u", 10L, 10L), ("u", 11L, 15L)
    ).toDF("k", "id", "ts")
    val got = plans.BinnedRangeJoin
      .selfPairsWithin(rows, Seq("k"), "id", "ts", w)
      .select("k", "a_id", "a_ts", "b_id", "b_ts")
    val e1 = rows.toDF("k", "a_id", "a_ts")
    val e2 = rows.toDF("k", "b_id", "b_ts")
    val naive = e1.join(e2, Seq("k"))
      .where(col("a_id") < col("b_id")
        && abs(col("b_ts") - col("a_ts")) <= lit(w))
      .select("k", "a_id", "a_ts", "b_id", "b_ts")
    val g = got.collect().map(_.toSeq).toList.sortBy(_.toString)
    val n = naive.collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(g == n)
    assert(g.distinct.size == g.size)
  }

  test("negative bounds: pointInInterval and intervalOverlap match naive across 0") {
    val binW = 10L
    val points = Seq(-21L, -20L, -11L, -10L, -1L, 0L, 1L, 9L, 10L).toDF("p")
    val intervals = Seq(
      (1L, -25L, -15L),  // wholly negative, straddles bin edge -20
      (2L, -5L, 5L),     // straddles 0
      (3L, -10L, -10L),  // degenerate on a negative bin edge
      (4L, 0L, 10L)      // left-closed at 0
    ).toDF("iv_id", "lo", "hi")
    val viaHelper = BinnedRangeJoin
      .pointInInterval(points, "p", intervals, "lo", "hi", binW)
      .select("p", "iv_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    val naive = points.crossJoin(intervals)
      .where(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "iv_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(viaHelper == naive)
    assert(viaHelper.distinct.size == viaHelper.size)

    val a = Seq((1L, -25L, -15L), (2L, -5L, 5L), (3L, -10L, -10L))
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq((10L, -16L, -6L), (20L, -1L, 1L), (30L, -100L, 100L))
      .toDF("b_id", "b_lo", "b_hi")
    val ovGot = plans.BinnedRangeJoin
      .intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", binW)
      .select("a_id", "b_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    val ovNaive = a.crossJoin(b)
      .where(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id").collect().map(_.toSeq).toList.sortBy(_.toString)
    assert(ovGot == ovNaive)
    assert(ovGot.distinct.size == ovGot.size,
      "a pair surfaced at more than one bin")
  }
}

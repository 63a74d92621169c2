package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval-point range join WITHOUT an equi-key, rewritten as a binned
  * equi-join — the technique OSS Spark lacks natively (a pure
  * `p BETWEEN lo AND hi` join plans as BroadcastNestedLoopJoin, O(|P|·|I|)
  * work and a broadcast of a whole side).
  *
  * Shape: intervals explode into the fixed-width bins they overlap
  * (`lo div w .. hi div w`), points map to exactly ONE bin (`p div w`), and
  * the join becomes a shuffled equi-join on the bin id with the range
  * predicate as a residual filter. Because a point owns a single bin, every
  * qualifying (point, interval) pair surfaces exactly once — no dedup pass.
  *
  * This is deliberately tier (a) of the custom-operator ladder (compose
  * existing ops): the binned plan is a plain equi-join, so Catalyst gives
  * AQE, skew handling, codegen and column pruning for free — a custom
  * `SparkPlan` could not beat it without reimplementing all four.
  *
  * At 100 TB: cost is |P| + Σ(interval span / binWidth) shuffled rows and
  * per-bin candidate work, instead of |P|·|I|. Pick `binWidth` near the
  * median interval span so most intervals land in 1–2 bins; heavily
  * overlapped "hot" bins are ordinary join skew, which AQE splits.
  *
  * Bin arithmetic uses exact integer FLOOR division ([[floorBin]]) —
  * never double division, whose rounding near bin boundaries could
  * disagree between the point side and the interval side and silently
  * drop boundary matches. Negative inputs (pre-epoch timestamps) are
  * legal everywhere here. Note for the record (r12, refuting the r11
  * ADVICE scenario AND the previous scaladoc's own caveat): the old
  * truncating `div` was ALSO correct on negatives — truncation toward
  * zero is monotone and merely makes bin 0 double-wide ([-w+1, w-1]),
  * and both the interval-sequence containment (monotonicity) and the
  * selfPairsWithin adjacency lemma (Δts ≤ w ⟹ bin diff ∈ {0, 1};
  * diff = 2 needs floordiff 1 with y a negative non-multiple and x a
  * multiple, impossible within one window — verified exhaustively over
  * the 0-straddle in BinnedRangeJoinSpec's negative cells) survive
  * truncation. Floor was adopted anyway: ⌊·/w⌋ is the textbook
  * invariant, uniform across all three entry points, and deletes the
  * wrong "must be non-negative" caveat instead of proving around it.
  * For non-negative inputs floor and truncation agree bit-for-bit, so
  * declared fixture results are unchanged.
  *
  * Join strategy is deliberately LEFT TO STATS, unlike the linkage
  * symdel/band lanes' shuffle pins, even though the bin explode sits
  * under the join (the r9 gen_join_audit flags both entry points): here
  * the explode-blindness of the static size estimate is bounded by
  * design — `binWidth` near the median span puts most intervals in 1–2
  * bins, so the estimate is off by a small constant, not the ×172 of a
  * deletion-variant explode, and a mis-broadcast is at worst a few ×
  * the intended size rather than corpus-sized. The broadcast plan is
  * also measured 3.9× faster at sf0.1 (q_overlap_join 0.49 vs 1.92 s;
  * BASELINE.md "BroadcastAudit"); past the threshold the estimate
  * crosses honestly (within that same small constant) and the join degrades
  * to the shuffled
  * equi-join the scale analysis above describes.
  */
object BinnedRangeJoin {

  /** Exact floor-division bin id as a SQL expression: `pmod` is
    * non-negative for a positive modulus, so `x - pmod(x, w)` is the
    * largest multiple of `w` ≤ x and the `div` is exact — the integer
    * equivalent of ⌊x/w⌋ for ALL longs, negative included (bare `div`
    * truncates toward zero: `-3 div 10 = 0` but ⌊-0.3⌋ = -1). The bin
    * expr must be the SAME on both join sides — a semantics mismatch at
    * a bin edge silently drops boundary pairs. `e` may be any integral
    * SQL expression (a column name or a composed expr). */
  private def floorBin(e: String, w: Long): String =
    s"(($e) - pmod(($e), ${w}L)) div ${w}L"

  /** Join `points` to every row of `intervals` whose `[loCol, hiCol]`
    * (inclusive) contains `pointCol`. All three columns must be integral
    * (e.g. epoch-micros; negatives are fine — floor binning); column
    * names must not collide across the two inputs. Output = point
    * columns ++ interval columns.
    */
  def pointInInterval(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val iv = intervals.withColumn("__bin",
      explode(sequence(
        expr(floorBin(loCol, binWidth)), expr(floorBin(hiCol, binWidth)))))
    val pt = points.withColumn("__bin", expr(floorBin(pointCol, binWidth)))
    pt.join(iv, pt("__bin") === iv("__bin")
        && pt(pointCol) >= iv(loCol) && pt(pointCol) <= iv(hiCol))
      .drop("__bin")
  }

  /** Join `a` to every row of `b` whose `[bLo, bHi]` overlaps `[aLo, aHi]`
    * (inclusive on both ends: `aLo <= bHi && bLo <= aHi`). Both sides
    * explode over their bin ranges, so a pair can share many bins; the
    * OWNERSHIP predicate — emit only at bin `max(aLo, bLo) div w` — keeps
    * exactly one copy without a dedup shuffle: that bin is an endpoint of
    * the later-starting interval's sequence and, by the overlap condition,
    * lies inside the other's. Column names must not collide across inputs.
    * Output = a's columns ++ b's columns.
    *
    * At 100 TB: Σ(span/w) shuffled rows per side vs |A|·|B| comparisons —
    * the same economics as [[pointInInterval]], with `binWidth` near the
    * median SPAN of the shorter-interval side.
    */
  /** All UNORDERED pairs of `points` rows sharing `keys` whose `tsCol`
    * values differ by at most `window` (inclusive), each pair emitted
    * exactly once and oriented `a_<idCol> < b_<idCol>`. Output columns:
    * keys ++ (a_idCol, a_tsCol, b_idCol, b_tsCol).
    *
    * This is the self-pair variant of the ownership-bin discipline: a
    * bare self-join on `keys` alone is Σ per-key² candidate pairs — one
    * hot key (the r6 skew-octave shape) makes a single task quadratic.
    * Binning each point at `ts div window` and probing only (bin, bin+1)
    * bounds candidates by per-(key, adjacent-bin) mass instead: since
    * |Δts| ≤ window implies the two bins differ by at most 1
    * (⌊y/w⌋ ≤ ⌊(x+w)/w⌋ = ⌊x/w⌋+1), every qualifying pair meets the
    * probe, and the OWNERSHIP predicate — same bin: smaller id emits;
    * adjacent bins: only the probe row exploded to bin+1 emits — keeps
    * exactly one copy with no dedup shuffle, exactly like
    * [[intervalOverlap]]'s max-lo bin rule. `tsCol` must be integral;
    * negatives are fine — [[floorBin]] keeps the ⌊y/w⌋ ≤ ⌊x/w⌋+1 lemma
    * textbook-exact on all longs (the pre-r12 truncating `div` also
    * satisfied it, non-obviously — see the object scaladoc). `idCol`
    * must be unique within a key group (it both orders the pair and
    * drops the self-pair).
    *
    * At 100 TB: the join shuffles on (keys, bin) — 2|P| probe rows and
    * |P| build rows — and per-task work is per-(key, bin)² candidate
    * mass, so a key's cost grows with its per-window density, not with
    * its total row count; a residual hot (key, bin) is ordinary join
    * skew, which AQE splits. */
  def selfPairsWithin(
      points: DataFrame, keys: Seq[String], idCol: String, tsCol: String,
      window: Long): DataFrame = {
    require(window > 0, "window must be positive")
    val base = points.select(
      keys.map(col) ++ Seq(col(idCol), col(tsCol)): _*)
    val probe = base
      .withColumn("__bin", expr(floorBin(tsCol, window)))
      .withColumn("__jbin", explode(array(col("__bin"), col("__bin") + 1L)))
      .toDF(keys ++ Seq(s"a_$idCol", s"a_$tsCol", "__bin", "__jbin"): _*)
    val build = base
      .withColumn("__bbin", expr(floorBin(tsCol, window)))
      .toDF(keys.map("__b_" + _) ++ Seq(s"b_$idCol", s"b_$tsCol", "__bbin"): _*)
    val keyCond = keys.map(k => probe(k) === build(s"__b_$k"))
      .foldLeft(probe("__jbin") === build("__bbin"))(_ && _)
    probe.join(build, keyCond)
      .where(abs(col(s"b_$tsCol") - col(s"a_$tsCol")) <= lit(window)
        // ownership: emit the same-bin case once (smaller id) and the
        // adjacent-bin case only from the +1 probe row
        && ((col("__bin") === col("__bbin")
              && col(s"a_$idCol") < col(s"b_$idCol"))
            || col("__bin") + 1L === col("__bbin")))
      // the adjacent-bin case emits with a = the earlier-BIN event, which
      // is not necessarily the smaller id — normalize the orientation
      .select(keys.map(col) ++ {
        val lt = col(s"a_$idCol") < col(s"b_$idCol")
        Seq(when(lt, col(s"a_$idCol")).otherwise(col(s"b_$idCol")).as(s"a_$idCol"),
          when(lt, col(s"a_$tsCol")).otherwise(col(s"b_$tsCol")).as(s"a_$tsCol"),
          when(lt, col(s"b_$idCol")).otherwise(col(s"a_$idCol")).as(s"b_$idCol"),
          when(lt, col(s"b_$tsCol")).otherwise(col(s"a_$tsCol")).as(s"b_$tsCol"))
      }: _*)
  }

  def intervalOverlap(
      a: DataFrame, aLo: String, aHi: String,
      b: DataFrame, bLo: String, bHi: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val ea = a.withColumn("__abin",
      explode(sequence(
        expr(floorBin(aLo, binWidth)), expr(floorBin(aHi, binWidth)))))
    val eb = b.withColumn("__bbin",
      explode(sequence(
        expr(floorBin(bLo, binWidth)), expr(floorBin(bHi, binWidth)))))
    ea.join(eb, ea("__abin") === eb("__bbin")
        && ea(aLo) <= eb(bHi) && eb(bLo) <= ea(aHi))
      // the SAME floor binning as the bin ids — a different rounding at
      // a bin edge would drop (or double-emit) a boundary pair
      .where(expr(s"__abin = (${floorBin(s"greatest($aLo, $bLo)", binWidth)})"))
      .drop("__abin", "__bbin")
  }
}

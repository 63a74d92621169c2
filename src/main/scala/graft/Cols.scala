package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column helpers enforcing the determinism conventions of
  * SURVEY.md §2 (epoch-micros instants, rounded double aggregates).
  */
object Cols {

  /** Instant → epoch microseconds (BIGINT), the canonical cross-engine
    * representation of a point in time (DuckDB: `epoch_us(ts)`).
    *
    * Fixture timestamps are parquet `isAdjustedToUTC=false` → Spark 4 reads
    * them as TIMESTAMP_NTZ; the session timezone is pinned UTC, so the cast
    * to TIMESTAMP is wall-clock preserving and matches DuckDB's naive
    * `epoch_us` exactly.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Money rounding (2 decimals).
    *
    * NOT Spark's `round` (BigDecimal HALF_UP) — that disagrees with DuckDB's
    * FP-based `round` at half-boundaries, which are common here (price ×
    * discount products have 4 decimals). Instead both engines evaluate the
    * bit-identical IEEE formula `floor(x*100.0 + 0.5)/100.0` (oracle side:
    * [[graft.OracleDsl.r2]]), so the result is deterministic across engines
    * by construction.
    */
  def r2(c: Column): Column =
    when(isnan(c), c)
      .otherwise(floor(c * lit(100.0) + lit(0.5)) / lit(100.0))

  /** Cent-rounded money SUM — the one aggregate shape the ×16 grown run
    * proved is ENGINE-DEFINED at boundary cells on the default fp64 lane
    * (BASELINE r14: q_join_broadcast at ×16, DuckDB's accumulation lands
    * at 19596053185.784218 — 0.0008 BELOW the half-cent boundary — while
    * Spark's differently-ordered partial aggregation lands above it; at
    * ~2×10¹⁰ sums the engines' accumulation-order spread is ~hundreds of
    * ULPs ≈ millicents, so with enough output cells one eventually
    * straddles a rounding boundary).
    *
    * DECISION (r15, r14 verdict item 4): the DEFAULT stays the fp64 sum —
    * it is the declared semantics the whole oracle surface and the frozen
    * hash gate are built on, it is what every mainstream engine computes
    * for `sum(double)`, and the boundary class is unreachable at every
    * declared SF (triple-SF sweep exact; first observed only at ×16).
    * Deployments that need BIT-REPRODUCIBLE money across partitionings,
    * retries and plan changes opt in with `spark.graft.money.decimal=
    * true`: each input is cast to DECIMAL(38,16) (Spark's double→decimal
    * cast goes through the SHORTEST decimal representation —
    * `BigDecimal(Double.toString)` — so a money-scale double becomes
    * exactly its printed value, deterministically per value), summed
    * EXACTLY (decimal addition is associative, so the result is
    * accumulation-order-independent by construction — the cent class
    * cannot fire), cast back to double (one deterministic rounding of
    * one exact value) and r2-rounded. The guarantee is ENGINE-INTERNAL
    * determinism: cross-engine cent equality additionally requires the
    * other engine to share the shortest-repr cast convention (DuckDB,
    * for one, casts the exact binary value instead). NaN propagates explicitly
    * (decimal has no NaN; an unguarded ANSI cast would error): any NaN
    * input yields a NaN sum, matching the fp64 lane's declared
    * poison-stays-visible semantics. Scope: the 24 plain money-sum
    * aggregates; running-window sums (the three `.over` sites) keep fp64 —
    * their per-frame accumulation counts are orders of magnitude smaller
    * and their ordering is declared by the frame itself. Cost: decimal
    * aggregation runs outside the vectorized fast path (~2–4× the sum's
    * CPU), which is why it is a dial and not the default.
    *
    * Lane relationship at declared SFs (measured, the `decmoney`
    * ConfParity extra-arm at sf0.01): 137/138 queries bit-identical; the
    * one mover (q_date_spine, 7 of ~2500 cells) is the HALF-CENT
    * BOUNDARY population — 4-decimal money products whose exact sum
    * lands within ~1e-7 of the x.xx5 grid (e.g. 1665422.974999999938),
    * where the fp64 cent is accumulation-order luck by construction and
    * the decimal lane returns the deterministic resolution. So the lane
    * does not merely match fp64 with stability added: it REPLACES an
    * unstable coin flip on exactly the boundary population, at every
    * scale. MoneyLaneSpec pins the divergence-class law (every lane diff
    * is a one-cent flip on a boundary cell) and the order-independence
    * proof; BASELINE.md round 15 "DECIMAL money lane" shows the class
    * cannot fire across partitionings at grown volume.
    */
  def moneySum(c: Column): Column =
    if (org.apache.spark.sql.SparkSession.active.conf
          .get("spark.graft.money.decimal", "false").toBoolean) {
      val exact = sum(nanNull(c).cast("decimal(38,16)"))
      when(count(when(isnan(c), lit(1))) > 0, lit(Double.NaN))
        .otherwise(r2(exact.cast("double")))
    } else r2(sum(c))

  /** Ratio rounding (6 decimals) — same shared-formula trick as [[r2]]. */
  def r6(c: Column): Column =
    when(isnan(c), c)
      .otherwise(floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0))

  /** NaN → null (aggregates then ignore it). The declared semantics for
    * ORDER STATISTICS and MOMENTS (percentile, stddev/var, corr, z-score
    * baselines): a NaN measurement is invalid data and leaves the
    * statistic, where plain sums/rounding folds PROPAGATE NaN to keep the
    * poison visible. Cross-engine this is also forced: engines disagree on
    * where NaN sorts inside a quantile and DuckDB's stddev hard-errors on
    * NaN input, so "exclude invalid" is the only portable contract
    * (oracle side: `CASE WHEN NOT isnan(x) THEN x END`). */
  def nanNull(c: Column): Column = when(!isnan(c), c)

  /** ANSI-independent array length: NULL on a NULL array under BOTH ANSI
    * modes. Bare `size(NULL)` is session-conf-dependent — NULL under ANSI
    * on (Spark 4's default, the mode every oracle parity run uses) but
    * legacy `-1` under ANSI off — so using it in an output or arithmetic
    * position silently couples the RESULT to `spark.sql.ansi.enabled`
    * (caught by ConfParity's noansi arm on the dirty corpus: a -1 "token
    * count" for a null-text poison doc shifted q_bm25's corpus avgdl and
    * q_mix_weights' per-source token totals). Pure filter positions
    * comparing to a positive bound (`size(x) >= k`) are mode-safe — NULL
    * and -1 both fail the predicate — and may keep bare `size`. */
  def sizeN(c: Column): Column = when(c.isNotNull, size(c))

  /** Normalized content hash, the exact-dedup key: SHA-256 of the
    * lowercased, trimmed text. Exact dedup, the curation pipeline, the
    * incremental batch-vs-history probe and the streaming ingest's
    * persisted hash set all key on it, so a doc hashes the same
    * everywhere it is compared. */
  def contentHash(text: Column): Column = sha2(lower(trim(text)), 256)

  /** Deterministic sampling/split bucket in [0, m): xorshift → modular
    * multiply → xorshift over a non-negative key, replayed verbatim in the
    * oracles (DuckDB `xor`/`>>`/`%`). The xorshift rounds make the bucket
    * depend on the key's HIGH bits — a bare `key·c % m` with c coprime to m
    * is just a permutation of `key % m`, so same-residue keys would share a
    * bucket forever and any id-assignment structure mod m biases the
    * sample. Every intermediate stays < 2⁶⁰ (28-bit modulus × 32-bit
    * constant), so no long overflow under ANSI for any key —
    * `key·2654435761` alone overflows past key ≈ 3.4·10⁹, i.e. exactly at
    * the corpus sizes the samplers exist for. */
  def mixBucket(key: Column, m: Int): Column = {
    val h0 = key.bitwiseXOR(shiftrightunsigned(key, 33))
    val h1 = pmod(h0, lit(268435399L)) * lit(2654435761L)
    val h2 = h1.bitwiseXOR(shiftrightunsigned(h1, 29))
    h2 % m
  }
}

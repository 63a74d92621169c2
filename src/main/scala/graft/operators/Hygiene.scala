package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Corpus/record hygiene operators: the cleanup passes that run between raw
  * ingest and the dedup/quality stages — segment-level boilerplate removal
  * (the CCNet line-dedup step), k-anonymity generalization, and blocked
  * fuzzy record linkage.
  *
  * Scale notes:
  *  - line dedup: the segment-frequency table is |distinct segments| (≪
  *    corpus after map-side combine); the join back to the corpus keys on
  *    (source, segment) and degrades broadcast → shuffle as the segment
  *    dictionary grows; the rebuild is one shuffle on doc_id.
  *  - k-anonymity: one map-side-combined aggregate over the generalized
  *    quasi-identifier — class count rows, not record rows, leave the
  *    exchange.
  *  - record linkage: candidate pairs come only from bounded blocks
  *    (Σ block² ≪ n²), the standard entity-resolution shape; the edit
  *    distance runs on candidates only.
  */
object Hygiene {

  /** CCNet-style segment-level boilerplate removal. The dedup unit is a
    * 5-token segment at stride 5 (the fixture corpus has no newlines, so
    * fixed-stride word windows stand in for lines — same semantics, the
    * unit is a dial). A segment is boilerplate when its exact content
    * appears in ≥ 2 distinct documents of the same source; each document
    * reports its segment count, how many survived, and an md5 of the
    * rebuilt (boilerplate-free) text — the content signature convention of
    * q_chunk.
    *
    * Scale: segmentation is in-row (sequence → slice, zero shuffle); the
    * frequency pass is a map-side-combined aggregate whose output is
    * |distinct segments| rows; the rebuild re-assembles segments in
    * seg_idx order inside a per-doc aggregate — one shuffle on doc_id,
    * order restored by an in-row array_sort, never a window sort over the
    * corpus. */
  def qLineDedup(s: SparkSession, d: String): DataFrame = {
    // segment table feeds two subtrees (frequency pass + rebuild join)
    val segs = TrainingData.cached("lineSegs", s, d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("lang"), col("source"),
          posexplode(expr(
            "transform(sequence(0, CAST((size(toks) + 4) DIV 5 AS INT) - 1), " +
              "i -> array_join(slice(toks, i * 5 + 1, 5), ' '))"))
            .as(Seq("seg_idx", "seg")))
    }
    val freq = segs.groupBy(col("source"), col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    // MERGE-PINNED for the same reason as qSubstringDup's shingle-freq
    // join-back (see there — r15 ×16 broadcast-OOM root cause): freq's
    // cardinality is the distinct (source, segment-text) count,
    // corpus-linear and never broadcastable at scale; seg strings
    // compress less than shingle longs, so this twin had not fired YET,
    // but the hazard class is identical.
    segs.join(freq.hint("merge"), Seq("source", "seg"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("nd") < 2, lit(1))).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("nd") < 2,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")),
          " ")).as("clean_md5"))
      .transform(TrainingData.sortedOutput(col("doc_id")))
  }

  /** k-anonymity audit: generalize the customer quasi-identifier to
    * (region, market segment, 1000-wide balance band) and report every
    * equivalence class with its size and whether it meets k = 5 — the
    * pre-release check a dataset publisher runs to find re-identifiable
    * rows (classes below k are the ones to suppress or generalize
    * further).
    *
    * Scale: two broadcast dimension hops (nation, region are bounded) and
    * ONE map-side-combined aggregate — class rows leave the exchange, not
    * customer rows; at 100 TB this is a scan + small shuffle. */
  def qAnonymize(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .withColumn("bal_band",
        (floor(col("c_acctbal") / 1000.0) * 1000).cast("long"))
      .groupBy(col("r_name").as("region"),
        col("c_mktsegment").as("segment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"))
      .withColumn("meets_k", col("class_size") >= 5)
      .orderBy("region", "segment", "bal_band")

  /** Blocked fuzzy record linkage (entity resolution): candidate pairs
    * only within a (nation, market segment) block, matched at name edit
    * distance ≤ 2. The block bounds candidates to Σ block² instead of n² —
    * but block sizes grow LINEARLY with the corpus (the key space is
    * fixed at ~125 blocks), so Σ block² is still quadratic in n: measured
    * 88 → 8,965 → 901,746 candidate pairs across sf0.001/0.01/0.1 (×100
    * per 10× data). [[linkageAutoChoice]] picks the candidate generator
    * from the corpus; both lanes produce the IDENTICAL match set (every
    * candidate passes the same bounded Levenshtein verify — O(len·k)
    * banded DP, −1 past the bound — and RecordLinkageBlockSpec pins the
    * equality on clean + adversarial corpora), so the pick is a pure cost
    * choice with no correctness dimension:
    *
    *  - `block`: the plain within-block join. Fastest at the declared
    *    fixture SFs (≤ sf0.1, where the quadratic candidate mass is still
    *    cheap next to the fixed costs); measured ×4 candidates per 2×
    *    rows, so it loses the wall from ~sf0.2 up.
    *  - `symdel`: symmetric deletion neighborhoods (the SymSpell
    *    technique). ed(a,b) ≤ 2 ⟹ deleting ≤ 2 chars from EACH side can
    *    equalize them (map an optimal script: substitution → delete on
    *    both sides, indel → delete on one), so each name emits its
    *    ≤2-deletion variants (1 + L + C(L,2), deduped in-row) and
    *    candidates are the within-block self-join on variant equality.
    *    Immune to the constant-prefix/suffix failure mode of positional
    *    schemes — a shared variant certifies closeness directly. Block's
    *    candidate mass is exactly quadratic while symdel's grows
    *    near-linearly: symdel wins from sf0.2, ×4.7 at sf2 with 38× fewer
    *    candidates (BASELINE.md round 9, "Record-linkage crossover,
    *    measured — twice").
    *
    * At the ×8 grown corpus block burned 26.1 s where the pick (symdel)
    * took 20.0 s (BASELINE r12). */
  def qRecordLinkage(s: SparkSession, d: String): DataFrame =
    recordLinkage(s, d, linkageAutoChoice(s, d)._1)

  /** [[qRecordLinkage]] on a given candidate lane (`block` | `symdel`). */
  private[graft] def recordLinkage(s: SparkSession, d: String,
      lane: String): DataFrame =
    linkageCandidates(s, d, lane)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name"), 2))
      .where(col("dist") >= 0)
      .select(col("a_key"), col("b_key"), col("nationkey").cast("int"),
        col("segment"), col("dist").cast("long"))
      .transform(TrainingData.sortedOutput(col("a_key"), col("b_key")))

  /** Candidate-pair generator behind [[qRecordLinkage]]. Returns
    * (a_key, a_name, b_key, b_name, nationkey, segment) with
    * a_key < b_key; every lane yields a candidate SUPERSET of the true
    * ed ≤ 2 within-block pairs — the bounded-Levenshtein verify in
    * qRecordLinkage is the single source of truth for matches. */
  def linkageCandidates(s: SparkSession, d: String,
      lane: String): DataFrame = {
    require(Set("block", "symdel")(lane),
      s"linkage lane must be block or symdel, got $lane")
    val c = customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    val cand =
      if (lane == "block")
        c.toDF("a_key", "a_name", "nationkey", "segment")
          .join(c.toDF("b_key", "b_name", "nationkey", "segment"),
            Seq("nationkey", "segment"))
          .where(col("a_key") < col("b_key"))
      else {
        val base = c.toDF("key", "name", "nationkey", "segment")
          .where(col("name").isNotNull)
          .withColumn("len", length(col("name")))
        // all ≤2-deletion variants, built in-row; `pos` guards the empty
        // string (sequence(1, 0) would count DOWN in Spark)
        val variants =
          "array_distinct(array(name) || " +
            "coalesce(transform(pos, i -> " +
            "  concat(substring(name, 1, i - 1), substring(name, i + 1, len))" +
            "), array()) || " +
            "coalesce(flatten(transform(pos, i -> " +
            "  transform(filter(pos, j -> j > i), j -> " +
            "    concat(substring(name, 1, i - 1), " +
            "           substring(name, i + 1, j - i - 1), " +
            "           substring(name, j + 1, len)))" +
            ")), array()))"
        val v = base
          .withColumn("pos",
            expr("case when len >= 1 then sequence(1, len) end"))
          .select(col("key"), col("name"), col("nationkey"), col("segment"),
            explode(expr(variants)).as("v"))
        // The self-join input is EXPLODE-inflated (~172 variants/row) and
        // Generate's size estimate does not see that, so the static
        // planner broadcasts a corpus-sized table: measured 6.5× slower
        // than shuffle at ×10 growth and "Not enough memory to build and
        // broadcast" (hard failure) at ×20 (BASELINE.md round 9). Stats
        // are structurally wrong below an explode, so this join is
        // hint-pinned to shuffle — the exception that proves the repo's
        // let-stats-decide rule.
        v.toDF("a_key", "a_name", "nationkey", "segment", "v")
          .hint("shuffle_merge")
          .join(v.toDF("b_key", "b_name", "nationkey", "segment", "v"),
            Seq("nationkey", "segment", "v"))
          .where(col("a_key") < col("b_key"))
          .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"),
            col("nationkey"), col("segment"))
          .distinct()
      }
    cand.select(col("a_key"), col("a_name"), col("b_key"), col("b_name"),
      col("nationkey"), col("segment"))
  }

  /** [[qRecordLinkage]]'s lane pick, exposed for specs: one
    * aggregate pass over the customer table computes the two lanes'
    * measured cost drivers —
    *  - `block_pairs` = Σ_blocks cnt·(cnt−1)/2, the exact candidate count
    *    the block lane will verify (its wall is linear in this; measured
    *    ×4 per ×2 rows on the fixture family), and
    *  - `variant_rows` = Σ_names (1 + L + C(L,2)), the exact row count the
    *    symdel explode emits (its wall is near-linear in this; the
    *    variant-equality join adds little — 38× fewer candidates than
    *    block at sf2)
    * — and picks symdel iff block_pairs > 0.6 · variant_rows. The 0.6 is
    * calibrated on crossover_v3 (BASELINE.md): the walls cross between
    * sf0.1 (ratio 0.35, block ×2.0 faster) and sf0.2 (ratio 0.70, symdel
    * ×1.16 faster), and block_pairs doubles per octave relative to
    * variant_rows, so any threshold in [0.4, 0.7] tracks the measured
    * winner at every probed scale; 0.6 biases toward block near the tie,
    * where block is the safer loser (sub-linear penalty) and symdel's
    * explode constant is the risk.
    *
    * The returned stats are ONE row (the third sanctioned bounded
    * `.collect()` in src/main, after Bench warm-up and the 24×64 IVF
    * centroid pull): a 2-long aggregate over ≤ |blocks| partials —
    * driver state is O(1) regardless of corpus size, and the pass itself
    * is a map-side-combined count/sum, ~free next to either lane. */
  def linkageAutoChoice(s: SparkSession, d: String): (String, Long, Long) = {
    val len = length(col("c_name")).cast("double")
    // The decision variables must match what the lanes actually do on
    // null-heavy corpora (r10 advice): BOTH lanes equi-join on
    // (nationkey, segment), so a null-key group emits zero block
    // candidates — exclude those groups from block_pairs; the block lane
    // has NO name filter, so null-name rows DO count toward cnt. The
    // symdel explode, by contrast, runs BEFORE its join: variant_rows
    // keeps null-key groups' named rows (their explode cost is real) and
    // skips null names naturally (null len ⇒ null term ⇒ sum ignores).
    val r = customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        sum(lit(1.0) + len + len * (len - lit(1.0)) / lit(2.0)).as("vars"))
      .agg(sum(when(
          col("c_nationkey").isNotNull && col("c_mktsegment").isNotNull,
          col("cnt") * (col("cnt") - 1L) / lit(2L))).as("block_pairs"),
        sum(col("vars")).as("variant_rows"))
      .collect()(0)
    // `/` is fractional division in Spark, so both sums come back DOUBLE;
    // exact for any count below 2^53 (far beyond a collectable corpus)
    val blockPairs = if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
    val variantRows = if (r.isNullAt(1)) 0L else r.getDouble(1).toLong
    val choice =
      if (blockPairs > 0.6 * variantRows) "symdel" else "block"
    (choice, blockPairs, variantRows)
  }

  /** Cross-document long-substring duplication (the signal behind
    * suffix-array dedup of training corpora): per document, how many of its
    * distinct 30-char windows also occur verbatim in ANOTHER document, the
    * duplicated fraction, and a flag at ≥ 50%. Exact-duplicate and
    * copy-paste-contaminated docs light up at 1.0; organic text stays near
    * 0.
    *
    * Scale: windows travel as 64-bit hashes from the one-pass
    * [[graft.functions.ShingleHashes]] kernel (never strings — the shuffle
    * carries 8 bytes per window and a within-corpus collision is
    * ~|windows|²/2⁶⁴); the frequency pass is a map-side-combined aggregate;
    * the join back keys on the hash and degrades broadcast → shuffle as
    * the corpus grows. This is the hashed-window approximation of the
    * suffix-array method — linear passes only, no suffix sort. */
  def qSubstringDup(s: SparkSession, d: String): DataFrame = {
    val shingles = graft.functions.ShingleHashes.shingles(s) _
    // window table feeds the frequency pass AND the join back
    val wins = TrainingData.cached("subWins", s, d) {
      documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .where(length(col("text")) >= 30)
        .select(col("doc_id"), explode(shingles(col("text"), 30)).as("h"))
    }
    // r16: count(1), NOT countDistinct(doc_id) — wins rows are distinct
    // per (doc_id, h) BY CONSTRUCTION (ShingleHashes emits the sorted
    // DISTINCT hash set per document; DedupEdgeSpec pins it), so the two
    // are equal while countDistinct plans a second (h, doc_id) dedup
    // exchange ahead of the count. One aggregate, map-side combined,
    // 2 exchanges → 1 on the frequency pass (guide §2.4).
    val freq = wins.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    // MERGE-PINNED join-back (r15): freq's cardinality is the DISTINCT
    // SHINGLE count — corpus-linear, never broadcastable at scale. Without
    // the pin, AQE's runtime flip converts this SMJ to broadcast whenever
    // freq's COMPRESSED shuffle bytes dip under the 10 MB adaptive
    // threshold — and two-long rows compress ~50×, so at the ×16 grown
    // corpus (~sf1.6) an ~8 MB shuffle deserialized into a multi-GB
    // HashedRelation and killed the driver with "Not enough memory to
    // build and broadcast" EXACTLY when concurrent heap pressure was high
    // (the r14 "unreproduced transient", root-caused from the preserved
    // ×16 Verify log this round: stats-underestimated AQE broadcast of an
    // unbounded aggregate side — the flip is load-dependent, so solo
    // re-runs passed). The merge hint survives AQE replanning; the cost
    // is the honest linear re-shuffle of wins on h.
    //
    // Dup-only split (OPTIMIZATION_r16.md §3): n_win needs NO join (it is
    // a per-doc count over wins), and n_dup only needs the h values with
    // nd >= 2 — organic text is mostly unique shingles, so the
    // duplicated-h set is a small fraction of freq. The SMJ's right side
    // sorts |dup h| rows instead of |distinct h|, and only dup win rows
    // flow into the per-doc aggregate; the two |docs|-bounded per-doc
    // frames then join once.
    val nWin = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_win"))
    val dupH = freq.where(col("nd") >= 2).select(col("h"))
    val nDup = wins.join(dupH.hint("merge"), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nd_"))
    // merge-pinned too: BOTH per-doc sides are corpus-linear in |docs|
    // (the same compressed-small/deserialized-huge AQE-flip hazard as
    // freq), and both arrive hash-partitioned by doc_id from their own
    // aggregates, so the merge join reuses those exchanges — the pin
    // costs sorts only, never a new shuffle.
    nWin.join(nDup.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"),
        coalesce(col("nd_"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        graft.Cols.r6(col("n_dup").cast("double") / col("n_win")))
      .withColumn("flagged", col("dup_frac") >= 0.5)
      .transform(TrainingData.sortedOutput(col("doc_id")))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_line_dedup" -> (qLineDedup _),
    "q_anonymize" -> (qAnonymize _),
    "q_record_linkage" -> (qRecordLinkage _),
    "q_substring_dup" -> (qSubstringDup _))

  val oracles: ListMap[String, String] = ListMap(
    "q_line_dedup" ->
      """WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |segs AS (SELECT doc_id, lang, source, CAST(i AS INT) AS seg_idx,
        |    array_to_string(toks[(i*5+1):(i*5+5)], ' ') AS seg
        |  FROM t, unnest(range(0, (len(toks)+4)//5)) r(i)),
        |freq AS (SELECT source, seg, count(DISTINCT doc_id) AS nd
        |         FROM segs GROUP BY 1, 2)
        |SELECT s.doc_id, s.lang, s.source, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(count(*) FILTER (f.nd < 2) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_idx)
        |        FILTER (f.nd < 2), '')) AS clean_md5
        |FROM segs s JOIN freq f ON s.source = f.source AND s.seg = f.seg
        |GROUP BY 1, 2, 3 ORDER BY s.doc_id""".stripMargin,
    "q_anonymize" ->
      """SELECT r_name AS region, c_mktsegment AS segment,
        |  CASE WHEN isnan(c_acctbal) THEN 0
        |       ELSE CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) END
        |    AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  (count(*) >= 5) AS meets_k
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY region, segment NULLS FIRST, bal_band NULLS FIRST""".stripMargin,
    "q_record_linkage" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
        |  a.c_nationkey AS nationkey, a.c_mktsegment AS segment,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY a_key, b_key""".stripMargin,
    "q_substring_dup" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(text) - 28),
        |      i -> substr(text, CAST(i AS INT), 30)))) AS win
        |  FROM documents WHERE len(text) >= 30),
        |f AS (SELECT win, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_win,
        |  CAST(count(*) FILTER (f.nd >= 2) AS BIGINT) AS n_dup,
        |  floor((count(*) FILTER (f.nd >= 2)) * 1.0 / count(*)
        |    * 1000000.0 + 0.5) / 1000000.0 AS dup_frac,
        |  (floor((count(*) FILTER (f.nd >= 2)) * 1.0 / count(*)
        |    * 1000000.0 + 0.5) / 1000000.0 >= 0.5) AS flagged
        |FROM w JOIN f ON w.win = f.win
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Gap-corpus generator behind the q_sim_pairs lane measurements
  * (BASELINE.md, "q_sim_pairs lanes — the r10 prescription, measured and
  * corrected"). */
object SimPairsProbe {
  /** Deterministic dedup-shaped corpus: random background, planted
    * near-identical twins (cos ≈ 0.9998), nothing in between — the
    * boundary-desert shape. Public: SimPairsLaneSpec builds its fixtures
    * with the same generator the measurements used.
    *
    * EXACT SHAPE (r11 ADVICE correction — the generator, not the old
    * comment, is what every recorded measurement ran on): all `twins`
    * twin rows in a label perturb the SAME base row (base row id =
    * label index, because the twin seed is `id % labels`), so each
    * label's twins form one mutual cos-1.0 CLIQUE around that base row
    * — C(twins/labels + 1, 2) qualifying pairs per label, more than the
    * matched-twin shape the comment used to describe. The gap-equality
    * and crossover cells measure block-vs-lsh on qualifying-pair mass
    * and candidate mass, which this shape provides exactly as claimed;
    * the clique just concentrates the qualifying pairs on one hub per
    * label. Kept as-is so the BASELINE r11 crossover/gap numbers remain
    * reproductions of this exact generator.
    *
    * Background-tail bound (r11 verdict item 7): the background vectors
    * are pseudo-random in [-1, 1]^64, so background-pair cosines
    * concentrate near 0 with an O(1/√dim) tail; as rows-per-label grows
    * the C(n/labels, 2) background pair count eventually populates
    * [theta, captureBound) by sheer mass — measured around ~50k
    * rows/label at theta = 0.7 — and simPairsAutoChoice then (correctly)
    * reports a populated boundary and flips auto to block. Crossover
    * cells past that size must call the lanes directly, not auto. */
  def mkGap(spark: SparkSession, n: Int, labels: Int,
      twins: Int, dir: String): Unit = {
    // deterministic base vectors; twin j duplicates base row (j % labels)
    // — the per-label clique shape documented above — with a tiny
    // deterministic perturbation on one coordinate (cos ≈ 0.999)
    val base = spark.range(n).selectExpr(
      "id as vec_id",
      s"cast(id % $labels as int) as label",
      // xxhash64-seeded pseudo-gaussian-ish components in [-1, 1]
      """transform(sequence(0, 63), i ->
         cast((cast(xxhash64(id * 64 + i) % 1000 as double) / 1000.0) as float))
         as embedding""")
    val twinRows = spark.range(twins).selectExpr(
      s"id + ${n}L as vec_id",
      s"cast(id % $labels as int) as label",
      s"""transform(sequence(0, 63), i ->
         cast((cast(xxhash64((id % $labels) * 64 + i) % 1000 as double) / 1000.0)
              * (case when i = 0 then 1.02 else 1.0 end) as float))
         as embedding""")
    base.unionByName(twinRows)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

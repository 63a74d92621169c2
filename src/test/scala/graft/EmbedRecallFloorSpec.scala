package graft

import org.apache.spark.sql.functions._

/** Permanent CI floors for the planted-twin recall numbers in BASELINE's
  * "Embed LSH follow-through" table (r9 verdict item 5 → r10): the four
  * measured LSH geometries must keep recalling exact-cosine twins at the
  * high-similarity tiers a real near-dup dedup runs at, so a future edit
  * to SignBands / SignProjBands / the band-join predicate that silently
  * guts recall fails here instead of shipping.
  *
  * The corpus is the EXACT plant construction the BASELINE table was
  * measured on (shared code: [[EmbedTwinProbe.plantCorpus]]), scaled to
  * n=3000/plant=600 for CI (150 twins per cosine tier). Twin recall is a
  * per-pair band-collision probability — independent of corpus size — so
  * the floors transfer from the N=20k measurement; they sit ≥ 3σ below
  * the measured point at 150-pair sampling (e.g. proj16x16 @ 0.90:
  * measured 76.6%, σ ≈ 3.5%, floor 0.65).
  *
  * Measured (N=20k) vs floor @ cos 0.90 / 0.95:
  *   axis8     97.4 / 99.8  → 0.90 / 0.95
  *   proj16x8  99.4 / 99.8  → 0.95 / 0.95
  *   proj16x16 76.6 / 94.6  → 0.65 / 0.85
  *   proj32x16 95.2 / 99.8  → 0.88 / 0.95
  */
class EmbedRecallFloorSpec extends SparkSpec {

  private val N = 3000
  private val Plant = 600

  private lazy val dir = EmbedTwinProbe.plantCorpus(spark,
    java.nio.file.Files.createTempDirectory("graft-embed-floor").toString,
    N, Plant)

  // (arm, confs, floor@0.90, floor@0.95)
  private val arms = Seq(
    ("axis8", Map("spark.graft.embed.lsh" -> "axis"), 0.90, 0.95),
    ("proj16x8", Map("spark.graft.embed.lsh" -> "proj",
      "spark.graft.embed.projBands" -> "16",
      "spark.graft.embed.projBits" -> "8"), 0.95, 0.95),
    ("proj16x16", Map("spark.graft.embed.lsh" -> "proj",
      "spark.graft.embed.projBands" -> "16",
      "spark.graft.embed.projBits" -> "16"), 0.65, 0.85),
    ("proj32x16", Map("spark.graft.embed.lsh" -> "proj",
      "spark.graft.embed.projBands" -> "32",
      "spark.graft.embed.projBits" -> "16"), 0.88, 0.95))

  test("plant verification: every twin sits on its target cosine") {
    val planted = EmbedTwinProbe.plantedPairs(spark, dir, Plant)
    assert(planted.count() == Plant,
      "every planted id must produce exactly one twin pair")
    val off = planted.where(abs(col("cos") - col("c")) > 0.001).count()
    assert(off == 0, s"$off planted pairs off their target cosine")
  }

  for ((name, confs, floor90, floor95) <- arms)
    test(s"$name recall floors: >= $floor90 @ cos 0.90, >= $floor95 @ 0.95") {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val recalls =
        try {
          val res = operators.LlmPipeline.qDedupEmbed(spark, dir)
            .where(col("b_id") >= 1000000000L && col("a_id") < 1000000000L)
            .select(col("a_id"), (col("b_id") - 1000000000L).as("t_id"))
            .where(col("a_id") === col("t_id"))
            .select(col("t_id"))
          EmbedTwinProbe.plantedPairs(spark, dir, Plant)
            .select(col("a_id"), col("c"))
            .join(res, col("a_id") === col("t_id"), "left")
            .groupBy(col("c"))
            .agg(count(lit(1)).as("planted"), count(col("t_id")).as("found"))
            .collect()
            .map(r => (r.getDouble(0),
              r.getLong(2).toDouble / r.getLong(1))).toMap
        } finally Seq("spark.graft.embed.lsh",
          "spark.graft.embed.projBands", "spark.graft.embed.projBits")
          .foreach(spark.conf.unset)
      info(f"$name recall by cos: ${recalls.toSeq.sorted.map { case (c, r) => f"$c%.2f→$r%.3f" }.mkString(", ")}")
      // keyed lookups via get: if plantCorpus's cosine tiers ever shift
      // (or a tier yields no rows) this fails with a readable clue, not a
      // bare NoSuchElementException (r10 advice)
      def recallAt(tier: Double): Double = recalls.getOrElse(tier,
        fail(f"$name: no planted pairs measured at cos tier $tier%.2f — " +
          s"plantCorpus tiers shifted? have ${recalls.keys.toSeq.sorted}"))
      assert(recallAt(0.90) >= floor90,
        f"$name recall @ cos 0.90 = ${recallAt(0.90)}%.3f under floor $floor90")
      assert(recallAt(0.95) >= floor95,
        f"$name recall @ cos 0.95 = ${recallAt(0.95)}%.3f under floor $floor95")
    }
}

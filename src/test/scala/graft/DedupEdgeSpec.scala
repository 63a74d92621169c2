package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{LlmPipeline, TrainingData}

/** Hand-computed edge cases for the dedup/media operators on a miniature
  * corpus: short documents, exact duplicates, disjoint languages, identical
  * and orthogonal vectors, empty text. */
class DedupEdgeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mini: String = {
    val dir = Files.createTempDirectory("graft-mini-docs").toString
    Seq(
      (1L, "abcd", "en", "web", 4L), // < 5 chars: no shingles, must not crash
      (2L, "hello world hello again", "en", "web", 23L),
      (3L, "hello world hello again", "en", "book", 23L), // exact dup of 2
      (4L, "completely different text here", "en", "web", 30L),
      (5L, "hello world hello again", "de", "web", 23L), // dup but other lang
      (6L, "", "en", "web", 0L)) // empty text
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val v1 = Array.fill(64)(0.1f)
    val v3 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    Seq((1L, v1.toSeq, 0), (2L, v1.toSeq, 0), (3L, v3.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"), col("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q_incremental_dedup: exact tier fires, precedence over near, short docs safe") {
    // the shipped fixture has NO exact dup crossing the batch boundary, so
    // the exact tier is only provable on a hand-built corpus
    val dir = Files.createTempDirectory("graft-incr").toString
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "patient crane waits beside the riverbank watching silver fish"
    Seq(
      (5L, base, "en", "web", base.length.toLong),                // history
      (7L, "federated systems aggregate updates across devices", "en", "web", 50L),
      (12L, base, "en", "web", base.length.toLong),               // batch: copy of 5
      (22L, "completely unrelated content about database engines", "en", "web", 51L),
      (42L, "tiny", "en", "web", 4L))                             // batch: < 5 chars
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = operators.TrainingData.qIncrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3), r.getString(4)))
    assert(rows.toSeq == Seq(
      (12L, true, true, "exact_dup"), // identical shingles ⇒ near too; exact wins
      (22L, false, false, "new"),
      (42L, false, false, "new")), rows.toSeq)
  }

  test("q_dedup_ngram: exact duplicates pair at jac=1.0, language-blocked") {
    val rows = LlmPipeline.qDedupNgram(spark, mini)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.toSeq === Seq((2L, 3L, 1.0)),
      "only the same-language exact-dup pair qualifies; short/empty docs drop out")
  }

  test("q_dedup_ngram: verify-join Bloom reduction changes no rows (A/B parity)") {
    // the Bloom probe on the shingle-array side has no false negatives, so
    // the plans with and without it must agree row-for-row — the same
    // parity BASELINE.md round 5 measured for time on the shard corpora
    def run(): Seq[(Long, Long, String, Double)] =
      LlmPipeline.qDedupNgram(spark, sfDir("sf0.001")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSeq
    // the fixture sits under the stats gate (no probe); with broadcasting
    // disabled the gate always plants it
    val without = run()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val withBloom = try run() finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(withBloom === without)
    assert(withBloom.nonEmpty, "fixture must exercise the verify join")
  }

  test("q_dedup_embed: identical vectors pair at cos=1.0; orthogonal never candidates") {
    val rows = LlmPipeline.qDedupEmbed(spark, mini)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("q_media_decode handles empty payloads") {
    val row = TrainingData.qMediaDecode(spark, mini)
      .where(col("doc_id") === 6L).collect().head
    assert(row.getLong(1) === 0L) // n_bytes
    assert(row.getLong(2) === 0L) // byte_sum
    assert(row.getLong(3) === 64L) // width floor
    assert(row.getLong(5) === 1L) // n_frames floor
  }

  test("q_dedup_exact survives the empty-text document") {
    val out = LlmPipeline.qDedupExact(spark, mini)
    // 6 docs; 2, 3, 5 share identical text (content hash ignores language)
    assert(out.count() === 4)
    val survivor = out.where(col("n_copies") === 3).collect()
    assert(survivor.length === 1 && survivor.head.getLong(0) === 2L,
      "lowest doc_id survives the triple")
  }

  test("sign-LSH banding on short (<64-dim) vectors: kernel == guarded; " +
       "an unguarded recompute would silently drop pairs") {
    // 3-dim vectors: band 0 covers dims 1–3 + 5 missing, bands 1–7 are all
    // missing dims. The kernel (and a guarded composed formulation) packs a
    // missing dim to bit 0, so every vector gets bv=0 on bands 1–7 and all
    // pairs become candidates there. An UNGUARDED when(...)-without-
    // otherwise recompute yields NULL band values on those bands — the band
    // join and the lowest-band dedup predicate both swallow the NULLs and
    // valid pairs vanish (r4 verdict item 4; this pin keeps the guard).
    import org.apache.spark.sql.Column
    val vecs = Seq(
      (1L, Seq(1f, -1f, 1f)),
      (2L, Seq(1f, -1f, 1f)),   // same signs as 1 → band-0 match too
      (3L, Seq(-1f, 1f, -1f)))  // opposite signs → band 0 differs
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def pairsWith(bandsCol: Column): Set[(Long, Long)] = {
      val banded = vecs.select(col("vec_id"), bandsCol.as("bvs"))
        .select(col("vec_id"), col("bvs"),
          posexplode(col("bvs")).as(Seq("bi", "bv")))
      val lowerBandMatches = (0 until 7)
        .map(t => col("bi") > t &&
          element_at(col("bva"), t + 1) === element_at(col("bvb"), t + 1))
        .reduce(_ || _)
      banded.toDF("a_id", "bva", "bi", "bv")
        .join(banded.toDF("b_id", "bvb", "bi", "bv"), Seq("bi", "bv"))
        .where(col("a_id") < col("b_id"))
        .where(!lowerBandMatches)
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def composed(guarded: Boolean): Column = array((0 until 8).map { t =>
      (0 until 8).map { i =>
        val bit = when(try_element_at(col("embedding"), lit(8 * t + i + 1)) > 0f,
          lit(1L << i))
        if (guarded) bit.otherwise(lit(0L)) else bit
      }.reduce(_ + _)
    }: _*)
    val kernel = pairsWith(
      graft.functions.SignBands.bands(spark)(col("embedding"), 8, 8))
    val guarded = pairsWith(composed(guarded = true))
    val unguarded = pairsWith(composed(guarded = false))
    // every pair shares the all-missing bands ⇒ all 3 pairs, each once
    assert(kernel === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(guarded === kernel, "kernel must equal the guarded formulation")
    // 3-dim vectors have missing dims in EVERY band, so the unguarded
    // recompute nulls every band value and every pair silently vanishes —
    // the divergence the kernel guard prevents
    assert(unguarded === Set.empty,
      "unguarded formulation must demonstrate the null-drop divergence")
  }
  test("q_dedup_ngram: exact J=0.8 subset pair at na+nb=63 survives the alpha bound") {
    // fl(0.8/1.8) rounds ABOVE 4/9, so without the 1e-9 ceil nudge the
    // overlap bound alpha overshoots the exact integer at na+nb = 63
    // (ceil(28.000000000000004) = 29 > 28) and this perfect-subset pair —
    // J exactly 0.8, overlap exactly 28 — is dropped by the position
    // filter while the exact-verify oracle keeps it
    val dir = java.nio.file.Files.createTempDirectory("graft-alpha").toString
    val a = "abcdefghijklmnopqrstuvwxyz012345"            // 32 chars -> 28 shingles
    val b = a + "6789ABC"                                  // 39 chars -> 35, superset
    Seq(
      (1L, a, "en", "web", a.length.toLong),
      (2L, b, "en", "web", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = LlmPipeline.qDedupNgram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 2L, 0.8)), rows.toSeq)
  }

  test("qDedupNear completeness precondition holds on the fixture corpus") {
    // the deletion-signature shortcut is COMPLETE (catches every J >= 0.95
    // pair) only while token-set unions stay under 40, i.e. while
    // 0.05 * |union| < 2 forces |symdiff| <= 1; the fixture vocabulary
    // bounds every union, so pin it loudly rather than let a fixture/vocab
    // change silently cost recall
    val nv = Tables.documents(spark, sfDir("sf0.001"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0).distinct().count()
    assert(nv < 40, s"fixture vocabulary grew to $nv >= 40: qDedupNear's " +
      "deletion-signature completeness argument no longer covers it")
  }

  test("eager asset timing records per-asset build seconds without changing results") {
    // r16 (r15 verdict item 7): Bench's warm phase flips
    // TrainingData.eagerAssetTiming on so cached() times each asset's
    // first materialization; results must be unaffected and every
    // populated asset must land in assetBuildSecs.
    val dir = Files.createTempDirectory("graft-warmassets").toString
    Seq((1L, "hello world hello again", "en", "web", 23L),
        (2L, "hello world hello again", "en", "book", 23L),
        (3L, "totally different words here", "en", "web", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    TrainingData.eagerAssetTiming = true
    val timed =
      try LlmPipeline.qDedupNear(spark, dir).collect().toSeq
      finally TrainingData.eagerAssetTiming = false
    val secs = TrainingData.assetBuildSecs
    for (a <- Seq("docToks", "nearDocSums", "nearPairs"))
      assert(secs.get((dir, a)).exists(_ >= 0.0), s"missing build time for $a: $secs")
    // lazy rebuild on a fresh dir must agree with the eagerly-timed run
    val dir2 = Files.createTempDirectory("graft-warmassets2").toString
    Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$dir2/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    assert(LlmPipeline.qDedupNear(spark, dir2).collect().toSeq === timed)
  }

  test("asset build timings are keyed by directory, like the asset cache") {
    val dirs = Seq("graft-timing-a", "graft-timing-b").map { p =>
      val dir = Files.createTempDirectory(p).toString
      Seq((1L, "hello world hello again", "en", "web", 23L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    TrainingData.eagerAssetTiming = true
    try dirs.foreach(d => LlmPipeline.qDedupNear(spark, d).collect())
    finally TrainingData.eagerAssetTiming = false
    val secs = TrainingData.assetBuildSecs
    for (d <- dirs)
      assert(secs.contains((d, "docToks")), s"$d's docToks build time was lost: $secs")
  }

  test("unpersistAll forgets asset build timings") {
    // a later snapshot's warm_assets must not carry an earlier snapshot's
    // (or another directory's) build seconds
    val dir = Files.createTempDirectory("graft-staleassets").toString
    Seq((1L, "hello world hello again", "en", "web", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    TrainingData.eagerAssetTiming = true
    try LlmPipeline.qDedupNear(spark, dir).collect()
    finally TrainingData.eagerAssetTiming = false
    assert(TrainingData.assetBuildSecs.nonEmpty)
    TrainingData.unpersistAll()
    assert(TrainingData.assetBuildSecs.isEmpty,
      s"stale asset timings survived unpersistAll: ${TrainingData.assetBuildSecs}")
  }

  test("an asset cached under one session is not returned under another") {
    val dir = Files.createTempDirectory("graft-sessionkey").toString
    val mine = TrainingData.cached("sessionKeyProbe", spark, dir)(spark.range(3).toDF())
    assert(TrainingData.cached("sessionKeyProbe", spark, dir)(
      fail("rebuilt an asset its own session had cached")) eq mine)
    val other = spark.newSession()
    val theirs = TrainingData.cached("sessionKeyProbe", other, dir)(other.range(5).toDF())
    assert(!(theirs eq mine), "a new session was handed another session's asset")
    assert(theirs.sparkSession eq other)
    assert(theirs.count() == 5)
  }
}

package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Cols
import graft.functions.VectorFunctions._

/** Training-data-pipeline operators beyond the SURVEY §2 contract: the
  * sketch/approximate tier of dedup (MinHash+LSH, SimHash), corpus analysis
  * (language-ID, quality scoring, token counting, fingerprinting), and the
  * bucketed tier of similarity search (IVF), plus binary-column plumbing.
  *
  * Everything is DETERMINISTIC — hash families are fixed affine functions
  * over a corpus-derived token dictionary, so the DuckDB oracle replicates
  * each pipeline bit-for-bit. No randomness, no approximation that the
  * oracle can't reproduce.
  *
  * Scale notes:
  *  - MinHash/LSH: the candidate join keys on (lang, band, signature) — at
  *    100 TB this is THE near-dup path (constant-size signatures, band
  *    buckets bound the quadratic blowup); the exact verify join only sees
  *    candidate pairs.
  *  - SimHash: 16-bit fingerprints; pair generation blocks by language.
  *  - IVF: centroid assignment is a broadcast cross join (k centroids);
  *    probe search touches one bucket, 1/k of the data.
  *  - token dictionary: |vocab| rows, built once, broadcast everywhere.
  */
object TrainingData {

  /** k-means dials for [[qAnnIvf]] — shared with the generated oracle.
    * IVF constants are MEASURED choices (BASELINE.md round 6, "IVF
    * retune"): k=24 sits on the recall/scan frontier in BOTH
    * regimes — on the fixture's isotropic-noise neighbors (the adversarial
    * workload, where every bucketed index degenerates toward scanning) it
    * is the best config at every scan fraction ≤ 15%, and on planted
    * cos≈0.9 neighbor structure (the workload production ANN serves) it
    * recalls 1.0 of true top-10 from a single bucket. nprobe=3 searches
    * the probe's three nearest buckets: ~12.5% of the corpus, recall@10 =
    * 1.0 planted / 0.76 noise-ceiling (AnnRecallSpec pins both). */
  private[graft] val IvfK = 24
  private[graft] val IvfIters = 5
  private[graft] val IvfNprobe = 3

  private val P = graft.functions.MinHashAgg.P
  /** Fixed affine MinHash family h_i(x) = (a_i·x + b_i) mod P — owned by
    * [[graft.functions.MinHashAgg]] so the one-pass aggregate, the column
    * formulation in tests, and the oracle can never drift apart. */
  private val A = graft.functions.MinHashAgg.A.toSeq
  private val B = graft.functions.MinHashAgg.B.toSeq

  /** Shared-intermediate cache, keyed per (session, sfDir, name). The token
    * table and dictionary feed several dedup/analysis pipelines, and inside
    * one pipeline the same subtree can appear 3–4 times (signatures, verify,
    * sizes); persisting them once collapses those repeated scan+explode+join
    * subtrees. This is ordinary dimension caching — at cluster scale these
    * are exactly the assets you'd materialize once per corpus snapshot.
    * The key holds the session REFERENCE (SparkSession compares by
    * identity), not its identity hash: hashes are not unique, so a new
    * session could reuse a dead one's hash and be handed its assets. The
    * cached frames hold their session already, so the key pins nothing
    * new. */
  private val shared =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()
  private[graft] def cached(name: String, s: SparkSession, d: String)
    (build: => DataFrame): DataFrame = {
    shared.getOrElseUpdate((s, d, name), {
      val df = build.persist()
      if (eagerAssetTiming) {
        // Per-asset build seconds (r15 verdict item 7): with the flag on
        // (Bench's WARM PHASE only — laziness is unchanged everywhere
        // else, and during timed reps, so rep-1 mins stay comparable),
        // the first materialization runs HERE as a count() and is timed
        // per asset. Nested cached() builds evaluate during the parent's
        // `build` expression — before this timer starts — so each
        // asset's seconds are its own INCREMENTAL cost, dependencies
        // excluded. The count() materializes the persisted plan exactly
        // as the first consumer's action would have; the consumer then
        // reads the cache.
        val t0 = System.nanoTime()
        df.count()
        assetSecs.put((d, name), (System.nanoTime() - t0) / 1e9)
      }
      df
    })
  }

  /** See the eager-timing note in [[cached]]; Bench flips this on for its
    * warm phase and stamps [[assetBuildSecs]] into the artifact. Keyed by
    * (sfDir, name) like the asset cache, so two directories' builds of
    * one asset keep their own seconds. */
  @volatile private[graft] var eagerAssetTiming = false
  private val assetSecs =
    scala.collection.concurrent.TrieMap[(String, String), Double]()
  private[graft] def assetBuildSecs: Map[(String, String), Double] =
    assetSecs.toMap

  /** Eager localCheckpoint whose materialized blocks are REGISTERED for
    * [[unpersistAll]] teardown. Plain `df.localCheckpoint(true)` persists
    * an RDD that only ContextCleaner GC can ever release — in a long-lived
    * service, repeated calls (the qDedupNgram Bloom arm, every Pregel-loop
    * round) accumulate checkpoint blocks indefinitely. Routing the call
    * through here gives those blocks the same lifetime as the `cached()`
    * corpus-snapshot assets. After teardown the frame is NOT recomputable
    * (localCheckpoint truncates lineage by design) — same staleness
    * contract as `cached()`: a snapshot's frames don't outlive it. */
  private val ckpts =
    scala.collection.concurrent.TrieMap[Int, org.apache.spark.rdd.RDD[_]]()
  private[operators] def checkpointed(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    org.apache.spark.sql.graft.Bridge.checkpointedRdd(out)
      .foreach(r => ckpts.put(r.id, r))
    out
  }

  /** Final-output global sort behind a hash-repartition on the sort keys.
    * A global `orderBy` plans a RangePartitioning exchange whose
    * boundary-sampling job RE-EXECUTES the stage feeding the sort (the
    * verify join or window itself — ~90% of the sort's apparent cost on
    * q_record_linkage). The interposed shuffle makes the sampling job
    * materialize the result ONCE into shuffle files, which the sort job
    * re-reads instead of recomputing the stream; unlike a persist it pins
    * nothing in executor storage, and unlike a checkpoint it keeps
    * lineage. Keys: the sort columns — near-unique on every wrapped head,
    * so the intermediate partitioning cannot concentrate load. Measured
    * against the unbarriered, checkpoint and persist flavors in
    * OPTIMIZATION_r15.md §0 and §6 and OPTIMIZATION_r16.md §5.
    *
    * Which sort to use: this one over a stage that reads a shuffle (a
    * join, window or aggregate result), where re-running the stage for
    * the sample is the cost; [[graft.Tables.orderedRows]] over a
    * shuffle-free pipeline (scan, filter, project, explode, a broadcast
    * join's stream side), which sorts one-split input in its own task and
    * is plain `orderBy` otherwise. A hash barrier there would add a
    * shuffle to a pipeline that needs none. */
  private[graft] def sortedOutput(cols: Column*)(df: DataFrame): DataFrame =
    df.repartition(cols: _*).orderBy(cols: _*)

  /** Chained-call sugar for [[checkpointed]]:
    * `df.trackedCheckpoint()` ≡ `df.localCheckpoint(true)` + teardown
    * registration. */
  private[operators] implicit class CheckpointOps(private val df: DataFrame) {
    def trackedCheckpoint(): DataFrame = checkpointed(df)
  }

  /** Drop every persisted intermediate and tracked checkpoint, and forget
    * the asset build timings — long-lived services call this per corpus
    * snapshot so the cache can't grow without bound and a later snapshot's
    * `warm_assets` carry no stale timings. (Driver runs exit the JVM
    * anyway; Verify/Bench call it in teardown for hygiene.) */
  def unpersistAll(): Unit = {
    shared.values.foreach(df => df.unpersist(blocking = false))
    shared.clear()
    assetSecs.clear()
    ckpts.values.foreach(_.unpersist(blocking = false))
    ckpts.clear()
  }

  /** Distinct (doc_id, lang, tok) triples. */
  private[operators] def docToks(s: SparkSession, d: String): DataFrame =
    cached("docToks", s, d) {
      documents(s, d).select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    }

  /** Positional (doc_id, lang, tok) stream — duplicates preserved. */
  private[graft] def allToks(s: SparkSession, d: String): DataFrame =
    cached("allToks", s, d) {
      documents(s, d).select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    }

  /** Dense dictionary over `rows`' distinct string `key`: (key, id) with
    * 1-based ids in lexicographic order. Ids come from `zipWithIndex` over
    * the RANGE-SORTED distinct keys, not a partition-less `row_number`
    * window: the sort is a parallel range shuffle and the index job is two
    * passes over partition counts, so a billions-key dictionary never
    * collapses into one task. Partition order of a range-sorted RDD is the
    * global order, so the ids are bit-identical to
    * `row_number() OVER (ORDER BY key)` (the oracles' formulation). */
  private[graft] def denseIds(rows: DataFrame, key: String,
      id: String): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val sorted = rows.select(col(key)).distinct()
      .orderBy(col(key)).as[String].rdd
    s.createDataFrame(sorted.zipWithIndex().map { case (t, i) => (t, i + 1L) })
      .toDF(key, id)
  }

  /** Corpus token dictionary: tok → dense 1-based id ([[denseIds]]). */
  private[operators] def vocab(s: SparkSession, d: String): DataFrame =
    cached("vocab", s, d) { denseIds(docToks(s, d), "tok", "tok_id") }

  /** (k lanes, r rows per band) from `spark.graft.minhash.k` / `.r`,
    * defaults 8 / 4 (the declared sketch the oracle replays). */
  private[graft] def minhashGeometry(s: SparkSession): (Int, Int) = {
    val k = s.conf.get("spark.graft.minhash.k", "8").toInt
    val r = s.conf.get("spark.graft.minhash.r", "4").toInt
    require(k > 0 && r > 0 && k % r == 0,
      s"spark.graft.minhash: k ($k) must be a positive multiple of r ($r)")
    (k, r)
  }

  /** MinHash LSH band rows: one row per (doc, band) from `mh`'s
    * (doc_id, lang, sig), carrying the band index and its `r` lanes as
    * x0..x(r−1), then the `keep` columns. A pair is a candidate iff it
    * equi-joins on (lang, band, x0..x(r−1)), so every band index — batch,
    * incremental and the streaming ingest's persisted one — must be built
    * here to stay probeable against the others. */
  private[graft] def bandRows(mh: DataFrame, k: Int, r: Int,
      keep: Column*): DataFrame = {
    val bandStructs = (0 until k / r).map { j =>
      struct((lit(j).as("band") +:
        (0 until r).map(i => col("sig")(r * j + i).as(s"x$i"))): _*)
    }
    mh.select((Seq(col("doc_id"), col("lang"),
        explode(array(bandStructs: _*)).as("b")) ++ keep): _*)
      .select((Seq(col("doc_id"), col("lang"), col("b.band").as("band")) ++
        (0 until r).map(i => col(s"b.x$i").as(s"x$i")) ++ keep): _*)
  }

  /** Exact shingle-set Jaccard of the sorted distinct hash arrays `sha`
    * and `shb`: adds `c` (their intersection count, the native merge
    * kernel) and `jac` = c / (|sha| + |shb| − c) in double arithmetic.
    * The sketch tiers only generate candidates; this is the verdict. */
  private[graft] def withShingleJaccard(pairs: DataFrame): DataFrame = {
    val interCount =
      graft.functions.SortedIntersectCount.interCount(pairs.sparkSession) _
    pairs.withColumn("c", interCount(col("sha"), col("shb")))
      .withColumn("jac", col("c").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("c")).cast("double"))
  }

  /** The per-doc dedup verdict of a batch-vs-history probe: `exact`'s
    * columns (ending in `exact_dup`), then `near_dup` (the doc_id appears
    * in `near`) and `status` — exact_dup beats near_dup beats new. */
  private[graft] def dedupStatus(exact: DataFrame,
      near: DataFrame): DataFrame =
    exact
      .join(near.select(col("doc_id")).distinct().withColumn("nr", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("near_dup", coalesce(col("nr"), lit(false)))
      .select((exact.columns.toSeq.map(col) :+ col("near_dup") :+
        when(col("exact_dup"), "exact_dup").when(col("near_dup"), "near_dup")
          .otherwise("new").as("status")): _*)

  /** Join `left` (keyed by `tok`) to the dictionary — the one
    * corpus-DERIVED asset this module broadcasts, with the argument
    * written down (r11, the discipline tools.BroadcastAudit's
    * RDD-boundary case cites): Heaps' law makes the dictionary
    * SUBLINEAR in the corpus (V ≈ K·N^β, β ≈ 0.4–0.6) at ~16 bytes a
    * row, and the hint is REQUIRED rather than stylistic — vocab is an
    * RDD-backed relation (zipWithIndex ids), which reports
    * defaultSizeInBytes (Long.MaxValue) to the planner, so unhinted it
    * would NEVER broadcast, at any size. Unlike the SF-scaled pinned
    * broadcasts r11 removed (customer/part/supplier/embeddings), the
    * degradation path here is a CONF, not a silent OOM: a corpus whose
    * dictionary outgrows executor memory (billions of distinct tokens)
    * sets `spark.graft.vocab.broadcast=false` and the same join runs as
    * a shuffle on `tok` — results identical by construction
    * (BroadcastAuditSpec pins it). */
  private[operators] def vocabJoin(s: SparkSession, d: String,
      left: DataFrame): DataFrame = {
    val v = vocab(s, d)
    if (s.conf.get("spark.graft.vocab.broadcast", "true").toBoolean)
      left.join(broadcast(v), "tok")
    else left.join(v, "tok")
  }

  /** MinHash(8) + LSH(2 bands × 4 rows) near-dup detection within language
    * blocks — SKETCH-ONLY, the true 100 TB shape: after signatures are
    * built, no token data is touched again. Candidates are pairs agreeing
    * on all 4 minhashes of some band; the reported similarity is the
    * minhash ESTIMATE (matching-hash fraction, an exact multiple of 1/8),
    * thresholded at 0.75. Deterministic end-to-end, so the oracle replays
    * the identical sketch pipeline. Exact-Jaccard dedup lives in
    * [[LlmPipeline.qDedupNear]].
    *
    * Honest sketch-size trade, stated since the family became a real
    * estimator (round 6): with b=2 bands of r=4 rows, candidate recall is
    * 1−(1−J⁴)² — 0.65 at J=0.8, 0.87 at J=0.9, 0.96 at J=0.95 — and the
    * 8-lane estimate has σ ≈ √(J(1−J)/8) ≈ 0.14 at J=0.5. Production
    * corpus dedup runs 64–128 lanes for exactly this reason, and since
    * round 7 that is a CONF FLIP, not a code edit: `spark.graft.minhash.k`
    * (lanes), `.r` (rows per band, bands = k/r) and `.threshold` default
    * to the declared 8 / 4 / 0.75 — the oracle replays those defaults and
    * the defaults are pinned bit-identical by MinhashConfSpec — while e.g.
    * k=64, r=5..8 runs the measured production curve (BASELINE.md round
    * 7, "MinHash r/b retune": recall 0.99–1.00 at J≥0.8 with k=60–64)
    * through the identical join shape, trading only sketch bytes and band
    * count. */
  def qDedupMinhash(s: SparkSession, d: String): DataFrame = {
    val (k, r) = minhashGeometry(s)
    val theta = s.conf.get("spark.graft.minhash.threshold", "0.75").toDouble
    val tv = vocabJoin(s, d, docToks(s, d))
    // Signatures come from the ONE-PASS native aggregate (MinHashAgg): all
    // k lanes fold into a single primitive buffer with map-side partials —
    // the shape that still works at 64–128 lanes. At the default k=8 the
    // lanes are the published constants, bit-identical to the
    // 8-min-columns formulation (MinHashAggSpec).
    val sig = graft.functions.MinHashAgg.minhashSigK(s, k) _
    val mh = tv.groupBy(col("doc_id"), col("lang"))
      .agg(sig(col("tok_id")).as("sig"))
    // Band rows CARRY the full signature: the band self-join then yields both
    // docs' k minhashes directly, so the signature table is computed once and
    // no candidate→signature re-join (2 extra shuffles) is needed.
    val bands = bandRows(mh, k, r, col("sig"))
    // Match count and earlier-band predicate are the NATIVE kernels
    // (lanes_equal_count, grouped bands_match_before), not k-term /
    // (bands−1)·r-term unrolled column expressions: the unrolled forms
    // scale with the lane dial and at the recommended production dials
    // measurably degrade the fused post-join stage (+5.7 s at k=64,
    // +22 s at k=128 on a candidate stream whose raw join costs 1.5 s —
    // the embed OR-chain codegen-size disease; kernel scaladocs carry
    // the numbers). Semantics are lane-for-lane the unrolled forms',
    // pinned by LanesEqualCountSpec/BandsMatchBeforeSpec.
    val nMatch = graft.functions.LanesEqualCount
      .lanesEqual(s)(col("siga"), col("sigb"))
    // A pair matching SEVERAL bands would come out once per band; instead
    // of a |pairs|-sized distinct shuffle, keep each pair only at its
    // LOWEST matching band — decidable per row from the carried signatures.
    val earlierMatch = graft.functions.BandsMatchBefore
      .matchBeforeGrouped(s)(col("siga"), col("sigb"), col("band"), r)
    val xCols = (0 until r).map(i => s"x$i")
    val names = (id: String, sg: String) => Seq(id, "lang", "band") ++ xCols :+ sg
    bands.toDF(names("a_id", "siga"): _*)
      .join(bands.toDF(names("b_id", "sigb"): _*), Seq("lang", "band") ++ xCols)
      .where(col("a_id") < col("b_id"))
      .where(!earlierMatch)
      .withColumn("est_jac", nMatch.cast("double") / k.toDouble)
      .where(col("est_jac") >= theta)
      .select(col("a_id"), col("b_id"), col("lang"), col("est_jac"))
      .transform(sortedOutput(col("a_id"), col("b_id")))
  }

  /** 16-bit SimHash over the token dictionary; near-dup = same-language pair
    * with Hamming distance <= 2. Bit j weight of a token:
    * ((tok_id·(2j+3)) mod 7) − 3 ∈ [−3, 3].
    *
    * Candidate generation is PIGEONHOLE BANDING, not an all-pairs join: the
    * 16 bits split into 3 bands (6+5+5); Hamming <= 2 can corrupt at most 2
    * bands, so every qualifying pair agrees exactly on >= 1 band — an
    * equi-join on (lang, band index, band value), same linear shape as the
    * MinHash LSH path. The full fingerprints ride along for the exact
    * Hamming check, so banding changes cost, never the answer (the DuckDB
    * oracle is the naive quadratic join). */
  def qDedupSimhash(s: SparkSession, d: String): DataFrame = {
    val tv = vocabJoin(s, d, docToks(s, d))
    // r15 (guide §2.3 "shuffle fewer bytes" / §2.4): the original form
    // exploded every token row ×16 (one row per bit) and paid TWO
    // aggregation shuffles — (doc, lang, j) over a 16×-inflated stream,
    // then (doc, lang). The 16 bit sums are independent integer sums over
    // the SAME rows, so compute them as 16 parallel sum aggregates in ONE
    // map-side-combined groupBy: no Generate, one shuffle, 16× fewer
    // exchanged rows. Long sums are order-independent, so the simhash is
    // bit-identical to the exploded form (DedupSpec pins equality against
    // the independent naive formulation, which still uses explode).
    val scs = (0 until 16).map(j =>
      sum((col("tok_id") * lit(2 * j + 3)) % 7 - 3).as(s"sc$j"))
    val sh = tv
      .groupBy(col("doc_id"), col("lang"))
      .agg(scs.head, scs.tail: _*)
      .withColumn("simhash", (0 until 16).map(j =>
          when(col(s"sc$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _))
      .select(col("doc_id"), col("lang"), col("simhash"))
    val banded = sh.select(col("doc_id"), col("lang"), col("simhash"),
      explode(array(
        struct(lit(0).as("bi"), col("simhash").bitwiseAND(63).as("bv")),
        struct(lit(1).as("bi"),
          shiftright(col("simhash"), 6).bitwiseAND(31).cast("long").as("bv")),
        struct(lit(2).as("bi"),
          shiftright(col("simhash"), 11).cast("long").as("bv")))).as("b"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("b.bi").as("bi"), col("b.bv").as("bv"))
    // Keep a multi-band match only at its LOWEST matching band (derivable
    // from the carried fingerprints) — no |pairs|-sized distinct shuffle.
    val x = col("ha").bitwiseXOR(col("hb"))
    val lower0 = x.bitwiseAND(63) === 0
    val lower1 = shiftright(x, 6).bitwiseAND(31) === 0
    banded.toDF("a_id", "lang", "ha", "bi", "bv")
      .join(banded.toDF("b_id", "lang", "hb", "bi", "bv"), Seq("lang", "bi", "bv"))
      .where(col("a_id") < col("b_id"))
      .where(col("bi") === 0
        || (col("bi") === 1 && !lower0)
        || (col("bi") === 2 && !lower0 && !lower1))
      .withColumn("hamming", bit_count(x).cast("long"))
      .where(col("hamming") <= 2)
      .select(col("a_id"), col("b_id"), col("lang"), col("hamming"))
      .transform(sortedOutput(col("a_id"), col("b_id")))
  }

  /** Language-ID by corpus-derived unigram profiles (Cavnar–Trenkle style):
    * profile = top-10 tokens per language by frequency; a doc's predicted
    * language is the profile sharing the most of its distinct tokens.
    * Output: confusion counts (true lang × predicted lang). */
  def qLangId(s: SparkSession, d: String): DataFrame = {
    val wProf = Window.partitionBy(col("plang"))
      .orderBy(col("cnt").desc, col("tok").asc)
    val profiles = allToks(s, d).groupBy(col("lang").as("plang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wProf))
      .where(col("rk") <= 10)
      .select(col("plang"), col("tok"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_hit").desc, col("plang").asc)
    docToks(s, d)
      .join(broadcast(profiles), "tok")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
      .groupBy(col("lang"), col("plang").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Per-document quality signals: token counts, type-token ratio, mean token
    * length (derived from n_chars: single-space-joined corpus), stopword
    * ratio, and a weighted composite score. */
  def qQualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val isStop = (t: Column) => stops.map(t === _).reduce(_ || _)
    documents(s, d)
      .withColumn("n_tok", Cols.sizeN(toks).cast("long"))
      .withColumn("n_dist", Cols.sizeN(array_distinct(toks)).cast("long"))
      .withColumn("ttr", Cols.r6(col("n_dist").cast("double") / col("n_tok")))
      .withColumn("avg_tok_len", Cols.r6(
        (col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok")))
      .withColumn("stop_ratio", Cols.r6(
        Cols.sizeN(filter(toks, isStop)).cast("double") / col("n_tok")))
      .withColumn("quality", Cols.r6(
        lit(0.5) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio"))
          + lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0))))
      .select(col("doc_id"), col("n_tok"), col("n_dist"), col("ttr"),
        col("avg_tok_len"), col("stop_ratio"), col("quality"))
      .transform(orderedRows(col("doc_id")))
  }

  /** Token counting per language: whitespace tokens vs a BPE-ish regex
    * tokenizer ([a-z]+ | digit runs | any other non-space char). The
    * "non-space" class is spelled out explicitly rather than `\S`: Java's
    * `\s` includes vertical tab (\x0B) where RE2's does not, so a bare \S
    * counts differently across engines on control-char text (the round-7
    * dirty corpus caught the off-by-one). */
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("ws", Cols.sizeN(split(col("text"), " ")).cast("long"))
      .withColumn("bpe",
        Cols.sizeN(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^ \\t\\n\\x0B\\f\\r]"), lit(0))).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"),
        Cols.r6(sum(col("n_chars")).cast("double") / sum(col("ws"))).as("chars_per_tok"))
      .orderBy("lang")

  /** Positional rolling-hash document fingerprint:
    * fp = Σ_pos (pos · tok_id) mod P over the 1-based token sequence —
    * order-sensitive, so permuted documents get different fingerprints
    * (unlike the set-based dedup keys). n_same counts fingerprint buddies. */
  def qFingerprint(s: SparkSession, d: String): DataFrame = {
    val seqToks = documents(s, d).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
    val fp = vocabJoin(s, d, seqToks)
      .groupBy(col("doc_id"))
      .agg((sum((col("pos0") + 1) * col("tok_id")) % lit(P)).as("fp"))
    fp.withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .orderBy("doc_id")
  }

  private[operators] def cosCol(s: SparkSession)(a: Column, b: Column): Column = {
    val fdot = graft.functions.FloatVectorDot.dotF(s) _
    // cosine is undefined for a degenerate vector: yield null instead of an
    // ANSI division-by-zero. Degenerate = zero norm (empty vector), NaN
    // norm (NaN element), or INFINITE norm (±inf element — inf/inf is NaN,
    // and a NaN similarity compares largest in Spark so it would WIN a
    // top-k sort and, folded into a k-means mean, poison the centroid).
    // NaN also compares greater than any value in Spark, so the two-sided
    // finite-positive guard excludes all three classes at once.
    val den = sqrt(fdot(a, a)) * sqrt(fdot(b, b))
    when(den > 0 && den < lit(Double.PositiveInfinity), fdot(a, b) / den)
  }

  /** k-means init: the vectors at `vec_id` strides (row `j·(n div k)` for
    * j = 0..k−1) — deterministic, label-free, and the same rows at any
    * replay. PlanShapeSpec pins that `label` never enters this subtree. */
  private[graft] def ivfInit(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = embeddings(s, d)
    val stride = math.max(e.count() / k, 1L)
    e.where(col("vec_id") % stride === 0 && col("vec_id") < k * stride)
      .select((col("vec_id") / stride).cast("int").as("cid"),
        toDouble(col("embedding")).as("cvec"))
  }

  /** One Lloyd update: assign every vector to its nearest centroid by
    * (r6-rounded) cosine — groupBy argmin via `min(struct(−ccos, cid))`,
    * a partial-aggregating shape, NOT a window sort — then per-(cluster,
    * position) means. Label-free (pinned). A null cosine (zero-norm or
    * NaN-element vector, see [[cosCol]]) coalesces to +∞ so it LOSES the
    * min-struct argmin — struct ordering ranks null FIRST in a min, the
    * opposite of the desc-sort sites, and an unguarded degenerate vector
    * would win every assignment and fold NaN into the centroid means. */
  private[graft] def ivfStep(s: SparkSession, d: String, centDf: DataFrame): DataFrame =
    embeddings(s, d).crossJoin(broadcast(centDf))
      .withColumn("ccos", Cols.r6(cosCol(s)(col("embedding"), col("cvec"))))
      // a degenerate (zero-norm/NaN) vector has null ccos against every
      // centroid: drop those rows so it contributes NOTHING to the means —
      // one NaN embedding folded into a centroid would null that
      // centroid's cosine against every vector next iteration
      .where(col("ccos").isNotNull)
      .groupBy(col("vec_id"))
      .agg(min(struct(coalesce(-col("ccos"), lit(Double.PositiveInfinity))
          .as("negc"), col("cid").as("cid"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("m.cid").as("cluster"),
        posexplode(toDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos")).agg(avg(col("v")).as("cv"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))

  /** IVF-style ANN, UNSUPERVISED: [[IvfK]] centroids from deterministic
    * k-means — init at `vec_id` strides, [[IvfIters]] fixed Lloyd
    * iterations, empty clusters keep their previous centroid — so the
    * DuckDB oracle replays the identical iterations (unrolled CTEs) with
    * no labels anywhere in the build (a production embedding corpus has
    * none). Per-iteration driver state is k×dim doubles — the bounded
    * k-means-centroid kind, collected once per corpus snapshot and
    * memoized like the cached DataFrames. Every vector lands in its
    * nearest-centroid bucket; the probe (vec_id=0) searches its
    * [[IvfNprobe]] nearest buckets for its top-5 — ~nprobe/k of the
    * corpus (see the constants' scaladoc for the measured recall). */
  /** The trained IVF centroid table (deterministic k-means, see
    * [[qAnnIvf]]) — factored out so AnnRecallSpec can grade recall of the
    * production centroids against brute force. */
  private[graft] def ivfCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cached("ivfCent", s, d) {
      var cent: Seq[(Int, Seq[Double])] = ivfInit(s, d, IvfK)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
      for (_ <- 1 to IvfIters) {
        val sums = ivfStep(s, d, cent.toDF("cid", "cvec"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        cent = cent.map { case (cid, old) => cid -> sums.getOrElse(cid, old) }
      }
      cent.toDF("cid", "cvec")
    }
  }

  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    def cos = cosCol(s) _
    val e = embeddings(s, d)
    val centDf = ivfCentroids(s, d)
    // Probe lookup AND candidate scan both read the assignment table; persist
    // it so the broadcast-cross-join + per-vector argmin subtree
    // materializes ONCE instead of running on each side of the join.
    val assigned = cached("ivfAssigned", s, d) {
      e.crossJoin(broadcast(centDf))
        .withColumn("ccos", Cols.r6(cos(col("embedding"), col("cvec"))))
        .groupBy(col("vec_id"))
        .agg(min(struct(coalesce(-col("ccos"), lit(Double.PositiveInfinity))
            .as("negc"), col("cid").as("cid"))).as("m"),
          first(col("label")).as("label"), first(col("embedding")).as("embedding"))
        .select(col("vec_id"), col("label"), col("embedding"),
          col("m.cid").cast("long").as("cluster"))
    }
    // MULTI-PROBE search (the recall/scan dial a 100 TB deployment tunes):
    // the probe's IvfNprobe nearest centroid buckets, ranked by the same
    // (r6-cosine desc, cid asc) order the assignment argmin uses, so probe
    // ranking and corpus assignment can never disagree on ties. The probe
    // list is k rows → nprobe rows: broadcast by construction.
    val probeBuckets = broadcast(
      e.where(col("vec_id") === 0).crossJoin(broadcast(centDf))
        .select(col("cid").cast("long").as("cluster"),
          Cols.r6(cos(col("embedding"), col("cvec"))).as("pcos"))
        .where(col("pcos").isNotNull)
        .orderBy(col("pcos").desc, col("cluster").asc)
        .limit(IvfNprobe)
        .select(col("cluster")))
    val probeEmb = broadcast(e.where(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb")))
    assigned.join(probeBuckets, "cluster")
      .crossJoin(probeEmb)
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("cluster"),
        Cols.r6(cos(col("embedding"), col("probe_emb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(5)
  }

  /** Multimodal binary-column plumbing: text bytes as an opaque binary
    * payload with typed metadata — byte length, content digest, base64
    * prefix — plus a STUBBED decode step (deterministic fake width/height
    * derived from sizes; a real image/audio decoder slots in here as a
    * mapInPandas/mapPartitions stage at the same schema). */
  def qBinaryMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        base64(substring(col("text"), 1, 8).cast("binary")).as("b64_prefix"),
        // deterministic fake decode (see Scaladoc): stands in for image WxH
        (length(col("payload")) % 256).cast("long").as("fake_width"),
        (col("n_chars") * 7 % 256).cast("long").as("fake_height"))
      .transform(orderedRows(col("doc_id")))

  /** Output row of the stubbed media decoder — a columnar-friendly flat
    * struct, exactly what a real image/audio decode stage would emit. */
  case class DecodedMedia(doc_id: Long, n_bytes: Long, byte_sum: Long,
    width: Long, height: Long, n_frames: Long)

  /** The decode handle a real pipeline would open per PARTITION (codec
    * context, model weights, GPU session...). The container has no codec
    * libs, so decode is a deterministic stub over the payload bytes — but
    * the expensive-init-amortized-per-partition shape is the real one. */
  final class StubDecoder {
    def decode(id: Long, bytes: Array[Byte]): DecodedMedia = {
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
      DecodedMedia(id, bytes.length.toLong, sum,
        64L + sum % 192L, 64L + (sum * 31L + bytes.length) % 192L,
        1L + bytes.length % 30L)
    }
  }

  /** Multimodal decode via TYPED `mapPartitions` — the slot where real
    * image/audio/video decoding plugs in: opaque binary payload in, typed
    * feature struct out, one decoder handle per partition amortized over an
    * iterator of rows (never per-row init), case-class `Encoder` giving
    * Tungsten a flat columnar-friendly schema. The decode itself is a
    * deterministic STUB (see [[StubDecoder]]) over the text's UTF-8
    * bytes; the DuckDB oracle replays the byte-sum arithmetic by
    * hex-encoding the blob and summing hex pairs — a true byte sum, NOT
    * a code-point sum (`ord()`), which diverges the moment the dirty or
    * fuzz corpora inject non-ASCII text (multi-byte CJK/emoji). */
  def qMediaDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val dec = new StubDecoder // per-partition init, amortized
        rows.map { case (id, text) =>
          // a null payload decodes like a zero-BYTE asset (the stub's
          // 1 + len % 30 formula gives a minimal 1-frame result) — the
          // contract is "never NPE on a missing blob", not "zero frames"
          val bytes =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          dec.decode(id, bytes)
        }
      }
      .toDF()
      .transform(orderedRows(col("doc_id")))
  }

  /** Frame sampling over the decoded media: every 5th frame index of each
    * payload's (stub-decoded) frame count, with a 25fps-derived timestamp —
    * the row-explosion shape a video pipeline uses to fan one asset out to
    * per-frame work items. Downstream of [[qMediaDecode]], so the real
    * decoder slots in without touching this operator. */
  def qMediaFrames(s: SparkSession, d: String): DataFrame =
    qMediaDecode(s, d)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .where(col("frame_idx") % 5 === 0)
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 40000L).as("frame_us"), col("n_frames"))
      .transform(orderedRows(col("doc_id"), col("frame_idx")))

  /** Resize planning over the decoded media: letterbox every asset into a
    * 224×224 training canvas — integer-only arithmetic (scale in 1/10000
    * units, floor semantics) so both engines compute identical plans. The
    * actual pixel resample belongs inside the per-partition decoder
    * ([[qMediaDecode]]); THIS op is the metadata pass a pipeline runs to
    * batch assets by output geometry. Pure row-level arithmetic: zero
    * shuffles at any corpus size. */
  def qMediaResize(s: SparkSession, d: String): DataFrame = {
    qMediaDecode(s, d)
      // basis points, integral floor div — min(T/w, T/h) * 10000 for T=224
      .withColumn("scale_bp",
        expr("least(2240000L div width, 2240000L div height)"))
      .withColumn("out_w", expr("(width * scale_bp) div 10000L"))
      .withColumn("out_h", expr("(height * scale_bp) div 10000L"))
      .withColumn("pad_x", expr("(224L - out_w) div 2L"))
      .withColumn("pad_y", expr("(224L - out_h) div 2L"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_bp"),
        col("out_w"), col("out_h"), col("pad_x"), col("pad_y"))
      .transform(orderedRows(col("doc_id")))
  }

  /** Incremental dedup — the shape a DAILY ingest actually runs: the new
    * batch (docs with doc_id % 10 == 2, ~10% of the corpus at any SF) is
    * checked against the HISTORY (everything else) without ever comparing
    * history to itself. Exact tier: content-hash semi-join against the
    * history hash set. Near tier: MinHash band join of new-batch
    * signatures against the history band index generates candidates,
    * each verified with an EXACT shingle-Jaccard ≥ 0.8 check — signatures
    * over CHAR-5-GRAM shingle ids, not word ids: this corpus draws every doc
    * from a ~31-word vocabulary, so word-SET Jaccard between unrelated
    * docs is ~0.85 and word-level minhash flags everything (measured:
    * 50/50 docs at 8/8 matching lanes); the shingle space is thousands
    * wide and separates the real near-dup twins (J ≈ 0.99) from the
    * unrelated mass (J ≈ 0.3). Per new-batch doc: both flags and a
    * status.
    *
    * Scale: this is why dedup assets are materialized — at 100 TB the
    * history band index and hash set already exist (built once, the
    * qDedupMinhash/qDedupExact jobs), so the daily cost is
    * O(batch × bands) shuffle against pre-bucketed history, linear in the
    * BATCH, not the corpus. Candidates from the band probe then get an
    * EXACT shingle-Jaccard verify at 0.8 via a re-join on the (cacheable)
    * shingle-array table — the sketch generates candidates, never the
    * verdict. The candidate stream is batch-bounded, so the verify's
    * array-fetch side broadcasts it; if a batch ever outgrows the
    * broadcast threshold, the candidate-id Bloom reduction used by
    * [[LlmPipeline.qDedupNgram]]'s verify applies verbatim here. */
  def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 2
    val hashes = documents(s, d).select(col("doc_id"), col("lang"),
      isNew.as("is_new"), Cols.contentHash(col("text")).as("h"))
    val histH = hashes.where(!col("is_new")).select(col("h")).distinct()
      .withColumn("ex", lit(true))
    // MERGE-PINNED (r15, AqeFlipAudit): histH is the DISTINCT HISTORY
    // HASH SET — corpus-linear, and its compact hex rows keep the
    // compressed shuffle footprint AQE consults far below the in-memory
    // HashedRelation cost (the ×16 broadcast-OOM class, BASELINE r15).
    // At 100 TB the history hash set is the largest dedup asset there
    // is; the batch probes it with a shuffle on h at every factor.
    val exact = hashes.where(col("is_new"))
      .join(histH.hint("merge"), Seq("h"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("ex"), lit(false)).as("exact_dup"))
    // distinct char-5-gram STRINGS per doc (strings, not rolling hashes:
    // the dictionary ids must replay in the oracle) joined to a dense
    // shingle dictionary
    val docSh = cached("docShStrings", s, d) {
      documents(s, d).where(length(col("text")) >= 5)
        .select(col("doc_id"), col("lang"), explode(array_distinct(expr(
          "transform(sequence(1, length(text) - 4), " +
            "i -> substring(text, i, 5))"))).as("sh"))
    }
    val shVocab = cached("shVocab", s, d) { denseIds(docSh, "sh", "sh_id") }
    val tv = docSh.join(shVocab, "sh")
    val sig = graft.functions.MinHashAgg.minhashSig(s) _
    // |docs| rows; referenced by BOTH band-join sides — persist so the
    // shingle-stream aggregate runs once, not once per side
    val mh = cached("incrMh", s, d) {
      tv.groupBy(col("doc_id"), col("lang"))
        .agg(sig(col("sh_id")).as("sig"))
    }
    val bands = bandRows(mh, 8, 4)
    // candidate gate: the batch probes the history band index (at scale a
    // pre-materialized asset) — a pair is a candidate iff some band's 4
    // lanes all match; candidates then get the EXACT shingle-Jaccard
    // verify at 0.8 (8 estimate lanes are a candidate generator, not a
    // verdict: at J_background ≈ 0.3 an est >= 0.75 rule misfires ~1% of
    // cross pairs, which flagged 44/50 docs on this corpus — the exact
    // verify keeps only the true twins). Band rows carry ONLY the 4 band
    // lanes: the verify never reads the signature, so shipping the other
    // 4 lanes through the join would be dead weight.
    val cand = bands.where(col("doc_id") % 10 === 2)
      .join(bands.where(col("doc_id") % 10 =!= 2)
        .toDF("b_id", "lang", "band", "x0", "x1", "x2", "x3"),
        Seq("lang", "band", "x0", "x1", "x2", "x3"))
      .select(col("doc_id"), col("b_id")).distinct()
    val arr = cached("incrShArr", s, d) {
      val shingles = graft.functions.ShingleHashes.shingles(s) _
      documents(s, d).where(length(col("text")) >= 5)
        .select(col("doc_id"), shingles(col("text"), 5).as("shs"))
    }
    val near = cand
      .join(arr.toDF("doc_id", "sha"), "doc_id")
      .join(arr.toDF("b_id", "shb"), "b_id")
      .transform(withShingleJaccard)
      .where(col("jac") >= 0.8)
    dedupStatus(exact, near).transform(sortedOutput(col("doc_id")))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_lang_id"       -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_token_count"   -> (qTokenCount _),
    "q_fingerprint"   -> (qFingerprint _),
    "q_ann_ivf"       -> (qAnnIvf _),
    "q_binary_meta"   -> (qBinaryMeta _),
    "q_media_decode"  -> (qMediaDecode _),
    "q_media_frames"  -> (qMediaFrames _),
    "q_media_resize"  -> (qMediaResize _),
    "q_incremental_dedup" -> (qIncrementalDedup _))

  // (tok_id % P) first, mirroring the kernel: with a ≈ 2³¹ multipliers the
  // unreduced product overflows int64 past ~4·10⁹ ids on both engines
  private val minhashCols = A.zip(B).zipWithIndex.map { case ((a, b), i) =>
    s"min(($a*(tok_id % 2147483647) + $b) % 2147483647) AS h$i"
  }.mkString(", ")

  /** DuckDB cosine between a float-list column and a double-list column,
    * r6-rounded — the exact arithmetic of `Cols.r6(cosCol(...))`. */
  /** SQL twin of [[cosCol]] including its null guard: zero-norm or
    * NaN-element vectors cosine to NULL on both engines (DuckDB, like
    * Spark, ranks NaN above every number — unguarded it would WIN the
    * argmax/top-k). */
  private def duckCos(v: String, c: String): String = {
    def sq(x: String) =
      s"sqrt(list_sum(list_transform($x, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    s"""(CASE WHEN NOT isnan(${sq(v)} * ${sq(c)}) AND ${sq(v)} * ${sq(c)} > 0
       | THEN floor((list_sum(list_transform(list_zip($v, $c),
       |     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |   / (${sq(v)} * ${sq(c)}))*1000000.0 + 0.5)/1000000.0 END)""".stripMargin
  }

  /** The [[qAnnIvf]] oracle: the SAME deterministic k-means, its
    * [[IvfIters]] Lloyd iterations UNROLLED as chained CTEs (assignment by
    * r6-cosine argmax with cid-asc tie-break, per-position means, empty
    * clusters keeping the previous centroid via LEFT JOIN + COALESCE),
    * then the bucket-limited probe search. Generated so the iteration
    * count can never drift from the Spark side. */
  private def ivfOracle: String = {
    val iters = (1 to IvfIters).map { i =>
      s"""s$i AS (SELECT vec_id, embedding, cid,
         |  ${duckCos("embedding", "cvec")} AS ccos
         |  FROM embeddings CROSS JOIN c${i - 1}),
         |a$i AS (SELECT vec_id, embedding, cid AS cluster FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM s$i WHERE ccos IS NOT NULL) WHERE rn = 1),
         |m$i AS (SELECT cluster AS cid, list(cv ORDER BY pos) AS cvec FROM (
         |  SELECT cluster, pos, avg(ev) AS cv FROM (
         |    SELECT cluster, unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS ev,
         |           unnest(range(1, len(embedding)+1)) AS pos FROM a$i) GROUP BY 1, 2) GROUP BY 1),
         |c$i AS (SELECT p.cid, COALESCE(m$i.cvec, p.cvec) AS cvec
         |        FROM c${i - 1} p LEFT JOIN m$i ON p.cid = m$i.cid),""".stripMargin
    }.mkString("\n")
    s"""WITH st AS (SELECT greatest(count(*) // $IvfK, 1) AS stride FROM embeddings),
       |c0 AS (SELECT CAST(vec_id // (SELECT stride FROM st) AS INT) AS cid,
       |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |       FROM embeddings
       |       WHERE vec_id % (SELECT stride FROM st) = 0
       |         AND vec_id < $IvfK * (SELECT stride FROM st)),
       |$iters
       |sf AS (SELECT vec_id, label, embedding, cid,
       |  ${duckCos("embedding", "cvec")} AS ccos
       |  FROM embeddings CROSS JOIN c$IvfIters),
       |af AS (SELECT vec_id, label, embedding, CAST(cid AS BIGINT) AS cluster FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cid ASC) AS rn FROM sf) WHERE rn = 1),
       |pb AS (SELECT CAST(cid AS BIGINT) AS cluster FROM (
       |  SELECT cid, row_number() OVER (ORDER BY ccos DESC, cid ASC) AS rn
       |  FROM sf WHERE vec_id = 0 AND ccos IS NOT NULL) WHERE rn <= $IvfNprobe),
       |probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label, cluster,
       |  ${duckCos("embedding", "pe")} AS cos_sim
       |FROM af JOIN pb USING (cluster) CROSS JOIN probe
       |WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin
  }

  val oracles: ListMap[String, String] = ListMap(
    "q_dedup_minhash" ->
      (s"""WITH t AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text,' '))) AS tok
        |           FROM documents),
        |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
        |      FROM (SELECT DISTINCT tok FROM t)),
        |tv AS (SELECT t.doc_id, t.lang, v.tok_id FROM t JOIN v ON t.tok = v.tok),
        |mh AS (SELECT doc_id, lang, $minhashCols FROM tv GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, lang, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM mh
        |  UNION ALL
        |  SELECT doc_id, lang, 1, h4, h5, h6, h7 FROM mh),
        |cand AS (SELECT DISTINCT a.lang, a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bands a JOIN bands b ON a.lang = b.lang AND a.band = b.band
        |           AND a.x0 = b.x0 AND a.x1 = b.x1 AND a.x2 = b.x2 AND a.x3 = b.x3
        |           AND a.doc_id < b.doc_id)
        |SELECT c.a_id, c.b_id, c.lang,
        |  ((CASE WHEN ma.h0 = mb.h0 THEN 1 ELSE 0 END) + (CASE WHEN ma.h1 = mb.h1 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h2 = mb.h2 THEN 1 ELSE 0 END) + (CASE WHEN ma.h3 = mb.h3 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h4 = mb.h4 THEN 1 ELSE 0 END) + (CASE WHEN ma.h5 = mb.h5 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h6 = mb.h6 THEN 1 ELSE 0 END) + (CASE WHEN ma.h7 = mb.h7 THEN 1 ELSE 0 END)
        |  ) / 8.0 AS est_jac
        |FROM cand c JOIN mh ma ON ma.doc_id = c.a_id JOIN mh mb ON mb.doc_id = c.b_id
        |WHERE ((CASE WHEN ma.h0 = mb.h0 THEN 1 ELSE 0 END) + (CASE WHEN ma.h1 = mb.h1 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h2 = mb.h2 THEN 1 ELSE 0 END) + (CASE WHEN ma.h3 = mb.h3 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h4 = mb.h4 THEN 1 ELSE 0 END) + (CASE WHEN ma.h5 = mb.h5 THEN 1 ELSE 0 END)
        | + (CASE WHEN ma.h6 = mb.h6 THEN 1 ELSE 0 END) + (CASE WHEN ma.h7 = mb.h7 THEN 1 ELSE 0 END)
        |  ) / 8.0 >= 0.75
        |ORDER BY a_id, b_id""").stripMargin,
    "q_incremental_dedup" ->
      (s"""WITH t AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(1, len(text) - 3),
        |      i -> substr(text, CAST(i AS INT), 5)))) AS sh
        |  FROM documents WHERE len(text) >= 5),
        |v AS (SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS tok_id
        |      FROM (SELECT DISTINCT sh FROM t)),
        |tv AS (SELECT t.doc_id, t.lang, v.tok_id FROM t JOIN v ON t.sh = v.sh),
        |mh AS (SELECT doc_id, lang, $minhashCols FROM tv GROUP BY 1, 2),
        |hx AS (SELECT doc_id, lang, doc_id % 10 = 2 AS is_new,
        |         sha256(lower(trim(text))) AS h FROM documents),
        |hh AS (SELECT DISTINCT h FROM hx WHERE NOT is_new),
        |ex AS (SELECT n.doc_id, n.lang, (hh.h IS NOT NULL) AS exact_dup
        |       FROM hx n LEFT JOIN hh ON n.h = hh.h WHERE n.is_new),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM mh a JOIN mh b ON a.lang = b.lang
        |    AND a.doc_id % 10 = 2 AND b.doc_id % 10 <> 2
        |    AND ((a.h0 = b.h0 AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.h3 = b.h3)
        |      OR (a.h4 = b.h4 AND a.h5 = b.h5 AND a.h6 = b.h6 AND a.h7 = b.h7))),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
        |jc AS (SELECT c.a_id, c.b_id, count(*) AS cnt
        |  FROM cand c JOIN t ta ON ta.doc_id = c.a_id
        |    JOIN t tb ON tb.doc_id = c.b_id AND tb.sh = ta.sh
        |  GROUP BY 1, 2),
        |nearset AS (SELECT DISTINCT jc.a_id AS doc_id
        |  FROM jc JOIN sz sa ON sa.doc_id = jc.a_id
        |    JOIN sz sb ON sb.doc_id = jc.b_id
        |  WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.8)
        |SELECT ex.doc_id, ex.lang, ex.exact_dup,
        |  (nearset.doc_id IS NOT NULL) AS near_dup,
        |  CASE WHEN ex.exact_dup THEN 'exact_dup'
        |       WHEN nearset.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS status
        |FROM ex LEFT JOIN nearset ON ex.doc_id = nearset.doc_id
        |ORDER BY ex.doc_id""").stripMargin,
    "q_dedup_simhash" ->
      """WITH t AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text,' '))) AS tok
        |           FROM documents),
        |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
        |      FROM (SELECT DISTINCT tok FROM t)),
        |tv AS (SELECT t.doc_id, t.lang, v.tok_id FROM t JOIN v ON t.tok = v.tok),
        |bits AS (SELECT doc_id, lang, j, sum((tok_id*(2*j+3)) % 7 - 3) AS sc
        |         FROM tv CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, lang,
        |         sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END * CAST(pow(2.0, j) AS BIGINT)) AS simhash
        |       FROM bits GROUP BY 1, 2)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY a_id, b_id""".stripMargin,
    "q_lang_id" ->
      """WITH allt AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |prof AS (SELECT plang, tok FROM (
        |  SELECT lang AS plang, tok, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok ASC) AS rk
        |  FROM allt GROUP BY 1, 2) WHERE rk <= 10),
        |dt AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text,' '))) AS tok
        |       FROM documents),
        |hits AS (SELECT doc_id, lang, plang, count(*) AS n_hit
        |         FROM dt JOIN prof ON dt.tok = prof.tok GROUP BY 1, 2, 3),
        |best AS (SELECT doc_id, lang, plang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY n_hit DESC, plang ASC NULLS FIRST) AS rk FROM hits) WHERE rk = 1)
        |SELECT lang, plang AS pred_lang, count(*) AS n
        |FROM best GROUP BY 1, 2
        |ORDER BY lang NULLS FIRST, pred_lang NULLS FIRST""".stripMargin,
    "q_quality_score" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_dist,
        |  CAST(len(list_filter(string_split(text,' '),
        |    t -> t='the' OR t='a' OR t='of' OR t='and' OR t='to' OR t='in')) AS BIGINT) AS n_stop,
        |  n_chars FROM documents)
        |SELECT doc_id, n_tok, n_dist,
        |  floor((n_dist*1.0/n_tok)*1000000.0 + 0.5)/1000000.0 AS ttr,
        |  floor(((n_chars - (n_tok - 1))*1.0/n_tok)*1000000.0 + 0.5)/1000000.0 AS avg_tok_len,
        |  floor((n_stop*1.0/n_tok)*1000000.0 + 0.5)/1000000.0 AS stop_ratio,
        |  floor((0.5*(floor((n_dist*1.0/n_tok)*1000000.0 + 0.5)/1000000.0)
        |       + 0.3*(1.0 - floor((n_stop*1.0/n_tok)*1000000.0 + 0.5)/1000000.0)
        |       + 0.2*least(n_tok/100.0, 1.0))*1000000.0 + 0.5)/1000000.0 AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[a-z]+|[0-9]+|[^ \t\n\x0B\f\r]'))) AS BIGINT) AS n_bpe_tokens,
        |  floor((sum(n_chars)*1.0/sum(len(string_split(text,' '))))*1000000.0 + 0.5)/1000000.0 AS chars_per_tok
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_fingerprint" ->
      """WITH st AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
        |              unnest(range(1, len(string_split(text,' '))+1)) AS pos
        |            FROM documents),
        |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
        |      FROM (SELECT DISTINCT unnest(list_distinct(string_split(text,' '))) AS tok FROM documents)),
        |fp AS (SELECT doc_id, CAST(sum(pos * tok_id) % 2147483647 AS BIGINT) AS fp
        |       FROM st JOIN v ON st.tok = v.tok GROUP BY 1)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
        |FROM fp ORDER BY doc_id""".stripMargin,
    "q_ann_ivf" -> ivfOracle,
    "q_media_frames" ->
      """WITH b AS (SELECT doc_id,
        |    1 + CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) % 30
        |      AS n_frames
        |  FROM documents)
        |SELECT doc_id, f AS frame_idx, f*40000 AS frame_us, n_frames
        |FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS f FROM b)
        |WHERE f % 5 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_decode" ->
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(coalesce(list_sum(list_transform(
        |      range(0, octet_length(encode(text))),
        |      j -> CAST(('0x' || substring(hex(encode(text)), 2*j+1, 2))
        |        AS INT))), 0) AS BIGINT)
        |      AS byte_sum
        |  FROM t)
        |SELECT doc_id, n_bytes, byte_sum,
        |  64 + byte_sum % 192 AS width,
        |  64 + (byte_sum*31 + n_bytes) % 192 AS height,
        |  1 + n_bytes % 30 AS n_frames
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_media_resize" ->
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(coalesce(list_sum(list_transform(
        |      range(0, octet_length(encode(text))),
        |      j -> CAST(('0x' || substring(hex(encode(text)), 2*j+1, 2))
        |        AS INT))), 0) AS BIGINT)
        |      AS byte_sum
        |  FROM t),
        |dec AS (SELECT doc_id,
        |    64 + byte_sum % 192 AS width,
        |    64 + (byte_sum*31 + n_bytes) % 192 AS height
        |  FROM b),
        |sc AS (SELECT doc_id, width, height,
        |    least(2240000 // width, 2240000 // height) AS scale_bp
        |  FROM dec),
        |o AS (SELECT doc_id, width, height, scale_bp,
        |    (width * scale_bp) // 10000 AS out_w,
        |    (height * scale_bp) // 10000 AS out_h
        |  FROM sc)
        |SELECT doc_id, width, height, scale_bp, out_w, out_h,
        |  (224 - out_w) // 2 AS pad_x, (224 - out_h) // 2 AS pad_y
        |FROM o ORDER BY doc_id""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  to_base64(encode(substring(text, 1, 8))) AS b64_prefix,
        |  CAST(octet_length(encode(text)) % 256 AS BIGINT) AS fake_width,
        |  CAST(n_chars * 7 % 256 AS BIGINT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin)
}

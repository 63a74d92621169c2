package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Cols
import graft.operators.TrainingData.CheckpointOps

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization: repetition filtering (Gopher-style
  * quality signal), benchmark decontamination (n-gram overlap against a
  * held-out eval set), and mixture-weight computation for domain balancing.
  *
  * Scale notes:
  *  - repetition: computed entirely INSIDE the row with higher-order array
  *    functions — zero shuffles, embarrassingly parallel, the per-doc cost a
  *    100 TB scrub can actually afford (an explode+groupBy formulation would
  *    shuffle the full 2-gram mass of the corpus; the oracle does exactly
  *    that as an independent check).
  *  - contamination: gram join keys are 64-bit hashes, never strings; the
  *    eval-set gram table is broadcast BY CONSTRUCTION (benchmark suites are
  *    MBs while the corpus is TBs — this is the rare broadcast that stays
  *    valid at any corpus scale, because only the eval side is bounded).
  *  - mix weights: one map-side-combined aggregate over the corpus plus a
  *    single-row broadcast of the totals.
  */
object CorpusFilters {

  /** Gopher-style repetition signals per document: the highest multiplicity
    * of any token 2-gram (found via sort + longest-equal-run fold, all
    * within the row), its fraction of the doc's 2-gram mass, the distinct
    * 2-gram fraction, and a `repetitive` flag at top2_frac > 0.2. Docs with
    * fewer than 2 tokens have no 2-grams and are excluded on both sides. */
  def qRepetition(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .where(col("n_tok") >= 2)
      .withColumn("grams", expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
      .withColumn("top2_cnt", expr(
        "aggregate(array_sort(grams), " +
          "named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), " +
          "(acc, x) -> named_struct('prev', x, " +
          "'run', IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)), " +
          "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))), " +
          "acc -> acc.best)"))
      .withColumn("n_dist_gram", size(array_distinct(col("grams"))).cast("long"))
      .withColumn("top2_frac",
        Cols.r6(col("top2_cnt").cast("double") / (col("n_tok") - 1)))
      .withColumn("dist2_frac",
        Cols.r6(col("n_dist_gram").cast("double") / (col("n_tok") - 1)))
      .withColumn("repetitive", col("top2_frac") > 0.2)
      .select(col("doc_id"), col("n_tok"), col("top2_cnt"), col("top2_frac"),
        col("dist2_frac"), col("repetitive"))
      .transform(TrainingData.sortedOutput(col("doc_id")))

  /** Benchmark decontamination: docs with doc_id % 100 == 0 act as the
    * held-out eval suite; every other (training) doc reports how many of its
    * distinct token 5-grams appear anywhere in the eval set, plus a
    * `contaminated` flag at >= 50% overlap. Grams travel as xxhash64 LONGS
    * (the oracle joins the gram strings — identical membership up to a
    * ~|grams|²/2⁶⁴ collision, far below the rounding noise floor). */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    // The gram table feeds three subtrees (eval set, per-doc totals, match
    // counts) — persist it once rather than re-shingling the corpus 3×.
    val grams = TrainingData.cached("contamGrams", s, d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .where(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 4), " +
            "i -> xxhash64(concat_ws(' ', slice(toks, i, 5))))"))).as("gh"))
    }
    // Eval suites are bounded (MBs) no matter how big the corpus grows —
    // the one broadcast in this module that is justified at ANY scale.
    val ev = broadcast(grams.where(col("doc_id") % 100 === 0)
      .select(col("gh")).distinct())
    val tr = grams.where(col("doc_id") % 100 =!= 0)
    val n = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val m = tr.join(ev, "gh").groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
    // MERGE-PINNED (r15, AqeFlipAudit): both sides are per-doc COUNT
    // tables — (long, long) rows, the extreme-compressible shape whose
    // compressed shuffle footprint AQE consults can sit under the 10 MB
    // flip threshold while the deserialized HashedRelation is multi-GB
    // (the root-caused ×16 substring_dup OOM class, BASELINE r15). Both
    // sides are corpus-linear, both already hash-partitioned on doc_id
    // by their own aggregates, so the merge join reuses the partitioning
    // — the pin costs a sort, not a shuffle.
    n.join(m.hint("merge"), Seq("doc_id"), "left")
      .withColumn("n_contam", coalesce(col("n_contam"), lit(0L)))
      .withColumn("contam_frac",
        Cols.r6(col("n_contam").cast("double") / col("n_grams")))
      .withColumn("contaminated", col("contam_frac") >= 0.5)
      .orderBy("doc_id")
  }

  /** Domain-mixture weights: per (lang, source) stratum, doc/token counts,
    * the stratum's share of corpus tokens, and the up/down-sampling weight
    * that would equalize token mass across strata (uniform target). */
  def qMixWeights(s: SparkSession, d: String): DataFrame = {
    // tot derives from strata: persist the per-stratum aggregate so the
    // corpus scan+agg runs once, not once per consumer.
    val strata = TrainingData.cached("mixStrata", s, d) {
      documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Cols.sizeN(split(col("text"), " "))).as("n_tokens"))
    }
    val tot = strata.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_strata"))
    strata.crossJoin(broadcast(tot))
      .withColumn("token_share",
        Cols.r6(col("n_tokens").cast("double") / col("tot_tokens")))
      .withColumn("mix_weight", Cols.r6(col("tot_tokens").cast("double") /
        (col("n_strata") * col("n_tokens"))))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("mix_weight"))
      .orderBy("lang", "source")
  }

  /** Pretraining sequence packing: docs are laid head-to-tail into 512-token
    * training sequences within (lang, shard) streams — shard = doc_id DIV
    * 1000, i.e. streams of at most 1000 docs whose COUNT grows with the
    * corpus (a fixed modulus would cap shard count instead, leaving each
    * stream corpus-sized — a one-task sort at 100 TB). Packing is inherently
    * sequential, so bounded per-shard streams are exactly how a distributed
    * packer shards the work. Per doc: its token offset in the stream, the
    * sequence its first token lands in, and whether it straddles a sequence
    * boundary. */
  def qSeqPack(s: SparkSession, d: String): DataFrame = {
    val L = 512
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .withColumn("n_tok", Cols.sizeN(split(col("text"), " ")).cast("long"))
      .withColumn("shard", floor(col("doc_id") / 1000L))
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_offset", col("tok_end") - col("n_tok"))
      .withColumn("seq_id", floor(col("tok_offset") / L))
      .withColumn("spans_boundary",
        floor((col("tok_end") - 1) / L) =!= col("seq_id"))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        col("tok_offset"), col("seq_id"), col("spans_boundary"))
      .orderBy("doc_id")
  }

  /** Symmetric int8 embedding quantization (the storage format a
    * billion-vector ANN index actually holds): per vector, scale =
    * max|v|/127, codes = floor(v/scale + 0.5) — explicit half-up on BOTH
    * engines, never `round` (whose half-way tie rule differs across
    * engines) — plus the L2 reconstruction error. Entirely inside the row:
    * zero shuffles at any corpus size. */
  def qVecQuantize(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("dv", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      // an EMPTY vector folds to null (matching the oracle's list_max([]),
      // which is NULL in DuckDB — the 0.0-seeded fold would emit 0-valued
      // outputs where the oracle emits NULLs), and a NaN max nulls too on
      // BOTH engines (DuckDB's CAST(NaN AS BIGINT) is an engine-level
      // error, not a NULL); no-op on well-formed rows
      .withColumn("mx0", expr(
        "aggregate(dv, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("mx", expr(
        "CASE WHEN size(dv) > 0 AND NOT isnan(mx0) THEN mx0 END"))
      .withColumn("scale", col("mx") / 127.0)
      .withColumn("q", expr(
        "transform(dv, x -> CAST(floor(x / nullif(scale, 0.0) + 0.5) AS BIGINT))"))
      .withColumn("err", expr(
        "sqrt(aggregate(zip_with(dv, q, (x, c) -> pow(x - coalesce(c, CAST(0 AS BIGINT)) * scale, 2)), " +
          "CAST(0 AS DOUBLE), (a, e) -> a + e))"))
      .select(col("vec_id"), col("label"),
        Cols.r6(col("scale") * 1000.0).as("scale_x1000"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, c) -> a + abs(coalesce(c, CAST(0 AS BIGINT))))")
          .as("l1_codes"),
        Cols.r6(col("err")).as("recon_err"))
      .transform(orderedRows(col("vec_id")))

  /** Inverted index (term → document-frequency + capped posting list): the
    * corpus asset retrieval and dedup-audit tooling read. One shuffle on the
    * term; postings are sorted and capped at 10 BEFORE leaving the
    * aggregate, then emitted as a joined string (the repo's q_collect
    * convention for cross-engine list determinism). At 100 TB the posting
    * cap is what keeps stop-word rows bounded. */
  def qDocIndex(s: SparkSession, d: String): DataFrame =
    TrainingData.docToks(s, d)
      .groupBy(col("tok").as("term"))
      .agg(count(lit(1)).as("df_docs"),
        array_join(slice(array_sort(collect_list(col("doc_id"))), 1, 10), ",")
          .as("postings"))
      .orderBy("term")

  /** Bigram collocations by pointwise mutual information:
    * pmi = ln((c_ab/N) / ((c_a/n1)·(c_b/n1))) over consecutive token pairs,
    * min count 5, top-20. Bigram and unigram tables are vocabulary-sized —
    * their joins carry no hint (stats-broadcast here, shuffle join once a
    * real vocabulary outgrows the threshold); the two grand totals ride a
    * single-row broadcast. */
  def qBigramPmi(s: SparkSession, d: String): DataFrame = {
    val big = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val uni = TrainingData.allToks(s, d)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // grand totals ride the CACHED token table, not a re-derivation of
    // the bigram table (which would re-tokenize the corpus — ScanAudit
    // r10 batch 2: 2 per-run scans -> 1): a doc with n >= 2 tokens
    // contributes exactly n - 1 consecutive pairs, and allToks uses the
    // identical split (explode drops null-text docs from both streams),
    // so sum(cnt - 1 | cnt >= 2) over per-doc token counts IS
    // sum(big.c_ab)
    val tot = TrainingData.allToks(s, d)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("cnt"))
      .agg(sum(when(col("cnt") >= 2, col("cnt") - 1)).as("n_big"))
      .crossJoin(uni.agg(sum(col("c")).as("n_uni")))
    big
      .join(uni.toDF("a", "c_a"), "a")
      .join(uni.toDF("b", "c_b"), "b")
      .crossJoin(broadcast(tot))
      .where(col("c_ab") >= 5)
      .withColumn("pmi", Cols.r6(log(
        (col("c_ab").cast("double") / col("n_big")) /
          ((col("c_a").cast("double") / col("n_uni"))
            * (col("c_b").cast("double") / col("n_uni"))))))
      .select(col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Stratified systematic sampling — the mix-rebalancing step that follows
    * [[qMixWeights]]: downsample the dominant language (en keeps 10%) while
    * keeping 40% of every minority language. Per-stratum keep decisions use
    * the shared overflow-safe mixing bucket ([[graft.Cols.mixBucket]], as
    * [[Analytics.qSample]] and [[qDatasetSplit]]; never `rand()`: an
    * auditable corpus cut must be reproducible run-to-run and
    * engine-to-engine, and a bare `id·c % 100` is residue-class-biased and
    * overflows past id ≈ 3.4·10⁹ under ANSI). One scan, no shuffle before
    * the pushed-down filter — at 100 TB this is a map-only job. */
  def qSampleStratified(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .where(graft.Cols.mixBucket(col("doc_id"), 100) <
        when(col("lang") === "en", lit(10L)).otherwise(lit(40L)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .transform(orderedRows(col("doc_id")))

  /** Zipf fit per language: token frequencies, rank by frequency (total
    * tiebreak on the token so ranks are deterministic), then least-squares
    * slope/intercept of log(freq) over log(rank) — the classic corpus
    * health check (natural text ⇒ slope ≈ −1; generated/boilerplate text
    * drifts). regr_slope/regr_intercept are one distributed aggregate
    * (partial Σx/Σy/Σxy/Σx² merge map-side). The rank window sorts within
    * each lang over the VOCABULARY (≪ corpus by Heaps' law), not the token
    * stream, so the sort input at 100 TB is millions of rows, not
    * trillions. */
  def qZipf(s: SparkSession, d: String): DataFrame = {
    // r15: the (lang, tok) stream is a projection of the shared allToks
    // asset (identical explode expression) — read the materialized
    // stream instead of re-running scan + split.
    val tf = TrainingData.allToks(s, d)
      .select(col("lang"), col("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("freq"))
    val ranked = tf.withColumn("rnk", row_number().over(
      Window.partitionBy(col("lang"))
        .orderBy(col("freq").desc, col("tok").asc)))
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        Cols.r6(regr_slope(log(col("freq")), log(col("rnk")))).as("zipf_slope"),
        Cols.r6(regr_intercept(log(col("freq")), log(col("rnk")))).as("zipf_icept"))
      .orderBy("lang")
  }

  /** The FULL curation pipeline as one DAG — the composition a real corpus
    * build runs end-to-end, proving the stages stack without materialization
    * boundaries: token-length quality gate → exact-dedup survivors (first
    * doc_id per content hash) → stratified downsample (en 60%, others 90%)
    * → 512-token sequence packing of what remains. Catalyst fuses the gate
    * + hash into the scan projection; the plan shuffles exactly three times
    * (dedup hash, pack window, output sort) at ANY corpus size. Offsets are
    * computed over the post-sample survivor stream, exactly like the real
    * job (packing before sampling would leave holes). */
  def qCorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val L = 512
    val survivors = documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .where(col("n_tok") >= 10 && col("n_tok") <= 500)
      .withColumn("h", Cols.contentHash(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
      .where(graft.Cols.mixBucket(col("doc_id"), 100) <
        when(col("lang") === "en", lit(60L)).otherwise(lit(90L)))
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("shard", floor(col("doc_id") / 1000L))
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_offset", col("tok_end") - col("n_tok"))
      .withColumn("seq_id", floor(col("tok_offset") / L))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        col("tok_offset"), col("seq_id"))
      .orderBy("doc_id")
  }

  /** Gopher-style composite quality gate (the published pre-filter rule set
    * of Rae et al. 2021, Appendix A — word-count bounds, mean-word-length
    * bounds, alphabetic-word fraction, minimum stop-word hits): per doc the
    * four signals, their gate booleans at the PUBLISHED thresholds, and the
    * conjunction `keep`. On this synthetic corpus the length (50..100000)
    * and stop-word (≥2 distinct of 6) gates differentiate; the
    * word-length [3,10] and alpha ≥0.8 gates pass everywhere — kept at
    * their published values rather than bent to the fixture.
    *
    * Scale: zero shuffles — every signal folds inside the row (the
    * mean-word-length reuses `n_chars` instead of re-measuring strings),
    * so the gate runs at scan speed on any corpus size. */
  def qGopherGate(s: SparkSession, d: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in")
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", Cols.sizeN(col("toks")).cast("long"))
      .withColumn("mean_tok_len", Cols.r6(
        (col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok")))
      .withColumn("alpha_frac", Cols.r6(
        Cols.sizeN(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double") / col("n_tok")))
      .withColumn("n_stop", Cols.sizeN(array_intersect(
        array_distinct(col("toks")), array(stops.map(lit): _*))).cast("long"))
      .withColumn("gate_len", col("n_tok") >= 50 && col("n_tok") <= 100000)
      .withColumn("gate_word_len",
        col("mean_tok_len") >= 3.0 && col("mean_tok_len") <= 10.0)
      .withColumn("gate_alpha", col("alpha_frac") >= 0.8)
      .withColumn("gate_stop", col("n_stop") >= 2)
      .withColumn("keep", col("gate_len") && col("gate_word_len") &&
        col("gate_alpha") && col("gate_stop"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("mean_tok_len"),
        col("alpha_frac"), col("n_stop"), col("gate_len"), col("gate_word_len"),
        col("gate_alpha"), col("gate_stop"), col("keep"))
      .transform(TrainingData.sortedOutput(col("doc_id")))
  }

  /** CCNet-style LM quality score: score every document by its mean token
    * log-probability under a per-language unigram model and flag the bottom
    * decile of its language. The published pipeline scores with a
    * wiki-trained KenLM; the model here is the corpus's own per-language
    * unigram distribution — the same bounded-artifact shape (a model table
    * ≤ vocab size, NOT corpus size) with a replayable oracle.
    *
    * Scale: the model build is one map-side-combined aggregate; its
    * per-language totals come from a window over the VOCAB (Heaps' law —
    * millions of rows at 100 TB, not trillions, same argument as q_zipf);
    * scoring is explode → model join → per-doc re-agg (the model join key
    * is (lang, tok), so Catalyst degrades it from broadcast to shuffle as
    * the vocab grows — either way linear in corpus tokens); the decile
    * threshold is per-lang exact percentile over DOC scores (|docs| rows)
    * broadcast back. */
  def qUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    // r15 (guide §2.4/§5): the (doc_id, lang, tok) stream here was an
    // inline explode — the model build and the scoring pass each re-ran
    // the documents scan + split, and the thresh/final fan-out doubled it
    // again (4 corpus explode passes in the before-plan). allToks IS this
    // exact stream and is already the shared multi-consumer corpus asset
    // (warmed via q_tfidf); reuse it instead of rebuilding it per branch.
    val toks = TrainingData.allToks(s, d)
    val model = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("tok"),
        log(col("cnt").cast("double") / col("tot")).as("logp"))
    // scored feeds BOTH the per-lang decile aggregate and the final join —
    // checkpoint the |docs|-bounded frame so the corpus-sized score join
    // runs once, not once per consumer (the qEwma two-consumer doctrine;
    // at 100 TB |docs| rows × 4 columns is the cheap side of that join)
    val scored = toks.join(model, Seq("lang", "tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), Cols.r6(avg(col("logp"))).as("mean_logp"))
      .trackedCheckpoint()
    val thresh = scored.groupBy(col("lang"))
      .agg(Cols.r6(expr("percentile(mean_logp, 0.1)")).as("p10"))
    scored.join(broadcast(thresh), "lang")
      .withColumn("low_quality", col("mean_logp") < col("p10"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("mean_logp"),
        col("p10"), col("low_quality"))
      .transform(TrainingData.sortedOutput(col("doc_id")))
  }

  /** DSIR-style importance weight (data selection via importance
    * resampling): every document weighted by how much more likely its
    * features are under the TARGET domain (here lang='en', the corpus's
    * dominant slice) than under the raw corpus — log w(doc) = Σ_feat
    * n_feat(doc)·[log p̂_target(feat) − log p̂_raw(feat)], add-1 smoothed.
    * The published method hashes n-grams into a bounded feature space; the
    * bounded space here is the top-1024 tokens by raw-corpus frequency
    * (deterministic rank, hash-free so the oracle replays it exactly).
    *
    * Scale: feature selection is one corpus aggregate + a 1024-row rank;
    * both feature models and their totals are broadcast BY CONSTRUCTION
    * (the feature space is fixed-size no matter the corpus); scoring is
    * one explode + broadcast join + per-doc re-agg — a single shuffle on
    * doc_id. */
  def qDsirWeight(s: SparkSession, d: String): DataFrame = {
    val F = 1024
    // r15 (guide §2.4/§5): this head read the corpus token stream THREE
    // times (raw counts, target counts, scoring) through an inline
    // explode — reuse the shared allToks asset instead (identical
    // expression; warmed via q_tfidf), so the three passes read the
    // materialized stream rather than re-running scan+split each.
    val toks = TrainingData.allToks(s, d)
    val rawCnt = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt_r"))
    // top-F selection via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps + driver merge of F rows), NOT a global row_number window (which
    // would sort the whole vocab in one task)
    val feats = rawCnt.orderBy(col("cnt_r").desc, col("tok").asc).limit(F)
    val tgtCnt = toks.where(col("lang") === "en")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt_t"))
    val model = feats.join(tgtCnt, Seq("tok"), "left")
      .withColumn("cnt_t", coalesce(col("cnt_t"), lit(0L)))
    val tots = model.agg(sum(col("cnt_r")).as("tot_r"), sum(col("cnt_t")).as("tot_t"))
    val weighted = model.crossJoin(broadcast(tots))
      .select(col("tok"),
        (log((col("cnt_t") + 1).cast("double") / (col("tot_t") + F)) -
          log((col("cnt_r") + 1).cast("double") / (col("tot_r") + F))).as("logratio"))
    toks.join(broadcast(weighted), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feat"), Cols.r6(sum(col("logratio"))).as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** Overlapping-window document chunking — the preprocessing step every
    * embedding/RAG pipeline runs before vectorization: 32-token chunks at
    * stride 24 (8-token overlap so no phrase is split across a hard
    * boundary; production sizes are 128/112 — the fixture's docs top out
    * at 100 tokens, so the smaller window is what exercises multi-chunk
    * docs here). Emits per chunk its index, 1-based token offset, length,
    * and an md5 of the chunk text (the content signature both engines can
    * agree on byte-for-byte). Chunk enumeration and slicing happen INSIDE
    * the row (sequence → explode → slice): zero shuffles before the output
    * sort, scan-speed at any corpus size. */
  def qChunk(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", Cols.sizeN(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr("1 + (greatest(n_tok - 32, 0L) + 23) div 24"))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx"))
      .withColumn("tok_start", lit(1L) + col("chunk_idx") * 24)
      .withColumn("chunk_len",
        least(lit(32L), col("n_tok") - col("tok_start") + 1))
      .withColumn("chunk_md5",
        md5(expr("array_join(slice(toks, tok_start, chunk_len), ' ')")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        col("chunk_len"), col("chunk_md5"))
      .transform(orderedRows(col("doc_id"), col("chunk_idx")))

  /** Bigram-LM quality score — the tier above [[qUnigramLogprob]] on the
    * KenLM ladder (the published CCNet filter is a 5-gram LM; conditional
    * bigrams already capture the word-ORDER signal unigrams cannot): per
    * doc the mean log P(w_i | w_{i−1}) under the corpus's own add-1
    * smoothed per-language bigram model, and a bottom-decile flag within
    * its language.
    *
    * Scale: the model is two map-side-combined aggregates (bigram counts
    * + prev-marginals, both vocabulary²-BOUNDED — far below corpus size
    * by Heaps' law); the vocab-size table rides a |langs|-row broadcast;
    * scoring is one corpus-sized join on (lang, prev, cur) that degrades
    * broadcast → shuffle as the model outgrows the threshold, then one
    * per-doc re-aggregate — the q_unigram_logprob shape with a wider
    * model key. */
  def qBigramLogprob(s: SparkSession, d: String): DataFrame = {
    // bigram stream feeds the model AND the scoring pass — persist once
    val big = TrainingData.cached("biGrams", s, d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(element_at(toks, i) AS prev, element_at(toks, i + 1) AS cur))"))
          .as("g"))
        .select(col("doc_id"), col("lang"),
          col("g.prev").as("prev"), col("g.cur").as("cur"))
    }
    val cnt = big.groupBy(col("lang"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("c2"))
    val marg = cnt.groupBy(col("lang"), col("prev")).agg(sum(col("c2")).as("c1"))
    val vs = TrainingData.docToks(s, d).select(col("lang"), col("tok")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("v"))
    val model = cnt.join(marg, Seq("lang", "prev"))
      .join(broadcast(vs), "lang")
      .select(col("lang"), col("prev"), col("cur"),
        log((col("c2") + 1).cast("double") / (col("c1") + col("v"))).as("logp"))
    // scored feeds BOTH the decile aggregate and the final join — same
    // two-consumer checkpoint as qUnigramLogprob (r15): the corpus-sized
    // model join runs once; the |docs|-bounded score frame is the part
    // that is re-read.
    val scored = big.join(model, Seq("lang", "prev", "cur"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        Cols.r6(avg(col("logp"))).as("mean_logp"))
      .trackedCheckpoint()
    val thresh = scored.groupBy(col("lang"))
      .agg(Cols.r6(expr("percentile(mean_logp, 0.1)")).as("p10"))
    scored.join(broadcast(thresh), "lang")
      .withColumn("low_quality", col("mean_logp") < col("p10"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("mean_logp"),
        col("p10"), col("low_quality"))
      .transform(TrainingData.sortedOutput(col("doc_id")))
  }

  /** Deterministic train/valid/test split (80/10/10) with per-(split, lang)
    * stats — the leakage-free dataset versioning step before training.
    * Membership is a pure function of doc_id, so the split replays
    * identically run-to-run, engine-to-engine, and under corpus growth (a
    * doc never migrates between splits when new docs arrive — the property
    * random splits lose). Zero shuffles before the stats aggregate.
    *
    * The bucket is the shared [[graft.Cols.mixBucket]] (xorshift →
    * modular multiply → xorshift), replayed verbatim in the oracle — see
    * the helper's scaladoc for why a bare multiplicative hash is both
    * residue-class-degenerate and an ANSI overflow at real id scales. */
  def qDatasetSplit(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("bucket", graft.Cols.mixBucket(col("doc_id"), 100))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Cols.sizeN(split(col("text"), " "))).as("n_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("split", "lang")
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_repetition"    -> (qRepetition _),
    "q_gopher_gate"   -> (qGopherGate _),
    "q_unigram_logprob" -> (qUnigramLogprob _),
    "q_dsir_weight"   -> (qDsirWeight _),
    "q_contamination" -> (qContamination _),
    "q_mix_weights"   -> (qMixWeights _),
    "q_seq_pack"      -> (qSeqPack _),
    "q_vec_quantize"  -> (qVecQuantize _),
    "q_doc_index"     -> (qDocIndex _),
    "q_bigram_pmi"    -> (qBigramPmi _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_zipf"          -> (qZipf _),
    "q_chunk"         -> (qChunk _),
    "q_corpus_pipeline" -> (qCorpusPipeline _),
    "q_dataset_split" -> (qDatasetSplit _),
    "q_bigram_logprob" -> (qBigramLogprob _))

  val oracles: ListMap[String, String] = ListMap(
    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, lang, toks[i] AS prev, toks[i+1] AS cur
        |      FROM t, unnest(range(1, len(toks))) r(i) WHERE len(toks) >= 2),
        |cnt AS (SELECT lang, prev, cur, count(*) AS c2 FROM g GROUP BY 1, 2, 3),
        |marg AS (SELECT lang, prev, sum(c2) AS c1 FROM cnt GROUP BY 1, 2),
        |vs AS (SELECT lang, count(DISTINCT tok) AS v FROM (
        |    SELECT lang, unnest(list_distinct(string_split(text,' '))) AS tok
        |    FROM documents) GROUP BY 1),
        |m AS (SELECT cnt.lang, prev, cur,
        |        ln((c2 + 1) * 1.0 / (c1 + v)) AS logp
        |      FROM cnt JOIN marg USING (lang, prev)
        |        JOIN vs ON cnt.lang = vs.lang),
        |sc AS (SELECT g.doc_id, g.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         floor(avg(m.logp)*1000000.0 + 0.5)/1000000.0 AS mean_logp
        |       FROM g JOIN m ON g.lang = m.lang AND g.prev = m.prev
        |         AND g.cur = m.cur
        |       GROUP BY 1, 2),
        |th AS (SELECT lang,
        |         floor(quantile_cont(mean_logp, 0.1)*1000000.0 + 0.5)/1000000.0
        |           AS p10
        |       FROM sc GROUP BY 1)
        |SELECT sc.doc_id, sc.lang, sc.n_bigrams, sc.mean_logp, th.p10,
        |  (sc.mean_logp < th.p10) AS low_quality
        |FROM sc JOIN th ON sc.lang = th.lang ORDER BY sc.doc_id""".stripMargin,
    "q_dataset_split" ->
      """WITH h0 AS (SELECT doc_id, lang, text,
        |    xor(doc_id, (doc_id >> 33) & 2147483647) AS x
        |  FROM documents),
        |h AS (SELECT doc_id, lang, text,
        |    ((x % 268435399 + 268435399) % 268435399) * 2654435761 AS hm
        |  FROM h0),
        |t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    xor(hm, hm >> 29) % 100 AS bucket
        |  FROM h)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
        |  lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM t GROUP BY 1, 2 ORDER BY split, lang NULLS FIRST""".stripMargin,
    "q_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |k AS (SELECT doc_id, toks, n_tok,
        |        1 + (GREATEST(n_tok - 32, 0) + 23) // 24 AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, toks, n_tok, CAST(i AS BIGINT) AS chunk_idx,
        |        CAST(1 + 24*i AS BIGINT) AS tok_start
        |      FROM k, unnest(range(0, n_chunks)) r(i))
        |SELECT doc_id, chunk_idx, tok_start,
        |  CAST(LEAST(32, n_tok - tok_start + 1) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(
        |    toks[tok_start : tok_start + LEAST(32, n_tok - tok_start + 1) - 1],
        |    ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_unigram_logprob" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |m AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
        |mt AS (SELECT lang, sum(cnt) AS tot FROM m GROUP BY 1),
        |lp AS (SELECT m.lang, m.tok, ln(m.cnt*1.0/mt.tot) AS logp
        |       FROM m JOIN mt ON m.lang = mt.lang),
        |sc AS (SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_tok,
        |         floor(avg(lp.logp)*1000000.0 + 0.5)/1000000.0 AS mean_logp
        |       FROM t JOIN lp ON t.lang = lp.lang AND t.tok = lp.tok
        |       GROUP BY 1, 2),
        |th AS (SELECT lang,
        |         floor(quantile_cont(mean_logp, 0.1)*1000000.0 + 0.5)/1000000.0 AS p10
        |       FROM sc GROUP BY 1)
        |SELECT sc.doc_id, sc.lang, sc.n_tok, sc.mean_logp, th.p10,
        |  (sc.mean_logp < th.p10) AS low_quality
        |FROM sc JOIN th ON sc.lang = th.lang ORDER BY sc.doc_id""".stripMargin,
    "q_dsir_weight" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |rc AS (SELECT tok, count(*) AS cnt_r FROM t GROUP BY 1),
        |f AS (SELECT tok, cnt_r FROM (SELECT tok, cnt_r,
        |        row_number() OVER (ORDER BY cnt_r DESC, tok ASC) AS rk FROM rc)
        |      WHERE rk <= 1024),
        |tc AS (SELECT tok, count(*) AS cnt_t FROM t WHERE lang = 'en' GROUP BY 1),
        |m AS (SELECT f.tok, f.cnt_r, coalesce(tc.cnt_t, 0) AS cnt_t
        |      FROM f LEFT JOIN tc ON f.tok = tc.tok),
        |tot AS (SELECT sum(cnt_r) AS tot_r, sum(cnt_t) AS tot_t FROM m),
        |w AS (SELECT m.tok,
        |        ln((m.cnt_t + 1)*1.0/(tot.tot_t + 1024))
        |          - ln((m.cnt_r + 1)*1.0/(tot.tot_r + 1024)) AS logratio
        |      FROM m, tot)
        |SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_feat,
        |  floor(sum(w.logratio)*1000000.0 + 0.5)/1000000.0 AS dsir_logw
        |FROM t JOIN w ON t.tok = w.tok
        |GROUP BY 1, 2 ORDER BY t.doc_id""".stripMargin,
    "q_gopher_gate" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks, n_chars
        |           FROM documents),
        |s AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok,
        |  floor(((n_chars - (len(toks)-1))*1.0/len(toks))*1000000.0 + 0.5)/1000000.0
        |    AS mean_tok_len,
        |  floor((len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))*1.0
        |    /len(toks))*1000000.0 + 0.5)/1000000.0 AS alpha_frac,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['the','a','of','and','to','in'])) AS BIGINT) AS n_stop
        |FROM t)
        |SELECT doc_id, lang, n_tok, mean_tok_len, alpha_frac, n_stop,
        |  (n_tok >= 50 AND n_tok <= 100000) AS gate_len,
        |  (mean_tok_len >= 3.0 AND mean_tok_len <= 10.0) AS gate_word_len,
        |  (alpha_frac >= 0.8) AS gate_alpha,
        |  (n_stop >= 2) AS gate_stop,
        |  (n_tok >= 50 AND n_tok <= 100000 AND mean_tok_len >= 3.0
        |   AND mean_tok_len <= 10.0 AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE len(string_split(text,' ')) >= 2),
        |g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |        unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS gram
        |      FROM t),
        |c AS (SELECT doc_id, n_tok, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |m AS (SELECT doc_id, n_tok, CAST(max(cnt) AS BIGINT) AS top2_cnt,
        |        CAST(count(*) AS BIGINT) AS n_dist_gram
        |      FROM c GROUP BY 1, 2)
        |SELECT doc_id, n_tok, top2_cnt,
        |  floor((top2_cnt*1.0/(n_tok-1))*1000000.0 + 0.5)/1000000.0 AS top2_frac,
        |  floor((n_dist_gram*1.0/(n_tok-1))*1000000.0 + 0.5)/1000000.0 AS dist2_frac,
        |  (floor((top2_cnt*1.0/(n_tok-1))*1000000.0 + 0.5)/1000000.0 > 0.2) AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-3),
        |        i -> array_to_string(toks[i:i+4], ' ')))) AS gram
        |      FROM t WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 100 <> 0),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
        |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam
        |      FROM tr JOIN ev USING (gram) GROUP BY 1)
        |SELECT n.doc_id, n_grams,
        |  coalesce(n_contam, CAST(0 AS BIGINT)) AS n_contam,
        |  floor((coalesce(n_contam, 0)*1.0/n_grams)*1000000.0 + 0.5)/1000000.0 AS contam_frac,
        |  (floor((coalesce(n_contam, 0)*1.0/n_grams)*1000000.0 + 0.5)/1000000.0 >= 0.5)
        |    AS contaminated
        |FROM n LEFT JOIN m ON n.doc_id = m.doc_id ORDER BY n.doc_id""".stripMargin,
    "q_mix_weights" ->
      """WITH strata AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |          CAST(count(*) AS BIGINT) AS n_strata FROM strata)
        |SELECT lang, source, n_docs, n_tokens,
        |  floor((n_tokens*1.0/tot_tokens)*1000000.0 + 0.5)/1000000.0 AS token_share,
        |  floor((tot_tokens*1.0/(n_strata*n_tokens))*1000000.0 + 0.5)/1000000.0 AS mix_weight
        |FROM strata CROSS JOIN tot ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    // Exact integer FLOOR division for the shard: Spark's
    // floor(doc_id/1000) floors negative ids (-3 → -1) while DuckDB's //
    // truncates toward zero (-3 → 0) — subtracting the positive remainder
    // first makes // exact. No-op on clean fixtures (ids non-negative).
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    (doc_id - ((doc_id % 1000) + 1000) % 1000) // 1000 AS shard,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        |  FROM t)
        |SELECT doc_id, lang, shard, n_tok,
        |  tok_end - n_tok AS tok_offset,
        |  CAST(floor((tok_end - n_tok) / 512.0) AS BIGINT) AS seq_id,
        |  (CAST(floor((tok_end - 1) / 512.0) AS BIGINT)
        |    <> CAST(floor((tok_end - n_tok) / 512.0) AS BIGINT)) AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |m AS (SELECT vec_id, label, dv,
        |        CASE WHEN NOT isnan(list_max(list_transform(dv, x -> abs(x))))
        |          THEN list_max(list_transform(dv, x -> abs(x))) / 127.0
        |        END AS scale
        |      FROM v),
        |q AS (SELECT vec_id, label, dv, scale,
        |        list_transform(dv, x -> CAST(floor(x / nullif(scale, 0.0) + 0.5) AS BIGINT)) AS codes
        |      FROM m)
        |SELECT vec_id, label,
        |  floor((scale * 1000.0)*1000000.0 + 0.5)/1000000.0 AS scale_x1000,
        |  CASE WHEN codes IS NULL THEN NULL
        |       WHEN len(codes) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(list_sum(list_transform(codes, c -> abs(coalesce(c, 0)))) AS BIGINT) END AS l1_codes,
        |  CASE WHEN dv IS NULL THEN NULL
        |       WHEN len(dv) = 0 THEN 0.0
        |       ELSE floor((sqrt(list_sum(list_transform(list_zip(dv, codes),
        |    p -> pow(p[1] - coalesce(p[2], 0) * scale, 2)))))*1000000.0 + 0.5)/1000000.0 END AS recon_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_doc_index" ->
      """WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
        |           FROM documents)
        |SELECT tok AS term, CAST(count(*) AS BIGINT) AS df_docs,
        |  array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings
        |FROM t GROUP BY tok ORDER BY term""".stripMargin,
    "q_bigram_pmi" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |  SELECT ts[i] AS a, ts[i+1] AS b
        |  FROM toks, unnest(range(1, len(ts))) AS r(i)
        |  WHERE len(ts) >= 2) GROUP BY 1, 2),
        |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT unnest(string_split(text,' ')) AS tok FROM documents) GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(c_ab) AS BIGINT) FROM big) AS n_big,
        |               (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni)
        |SELECT a, b, c_ab,
        |  floor((ln((c_ab*1.0/n_big) / ((ca.c*1.0/n_uni) * (cb.c*1.0/n_uni))))*1000000.0 + 0.5)/1000000.0 AS pmi
        |FROM big JOIN uni ca ON big.a = ca.tok JOIN uni cb ON big.b = cb.tok
        |CROSS JOIN tot
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, a ASC, b ASC LIMIT 20""".stripMargin,
    // Mirrors Cols.mixBucket exactly for NEGATIVE ids too: the Spark side
    // uses shiftrightUNSIGNED ((x >> 33) & (2^31-1) here) and pmod; the
    // bare arithmetic >>/% forms only agree on non-negative keys.
    "q_sample_stratified" ->
      """WITH h0 AS (SELECT doc_id, lang, source, n_chars,
        |    xor(doc_id, (doc_id >> 33) & 2147483647) AS x
        |  FROM documents),
        |h AS (SELECT doc_id, lang, source, n_chars,
        |    ((x % 268435399 + 268435399) % 268435399) * 2654435761 AS hm
        |  FROM h0)
        |SELECT doc_id, lang, source, n_chars FROM h
        |WHERE xor(hm, hm >> 29) % 100 <
        |      CASE WHEN lang = 'en' THEN 10 ELSE 40 END
        |ORDER BY doc_id""".stripMargin,
    "q_zipf" ->
      """WITH tf AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0 GROUP BY lang, tok),
        |r AS (SELECT lang, freq,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY freq DESC, tok ASC) AS rnk FROM tf)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
        |  floor((regr_slope(ln(freq), ln(rnk)))*1000000.0 + 0.5)/1000000.0
        |    AS zipf_slope,
        |  floor((regr_intercept(ln(freq), ln(rnk)))*1000000.0 + 0.5)/1000000.0
        |    AS zipf_icept
        |FROM r GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_corpus_pipeline" ->
      """WITH q0 AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        |    xor(doc_id, (doc_id >> 33) & 2147483647) AS x
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, text, n_tok,
        |    ((x % 268435399 + 268435399) % 268435399) * 2654435761 AS hm
        |  FROM q0),
        |f AS (SELECT * FROM q WHERE n_tok BETWEEN 10 AND 500),
        |h AS (SELECT *, sha256(lower(trim(text))) AS h FROM f),
        |s AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id)
        |        AS rn FROM h),
        |sm AS (SELECT doc_id, lang, n_tok,
        |         (doc_id - ((doc_id % 1000) + 1000) % 1000) // 1000 AS shard
        |       FROM s WHERE rn = 1
        |         AND xor(hm, hm >> 29) % 100 <
        |             CASE WHEN lang = 'en' THEN 60 ELSE 90 END),
        |o AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang, shard
        |        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |        AS tok_end FROM sm)
        |SELECT doc_id, lang, shard, n_tok,
        |  tok_end - n_tok AS tok_offset,
        |  CAST(floor((tok_end - n_tok) / 512.0) AS BIGINT) AS seq_id
        |FROM o ORDER BY doc_id""".stripMargin)
}

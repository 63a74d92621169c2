package etlbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** ns/row of each `graft.functions` kernel, timed through its public Column
  * helper: a projection (or aggregate) that calls the kernel minus one of
  * the same shape that calls none, over the same cached input. Inputs come
  * from the workload's own `documents` and `embeddings`, replicated to a
  * fixed row count so the figures compare across workloads. */
object Kernels {
  private val Rows = 20000

  /** At least `rows` rows: whole copies of `df`, numbered by `copy`. */
  private def replicated(df: DataFrame, rows: Int): DataFrame = {
    val n = math.max(1L, df.count())
    df.crossJoin(df.sparkSession.range((rows + n - 1) / n).withColumnRenamed("id", "copy"))
  }

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** kernel name -> ns per input row. Cheap kernels get more rows so each
    * timing covers well over the fixed cost of a job. */
  def run(s: SparkSession, dir: String, reps: Int): Seq[(String, Double)] = {
    val mem = StorageLevel.MEMORY_ONLY
    val docs = replicated(graft.Tables.documents(s, dir).select("doc_id", "text"), Rows)
      .select((col("doc_id") * 1000 + col("copy")).as("doc"), col("text"))
    val texts = docs.withColumn("shs", ShingleHashes.shingles(s)(col("text"), 5)).persist(mem)
    val pairs = replicated(texts.select(slice(col("shs"), 1, 64).as("a"),
      slice(col("shs"), 2, 64).as("b"), col("doc")), 5 * Rows).persist(mem)
    val toks = docs.select(col("doc"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc"), xxhash64(col("word")).as("tok")).persist(mem)
    val emb = graft.Tables.embeddings(s, dir).select("embedding")
    val vecs = replicated(emb, Rows).persist(mem)
    val vecsBig = replicated(emb, 20 * Rows).persist(mem)
    val probe = typedLit(Array.tabulate(64)(i => ((i % 7) - 3) / 10.0f))
    val bloom = toks.agg(BloomFilter.bloomAgg(s)(col("tok")).as("bloom")).persist(mem)
    val probed = toks.crossJoin(broadcast(bloom))
    val freqs = Array.tabulate(1024)(i => (i * 7919) % 97 + 1)
    val inputs = Seq(texts, pairs, toks, vecs, vecsBig, bloom)
    try {
      val Seq(nTexts, nPairs, nToks, nVecs, nBig, _) = inputs.map(_.count())
      def long(c: Column) = c.cast("long")
      val v = col("embedding")
      val cases: Seq[(String, DataFrame, DataFrame, Long)] = Seq(
        ("shingle_hashes", texts.select(ShingleHashes.shingles(s)(col("text"), 5)),
          texts.select(array(long(length(col("text"))))), nTexts),
        ("minhash_sig", toks.groupBy("doc").agg(MinHashAgg.minhashSig(s)(col("tok"))),
          toks.groupBy("doc").agg(min("tok")), nToks),
        ("sign_proj_bands", vecs.select(SignProjBands.bands(s)(v, 7L, 8, 8)),
          vecs.select(array(long(size(v)))), nVecs),
        ("sign_bands", vecsBig.select(SignBands.bands(s)(v, 8, 8)),
          vecsBig.select(array(long(size(v)))), nBig),
        ("vec_dot_f", vecsBig.select(FloatVectorDot.dotF(s)(v, probe)),
          vecsBig.select(size(v).cast("double")), nBig),
        ("sorted_intersect_count", pairs.select(SortedIntersectCount.interCount(s)(col("a"), col("b"))),
          pairs.select(size(col("a")) + size(col("b"))), nPairs),
        ("bloom_agg", toks.groupBy(col("doc") % 64).agg(BloomFilter.bloomAgg(s)(col("tok"))),
          toks.groupBy(col("doc") % 64).agg(max("tok")), nToks),
        ("bloom_might_contain", probed.select(BloomFilter.mightContain(s)(col("bloom"), col("tok"))),
          probed.select(size(col("bloom")) > col("tok") % 7), nToks),
        ("bottom_k", toks.groupBy("doc").agg(BottomKAgg.bottomK(s)(col("tok"), 16)),
          toks.groupBy("doc").agg(min("tok")), nToks),
        ("bucket_hist", pairs.groupBy(col("doc") % 64).agg(BucketHistAgg.hist(s)(col("a"), 10)),
          pairs.groupBy(col("doc") % 64).agg(max(size(col("a")))), nPairs),
        ("prefix_by_freq", texts.select(PrefixByFreq.prefix(s)(col("shs"), freqs, 0.8)),
          texts.select(slice(col("shs"), 1, 3)), nTexts),
        ("lanes_equal_count", pairs.select(LanesEqualCount.lanesEqual(s)(col("a"), col("b"))),
          pairs.select(size(col("a"))), nPairs))
      cases.map { case (name, kernel, base, n) =>
        val diffs = (1 to reps).map(_ => timeNoop(kernel) - timeNoop(base))
        name -> median(diffs) * 1e9 / n
      }
    } finally inputs.foreach(_.unpersist(blocking = true))
  }
}

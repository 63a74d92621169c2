package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consistent ×f corpus grower for FULL-SURFACE scale evidence (r12):
  * writes ALL TEN fixture tables grown together with FOREIGN KEYS
  * PRESERVED, so the entire 138-query surface — joins, multi-table
  * pipelines, multimodal doc⋈embedding — runs against the grown corpus
  * and hash-compares against DuckDB on the identical files. At f = 8
  * over sf0.1 this is row mass at ~sf0.8: 4.8M lineitem / 1.2M orders /
  * 800k events — an order of magnitude past the driver's sf0.01 correctness
  * gate.
  *
  * Growth model per table (copy c = 0..f−1; catalog tables stay base):
  *  - customer: c_custkey + c·10⁷
  *  - orders:   o_orderkey + c·10¹⁰, o_custkey + c·10⁷ (FK → customer;
  *    the 10¹⁰ stride — not 10⁸ — keeps q_cdc_apply's synthesized
  *    insert keys (o_orderkey + 10⁸) in free key space, see the inline
  *    note at the orders generator)
  *  - lineitem: l_orderkey + c·10¹⁰                     (FK → orders;
  *    l_partkey/l_suppkey untouched — the catalog is shared, the
  *    "more transactions, same catalog" model)
  *  - events:   event_id + c·10¹⁰, ts + c·(span+2 days) (same users,
  *    longer history — the axis where event-time plans stay linear)
  *  - documents: doc_id + c·10⁷, every token suffixed `_c` (copies
  *    reproduce internal near-dup structure without being near-dups of
  *    each other), n_chars recomputed — [[growDocuments]]
  *  - embeddings: vec_id + c·10⁷ (stays aligned with doc_id for the
  *    multimodal join), vectors and labels copied as-is. NOTE: identical
  *    cross-copy vectors make every copy-pair an exact similarity match,
  *    so q_sim_pairs/q_dedup_embed OUTPUT grows ~×f² within a label —
  *    deliberate here: this corpus measures CORRECTNESS at volume (the
  *    oracle is quadratic over labels regardless).
  *  - region/nation/supplier/part: copied unchanged (bounded catalog).
  *
  * Usage: runMain graft.tools.GrowCorpus [sfDir] [outDir] [factor]
  */
object GrowCorpus {
  private def grown(base: DataFrame, factor: Int)(
      shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(c => if (c == 0) base else shift(base, c))
      .reduce(_ unionByName _)

  /** `outDir/documents.parquet` = `factor` copies of the sf documents:
    * copy c shifts doc_id by c·10⁷ and suffixes every token with `_c`,
    * n_chars recomputed. */
  private[graft] def growDocuments(
      spark: SparkSession, sfDir: String, outDir: String, factor: Int): Unit =
    grown(graft.Tables.documents(spark, sfDir), factor) { (df, c) =>
      val txt = array_join(
        transform(split(col("text"), " "), t => concat(t, lit(s"_$c"))), " ")
      df.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-grown-x8"
    val factor = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    Seq("region", "nation", "supplier", "part").foreach { t =>
      graft.Tables.table(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    grown(graft.Tables.customer(spark, sfDir), factor) { (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * 10000000L))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // orderkey copies stride 10^10, NOT 10^8: q_cdc_apply synthesizes
    // its insert keys as o_orderkey + 10^8 under the fixture contract
    // that the offset lands in FREE key space — a 10^8 copy stride put
    // copy c's inserts exactly on copy c+1's real keys, and the first
    // grown-corpus sweep caught the collision as a spark-vs-oracle row
    // diff (the oracle replays inserts as fresh keys; the full-outer
    // merge saw them as updates). The corpus must honor the declared
    // generators' key-space contract, like every fixture does.
    grown(graft.Tables.orders(spark, sfDir), factor) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 10000000L))
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    grown(graft.Tables.lineitem(spark, sfDir), factor) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000000L))
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val ev = graft.Tables.events(spark, sfDir)
    val Array(spanDays) = ev
      .agg((datediff(max(col("ts")), min(col("ts"))) + 2).cast("int"))
      .collect().map(_.getInt(0))
    grown(ev, factor) { (df, c) =>
      df.withColumn("event_id", col("event_id") + lit(c * 10000000000L))
        .withColumn("ts",
          col("ts") + expr(s"make_dt_interval(${c.toLong * spanDays}, 0, 0, 0)"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    growDocuments(spark, sfDir, outDir, factor)

    grown(graft.Tables.embeddings(spark, sfDir), factor) { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + lit(c * 10000000L))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val counts = graft.Tables.names.map { t =>
      s""""$t":${spark.read.parquet(s"$outDir/$t.parquet").count()}"""
    }.mkString(",")
    println(s"""{"metric":"grow_corpus","factor":$factor,"out":"$outDir",$counts}""")
    spark.stop()
  }
}

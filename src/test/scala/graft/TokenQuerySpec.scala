package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, lit, size}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.ExplainMode

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.{Insights, LlmPipeline, TrainingData}

/** The corpus token queries on hand-built corpora: q_tfidf's document
  * frequency against a Spark SQL form of its oracle, q_bm25's spread of
  * an under-split `documents` scan over the cores, and the storage its
  * per-doc profile holds across runs; and the two split-gated helpers
  * beside it, `Tables.spreadToCores` and `Tables.orderedRows`. */
class TokenQuerySpec extends SparkSpec {
  import spark.implicits._

  private val d = sfDir("sf0.001")

  test("q_tfidf: df counts distinct non-null doc ids, even when a doc id spans two langs") {
    // doc 2 appears under en and de; one row has a null doc_id, and its
    // term z occurs nowhere else (df 0, so idf and score are null)
    val dir = Files.createTempDirectory("graft-tfidf").toString
    Seq[(Option[Long], String, String, String, Long)](
      (Some(1L), "a", "en", "web", 1L),
      (Some(2L), "a b", "en", "web", 3L),
      (Some(2L), "a", "de", "web", 1L),
      (None, "a b z", "en", "web", 5L),
      (Some(3L), "c", "de", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("tfidf_docs")
    // the DuckDB oracle in Spark SQL: try_divide is DuckDB's null on a
    // zero divisor, and the D suffix keeps DuckDB's double literals
    val score = "floor((tf * ln(try_divide(CAST(n_total AS DOUBLE), df)))" +
      " * 1000000.0D + 0.5D) / 1000000.0D"
    val oracle = spark.sql(
      s"""WITH toks AS (SELECT doc_id, lang, explode(split(text, ' ')) AS term
         |              FROM tfidf_docs),
         |n AS (SELECT count(DISTINCT doc_id) AS n_total FROM tfidf_docs),
         |tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
         |SELECT lang, term, tf, df, score, rk FROM (
         |  SELECT lang, tf.term AS term, tf, df, $score AS score,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY $score DESC NULLS LAST, tf.term ASC) AS BIGINT) AS rk
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |WHERE rk <= 5 ORDER BY lang NULLS FIRST, rk""".stripMargin)
      .collect().toSeq
    val got = LlmPipeline.qTfidf(spark, dir).collect().toSeq
    assert(got == oracle)
    val df = got.map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(df == Map("a" -> 2L, "b" -> 1L, "c" -> 1L, "z" -> 0L))
  }

  test("q_tfidf: repeated, null and empty rows count as the oracle counts them") {
    // doc 4: two en rows sharing b, plus an exact duplicate row; doc 5: a
    // null-text row beside a text row; doc 6: only null text (in n_total,
    // no terms); doc 7: empty text (the term ""); doc 8: null lang; and a
    // null doc_id whose term f occurs nowhere else
    val dir = Files.createTempDirectory("graft-tfidf-adv").toString
    Seq[(Option[Long], Option[String], Option[String])](
      (Some(4L), Some("a b"), Some("en")),
      (Some(4L), Some("b c"), Some("en")),
      (Some(4L), Some("b c"), Some("en")),
      (Some(5L), None, Some("de")),
      (Some(5L), Some("c d"), Some("de")),
      (Some(6L), None, Some("en")),
      (Some(7L), Some(""), Some("en")),
      (Some(8L), Some("d e"), None),
      (None, Some("e f"), Some("de")),
      (None, None, None))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("web")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("tfidf_adv")
    // the same Spark SQL form of the DuckDB oracle as the test above
    val score = "floor((tf * ln(try_divide(CAST(n_total AS DOUBLE), df)))" +
      " * 1000000.0D + 0.5D) / 1000000.0D"
    val oracle = spark.sql(
      s"""WITH toks AS (SELECT doc_id, lang, explode(split(text, ' ')) AS term
         |              FROM tfidf_adv),
         |n AS (SELECT count(DISTINCT doc_id) AS n_total FROM tfidf_adv),
         |tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
         |SELECT lang, term, tf, df, score, rk FROM (
         |  SELECT lang, tf.term AS term, tf, df, $score AS score,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY $score DESC NULLS LAST, tf.term ASC) AS BIGINT) AS rk
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |WHERE rk <= 5 ORDER BY lang NULLS FIRST, rk""".stripMargin)
      .collect().toSeq
    val got = LlmPipeline.qTfidf(spark, dir).collect().toSeq
    assert(got == oracle)
    val df = got.map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(df == Map("a" -> 1L, "b" -> 1L, "c" -> 2L, "d" -> 2L, "e" -> 1L, "f" -> 0L, "" -> 1L))
    // n_total = 5 (ids 4-8, doc 6 included): a's score is 1 * ln(5 / 1)
    val a = got.find(_.getAs[String]("term") == "a").get
    assert(a.getAs[Double]("score") == math.floor(math.log(5.0) * 1e6 + 0.5) / 1e6)
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def roundRobins(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: Repartition if r.shuffle => r.numPartitions
    }

  /** The sf0.001 `documents` rows written as 4 files per core. */
  private lazy val manyFiles: String = {
    val dir = Files.createTempDirectory("graft-docs-split").toString
    Tables.documents(spark, d)
      .repartition(4 * spark.sparkContext.defaultParallelism)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("spreadToCores round-robins the one-file fixture's documents to the cores") {
    val cores = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, d)
    assert(Tables.scanSplits(docs).exists(_ < cores), "the fixture is expected to be one split")
    assert(roundRobins(Tables.spreadToCores(docs)) == Seq(cores))
  }

  test("spreadToCores leaves a documents table of >= cores splits and its plan untouched") {
    val docs = Tables.documents(spark, manyFiles)
    assert(Tables.scanSplits(docs).exists(_ >= spark.sparkContext.defaultParallelism))
    val spread = Tables.spreadToCores(docs)
    assert(roundRobins(spread).isEmpty)
    assert(explain(spread) == explain(docs))
  }

  /** 300 rows with a repeated, null-bearing leading key `k`, a
    * null-bearing string `s` and the unique tiebreak `id`, written as
    * `files` parquet files. */
  private def keyed(files: Int): DataFrame = {
    val dir = Files.createTempDirectory("graft-ordered").toString
    spark.range(300).selectExpr(
        "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 7 AS INT) END AS k",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE concat('s', CAST(id % 5 AS STRING)) END AS s",
        "id")
      .repartition(files).write.parquet(s"$dir/keyed.parquet")
    spark.read.parquet(s"$dir/keyed.parquet")
  }

  private val orderings = Seq(
    Seq(col("k").asc, col("id").asc),
    Seq(col("k").desc, col("id").desc),
    Seq(col("k").asc_nulls_last, col("id").asc),
    Seq(col("k").desc_nulls_first, col("id").asc),
    Seq(col("s").desc_nulls_last, col("k").asc_nulls_first, col("id").desc))

  test("orderedRows sorts a one-file input in its scan task, in orderBy's order") {
    val df = keyed(1)
    assert(Tables.scanSplits(df) == Some(1))
    for (o <- orderings) {
      val out = Tables.orderedRows(o: _*)(df)
      assert(out.collect().toSeq == df.orderBy(o: _*).collect().toSeq, o)
      assert(!explain(out).contains("Exchange"), explain(out))
    }
  }

  test("orderedRows is exactly orderBy over an input of >= cores files") {
    val df = keyed(2 * spark.sparkContext.defaultParallelism)
    assert(Tables.scanSplits(df).exists(_ >= spark.sparkContext.defaultParallelism))
    // the exchange ids count plans built so far in the session
    def plan(x: DataFrame) = explain(x).replaceAll("plan_id=\\d+", "plan_id")
    for (o <- orderings)
      assert(plan(Tables.orderedRows(o: _*)(df)) == plan(df.orderBy(o: _*)))
  }

  test("a one-file VecBin read-back counts as one split") {
    val dir = Files.createTempDirectory("graft-vecbin-splits").toString
    val fmt = "graft.sources.VecBinSource"
    Tables.embeddings(spark, d).coalesce(1)
      .where(size(col("embedding")) === sources.VecBin.DefaultDim && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"))
      .write.format(fmt).mode("overwrite").save(dir)
    val back = spark.read.format(fmt).load(dir)
    assert(Tables.scanSplits(back) == Some(1))
    assert(!explain(Tables.orderedRows(col("vec_id"))(back)).contains("Exchange"))
  }

  test("q_bm25 returns the same rows whether or not its scan is spread") {
    val one = Insights.qBm25(spark, d).collect().toSeq
    assert(one.nonEmpty)
    assert(Insights.qBm25(spark, manyFiles).collect().toSeq == one)
  }

  test("q_bm25 stores one profile however often it runs, and unpersistAll frees it") {
    TrainingData.unpersistAll()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // (RDD id, stored bytes) of every stored RDD this test added
    def added = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.isCached && !before(i.id))
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val runs = (1 to 3).map { _ =>
      assert(Insights.qBm25(spark, d).collect().nonEmpty)
      val a = added
      (a.size, a.values.sum)
    }
    assert(runs.head._1 >= 1 && runs.head._2 > 0, s"no stored profile: $runs")
    assert(runs.distinct.size == 1,
      s"stored RDDs (count, bytes) grew after the first run: $runs")
    val held = added.keySet
    TrainingData.unpersistAll()
    eventually(timeout(30.seconds), interval(100.millis)) {
      val left = spark.sparkContext.getRDDStorageInfo
        .filter(i => i.isCached && held(i.id))
      assert(left.isEmpty, s"still stored after unpersistAll: ${left.map(_.id).toSeq}")
    }
  }
}

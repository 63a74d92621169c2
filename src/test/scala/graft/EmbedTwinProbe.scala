package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Planted-twin embedding corpus for q_dedup_embed's LSH recall floors
  * at the high-cosine tier (BASELINE.md, "Embed LSH follow-through:
  * planted-twin recall").
  *
  * Corpus: N uniform synthetic vectors (xxhash64-derived dims) + one
  * planted twin per vector in the first PLANT ids, at exact target cosine
  * c cycling over {0.80, 0.85, 0.90, 0.95}: twin = c·v + √(1−c²)·|v|·ŵ
  * with ŵ the unit rejection of an independent hash-random u off v —
  * cos(v,twin) = c and |twin| = |v| by construction. Twin ids live at
  * id + 10^9.
  */
object EmbedTwinProbe {

  /** Builds (once, idempotent) the planted-twin corpus under
    * `workDir/n{n}_p{plant}` and returns that dir — shared with
    * [[EmbedRecallFloorSpec]] so the CI recall floors grade the
    * exact plant construction the BASELINE table was measured on. */
  def plantCorpus(spark: SparkSession, workDir: String, n: Int,
      plant: Int): String = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"$workDir/n${n}_p$plant"
    if (!fs.exists(new Path(s"$dir/embeddings.parquet"))) {
      val base = spark.range(n.toLong)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> cast(" +
            "pmod(xxhash64(id, j), 1000001) / 500000.5 - 1 as float))")
            .as("embedding"),
          lit(0).as("label"))
      // target cosine per planted id, cycling the four tiers
      val twins = base.where(col("vec_id") < plant)
        .withColumn("c", element_at(
          array(lit(0.80), lit(0.85), lit(0.90), lit(0.95)),
          (col("vec_id") % 4 + 1).cast("int")))
        // u: independent hash-random direction; w = u − (u·v/v·v)·v is
        // u's rejection off v; twin = c·v + √(1−c²)·(|v|/|w|)·w
        .withColumn("u",
          expr("transform(sequence(0, 63), j -> cast(" +
            "pmod(xxhash64(vec_id + 500000, j), 1000001) / 500000.5 - 1 " +
            "as float))"))
        .withColumn("uv", expr(
          "aggregate(zip_with(u, embedding, (a, b) -> cast(a AS double) * b), 0D, (s, x) -> s + x)"))
        .withColumn("vv", expr(
          "aggregate(embedding, 0D, (s, x) -> s + cast(x AS double) * x)"))
        .withColumn("k", col("uv") / col("vv"))
        .withColumn("ww", expr(
          "aggregate(zip_with(u, embedding, (a, b) -> cast(a AS double) - k * b), 0D, (s, x) -> s + x * x)"))
        .withColumn("scale",
          sqrt(lit(1) - col("c") * col("c")) * sqrt(col("vv") / col("ww")))
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          expr("zip_with(embedding, u, (v, uu) -> cast(" +
            "c * v + scale * (cast(uu AS double) - k * v) AS float))")
            .as("embedding"),
          lit(1).as("label"))
      base.unionByName(twins).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    dir
  }

  /** (a_id, c, cos) for every planted pair in a [[plantCorpus]] dir —
    * target cosine and the MEASURED cosine (plant verification). */
  def plantedPairs(spark: SparkSession, dir: String,
      plant: Int): org.apache.spark.sql.DataFrame = {
    val fdot = graft.functions.FloatVectorDot.dotF(spark) _
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    e.where(col("vec_id") < plant).toDF("a_id", "va", "la")
      .join(e.where(col("vec_id") >= 1000000000L)
          .select((col("vec_id") - 1000000000L).as("a_id"),
            col("embedding").as("vb")),
        "a_id")
      .select(col("a_id"),
        element_at(array(lit(0.80), lit(0.85), lit(0.90), lit(0.95)),
          (col("a_id") % 4 + 1).cast("int")).as("c"),
        (fdot(col("va"), col("vb")) /
          (sqrt(fdot(col("va"), col("va"))) * sqrt(fdot(col("vb"), col("vb")))))
          .as("cos"))
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-head timing for the r15 optimization loop: times the NAMED
  * declared heads under the bench's own v2 protocol (noop sink,
  * pass-major reps, per-head median AND min) without paying for the
  * other ~130 queries — the measure→change→re-measure inner loop of
  * /opt guide §1. The full Bench remains the scoring instrument; this
  * tool only steers which change to keep. One JSON line per head.
  *
  * Usage: runMain graft.tools.HeadTime [sfDir] [reps] q [q ...]
  */
object HeadTime {
  /** Parses a whole-JVM dial pin, `SPARK_GRAFT_CONF="k=v;k2=v2"`, for the
    * paired two-JVM A/B design: one JVM per arm, so arm order cannot bias
    * the reading. Keys must be spark.graft.* so a typo cannot silently
    * reshape the engine confs. */
  private[graft] def confPins(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="),
        s"SPARK_GRAFT_CONF entries must be key=value, got $kv")
      val Array(k, v) = kv.split("=", 2)
      require(k.startsWith("spark.graft."),
        s"SPARK_GRAFT_CONF keys must be spark.graft.*, got $k")
      (k, v)
    }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val heads = args.drop(2).toSeq
    require(heads.nonEmpty, "name at least one declared head")
    val pins = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(confPins)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "2000000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    // session + scan-path warmup, then shared-asset warmup for any head
    // that reads a multi-consumer cached() asset (same doctrine as Bench)
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$d/region.parquet")
      .groupBy("r_name").count().collect()
    catch { case _: Throwable => }
    for (q <- graft.Bench.warmQs if heads.contains(q))
      try graft.SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; q <- heads) {
      spark.sparkContext.setJobDescription(s"headtime:$q")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      times(q) = (System.nanoTime() - t0) / 1e9 :: times(q)
    }
    for (q <- heads) {
      val ts = times(q).sorted
      val med = ts(ts.length / 2)
      println(s"""{"head":"$q","median":$med,"min":${ts.head},""" +
        s""""reps":$reps,"sf":"$d"}""")
    }
    spark.stop()
  }
}

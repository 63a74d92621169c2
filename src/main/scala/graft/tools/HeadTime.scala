package graft.tools

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

  /** One head's JSON line: Bench's median (mean of the two middle reps
    * at an even count) and the min. */
  private[graft] def line(q: String, ts: Seq[Double], d: String): String =
    s"""{"head":"$q","median":${graft.Bench.median(ts)},"min":${ts.min},""" +
      s""""reps":${ts.length},"sf":"$d"}"""

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val heads = args.drop(2).toSeq
    require(heads.nonEmpty, "name at least one declared head")
    val pins = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(confPins)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    def warm(what: String)(body: => Unit): Unit =
      graft.Bench.attempt(body).foreach(c =>
        System.err.println(s"[headtime] warmup $what failed: $c"))
    // session + scan-path warmup, then shared-asset warmup for any head
    // that reads a multi-consumer cached() asset (same doctrine as Bench)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm("region scan")(spark.read.parquet(s"$d/region.parquet")
      .groupBy("r_name").count().collect())
    for (q <- graft.Bench.warmQs if heads.contains(q))
      warm(q)(graft.SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save())
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; q <- heads) {
      spark.sparkContext.setJobDescription(s"headtime:$q")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      times(q) = (System.nanoTime() - t0) / 1e9 :: times(q)
    }
    for (q <- heads) println(line(q, times(q), d))
    spark.stop()
  }
}

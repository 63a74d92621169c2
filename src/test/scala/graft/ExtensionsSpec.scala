package graft

/** The shared test session is built with
  * `spark.sql.extensions=graft.GraftExtensions` (see [[SparkSpec]]), so the
  * native expressions must resolve from plain SQL with no imperative
  * registration call anywhere in the test path. */
class ExtensionsSpec extends SparkSpec {

  /** One SQL call per native function, with constant arguments it accepts. */
  private val nativeCalls = Seq(
    "vec_dot_f(array(CAST(1 AS FLOAT)), array(CAST(2 AS FLOAT)))",
    "sorted_intersect_count(array(1L), array(1L))",
    "lanes_equal_count(array(1L), array(1L))",
    "bands_match_before(array(1L), array(1L), 1)",
    "minhash_sig(1L)",
    "graft_bloom_agg(1L)",
    "graft_bloom_might_contain(array(1L), 1L)",
    "bottom_k(1L, 2)",
    "bucket_hist(array(1L), 4)",
    "shingle_hashes('hello', 3)",
    "sign_bands(array(CAST(1 AS FLOAT)), 2, 4)",
    "sign_proj_bands(array(CAST(1 AS FLOAT)), 7L, 2, 4)",
    "prefix_by_freq(array(1L), array(1, 2), 0.5)")

  test("all 13 native functions resolve from SQL in a fresh session, before any helper runs") {
    val names = nativeCalls.map(_.takeWhile(_ != '('))
    assert(names.distinct.size == 13)
    assert(graft.functions.NativeFunctions.all.map(_.name).sorted == names.sorted)
    val fresh = spark.newSession()
    for (call <- nativeCalls)
      fresh.sql(s"SELECT $call AS v").queryExecution.assertAnalyzed()
  }

  test("building a column through each helper leaves the function registry unchanged") {
    import org.apache.spark.sql.functions._
    import graft.functions._
    val fresh = spark.newSession()
    def registry = fresh.sessionState.functionRegistry.listFunction().toSet
    val before = registry
    val (a, b) = (typedLit(Array(1L, 2L)), typedLit(Array(2L, 3L)))
    val v = typedLit(Array(1.0f, 2.0f))
    val rows = fresh.range(1).select(
      FloatVectorDot.dotF(fresh)(v, v),
      SortedIntersectCount.interCount(fresh)(a, b),
      LanesEqualCount.lanesEqual(fresh)(a, b),
      BandsMatchBefore.matchBefore(fresh)(a, b, lit(1)),
      BandsMatchBefore.matchBeforeGrouped(fresh)(a, b, lit(1), 1),
      BloomFilter.mightContain(fresh)(typedLit(Array.fill(BloomFns.NumLongs)(0L)), col("id")),
      ShingleHashes.shingles(fresh)(lit("hello"), 3),
      SignBands.bands(fresh)(v, 2, 4),
      SignProjBands.bands(fresh)(v, 7L, 2, 4),
      PrefixByFreq.prefix(fresh)(a, Array(1, 2), 0.5))
    rows.queryExecution.assertAnalyzed()
    val aggs = fresh.range(3).agg(
      MinHashAgg.minhashSig(fresh)(col("id")),
      MinHashAgg.minhashSigK(fresh, 37)(col("id")),
      BloomFilter.bloomAgg(fresh)(col("id")),
      BottomKAgg.bottomK(fresh)(col("id"), 2),
      BucketHistAgg.hist(fresh)(array(col("id")), 4))
    aggs.queryExecution.assertAnalyzed()
    assert(registry == before, s"helpers wrote the registry: ${registry -- before}")
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("minhash_sig rejects a non-literal lane count and a surplus argument") {
    for ((call, want) <- Seq(
        "minhash_sig(x, x)" -> "minhash_sig: k must be a literal",
        "minhash_sig(x, 8, 9)" -> "minhash_sig: takes 2 arguments, got 3")) {
      val err = intercept[Exception](
        spark.sql(s"SELECT $call FROM VALUES (1L) AS t(x)").collect())
      assert(messages(err).exists(_.contains(want)), messages(err))
    }
  }

  test("a helper in a session without the function fails at analysis naming it") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("vec_dot_f"))
    val v = org.apache.spark.sql.functions.typedLit(Array(1.0f))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      bare.range(1).select(graft.functions.FloatVectorDot.dotF(bare)(v, v)))
    assert(err.getCondition == "UNRESOLVED_ROUTINE" && err.getMessage.contains("vec_dot_f"),
      err.getMessage)
  }

  test("SparkEntry.entry calls no graft function, so a session without the extension runs it") {
    val plan = SparkEntry.entry(spark).queryExecution.analyzed
    val natives = (plan +: plan.subqueriesAll).flatMap(_.expressions)
      .flatMap(_.collect { case e if e.getClass.getName.startsWith("graft.functions.") => e })
    assert(natives.isEmpty, s"entry plan uses graft functions: $natives")
  }

  test("vec_dot_f resolves from SQL via the session extension") {
    val r = spark.sql(
      """SELECT vec_dot_f(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(4.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d"""
        .stripMargin).head().getDouble(0)
    assert(r === 1.5 * 4.0 + 2.0 * 0.5)
  }

  test("sorted_intersect_count resolves from SQL via the session extension") {
    val r = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L, 9L), array(3L, 4L, 5L)) AS c")
      .head().getLong(0)
    assert(r === 2L)
  }

  test("minhash_sig aggregate resolves from SQL via the session extension") {
    // default 8 lanes, or a literal lane count
    for ((call, lanes) <- Seq("minhash_sig(x)" -> 8, "minhash_sig(x, 64)" -> 64)) {
      val r = spark.sql(
        s"SELECT $call AS sig FROM VALUES (1L), (2L), (3L) AS t(x)")
        .head().getSeq[Long](0)
      assert(r.length === lanes)
      // lane 0: min over x of (a0·(x mod P) + b0) mod P, from the shared family
      val (a0, b0, p) = (graft.functions.MinHashAgg.A(0),
        graft.functions.MinHashAgg.B(0), graft.functions.MinHashAgg.P)
      assert(r.head === (1 to 3).map(x => (a0 * (x % p) + b0) % p).min)
    }
  }

  test("bloom agg + probe resolve from SQL via the session extension") {
    val r = spark.sql(
      """WITH b AS (SELECT graft_bloom_agg(x) AS bf FROM VALUES (10L), (20L) AS t(x))
        |SELECT graft_bloom_might_contain(bf, 10L) AS hit,
        |       graft_bloom_might_contain(bf, 12345678L) AS miss FROM b"""
        .stripMargin).head()
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1)) // 1-in-~2^30 FP chance at this load, fixed hashes
  }

  test("bottom_k aggregate resolves from SQL via the session extension") {
    val r = spark.sql(
      "SELECT bottom_k(x, 2) AS sk FROM VALUES (5L), (1L), (9L), (1L) AS t(x)")
      .head().getSeq[Long](0)
    assert(r == Seq(1L, 5L))
  }

  test("extension functions are codegen-compatible in a real pipeline") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 7L), Seq(2L, 7L, 9L))).toDF("a", "b")
    df.createOrReplaceTempView("ext_probe")
    val r = spark.sql(
      "SELECT sorted_intersect_count(a, b) AS c FROM ext_probe").head().getLong(0)
    assert(r === 2L)
  }

  test("bloom probe rejects a wrong-geometry filter array loudly") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bloom_might_contain(array(1L, 2L), 7L)").collect()
    }
    assert(messages(err).exists(_.contains("graft_bloom_agg result")),
      s"want the diagnosable geometry message, got: ${messages(err)}")
  }

  test("kernels codegen-compile with NON-nullable children sharing one projection") {
    import org.apache.spark.sql.functions._
    // vecbin's read schema declares embedding non-nullable, so
    // nullSafeCodeGen inlines kernel bodies UNBRACED into one method
    // scope — fixed local names would collide across instances and
    // silently fall back to interpreted eval; fallback=false makes that
    // a loud failure
    val dir = java.nio.file.Files.createTempDirectory("graft-cg").toString
    Tables.embeddings(spark, sfDir("sf0.001")).limit(50)
      .select(col("vec_id"), col("label"), col("embedding"))
      .write.format("graft.sources.VecBinSource").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val fdot = graft.functions.FloatVectorDot.dotF(spark) _
      val rows = spark.read.format("graft.sources.VecBinSource").load(dir)
        .select(
          fdot(col("embedding"), col("embedding")).as("d1"),
          fdot(col("embedding"), col("embedding")).as("d2"),
          graft.functions.SignBands.bands(spark)(col("embedding"), 8, 8).as("b"))
        .collect()
      assert(rows.length == 50)
      rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}

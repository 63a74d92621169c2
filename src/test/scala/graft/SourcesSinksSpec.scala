package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.1: sources (parquet/CSV/JSON with explicit schema) and sinks
  * (parquet, hive-partitioned parquet) — exercised as round-trips. */
class SourcesSinksSpec extends SparkSpec {
  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  private lazy val li = Tables.lineitem(spark, sfDir("sf0.001"))
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  test("src_parquet: footer schema, no inference") {
    val df = Tables.lineitem(spark, sfDir("sf0.001"))
    assert(df.schema("l_orderkey").dataType == LongType)
    // parquet isAdjustedToUTC=false → Spark 4 reads TIMESTAMP_NTZ; the UTC
    // session timezone makes casts to TIMESTAMP wall-clock preserving.
    assert(df.schema("l_shipdate").dataType == TimestampNTZType)
    assert(df.count() == 6000)
  }

  test("the footer-schema cache re-reads a table rewritten with another schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-schema-cache").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((1.5, 2, true)).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("x", "y", "z"))
    assert(again.collect().toSeq == Seq(org.apache.spark.sql.Row(1.5, 2, true)))
  }

  test("sink_parquet + src_parquet round-trip preserves data and schema") {
    val out = tmp() + "/li"
    li.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema == li.schema)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("src_csv: header + explicit schema round-trip") {
    val out = tmp() + "/csv"
    li.write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(out)
    assert(back.count() == li.count())
    assert(back.agg(sum("l_quantity")).head.getDouble(0) ==
      li.agg(sum("l_quantity")).head.getDouble(0))
  }

  test("src_json: JSON-lines with schema-on-read") {
    val out = tmp() + "/json"
    li.write.mode("overwrite").json(out)
    val back = spark.read.schema(li.schema).json(out)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("sink_partitioned: hive layout + partition pruning on read") {
    val out = tmp() + "/part"
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    // hive-style directories exist
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("l_returnflag=")))
    val back = spark.read.parquet(out)
    val one = back.where(col("l_returnflag") === "R")
    // partition filter must prune to the R directory, not scan-all-filter
    val scan = one.queryExecution.executedPlan.toString()
    assert(one.count() == li.where(col("l_returnflag") === "R").count())
    assert(back.count() == li.count())
    assert(scan.contains("PartitionFilters") || one.count() > 0)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // Bucketing pre-shuffles BOTH fact tables by the join key at write
    // time — the 100 TB recipe for repeated fact-fact joins: pay the
    // shuffle once per snapshot, never per query.
    val wh = tmp()
    val db = "graft_bucketed"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh/$db'")
    try {
      Tables.lineitem(spark, sfDir("sf0.001"))
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.li_b")
      Tables.orders(spark, sfDir("sf0.001"))
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(s"$db.ord_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table(s"$db.li_b")
          .join(spark.table(s"$db.ord_b"),
            col("l_orderkey") === col("o_orderkey"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() ===
          Tables.lineitem(spark, sfDir("sf0.001")).count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("batch incremental pickup: modifiedAfter reads only files newer than the cursor") {
    // the batch half of incremental ingestion (the streaming half is
    // Streams.fileIngest): a daily job keeps a timestamp cursor and
    // re-reads only files that appeared since — no file log needed
    val dir = java.nio.file.Files.createTempDirectory("graft-modafter").toString
    val src = Tables.customer(spark, sfDir("sf0.001"))
    src.limit(3).write.parquet(s"$dir/batch=1")
    // cursor between the two writes; FS mtime granularity needs real gap
    Thread.sleep(1500)
    val cursor = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    Thread.sleep(1500)
    src.limit(5).write.parquet(s"$dir/batch=2")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val incremental = spark.read
      .option("modifiedAfter", fmt.format(cursor))
      .option("basePath", dir).parquet(s"$dir/batch=*")
    assert(incremental.count() == 5, "only the post-cursor batch is read")
    val full = spark.read.option("basePath", dir).parquet(s"$dir/batch=*")
    assert(full.count() == 8, "without the cursor both batches are read")
  }

  test("parquet codec control: zstd and snappy both roundtrip losslessly") {
    // the 100 TB knob a lake operator actually turns — zstd for cold
    // storage density, snappy for hot-path scan speed; either way the
    // data must survive byte-exact
    val src = Tables.customer(spark, sfDir("sf0.001"))
    val base = java.nio.file.Files.createTempDirectory("graft-codec").toString
    val want = src.orderBy("c_custkey").collect().toSeq
    Seq("zstd", "snappy").foreach { codec =>
      val dir = s"$base/$codec"
      src.write.option("compression", codec).parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.orderBy("c_custkey").collect().toSeq == want, codec)
      // the codec actually took effect (footer-recorded file naming)
      val files = new java.io.File(dir).listFiles.map(_.getName)
      assert(files.exists(_.contains(codec)), files.mkString(","))
    }
  }

  test("src_orc + sink_orc round-trip preserves data and schema") {
    val dir = tmp() + "/li_orc"
    li.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === li.schema)
    assert(back.count() === li.count())
    assert(back.agg(sum(col("l_quantity"))).head.getDouble(0) ===
      li.agg(sum(col("l_quantity"))).head.getDouble(0))
  }

  test("src_orc pushes filters into the ORC scan") {
    val dir = tmp() + "/li_orc_f"
    li.write.mode("overwrite").orc(dir)
    val df = spark.read.orc(dir).where(col("l_orderkey") === 7L)
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(l_orderkey"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q_bucketed_join's declared tables join Exchange-free once broadcast ends") {
    val d = sfDir("sf0.001")
    operators.Roundtrip.qBucketedJoin(spark, d).collect() // creates the tables
    val (ot, ct) = operators.Roundtrip.bucketedTableNames(d)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(ot)
        .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"the declared bucketed tables must join without a shuffle:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dynamic partition overwrite touches only its partitions; compaction merges files") {
    val d = sfDir("sf0.001")
    def partFiles(date: String): Map[String, Long] = {
      val dir = new java.io.File(
        s"${operators.Roundtrip.evolveDir(d)}/event_date=$date")
      assert(dir.isDirectory, s"missing partition dir $dir")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    val day = operators.Roundtrip.EvolveDay
    val untouched = "2024-01-05"

    operators.Roundtrip.evolveInitial(spark, d)
    val untouchedBefore = partFiles(untouched)
    val dayBefore = partFiles(day)
    assert(untouchedBefore.nonEmpty && dayBefore.nonEmpty)

    operators.Roundtrip.evolveRewrite(spark, d)
    // dynamic mode: the day NOT in the incoming frame keeps its exact files
    assert(partFiles(untouched) == untouchedBefore,
      "dynamic overwrite must not rewrite partitions absent from the frame")
    assert(partFiles(day).keySet.intersect(dayBefore.keySet).isEmpty,
      "the rewritten day must consist of new files")

    operators.Roundtrip.evolveCompact(spark, d)
    assert(partFiles(untouched) == untouchedBefore,
      "compaction of one day must not touch other partitions")
    assert(partFiles(day).size == 1,
      s"compaction should merge the day to 1 file, got ${partFiles(day).size}")

    // final state: day-15 values doubled, every other day unchanged
    val base = Tables.events(spark, d)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("value"))
    val expected = base
      .withColumn("value", when(col("dt") === day, col("value") * 2)
        .otherwise(col("value")))
      .groupBy("dt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = operators.Roundtrip.qPartitionOverwrite(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("z-order layout contracts per-file spans of BOTH dims; single-column sort only its own") {
    import operators.Roundtrip
    val pts = Roundtrip.zPoints(Tables.events(spark, sfDir("sf0.01")))
      .select(col("x"), col("y"), col("zval"))
    def spans(dir: String): (Double, Double, Long) = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .collect()
      (perFile.map(_.getAs[Long]("xs")).sum.toDouble / perFile.length,
        perFile.map(_.getAs[Long]("ys")).sum.toDouble / perFile.length,
        perFile.length.toLong)
    }
    val (zDir, xDir) = (tmp() + "/z", tmp() + "/x")
    pts.orderBy("zval").write.option("maxRecordsPerFile", "1000").parquet(zDir)
    pts.orderBy("x", "y").write.option("maxRecordsPerFile", "1000").parquet(xDir)
    val (gx, gy) = {
      val r = pts.agg(max(col("x")) - min(col("x")),
        max(col("y")) - min(col("y"))).collect()(0)
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val (zx, zy, zn) = spans(zDir)
    val (xx, xy, xn) = spans(xDir)
    assert(zn >= 4 && xn >= 4, s"need multiple files to measure ($zn, $xn)")
    // z-order clusters BOTH dims: each file covers a fraction of each range
    assert(zx <= 0.55 * gx, s"z-order x-span $zx vs global $gx")
    assert(zy <= 0.55 * gy, s"z-order y-span $zy vs global $gy")
    // the x-only sort clusters x even tighter but leaves y unclustered —
    // that contrast is the reason z-order exists
    assert(xx <= 0.55 * gx, s"x-sort x-span $xx vs global $gx")
    assert(xy >= 0.9 * gy, s"x-sort should NOT cluster y: $xy vs $gy")
  }

  test("src_text: line mode and wholetext mode") {
    val dir = tmp() + "/txt"
    Tables.documents(spark, sfDir("sf0.001"))
      .select(col("text")).limit(10)
      .write.mode("overwrite").text(dir)
    val lines = spark.read.text(dir)
    assert(lines.schema.fieldNames.toSeq === Seq("value"))
    assert(lines.count() === 10)
    val whole = spark.read.option("wholetext", "true").text(dir)
    // one row per file, each holding that file's full content
    assert(whole.count() === new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".txt")))
  }
}

package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** §2.1 sources/sinks under the DRIVER's oracle (not just ScalaTest): each
  * query writes a fixture table through a non-parquet format and reads it
  * back with an EXPLICIT schema — never inference, which would be a second
  * full pass over the data at corpus scale. The oracle reads the SAME rows
  * straight from parquet, so a hash match proves the write→read cycle is
  * lossless for every value (Spark emits shortest-round-trip doubles, quotes
  * CSV strings, and the timestamp format pins microseconds + UTC offset so
  * session timezone can never leak into the bytes).
  *
  * Scale shape: the write makes one file per input partition and the read
  * back is a plain FileScan, one task per split, so each side is as
  * parallel as its input is split; nothing goes through the driver. The
  * fixture tables are one small file each, so on them both sides run as
  * one task, and the read-back's presentation sort
  * ([[graft.Tables.orderedRows]]) runs inside that scan task: no range
  * exchange, no sampling job that reads the files a second time. A
  * read-back of many splits keeps its parallel range sort. Spreading the
  * one-split write over the cores did not pay when sized (the csv round
  * trip got a little faster, the vecbin one slower), so the write keeps
  * its input's partitioning.
  * Timestamps leave the query as epoch-microsecond BIGINT per the
  * repo-wide determinism convention.
  */
object Roundtrip {

  /** Per-(sfDir, name) scratch dir so concurrent Verify/Bench runs on
    * different SFs never clobber each other. */
  private def scratch(d: String, name: String): String = {
    val base = sys.env.getOrElse("GRAFT_SCRATCH",
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    s"$base/graft-roundtrip/${d.replaceAll("[^A-Za-z0-9.]", "_")}/$name"
  }

  /** The fixture's o_orderdate is TIMESTAMP_NTZ (parquet not-UTC-adjusted),
    * so the text format carries NO zone — microsecond wall-clock digits only,
    * deterministic under any session timezone. */
  private val tsNtzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** customer → CSV (header, default quoting) → explicit-schema read-back.
    * The writer's whitespace trimming is DISABLED (it defaults on and would
    * silently eat leading/trailing spaces — RoundtripSpec proves the gap).
    * Values with embedded newlines additionally need `multiLine=true` on
    * read, which makes files non-splittable — a newline-bearing corpus
    * should take the JSON-lines path instead (escapes `\n`, stays
    * splittable); the spec documents both behaviors. */
  def qCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "customer_csv")
    customer(s, d).write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    s.read.schema(customerSchema).option("header", "true").csv(out)
      .transform(orderedRows(col("c_custkey")))
  }

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  /** orders → JSON lines → explicit-schema read-back; the timestamp survives
    * as a real TimestampNTZType through the text format (micro digits pinned
    * by [[tsNtzFmt]]) and is emitted as epoch-us at the boundary per the
    * repo-wide convention. */
  def qJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "orders_json")
    orders(s, d).write.mode("overwrite")
      .option("timestampNTZFormat", tsNtzFmt).json(out)
    s.read.schema(ordersSchema).option("timestampNTZFormat", tsNtzFmt).json(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), graft.Cols.epochUs(col("o_orderdate")).as("o_date_us"),
        col("o_orderpriority"))
      .transform(orderedRows(col("o_orderkey")))
  }

  private val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  /** part → ORC → explicit-schema read-back (columnar sink beyond parquet;
    * the ScalaTest side additionally proves ORC predicate pushdown). */
  def qOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "part_orc")
    part(s, d).write.mode("overwrite").orc(out)
    s.read.schema(partSchema).orc(out)
      .transform(orderedRows(col("p_partkey")))
  }

  private val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** supplier → XML (Spark 4's built-in xml source, one `<supplier>` row
    * element per record) → explicit-schema read-back. Rounds out the text
    * format matrix (CSV/JSON-lines/XML); doubles survive because the JVM's
    * `Double.toString` is uniquely-identifying and the reader parses it
    * back to the same bits. Like CSV, XML is record-framed text — fine for
    * feeds and interchange, but a 100 TB corpus stores columnar. */
  def qXmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "supplier_xml")
    supplier(s, d).write.mode("overwrite").option("rowTag", "supplier").xml(out)
    s.read.schema(supplierSchema).option("rowTag", "supplier").xml(out)
      .transform(orderedRows(col("s_suppkey")))
  }

  /** supplier → JDBC (embedded Derby — the engine Spark already ships for
    * its Hive metastore) → partitioned JDBC read-back. THE
    * dimension-exchange path with operational databases: bounded reference
    * tables go in and out over JDBC while bulk data stays columnar. The
    * read side declares partitionColumn/bounds/numPartitions, so it plans
    * as 4 parallel range-sliced scans — how a real dimension pull avoids a
    * single-connection bottleneck. */
  def qJdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val url = s"jdbc:derby:${scratch(d, "supplier_derby")};create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    // Derby has NO NaN representation — EmbedPreparedStatement.setDouble
    // throws on it (round-7 fuzz: one NaN acctbal killed the whole write).
    // The standard JDBC-boundary mapping is NaN → SQL NULL; the oracle
    // reads the source through the same lens.
    supplier(s, d)
      .withColumn("s_acctbal", graft.Cols.nanNull(col("s_acctbal")))
      .write.mode("overwrite")
      .format("jdbc").option("url", url).option("driver", drv)
      .option("dbtable", "supplier").save()
    s.read.format("jdbc").option("url", url).option("driver", drv)
      .option("dbtable", "supplier")
      .option("partitionColumn", "s_suppkey")
      .option("lowerBound", "0").option("upperBound", "10000")
      .option("numPartitions", "4")
      .load()
      .orderBy("s_suppkey")
  }

  /** documents → hive-partitioned parquet (one directory per lang) →
    * read-back. The partition column leaves the data files and comes back
    * from directory names — the layout every 100 TB corpus uses so that
    * per-language jobs scan 1/|langs| of the data (partition pruning is
    * pinned in PlanShapeSpec). Text is dropped from the round-trip output
    * to keep the oracle row narrow; n_chars stands in as the payload. */
  def qPartitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "documents_bylang")
    documents(s, d).select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    partitionedRead(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      .transform(orderedRows(col("doc_id")))
  }

  /** The read side of [[qPartitionedRoundtrip]] — separated so the spec can
    * pin partition pruning on a lang predicate over the same layout. The
    * schema is passed EXPLICITLY (derived from the source projection the
    * write side used): at 100 TB that skips the footer-sampling pass, and
    * it keeps the read total when the written frame had zero rows — a
    * partitioned write of no rows produces no files, and schema inference
    * over no files throws. Partition pruning on `lang` is unaffected
    * (named partition columns still come from directory discovery). */
  private[graft] def partitionedRead(s: SparkSession, d: String): DataFrame =
    s.read.schema(documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang")).schema)
      .parquet(scratch(d, "documents_bylang"))

  /** embeddings → `.vecbin` (the custom DSv2 fixed-width binary vector
    * format, [[graft.sources.VecBinSource]]) → read-back. The query emits
    * each vector's id, label, first dim (raw float — any byte corruption
    * shows) and its r6 L2 norm (covers all 64 dims), so a hash match against
    * the parquet-side oracle proves the binary write→read cycle is
    * bit-lossless. Write is distributed (one file per input partition,
    * footer stats per file); read is the splittable scan. */
  def qVecbinRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "embeddings_vecbin")
    val fmt = "graft.sources.VecBinSource"
    embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
      // the format is fixed-width and its writer REJECTS nonconforming
      // vectors loudly — the right format contract; the job-side move is to
      // dead-letter corrupt rows before the write (no-op on a well-formed
      // corpus). Width comes from the format's own constant, not a copy.
      // A null label is equally nonconforming (the record layout has no
      // null slot) — same dead-letter treatment, mirrored in the oracle.
      .where(size(col("embedding")) === graft.sources.VecBin.DefaultDim
        && col("label").isNotNull)
      .write.format(fmt).mode("overwrite").save(out)
    val fdot = graft.functions.FloatVectorDot.dotF(s) _
    s.read.format(fmt).load(out)
      .select(col("vec_id"), col("label"),
        element_at(col("embedding"), 1).as("dim0"),
        graft.Cols.r6(sqrt(fdot(col("embedding"), col("embedding")))).as("l2_norm"))
      .transform(orderedRows(col("vec_id")))
  }

  /** Schema evolution across parquet batches — the drift every multi-year
    * corpus accumulates. Batch 1 (even orderkeys) was written before the
    * `o_orderstatus` column existed; batch 2 carries it. `mergeSchema` read
    * reconciles the footers and null-fills the missing column — no rewrite
    * of the old batch. (Merge cost is per-FOOTER, driver-side: at 100 TB
    * keep it off by default and pin the merged schema explicitly, which the
    * read below demonstrates by passing the superset schema on re-read.) */
  def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "orders_evolution")
    val o = orders(s, d)
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/batch=1")
    o.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/batch=2")
    s.read.option("mergeSchema", "true").option("basePath", out)
      .parquet(s"$out/batch=1", s"$out/batch=2")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("batch").cast("long").as("batch"))
      .transform(orderedRows(col("o_orderkey")))
  }

  /** The rewritten partition's date — fixed so the oracle can replay it. */
  private[graft] val EvolveDay = "2024-01-15"

  /** The partition-overwrite lake's location, for the spec's file-level
    * assertions. */
  private[graft] def evolveDir(d: String): String = scratch(d, "events_bydate")

  private def eventsByDate(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("user_id"), col("value"),
      date_format(col("ts"), "yyyy-MM-dd").as("event_date"))

  /** The lake's read schema, stated explicitly for the same two reasons as
    * [[partitionedRead]] (no footer sampling at scale; total on an empty
    * lake). `event_date` is DATE — exactly what partition-dir discovery
    * infers from the yyyy-MM-dd directory values, so the explicit schema
    * changes nothing on a populated lake. */
  private def lakeSchema(s: SparkSession, d: String): StructType =
    StructType(eventsByDate(s, d).schema.map(f =>
      if (f.name == "event_date") f.copy(dataType = DateType) else f))

  /** Step 1: the initial date-partitioned lake write, deliberately
    * FRAGMENTED (8-way repartition → up to 8 small files per partition,
    * the daily-ingest debris every real lake accumulates). Returns the
    * lake dir. */
  private[graft] def evolveInitial(s: SparkSession, d: String): String = {
    val out = scratch(d, "events_bydate")
    eventsByDate(s, d)
      .repartition(8)
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    out
  }

  /** Step 2: DYNAMIC partition overwrite — reprocess ONE day (values
    * doubled, the deterministic stand-in for a corrected feed) and rewrite
    * only that partition. `partitionOverwriteMode=dynamic` replaces just
    * the partitions the incoming frame contains; with the default STATIC
    * mode this same write would silently DELETE the other 29 days. Passed
    * as a writer option so no session conf leaks past the write. */
  private[graft] def evolveRewrite(s: SparkSession, d: String): Unit =
    eventsByDate(s, d)
      .where(col("event_date") === EvolveDay)
      .withColumn("value", col("value") * 2)
      .repartition(8)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date").parquet(scratch(d, "events_bydate"))

  /** Step 3: small-file COMPACTION of the rewritten partition — read the
    * partition back, repartition to the target file count (1 here; at
    * scale, `ceil(partition bytes / target file size)`), dynamic-overwrite
    * it in place. Untouched partitions' files are never rewritten. */
  private[graft] def evolveCompact(s: SparkSession, d: String): Unit = {
    val out = scratch(d, "events_bydate")
    s.read.schema(lakeSchema(s, d)).parquet(out)
      .where(col("event_date") === EvolveDay)
      .repartition(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date").parquet(out)
  }

  /** §2.1 dynamic-partition-overwrite + compaction: initial fragmented
    * date-partitioned write → one day reprocessed under
    * `partitionOverwriteMode=dynamic` → that day compacted to target file
    * size — the #1 operational loop on a partitioned 100 TB lake (rewrite
    * only touched partitions, keep file counts bounded). The read-back
    * aggregates final state per day; the oracle replays it from the source
    * table (day 15 doubled). SourcesSinksSpec additionally pins the FILE
    * facts SQL can't see: untouched partitions' files byte-identical
    * across both steps, and the compacted day collapsing to one file. */
  def qPartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val out = evolveInitial(s, d)
    evolveRewrite(s, d)
    evolveCompact(s, d)
    // event_date is DATE in the lake schema; cast back to the written
    // string form so the output schema matches the oracle's VARCHAR.
    s.read.schema(lakeSchema(s, d)).parquet(out)
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"))
      .agg(count(lit(1)).as("n"), graft.Cols.moneySum(col("value")).as("sum_value"))
      .orderBy("event_date")
  }

  /** §2.1 bucketed-table co-located join under the hash gate: orders and
    * customer are saved as 8-bucket tables bucketed AND sorted by custkey,
    * then joined bucket-to-bucket. Bucketing is THE 100 TB co-location
    * strategy for a recurring large-large join: both sides' shuffles are
    * paid once at write time, and every subsequent join is Exchange-free
    * (SourcesSinksSpec pins the no-Exchange sort-merge plan with broadcast
    * disabled; at this test SF Catalyst rightly prefers a broadcast of the
    * tiny dim — the layout's payoff begins where broadcast ends). The
    * read-back aggregates revenue per segment; the oracle replays the join
    * from the raw tables, proving the bucketed write→read cycle lossless. */
  /** The bucketed tables' catalog names, for the spec's plan pin. */
  private[graft] def bucketedTableNames(d: String): (String, String) = {
    val suff = d.replaceAll("[^A-Za-z0-9]", "_")
    (s"graft_orders_bkt_$suff", s"graft_customer_bkt_$suff")
  }

  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ot, ct) = bucketedTableNames(d)
    s.sql(s"DROP TABLE IF EXISTS $ot")
    s.sql(s"DROP TABLE IF EXISTS $ct")
    orders(s, d).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", scratch(d, "orders_bucketed"))
      .mode("overwrite").saveAsTable(ot)
    customer(s, d).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", scratch(d, "customer_bucketed"))
      .mode("overwrite").saveAsTable(ct)
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        graft.Cols.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Z-order (Morton curve) clustered layout: events keyed by the 2-D
    * point (x = user_id, y = day index), each dim min-max normalized onto
    * an 8-bit grid — WITHOUT the normalization, the wider dimension's high
    * bits own the top of the curve and the narrow dimension never
    * clusters; scaling both dims to the same bit width is what makes the
    * interleave symmetric (and is how production z-ordering works) — then
    * bit-interleaved into a 16-bit z-value, SORTED by it and written to
    * multi-file parquet: the layout that makes parquet min/max skipping
    * work on BOTH dimensions at once (a single-column sort clusters only
    * its own column; SourcesSinksSpec measures the per-file span
    * contraction of each dim against an x-only sort). The declared query
    * reads the clustered files back and aggregates per z-range bucket
    * (zval div 256 = one cell of the 16×16 top-level grid): count +
    * min/max of both dims, whose tight spans ARE the skipping guarantee,
    * hash-checked against the oracle's replay of the identical
    * normalize-and-interleave arithmetic from the raw table. */
  def qZorder(s: SparkSession, d: String): DataFrame = {
    val out = scratch(d, "events_zorder")
    zPoints(events(s, d))
      .orderBy("zval", "event_id")
      .write.mode("overwrite").option("maxRecordsPerFile", "2000").parquet(out)
    s.read.parquet(out)
      .groupBy(expr("zval div 256").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("zbucket")
  }

  /** (x, y, zval) projection of the events table — shared by the declared
    * query and the spec's layout measurements. Normalization bounds ride a
    * single-row broadcast (one extra corpus aggregate — the same stats a
    * table's footer already knows at 100 TB). */
  private[graft] def zPoints(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_id"),
      col("user_id").as("x"),
      greatest(datediff(to_date(col("ts")), to_date(lit("2024-01-01"))), lit(0))
        .cast("long").as("y"))
    val mm = broadcast(base.agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax")))
    val g = base.crossJoin(mm)
      .withColumn("xg", expr("((x - xmin) * 256) div (xmax - xmin + 1)"))
      .withColumn("yg", expr("((y - ymin) * 256) div (ymax - ymin + 1)"))
    val z = (0 until 8).map(i =>
      shiftleft(shiftright(col("xg"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("yg"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      .reduce(_ + _)
    g.withColumn("zval", z).select(col("event_id"), col("x"), col("y"), col("zval"))
  }

  /** The oracle's copy of the interleave — generated from the same loop so
    * the 16 terms cannot drift from the Spark side. */
  private def zTermsSql(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_csv_roundtrip"  -> (qCsvRoundtrip _),
    "q_json_roundtrip" -> (qJsonRoundtrip _),
    "q_orc_roundtrip"  -> (qOrcRoundtrip _),
    "q_partitioned_roundtrip" -> (qPartitionedRoundtrip _),
    "q_vecbin_roundtrip" -> (qVecbinRoundtrip _),
    "q_schema_evolution" -> (qSchemaEvolution _),
    "q_partition_overwrite" -> (qPartitionOverwrite _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_zorder" -> (qZorder _),
    "q_xml_roundtrip" -> (qXmlRoundtrip _),
    "q_jdbc_roundtrip" -> (qJdbcRoundtrip _))

  val oracles: ListMap[String, String] = ListMap(
    "q_zorder" ->
      s"""WITH b AS (SELECT event_id, user_id AS x,
         |  GREATEST(date_diff('day', DATE '2024-01-01',
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE)), 0) AS y
         |  FROM events),
         |mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
         |         min(y) AS ymin, max(y) AS ymax FROM b),
         |g AS (SELECT x, y,
         |        ((x - xmin) * 256) // (xmax - xmin + 1) AS xg,
         |        ((y - ymin) * 256) // (ymax - ymin + 1) AS yg
         |      FROM b, mm),
         |z AS (SELECT x, y, ${zTermsSql("xg", "yg")} AS zval FROM g)
         |SELECT zval // 256 AS zbucket, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY zbucket NULLS FIRST""".stripMargin,
    // NULLIF on the string columns: a CSV cell cannot distinguish '' from
    // NULL under Spark's default nullValue='' — the round trip collapses
    // empty strings to null, so the oracle reads the source the same way.
    "q_csv_roundtrip" ->
      """SELECT c_custkey, NULLIF(c_name, '') AS c_name, c_nationkey,
        |  c_acctbal, NULLIF(c_mktsegment, '') AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_xml_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_jdbc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CASE WHEN NOT isnan(s_acctbal) THEN s_acctbal END AS s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  epoch_us(o_orderdate) AS o_date_us, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,
    // NULLIF: a Hive-style partition directory cannot represent an empty
    // string — Spark writes '' to __HIVE_DEFAULT_PARTITION__ and reads it
    // back as NULL. No-op on clean fixtures (lang never '').
    "q_partitioned_roundtrip" ->
      """SELECT doc_id, source, n_chars, NULLIF(lang, '') AS lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_vecbin_roundtrip" ->
      """WITH v AS (SELECT vec_id, label, embedding[1] AS dim0,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2r
        |FROM embeddings WHERE len(embedding) = 64 AND label IS NOT NULL)
        |SELECT vec_id, label, dim0,
        |  floor(l2r*1000000.0 + 0.5)/1000000.0 AS l2_norm
        |FROM v ORDER BY vec_id""".stripMargin,
    // The writer's two batch predicates (%2 = 0 / %2 = 1) drop rows whose
    // key satisfies neither — negative keys have %2 = -1 in both engines.
    // No-op on clean fixtures (keys non-negative).
    "q_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END::BIGINT AS batch
        |FROM orders WHERE o_orderkey % 2 IN (0, 1)
        |ORDER BY o_orderkey""".stripMargin,
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
        |  floor((sum(o_totalprice))*100.0 + 0.5)/100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_partition_overwrite" ->
      s"""WITH e AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
        |  CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$EvolveDay'
        |       THEN value * 2 ELSE value END AS value FROM events)
        |SELECT event_date, count(*) AS n,
        |  floor((sum(value))*100.0 + 0.5)/100.0 AS sum_value
        |FROM e GROUP BY 1 ORDER BY event_date NULLS FIRST""".stripMargin)
}

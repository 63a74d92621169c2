package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Fixture-table loaders.
  *
  * Every declared query receives `(SparkSession, sfDir)` and reads its inputs
  * through here, so the scan always goes through `spark.read.parquet` — the
  * schema comes from the parquet footer (no inference pass) and Catalyst gets
  * a plain `LogicalRelation` it can push filters/column pruning into.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer-schema cache (r15, guide §6 metadata caching): every
    * `spark.read.parquet` call without a schema runs a footer-inference
    * job before planning — one small job per table() call, hundreds per
    * bench pass (138 queries × reps × their tables). So read the schema
    * from the footer once per file version and pass it explicitly
    * afterwards; the data path (scan, pushdown, pruning) is untouched —
    * this caches metadata the way a lake catalog/manifest does at 100 TB,
    * never rows. An entry is keyed by the table's path and holds the
    * modification time and length it was read at: a rewritten table (the
    * same name can ship different physical types, see events below)
    * fails that stamp and is re-read, at the cost of one file stat per
    * call. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val stamp = (st.getModificationTime, st.getLen)
    schemaCache.get(path) match {
      case (`stamp`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemaCache.put(path, (stamp, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations (rounds 1–5) and plain µs in others (round 6+). The nanos
    * form is rejected by the Spark 4 reader by default, so we always set
    * `spark.sql.legacy.parquet.nanosAsLong` and then branch on the schema
    * that actually materialized: a long column gets the ns→µs truncation
    * at the source boundary (the identical truncation DuckDB applies via
    * `CAST(ts AS TIMESTAMP)`, so oracle parity holds); a native timestamp
    * passes through. Downstream operators always see a timestamp column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // The conf is set once at session build in every repo-owned harness
    // (Verify/Bench/spec wrapper); this guard only fires for externally
    // built sessions (the driver's smoke session) and only writes when the
    // value actually differs, so concurrent loaders never race on a
    // global-conf write (r6 verdict item 3).
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral `div` — ns since epoch overflows double precision
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Splits (read tasks) of one scan node: a v1 file scan or a DSv2
    * batch scan, from the planned file listing on the driver; no job
    * runs. None for any other node, and for a file scan whose files a
    * subquery picks at run time. */
  private def splitsOf(p: SparkPlan): Option[Int] = p match {
    case f: FileSourceScanExec
        if !f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) =>
      Some(f.inputRDD.getNumPartitions)
    case b: BatchScanExec => Some(b.inputRDD.getNumPartitions)
    case _ => None
  }

  /** Splits of `df`'s first scan. */
  private[graft] def scanSplits(df: DataFrame): Option[Int] =
    df.queryExecution.sparkPlan.collectFirst(Function.unlift(splitsOf))

  /** Total splits of the scans `p` reads in its own stage; a broadcast's
    * build side runs as a job of its own and counts nothing. None when
    * the stage reads a shuffle or a leaf that is no sized scan (a cache,
    * a checkpoint, a JDBC read). */
  private[graft] def stageSplits(p: SparkPlan): Option[Int] = p match {
    case _: BroadcastExchangeExec => Some(0)
    case _: ShuffleExchangeExec => None
    case leaf if leaf.children.isEmpty => splitsOf(leaf)
    case other => other.children.foldLeft(Option(0)) { (acc, c) =>
      acc.flatMap(a => stageSplits(c).map(a + _))
    }
  }

  /** `df` round-robin repartitioned to `defaultParallelism` partitions
    * when its file scan has fewer [[scanSplits]] than that, else `df`
    * itself. For CPU-heavy per-row work over a table that arrives as too
    * few files to fill the cores. A table of thousands of files gets
    * `df` back unchanged, so its plan keeps no extra shuffle. */
  def spreadToCores(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df).exists(_ < cores)) df.repartition(cores) else df
  }

  /** `df` totally ordered by `cols`, for a query's presentation sort.
    * When `df`'s plan reads no shuffle and its scans have one split in
    * total, the rows already sit in one task: `coalesce(1)` keeps them
    * there and `sortWithinPartitions` sorts them in that task, so the
    * range exchange and the boundary-sampling job that re-runs the scan
    * go. Otherwise (a shuffle below, or many splits, as a corpus of
    * thousands of files has) it is exactly `df.orderBy(cols)`. Decided on
    * the driver from `df`'s physical plan and its scans' file listing;
    * no job runs. Use [[graft.operators.TrainingData.sortedOutput]]
    * instead over a shuffle (a join, window or aggregate result). */
  def orderedRows(cols: Column*)(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (stageSplits(plan).exists(_ <= 1)) df.coalesce(1).sortWithinPartitions(cols: _*)
    else df.orderBy(cols: _*)
  }
}

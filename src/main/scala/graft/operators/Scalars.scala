package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.Tables._
import graft.Cols
import graft.functions.VectorFunctions._

/** Scalar functions (SURVEY §2.8): string / date / math / conditional /
  * JSON / array / map. All row-level expressions — no shuffle except the
  * final presentation ORDER BY; everything stays inside whole-stage codegen.
  */
object Scalars {

  /** String functions over `part`. */
  def qStr(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("low"),
        substring(col("p_name"), 1, 8).as("sub"),
        length(col("p_name")).cast("long").as("len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("cat"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("rep"),
        size(split(col("p_name"), " ")).cast("long").as("ntok"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_tok"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"))
      .transform(orderedRows(col("p_partkey")))

  /** Date/time functions over `orders`. Derived instants are emitted as
    * epoch-micros so timezone rendering can never diverge (SURVEY §2 box). */
  def qDate(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        Cols.epochUs(date_trunc("month", col("o_orderdate"))).as("month_us"),
        datediff(lit("2024-06-01").cast("date"), col("o_orderdate"))
          .cast("long").as("days_to_mid24"),
        Cols.epochUs(add_months(col("o_orderdate"), 3)).as("plus3m_us"))
      .transform(orderedRows(col("o_orderkey")))

  /** Math functions over `lineitem`, incl. a null-safe division via nullif +
    * coalesce. ln/sqrt go through libm on both engines — r6 absorbs the last
    * ulp where implementations disagree. */
  def qMath(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        Cols.r6(abs(col("l_discount") - lit(0.05))).as("ab"),
        ceil(col("l_extendedprice")).cast("long").as("ce"),
        floor(col("l_extendedprice")).cast("long").as("fl"),
        pow(col("l_quantity"), lit(2.0)).as("pw"),
        Cols.r6(log(lit(1.0) + col("l_extendedprice"))).as("lg"),
        Cols.r6(sqrt(col("l_quantity"))).as("sq"),
        coalesce(Cols.r6(col("l_extendedprice") / nullif(col("l_discount"), lit(0.0))),
          lit(-1.0)).as("safe_div"))
      .transform(orderedRows(col("l_orderkey"), col("l_linenumber")))

  /** CASE WHEN tiering + nullif/coalesce over `customer`, aggregated. */
  def qCase(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .withColumn("tier",
        when(col("c_acctbal") > 5000.0, "high")
          .when(col("c_acctbal") > 1000.0, "mid")
          .otherwise("low"))
      .withColumn("seg_or_none",
        coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("NONE")))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        Cols.moneySum(col("c_acctbal")).as("sum_bal"),
        count(when(col("seg_or_none") === "NONE", 1)).as("n_machinery"))
      .orderBy("tier")

  /** JSON extraction from the `events.props` string column. */
  def qJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // try_cast, not cast: a non-numeric $.k string (e.g. "NaN") in ONE
      // poison row would otherwise kill the whole job under ANSI (Spark 4
      // default); try_cast nulls it identically in both ANSI modes and the
      // oracle's TRY_CAST mirrors it
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_k"),
        count(when(col("k") > 5, 1)).as("n_k_gt5"))
      .orderBy("event_type")

  /** Array higher-order functions over the 64-dim float embeddings: size,
    * element access, slice, array_max, L2 norm via a sequential fold. All
    * arithmetic in float64 after an element-wise cast (both engines). */
  def qArray(s: SparkSession, d: String): DataFrame = {
    val v = toDouble(col("embedding"))
    embeddings(s, d).select(
        col("vec_id"),
        Cols.sizeN(col("embedding")).cast("long").as("n"),
        // guarded: ANSI element_at throws on an empty array (a corrupt
        // zero-length payload); a missing first element is null, not a crash
        Cols.r6(when(size(col("embedding")) >= 1,
          element_at(col("embedding"), 1)).cast("double")).as("e1"),
        Cols.r6(array_max(col("embedding")).cast("double")).as("mx"),
        // the guarded folds null on an EMPTY array like the oracle's
        // list_sum([]) (NULL in DuckDB); the 0-seeded fold would emit 0.0
        Cols.r6(when(size(col("embedding")) >= 1, l2Norm(v))).as("nrm"),
        Cols.r6(when(size(col("embedding")) >= 1,
          arraySum(toDouble(slice(col("embedding"), 1, 3))))).as("head3_sum"))
      .transform(orderedRows(col("vec_id")))
  }

  /** Map functions: parse `props` to map<string,bigint>, explode to rows. */
  def qMap(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"),
        explode(from_json(col("props"), MapType(StringType, LongType))))
      .toDF("event_id", "key", "val")
      .transform(orderedRows(col("event_id"), col("key")))

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q_str"   -> (qStr _),
    "q_date"  -> (qDate _),
    "q_math"  -> (qMath _),
    "q_case"  -> (qCase _),
    "q_json"  -> (qJson _),
    "q_array" -> (qArray _),
    "q_map"   -> (qMap _))

  val oracles: ListMap[String, String] = ListMap(
    "q_str" ->
      """SELECT p_partkey,
        | upper(p_name) AS up, lower(p_brand) AS low,
        | substring(p_name, 1, 8) AS sub,
        | CAST(length(p_name) AS BIGINT) AS len,
        | p_brand || ':' || p_type AS cat,
        | replace(p_name, ' ', '_') AS rep,
        | CAST(len(string_split(p_name, ' ')) AS BIGINT) AS ntok,
        | coalesce(regexp_extract(p_name, '^([a-z]+)', 1), '') AS first_tok,
        | trim('  ' || p_name || '  ') AS trimmed
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS dom,
        | epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2024-06-01') AS BIGINT) AS days_to_mid24,
        | epoch_us(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH
        |   AS TIMESTAMP)) AS plus3m_us
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math" ->
      """SELECT l_orderkey, l_linenumber,
        | floor((abs(l_discount - 0.05))*1000000.0 + 0.5)/1000000.0 AS ab,
        | CASE WHEN isnan(l_extendedprice) THEN 0
        |      ELSE CAST(ceil(l_extendedprice) AS BIGINT) END AS ce,
        | CASE WHEN isnan(l_extendedprice) THEN 0
        |      ELSE CAST(floor(l_extendedprice) AS BIGINT) END AS fl,
        | pow(l_quantity, 2.0) AS pw,
        | CASE WHEN isnan(l_extendedprice) THEN CAST('NaN' AS DOUBLE)
        |      WHEN 1.0 + l_extendedprice <= 0 THEN NULL
        |      ELSE floor((ln(1.0 + l_extendedprice))*1000000.0 + 0.5)/1000000.0 END AS lg,
        | CASE WHEN isnan(l_quantity) OR l_quantity < 0 THEN CAST('NaN' AS DOUBLE)
        |      ELSE floor((sqrt(l_quantity))*1000000.0 + 0.5)/1000000.0 END AS sq,
        | coalesce(CASE WHEN isnan(l_extendedprice / nullif(l_discount, 0.0)) THEN CAST('NaN' AS DOUBLE)
        |      ELSE floor((l_extendedprice / nullif(l_discount, 0.0))*1000000.0 + 0.5)/1000000.0 END, -1.0) AS safe_div
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_case" ->
      """WITH c AS (SELECT *,
        |  CASE WHEN c_acctbal > 5000.0 THEN 'high'
        |       WHEN c_acctbal > 1000.0 THEN 'mid' ELSE 'low' END AS tier,
        |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'NONE') AS seg_or_none
        | FROM customer)
        |SELECT tier, count(*) AS n,
        | floor((sum(c_acctbal))*100.0 + 0.5)/100.0 AS sum_bal,
        | count(CASE WHEN seg_or_none = 'NONE' THEN 1 END) AS n_machinery
        |FROM c GROUP BY tier ORDER BY tier""".stripMargin,
    "q_json" ->
      """WITH e AS (SELECT event_type,
        |  TRY_CAST(CASE WHEN json_valid(props) THEN
        |    json_extract_string(props, '$.k') END AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
        | count(DISTINCT k) AS n_k,
        | count(CASE WHEN k > 5 THEN 1 END) AS n_k_gt5
        |FROM e GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    // NaN flows through the rounding folds on BOTH engines since Cols.r2/r6
    // went NaN-transparent (round 7): DuckDB's floor(NaN) is NaN natively.
    "q_array" ->
      """WITH v AS (SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n,
        |  CAST(embedding[1] AS DOUBLE) AS e1r,
        |  CAST(list_max(embedding) AS DOUBLE) AS mxr,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrmr,
        |  list_sum(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))) AS h3r
        |FROM embeddings)
        |SELECT vec_id, n,
        | floor(e1r*1000000.0 + 0.5)/1000000.0 AS e1,
        | floor(mxr*1000000.0 + 0.5)/1000000.0 AS mx,
        | floor(nrmr*1000000.0 + 0.5)/1000000.0 AS nrm,
        | floor(h3r*1000000.0 + 0.5)/1000000.0 AS head3_sum
        |FROM v ORDER BY vec_id""".stripMargin,
    "q_map" ->
      """SELECT event_id, k AS key,
        | CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS val
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k
        |      FROM (SELECT event_id,
        |              CASE WHEN json_valid(props) THEN props END AS props
        |            FROM events)
        |      WHERE props IS NOT NULL
        |        AND len(list_filter(json_keys(props),
        |          kk -> json_type(props, '$.' || kk)
        |            NOT IN ('BIGINT', 'UBIGINT'))) = 0)
        |ORDER BY event_id, key""".stripMargin)
}

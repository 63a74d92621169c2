package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `oracle_sql.json`: one JSON object of query name → oracle SQL. Every
    * control char is escaped — a tab or CR in the SQL must not make the
    * driver's json.load fail and silently zero the correctness check. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local iteration aid;
    // the driver always calls with exactly two args = full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    var okCount = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        okCount += 1
      } catch {
        // every throwable, fatal ones included: oracle_sql.json below
        // must still be written
        case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: ${Bench.cause(e)}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    // Tail-hardened self-check (same discipline as Bench): teardown FIRST
    // at ERROR log level, then one final stdout line with per-query ok/err
    // counts — a future CORRECTNESS artifact failure is diagnosable from
    // the driver's 2000-char combined-stream tail alone.
    graft.operators.TrainingData.unpersistAll()
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    // Cap the failure list at 20 names (r7 verdict item 2): a catastrophic
    // round with all 138 queries failing would otherwise bloat exactly the
    // diagnostic line that must survive the driver's 2000-char tail. The
    // full count is always in "err"; the names are a sample.
    val failedJson = failed.toList.sorted.take(20)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"verify","ok":$okCount,"err":${failed.size},"failed":$failedJson}""")
  }
}

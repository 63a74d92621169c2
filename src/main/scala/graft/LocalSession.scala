package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session, built by every main and the test
  * suites. `nanosAsLong` lets `Tables.events` read TIMESTAMP(NANOS)
  * fixtures; the recursion row limit lifts Spark's 1e6-row guard, which
  * q_recursive's |customers|·depth walk passes at ~60k customers, the
  * way a deployment would (BASELINE r12). AQE keeps Spark's default:
  * callers that need static plans turn it off on the returned session.
  */
object LocalSession {
  def apply(master: String, partitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "2000000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

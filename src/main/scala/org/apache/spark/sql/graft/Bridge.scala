package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway a library-defined logical operator needs:
  * wrapping a hand-built [[LogicalPlan]] back into a public [[DataFrame]]
  * (`Dataset.ofRows` is sql-private by design; a same-package bridge is the
  * standard extension pattern — everything else in this repo stays on the
  * public API).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `NormalizeFloatingNumbers.normalize` is sql-private; custom operators
    * that group by raw key bytes need it to give float keys Aggregate/
    * Window grouping semantics (-0.0 == 0.0, one NaN). */
  def normalizeFloats(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** An executor-local scratch directory resolved exactly the way Spark's
    * own spilling operators resolve theirs (`Utils.getLocalDir`: honors
    * SPARK_LOCAL_DIRS / YARN / k8s-provided dirs, not just the
    * `spark.local.dir` conf key). None outside a Spark env (plain unit
    * tests). */
  def localDir(): Option[String] =
    Option(org.apache.spark.SparkEnv.get)
      .map(env => org.apache.spark.util.Utils.getLocalDir(env.conf))

  /** The materialized RDD behind an eagerly `localCheckpoint()`ed frame
    * (its analyzed plan is a sql-private [[LogicalRDD]] over exactly that
    * RDD). Lets a teardown path unpersist checkpoint blocks explicitly
    * instead of waiting for ContextCleaner GC. None for any other plan
    * shape. */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Blocks until every event posted to `sc`'s listener bus so far has
    * reached its listeners (`listenerBus` is spark-private), so a count a
    * listener keeps is complete once the jobs it counts have returned.
    * False when the bus did not drain within Spark's 10 s wait. */
  def drainListeners(sc: org.apache.spark.SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}

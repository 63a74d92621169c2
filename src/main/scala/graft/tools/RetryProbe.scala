package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Task-retry determinism probe — the one execution-model axis the
  * ConfParity arms can't reach: on a real cluster tasks FAIL and are
  * re-executed (lost executors, preemption, fetch failures), and a result
  * that depends on which attempt ran is silently wrong at 100 TB scale.
  * Local sessions run with maxFailures=1 (any failure is fatal), so no
  * declared-surface run ever exercises the retry path; this probe builds
  * its own `local[8,2]` session (task retries allowed) and INJECTS a
  * fails-exactly-once task via a JVM-static flag, once in the scan/map
  * stage and once in a post-shuffle stage.
  *
  * The pipeline under test deliberately stacks the partition-sensitive
  * disciplines the repo relies on: a `zipWithIndex` vocabulary (dense ids
  * from a sorted distinct scan), the `MinHashAgg` typed-imperative
  * aggregate, and a seeded `sample` (per-partition RNG seeded by
  * seed+split — the retried attempt must redraw the SAME rows). Pass =
  * every arm's canonicalized result equals the no-injection baseline AND
  * the listener saw the injected failure (a zero-failure arm would mean
  * the probe is vacuous, not that retries are safe).
  *
  * Usage: runMain graft.tools.RetryProbe [sfDir]
  */
object RetryProbe {

  val fired = new AtomicBoolean(true) // armed per-arm via reset()
  val failedTasks = new AtomicInteger(0)

  private def reset(): Unit = { fired.set(false); failedTasks.set(0) }

  /** Identity pass-through whose FIRST task attempt in the JVM throws. */
  private def inject(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      df.rdd.mapPartitions { it =>
        if (!fired.getAndSet(true))
          throw new RuntimeException("graft injected task failure")
        it
      }, df.schema)

  private def pipeline(s: SparkSession, d: String,
      arm: String): Vector[String] = {
    val docs0 = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val docs = if (arm == "map") inject(docs0) else docs0
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val vocab = graft.operators.TrainingData.denseIds(tok, "tok", "tok_id")
    val sig = graft.functions.MinHashAgg.minhashSig(s) _
    val mh0 = tok.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(sig(col("tok_id")).as("sig"), count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("sig")(0).as("x0"), col("sig")(7).as("x7"),
        col("n_tok"))
    val mh = if (arm == "reduce") inject(mh0) else mh0
    val sampled = docs.sample(0.3, 42)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    ConfParity.canon(mh) ++ ConfParity.canon(sampled)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession("local[8,2]", 8) // 8 threads, 2 task attempts
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    })

    val base = pipeline(spark, sfDir, "none")
    val results = Seq("map", "reduce").map { arm =>
      reset()
      val got = pipeline(spark, sfDir, arm)
      // The TaskEnd listener runs on the async listener bus; the count can
      // lag the action's return, which would report a genuinely injected
      // failure as 0 and spuriously mark the arm vacuous. The bus drain API
      // is private[spark], so poll the counter with a bounded wait instead.
      val deadline = System.nanoTime() + 10_000_000_000L
      while (failedTasks.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val nFail = failedTasks.get()
      val same = got == base
      println(s"""{"metric":"retry_probe_arm","arm":"$arm","failed_tasks":$nFail,"identical":$same}""")
      (arm, nFail, same)
    }
    spark.stop()
    val ok = results.forall { case (_, nFail, same) => nFail >= 1 && same }
    println(s"""{"metric":"retry_probe","sf":"$sfDir","ok":$ok,"arms":${results.size}}""")
  }
}

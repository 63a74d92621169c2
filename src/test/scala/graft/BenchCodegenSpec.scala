package graft

/** `Bench.codegenDuring` and `Bench.jobsDuring`, the per-pass compile
  * and job figures of the bench's full line: counts around a body. */
class BenchCodegenSpec extends SparkSpec {

  test("codegenDuring counts what a new expression compiles, and nothing for an empty body") {
    // a literal no other plan holds makes the generated source new
    val k = System.nanoTime()
    val (n, secs) = Bench.codegenDuring(
      spark.range(100).selectExpr(s"sum(id * $k)").collect())
    assert(n >= 1 && secs > 0, s"($n, $secs)")
    assert(Bench.codegenDuring(()) == ((0L, 0.0)))
  }

  test("jobsDuring counts nothing for an empty body, and the jobs of a noop write") {
    assert(Bench.jobsDuring(spark)(()) == 0)
    val n = Bench.jobsDuring(spark)(
      spark.range(100).write.format("noop").mode("overwrite").save())
    assert(n >= 1, n)
  }
}

package graft

/** `Bench.codegenDuring`, the per-pass compile figures of the bench's
  * full line: the counter delta around a body. */
class BenchCodegenSpec extends SparkSpec {

  test("codegenDuring counts what a new expression compiles, and nothing for an empty body") {
    // a literal no other plan holds makes the generated source new
    val k = System.nanoTime()
    val (n, secs) = Bench.codegenDuring(
      spark.range(100).selectExpr(s"sum(id * $k)").collect())
    assert(n >= 1 && secs > 0, s"($n, $secs)")
    assert(Bench.codegenDuring(()) == ((0L, 0.0)))
  }
}

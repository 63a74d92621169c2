package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.HeadTime.{confPins, line}

/** `SPARK_GRAFT_CONF` parsing for HeadTime's whole-JVM dial pins, and
  * its per-head JSON line. */
class HeadTimeConfSpec extends AnyFunSuite {

  test("key=value pairs split on ';', blanks skipped, value keeps its '='") {
    assert(confPins(" spark.graft.a=1 ;; spark.graft.b=x=y ") ==
      Seq("spark.graft.a" -> "1", "spark.graft.b" -> "x=y"))
    assert(confPins("") == Nil)
  }

  test("an entry without '=' fails with a clear message") {
    val e = intercept[IllegalArgumentException](
      confPins("spark.graft.a=1;spark.graft.b"))
    assert(e.getMessage.contains("key=value, got spark.graft.b"), e.getMessage)
  }

  test("keys outside spark.graft.* are rejected") {
    val e = intercept[IllegalArgumentException](
      confPins("spark.sql.shuffle.partitions=7"))
    assert(e.getMessage.contains("must be spark.graft.*"), e.getMessage)
  }

  test("reps=4: median is the mean of the two middle reps") {
    assert(line("q_x", Seq(4.0, 1.0, 3.0, 2.0), "sf") ==
      """{"head":"q_x","median":2.5,"min":1.0,"reps":4,"sf":"sf"}""")
  }
}

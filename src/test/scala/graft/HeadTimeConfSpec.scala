package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.HeadTime.confPins

/** `SPARK_GRAFT_CONF` parsing for HeadTime's whole-JVM dial pins. */
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
}

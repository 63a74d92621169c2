package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir(tier: String): String = s"/root/testdata/$tier"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

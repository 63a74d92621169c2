package graft

import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` must parse back to the exact SQL strings, whatever
  * the SQL contains: a driver-side json.load failure would zero the
  * whole correctness check. */
class VerifyJsonSpec extends AnyFunSuite {

  test("oracleJson round-trips quotes, backslashes and control chars") {
    val sql = Map(
      "q_a" -> "SELECT 'it''s \"quoted\"' AS s, '\\d+' AS re",
      "q_b" -> "SELECT 1\tAS one,\n  2 AS two\r\nFROM t WHERE x = '\u0001'",
      "q_\"odd\\name" -> "")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Verify.oracleJson(sql))
    assert(node.size == sql.size)
    for ((k, v) <- sql) {
      assert(node.has(k), s"key $k lost")
      assert(node.get(k).asText == v, s"value of $k changed")
    }
  }
}

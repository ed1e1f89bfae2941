package graft

import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Verify's `oracle_sql.json` round-trips through a strict JSON reader for
  * every registered oracle plus one entry of control characters. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json parses back to the input map, control characters escaped") {
    val sql = SparkEntry.oracleSql + ("ctl" -> "a\tb\rc\"d\\e\u0001f")
    val text = Verify.oracleJson(sql)
    assert(!text.exists(_ < ' '), "a raw control character reached the file")
    assert(parse(text).values == sql)
  }
}

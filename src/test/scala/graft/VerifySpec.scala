package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** oracle_sql.json is what the driver's DuckDB compare loads: it must
  * parse back to exactly the registry's oracle map. */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("oracle_sql.json round-trips to SparkEntry.oracleSql") {
    val oracle = SparkEntry.oracleSql
    assert(oracle.nonEmpty)
    assert(parse(Verify.oracleJson()) == oracle)
  }

  test("oracle JSON escapes tab, CR, quote, backslash and control chars") {
    val nasty = Map("k\t\"1\"" -> "SELECT '\t' AS a,\r\n '\"' AS b, '\\' AS c, '\u0001' AS d")
    assert(parse(Verify.oracleJson(nasty)) == nasty)
  }
}

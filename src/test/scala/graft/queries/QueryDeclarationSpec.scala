package graft.queries

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Verify}

/** The query declarations and the `oracle_sql.json` that `Verify` writes
  * from them: the file parses back to exactly `SparkEntry.oracleSql`, its
  * escaping survives every character a JSON string must escape, and a name
  * declared twice fails instead of shadowing a query.
  */
class QueryDeclarationSpec extends AnyFunSuite {

  private def parse(json: String): Seq[(String, String)] =
    new ObjectMapper()
      .readValue(json, classOf[java.util.LinkedHashMap[String, String]])
      .asScala.toSeq

  test("oracle_sql.json parses back to oracleSql, one entry per query") {
    val parsed = parse(Verify.oracleJson(SparkEntry.oracleSql))
    assert(parsed.map(_._1) == SparkEntry.oracleSql.keys.toSeq)
    assert(parsed.toMap == SparkEntry.oracleSql)
    assert(parsed.size == 238)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(parsed.map(_._1).toSet == SparkEntry.queries.keySet)
  }

  test("escaping round-trips quote, backslash, tab, CR and control chars") {
    val sql = Map(
      "q\"k" -> "SELECT 'a\"b' AS \"x\\y\"\tFROM t\r\nWHERE c = '\u0001\u001f'",
      "plain" -> "SELECT 1")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(c => c < ' '))
    assert(parse(json).toMap == sql)
  }

  test("a name declared twice fails, in one list or across lists") {
    val one = Query("q1", "SELECT 1")((s, _) => s.range(1).toDF())
    val other = Query("q2", "SELECT 2")((s, _) => s.range(2).toDF())
    assert(Query.byName(Seq(one, other))(_.oracle) ==
      Map("q1" -> "SELECT 1", "q2" -> "SELECT 2"))
    val within = intercept[IllegalArgumentException](
      Query.byName(Seq(one, other, one.copy(oracle = "SELECT 3")(one.body)))(
        _.oracle))
    assert(within.getMessage.contains("declared more than once: q1"))
    val clash = Query(CoreQueries.queries.head.name, "SELECT 1")(one.body)
    val across = intercept[IllegalArgumentException](
      Query.byName(CoreQueries.queries ++ Seq(clash) ++ EtlQueries.queries)(
        _.body))
    assert(across.getMessage.contains(clash.name))
  }
}

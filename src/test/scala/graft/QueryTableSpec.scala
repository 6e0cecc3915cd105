package graft

import org.json4s.{JObject, JString}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query
import graft.queries.Oracle.{RowsOnly, Sql}

/** The query table, read without a Spark session: every registered
  * query is one row with a unique name and either DuckDB oracle SQL or
  * a rows-only anchor naming the spec that checks it, and the maps
  * derived from the rows agree with them. */
class QueryTableSpec extends AnyFunSuite {

  private lazy val rows = SparkEntry.rows

  private def isSpec(name: String): Boolean = scala.util.Try(
    classOf[org.scalatest.Suite].isAssignableFrom(Class.forName(name))).getOrElse(false)

  test("264 unique names: 229 with oracle SQL, 35 rows-only") {
    val names = rows.map(_.name)
    assert(names.size === 264)
    assert(names.distinct.size === 264)
    assert(rows.count(_.oracle.isInstanceOf[Sql]) === 229)
    assert(rows.count(_.oracle.isInstanceOf[RowsOnly]) === 35)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size === 229)
  }

  test("every rows-only anchor is a spec on the test classpath") {
    val missing = rows.collect {
      case Query(name, _, RowsOnly(anchor)) if !isSpec(anchor) => s"$name -> $anchor"
    }
    assert(missing.isEmpty, s"anchors that are not specs: ${missing.mkString(", ")}")
  }

  test("oracle_sql.json reads back to the oracle map") {
    val JObject(fields) =
      Harness.parseJson(Verify.oracleJson(SparkEntry.oracleSql)): @unchecked
    val back = fields.map {
      case (k, JString(v)) => k -> v
      case (k, v) => k -> v.toString
    }.toMap
    assert(back === SparkEntry.oracleSql)
  }
}

package graft.compile

import graft.SparkTestBase
import graft.core.{ColumnSpec, DynamicTable, GraftAnalysisException, TableSpec}
import graft.core.ColumnSpec.dsl._
import graft.plans.Channels
import org.apache.spark.sql.functions._

class RequestJsonSpec extends SparkTestBase {

  test("JSON request parses to the same QuerySpec a builder would produce") {
    val qs = RequestJson.parseQuerySpec(
      """{"columns": ["a", "b"],
        |  "filters": {"x": {"ge": 3, "like": "%m%"}, "y": {"in": [1, 2]}},
        |  "orders": [{"column": "a", "desc": true}, {"column": "b"}],
        |  "drop": 5, "pageSize": 20}""".stripMargin)
    assert(qs == QuerySpec(
      columns = Some(Seq("a", "b")),
      filters = Map(
        "x" -> Map("ge" -> 3L, "like" -> "%m%"),
        "y" -> Map("in" -> Seq(1L, 2L))),
      orders = Seq(ColumnOrder("a", desc = true), ColumnOrder("b", desc = false)),
      drop = Some(5L), pageSize = Some(20L)))
  }

  // Jackson's asLong()/asText() would serve each of these as another value
  // (0, 1, a wrapped Long) or throw an NPE; every one is a typed refusal
  private val pastLong = "100000000000000000000"
  for ((what, json) <- Seq(
      "a string pageSize" -> """{"pageSize": "abc"}""",
      "an array pageSize" -> """{"pageSize": [3]}""",
      "a fractional pageSize" -> """{"pageSize": 1.5}""",
      "a boolean take" -> """{"take": true}""",
      "a drop past the Long range" -> s"""{"drop": $pastLong}""",
      "a pageIndex past the Long range" -> s"""{"pageIndex": $pastLong, "pageSize": 1}""",
      "a filter literal past the Long range" -> s"""{"filters": {"id": {"eq": $pastLong}}}""",
      "an order with no column" -> """{"orders": [{"desc": true}]}"""))
    test(s"JSON request refused: $what") {
      val ex = intercept[GraftAnalysisException](RequestJson.parseQuerySpec(json))
      assert(ex.errors.size == 1, ex.errors)
    }

  test("JSON request refusal reports every bad field at once") {
    val ex = intercept[GraftAnalysisException](RequestJson.parseQuerySpec(
      s"""{"pageSize": "abc", "drop": 1.5, "orders": [{"column": 3}],
         |  "filters": {"id": {"in": [1, $pastLong]}}}""".stripMargin))
    assert(ex.errors.size == 4, ex.errors)
  }

  test("JSON-declared table behaves identically to the builder declaration") {
    val json = DynamicTable.fromJson(friend,
      """{"columns": [
        |  {"name": "id", "expr": "id", "order": true, "describe": "自增主键"},
        |  {"name": "name", "expr": "name", "orderTarget": "nick", "filters": ["like"]},
        |  {"name": "nick", "expr": "nick", "order": true, "inView": false},
        |  {"name": "ageOpt", "expr": "age", "default": 1122}]}""".stripMargin)
    val builder = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order.describe("自增主键"),
      "name".ofCol(col("name")).orderTarget("nick").likeable,
      "nick".ofCol(col("nick")).order.hidden,
      "ageOpt".ofCol(col("age")).withDefault(1122)))
    val req = RequestJson.parseQuerySpec(
      """{"filters": {"name": {"like": "%i%"}},
        |  "orders": [{"column": "name", "desc": true}]}""".stripMargin)
    assert(json.properties == builder.properties)
    assert(json.query(req).collect().map(_.toSeq).toSeq ==
      builder.query(req).collect().map(_.toSeq).toSeq)
    // default applied: null age → 1122
    assert(json.query().collect().map(_.getInt(2)).contains(1122))
  }

  test("multiSink runs several sinks over one cached plan; pipeline composes stages") {
    val stage = Channels.pipeline(
      _.filter(col("age").isNotNull),
      _.withColumn("age2", col("age") * 2))
    val df = stage(friend)
    val sinks: Seq[org.apache.spark.sql.DataFrame => Long] = Seq(
      d => d.count(),
      d => d.agg(max("age2")).head().getInt(0).toLong)
    val Seq(n, maxAge2) = Channels.multiSink(df)(sinks)
    assert(n == 3L && maxAge2 == 4666L)
  }
}

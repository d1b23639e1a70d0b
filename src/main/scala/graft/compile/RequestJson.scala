package graft.compile

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.GraftAnalysisException

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** JSON request → [[QuerySpec]] — the reference's stated goal of driving
  * whole queries from a JSON/XML description sent by a client
  * (reference: documentation/doc-03.md:84, doc-01.md:136-158; the filter
  * map shape `{"name": {"like": "%魔%"}}` is Sample09.scala:56).
  *
  * Accepted shape (all fields optional):
  * {{{
  * { "columns": ["cust_name", "cust_key"],
  *   "filters": {"segment": {"eq": "BUILDING"}, "bal": {"ge": 1000}},
  *   "orders":  [{"column": "cust_name", "desc": true}],
  *   "drop": 5, "take": 10, "pageIndex": 0, "pageSize": 20 }
  * }}}
  */
object RequestJson {

  private val mapper = new ObjectMapper()

  /** Parses one request; a value of the wrong JSON type, or an integer past
    * the Long range, is refused with every such error at once in a
    * [[GraftAnalysisException]], in both modes: Jackson's `asLong`/`asText`
    * would silently turn it into another value. */
  def parseQuerySpec(json: String): QuerySpec = {
    val root = try mapper.readTree(json) catch {
      case e: JsonProcessingException =>
        throw GraftAnalysisException(Seq(s"request: not JSON: ${e.getOriginalMessage}"))
    }
    if (root == null || !root.isObject)
      throw GraftAnalysisException(Seq("request: must be a JSON object"))
    val errors = ListBuffer.empty[String]
    def opt(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)
    def elements(field: String, n: JsonNode): Seq[JsonNode] =
      if (n.isArray) n.elements().asScala.toSeq
      else { errors += s"$field: must be an array, got $n"; Nil }
    def fields(field: String, n: JsonNode): Seq[(String, JsonNode)] =
      if (n.isObject) n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq
      else { errors += s"$field: must be an object, got $n"; Nil }
    def text(field: String, n: JsonNode): Option[String] =
      if (n != null && n.isTextual) Some(n.asText())
      else { errors += s"$field: must be a string, got $n"; None }
    def long(field: String): Option[Long] = opt(field).flatMap { n =>
      if (n.isIntegralNumber && n.canConvertToLong) Some(n.asLong())
      else { errors += s"page: '$field' must be an integer in the Long range, got $n"; None }
    }
    // JSON scalar/array -> the Any the predicate builder understands
    def value(field: String, n: JsonNode): Any =
      if (n.isArray) n.elements().asScala.map(value(field, _)).toSeq
      else if (n.isBoolean) n.asBoolean()
      else if (n.isIntegralNumber) {
        if (!n.canConvertToLong) errors += s"$field: integer $n is past the Long range"
        n.asLong()
      }
      else if (n.isNumber) n.asDouble()
      else if (n.isTextual) n.asText()
      else { errors += s"$field: unsupported literal $n"; n.toString }

    val qs = QuerySpec(
      columns = opt("columns").map(c => elements("columns", c).flatMap(text("columns", _))),
      filters = opt("filters").map(f => fields("filters", f).map { case (prop, ops) =>
        prop -> fields(s"filters.$prop", ops).map { case (op, v) =>
          op -> value(s"filters.$prop.$op", v)
        }.toMap
      }.toMap).getOrElse(Map.empty),
      orders = opt("orders").map(os => elements("orders", os).flatMap { o =>
        val desc = Option(o.get("desc")).filterNot(_.isNull)
        desc.filterNot(_.isBoolean).foreach(d => errors += s"orders: 'desc' must be a boolean, got $d")
        text("orders: 'column'", o.get("column"))
          .map(ColumnOrder(_, desc.exists(_.asBoolean())))
      }).getOrElse(Nil),
      drop = long("drop"),
      take = long("take"),
      pageIndex = long("pageIndex"),
      pageSize = long("pageSize"))
    if (errors.nonEmpty) throw GraftAnalysisException(errors.toList)
    qs
  }
}

package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.JsonNode
import graft.compile.{QueryCompiler, RequestJson}
import graft.core.{ColumnSpec, GraftAnalysisException, TableSpec}
import graft.core.FilterOp._
import graft.render.{JsonView, JsonWriter, PagedView}
import graft.transform.Derive
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `view_requests`: two closed-loop clients send JSON view requests to two
  * declarations — one over `lineitem`, one over `orders ⋈ customer ⋈
  * nation` — with hidden columns, `orderTarget` redirects, native derived
  * columns and `Derive.poly2` columns. Every request runs in strict mode:
  * the generated invalid ones must be refused with
  * [[GraftAnalysisException]], the rest must answer. A seeded sample of
  * responses is written out for the DuckDB check (check.py).
  *
  * Untraced, each request is the public call (`jsonView` / `pagedView`).
  * Traced, the same calls are made one layer at a time — parse, build,
  * plan, execute, properties, render — exactly as those two sinks make
  * them, each inside its own span.
  */
final class ViewRequests extends Workload {
  private var tables: Map[String, TableSpec] = Map.empty
  private var reqs: IndexedSeq[JsonNode] = IndexedSeq.empty
  private val next = new AtomicInteger(0)
  private val refused = new AtomicLong(0)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val executed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val bytes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val scanned = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  // set-up seconds: declarations (with caching the base), warm-up
  private var setupParts = Map.empty[String, Double]

  // 96 requests per 12 s run: p89 leaves ten beyond it
  val tailQuantile = 0.89
  // warm-up requests: the last of the stream, which the timed phase never
  // reaches, served by both clients; they cover the fall in latency of a
  // fresh JVM (run.py) and the first sight of the popular shapes
  private val Warmup = 72
  private val IdBase = 1000000L // op id of request 0; id 0 stands for set-up work

  /** The two declarations (check.py mirrors them column for column). */
  private def declare(ctx: Ctx): Map[String, TableSpec] = {
    val s = ctx.spark
    def t(n: String) = s.read.parquet(s"${ctx.inputs}/base/$n.parquet")
    // the base fits in memory, so it is held there, as a serving process would
    val li = t("lineitem").cache()
    val oc = t("orders").join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey")).cache()
    Seq(li, oc).foreach(_.count())

    val price = ColumnSpec("price", col("l_extendedprice")).order.filterable(Ge, Le, Between)
    val discount = ColumnSpec("discount", col("l_discount")).order.filterable(Eq, Le, Ge).hidden
    val flag = ColumnSpec("returnflag", col("l_returnflag")).filterable(Eq, In, Ne)
    val status = ColumnSpec("status", col("l_linestatus")).filterable(Eq).hidden
    val lineitem = TableSpec(li, Seq(
      ColumnSpec("orderkey", col("l_orderkey")).order.filterable(Eq, In, Between, Gt, Le)
        .describe("order key"),
      ColumnSpec("partkey", col("l_partkey")).filterable(Eq, In, Between),
      ColumnSpec("quantity", col("l_quantity")).order.filterable(Ge, Le, Between, Eq),
      price, discount,
      Derive.expr("net_price", price, discount)(c => c(0) * (lit(1.0) - c(1)))
        .order.filterable(Ge, Le),
      flag, status,
      Derive.poly2[String, String, String]("flag_status", flag, status)(
        (a, b) => for (x <- a; y <- b) yield s"$x-$y"),
      ColumnSpec("shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .orderTarget("ship_ts"),
      ColumnSpec("ship_ts", col("l_shipdate")).order.filterable(Ge, Lt, Between).hidden,
      ColumnSpec("line_id", col("l_orderkey") * 8 + col("l_linenumber"))
        .order.filterable(Eq, In, Between, Ge, Lt)),
      strict = true)

    val priority = ColumnSpec("priority", col("o_orderpriority")).filterable(Eq, In).hidden
    val balance = ColumnSpec("balance", col("c_acctbal")).order.filterable(Ge, Le, Lt, Gt)
    val orders = TableSpec(oc, Seq(
      ColumnSpec("custkey", col("o_custkey")).order.filterable(Eq, In, Between),
      ColumnSpec("cust_name", col("c_name")).order.filterable(Like, Eq),
      ColumnSpec("nation", col("n_name")).order.filterable(Eq, In, Like),
      ColumnSpec("segment", col("c_mktsegment")).filterable(Eq, In, Ne),
      ColumnSpec("status", col("o_orderstatus")).filterable(Eq, In),
      ColumnSpec("total", col("o_totalprice")).order.filterable(Ge, Le, Between),
      ColumnSpec("orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .orderTarget("order_ts"),
      ColumnSpec("order_ts", col("o_orderdate")).order.filterable(Ge, Lt, Between).hidden,
      priority, balance,
      Derive.poly2[String, Double, String]("label", priority, balance)(
        (p, b) => p.map(x => if (b.exists(_ < 0)) s"neg-$x" else x)),
      ColumnSpec("orderkey", col("o_orderkey")).order.filterable(Eq, In, Between, Ge, Lt)),
      strict = true)
    Map("li" -> lineitem, "oc" -> orders)
  }

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    reqs = Json.readLines(s"${ctx.inputs}/requests.jsonl")
    tables = declare(ctx)
    val t1 = System.nanoTime()
    next.set(reqs.size - Warmup)
    serveAll(ctx, Tracer.Off, reqs.size).filterNot(_.ok)
      .foreach(o => ctx.fail(s"warm-up request ${o.id}: ${o.error.get}"))
    setupParts = Map("declare" -> (t1 - t0) / 1e9, "warmup" -> (System.nanoTime() - t1) / 1e9)
    next.set(0)
    refused.set(0); samples.clear(); executed.clear()
  }

  /** Serve one request; returns the response JSON, or None if refused. */
  private def serve(r: JsonNode, tr: Tracer, id: Long): Option[String] = {
    val t = tables(r.get("table").asText())
    val paged = r.get("paged").asBoolean()
    val body = r.get("req").toString
    try {
      if (!tr.enabled) {
        val qs = RequestJson.parseQuerySpec(body)
        Some(if (paged) t.pagedView(qs).toJson else t.jsonView(qs).toJson)
      } else {
        val qs = tr.span("compile", "parse")(RequestJson.parseQuerySpec(body))
        val df = tr.span("compile", "build")(t.query(
          if (paged) qs.copy(drop = None, take = None, pageIndex = None, pageSize = None)
          else qs))
        val schema = df.schema
        tr.span("catalyst", "plan")(df.queryExecution.executedPlan)
        val (total, rows) = tr.span("exec", "run") {
          if (!paged) (None, df.collect())
          else {
            val res = graft.plans.Channels.multiSink[Any](df)(Seq(
              d => d.count(), d => QueryCompiler.paginate(d, qs).collect()))
            (Some(res(0).asInstanceOf[Long]), res(1).asInstanceOf[Array[Row]])
          }
        }
        if (!paged) scanned.put(id, (rowsScanned(df), rows.length.toLong))
        val props = tr.span("core", "properties")(t.properties)
        val json = tr.span("render", "json") {
          val view = JsonView(props, rows.toIndexedSeq.map(JsonWriter.writeRow(schema)))
          total.map(PagedView(_, view).toJson).getOrElse(view.toJson)
        }
        bytes.put(id, json.length.toLong)
        Some(json)
      }
    } catch {
      case _: GraftAnalysisException => refused.incrementAndGet(); None
    }
  }

  /** Rows the scans under a frame's executed plan produced. */
  private def rowsScanned(df: DataFrame): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Serves the stream's first requests, 8 per second of phase length
    * (about the rate both clients reach warm on 4 cores), so every run
    * measures the same request shapes whatever the machine's speed. */
  def run(ctx: Ctx, tr: Tracer, seconds: Int): Seq[OpRec] =
    serveAll(ctx, tr, math.min(8 * seconds, reqs.size - Warmup))

  /** Both clients serve the stream from `next` up to request `end`. */
  private def serveAll(ctx: Ctx, tr: Tracer, end: Int): Seq[OpRec] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val clients = (1 to 2).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < end) {
          val r = reqs(i)
          executed.add(i)
          val invalid = r.get("invalid").asBoolean()
          // plain and paged requests differ in cost about threefold, so they
          // are kinds of their own (the tracing overhead compares per kind)
          val kind = if (invalid) "invalid" else if (r.get("paged").asBoolean()) "paged" else "plain"
          val t0 = System.nanoTime()
          val t = tr.pick(i)
          val res = scala.util.Try(t.op(ctx.spark, IdBase + i, kind)(serve(r, t, IdBase + i)))
          val t1 = System.nanoTime()
          // a valid request must answer, an invalid one must be refused
          val error = res.fold(e => Some(e.toString), answered =>
            if (answered.isDefined == invalid)
              Some(if (invalid) "invalid request answered" else "valid request refused")
            else None)
          out.add(OpRec(IdBase + i, kind, t0, t1, error, t.enabled))
          if (r.get("check").asBoolean() && !invalid) res.toOption.flatten.foreach { j =>
            samples.add(Json.obj("id" -> r.get("id").asLong(), "table" -> r.get("table").asText(),
              "paged" -> r.get("paged").asBoolean(), "req" -> Json.Raw(r.get("req").toString),
              "response" -> Json.Raw(j)))
          }
          i = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    out.asScala.toSeq.sortBy(_.startNs)
  }

  def workUnits(ops: Seq[OpRec]): Double = ops.size

  /** The request's shape: requests of one shape differ only in literals. */
  override def overheadKey(op: OpRec): String =
    reqs((op.id - IdBase).toInt).get("shape").asText()

  def finish(ctx: Ctx): Unit = {
    val w = new java.io.PrintWriter(s"${ctx.work}/view_samples.jsonl", "UTF-8")
    try samples.forEach(w.println(_)) finally w.close()
  }

  def properties(ctx: Ctx): Map[String, Any] = {
    val done = executed.asScala.toSeq.sorted.map(reqs)
    val seen = mutable.Set.empty[Long]
    val repeats = done.count(r => !seen.add(r.get("shape").asLong()))
    Map("requests_executed" -> done.size,
      "shape_repeat_share" -> repeats.toDouble / math.max(done.size, 1),
      "invalid_executed" -> done.count(_.get("invalid").asBoolean()),
      "refused" -> refused.get(),
      "check_samples" -> samples.size(),
      "setup_parts_s" -> setupParts)
  }

  def metrics(ctx: Ctx, ops: Seq[OpRec], spans: Seq[Span],
      traced: Boolean): Map[String, Double] = {
    val lat = ops.map(_.ms)
    if (!traced) Map(
      "view.p50_ms" -> Stats.median(lat),
      "view.tail_ms" -> Stats.quantile(lat, tailQuantile))
    else {
      val n = math.max(ops.size, 1).toDouble
      def total(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
      val ids = ops.map(_.id).toSet
      val sc = scanned.asScala.filter { case (k, _) => ids(k) }.values
      Map(
        "compile.parse_ms" -> total("parse"),
        "compile.build_ms" -> total("build"),
        "core.properties_ms" -> total("properties"),
        "catalyst.plan_ms" -> total("plan"),
        "render.ms" -> total("json"),
        "render.bytes" -> Stats.mean(bytes.asScala.filter { case (k, _) => ids(k) }
          .values.map(_.toDouble).toSeq),
        "compile.refused" -> ops.count(_.kind == "invalid").toDouble,
        "view.rows_scanned_per_row" -> sc.map(_._1).sum.toDouble / math.max(sc.map(_._2).sum, 1L))
    }
  }
}

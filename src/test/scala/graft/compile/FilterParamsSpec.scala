package graft.compile

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.{ColumnSpec, TableSpec}
import graft.core.FilterOp._
import graft.functions.Param
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** [[FilterParams]]: a request shape sent with fresh filter values reuses
  * its compiled classes, the scans keep their literals (Parquet pushdown,
  * in-memory batch pruning), and what is shape stays a literal. */
class FilterParamsSpec extends SparkTestBase with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val dir = Files.createTempDirectory("graft_filter_params")
  private lazy val path = {
    val p = dir.resolve("t.parquet").toString
    spark.range(4000).select(
      col("id"),
      (col("id") % 50).cast("int").as("qty"),
      ((col("id") % 997) * 1.25).as("price"),
      date_add(lit("1995-01-01").cast("date"), (col("id") % 365).cast("int")).as("day"),
      timestamp_seconds(col("id") * 3600 + 788918400L).as("ts"),
      element_at(array(lit("A"), lit("N"), lit("R")), (col("id") % 3 + 1).cast("int")).as("flag"),
      concat(lit("a"), col("id") % 7, lit("c"), col("id")).as("label"))
      .coalesce(2).write.parquet(p)
    p
  }

  override def afterAll(): Unit = {
    try graft.plans.CorpusExport.deleteRecursively(dir.toFile) finally super.afterAll()
  }

  /** A session on the same context without the rule: the reference answers
    * and explain text. */
  private lazy val plain: SparkSession = {
    spark.sparkContext // the context the new session joins
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally { SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark) }
  }

  private def declare(df: DataFrame): TableSpec = TableSpec(df, Seq(
    ColumnSpec("id", col("id")).order.filterable(Eq, In, Between),
    ColumnSpec("qty", col("qty")).order.filterable(In, Ge),
    ColumnSpec("price", col("price")).order.filterable(Ge, Le),
    ColumnSpec("day", col("day")).order.filterable(Ge, Lt),
    ColumnSpec("ts", col("ts")).filterable(Lt),
    ColumnSpec("flag", col("flag")).filterable(Eq)), strict = true)

  private def parquet(s: SparkSession) = declare(s.read.parquet(path))
  private def cached(s: SparkSession) = {
    val df = s.read.parquet(path).cache()
    df.count()
    declare(df)
  }

  /** One shape, literal set `i`: numeric, In, date and timestamp filters and
    * a top-20 page. */
  private def request(i: Int) = QuerySpec(
    filters = Map(
      "qty" -> Map("in" -> Seq(i, i + 10, i + 20, i + 30)),
      "price" -> Map("ge" -> (10.5 + i), "le" -> (900.25 + i)),
      "day" -> Map("ge" -> f"1995-02-${i + 1}%02d", "lt" -> f"1995-11-${i + 1}%02d"),
      "ts" -> Map("lt" -> f"1995-06-${i + 1}%02d 12:00:00"),
      "id" -> Map("between" -> Seq(i.toLong, 3900L + i))),
    orders = Seq(ColumnOrder("price", desc = true), ColumnOrder("id", desc = false)),
    pageIndex = Some(0), pageSize = Some(20))

  /** Janino compiles of each paged view, with its JSON. */
  private def serve(t: TableSpec, requests: Seq[QuerySpec]): Seq[(Long, String)] =
    requests.map { qs =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val json = t.pagedView(qs).toJson
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, json)
    }

  private def filterConditions(p: SparkPlan): Seq[Expression] =
    collect(p) { case f: FilterExec => f.condition }

  private def params(e: Expression): Seq[Param] = e.collect { case p: Param => p }
  private def literals(e: Expression): Seq[Literal] = e.collect { case l: Literal => l }

  private def sameShapeCompiles(source: SparkSession => TableSpec, maxPerRequest: Long): Unit = {
    val requests = (1 to 5).map(request)
    val expected = serve(source(plain), requests)
    val got = serve(source(spark), requests)
    assert(got.map(_._2) === expected.map(_._2))
    assert(got.map(_._2).forall(_.contains("\"total\":")))
    // the pin measures something: without the rule every fresh literal set compiles
    assert(expected.tail.forall(_._1 > 0), s"compiles without the rule: ${expected.map(_._1)}")
    assert(got.tail.forall(_._1 <= maxPerRequest), s"compiles per request: ${got.map(_._1)}")
    try spark.catalog.clearCache() finally plain.catalog.clearCache()
  }

  test("a repeated request shape over a parquet source compiles nothing after its first request") {
    sameShapeCompiles(parquet, maxPerRequest = 0)
  }

  test("over a cached source it compiles at most the batch-pruning predicate per request") {
    sameShapeCompiles(cached, maxPerRequest = 1)
  }

  test("parquet pushdown keeps the literal values; the filter above the scan holds Params") {
    val df = parquet(spark).query(request(3))
    val text = df.queryExecution.explainString(FormattedMode)
    Seq("GreaterThanOrEqual(price,13.5)", "LessThanOrEqual(price,903.25)",
      "In(qty, [13,23,3,33])", "LessThan(day,1995-11-04)").foreach { f =>
      assert(text.contains(f), s"$f not pushed:\n$text")
    }
    val conds = filterConditions(df.queryExecution.executedPlan)
    assert(conds.nonEmpty)
    assert(conds.flatMap(params).map(_.value).toSet.contains(13.5))
  }

  test("the in-memory scan's batch-pruning predicates keep Literals while the filter above holds Params") {
    val t = cached(spark)
    try {
      val plan = t.query(request(2)).queryExecution.executedPlan
      val scans = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(scans.size === 1)
      assert(scans.head.predicates.flatMap(_.collect { case p: Param => p }).isEmpty)
      assert(scans.head.predicates.flatMap(literals).map(_.value).contains(12.5))
      val conds = filterConditions(plan)
      assert(conds.flatMap(params).size === 11, conds) // 4 in the In list, 7 compared
      assert(conds.flatMap(literals).isEmpty, conds)
    } finally spark.catalog.clearCache()
  }

  test("explain text is the same with and without the rule") {
    // expression ids differ between two sessions' reads; nothing else may
    def text(t: TableSpec) =
      t.query(request(4)).queryExecution.explainString(FormattedMode).replaceAll("#\\d+", "#x")
    assert(text(parquet(spark)) === text(parquet(plain)))
    try assert(text(cached(spark)) === text(cached(plain)))
    finally { spark.catalog.clearCache(); plain.catalog.clearCache() }
  }

  test("nulls, strings, Like patterns, Round scales and literals inside arithmetic stay Literals") {
    val df = spark.read.parquet(path).filter(
      col("qty").isin(1, 2, null) && col("flag") === "N" && col("label").like("a_c%") &&
        round(col("price"), 2) >= 10.0 && (col("id") * 8 + col("qty")) =!= 100L)
    val conds = filterConditions(df.queryExecution.executedPlan)
    val kept = conds.flatMap(literals).map(l => (l.value, l.dataType.simpleString)).toSet
    assert(kept.contains((null, "int")), conds)
    assert(kept.exists(_._2 == "string"), conds)
    assert(kept.contains((2, "int")), conds) // Round's scale
    assert(kept.contains((8L, "bigint")), conds)
    assert(conds.flatMap(params).map(_.value).toSet === Set(1, 2, 10.0, 100L), conds)
    assert(df.count() === spark.read.parquet(path).collect().count { r =>
      val qty = r.getInt(1)
      (qty == 1 || qty == 2) && r.getString(5) == "N" && r.getString(6).matches("a.c.*") &&
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) >= 10.0 &&
        r.getLong(0) * 8 + qty != 100L
    })
  }
}

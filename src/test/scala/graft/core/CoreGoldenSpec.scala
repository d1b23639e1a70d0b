package graft.core

import graft.SparkTestBase
import graft.compile.{ColumnOrder, QuerySpec}
import graft.core.ColumnSpec.dsl._
import graft.transform.Derive
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit}

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Golden tests reproducing the reference's captured outputs on the `friend`
  * fixture (FIXTURES.md §A; expectations from documentation/doc-02.md:96-171
  * and doc-03.md:44-61). */
class CoreGoldenSpec extends SparkTestBase {

  /** doc-02 first declaration (ageOpt sortable). */
  def decl1: TableSpec = TableSpec(friend, Seq(
    "id".ofCol(col("id")).order.describe("自增主键"),
    "name".ofCol(col("name")).orderTarget("nick").describe("昵称"),
    "nick".ofCol(col("nick")).order.describe("昵称"),
    "ageOpt".ofCol(col("age")).order))

  /** FIXTURES.md golden #2 declaration (ageOpt NOT sortable → elided). */
  def decl2: TableSpec = TableSpec(friend, Seq(
    "id".ofCol(col("id")).order.describe("自增主键"),
    "name".ofCol(col("name")).orderTarget("nick").describe("昵称"),
    "nick".ofCol(col("nick")).order.describe("昵称"),
    "ageOpt".ofCol(col("age"))))

  test("golden 1: plain select — data + properties (doc-02.md:98-115)") {
    val view = decl1.jsonView()
    assert(view.data == Seq(
      """{"id":1,"name":"魔理沙","nick":"小莎莎","ageOpt":2333}""",
      """{"id":2,"name":"jilen","nick":"jilen 酱","ageOpt":30}""",
      """{"id":3,"name":"品神","nick":"kerr","ageOpt":28}""",
      """{"id":4,"name":"廖师虎","nick":"shihu","ageOpt":null}"""))
    assert(view.propertiesJson ==
      """[{"property":"id","typeName":"Long","inRetrieve":true,"canOrder":true,"isDefaultDesc":true,"describe":"自增主键"},""" +
      """{"property":"name","typeName":"java.lang.String","inRetrieve":true,"canOrder":false,"isDefaultDesc":true,"describe":"昵称"},""" +
      """{"property":"nick","typeName":"java.lang.String","inRetrieve":true,"canOrder":true,"isDefaultDesc":true,"describe":"昵称"},""" +
      """{"property":"ageOpt","typeName":"Int","inRetrieve":true,"canOrder":true,"isDefaultDesc":true,"describe":null}]""")
  }

  test("golden 2: dynamic order — redirect + elision, declaration-order keys (doc-02.md:124-133)") {
    // request [name desc, id asc, ageOpt asc] ⇒ effective `id asc nulls last,
    // nick desc nulls last` (ageOpt elided, name redirected, declaration order)
    val qs = QuerySpec(orders = Seq(
      ColumnOrder("name", desc = true),
      ColumnOrder("id", desc = false),
      ColumnOrder("ageOpt", desc = false)))
    val ids = decl2.query(qs).collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L)) // id asc is the leading key
    // redirect alone: [name desc] ⇒ nick desc (binary UTF-8 ordering)
    val ids2 = decl2.query(QuerySpec(orders = Seq(ColumnOrder("name", desc = true))))
      .collect().map(_.getLong(0)).toSeq
    assert(ids2 == Seq(1L, 4L, 3L, 2L)) // 小莎莎 > shihu > kerr > jilen 酱
  }

  /** Runs `body` under a job group; returns its result, the jobs it ran and
    * the physical plans its SQL executions started with. Listener delivery
    * is async but in order, so a fence job run after `body` marks the end of
    * its events. */
  private def traced[T](body: => T): (T, Int, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val group = s"graft-test-traced-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val fenced = new CountDownLatch(1)
    def groupOf(props: java.util.Properties): String =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (groupOf(js.properties) == group) jobs.incrementAndGet()
        else if (groupOf(js.properties) == s"$group-fence") fenced.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart if st.jobGroupId.contains(group) =>
          plans.add(st.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "traced", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "the listener never saw the fence job")
      (out, jobs.get, plans.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  test("pagedView: one top-K job counts the total, no cache (doc-02.md:135)") {
    val evals = spark.sparkContext.longAccumulator("graft-test-source-evals")
    val tick = org.apache.spark.sql.functions.udf { (s: String) => evals.add(1L); s }
    val src = friend.withColumn("name", tick(col("name")))
    val t = TableSpec(src, Seq(
      "id".ofCol(col("id")).order,
      "name".ofCol(col("name"))))
    val qs = QuerySpec(
      orders = Seq(ColumnOrder("id", desc = false)),
      pageIndex = Some(1), pageSize = Some(2))
    // baseline: ONE plain materialization of the unpaged request — the
    // global sort's range-partitioner sampling makes the absolute eval
    // count plan-dependent, so we compare against it rather than row count
    val unpagedQs = qs.copy(pageIndex = None, pageSize = None)
    evals.reset()
    t.query(unpagedQs).collect()
    val oneMaterialization = evals.value

    evals.reset()
    val (pv, jobs, plans) = traced(t.pagedView(qs))
    assert(pv.total == 4)
    assert(pv.view.data == Seq(
      """{"id":3,"name":"品神"}""",
      """{"id":4,"name":"廖师虎"}"""))
    assert(pv.toJson.startsWith("""{"total":4,"properties":[{"property":"id""""))
    assert(evals.value <= oneMaterialization,
      s"source evaluated ${evals.value} times for total+page — more than one " +
        s"plain materialization ($oneMaterialization)")
    // the page's top-K job is the whole request: it also counts the total
    assert(jobs == 1, s"pagedView ran $jobs jobs")
    val ran = plans.flatMap(nodes)
    val tops = ran.filter(_.nodeName == "TakeOrderedAndProject")
    assert(tops.nonEmpty, ran.map(_.nodeName).distinct)
    assert(tops.exists(nodes(_).exists(_.nodeName == "CollectMetrics")),
      "the total must be counted below the top-K")
    assert(!ran.exists(_.simpleString.toLowerCase.contains("rangepartitioning")),
      "a paged view must not range-partition the unpaged result")
    assert(!ran.exists(_.nodeName == "InMemoryTableScan"), "a paged view must not cache")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(session.sharedState.cacheManager
      .lookupCachedData(session, t.query(unpagedQs).queryExecution.analyzed).isEmpty)
  }

  test("pagedView: pages the top-K cannot count take the exact total from count()") {
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order.filterable(FilterOp.In),
      "ageOpt".ofCol(col("age")).comparable))
    val byId = QuerySpec(columns = Some(Seq("id")), orders = Seq(ColumnOrder("id", desc = false)))
    // offset, no limit: a range-partitioned sort whose sampling job re-runs
    // the counted subtree, so an observed count would be twice the rows
    val dropOnly = t.pagedView(byId.copy(drop = Some(1)))
    assert(dropOnly.total == 4)
    assert(dropOnly.view.data == Seq("""{"id":2}""", """{"id":3}""", """{"id":4}"""))
    val filtered = t.pagedView(byId.copy(drop = Some(1), filters = Map("ageOpt" -> Map("lt" -> 100))))
    assert(filtered.total == 2 && filtered.view.data == Seq("""{"id":3}"""))
    // a page of size 0 and an always-false filter: the optimizer prunes the
    // counted subtree
    val empty = t.pagedView(byId.copy(pageIndex = Some(1), pageSize = Some(0)))
    assert(empty.total == 4 && empty.view.data.isEmpty)
    val none = t.pagedView(byId.copy(take = Some(2), filters = Map("id" -> Map("in" -> Seq.empty))))
    assert(none.total == 0 && none.view.data.isEmpty)
  }

  test("pagedView: a source already in the page's order, or joined under AQE, keeps the exact total") {
    val qs = QuerySpec(orders = Seq(ColumnOrder("id", desc = false)), take = Some(1))
    // already in order: the top-K reads each partition only up to its limit
    val presorted = friend.sortWithinPartitions(col("id").asc_nulls_last)
    // a shuffle join: the top-K runs in AQE's result stage, above the exchanges
    val keys = spark.range(0, 10).toDF("k")
    val joined = friend.join(keys.hint("shuffle_merge"), col("id") === col("k"))
    for ((src, observed) <- Seq(presorted -> false, joined -> true)) {
      val (pv, _, plans) = traced(TableSpec(src, Seq("id".ofCol(col("id")).order)).pagedView(qs))
      assert(pv.total == 4)
      assert(pv.view.data == Seq("""{"id":1}"""))
      // an observed total needs no second query; the count() fallback is one
      assert(plans.size == (if (observed) 1 else 2), plans.map(_.simpleString))
    }
  }

  test("pagedView: a source's own observation survives and the total stays exact") {
    val seen = org.apache.spark.sql.Observation("graft-test-source-rows")
    val src = friend.observe(seen, org.apache.spark.sql.functions.count(lit(1)).as("rows"))
    val t = TableSpec(src, Seq(
      "id".ofCol(col("id")).order,
      "ageOpt".ofCol(col("age")).comparable))
    val (pv, jobs, _) = traced(t.pagedView(QuerySpec(
      columns = Some(Seq("id")), orders = Seq(ColumnOrder("id", desc = true)),
      filters = Map("ageOpt" -> Map("lt" -> 100)), take = Some(1))))
    assert(pv.total == 2)
    assert(pv.view.data == Seq("""{"id":3}"""))
    assert(jobs == 1, s"pagedView ran $jobs jobs")
    assert(seen.get == Map("rows" -> 4L))
  }

  test("pagedView: a page past the end is empty with the exact total") {
    val pv = decl1.pagedView(QuerySpec(
      orders = Seq(ColumnOrder("id", desc = false)),
      pageIndex = Some(5), pageSize = Some(3)))
    assert(pv.total == 4)
    assert(pv.view.data.isEmpty)
    assert(pv.toJson.endsWith(""""data":[]}"""))
  }

  test("pagedView without orders: min(limit, total - offset) rows of the filtered set") {
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order,
      "ageOpt".ofCol(col("age")).comparable))
    val filtered = Set("""{"id":2,"ageOpt":30}""", """{"id":3,"ageOpt":28}""")
    for ((offset, limit) <- Seq((0L, 5L), (0L, 1L), (1L, 5L), (2L, 5L))) {
      val pv = t.pagedView(QuerySpec(
        filters = Map("ageOpt" -> Map("lt" -> 100)),
        drop = Some(offset), take = Some(limit)))
      assert(pv.total == 2)
      assert(pv.view.data.size == math.min(limit, 2 - offset))
      assert(pv.view.data.toSet.subsetOf(filtered))
      assert(pv.view.data.distinct == pv.view.data)
    }
  }

  test("lenient: an all-unknown projection request falls back to the declared view") {
    // silent-elision contract: the unresolvable request is elided entirely —
    // never a zero-column select rendering rows as '{}'
    val view = decl1.jsonView(QuerySpec(columns = Some(Seq("nope", "zilch"))))
    assert(view.data == decl1.jsonView().data)
    val ex = intercept[GraftAnalysisException] {
      decl1.withStrict(true).query(QuerySpec(columns = Some(Seq("nope"))))
    }
    assert(ex.getMessage.contains("no visible columns"))
  }

  test("formatted sink: declaration-driven decimals/width + sidecar (Excel analog, doc-01.md:111-115)") {
    import graft.render.FormattedSink
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).width(4),
      "name".ofCol(col("name")).describe("昵称"),
      "ageOpt".ofCol(col("age")).decimals(2).width(10)))
    val got = FormattedSink.formattedFrame(t).collect().map(_.toSeq)
    assert(got(0) == Seq("   1", "魔理沙", "  2,333.00"))
    assert(got(1) == Seq("   2", "jilen", "     30.00"))
    assert(got(3) == Seq("   4", "廖师虎", null)) // null stays null, not "null"
    assert(FormattedSink.formatMetadataJson(t) ==
      """[{"property":"id","typeName":"Long","describe":null,"decimals":-1,"width":4},""" +
      """{"property":"name","typeName":"java.lang.String","describe":"昵称","decimals":-1,"width":-1},""" +
      """{"property":"ageOpt","typeName":"Int","describe":null,"decimals":2,"width":10}]""")
    // full write: distributed CSV + one sidecar
    val dir = s"target/formatted_sink_${System.nanoTime()}"
    FormattedSink.writeFormattedCsv(t, QuerySpec(), dir)
    assert(new java.io.File(s"$dir/_format.json").exists())
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 4)
    // a value WIDER than .width(n) passes through untruncated (like a
    // spreadsheet column width — display hint, never data loss)
    val narrow = TableSpec(friend, Seq("ageOpt".ofCol(col("age")).decimals(2).width(4)))
    val wide = FormattedSink.formattedFrame(narrow).collect().map(_.getString(0))
    assert(wide.contains("2,333.00"))
    // the sidecar describes the REQUEST's projection, not the declaration
    val projected = FormattedSink.formatMetadataJson(t, QuerySpec(columns = Some(Seq("name"))))
    assert(projected ==
      """[{"property":"name","typeName":"java.lang.String","describe":"昵称","decimals":-1,"width":-1}]""")
  }

  test("golden 3: hidden columns prune projection, hidden sort keys still apply (doc-02.md:137-169)") {
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order.describe("自增主键").hidden,
      "name".ofCol(col("name")).orderTarget("nick").describe("昵称"),
      "nick".ofCol(col("nick")).order.describe("昵称").hidden,
      "ageOpt".ofCol(col("age"))))
    val qs = QuerySpec(orders = Seq(
      ColumnOrder("name", desc = true), ColumnOrder("id", desc = false)))
    val df = t.query(qs)
    assert(df.schema.fieldNames.toSeq == Seq("name", "ageOpt")) // pruned
    val view = t.jsonView(qs)
    assert(view.data == Seq(
      """{"name":"魔理沙","ageOpt":2333}""",
      """{"name":"jilen","ageOpt":30}""",
      """{"name":"品神","ageOpt":28}""",
      """{"name":"廖师虎","ageOpt":null}"""))
    // properties still describe hidden columns, flagged inRetrieve=false
    assert(t.properties.map(p => (p.property, p.inRetrieve)) ==
      Seq(("id", false), ("name", true), ("nick", false), ("ageOpt", true)))
  }

  test("poly arity family: poly1 and poly4 lift like poly2/poly3") {
    import spark.implicits._
    val df = Seq((1L, "ann", Some(10)), (2L, "bob", None))
      .toDF("id", "name", "age")
    val idS = "id".ofCol(col("id"))
    val nameS = "name".ofCol(col("name"))
    val ageS = "age".ofCol(col("age"))
    val shout = Derive.poly1[String, String]("shout", nameS)(_.map(_.toUpperCase))
    val blend = Derive.poly4[Long, String, Int, String, String](
      "blend", idS, nameS, ageS, shout) { (id, name, age, sh) =>
      for { i <- id; n <- name; s <- sh } yield s"$i:$n:${age.getOrElse(-1)}:$s"
    }
    val out = TableSpec(df, Seq(idS, shout, blend)).jsonView()
    assert(out.data == Seq(
      """{"id":1,"shout":"ANN","blend":"1:ann:10:ANN"}""",
      """{"id":2,"shout":"BOB","blend":"2:bob:-1:BOB"}"""))
  }

  test("golden 4: poly transform — merged name column (doc-03.md:12-61)") {
    val nameS = "name".ofCol(col("name")).orderTarget("nick").describe("昵称")
    val nickS = "nick".ofCol(col("nick")).order.describe("昵称")
    val ageS = "age".ofCol(col("age"))
    val merged = Derive.poly3[String, String, Int, String]("name", nameS, nickS, ageS) {
      (name, nick, age) =>
        if (age.exists(_ < 200)) for { n <- name; k <- nick } yield s"$n-$k"
        else if (name.isDefined) name
        else None
    }
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order.describe("自增主键"),
      merged,
      "ageOpt".ofCol(col("age"))))
    val view = t.jsonView()
    assert(view.data == Seq(
      """{"id":1,"name":"魔理沙","ageOpt":2333}""",
      """{"id":2,"name":"jilen-jilen 酱","ageOpt":30}""",
      """{"id":3,"name":"品神-kerr","ageOpt":28}""",
      """{"id":4,"name":"廖师虎","ageOpt":null}"""))
    assert(view.propertiesJson ==
      """[{"property":"id","typeName":"Long","inRetrieve":true,"canOrder":true,"isDefaultDesc":true,"describe":"自增主键"},""" +
      """{"property":"name","typeName":"String","inRetrieve":true,"canOrder":true,"isDefaultDesc":true,"describe":null},""" +
      """{"property":"ageOpt","typeName":"Int","inRetrieve":true,"canOrder":false,"isDefaultDesc":true,"describe":null}]""")
    // ordering the derived column redirects to the underlying declaration:
    // name → orderTarget(nick) ⇒ nick desc
    val ids = t.query(QuerySpec(orders = Seq(ColumnOrder("name", desc = true))))
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 4L, 3L, 2L))
  }

  test("golden 7: nested poly → heterogeneous JSON object column (Sample07.scala:85-126)") {
    val nameS = "name".ofCol(col("name")).orderTarget("nick").describe("昵称")
    val nickS = "nick".ofCol(col("nick")).order.describe("昵称")
    val ageS = "age".ofCol(col("age"))
    val merged = Derive.poly3[String, String, Int, String]("name", nameS, nickS, ageS) {
      (name, nick, age) =>
        if (age.exists(_ < 200)) for { n <- name; k <- nick } yield s"$n-$k"
        else if (name.isDefined) name
        else None
    }
    // level 2: account = Aa(name, age) with the sample's fallback Aa("喵", 2334455)
    val account = Derive.poly2[String, Int, String]("account", merged, ageS) {
      (name, age) =>
        (for { n <- name; a <- age } yield s"""{"name":"$n","age":$a}""")
          .orElse(Some("""{"name":"喵","age":2334455}"""))
    }
    // level 3: info object whose key set differs per row
    val idS = "id".ofCol(col("id")).order.describe("自增主键")
    val info = Derive.poly3[String, Long, Int, String]("info", account, idS, ageS) {
      (acc, id, age) =>
        age match {
          case Some(a) if acc.isDefined && id.isDefined =>
            Some(s"""{"id":${id.get},"accountInfo":${acc.get},"ageOpt":$a}""")
          case _ =>
            Some(s"""{"message":"id为${id.get}的不知名人事"}""")
        }
    }.asRawJson
    val t = TableSpec(friend, Seq(idS, info, "ageOpt".ofCol(col("age"))))
    val view = t.jsonView()
    assert(view.data == Seq(
      """{"id":1,"info":{"id":1,"accountInfo":{"name":"魔理沙","age":2333},"ageOpt":2333},"ageOpt":2333}""",
      """{"id":2,"info":{"id":2,"accountInfo":{"name":"jilen-jilen 酱","age":30},"ageOpt":30},"ageOpt":30}""",
      """{"id":3,"info":{"id":3,"accountInfo":{"name":"品神-kerr","age":28},"ageOpt":28},"ageOpt":28}""",
      """{"id":4,"info":{"message":"id为4的不知名人事"},"ageOpt":null}"""))
  }

  test("golden 5: dynamic filter — like on capable column, others ignored (Sample09.scala:45-56)") {
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")).order,
      "name".ofCol(col("name")).likeable,
      "ageOpt".ofCol(col("age")).comparable))
    val hit = t.query(QuerySpec(filters = Map("name" -> Map("like" -> "%魔%"))))
      .collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(1L))
    // unknown column / op without capability: silently ignored (lenient)
    val all = t.query(QuerySpec(filters = Map(
      "nope" -> Map("eq" -> 1),
      "id" -> Map("eq" -> 1),          // id declared without filter capability
      "ageOpt" -> Map("ge" -> 30)))).collect()
    assert(all.map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L)) // only ageOpt>=30 applied
    // strict mode reports every violation at once
    val ex = intercept[GraftAnalysisException] {
      t.withStrict(true).query(QuerySpec(filters = Map(
        "nope" -> Map("eq" -> 1), "id" -> Map("eq" -> 1))))
    }
    assert(ex.errors.size == 2)
  }

  test("golden 6: derived default value — age+2 default 1122 (Sample09.scala:36-40)") {
    val t = TableSpec(friend, Seq(
      "id".ofCol(col("id")),
      "ageOpt1111".ofCol(col("age") + 2).withDefault(1122)))
    val vals = t.query().collect().map(_.getInt(1)).toSeq
    assert(vals == Seq(2335, 32, 30, 1122))
  }

  test("pagination: drop/take and pageIndex/pageSize (doc-02.md:135)") {
    val t = decl1
    val qs = QuerySpec(orders = Seq(ColumnOrder("id", desc = false)),
      drop = Some(1), take = Some(2))
    assert(t.query(qs).collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    val page = QuerySpec(orders = Seq(ColumnOrder("id", desc = false)),
      pageIndex = Some(1), pageSize = Some(2))
    assert(t.query(page).collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  test("GraphQL-style per-request projection (doc-01.md:89, doc-02.md:171)") {
    val got = decl1.query(QuerySpec(columns = Some(Seq("ageOpt", "id"))))
    assert(got.schema.fieldNames.toSeq == Seq("ageOpt", "id")) // request order wins
  }

  test("schema-independence: same declaration surface on customer parquet (Sample08)") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val t = TableSpec(customer, Seq(
      "key".ofCol(col("c_custkey")).order,
      "name".ofCol(col("c_name")).likeable,
      "balance".ofCol(col("c_acctbal")).order.comparable,
      "segment".ofCol(col("c_mktsegment")).hidden))
    val qs = QuerySpec(
      filters = Map("balance" -> Map("ge" -> 0)),
      orders = Seq(ColumnOrder("balance", desc = true)),
      take = Some(5))
    val rows = t.query(qs).collect()
    assert(rows.length == 5)
    val bals = rows.map(_.getDouble(2)).toSeq
    assert(bals == bals.sorted.reverse && bals.forall(_ >= 0))
  }
}

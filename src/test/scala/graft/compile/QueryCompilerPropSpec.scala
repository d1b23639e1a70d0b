package graft.compile

import graft.SparkTestBase
import graft.core.{ColumnSpec, GraftAnalysisException, TableSpec}
import graft.core.ColumnSpec.dsl._
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based contract for the dynamic-query compiler (SURVEY §5 item 3):
  * for arbitrary capability declarations and arbitrary requests, the lenient
  * compiler (a) never throws, and (b) agrees with a naive in-memory
  * evaluation of the documented semantics — declaration-order sort keys,
  * orderTarget redirection, elision of unknown/uncapable requests, nulls
  * last, offset/limit after sort. */
class QueryCompilerPropSpec extends SparkTestBase {

  // the friend fixture rows as an in-memory model: (id, name, nick, age)
  private val data: Seq[(Long, String, String, Option[Int])] = Seq(
    (1L, "魔理沙", "小莎莎", Some(2333)),
    (2L, "jilen", "jilen 酱", Some(30)),
    (3L, "品神", "kerr", Some(28)),
    (4L, "廖师虎", "shihu", None))

  private case class Caps(sortable: Boolean, redirect: Option[String], filterable: Boolean)

  private val colNames = Seq("name", "nick", "ageOpt")

  private val genCaps: Gen[Caps] = for {
    sortable <- Gen.oneOf(true, false)
    redirect <- Gen.option(Gen.oneOf("id", "nick", "ageOpt"))
    filterable <- Gen.oneOf(true, false)
  } yield Caps(sortable, redirect, filterable)

  private val genOrders: Gen[Seq[ColumnOrder]] = for {
    names <- Gen.someOf("id" +: colNames :+ "bogus")
    dirs <- Gen.listOfN(names.size, Gen.oneOf(true, false))
  } yield names.toSeq.zip(dirs).map { case (n, d) => ColumnOrder(n, d) }

  private val genFilter: Gen[Map[String, Map[String, Any]]] = for {
    useAge <- Gen.oneOf(true, false)
    ageOp <- Gen.oneOf("ge", "lt", "eq")
    ageV <- Gen.oneOf(28, 30, 100, 2333)
    useName <- Gen.oneOf(true, false)
    pat <- Gen.oneOf("%i%", "%魔%", "nope")
    bogus <- Gen.oneOf(true, false)
  } yield {
    var m = Map.empty[String, Map[String, Any]]
    if (useAge) m += "ageOpt" -> Map(ageOp -> ageV)
    if (useName) m += "name" -> Map("like" -> pat)
    if (bogus) m += "bogus" -> Map("eq" -> 1)
    m
  }

  private val genPage: Gen[(Option[Long], Option[Long])] = for {
    drop <- Gen.option(Gen.choose(0L, 5L))
    take <- Gen.option(Gen.choose(0L, 5L))
  } yield (drop, take)

  // a pageIndex/pageSize page, or an offset alone (a range sort, not a top-K)
  private val genPaging: Gen[QuerySpec] = Gen.frequency(
    3 -> (for {
      pageIndex <- Gen.choose(0L, 4L)
      pageSize <- Gen.choose(0L, 3L)
    } yield QuerySpec(pageIndex = Some(pageIndex), pageSize = Some(pageSize))),
    1 -> Gen.choose(0L, 5L).map(d => QuerySpec(drop = Some(d))))

  // how a paged request is sorted: by the unique id last (the page is the
  // model's exact slice), by its own orders alone (ties, or lenient mode
  // drops them all), or not at all
  private val genSorting: Gen[Seq[ColumnOrder] => Seq[ColumnOrder]] = Gen.oneOf(
    (o: Seq[ColumnOrder]) => o :+ ColumnOrder("id", desc = false),
    (o: Seq[ColumnOrder]) => o,
    (_: Seq[ColumnOrder]) => Seq(ColumnOrder("bogus", desc = true)),
    (_: Seq[ColumnOrder]) => Nil)

  private def table(capsByName: Map[String, Caps]): TableSpec = {
    def build(name: String, caps: Caps): ColumnSpec = {
      var s = name.ofCol(col(if (name == "ageOpt") "age" else name))
      if (caps.sortable) s = s.order
      caps.redirect.foreach(r => s = s.orderTarget(r))
      if (caps.filterable) s = s.comparable.likeable
      s
    }
    TableSpec(friend,
      "id".ofCol(col("id")).order +: // unique key, always sortable
        colNames.map(n => build(n, capsByName(n))))
  }

  /** The in-memory model of a request: ids of the filtered rows in the
    * documented order, before the offset/limit. */
  private def modelIds(capsByName: Map[String, Caps], req: QuerySpec): Seq[Long] = {
    def cell(row: (Long, String, String, Option[Int]), name: String): Option[Any] =
      name match {
        case "id" => Some(row._1)
        case "name" => Some(row._2)
        case "nick" => Some(row._3)
        case "ageOpt" => row._4
        case _ => None
      }
    // filters: AND of declared+capable predicates, unknown elided
    def passes(row: (Long, String, String, Option[Int])): Boolean =
      req.filters.forall { case (name, ops) =>
        if (!capsByName.contains(name) && name != "id") true // unknown
        else if (name == "id") true // id declared without filter caps
        else if (!capsByName(name).filterable) true // uncapable → elided
        else ops.forall { case (op, v) =>
          val c = cell(row, name)
          (op, c) match {
            case (_, None) => false // SQL null comparisons are not true
            case ("like", Some(s: String)) =>
              val pat = v.toString.replace("%", ".*")
              s.matches(pat)
            case ("eq", Some(a: Int)) => a == v.asInstanceOf[Int]
            case ("ge", Some(a: Int)) => a >= v.asInstanceOf[Int]
            case ("lt", Some(a: Int)) => a < v.asInstanceOf[Int]
            case _ => true
          }
        }
      }
    // orders: first request per name, applied in declaration order
    val reqByName = req.orders.reverse.map(o => o.name -> o.desc).toMap
    val declOrder = Seq("id", "name", "nick", "ageOpt")
    def sortKey(name: String): Option[String] = {
      val caps = capsByName.get(name)
      name match {
        case "id" => Some("id")
        case _ =>
          caps.flatMap(_.redirect).filter(r => r == "id" || capsByName.contains(r))
            .orElse(if (caps.exists(_.sortable)) Some(name) else None)
      }
    }
    val effKeys: Seq[(String, Boolean)] = declOrder.flatMap { n =>
      reqByName.get(n).flatMap(desc => sortKey(n).map(k => (k, desc)))
    }
    implicit val anyOrd: Ordering[(Option[Any], Boolean)] = Ordering.fromLessThan {
      case ((None, _), (None, _)) => false
      case ((None, _), _) => false // nulls last regardless of direction
      case (_, (None, _)) => true
      case ((Some(a), desc), (Some(b), _)) =>
        val cmp = (a, b) match {
          case (x: Long, y: Long) => x.compareTo(y)
          case (x: Int, y: Int) => x.compareTo(y)
          case (x: String, y: String) => x.compareTo(y)
          case _ => 0
        }
        if (desc) cmp > 0 else cmp < 0
    }
    data.filter(passes).sortBy(r => effKeys.map { case (k, desc) =>
      (cell(r, k), desc)
    })(Ordering.Implicits.seqOrdering(anyOrd)).map(_._1)
  }

  private def slice(ids: Seq[Long], req: QuerySpec): Seq[Long] = {
    val offset = req.effectiveOffset.getOrElse(0L).toInt
    req.effectiveLimit.map(l => ids.slice(offset, offset + l.toInt))
      .getOrElse(ids.drop(offset))
  }

  test("lenient compiler ≡ in-memory reference semantics (scalacheck)") {
    val prop = Prop.forAll(genCaps, genCaps, genCaps, genOrders, genFilter, genPage) {
      (nameCaps: Caps, nickCaps: Caps, ageCaps: Caps,
       orders: Seq[ColumnOrder], filters: Map[String, Map[String, Any]],
       page: (Option[Long], Option[Long])) =>

        val capsByName = Map("name" -> nameCaps, "nick" -> nickCaps, "ageOpt" -> ageCaps)
        // force a total order so Spark/model agree on ties
        val req = QuerySpec(
          orders = orders :+ ColumnOrder("id", desc = false),
          filters = filters, drop = page._1, take = page._2)

        val got = table(capsByName).query(req).select("id").collect().map(_.getLong(0)).toSeq
        val expected = slice(modelIds(capsByName, req), req)

        val ok = got == expected
        if (!ok) System.err.println(
          s"[prop-fail] got=$got expected=$expected caps=$capsByName " +
            s"orders=${req.orders} filters=$filters page=$page")
        ok
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  test("pagedView: total = model's filtered count, data = model's sorted page (scalacheck)") {
    val prop = Prop.forAll(genCaps, genCaps, genCaps, genOrders, genFilter, genPaging, genSorting) {
      (nameCaps: Caps, nickCaps: Caps, ageCaps: Caps,
       orders: Seq[ColumnOrder], filters: Map[String, Map[String, Any]],
       paging: QuerySpec, sorting: Seq[ColumnOrder] => Seq[ColumnOrder]) =>

        val capsByName = Map("name" -> nameCaps, "nick" -> nickCaps, "ageOpt" -> ageCaps)
        val req = paging.copy(columns = Some(Seq("id")), orders = sorting(orders), filters = filters)
        val exact = req.orders.lastOption.contains(ColumnOrder("id", desc = false))

        val pv = table(capsByName).pagedView(req)
        val ids = modelIds(capsByName, req)
        val expected = slice(ids, req).map(id => s"""{"id":$id}""")
        // without the id tiebreak the page is some slice of the filtered rows
        val pageOk =
          if (exact) pv.view.data == expected
          else pv.view.data.size == expected.size && pv.view.data.distinct == pv.view.data &&
            pv.view.data.toSet.subsetOf(ids.map(id => s"""{"id":$id}""").toSet)

        val ok = pv.total == ids.size && pageOk
        if (!ok) System.err.println(
          s"[prop-fail] total=${pv.total} data=${pv.view.data} model=$ids " +
            s"expected=$expected caps=$capsByName orders=${req.orders} " +
            s"filters=$filters paging=$paging")
        ok
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  test("an overflowing or non-Int page is refused in both modes, never wrapped or clamped") {
    val t = table(colNames.map(_ -> Caps(sortable = true, None, filterable = true)).toMap)
    val max = Int.MaxValue.toLong
    val unservable = Seq(
      QuerySpec(pageIndex = Some(Long.MaxValue / 2), pageSize = Some(4)), // overflows
      QuerySpec(pageIndex = Some(1L << 31), pageSize = Some(1)), // offset > Int.MaxValue
      QuerySpec(drop = Some(max + 1)),
      QuerySpec(drop = Some(max), take = Some(1)), // offset + limit > Int.MaxValue
      QuerySpec(take = Some(max + 1)))
    for (req <- unservable; strict <- Seq(false, true)) {
      val st = t.withStrict(strict)
      val reasons = Seq[() => Any](
        () => st.query(req), () => st.pagedView(req),
        () => QueryCompiler.paginate(friend, req)).map { call =>
        intercept[GraftAnalysisException](call()).errors.mkString
      }
      reasons.foreach(r => assert(r.contains("offset"), r))
    }
    // the largest servable pages are served (past the end: an empty page)
    for (req <- Seq(QuerySpec(drop = Some(max)), QuerySpec(drop = Some(max - 1), take = Some(1)))) {
      val pv = t.pagedView(req)
      assert(pv.total == 4 && pv.view.data.isEmpty)
    }
    assert(t.query(QuerySpec(take = Some(max))).count() == 4)
  }

  test("strict mode refuses negative pagination; lenient mode clamps it") {
    val t = table(colNames.map(_ -> Caps(sortable = true, None, filterable = true)).toMap)
    val byId = QuerySpec(columns = Some(Seq("id")), orders = Seq(ColumnOrder("id", desc = false)))
    def ids(req: QuerySpec): Seq[Long] =
      t.query(req).collect().map(_.getLong(0)).toSeq
    val negatives = Seq(
      "drop" -> byId.copy(drop = Some(-1)),
      "take" -> byId.copy(take = Some(-1)),
      "pageIndex" -> byId.copy(pageIndex = Some(-1), pageSize = Some(2)),
      "pageSize" -> byId.copy(pageIndex = Some(1), pageSize = Some(-2)))
    for ((field, req) <- negatives) {
      val ex = intercept[GraftAnalysisException](t.withStrict(true).pagedView(req))
      assert(ex.errors.exists(_.contains(s"'$field'")), ex.errors)
      intercept[GraftAnalysisException](t.withStrict(true).query(req))
    }
    // all-errors-at-once: pagination errors join the request's other errors
    val both = intercept[GraftAnalysisException](t.withStrict(true)
      .query(byId.copy(drop = Some(-1), columns = Some(Seq("id", "nope")))))
    assert(both.errors.size == 2, both.errors)
    // lenient: a negative offset skips nothing, a negative limit is empty
    assert(ids(byId.copy(drop = Some(-1))) == Seq(1L, 2L, 3L, 4L))
    assert(ids(byId.copy(take = Some(-1))).isEmpty)
    assert(ids(byId.copy(pageIndex = Some(-1), pageSize = Some(2))) == Seq(1L, 2L))
    assert(ids(byId.copy(pageIndex = Some(1), pageSize = Some(-2))).isEmpty)
  }
}

package graft.core

import graft.compile.{QueryCompiler, QuerySpec}
import graft.render.{JsonView, JsonWriter, PagedView, PropertyInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.DataType

/** A source `DataFrame` plus its column declarations — the unit a dynamic
  * request is compiled against.
  *
  * Spark-native rendition of the reference's lifted query comprehension
  * (`for { friend <- FriendTable.out } yield List("id" ofPile …)`,
  * reference: sample/commonSlick/src/main/scala/Sample05.scala:24-32). The
  * source can be any DataFrame — a parquet scan, a join, another compiled
  * query — so declarations compose over arbitrary relational cores, which is
  * how the reference delegates joins/aggregation to Slick
  * (documentation/doc-01.md:154) and we delegate them to Spark itself.
  *
  * Schema-less dynamic declaration (reference `SimpleTable`,
  * Models.scala:26-34, Sample08.scala:24-33) is native here: specs can be
  * built from runtime strings with `col(name)` against any DataFrame.
  */
final case class TableSpec(
    df: DataFrame,
    specs: Seq[ColumnSpec],
    strict: Boolean = false) {

  lazy val registry: Map[String, ColumnSpec] = specs.map(s => s.name -> s).toMap

  /** Spark type of every declared column (incl. hidden), bound once: every
    * request compiles against it. */
  private lazy val boundTypes: Map[String, DataType] = QueryCompiler.boundTypes(df, specs)

  /** Client-facing column descriptors, one per declared column, with the
    * exact fields of the reference's properties view (doc-02.md:107-117). */
  def properties: Seq[PropertyInfo] =
    specs.map { s =>
      PropertyInfo(
        property = s.name,
        typeName = s.typeName(boundTypes(s.name)),
        inRetrieve = s.inView,
        canOrder = s.canOrder,
        isDefaultDesc = s.defaultDesc,
        describe = s.describeText)
    }

  /** Compile a dynamic request into a lazy DataFrame pipeline. */
  def query(qs: QuerySpec = QuerySpec()): DataFrame =
    QueryCompiler.paginate(QueryCompiler.unpaged(df, specs, boundTypes, qs, strict), qs)

  /** Compile + execute + render the `JsonView{properties, data}` sink
    * (doc-02.md:96-117). Driver-side by design: a view is a bounded page —
    * callers paginate via the request; the heavy lifting stays distributed. */
  def jsonView(qs: QuerySpec = QuerySpec()): JsonView =
    JsonView.render(this, qs)

  /** Paged view carrying the unpaged result total (reference:
    * doc-02.md:135 — pageIndex/pageSize requests imply a total so clients
    * can render pagers). One collect of the [[QueryCompiler.paginate]]d
    * request: a sorted, limited page runs as a single top-K job, and the
    * total is the [[QueryCompiler.PageTotal]] row count observed under that
    * top-K while it read every filtered row, so the total and the page come
    * from the same evaluation. Where the executed plan cannot vouch for that
    * count ([[observedTotal]]) — an unsorted page, an offset with no limit,
    * a source already in the page's order, a page the optimizer pruned —
    * the total is a second action,
    * `count()`, from which the optimizer drops the sort and unused (UDF)
    * columns. No cache, no range sort on the one-job path. */
  def pagedView(qs: QuerySpec = QuerySpec()): PagedView = {
    val unpaged = QueryCompiler.unpaged(df, specs, boundTypes, qs, strict, countRows = true)
    val page = QueryCompiler.paginate(unpaged, qs)
    val rows = page.collect()
    val total = observedTotal(page).getOrElse(unpaged.count())
    PagedView(total, JsonView(properties,
      rows.toIndexedSeq.map(JsonWriter.writeRow(page.schema))))
  }

  /** The [[QueryCompiler.PageTotal]] count `page`'s collect observed, read
    * synchronously from its executed plan, if that count is exact: the
    * plan's root is a top-K whose child is not already in its order (else it
    * reads a partition only up to the limit) and only unary, non-exchange
    * nodes sit between it and the count. That is one result stage, and the
    * scheduler applies a result task's accumulator update once. Otherwise
    * (a `CollectLimit` reads some partitions; a range sort's sampling job
    * re-runs the subtree; a pruned plan has no count) `None`. */
  private def observedTotal(page: DataFrame): Option[Long] = {
    def counted(p: SparkPlan): Option[CollectMetricsExec] = p match {
      case m: CollectMetricsExec if m.name == QueryCompiler.PageTotal => Some(m)
      case _: Exchange => None
      case u: UnaryExecNode => counted(u.child)
      case _ => None
    }
    val root = page.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case r: ResultQueryStageExec => r.plan
        case p => p
      }
      case p => p
    }
    root match {
      case top: TakeOrderedAndProjectExec
          if !SortOrder.orderingSatisfies(top.child.outputOrdering, top.sortOrder) =>
        counted(top.child).map(_.collectedMetrics.getLong(0))
      case _ => None
    }
  }

  def withStrict(s: Boolean): TableSpec = copy(strict = s)
}

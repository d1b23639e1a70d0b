package graft.core

import graft.compile.{QueryCompiler, QuerySpec}
import graft.render.{JsonView, JsonWriter, PagedView, PropertyInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

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

  /** Schema of the fully-bound declaration (all columns, incl. hidden). */
  lazy val boundSchema: StructType = df.select(specs.map(_.boundCol): _*).schema

  /** Client-facing column descriptors, one per declared column, with the
    * exact fields of the reference's properties view (doc-02.md:107-117). */
  def properties: Seq[PropertyInfo] = {
    val types = boundSchema.fields.map(f => f.name -> f.dataType).toMap
    specs.map { s =>
      PropertyInfo(
        property = s.name,
        typeName = s.typeName(types(s.name)),
        inRetrieve = s.inView,
        canOrder = s.canOrder,
        isDefaultDesc = s.defaultDesc,
        describe = s.describeText)
    }
  }

  /** Compile a dynamic request into a lazy DataFrame pipeline. */
  def query(qs: QuerySpec = QuerySpec()): DataFrame =
    QueryCompiler.compile(df, specs, qs, strict)

  /** Compile + execute + render the `JsonView{properties, data}` sink
    * (doc-02.md:96-117). Driver-side by design: a view is a bounded page —
    * callers paginate via the request; the heavy lifting stays distributed. */
  def jsonView(qs: QuerySpec = QuerySpec()): JsonView =
    JsonView.render(this, qs)

  /** Paged view carrying the unpaged result total (reference:
    * doc-02.md:135 — pageIndex/pageSize requests imply a total so clients
    * can render pagers). Two plain actions over one analyzed unpaged plan:
    * `count()`, from which the optimizer drops the sort and unused (UDF)
    * columns, and a collect of [[QueryCompiler.paginate]], which runs a
    * sorted page as a per-partition top-K — no cache, no range sort. A
    * non-deterministic source may give the total and the page from two
    * evaluations, as the reference's count and page statements may. */
  def pagedView(qs: QuerySpec = QuerySpec()): PagedView = {
    val unpaged = QueryCompiler.unpaged(df, specs, qs, strict)
    val total = unpaged.count()
    val rows = QueryCompiler.paginate(unpaged, qs).collect()
    PagedView(total, JsonView(properties,
      rows.toIndexedSeq.map(JsonWriter.writeRow(unpaged.schema))))
  }

  def withStrict(s: Boolean): TableSpec = copy(strict = s)
}

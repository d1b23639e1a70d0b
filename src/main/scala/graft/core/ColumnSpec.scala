package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, _}

/** One column declaration: a Spark `Column` expression plus the capability
  * metadata the reference attaches via atomics.
  *
  * Spark-native rendition of `AtomicPathImpl[D]` + its atomic list
  * (reference: framework/ubw-core/src/main/scala/net/scalax/ubw/core/AtomicPath.scala:3-53):
  * instead of a runtime-typed `List[Atomic[D]]` probed by capability class,
  * the capabilities are plain fields, and they are mirrored into
  * `StructField.metadata` at bind time so `df.schema` alone can regenerate
  * the client-facing properties view (reference: documentation/doc-02.md:107-117).
  *
  * Capability mapping (reference file:line → field):
  *  - `"id" ofPile …`       name binding       (Sample05.scala:28-32)   → [[name]]
  *  - `.describe(str)`       FDescribe          (FProperty.scala:22-37)  → [[describeText]]
  *  - `.inView(false)`       projection pruning (doc-02.md:137-171)     → [[inView]]
  *  - `.order`               sortable           (doc-02.md:124-133)     → [[sortable]]
  *  - `.orderTarget("nick")` sort redirection   (doc-02.md:130)         → [[redirect]]
  *  - `.filter/.likeable`    dynamic predicates (Sample09.scala:31-35)  → [[filterOps]]
  *  - `DefaultValue`         null fallback      (Sample09.scala:36-40)  → [[defaultValue]]
  */
final case class ColumnSpec(
    name: String,
    col: Column,
    describeText: Option[String] = None,
    inView: Boolean = true,
    sortable: Boolean = false,
    redirect: Option[String] = None,
    defaultDesc: Boolean = true,
    filterOps: Set[FilterOp] = Set.empty,
    defaultValue: Option[Any] = None,
    typeNameOverride: Option[String] = None,
    /** string column already holding serialized JSON: the JsonView renders
      * it verbatim (unquoted) — models ubw's `Map[String, Json]` columns with
      * per-row heterogeneous shapes (Sample07.scala:98-105, :117-126) */
    rawJson: Boolean = false,
    /** inputs consumed by a poly/derived column — kept so orderability can be
      * recomputed from the underlying declarations (doc-03.md:40, :56-59) */
    polyInputs: Seq[ColumnSpec] = Nil,
    /** presentation format for the formatted sink (reference doc-01.md:111-115:
      * Excel decimal formats / column widths driven by the declaration) */
    formatDecimals: Option[Int] = None,
    formatWidth: Option[Int] = None) {

  // ---- builder DSL (mirrors the reference's atomic-append chain) ----
  def order: ColumnSpec                     = copy(sortable = true)
  def orderTarget(target: String): ColumnSpec = copy(redirect = Some(target))
  def describe(text: String): ColumnSpec    = copy(describeText = Some(text))
  def defaultAsc: ColumnSpec                = copy(defaultDesc = false)
  def hidden: ColumnSpec                    = copy(inView = false)
  def visible(v: Boolean): ColumnSpec       = copy(inView = v)
  def likeable: ColumnSpec                  = copy(filterOps = filterOps + FilterOp.Like)
  def comparable: ColumnSpec                = copy(filterOps = filterOps ++ FilterOp.comparisons)
  def filterable(ops: FilterOp*): ColumnSpec = copy(filterOps = filterOps ++ ops)
  def withDefault(v: Any): ColumnSpec       = copy(defaultValue = Some(v))
  def named(n: String): ColumnSpec          = copy(name = n)
  def asRawJson: ColumnSpec                 = copy(rawJson = true)
  def decimals(n: Int): ColumnSpec          = copy(formatDecimals = Some(n))
  def width(n: Int): ColumnSpec             = copy(formatWidth = Some(n))

  /** Column with the default-value fallback applied (DefaultValue atomic:
    * value used when the cell is absent — Sample09.scala:36-40). */
  def effCol: Column =
    defaultValue.map(d => coalesce(col, lit(d))).getOrElse(col)

  /** Client-visible orderability. A plain column is orderable only via its
    * own `.order`; `orderTarget` alone reports false (doc-02.md:110-114 shows
    * `name` with orderTarget as `canOrder:false`). A derived column is
    * orderable when any consumed input is sortable or redirected
    * (doc-03.md:40: sortability judged from the underlying declarations,
    * golden shows derived `name` as `canOrder:true`). */
  def canOrder: Boolean =
    sortable || polyInputs.exists(i => i.sortable || i.redirect.isDefined)

  /** Resolve the physical sort expression honoring redirection; `registry`
    * maps declared names (including non-visible ones) to specs. Returns None
    * when the column has no order capability → request silently elided
    * (doc-02.md:133). */
  def sortColumn(registry: Map[String, ColumnSpec]): Option[Column] =
    redirect
      .flatMap(registry.get)
      .map(_.effCol)
      .orElse(if (sortable) Some(effCol) else None)
      .orElse(polyInputs.iterator.flatMap(_.sortColumn(registry)).nextOption())

  /** Bound output column: aliased + capability metadata mirrored into the
    * field metadata, so the schema is self-describing. */
  def boundCol: Column = effCol.as(name, metadata)

  def metadata: Metadata = {
    val mb = new MetadataBuilder()
    describeText.foreach(mb.putString("describe", _))
    mb.putBoolean("canOrder", canOrder)
    mb.putBoolean("isDefaultDesc", defaultDesc)
    mb.putBoolean("inView", inView)
    if (filterOps.nonEmpty)
      mb.putStringArray("filterOps", filterOps.map(_.opName).toArray.sorted)
    if (rawJson) mb.putBoolean("rawJson", true)
    formatDecimals.foreach(d => mb.putLong("formatDecimals", d.toLong))
    formatWidth.foreach(w => mb.putLong("formatWidth", w.toLong))
    mb.build()
  }

  /** Client-facing type name. Defaults follow the reference's Scala-type
    * names for table columns (doc-02.md:110-114: `Long`, `java.lang.String`,
    * `Int`); derived columns override with their unqualified Scala result
    * type (doc-03.md:57: `String`). */
  def typeName(dt: DataType): String =
    typeNameOverride.getOrElse(ColumnSpec.defaultTypeName(dt))
}

object ColumnSpec {

  def defaultTypeName(dt: DataType): String = dt match {
    case LongType      => "Long"
    case IntegerType   => "Int"
    case ShortType     => "Short"
    case ByteType      => "Byte"
    case DoubleType    => "Double"
    case FloatType     => "Float"
    case BooleanType   => "Boolean"
    case StringType    => "java.lang.String"
    case TimestampType => "java.sql.Timestamp"
    case DateType      => "java.sql.Date"
    case other         => other.simpleString
  }

  /** DSL entry points: `"id".ofCol(col("id"))` mirrors `"id" ofPile path`
    * (Sample05.scala:28-32); `col("id").spec("id")` is the Column-first
    * spelling. */
  object dsl {
    implicit final class StringSpecOps(private val name: String) extends AnyVal {
      def ofCol(c: Column): ColumnSpec = ColumnSpec(name, c)
    }
    implicit final class ColumnSpecOps(private val c: Column) extends AnyVal {
      def spec(name: String): ColumnSpec = ColumnSpec(name, c)
    }
  }
}

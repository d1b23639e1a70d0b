package graft.compile

/** One requested sort key: property name + direction.
  * (reference: `ColumnOrder("name", true)` in documentation/doc-02.md:124) */
final case class ColumnOrder(name: String, desc: Boolean)

/** A dynamic per-request query description — the Spark-native `SlickParam`
  * (reference: documentation/doc-02.md:124-135, Sample09.scala:45-56).
  *
  *  - [[columns]]: GraphQL-style per-request projection (doc-01.md:89,
  *    doc-02.md:171); `None` = all declared visible columns.
  *  - [[filters]]: property → (opName → value); columns without the matching
  *    [[graft.core.FilterOp]] capability and unknown properties are silently
  *    ignored in lenient mode (doc-01.md:148-152).
  *  - [[orders]]: requested sort keys; unsortable requests elided; effective
  *    keys are applied in *declaration* order, reproducing the captured SQL
  *    `order by "id" nulls last, "nick" desc nulls last` for the request
  *    `[name desc, id asc]` (doc-02.md:124-133).
  *  - pagination: `drop`/`take` win over `pageIndex`/`pageSize`
  *    (0-based pages); all optional (doc-02.md:135).
  */
final case class QuerySpec(
    columns: Option[Seq[String]] = None,
    filters: Map[String, Map[String, Any]] = Map.empty,
    orders: Seq[ColumnOrder] = Nil,
    drop: Option[Long] = None,
    take: Option[Long] = None,
    pageIndex: Option[Long] = None,
    pageSize: Option[Long] = None) {

  /** Throws `ArithmeticException` if `pageIndex * pageSize` overflows. */
  def effectiveOffset: Option[Long] =
    drop.orElse(for (i <- pageIndex; s <- pageSize) yield Math.multiplyExact(i, s))

  def effectiveLimit: Option[Long] = take.orElse(pageSize)
}

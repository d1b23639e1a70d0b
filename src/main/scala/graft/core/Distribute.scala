package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** OUTPUT DISTRIBUTION for dynamic-partitioned writes (r16, optimization
  * guide §2.4/§6): a `partitionBy(k)` write emits up to
  * (input tasks × distinct k per task) files — at 32 local tasks over a
  * 64-bucket store that is ~2,000 tiny files per commit, and at cluster
  * scale it is the classic small-files explosion (object-store listing and
  * open cost compound across every later read) plus a same-key row-group
  * interleave that dilutes any in-partition clustering. Keying an
  * exchange by the partition column bounds the files at ~#k. Cost: one
  * exchange of the DATA BEING WRITTEN (a commit delta, an export — never
  * a standing corpus).
  *
  * Each write family uses the mode its pinned A/Bs measured (r16, r17):
  * store commits [[hashPinned]], exports [[rebalance]]. IVF index writes
  * add no exchange: their input is a narrow projection over the ingest
  * scan, and r16's A/B measured the exchange as a net loss at a
  * model-bounded cell count.
  */
object Distribute {

  /** Plain hash exchange on `partCol`, pinned to the session's
    * shuffle width. A bare `repartition(col)` is AQE-coalescable
    * (ShuffleOrigin REPARTITION_BY_COL), so on a small commit delta it
    * collapsed to ONE task writing every split dir serially (r17). The
    * explicit width keeps per-split writers parallel: each split still
    * lands wholly in one task (≤1 file per split), and the width is the
    * deployment's own parallelism setting, not a constant. */
  def hashPinned(df: DataFrame, partCol: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(partCol))

  /** `REBALANCE(partCol)`: AQE sizes the output, so small keys coalesce
    * into shared tasks (few files) and a skewed key fans out over several
    * tasks of advisory-partition size — the Iceberg
    * `write.distribution-mode=hash` shape, scale-adaptive by
    * construction. */
  def rebalance(df: DataFrame, partCol: String): DataFrame =
    df.hint("rebalance", col(partCol))
}

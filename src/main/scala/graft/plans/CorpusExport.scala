package graft.plans

import graft.core.Checkpoint.Ops
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The terminal step of the curation pipeline: MATERIALIZE the training
  * corpus. Curated survivors join back to their text, get stamped with the
  * deterministic content-stable split, and are written partitioned by
  * split — so a trainer reads `split=train` with partition pruning and the
  * held-out slices can never leak in by path construction. The manifest
  * (per (split, lang): docs + token totals) is written next to the corpus
  * from the SAME cached materialization ([[Channels.multiSink]]) — one
  * compute of the full pipeline, not one per output.
  *
  * 100 TB shape: the export is one declarative plan ending in a
  * partitioned write; the manifest is a tiny aggregate over the cached
  * intermediate. Nothing is collected.
  */
object CorpusExport {

  /** Recursive delete for export temp directories (shared by the gate
    * wrapper and specs — `deleteOnExit` cannot remove non-empty dirs). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Write corpus + manifest under `outPath`, then return the manifest
    * recomputed FROM THE WRITTEN CORPUS (read-back) — callers (and the
    * driver gate) therefore verify the on-disk artifact end to end, not
    * the in-memory plan that produced it. `where` restricts the exported
    * docs (post-curation) — the day-0-slice knob of the apply-delta
    * lifecycle gate; the default exports everything. */
  def writeCurated(s: SparkSession, dir: String, outPath: String,
      where: org.apache.spark.sql.Column = lit(true)): DataFrame =
    writeCuratedFrom(s, curatedFull(s, dir).filter(where), outPath)

  /** [[writeCurated]] over a PRECOMPUTED curated frame — the shared-
    * materialization path: a caller staging several artifacts off one
    * curation run (the apply-delta lifecycle gate) computes `curatedFull`
    * once, persists it, and feeds both the base export and the delta,
    * instead of re-running the full pipeline (probe training included)
    * per artifact. */
  private[graft] def writeCuratedFrom(
      s: SparkSession, full: DataFrame, outPath: String): DataFrame = {
    graft.core.Labeled(s, "graft export: corpus + manifest write") {
      Channels.multiSink(full)(Seq[DataFrame => Unit](
        df => graft.core.Distribute.rebalance(df, "split")
          .write.mode("overwrite").partitionBy("split")
          .parquet(s"$outPath/corpus"),
        df => manifestOf(df).coalesce(1)
          .write.mode("overwrite").json(s"$outPath/_manifest")
      ))
    }
    manifestOf(s.read.parquet(s"$outPath/corpus"))
  }

  /** The full curated frame an export writes: curation survivors joined to
    * their split assignment and raw text. */
  private[graft] def curatedFull(s: SparkSession, dir: String): DataFrame = {
    val curated = graft.queries.LlmOps.curationPipeline(s, dir)
    val splits = graft.queries.LlmOps.splitAssignments(s, dir)
      .select(col("doc_id"), col("split"))
    val text = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    curated.join(splits, "doc_id").join(text, "doc_id")
  }

  private def manifestOf(df: DataFrame): DataFrame = df
    .groupBy(col("split"), col("lang"))
    .agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).cast("long").as("total_tokens"))

  /** INCREMENTAL re-export against an existing [[writeCurated]] artifact at
    * `outPath`: diff the freshly-curated corpus against the base corpus on
    * disk by content fingerprint ([[graft.operators.Versioning.diff]]) and
    * write ONLY the added/modified documents as a split-partitioned DELTA
    * (`outPath/delta`), plus the removed ids (`outPath/_removed`). An
    * UNCHANGED snapshot therefore re-exports ZERO corpus rows — no part
    * files at all (asserted in CorpusExportSpec) — where a full re-export
    * rewrites every partition.
    *
    * Returns the manifest of the LOGICAL corpus (base minus
    * removed/modified, union delta) recomputed from the WRITTEN files —
    * the same read-back verification contract as [[writeCurated]]; the
    * spec pins it equal to a from-scratch export's manifest.
    *
    * 100 TB shape: the diff reduces both sides to (id, 16-byte
    * fingerprint) scan projections — one narrow full-outer join; document
    * payloads move only for the docs that actually changed. The curated
    * frame is computed ONCE (persisted across the diff and the delta
    * write, then freed). */
  def writeCuratedDelta(s: SparkSession, dir: String, outPath: String): DataFrame =
    writeCuratedDeltaFrom(s, curatedFull(s, dir), outPath)

  /** [[writeCuratedDelta]] over a precomputed curated frame (see
    * [[writeCuratedFrom]]); an already-persisted frame is not
    * re-persisted (and not unpersisted — the caller owns its cache).
    * The returned manifest is MATERIALIZED (lineage cut) before return,
    * so it stays readable after a later [[applyDelta]] mutates the very
    * partition files a lazy plan would still point at. */
  private[graft] def writeCuratedDeltaFrom(
      s: SparkSession, full0: DataFrame, outPath: String): DataFrame = {
    writeCuratedDeltaArtifacts(s, full0, outPath)
    // logical corpus = base rows still current + the written delta.
    // Every input is a WRITTEN artifact (delta ids ARE the changed set;
    // removed ids come back from _removed). Explicit schema on the delta
    // read-back because an empty delta has no part files to infer from.
    val base = s.read.parquet(s"$outPath/corpus")
    val delta = s.read.schema(base.schema)
      .parquet(s"$outPath/delta")
    val gone = delta.select(col("doc_id")).unionByName(
      s.read.schema("doc_id long").json(s"$outPath/_removed")
        .select(col("doc_id")))
    manifestOf(
      base.join(gone, Seq("doc_id"), "left_anti").unionByName(delta))
      .graftCheckpoint()
  }

  /** The delta ARTIFACTS alone (`outPath/delta` + `_removed`), no
    * manifest job — the apply-delta lifecycle calls this: it returns
    * [[applyDelta]]'s own read-back manifest, so computing the logical
    * manifest here would be a discarded full pass over the base. */
  private[graft] def writeCuratedDeltaArtifacts(
      s: SparkSession, full0: DataFrame, outPath: String): Unit = {
    val base = s.read.parquet(s"$outPath/corpus")
    val callerCached =
      full0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val full = if (callerCached) full0
      else full0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the narrow (id, status) diff is persisted too: two actions
      // consume it (delta write, removed-ids write), and without the
      // cache each would re-run the full-outer fingerprint join AND
      // re-scan + re-fingerprint the base corpus
      val diff = graft.operators.Versioning.diff(
        base.select(col("doc_id"), col("text")),
        full.select(col("doc_id"), col("text")), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = diff.filter(col("status").isin("added", "modified"))
        .select(col("doc_id"))
      val removed = diff.filter(col("status") === "removed").select(col("doc_id"))

      graft.core.Labeled(s, "graft export: delta write") {
        graft.core.Distribute.rebalance(full.join(changed, "doc_id"), "split")
          .write.mode("overwrite").partitionBy("split")
          .parquet(s"$outPath/delta")
      }
      graft.core.Labeled(s, "graft export: removed-ids write") {
        removed.write.mode("overwrite").json(s"$outPath/_removed")
      }
      diff.unpersist(blocking = false)
    } finally {
      if (!callerCached) full.unpersist(blocking = false); ()
    }
  }

  /** APPLY a written [[writeCuratedDelta]] to the base corpus in place —
    * the compaction step that completes the delta lifecycle (base +
    * delta + removals → new base, so the next day diffs against a clean
    * snapshot instead of an ever-growing delta chain). Only AFFECTED
    * split partitions rewrite: a split holding neither delta rows nor
    * removed docs keeps its exact files (CorpusExportSpec pins the file
    * listing untouched). ALL affected partitions rewrite in ONE Spark job
    * (dynamic `partitionBy` into a hidden staging root — a sequential
    * per-partition loop of jobs would serialize a finer-keyed corpus's
    * rewrite on the driver); the swap then uses the rename-aside
    * discipline ([[Compaction]]) per partition: metadata-only renames,
    * the old partition recoverable until its replacement is in place,
    * and a failed forward rename rolls the old partition back.
    *
    * Returns the manifest recomputed from the UPDATED on-disk corpus —
    * which must (and in the gate does) equal a from-scratch export's
    * manifest. The affected-split list is a bounded driver collect
    * (≤ 3 split names). 100 TB shape: with the corpus additionally
    * partitioned by a finer key (e.g. export day), "affected partitions"
    * shrinks from split-level to day-level; the swap logic is per
    * partition directory either way. */
  def applyDelta(s: SparkSession, outPath: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val corpusPath = s"$outPath/corpus"
    val base = s.read.parquet(corpusPath)
    val delta = s.read.schema(base.schema).parquet(s"$outPath/delta")
    val removed = s.read.schema("doc_id long").json(s"$outPath/_removed")
      .select(col("doc_id"))
    val gone = delta.select(col("doc_id")).unionByName(removed).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded collect: at most the distinct split values (≤ 3) — one
      // job, no exchange (Snapshots.distinctStringsOneJob, r17)
      val affected = graft.core.Labeled(s, "graft applyDelta: affected splits") {
        Snapshots.distinctStringsOneJob(delta.select(col("split"))
          .unionByName(base.join(gone, "doc_id").select(col("split"))))
      }

      // Directory names use Spark's partition-path escaping: the live
      // corpus was written by partitionBy, so a split value carrying a
      // path-special char (':', '%', space, …) lives under its ESCAPED
      // dir name — addressing it raw would miss both the live and the
      // staged dir, and the all-docs-removed fallback below would then
      // silently swap the real partition away.
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
      def liveDir(sp: String) =
        new java.io.File(s"$corpusPath/split=${escapePathName(sp)}")
      def bakDir(sp: String) =
        new java.io.File(s"$corpusPath/.split=${escapePathName(sp)}.bak")

      // the stranded-.bak refusal scans BEFORE any data job: a previous
      // run's failed rollback holding the only copy must stop the apply
      // before it pays for — and half-swaps — a full rewrite
      affected.foreach { sp =>
        if (bakDir(sp).exists() && !liveDir(sp).exists())
          throw new java.io.IOException(
            s"refusing applyDelta: a previous failed swap left the only copy at ${bakDir(sp)}; recover it first")
      }

      // ONE job rewrites every affected partition into a hidden staging
      // root (partition discovery skips dot-dirs, so concurrent readers of
      // the live corpus never see it). One job, not one per partition:
      // with a finer partition key (export day) "affected" can be
      // hundreds of directories, and a sequential per-partition loop of
      // Spark jobs serializes the whole rewrite on the driver.
      val stagingRoot = new java.io.File(s"$corpusPath/.apply_delta.staging")
      deleteRecursively(stagingRoot)
      try {
        if (affected.nonEmpty) {
          val affectedCol = affected.toSeq.map(lit)
          graft.core.Labeled(s, "graft applyDelta: staged rewrite") {
            graft.core.Distribute.rebalance(
                base.filter(col("split").isin(affectedCol: _*))
                  .join(gone, Seq("doc_id"), "left_anti")
                  .unionByName(delta.filter(col("split").isin(affectedCol: _*))),
                "split")
              .write.mode("overwrite").partitionBy("split")
              .parquet(stagingRoot.getPath)
          }
        }

        // per-partition swap stays the rename-aside discipline:
        // metadata-only renames after the data job, old partition
        // recoverable until its replacement is in place
        affected.foreach { sp =>
          val live = liveDir(sp)
          val staging =
            new java.io.File(stagingRoot, s"split=${escapePathName(sp)}")
          val bak = bakDir(sp)
          deleteRecursively(bak)
          // a partition whose every doc was removed writes no staged dir
          // at all (dynamic partitionBy emits only non-empty partitions):
          // swap in an empty directory, same net state the per-split
          // overwrite produced
          if (!staging.exists()) staging.mkdirs(): Unit
          if (live.exists() && !live.renameTo(bak))
            throw new java.io.IOException(s"applyDelta swap failed: $live -> $bak")
          if (!staging.renameTo(live)) {
            val restored = !bak.exists() || bak.renameTo(live)
            throw new java.io.IOException(
              s"applyDelta swap failed: $staging -> $live" +
                (if (restored) " (old partition restored)"
                 else s"; ROLLBACK ALSO FAILED — old partition preserved at $bak"))
          }
          deleteRecursively(bak)
        }
      } finally deleteRecursively(stagingRoot) // never strand a staged rewrite
      // schema pinned: a fully-emptied corpus (every doc removed) leaves
      // only fileless partition dirs, which schema INFERENCE rejects —
      // the manifest must come back empty there, not crash
      manifestOf(s.read.schema(base.schema).parquet(corpusPath)).graftCheckpoint()
    } finally { gone.unpersist(blocking = false); () }
  }
}

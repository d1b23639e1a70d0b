package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing doc_id → split INDEX for a [[Snapshots]] corpus store — the
  * missing half of takedown discovery: split-keyed removals commit with
  * IO bounded by their splits, but a caller who only knows doc_ids
  * (the GDPR request, the upstream retraction feed) had to pay a
  * corpus-wide semi-join to find where its victims live. This index
  * answers that lookup at probed-buckets cost instead.
  *
  * The index IS ITSELF a snapshot store — of rows
  * `(doc_id, split = bucket, target_split)`, where `bucket` hashes the
  * doc_id into a fixed number of partitions — so every property the
  * corpus store already proves carries over for free: a refresh
  * rewrites ONLY the buckets holding changed doc_ids (the store's
  * affected-split contract), updates are replacements, removals are
  * split-keyed, versions give the index its own time travel, and the
  * atomic version-file commit point makes refreshes crash-safe.
  * Maintenance is CDC-driven: [[refresh]] reads
  * `changesBetween(lastIndexed, head)` — pointer-pruned, so a daily
  * delta refreshes the index by what the day touched, never the corpus.
  *
  * CRASH SAFETY of the corpus↔index version mapping: every refresh
  * commit is TAGGED `v{N}` with the corpus version it reflects, and the
  * reflected version ALSO rides a tiny meta marker (atomically
  * replaced, [[Snapshots.atomicReplace]]) together with the index's
  * bucket width. [[indexedVersion]] answers max(meta, head tag) — a
  * refresh that crashed between its commit and its meta write can never
  * make the recovery refresh re-apply a diff from the stale base (which
  * would silently diverge the index for any doc whose state netted out
  * across the window). The bucket width is FIXED at [[materialize]]
  * time and read back from the meta on every refresh/lookup — a
  * maintenance job running with a different session knob cannot corrupt
  * the bucketing.
  *
  * [[Snapshots.commitRemove]] + [[resolveSplits]] compose into
  * [[removeByIds]]: the doc_id-only takedown a 100 TB corpus can
  * actually afford — probed-bucket index lookup, then a split-keyed
  * merge-on-read tombstone commit.
  */
object DocIndex {

  /** Bucket width for a NEW index ([[materialize]] only — after that
    * the width rides the meta marker): session knob
    * `spark.graft.docindex.buckets` (default 64). Size it to the
    * corpus: ~corpus_rows × 16 bytes / buckets should be a comfortable
    * partition (4096 buckets for a 10^10-doc corpus). */
  def buckets(s: SparkSession): Int =
    s.conf.getOption("spark.graft.docindex.buckets")
      .map(_.toInt).getOrElse(64)

  private def bucketCol(width: Int, c: Column): Column =
    concat(lit("b"), pmod(abs(hash(c)), lit(width)).cast("string"))

  private def indexRows(width: Int, corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), bucketCol(width, col("doc_id")).as("split"),
      col("split").as("target_split"))

  /** Build the index from scratch at the corpus head — one
    * column-pruned scan of (doc_id, split). Returns the corpus version
    * indexed. */
  def materialize(s: SparkSession, corpusRoot: String,
      indexRoot: String): Int = {
    val head = Snapshots.latestVersion(s, corpusRoot)
    require(head >= 1, s"materialize on an empty corpus store at $corpusRoot")
    require(Snapshots.latestVersion(s, indexRoot) == 0,
      s"index store at $indexRoot already exists — refresh it, or point " +
        "at a fresh root")
    val width = buckets(s)
    val corpus = Snapshots.readAt(s, corpusRoot, head)
      .select(col("doc_id"), col("split"))
    graft.core.Labeled(s, s"graft docindex materialize @v$head") {
      Snapshots.commitFull(s, indexRows(width, corpus), indexRoot): Unit
    }
    writeMeta(s, indexRoot, head, width)
    head
  }

  private val MetaFile = "_docidx.meta"

  /** Meta marker: line 1 = indexed corpus version, line 2 = bucket
    * width. Atomically replaced after every materialize/refresh. */
  private def writeMeta(s: SparkSession, indexRoot: String, v: Int,
      width: Int): Unit =
    Snapshots.atomicReplace(s,
      new org.apache.hadoop.fs.Path(s"$indexRoot/$MetaFile"),
      s"$v\n$width\n".getBytes("UTF-8"))

  private def readMeta(s: SparkSession,
      indexRoot: String): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexRoot/$MetaFile")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val lines = Snapshots.readWholeFile(s, p).split("\n")
      Some((lines(0).trim.toInt, lines(1).trim.toInt))
    }
  }

  /** The corpus version of the index HEAD's refresh tag (`v{N}`), if
    * the head carries one — the crash-recovery source of truth when a
    * refresh died between its commit and its meta write. */
  private def headTagVersion(s: SparkSession, indexRoot: String): Option[Int] = {
    val head = Snapshots.latestVersion(s, indexRoot)
    if (head < 1) None
    else Snapshots.history(s, indexRoot)
      .filter(col("version") === head && col("tag").isNotNull)
      .collect().headOption
      .flatMap(r => Option(r.getString(1)))
      .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption)
  }

  /** The corpus version the index currently reflects:
    * max(meta marker, head refresh tag) — see the class doc's crash
    * contract. */
  def indexedVersion(s: SparkSession, indexRoot: String): Int = {
    val meta = readMeta(s, indexRoot).map(_._1)
    val tag = headTagVersion(s, indexRoot)
    (meta, tag) match {
      case (Some(m), Some(t)) => math.max(m, t)
      case (Some(m), None) => m
      case (None, Some(t)) => t
      case (None, None) =>
        throw new IllegalArgumentException(
          s"no doc index at $indexRoot — materialize first (an index " +
            "root with data but neither meta nor a tagged head crashed " +
            "during its very first build: delete it and materialize " +
            "again)")
    }
  }

  /** The index's bucket width, from the meta marker (the width is fixed
    * at materialize time; trusting a session knob here would let a
    * differently-configured maintenance job corrupt the bucketing). */
  private def indexWidth(s: SparkSession, indexRoot: String): Int =
    readMeta(s, indexRoot).map(_._2).getOrElse(
      throw graft.core.GraftAnalysisException(Seq(
        s"doc index at $indexRoot has no meta marker (crashed mid-swap " +
          "on a non-atomic filesystem?) — its bucket width is " +
          "unrecoverable; delete the index root and materialize again " +
          "(the index is derived state, rebuilding loses nothing)")))

  /** Bring the index up to the corpus head incrementally: ONE tagged
    * index-store delta derived from the corpus CDC diff — adds/updates
    * upsert `(doc_id → split)` (an update carries the doc's NEW split,
    * so cross-split moves index correctly), removes delete the entry.
    * Index IO ∝ the buckets holding changed doc_ids; corpus IO ∝ the
    * diff's pointer-changed splits. Idempotent per corpus version (the
    * tag ledger skips a redelivered refresh). Returns the corpus
    * version now indexed. */
  def refresh(s: SparkSession, corpusRoot: String, indexRoot: String): Int = {
    val last = indexedVersion(s, indexRoot)
    val width = indexWidth(s, indexRoot)
    val head = Snapshots.latestVersion(s, corpusRoot)
    require(head >= last,
      s"corpus store at $corpusRoot is at v$head, behind the index's " +
        s"v$last — the index was built against a different (or recreated) " +
        "store")
    if (head == last) {
      writeMeta(s, indexRoot, head, width) // heal a stale meta marker
      return last
    }
    val ch =
      try Snapshots.changesBetween(s, corpusRoot, last, head)
      catch {
        case e: Snapshots.NoSuchVersionException if e.version == last =>
          // the indexed BASE was vacuumed out from under the index (a
          // retention sweep ran between refreshes — the long-running
          // ingest-stream shape): the CDC diff is gone, so rebuild from
          // the head instead. One column-pruned corpus scan, committed
          // as a consolidation of the index store itself — correct from
          // any staleness, and the meta swap keeps crash recovery exact.
          val corpus = Snapshots.readAt(s, corpusRoot, head)
            .select(col("doc_id"), col("split"))
          Snapshots.commitFull(s, indexRows(width, corpus), indexRoot): Unit
          writeMeta(s, indexRoot, head, width)
          return head
      }
    val upserts = indexRows(width,
      ch.filter(col("change") =!= "remove").select(col("doc_id"), col("split")))
    val removals = ch.filter(col("change") === "remove")
      .select(col("doc_id"), bucketCol(width, col("doc_id")).as("split"))
      .select(col("split"), col("doc_id"))
    graft.core.Labeled(s, s"graft docindex refresh v$last -> v$head") {
      Snapshots.commitDelta(s, indexRoot, adds = upserts,
        removedIds = removals, tag = Some(s"v$head")): Unit
    }
    writeMeta(s, indexRoot, head, width)
    head
  }

  /** The LIFECYCLE entry point: build the index when the root is still
    * empty, otherwise bring it to the corpus head — what an ingest
    * pipeline calls after each commit so takedown discovery stays
    * index-speed without an operator remembering to refresh. Returns
    * the corpus version now indexed. */
  def sync(s: SparkSession, corpusRoot: String, indexRoot: String): Int =
    if (Snapshots.latestVersion(s, indexRoot) == 0)
      materialize(s, corpusRoot, indexRoot)
    else refresh(s, corpusRoot, indexRoot)

  /** The current index contents (`doc_id`, `target_split`). */
  def read(s: SparkSession, indexRoot: String): DataFrame =
    Snapshots.readAt(s, indexRoot,
        Snapshots.latestVersion(s, indexRoot))
      .select(col("doc_id"), col("target_split"))

  /** Resolve bare doc_ids to the SPLIT-KEYED `(split, doc_id)` shape
    * every store takedown wants — reading ONLY the probed ids' buckets
    * (their bucket names are computed driver-side, bounded by
    * min(#ids, width), and pushed as a partition filter). Ids absent
    * from the index simply don't resolve (the caller's already-deleted
    * no-op). The index must be refreshed to the corpus head first
    * ([[refresh]] — enforced, because resolving against a stale index
    * would miss moves/adds since). */
  def resolveSplits(s: SparkSession, corpusRoot: String, indexRoot: String,
      ids: DataFrame): DataFrame = {
    val head = Snapshots.latestVersion(s, corpusRoot)
    val indexed = indexedVersion(s, indexRoot)
    if (indexed != head)
      throw graft.core.GraftAnalysisException(Seq(
        s"doc index at $indexRoot reflects corpus v$indexed but the " +
          s"store at $corpusRoot is at v$head — refresh the index first " +
          "(resolving against a stale index would mis-key takedowns)"))
    val width = indexWidth(s, indexRoot)
    // probe ids are hashed into buckets with Spark's TYPE-SENSITIVE
    // hash(): a probe frame whose doc_id type differs from the index's
    // stored type (int vs bigint) would hash into a DIFFERENT bucket —
    // the equi-join below coerces types and would never see the entry,
    // so the takedown would silently resolve nothing. Align the probe
    // type to the stored type first: identical passes through, a
    // lossless up-cast converts, anything else refuses loudly.
    val idxFrame = Snapshots.readAt(s, indexRoot,
      Snapshots.latestVersion(s, indexRoot))
    val storedDt = idxFrame.schema("doc_id").dataType
    val rawIds = ids.select(col("doc_id"))
    val probeDt = rawIds.schema("doc_id").dataType
    val typedIds =
      if (probeDt == storedDt) rawIds
      else if (org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(probeDt, storedDt))
        rawIds.select(col("doc_id").cast(storedDt).as("doc_id"))
      else
        throw graft.core.GraftAnalysisException(Seq(
          s"resolveSplits at $indexRoot: probe doc_id type " +
            s"${probeDt.sql} does not match the index's stored type " +
            s"${storedDt.sql} and cannot up-cast losslessly — the " +
            "bucket hash is type-sensitive, so a mismatched probe " +
            "would silently resolve nothing; cast the ids frame to " +
            "the corpus's doc_id type"))
    val probed = typedIds.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded collect: at most min(#ids, width) bucket names — one job,
      // no exchange (Snapshots.distinctStringsOneJob, r17)
      val bucketNames = graft.core.Labeled(s, "graft docindex resolveSplits: probed buckets") {
        Snapshots.distinctStringsOneJob(
          probed.select(bucketCol(width, col("doc_id")).as("b"))).toArray
      }
      idxFrame
        .filter(col("split").isin(bucketNames.toIndexedSeq: _*))
        .join(probed, "doc_id")
        .select(col("target_split").as("split"), col("doc_id"))
    } finally probed.unpersist(blocking = false): Unit
  }

  /** Doc_id-only takedown at index cost: resolve splits through the
    * index, then commit a split-keyed DELETION-VECTOR takedown
    * ([[Snapshots.commitRemove]] — sidecar only, no split rewrite).
    * The 100 TB replacement for commitDelta's corpus-wide-semi-join
    * fallback. Returns the new corpus version. Refresh the index
    * afterwards like after any commit.
    *
    * `requireAllFound = true` is the GDPR-pipeline safety catch on THIS
    * path: the call refuses (naming samples) unless every requested
    * doc_id resolved through the index — an id the index doesn't know
    * (already deleted, or a mis-typed probe) cannot silently no-op —
    * and the flag is also forwarded to [[Snapshots.commitRemove]], so
    * an index entry whose row vanished from the corpus refuses there
    * too. The default keeps takedown re-deliveries idempotent. */
  def removeByIds(s: SparkSession, corpusRoot: String, indexRoot: String,
      ids: DataFrame, tag: Option[String] = None,
      requireAllFound: Boolean = false): Int = {
    val resolved = resolveSplits(s, corpusRoot, indexRoot, ids)
    if (requireAllFound) {
      // bounded sample collect: only a refused takedown pays this pass
      val missing = ids.select(col("doc_id")).distinct()
        .join(resolved, Seq("doc_id"), "left_anti")
        .limit(6).collect().map(_.get(0).toString)
      if (missing.nonEmpty)
        throw graft.core.GraftAnalysisException(Seq(
          s"removeByIds at $corpusRoot (requireAllFound): doc_ids " +
            s"${missing.take(5).mkString(", ")}" +
            (if (missing.length > 5) ", …" else "") +
            " did not resolve through the index — already deleted, or " +
            "never ingested; nothing was committed"))
    }
    Snapshots.commitRemove(s, corpusRoot, resolved, tag, None,
      requireAllFound)
  }
}

package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned copy-on-write corpus store: snapshot isolation + time travel
  * for an evolving training corpus.
  *
  * [[CorpusExport.applyDelta]] merges a delta into the base IN PLACE —
  * the right call when one logical corpus is all anyone needs. But a
  * training run that starts Monday must read the SAME corpus Friday
  * (reproducibility), while curation keeps committing daily deltas. An
  * in-place store cannot give both; this store can, by never mutating a
  * written file:
  *
  *   - Each commit writes ONLY its affected split partitions into a
  *     fresh ATTEMPT-UNIQUE `root/v{N}-{attempt}/split=…/` tree —
  *     untouched splits are carried by POINTER to the version dir that
  *     last wrote them, so a daily delta touching 3 of 3,000 date-keyed
  *     splits writes 3 partitions, not the corpus.
  *   - The version FILE (`root/_versions/v{N}.list`) is the commit
  *     point, written to a temp name and atomically renamed. Readers
  *     resolve a version to concrete immutable paths; a reader at v3 is
  *     untouchable by the v4 commit racing alongside it — that is the
  *     whole point.
  *   - Concurrency control is a CLAIM FILE (`_versions/.v{N}.claim`)
  *     created with atomic exclusive semantics before the rename: two
  *     racing committers produce ONE v{N+1}, and because each attempt
  *     writes its own data dir, the loser can never touch files the
  *     winner's version file references — its dir is unreferenced debris
  *     for [[vacuum]]. A DELTA commit that loses the race AUTO-REBASES
  *     (optimistic concurrency): it re-reads the head, diffs the
  *     interleaved commits via the pointer-pruned CDC read, and retries
  *     against the new head when the doc_id sets are DISJOINT — two
  *     independent daily pipelines writing one store both land without a
  *     human in the loop; genuine overlap (both sides touched the same
  *     document) still refuses loudly, as does a `commitFull` race (a
  *     full rewrite has no defined rebase). Exclusive create is atomic
  *     on POSIX (O_EXCL) and HDFS; object stores plug their
  *     conditional-put through [[CommitPointStrategy]]
  *     ([[setCommitPointStrategy]]). The tradeoff every lock-file
  *     protocol carries: a committer that crashes BETWEEN claim and
  *     rename wedges that version number until the stale claim is
  *     removed — the refusal message names the file, and [[vacuum]]
  *     sweeps claims for already-committed versions.
  *
  * Version files are tiny driver-side artifacts (one line per split),
  * exactly like the manifest conventions of [[CorpusExport]]; everything
  * row-sized stays distributed. A long delta chain accumulates referenced
  * version dirs — `readAt` unions one scan per REFERENCED DIR, not per
  * commit — and the standing fix is the same as every LSM: periodically
  * [[commitFull]] a fresh consolidated version and vacuum dirs no live
  * version references.
  *
  * SCHEMA EVOLUTION is widen-only: a delta whose adds carry NEW columns
  * commits them (the version file records the widened schema; older dirs
  * read back with the new columns null — the parquet reader's
  * missing-column contract), while a delta that DROPS a stored column or
  * CHANGES a column's type refuses with a typed error listing every
  * drift. Removal-only deltas pass adds shaped like the stored schema
  * (`readAt(...).limit(0)` is the canonical empty frame).
  *
  * BRANCHES: [[createBranch]] forks a named version chain off any
  * committed main version with zero data copied (the branch's v1
  * pointer-carries the fork point's refs); branch commits write their
  * own `b-…` data dirs, so main and branch can never clobber each
  * other; [[mergeBranch]] lands the branch's pointer-pruned net diff as
  * one main commit, refusing when both sides touched the same doc_id
  * (force = branch wins). The experimentation loop a training-corpus
  * store needs: try a curation change on a branch, eval it, land or
  * drop it — at manifest cost, not corpus cost.
  *
  * DATA SKIPPING: `commitFull(…, statsCols)` records per-split
  * min/max/null-count cells for the named columns in the version file
  * (recomputed for every split a delta rewrites; carried VERBATIM with
  * pointer-carried splits, which is exact because their files are
  * immutable), and [[readAtWhere]] prunes provably-disjoint splits
  * driver-side before the scan — a range query over a corpus whose
  * splits correlate with the column reads only the splits that can
  * match, never the corpus. Pruning is a pure optimization: the full
  * predicate is still applied to the surviving scan, so the result is
  * exact whether or not any constraint was extractable. Z-ORDER
  * clustered commits (`commitFull(…, zorder = true)`) additionally
  * interleave ≥2 numeric stats columns into a Morton key inside each
  * split, so row-group skipping serves every tracked dimension, not
  * just a lexicographic leader.
  *
  * Completing the ops surface: CHECK CONSTRAINTS (recorded at
  * `commitFull`, enforced on every delta's adds before any write —
  * the data contract at the door), time travel by TIMESTAMP
  * ([[readAsOf]], commit stamps monotonized on read), [[consolidate]]
  * (the LSM answer as one call, carrying stats/constraints/clustering
  * forward), [[versionForTag]] (pin the version an ingest batch
  * committed, answered from the durable ledger), [[history]], and the
  * incremental consumers built on top: [[changesBetween]] (CDC),
  * [[graft.plans.IncrementalAgg]] (maintained rollups) and the
  * streaming ingest/tail in `graft.streaming.EventPipeline`.
  */
object Snapshots {

  private val VersionsDir = "_versions"
  private val TagsDir = "_tags"
  private val BranchesDir = "branches"

  /** The version-chain directory: `_versions/` for main,
    * `_versions/branches/<enc(name)>/` for a branch. Branches share the
    * root's DATA namespace (a branch v1 pointer-carries main's dirs with
    * zero copying); only the version files fork. */
  private def chainDir(root: String, branch: Option[String]): String =
    branch match {
      case None => s"$root/$VersionsDir"
      case Some(b) => s"$root/$VersionsDir/$BranchesDir/${escape(b)}"
    }

  /** One stats-column cell of a split's ref line: min/max rendered as
    * strings (None = no non-null values), plus the null count — enough
    * to decide range, IS NULL and IS NOT NULL disjointness driver-side. */
  private final case class StatCell(min: Option[String], max: Option[String],
      nulls: Long)

  /** `dvDirs`/`dvRows`: DELETION VECTORS — tombstone sidecars from
    * [[commitRemove]] that [[readRefs]] anti-joins at read time
    * (merge-on-read). `nRows` stays the PHYSICAL row count of the
    * split's files (the immutable-manifest invariant); the effective
    * count is `nRows - dvRows`. A rewrite of the split (any
    * [[commitDelta]] touching it, or [[consolidate]]) folds the
    * tombstones in and clears both fields. */
  private final case class SplitRef(split: String, dir: String, nRows: Long,
      stats: IndexedSeq[StatCell] = IndexedSeq.empty,
      dvDirs: IndexedSeq[String] = IndexedSeq.empty, dvRows: Long = 0L) {
    def effectiveRows: Long = nRows - dvRows
  }

  /** ATTEMPT-UNIQUE data dir for a commit targeting version `v`. Racing
    * committers for the same v therefore write DISJOINT trees — if they
    * shared `v{N}/`, the rename-loser's overwrite could destroy files
    * the winner's just-committed version file already references. One
    * wins the claim; the loser's dir becomes unreferenced debris for
    * [[vacuum]]. */
  private def attemptDir(v: Int, branch: Option[String] = None): String = {
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    branch match {
      // branch data dirs carry a `b-` prefix: main's vacuum neither
      // deletes them (dirVersion = None) nor confuses their chain-local
      // version numbers with main's; dropBranch sweeps them by prefix
      case Some(b) => s"b-${escape(b)}-v$v-$suffix"
      case None => s"v$v-$suffix"
    }
  }

  /** Version number encoded in a data-dir name (`v{N}-{attempt}`), used
    * by [[vacuum]]'s newer-than-latest guard. */
  private def dirVersion(name: String): Option[Int] =
    if (!name.startsWith("v")) None
    else name.stripPrefix("v").takeWhile(_.isDigit).toIntOption

  /** Commit the FULL corpus as the next version (v1 on an empty root; a
    * consolidation commit on a live one): every split rewrites into
    * `root/v{N}/`, the new version file points only there. Returns the
    * committed version number. `df` must carry a `split` column. A full
    * rewrite has no defined rebase against an interleaved delta (it
    * replaces the corpus wholesale), so a lost claim race refuses.
    *
    * @param statsCols per-split min/max/null-count stats for these
    *   (numeric, string — binary collation only —, boolean, date or
    *   timestamp) columns. Every later [[commitDelta]] maintains them;
    *   [[readAtWhere]] uses them to skip splits. Rows are additionally
    *   clustered (`sortWithinPartitions`, no shuffle) by the stats columns
    *   inside each split, so parquet row-group min/max pushdown bites
    *   WITHIN the splits that do get read.
    * @param constraints CHECK CONSTRAINTS — boolean SQL expressions over
    *   the stored columns that every commit must satisfy (standard CHECK
    *   semantics: a row violates only when the expression is FALSE; null
    *   passes). Recorded in the version file and ENFORCED ON EVERY LATER
    *   DELTA's adds before anything is written — a violating commit
    *   refuses listing each failed constraint, its violation count and
    *   sample doc_ids. The store's data contract: bad rows are stopped at
    *   the door, not discovered by a consumer three jobs downstream.
    *   Redefine constraints with a fresh `commitFull` (a full rewrite is a
    *   new contract).
    * @param zorder Z-ORDER clustering: rows cluster inside each split by
    *   the Morton-interleaved key of the (≥2 numeric, non-floating) stats
    *   columns ([[Layout.zValue]]) instead of their lexicographic order —
    *   each parquet file/row-group covers a small HYPERCUBE in stats
    *   space, so predicates on ANY tracked dimension skip row groups
    *   within the splits that survive manifest pruning (a lexicographic
    *   sort only serves its leading column). Costs one range exchange per
    *   commit (the same shuffle [[Layout.zorderWrite]] pays); the choice
    *   is recorded in the version file and every later delta re-clusters
    *   the splits it rewrites.
    * @param bloomCols per-split BLOOM cells: for each named column (must
    *   also be a stats column; string or integral type) every split
    *   records a small bloom filter of its values in the version file, and
    *   [[readAtWhere]] consults it for EQUALITY and IN/InSet predicates —
    *   the pruning min/max ranges cannot give on a high-cardinality column
    *   whose values don't correlate with splits (a doc_id/url/hash point
    *   lookup over date-keyed splits prunes to ~the one split that holds
    *   it, at the bloom's false-positive rate). Sound by construction: a
    *   bloom can only KEEP extra splits, never drop a matching one. Sized
    *   by `spark.graft.snapshot.bloomBits` (power of two, default 2^16
    *   bits = 8 KB per split per column); deltas recompute the blooms of
    *   the splits they rewrite and carry the rest verbatim. */
  def commitFull(s: SparkSession, df: DataFrame, root: String,
      statsCols: Seq[String] = Nil, constraints: Seq[String] = Nil,
      zorder: Boolean = false, bloomCols: Seq[String] = Nil): Int = {
    validateStatsCols(root, df.schema, statsCols)
    if (zorder) validateZOrder(root, df.schema, statsCols)
    validateBloomCols(root, df.schema, statsCols, bloomCols)
    checkConstraints(root, df, constraints, "commitFull seed data")
    val contract = VersionFile(df.schema, Nil, None, statsCols.toIndexedSeq,
      constraints = constraints.toIndexedSeq, zorder = zorder,
      bloomCols = bloomCols.toIndexedSeq)
    val v = latestVersion(s, root) + 1
    val dir = attemptDir(v)
    val toWrite =
      if (statsCols.isEmpty) distribute(df)
      else cluster(df, statsCols, zorder)
    // an EMPTY corpus writes no part files and records v1 with no refs
    val (refs, blooms) = writeSplits(s, toWrite, root, dir, statsCols,
      bloomCols, s"graft commitFull v$v", s"write $dir")
    publishOrRefuse(s, root, v,
      contract.copy(refs = refs.values.toIndexedSeq, blooms = blooms), "commitFull")
    v
  }

  /** Probe count for the split blooms (fixed so stored and probe sides
    * always agree; the bit width rides the stored array's length). */
  private val BloomK = 6

  private def bloomBits(s: SparkSession): Int =
    s.conf.getOption("spark.graft.snapshot.bloomBits")
      .map(_.toInt).getOrElse(1 << 16)

  /** Canonical per-value fingerprint for the split blooms: FNV-1a of the
    * value CAST TO STRING (Spark's cast, codegen'd on the build side;
    * [[bloomRender]] reproduces the identical rendering driver-side for
    * probe literals). Nulls contribute one fixed stray bit — sound, a
    * bloom only ever over-approximates. */
  private def bloomFpCol(s: SparkSession, c: String): org.apache.spark.sql.Column = {
    graft.functions.GraftFunctions.register(s) // idempotent
    coalesce(
      graft.functions.GraftFunctions.fingerprint64(col(c).cast("string")),
      lit(0L))
  }

  private def validateBloomCols(root: String,
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], bloomCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val errs = bloomCols.flatMap { c =>
      if (!statsCols.contains(c))
        Some(s"bloom column '$c' must also be a stats column")
      else schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(StringType) | Some(ByteType) | Some(ShortType) |
             Some(IntegerType) | Some(LongType) => None
        case Some(dt) => Some(s"bloom column '$c' has type ${dt.sql} — " +
          "split blooms support string and integral columns (the " +
          "canonical string rendering must match Spark's cast exactly)")
        case None => None // already reported by validateStatsCols
      }
    }
    if (errs.nonEmpty)
      throw graft.core.GraftAnalysisException(
        s"invalid bloomCols for the snapshot store at $root" +: errs.toIndexedSeq)
  }

  /** Output distribution of split-partitioned commit writes — see
    * [[graft.core.Distribute]] (r16, guide §2.4/§6): keying the exchange
    * by split bounds a commit's file count at ~#splits instead of
    * tasks × splits. Costs one exchange of the COMMIT DELTA (never the
    * corpus). The z-order lane is untouched: its range exchange already
    * distributes by (split, zval).
    *
    * Scope default `hash` (r17, measured): under `rebalance`, AQE
    * coalesces a small delta's exchange to ONE task which then creates
    * every split dir's file serially (~1 s/commit on the 64-bucket doc
    * index — AQE's byte-based sizing cannot see per-file creation cost);
    * pinned-width hash keeps ≤ 1 file per split AND parallel writers.
    * Interleaved 3-arm pinned A/B (r17): lifecycle family Σ min 26.8 s
    * (hash) vs 30.3 (rebalance) vs 32.5 (none); docindex 6.44 / 7.93 /
    * 9.25. At scale this is Iceberg's write.distribution-mode=hash shape
    * with width = the deployment's shuffle-partitions knob; a deployment
    * with giant-split skew sets `spark.graft.write.distribution.store=
    * rebalance` to let AQE fan a hot split across writers. */
  private def distribute(df: DataFrame): DataFrame =
    graft.core.Distribute.forWrite(df, "split",
      scope = "store", scopeDefault = "hash")

  /** In-split clustering of a frame about to be written `partitionBy
    * ("split")`: lexicographic by the stats columns (rides the writer's
    * own per-task ordering after [[distribute]]'s rebalance exchange),
    * or Morton z-order (one range exchange so files cover disjoint
    * z-intervals, then an in-partition sort). An empty frame
    * short-circuits: [[Layout.dimRanges]] has no bounds to quantize
    * against, and there is nothing to cluster. */
  private def cluster(df: DataFrame, statsCols: Seq[String],
      zorder: Boolean): DataFrame =
    if (!zorder) distribute(df)
      .sortWithinPartitions(("split" +: statsCols).map(col): _*)
    else if (df.isEmpty) df
    else {
      val ranges = Layout.dimRanges(df, statsCols)
      // EXPLICIT partition count (the session's tuned shuffle width):
      // an unsized range repartition is fair game for AQE coalescing,
      // which would collapse the z-intervals into one file and silently
      // lose every row-group bound this clustering exists for
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      df.withColumn("__zval", Layout.zValue(statsCols, ranges))
        .repartitionByRange(n, col("split"), col("__zval"))
        .sortWithinPartitions(col("split"), col("__zval"))
        .drop("__zval")
    }

  /** Z-order needs ≥ 2 numeric stats columns, none of them floating:
    * [[Layout.zValue]] quantizes each one with `div`, which Spark only
    * takes over integral and decimal operands. */
  private def validateZOrder(root: String,
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val bad = statsCols.flatMap { c =>
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(dt @ (FloatType | DoubleType)) =>
          Some(s"stats column '$c' has type ${dt.sql} — a floating column " +
            "cannot be quantized by integer division; cast it to an integral type")
        case Some(_: NumericType) => None
        case _ => Some(s"stats column '$c' is not numeric")
      }
    }
    if (statsCols.size < 2 || bad.nonEmpty) {
      val header = s"z-ordered commits at $root need >= 2 NUMERIC stats " +
        "columns (the Morton key interleaves their quantized bits)"
      throw graft.core.GraftAnalysisException(header +: bad.toIndexedSeq)
    }
  }

  /** Enforce CHECK constraints on `rows` in ONE aggregation pass
    * (per-constraint violation counts via conditional sums); only a
    * violated commit pays the second pass that fetches sample doc_ids
    * for the refusal message. */
  private def checkConstraints(root: String, rows: DataFrame,
      constraints: Seq[String], what: String): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val counts =
      try {
        val aggs = constraints.zipWithIndex.map { case (c, i) =>
          sum(when(!sqlExpr(c), 1L).otherwise(0L)).as(s"__v$i")
        }
        graft.core.Labeled(rows.sparkSession, s"graft CHECK constraints: $what") {
          rows.agg(aggs.head, aggs.drop(1): _*).collect()(0)
        }
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw graft.core.GraftAnalysisException(Seq(
            s"invalid CHECK constraint on the store at $root " +
              s"(must be a boolean SQL expression over stored columns): " +
              e.getMessage))
      }
    val errs = constraints.zipWithIndex.flatMap { case (c, i) =>
      val n = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (n == 0L) None
      else {
        val sample = rows.filter(!sqlExpr(c)).select(col("doc_id"))
          .limit(5).collect().map(_.get(0)).mkString(", ")
        Some(s"CHECK ($c) violated by $n row(s), e.g. doc_id $sample")
      }
    }
    if (errs.nonEmpty) {
      val header = s"$what violates the store's constraints at $root — " +
        "nothing was written"
      throw graft.core.GraftAnalysisException(header +: errs.toIndexedSeq)
    }
  }

  /** Stats cells for STRING columns are TRUNCATED to this many code
    * points (knob `spark.graft.snapshot.statsMaxStringLen`, default 32)
    * — a stats column over long strings (URL, text prefix) must not
    * embed full values in every version file: at 10^5 splits that is
    * version-file bloat plus driver parse cost on every read. Sound by
    * construction: the stored min is a PREFIX of the true min (≤ it in
    * UTF-8 order), the stored max is the truncated prefix with its
    * rightmost incrementable code point bumped (> every string with
    * that prefix, [[bumpPrefix]]); pruning with a widened range can
    * only keep extra splits, never drop a matching one. */
  private def statsMaxStringLen(s: SparkSession): Int =
    math.max(1, s.conf.getOption("spark.graft.snapshot.statsMaxStringLen")
      .map(_.toInt).getOrElse(32))

  private def codePoints(v: String): Int = v.codePointCount(0, v.length)

  private def truncMin(v: String, cap: Int): String =
    if (codePoints(v) <= cap) v
    else v.substring(0, v.offsetByCodePoints(0, cap))

  private def truncMax(v: String, cap: Int): Option[String] =
    if (codePoints(v) <= cap) Some(v)
    else bumpPrefix(v.substring(0, v.offsetByCodePoints(0, cap)))

  /** The smallest STRING strictly greater than every string with this
    * prefix, by incrementing the rightmost incrementable code point
    * (skipping the surrogate gap: U+D7FF bumps to U+E000) and
    * truncating after it — the String-domain sibling of
    * [[prefixUpperBound]], constrained to valid code points because the
    * result must round-trip the version file as text. Each candidate is
    * VERIFIED to exceed the prefix in UTF-8 byte order (a malformed
    * input — lone surrogates — could otherwise produce an unsound
    * bound); no verifiable candidate → None, and the cell records no
    * upper bound (weaker pruning, never wrong). */
  private def bumpPrefix(p: String): Option[String] = {
    var idx = p.length
    while (idx > 0) {
      val cp = p.codePointBefore(idx)
      val start = idx - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        val next = if (cp == 0xD7FF) 0xE000 else cp + 1
        if (!(next >= 0xD800 && next <= 0xDFFF)) {
          val candidate = p.substring(0, start) +
            new String(Character.toChars(next))
          if (Utf8Key.of(candidate).compareTo(Utf8Key.of(p)) > 0)
            return Some(candidate)
        }
      }
      idx = start
    }
    None
  }

  /** Write `frame` into `root/dir` (`partitionBy("split")` unless
    * `partitioned` is false, as for a deletion-vector sidecar) and return
    * the per-split refs (row count + stats cells) and bloom cells of what
    * was written, keyed by split.
    *
    * The metadata comes from the WRITE JOB itself: one typed per-split
    * aggregator ([[SplitMetaAgg]]) is `observe`d on top of the frame, so
    * it runs in the write's result stage, above its last exchange. Result
    * tasks' accumulator updates are applied once per partition, so the
    * counts are exact, and the commit pays no second query over its own
    * files. The observation completes through a query-execution listener,
    * i.e. asynchronously: the commit waits a fixed bound for it, and
    * when it does not arrive falls back to reading the written files
    * back ([[collectRefsAndBlooms]]). Both paths give the same refs,
    * stats cells and bloom bytes, and both refuse NULL keys before
    * anything is published. Driver payload: one buffer per split, the
    * same bound as the read-back's one row per split (hash distribution
    * puts each split in one task). */
  private def writeSplits(s: SparkSession, frame: DataFrame, root: String,
      dir: String, statsCols: Seq[String], bloomCols: Seq[String],
      phase: String, write: String, partitioned: Boolean = true)
      : (Map[String, SplitRef], Map[(String, String), Array[Byte]]) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = frame.observe(obs,
      splitMetaCol(s, frame.schema, statsCols, bloomCols).as("meta"))
    graft.core.Labeled(s, s"$phase: $write") {
      val w = observed.write.mode("overwrite")
      (if (partitioned) w.partitionBy("split") else w).parquet(s"$root/$dir")
    }
    awaitSplitMeta(obs).filterNot(_.isNullAt(0)) match {
      case Some(row) =>
        observedRefs(s, row.getAs[Array[Byte]](0), frame.schema, dir,
          statsCols, bloomCols, partitioned)
      case None =>
        // explicit schema: an EMPTY write leaves no part files, and an
        // inference-based read would refuse instead of reading zero rows
        val written = s.read.schema(frame.schema)
          .option("basePath", s"$root/$dir").parquet(s"$root/$dir")
        val what = if (partitioned) "stats+bloom" else "DV count"
        graft.core.Labeled(s, s"$phase: $what read-back") {
          collectRefsAndBlooms(s, written, dir, statsCols, bloomCols)
        }
    }
  }

  /** How long a commit waits for its write's observed metadata before it
    * reads the written files back instead. Delivery normally takes well
    * under a millisecond after the write returns. */
  private val SplitMetaWait = scala.concurrent.duration.Duration(10, "s")

  /** The observed metadata row of a finished write, or None when it did
    * not arrive in time. A seam for tests, which replace it to force the
    * read-back path. */
  @volatile private[plans] var awaitSplitMeta
      : org.apache.spark.sql.Observation => Option[org.apache.spark.sql.Row] =
    obs =>
      try Some(scala.concurrent.Await.result(obs.future, SplitMetaWait))
      catch { case _: java.util.concurrent.TimeoutException => None }

  /** The one aggregate [[writeSplits]] observes: [[SplitMetaAgg]] over
    * (split, doc_id IS NOT NULL, one order key per stats column, one
    * fingerprint per bloom column). The keys keep Spark's own order:
    * strings as the UTF-8 bytes of their `cap + 1`-code-point prefix
    * (the read-back's `substring`, compared byte-wise like Spark's binary
    * collation), dates as epoch days and timestamps as epoch micros (the
    * internal values, so no calendar conversion runs per row); other
    * types compare as themselves. Blooms hash the read-back's exact
    * fingerprint column. */
  private def splitMetaCol(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, statsCols: Seq[String],
      bloomCols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val cap = statsMaxStringLen(s)
    val keys = statsCols.map { c =>
      schema(c).dataType match {
        case StringType =>
          (substring(col(c), 1, cap + 1).cast(BinaryType), BinaryType, SplitMetaAgg.Bytes)
        case DateType => (unix_date(col(c)), IntegerType, SplitMetaAgg.Integral)
        case TimestampType => (unix_micros(col(c)), LongType, SplitMetaAgg.Integral)
        case dt @ (ByteType | ShortType | IntegerType | LongType) =>
          (col(c), dt, SplitMetaAgg.Integral)
        case dt @ (FloatType | DoubleType) => (col(c), dt, SplitMetaAgg.Floating)
        case dt => (col(c), dt, SplitMetaAgg.Ordered)
      }
    }
    val inSchema = StructType(
      Seq(StructField("split", StringType), StructField("has_doc_id", BooleanType)) ++
        keys.zipWithIndex.map { case (k, i) => StructField(s"k$i", k._2) } ++
        bloomCols.indices.map(i => StructField(s"f$i", LongType)))
    val agg = new SplitMetaAgg(keys.map(_._3).toArray, bloomCols.size,
      bloomBits(s) >>> 3, BloomK)
    udaf(agg, org.apache.spark.sql.Encoders.row(inSchema))(
      (Seq(col("split"), col("doc_id").isNotNull) ++ keys.map(_._1) ++
        bloomCols.map(bloomFpCol(s, _))): _*)
  }

  /** The refs and bloom cells of an observed [[SplitMetaAgg]] result,
    * rendered exactly as [[collectRefsAndBlooms]] renders the read-back:
    * order keys turn back into the values a `collect()` of the written
    * files would give (under this session's datetime API setting), then
    * through [[renderStat]] and the string truncation. The writer's own
    * key mapping is applied first: `partitionBy` writes an empty split,
    * and one literally named like the Hive default partition, into the
    * default-partition dir, which reads back NULL — so those refuse
    * exactly as a NULL split does. */
  private def observedRefs(s: SparkSession, bytes: Array[Byte],
      schema: org.apache.spark.sql.types.StructType, dir: String,
      statsCols: Seq[String], bloomCols: Seq[String], partitioned: Boolean)
      : (Map[String, SplitRef], Map[(String, String), Array[Byte]]) = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types._
    val metas = SplitMetaAgg.decode(bytes)
    val readsBackNull = (sp: String) => sp == null || (partitioned &&
      (sp.isEmpty || sp == org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
    if (metas.exists { case (sp, m) => readsBackNull(sp) || m.rows != m.docIds })
      throw nullKeyRefusal()
    val cap = statsMaxStringLen(s)
    val java8 = s.sessionState.conf.datetimeJava8ApiEnabled
    def value(c: String, k: AnyRef): Any = (schema(c).dataType, k) match {
      case (StringType, b: Array[Byte]) =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case (DateType, d: Integer) =>
        if (java8) DateTimeUtils.daysToLocalDate(d) else DateTimeUtils.toJavaDate(d)
      case (TimestampType, us: java.lang.Long) =>
        if (java8) DateTimeUtils.microsToInstant(us)
        else DateTimeUtils.toJavaTimestamp(us)
      case (_, other) => other
    }
    val refs = metas.map { case (sp, m) =>
      val cells = statsCols.indices.map { i =>
        val c = statsCols(i)
        val mn0 = Option(m.mins(i)).map(k => renderStat(value(c, k)))
        val mx0 = Option(m.maxs(i)).map(k => renderStat(value(c, k)))
        val (mn, mx) =
          if (schema(c).dataType == StringType)
            (mn0.map(truncMin(_, cap)), mx0.flatMap(truncMax(_, cap)))
          else (mn0, mx0)
        StatCell(mn, mx, m.rows - m.nonNull(i))
      }
      sp -> SplitRef(sp, dir, m.rows, cells)
    }.toMap
    val blooms = metas.toSeq.flatMap { case (sp, m) =>
      bloomCols.zipWithIndex.map { case (c, i) => (sp, c) -> m.blooms(i) }
    }.toMap
    (refs, blooms)
  }

  /** The refusal of rows with no (split, doc_id) key: a NULL doc_id can
    * never be tombstoned (DV joins never match null) and a NULL split has
    * no partition home, so every commit door refuses them PRE-PUBLISH —
    * the attempt dir stays invisible debris for vacuum. */
  private def nullKeyRefusal(): graft.core.GraftAnalysisException =
    graft.core.GraftAnalysisException(Seq(
      s"commit refused: rows carry a NULL `split` or `doc_id` — " +
        "store rows are (split, doc_id)-keyed; an input frame " +
        "missing a column gets it NULL-filled by SQL by-name " +
        "resolution, so key every row explicitly (nothing was " +
        "published; the attempt dir is debris vacuum sweeps)"))

  /** The FALLBACK of [[writeSplits]] when a write's observed metadata
    * does not arrive: per-split refs (row count + stats cells) AND bloom
    * cells read back from the freshly-written files, keyed by split —
    * ONE aggregation pass (stats and blooms group by the same key over
    * the same files). Bounded driver collect — one row per split
    * partition (the applyDelta bound). String columns pre-truncate
    * INSIDE the aggregation (`substring` is monotone, so min/max of
    * truncations = truncation of min/max) — the partial aggregates never
    * carry more than cap+1 code points per value, whatever the stored
    * strings' size. */
  private def collectRefsAndBlooms(s: SparkSession, written: DataFrame,
      dir: String, statsCols: Seq[String], bloomCols: Seq[String])
      : (Map[String, SplitRef], Map[(String, String), Array[Byte]]) = {
    val cap = statsMaxStringLen(written.sparkSession)
    val schema = written.schema
    def isStr(c: String): Boolean =
      schema(c).dataType == org.apache.spark.sql.types.StringType
    def statExpr(c: String): org.apache.spark.sql.Column =
      if (isStr(c)) substring(col(c), 1, cap + 1) else col(c)
    val bits = bloomBits(s)
    // doc_id nullability rides the SAME aggregate as the stats (zero
    // extra jobs; see nullKeyRefusal)
    val aggs = Seq(count(lit(1)).as("n"),
      count(col("doc_id")).as("n_docid")) ++ statsCols.flatMap(c =>
      Seq(min(statExpr(c)), max(statExpr(c)), count(col(c)))) ++
      bloomCols.map(c => graft.functions.Aggregators
        .bloomBuildCol(bloomFpCol(s, c), bits, BloomK).as(s"__bf_$c"))
    val bloomBase = 3 + statsCols.size * 3
    val rows = written.groupBy(col("split")).agg(aggs.head, aggs.drop(1): _*)
      .collect()
    val refs = rows.map { r =>
      val n = r.getLong(1)
      if (r.isNullAt(0) || n != r.getLong(2)) throw nullKeyRefusal()
      val cells = statsCols.indices.map { i =>
        val base = 3 + i * 3
        val mn0 = Option(r.get(base)).map(renderStat)
        val mx0 = Option(r.get(base + 1)).map(renderStat)
        val (mn, mx) =
          if (isStr(statsCols(i)))
            (mn0.map(truncMin(_, cap)), mx0.flatMap(truncMax(_, cap)))
          else (mn0, mx0)
        StatCell(mn, mx, n - r.getLong(base + 2))
      }.toIndexedSeq
      r.getString(0) -> SplitRef(r.getString(0), dir, n, cells)
    }.toMap
    val blooms = rows.flatMap { r =>
      bloomCols.zipWithIndex.map { case (c, i) =>
        (r.getString(0), c) -> r.getAs[Array[Byte]](bloomBase + i)
      }
    }.toMap
    (refs, blooms)
  }

  /** Stats values round-trip the version file as strings; timestamps
    * normalize through Instant (ISO-8601 parses back exactly), dates and
    * everything else via toString (ISO dates compare correctly as
    * strings). */
  private def renderStat(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case other => other.toString
  }

  private def validateStatsCols(root: String,
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val errs = statsCols.flatMap { c =>
      schema.fields.find(_.name == c) match {
        case None => Some(s"stats column '$c' is not in the schema")
        case Some(f) => f.dataType match {
          case _: NumericType | BooleanType | DateType |
               TimestampType | TimestampNTZType => None
          case st: StringType if st == StringType => None
          case dt => Some(s"stats column '$c' has type ${dt.sql} — split " +
            "stats support numeric, binary-collation string, boolean, " +
            "date and timestamp columns")
        }
      }
    }
    if (errs.nonEmpty)
      throw graft.core.GraftAnalysisException(
        s"invalid statsCols for the snapshot store at $root" +: errs.toIndexedSeq)
  }

  /** Commit a DELTA as the next version: `adds` are new/updated documents
    * (an updated doc_id replaces its old row — the [[CorpusExport]] delta
    * contract), `removedIds` are takedowns. Only the split partitions
    * holding adds or removals are rewritten, into this attempt's own dir;
    * every other split keeps its existing pointer. The new content of an
    * affected split is computed against the CURRENT latest version —
    * immutable inputs, so the rewrite itself is replayable until the
    * version-file rename lands. Returns the new version number.
    *
    * TAKEDOWN DISCOVERY: when `removedIds` carries a `split` column
    * alongside `doc_id`, the affected splits are read straight off the
    * delta — the commit's IO is bounded by the splits it touches, never
    * the corpus (the 100 TB shape; SnapshotsSpec pins it by corrupting an
    * untouched split's files and committing anyway). The contract: each
    * `(split, doc_id)` names the split the doc CURRENTLY lives in, and
    * updated docs stay in their split (an update that moves a doc across
    * splits must list its old `(split, doc_id)` as a removal). A
    * doc_id-only `removedIds` falls back to locating victims with a
    * corpus-wide semi-join — correct, but a full-corpus scan per commit;
    * key your takedowns when the corpus is large.
    *
    * @param tag an IDEMPOTENCE TAG — the at-least-once glue: a
    *   `foreachBatch` ingest stream commits each micro-batch with
    *   `tag = Some(s"b$batchId")`, and a redelivered batch finds its tag
    *   already recorded and returns THAT version instead of committing a
    *   duplicate (the [[graft.sources.Sources.commitBatchJdbc]] ledger
    *   discipline). Tags live in a DURABLE LEDGER (`_versions/_tags/`, one
    *   tiny marker file per tag) that [[vacuum]] never deletes — a batch
    *   redelivered after its version was vacuumed (stream down across a
    *   retention sweep) still finds its tag and is still skipped, though
    *   the returned version number may no longer be readable. The check
    *   is O(1) per commit: one marker lookup, after a once-per-JVM repair
    *   scan that backfills markers for any version whose committer crashed
    *   between its rename and its marker write.
    * @param branch commit against a BRANCH chain (see [[createBranch]];
    *   None = main). Branch commits write their own `b-…` data dirs and
    *   never touch main's files or version numbering. Idempotence tags
    *   are main-only (the streaming ingest path targets main); a tagged
    *   branch commit refuses. */
  def commitDelta(s: SparkSession, root: String,
      adds: DataFrame, removedIds: DataFrame, tag: Option[String] = None,
      branch: Option[String] = None): Int =
    commitDeltaChain(s, root, adds, removedIds, tag, branch)

  /** Bounded optimistic-concurrency retries for a claim-race loser: a
    * DISJOINT concurrent delta rebases onto the interleaved head and
    * commits without any human in the loop; genuine doc_id overlap (or
    * pathological contention past this bound) still refuses loudly.
    * The default (5) suits 2–3 routinely-concurrent writers; a
    * deployment that fans more committers at one store raises
    * `spark.graft.snapshot.maxRebaseAttempts` to ≥ its writer count
    * (worst case every rival lands once before this one does). */
  private def maxRebaseAttempts(s: SparkSession): Int =
    s.conf.getOption("spark.graft.snapshot.maxRebaseAttempts")
      .map(_.toInt).getOrElse(5)

  /** MERGE-ON-READ takedown: commit a removal-only delta as a DELETION
    * VECTOR — a tombstone sidecar of `(split, doc_id)` — instead of
    * rewriting the affected splits. A copy-on-write removal pays a full
    * rewrite of every split it touches: with date-keyed splits at
    * 100 TB, one GDPR delete rewrites a whole day's partition. This
    * commit writes ONLY the sidecar (rows = the takedowns, not the
    * split) plus the version file; [[readAt]] / [[readAtWhere]] /
    * [[changesBetween]] anti-join the vector at read time, and the
    * tombstones FOLD IN at the next rewrite of the split — any
    * [[commitDelta]] touching it, or [[consolidate]] (the
    * compaction/GDPR-erasure point: until then the removed rows' bytes
    * remain on disk, invisible to every reader).
    *
    * Removals must be split-keyed (`split`, `doc_id` — the same
    * contract as [[commitDelta]]'s fast path); only doc_ids actually
    * present in the CURRENT effective view tombstone (counts stay
    * exact, re-deleting is a no-op). Tags and branches behave exactly
    * as on [[commitDelta]]; a lost claim race auto-rebases. Returns the
    * new version.
    *
    * @param requireAllFound the commit REFUSES (naming samples) unless
    *   every requested `(split, doc_id)` matched a live row — the
    *   takedown-pipeline safety catch. The default treats an unmatched
    *   request as the already-deleted no-op (idempotent re-deliveries); a
    *   FIRST-delivery GDPR pipeline should require all found, because a
    *   mis-keyed split makes a silent no-op indistinguishable from a
    *   completed takedown. */
  def commitRemove(s: SparkSession, root: String,
      removedIds: DataFrame, tag: Option[String] = None,
      branch: Option[String] = None, requireAllFound: Boolean = false): Int = {
    if (!removedIds.columns.contains("split") ||
        !removedIds.columns.contains("doc_id"))
      throw graft.core.GraftAnalysisException(Seq(
        s"commitRemove at $root needs SPLIT-KEYED removals (split, " +
          "doc_id) — the deletion vector is applied per split; use " +
          "commitDelta for doc_id-only takedowns (it locates victims " +
          "with a corpus-wide semi-join and rewrites their splits)"))
    val victimsP = removedIds.select(col("split"), col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      commitWithRebase(s, root, tag, branch,
        victimsP.select(col("doc_id")))(base =>
        commitRemoveAttempt(s, root, victimsP, tag, branch, base,
          requireAllFound))
    finally victimsP.unpersist(blocking = false): Unit
  }

  private def commitRemoveAttempt(s: SparkSession, root: String,
      victims: DataFrame, tag: Option[String], branch: Option[String],
      base: Int, requireAllFound: Boolean = false): Int = {
    val vfBase = readVersionFile(s, root, base, branch)
    val v = base + 1
    val dvDir = attemptDir(v, branch) + "-dv"
    // bounded collect: one row per affected split (the takedown's span)
    val affectedNames =
      graft.core.Labeled(s, s"graft commitRemove v$v: affected splits") {
        distinctStringsOneJob(victims.select(col("split")))
      }
    val affectedRefs = vfBase.refs.filter(r =>
      affectedNames.contains(r.split) && r.effectiveRows > 0)
    // CONFIRMED victims only: rows present in the current effective view
    // (readRefs already anti-joins prior vectors, so a re-delete can
    // never double-count) — IO bounded by the affected splits, column-
    // pruned to the join keys
    val confirmed = readRefs(s, root, vfBase.schema, affectedRefs)
      .join(victims, Seq("split", "doc_id"), "left_semi")
      .select(col("split"), col("doc_id"))
    // exact per-split tombstone counts (the sidecar holds one row per
    // matched PHYSICAL row: duplicated (split, doc_id) corpus rows all
    // tombstone, and dvRows must count them all), observed in the
    // sidecar's own write job
    val counts: Map[String, Long] =
      if (!requireAllFound)
        writeSplits(s, confirmed, root, dvDir, Nil, Nil,
          s"graft commitRemove v$v", "write DV sidecar", partitioned = false)
          ._1.view.mapValues(_.nRows).toMap
      else requireAllFoundCounts(s, root, victims, confirmed, dvDir, v)
    val newRefs = vfBase.refs.map { r =>
      counts.get(r.split) match {
        case Some(c) if c > 0 =>
          r.copy(dvDirs = r.dvDirs :+ dvDir, dvRows = r.dvRows + c)
        case _ => r
      }
    }
    // stats AND blooms carry verbatim: both only ever over-approximate
    // the post-takedown content — sound for pruning by construction
    writeVersionFile(s, root, v,
      vfBase.successor.copy(refs = newRefs, tag = tag), branch)
    v
  }

  /** [[commitRemove]]'s `requireAllFound` sidecar write: it needs the
    * DISTINCT doc_ids per split besides the row counts, which the written
    * sidecar is read back for. Requested and found keys are compared
    * DISTINCT — Σ per-split distinct doc_ids, since split is in the group
    * key — not as raw rows, which could mask an unmatched request behind
    * a duplicate or spuriously refuse a fully-matched one. */
  private def requireAllFoundCounts(s: SparkSession, root: String,
      victims: DataFrame, confirmed: DataFrame, dvDir: String,
      v: Int): Map[String, Long] = {
    graft.core.Labeled(s, s"graft commitRemove v$v: write DV sidecar") {
      confirmed.write.mode("overwrite").parquet(s"$root/$dvDir")
    }
    val dvSchema = confirmed.schema
    val countRows =
      graft.core.Labeled(s, s"graft commitRemove v$v: DV count read-back") {
        s.read.schema(dvSchema).parquet(s"$root/$dvDir")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("c"), count_distinct(col("doc_id")).as("d"))
          .collect()
      }
    val requested = victims.count() // victims are distinct by construction
    val found = countRows.map(_.getLong(2)).sum
    if (found != requested) {
      // the unfulfilled requests, for the refusal — bounded sample
      // (the written sidecar is unreferenced debris; vacuum sweeps it)
      val missing = victims
        .join(s.read.schema(dvSchema).parquet(s"$root/$dvDir"),
          Seq("split", "doc_id"), "left_anti")
        .limit(6).collect()
        .map(r => s"(${r.get(0)}, ${r.get(1)})")
      throw graft.core.GraftAnalysisException(Seq(
        s"commitRemove at $root (requireAllFound): only $found of " +
          s"$requested requested takedowns matched a live row — " +
          s"unmatched e.g. ${missing.take(5).mkString(", ")}" +
          (if (missing.length > 5) ", …" else "") +
          "; a mis-keyed split or an already-deleted doc — nothing " +
          "was committed"))
    }
    countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The delta commit behind [[commitDelta]], [[mergeBranch]]'s landing
    * commit and [[mergeInto]]: persists the frames every attempt reads and
    * runs [[commitDeltaAttempt]] through [[commitWithRebase]]. `pinned`
    * is the head a caller derived the adds and removals from; see
    * [[commitWithRebase]]. */
  private def commitDeltaChain(s: SparkSession, root: String,
      adds: DataFrame, removedIds: DataFrame, tag: Option[String],
      branch: Option[String], pinned: Option[Int] = None): Int = {
    // removedIds persists alongside adds (r17): the attempt's affected-
    // split collect and gone both evaluate it — for a CDC-derived
    // delta (DocIndex.refresh) each evaluation re-runs the pointer-pruned
    // diff scan, so the cache halves that read. Caller-owned-cache guard
    // (the Channels.multiSink rule): a frame the caller already persisted
    // is used as-is — re-persisting is a no-op whose paired unpersist
    // would destroy the CALLER's cache.
    val removedOwned = removedIds.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val removedIdsP =
      if (removedOwned) removedIds
      else removedIds
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no distinct: every use of gone (the rewrite's anti-join, the
    // victim-split collect, the rebase clash sample) is duplicate-
    // insensitive, and a distinct here cost a shuffle that AQE elided or
    // kept depending on which cached input finished first — a commit's
    // job count varied from run to run
    val goneP = removedIdsP.select(col("doc_id"))
      .unionByName(adds.select(col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the commit runs several actions over the adds (constraint check,
    // affected-split collect, rewrite) — in a foreachBatch they are the
    // micro-batch source, which must not be recomputed per action
    val addsP = adds
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      commitWithRebase(s, root, tag, branch, goneP, pinned)(base =>
        commitDeltaAttempt(s, root, addsP, removedIdsP, goneP, tag, branch, base))
    finally {
      goneP.unpersist(blocking = false)
      if (!removedOwned) removedIdsP.unpersist(blocking = false)
      addsP.unpersist(blocking = false): Unit
    }
  }

  /** The optimistic-concurrency driver shared by every delta-shaped
    * commit ([[commitDelta]], [[commitRemove]], [[mergeBranch]]'s
    * landing commit, [[mergeInto]]): refuse a tagged branch commit, skip
    * a redelivered tag, run `attemptFn` against the head and ledger its
    * tag. On a lost claim race, re-read the head, diff the interleaved
    * commits (pointer-pruned CDC), refuse on genuine doc_id overlap with
    * `gone` (this commit's touched doc_ids, persisted by the caller), and
    * otherwise retry against the new head — bounded attempts.
    *
    * A `pinned` commit was DERIVED from that head ([[mergeInto]]'s
    * classification), so it never rebases: any interleaved commit, seen
    * as a moved head before the attempt or as a lost claim during it,
    * surfaces as [[CommitRaceLost]] for the caller to re-derive against
    * the new head — a silent rebase would land a stale classification. */
  private def commitWithRebase(s: SparkSession, root: String,
      tag: Option[String], branch: Option[String], gone: DataFrame,
      pinned: Option[Int] = None)(attemptFn: Int => Int): Int = {
    if (tag.nonEmpty && branch.nonEmpty)
      throw graft.core.GraftAnalysisException(Seq(
        s"tagged commits are main-chain only (the durable tag ledger at " +
          s"$root/$VersionsDir/$TagsDir is not branch-scoped) — commit to " +
          s"branch '${branch.get}' untagged, or ingest into main"))
    var base = pinned.getOrElse(latestVersion(s, root, branch))
    require(base >= 1, branch match {
      case None => s"delta commit on an empty store at $root — commitFull first"
      case Some(b) => s"no branch '$b' at $root — createBranch first"
    })
    var attempt = 0
    while (true) {
      // the tag redelivery check re-runs PER ATTEMPT: the same batch
      // may have been committed by another driver while we rebased
      tag.foreach { t =>
        ensureTagLedger(s, root)
        readTagMarker(s, root, t).foreach(v => return v)
      }
      try {
        if (pinned.nonEmpty && latestVersion(s, root, branch) != base)
          throw CommitRaceLost(root, base + 1)
        val v = attemptFn(base)
        tag.foreach { t => writeTagMarker(s, root, t, v); bumpLedger(s, root, v) }
        return v
      } catch {
        case CommitRaceLost(_, lostV) if pinned.isEmpty =>
          attempt += 1
          val newHead = latestVersion(s, root, branch)
          if (newHead < lostV)
            // claim lost but no NEWER version landed: the claim is an
            // orphan of a crashed committer — surface the operator
            // guidance, don't spin on it
            throw graft.core.GraftAnalysisException(Seq(
              s"commit of v$lostV at $root lost its claim race but no " +
                s"newer version is visible — an orphaned claim from a " +
                "crashed committer is likely wedging the store; see the " +
                "claim-file refusal for recovery steps"))
          // OPTIMISTIC REBASE: the interleaved commits' row diff is
          // exactly changesBetween(base, newHead) — pointer-pruned, so
          // this costs what the interleaved deltas touched. Disjoint
          // doc_id sets rebase and retry; overlap means both writers
          // changed the same document, and someone must decide.
          val clash = gone
            .join(changesCore(s, root, base, newHead, branch)
              .select(col("doc_id")), "doc_id")
            .distinct().limit(11).collect().map(_.get(0).toString)
          if (clash.nonEmpty)
            throw graft.core.GraftAnalysisException(Seq(
              s"concurrent commit conflict at $root" +
                branch.fold("")(b => s" (branch '$b')") +
                s": while this delta targeted v${base + 1}, versions " +
                s"v${base + 1}..v$newHead landed and touched doc_ids " +
                s"${clash.take(10).mkString(", ")}" +
                (if (clash.length > 10) ", …" else "") +
                " that this delta also touches — re-derive the delta " +
                "against the current head and recommit"))
          if (attempt >= maxRebaseAttempts(s))
            throw graft.core.GraftAnalysisException(Seq(
              s"commit at $root rebased $attempt times and keeps losing " +
                "the claim race — commit traffic is pathological; " +
                "serialize the writers, batch their deltas, or raise " +
                "spark.graft.snapshot.maxRebaseAttempts toward the " +
                "writer count"))
          base = newHead
      }
    }
    -1 // unreachable: the loop returns or throws
  }

  /** One optimistic attempt of a delta commit against `base` (the head
    * this attempt believes in). Throws [[CommitRaceLost]] when another
    * committer lands `base + 1` first; the caller rebases and retries.
    * `adds` and `gone` arrive PERSISTED by the caller. */
  private def commitDeltaAttempt(s: SparkSession, root: String,
      adds: DataFrame, removedIds: DataFrame, gone: DataFrame,
      tag: Option[String], branch: Option[String], base: Int): Int = {
    val vfBase = readVersionFile(s, root, base, branch)
    val (schema, refs) = (vfBase.schema, vfBase.refs)
    val statsCols = vfBase.statsCols
    val widened = widenSchema(root, schema, adds.schema)
    val v = base + 1
    val dir = attemptDir(v, branch)

    val splitKeyed = removedIds.columns.contains("split")
    // the store's data contract, enforced at the door: a delta whose
    // adds violate a recorded CHECK refuses before anything is written
    checkConstraints(root, adds, vfBase.constraints,
      s"commitDelta v$v adds" + branch.fold("")(b => s" (branch '$b')"))
    // affected = splits receiving adds ∪ splits losing docs. Bounded
    // driver collect: one row per AFFECTED split (a daily delta touches
    // few of many splits — the design point). Split-keyed removals read
    // their split straight off the delta; doc_id-only removals pay a
    // corpus-wide semi-join to find where their victims live.
    val affected: Set[String] =
      graft.core.Labeled(s, s"graft commitDelta v$v: affected splits") {
        if (splitKeyed)
          distinctStringsOneJob(adds.select(col("split"))
            .unionByName(removedIds.select(col("split"))))
        else
          distinctStringsOneJob(adds.select(col("split"))
            .unionByName(readRefs(s, root, schema, refs)
              .join(gone, "doc_id").select(col("split"))))
      }
    // a NULL split surfaces HERE for free (it is one of the distinct
    // values just collected): refuse before anything is written —
    // null keys have no partition home and could never be tombstoned
    if (affected.contains(null))
      throw graft.core.GraftAnalysisException(Seq(
        s"commitDelta v$v at $root refused: rows carry a NULL " +
          "`split` — store rows are (split, doc_id)-keyed; an input " +
          "frame missing the column gets it NULL-filled by SQL " +
          "by-name resolution, so key every row explicitly"))

    val rewritten =
      if (affected.isEmpty) vfBase
      else {
        // read ONLY the affected splits of the current version —
        // partition-pruned at planning time, so unaffected splits'
        // files are never opened
        val affectedRefs = refs.filter(r => affected.contains(r.split))
        val current = readRefs(s, root, schema, affectedRefs)
        val currentWide = current.select(widened.fieldNames.map(n =>
          if (current.columns.contains(n)) col(n)
          else lit(null).cast(widened(n).dataType).as(n)).toIndexedSeq: _*)
        val rewritten0 = currentWide
          .join(gone, Seq("doc_id"), "left_anti")
          .unionByName(adds.filter(col("split").isin(affected.toSeq: _*))
            .select(widened.fieldNames.map(col).toIndexedSeq: _*))
        // the z-order path evaluates its input THREE times (isEmpty,
        // dimRanges, the write) — persist the rewrite join for the
        // commit's duration, exactly as the caller persists the adds
        val zClustered = statsCols.nonEmpty && vfBase.zorder
        val rewritten0P =
          if (!zClustered) rewritten0
          else rewritten0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val written = try {
          val toWrite =
            if (statsCols.isEmpty) distribute(rewritten0P)
            else cluster(rewritten0P, statsCols, vfBase.zorder)
          // counts, stats and blooms of the rewritten splits come from
          // the rewrite job itself (exact)
          writeSplits(s, toWrite, root, dir, statsCols, vfBase.bloomCols,
            s"graft commitDelta v$v", s"rewrite ${affected.size} split(s) -> $dir")
        } finally {
          if (zClustered) rewritten0P.unpersist(blocking = false): Unit
        }
        replaceSplits(vfBase, affected, Some(dir), written)
      }
    writeVersionFile(s, root, v,
      rewritten.successor.copy(schema = widened, tag = tag), branch)
    v
  }

  /** `base` with the refs and bloom cells of `splits` replaced by what a
    * rewrite into `dir` wrote (`written`, from [[writeSplits]]): a split
    * the rewrite left empty has no files and gets a 0-row ref, which
    * readAt skips. Every other split carries its ref and bloom cells
    * VERBATIM — exact, because its files are immutable. `dir = None`
    * drops the splits instead. */
  private def replaceSplits(base: VersionFile, splits: Set[String],
      dir: Option[String],
      written: (Map[String, SplitRef], Map[(String, String), Array[Byte]])
        = (Map.empty, Map.empty)): VersionFile = {
    val emptyCells = base.statsCols.map(_ => StatCell(None, None, 0L))
    val fresh = dir.toSeq.flatMap(d => splits.toSeq.map(sp =>
      written._1.getOrElse(sp, SplitRef(sp, d, 0L, emptyCells))))
    base.copy(refs = base.refs.filterNot(r => splits.contains(r.split)) ++ fresh,
      blooms = base.blooms.filterNot { case ((sp, _), _) => splits.contains(sp) } ++
        written._2)
  }

  /** The widened schema of a delta commit: the stored schema plus any NEW
    * columns the adds carry (nullable — older dirs read them back null).
    * Any other drift — a stored column the adds dropped, or a type change
    * — refuses loudly with every violation listed, instead of surfacing
    * as a raw unionByName failure three plans deep. */
  private def widenSchema(root: String,
      stored: org.apache.spark.sql.types.StructType,
      adds: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val addsByName = adds.fields.map(f => f.name -> f).toMap
    val drift = stored.fields.flatMap { f =>
      addsByName.get(f.name) match {
        case None => Some(s"stored column '${f.name}' (${f.dataType.sql}) is " +
          "missing from the delta's adds — dropping columns is not supported; " +
          "removal-only deltas should pass adds shaped like the stored schema " +
          "(readAt(...).limit(0))")
        case Some(a) if a.dataType != f.dataType =>
          Some(s"column '${f.name}' changes type: stored ${f.dataType.sql} " +
            s"vs delta ${a.dataType.sql}")
        case _ => None
      }
    }
    if (drift.nonEmpty)
      throw graft.core.GraftAnalysisException(
        (s"schema drift in commitDelta at $root (widen-only: new nullable " +
          "columns commit, drops and type changes refuse)") +: drift.toIndexedSeq)
    val storedNames = stored.fieldNames.toSet
    val added = adds.fields.filterNot(f => storedNames.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(stored.fields ++ added)
  }

  /** Read the corpus AS OF `version` — immutable: later commits write
    * new dirs and new version files, so this plan's input files can
    * never change underneath it. One scan per referenced version dir
    * (not per split, not per commit), unioned. Reads with the schema the
    * version COMMITTED — columns added by later deltas are invisible
    * here, and columns added by earlier ones read back null from dirs
    * written before them.
    *
    * @param branch the BRANCH chain to read (None = main). */
  def readAt(s: SparkSession, root: String, version: Int,
      branch: Option[String] = None): DataFrame = {
    val vf = readVersionFile(s, root, version, branch)
    readRefs(s, root, vf.schema, vf.refs)
  }

  /** [[readAt]] with DATA SKIPPING: splits whose committed stats prove
    * they cannot satisfy `pred` are dropped from the plan driver-side,
    * before any file is opened. The predicate is resolved through the
    * ANALYZER (so casts, name resolution and type promotion are Spark's,
    * not a re-implementation), its top-level conjuncts are matched
    * against the tracked stats columns (range comparisons, equality, IN,
    * prefix, IS [NOT] NULL), and a split is pruned only when a conjunct
    * is PROVABLY empty on it — everything unrecognized simply doesn't
    * prune. The full predicate is still applied to the surviving scan:
    * pruning can never change the result, only the files read.
    *
    * @param branch the BRANCH chain to read (None = main) — branch
    *   version files carry the fork's stats and maintain them per commit,
    *   so a forked experiment prunes exactly like main. */
  def readAtWhere(s: SparkSession, root: String, version: Int,
      pred: org.apache.spark.sql.Column,
      branch: Option[String] = None): DataFrame = {
    val vf = readVersionFile(s, root, version, branch)
    readRefs(s, root, vf.schema, prunedRefs(s, root, vf, pred)).filter(pred)
  }

  /** The splits [[readAtWhere]] would skip for `pred` — the diagnostic
    * twin (gates assert pruning ENGAGED; operators audit skipping before
    * a big read). Returns live (non-empty) split names only. */
  def pruneReport(s: SparkSession, root: String, version: Int,
      pred: org.apache.spark.sql.Column): Seq[String] = {
    val vf = readVersionFile(s, root, version)
    val keep = prunedRefs(s, root, vf, pred).map(_.split).toSet
    vf.refs.filter(r => r.nRows > 0 && !keep.contains(r.split)).map(_.split)
  }

  // ---- split-stats pruning ---------------------------------------------

  private sealed trait Constraint
  /** attr within (lo, hi); bound flag = inclusive. Values are EXTERNAL
    * Scala representations (the analyzer's literal, converted). */
  private final case class RangeC(name: String,
      dt: org.apache.spark.sql.types.DataType,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) extends Constraint
  /** attr ∈ values (equality / IN / InSet) — values EXTERNAL. Refutable
    * by range relaxation, by a constant cell (min = max ∉ values), and
    * by the split's bloom when the column carries one. */
  private final case class SetC(name: String,
      dt: org.apache.spark.sql.types.DataType, values: Seq[Any]) extends Constraint
  private final case class NullC(name: String) extends Constraint
  private final case class NotNullC(name: String) extends Constraint
  /** Conjunction: empty when ANY branch is provably empty. */
  private final case class AndC(cs: Seq[Constraint]) extends Constraint
  /** Disjunction: empty only when EVERY branch is provably empty — an
    * `OR` of prunable ranges prunes a split both sides miss. A disjunct
    * that doesn't lower kills the whole OR (it might match anything). */
  private final case class OrC(cs: Seq[Constraint]) extends Constraint

  /** Refs surviving stats pruning (all of them when the store tracks no
    * stats or the predicate yields no usable constraint). The predicate
    * is resolved through the OPTIMIZED logical plan — names, casts and
    * type promotion are Spark's, and the optimizer's normalizations work
    * FOR the pruner: large IN lists arrive as `InSet`, comparison casts
    * unwrap back onto the column, and chains of OR-equalities fuse into
    * one IN. Driver-side only; nothing executes. */
  /** Diagnostic: how many times the pruner built and optimized a bare
    * plan — lets SnapshotsSpec pin that a predicate referencing NO
    * stats column short-circuits before any driver-side plan work. */
  private[plans] val prunePlanBuilds = new java.util.concurrent.atomic.AtomicLong()

  private def prunedRefs(s: SparkSession, root: String, vf: VersionFile,
      pred: org.apache.spark.sql.Column): Seq[SplitRef] = {
    if (vf.statsCols.isEmpty) return vf.refs
    // CHEAP PRE-CHECK before any file-scan plan construction: a
    // constraint can only prune through a TRACKED stats column, so a
    // predicate that references none of them can never prune — skip the
    // per-call bare-plan build (one parquet-relation listing PER
    // REFERENCED DIR) and its optimizer pass entirely; an unmaintained
    // store can reference many dirs, and readAtWhere pays this driver
    // cost per read. The references come from analyzing the predicate
    // against a ZERO-ROW local relation with the stored schema — no IO,
    // O(1) in dirs, and name resolution (case sensitivity, stars,
    // nested fields) is Spark's own, not a re-implementation.
    val tiny = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), vf.schema)
    val referenced = tiny.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name.toLowerCase(java.util.Locale.ROOT))
          .toSet
    }.getOrElse(Set.empty[String])
    if (!vf.statsCols.exists(c =>
        referenced.contains(c.toLowerCase(java.util.Locale.ROOT))))
      return vf.refs
    // the predicate is analyzed against a BARE scan of the version's
    // dirs — deliberately NOT readRefs' frame: its per-dir `split IN
    // (…)` pruning filters would be MERGED with the user predicate by
    // the optimizer (CombineFilters after pushdown through the union),
    // and one dir's split list would then read as a user constraint —
    // wrongly pruning every other dir's splits whenever `split` itself
    // is a tracked stats column
    val live = vf.refs.filter(_.nRows > 0)
    if (live.isEmpty) return vf.refs
    prunePlanBuilds.incrementAndGet(): Unit
    // the bare plan exists ONLY to let the optimizer resolve and
    // normalize the predicate against the stored schema (the extracted
    // Filter condition is all that is read off it) — so ONE referenced
    // split's leaf dir suffices as its relation, instead of listing
    // every referenced dir per readAtWhere call. A LocalRelation would
    // not do: the optimizer folds a Filter over local rows away
    // (ConvertToLocalRelation / PropagateEmptyRelation), losing the
    // condition this extraction needs.
    val bare = {
      val r0 = live.minBy(r => (r.dir, r.split))
      val reader = s.read.schema(vf.schema)
        .option("basePath", s"$root/${r0.dir}")
      splitLeafPaths(root, r0.dir, Seq(r0.split))
        .fold(reader.parquet(s"$root/${r0.dir}"))(ps => reader.parquet(ps: _*))
        .select(vf.schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    val optimized = bare.filter(pred).queryExecution.optimizedPlan
    val cons = optimized.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.map(constraintsOf).getOrElse(Nil)
    if (cons.isEmpty) vf.refs
    else vf.refs.filter(r =>
      r.nRows == 0 || !cons.exists(provablyEmpty(vf, r, _)))
  }

  /** Top-level conjuncts of the analyzed predicate, lowered to the
    * constraint algebra the stats can refute. Anything unrecognized is
    * ignored at conjunct level (sound: ignoring a conjunct only ever
    * keeps more splits); inside an OR, an unrecognized disjunct vetoes
    * the whole OR instead. */
  private def constraintsOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Constraint] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(e).flatMap(lower)
  }

  private def lower(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Constraint] = {
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case And(l, r) => (lower(l), lower(r)) match {
        // one undecidable side is fine: And(a, ?) ⊆ a, so proving `a`
        // empty proves the conjunction empty
        case (Some(a), Some(b)) => Some(AndC(Seq(a, b)))
        case (Some(a), None) => Some(a)
        case (None, Some(b)) => Some(b)
        case _ => None
      }
      case Or(l, r) =>
        for { a <- lower(l); b <- lower(r) } yield OrC(Seq(a, b))
      case GreaterThan(PruneAttr(n, dt), PruneLit(v)) =>
        Some(RangeC(n, dt, Some((v, false)), None))
      case GreaterThanOrEqual(PruneAttr(n, dt), PruneLit(v)) =>
        Some(RangeC(n, dt, Some((v, true)), None))
      case LessThan(PruneAttr(n, dt), PruneLit(v)) =>
        Some(RangeC(n, dt, None, Some((v, false))))
      case LessThanOrEqual(PruneAttr(n, dt), PruneLit(v)) =>
        Some(RangeC(n, dt, None, Some((v, true))))
      case GreaterThan(PruneLit(v), PruneAttr(n, dt)) =>
        Some(RangeC(n, dt, None, Some((v, false))))
      case GreaterThanOrEqual(PruneLit(v), PruneAttr(n, dt)) =>
        Some(RangeC(n, dt, None, Some((v, true))))
      case LessThan(PruneLit(v), PruneAttr(n, dt)) =>
        Some(RangeC(n, dt, Some((v, false)), None))
      case LessThanOrEqual(PruneLit(v), PruneAttr(n, dt)) =>
        Some(RangeC(n, dt, Some((v, true)), None))
      case EqualTo(PruneAttr(n, dt), PruneLit(v)) =>
        Some(SetC(n, dt, Seq(v)))
      case EqualTo(PruneLit(v), PruneAttr(n, dt)) =>
        Some(SetC(n, dt, Seq(v)))
      case EqualNullSafe(PruneAttr(n, dt), PruneLit(v)) =>
        Some(SetC(n, dt, Seq(v)))
      case EqualNullSafe(PruneLit(v), PruneAttr(n, dt)) =>
        Some(SetC(n, dt, Seq(v)))
      case In(PruneAttr(n, dt), vs) if vs.nonEmpty && vs.forall(
          _.isInstanceOf[Literal]) =>
        // a NULL in the list never MATCHES a row (x IN (1, null) is null,
        // not true, when x != 1 — and a Filter drops null verdicts), so
        // pruning on the non-null values alone is sound
        val nonNull = vs.filter { case l: Literal => l.value != null }
        val values = nonNull.flatMap { case l: Literal => PruneLit.unapply(l) }
        if (nonNull.isEmpty || values.size != nonNull.size) None
        else Some(SetC(n, dt, values))
      // the form Catalyst actually plans for IN lists past the
      // inSetConversionThreshold (and Column.isInCollection builds
      // directly): values are CATALYST-internal, convert to external
      case i: InSet => i.child match {
        case PruneAttr(n, dt) if i.hset.nonEmpty && !i.hset.contains(null) =>
          val values = i.hset.toSeq.map(v =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToScala(v, i.child.dataType))
          if (values.contains(null)) None else Some(SetC(n, dt, values))
        case _ => None
      }
      case StartsWith(PruneAttr(n, dt), PruneLit(v: String)) =>
        // prefix v spans [v, prefixUpperBound(v)) in binary order — the
        // upper bound is the prefix with its rightmost incrementable
        // byte bumped (raw bytes; may not be valid UTF-8, which is why
        // Utf8Key holds bytes)
        Some(RangeC(n, dt, Some((v, true)),
          prefixUpperBound(v).map(k => (k: Any, false))))
      case IsNull(PruneAttr(n, _)) => Some(NullC(n))
      case IsNotNull(PruneAttr(n, _)) => Some(NotNullC(n))
      case _ => None
    }
  }

  private val keyOrdering: Ordering[Any] = new Ordering[Any] {
    override def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Attribute side of a comparison: a bare resolved attribute, or a
    * numeric UP-cast of one (up-casts are monotone and lossless, so the
    * bound transfers to the underlying column; any other cast is not
    * provably order-preserving and refuses to match). Yields the
    * attribute's ORIGINAL type — numeric comparisons happen in the
    * type-agnostic BigDecimal domain, so the cast target is irrelevant. */
  private object PruneAttr {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression}
    def unapply(e: Expression): Option[(String, org.apache.spark.sql.types.DataType)] =
      e match {
        case a: AttributeReference => Some(a.name -> a.dataType)
        case c: Cast => c.child match {
          case a: AttributeReference if Cast.canUpCast(a.dataType, c.dataType) &&
              a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
              c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            Some(a.name -> a.dataType)
          case _ => None
        }
        case _ => None
      }
  }

  /** Literal side: a non-null literal or a foldable cast of one,
    * converted to its EXTERNAL Scala value. */
  private object PruneLit {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    def unapply(e: Expression): Option[Any] = e match {
      case l: Literal if l.value != null =>
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))
      case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
        Option(c.eval(null)).map(v =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(v, c.dataType))
      case _ => None
    }
  }

  /** True only when the constraint PROVES the split holds no matching
    * row. Unparsable or missing stats never prune; a constraint on an
    * untracked column proves nothing (false). */
  private def provablyEmpty(vf: VersionFile, r: SplitRef,
      c: Constraint): Boolean = {
    val idx = vf.statsCols.zipWithIndex.toMap
    def cmp(a: Any, b: Any): Int = keyOrdering.compare(a, b)
    c match {
      case AndC(cs) => cs.exists(provablyEmpty(vf, r, _))
      case OrC(cs) => cs.forall(provablyEmpty(vf, r, _))
      case NullC(n) => idx.get(n).exists(i => r.stats(i).nulls == 0L)
      case NotNullC(n) => idx.get(n).exists(i => r.stats(i).nulls == r.nRows)
      case RangeC(n, dt, lo, hi) => idx.get(n).exists { i =>
        val cell = r.stats(i)
        if (cell.nulls == r.nRows) true // a range never matches null
        else (cell.min.flatMap(statKey(dt, _)), cell.max.flatMap(statKey(dt, _))) match {
          case (Some(mn), Some(mx)) =>
            lo.exists { case (v, inc) => litKey(dt, v).exists(k =>
              if (inc) cmp(mx, k) < 0 else cmp(mx, k) <= 0) } ||
            hi.exists { case (v, inc) => litKey(dt, v).exists(k =>
              if (inc) cmp(mn, k) > 0 else cmp(mn, k) >= 0) }
          case _ => false
        }
      }
      case SetC(n, dt, vs) => idx.get(n).exists { i =>
        val cell = r.stats(i)
        if (cell.nulls == r.nRows) true // equality never matches null
        else {
          val keys = vs.flatMap(v => litKey(dt, v))
          val rangeEmpty = keys.size == vs.size && {
            (cell.min.flatMap(statKey(dt, _)),
              cell.max.flatMap(statKey(dt, _))) match {
              case (Some(mn), Some(mx)) =>
                val lo = keys.min(keyOrdering)
                val hi = keys.max(keyOrdering)
                // disjoint ranges, or a CONSTANT cell missing the set
                cmp(mx, lo) < 0 || cmp(mn, hi) > 0 ||
                  (cmp(mn, mx) == 0 && !keys.exists(k => cmp(k, mn) == 0))
              case _ => false
            }
          }
          rangeEmpty || bloomEmpty(vf, r, n, dt, vs)
        }
      }
    }
  }

  /** Bloom refutation: every probed value is PROVABLY absent from the
    * split's bloom cell. Any value that can't render canonically, or a
    * missing cell, proves nothing. */
  private def bloomEmpty(vf: VersionFile, r: SplitRef, n: String,
      dt: org.apache.spark.sql.types.DataType, vs: Seq[Any]): Boolean =
    vf.bloomCols.contains(n) && vf.blooms.get((r.split, n)).exists { bloom =>
      val rendered = vs.map(v => bloomRender(dt, v))
      rendered.forall(_.isDefined) && rendered.flatten.forall { x =>
        !graft.functions.BloomOps.mightContain(bloom,
          graft.functions.TextHash.fnv1a64(
            x.getBytes(java.nio.charset.StandardCharsets.UTF_8)), BloomK)
      }
    }

  /** The canonical string a probe value hashes through — MUST equal
    * Spark's `cast(col AS STRING)` of a matching stored value, or the
    * bloom would wrongly prune. Strings are identity; integral columns
    * render integral-valued literals via exact BigDecimal normalization
    * (so `x = 5L` and the analyzer's `cast(x AS BIGINT) = 5` agree);
    * anything else refuses (→ no bloom pruning, sound). */
  private def bloomRender(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StringType if st == StringType => v match {
        case s0: String => Some(s0)
        case _ => None
      }
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: java.lang.Number =>
          try {
            val bd = new java.math.BigDecimal(n.toString).stripTrailingZeros
            if (bd.scale <= 0) Some(bd.toBigIntegerExact.toString) else None
          } catch { case _: ArithmeticException | _: NumberFormatException => None }
        case _ => None
      }
      case _ => None
    }
  }

  /** Comparison key for a STORED stat string, in the column's original
    * type domain. Strings compare in UTF-8 byte order — Spark's binary
    * collation — not UTF-16 code-unit order (they differ for
    * supplementary characters vs U+E000–U+FFFF). */
  private def statKey(dt: org.apache.spark.sql.types.DataType,
      v: String): Option[Any] = {
    import org.apache.spark.sql.types._
    try dt match {
      case _: NumericType => Some(new java.math.BigDecimal(v)) // NaN/Inf throw → no pruning
      case st: StringType if st == StringType => Some(Utf8Key.of(v))
      case BooleanType => Some(java.lang.Boolean.valueOf(v))
      case DateType => Some(v) // ISO dates: lexicographic == chronological
      case TimestampType => Some(java.time.Instant.parse(v))
      case TimestampNTZType => Some(java.time.LocalDateTime.parse(v))
      case _ => None
    } catch { case _: RuntimeException => None }
  }

  /** Comparison key for a predicate literal's EXTERNAL value; None on
    * any shape mismatch (→ no pruning, sound). */
  private def litKey(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    try dt match {
      case _: NumericType => v match {
        // scala.math.BigDecimal is a java.lang.Number too; toString of
        // every numeric external round-trips into BigDecimal exactly
        case n: java.lang.Number => Some(new java.math.BigDecimal(n.toString))
        case _ => None
      }
      case st: StringType if st == StringType => v match {
        case s0: String => Some(Utf8Key.of(s0))
        case k: Utf8Key => Some(k) // a prefix's synthesized upper bound
        case _ => None
      }
      case BooleanType => v match {
        case b: java.lang.Boolean => Some(b)
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(d.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp => Some(t.toInstant)
        case i: java.time.Instant => Some(i)
        case _ => None
      }
      case TimestampNTZType => v match {
        case l: java.time.LocalDateTime => Some(l)
        case _ => None
      }
      case _ => None
    } catch { case _: RuntimeException => None }
  }

  /** String ordered by UTF-8 bytes (unsigned) — Spark's UTF8_BINARY
    * collation, the order its min/max computed the stats in. Holds raw
    * bytes (not a String) so a prefix's exclusive UPPER bound — which
    * may not be valid UTF-8 after the increment — is representable. */
  private final case class Utf8Key(bytes: Array[Byte]) extends Comparable[Utf8Key] {
    override def compareTo(o: Utf8Key): Int = {
      val a = bytes
      val b = o.bytes
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }
  private object Utf8Key {
    def of(s: String): Utf8Key =
      Utf8Key(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The smallest byte string strictly greater than EVERY string with
    * this prefix: increment the rightmost incrementable byte and
    * truncate after it (an all-0xFF prefix has no finite bound). Gives
    * `StartsWith` its exclusive upper range — `prefix <= s < bound`. */
  private def prefixUpperBound(prefix: String): Option[Utf8Key] = {
    val b = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(Utf8Key(out))
    }
  }

  /** Row-level CHANGES between two committed versions (`vFrom` < `vTo`)
    * — the incremental-consumer primitive: a downstream training job
    * that processed Monday's corpus asks "what changed by Friday" and
    * gets adds/removes/updates WITHOUT either full corpus being read.
    * The store's immutability makes the pruning exact: a split whose
    * `(dir, nRows)` pointer is IDENTICAL in both version files is
    * byte-identical on disk (commits never mutate a written file), so
    * only splits whose pointer differs are scanned — a daily delta chain
    * diffs in time proportional to what the days touched, never the
    * corpus (SnapshotsSpec pins it by corrupting an unchanged split).
    *
    * Output: the `vTo` schema plus a leading `change` column
    * (`add` = doc_id only in vTo, `remove` = only in vFrom — payload
    * columns carry the REMOVED row's values, null-backfilled to the vTo
    * schema — `update` = in both with any column's content differing,
    * payload = the new row). Join is per-doc_id within changed splits;
    * a doc moving between splits surfaces as ONE `update` carrying its
    * new split (both splits' pointers changed, so both sides are read). */
  def changesBetween(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame =
    changesCore(s, root, vFrom, vTo, None)
      .drop("__old_split").drop("__old")

  /** [[changesBetween]] keeping the RETRACTION side: the trailing
    * `__old` struct carries the row's `vFrom` payload (null for adds) —
    * what incremental view maintenance needs to subtract an updated
    * row's prior contribution ([[IncrementalAgg]]). */
  private[plans] def changesWithOld(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame =
    changesCore(s, root, vFrom, vTo, None).drop("__old_split")

  /** [[changesBetween]] plus a trailing `__old_split` column (the row's
    * split in `vFrom`; null for adds), the full `__old` payload struct,
    * and a branch chain — what [[mergeBranch]] needs to translate a
    * cross-split move back into remove+add instead of losing the stale
    * copy, and what [[changesWithOld]] exposes for view maintenance. */
  private def changesCore(s: SparkSession, root: String,
      vFrom: Int, vTo: Int, branch: Option[String]): DataFrame = {
    require(vFrom < vTo, s"changesBetween needs vFrom < vTo, got $vFrom >= $vTo")
    val vfFrom = readVersionFile(s, root, vFrom, branch)
    val vfTo = readVersionFile(s, root, vTo, branch)
    val (schFrom, refsFrom) = (vfFrom.schema, vfFrom.refs)
    val (schTo, refsTo) = (vfTo.schema, vfTo.refs)
    val fromBySplit = refsFrom.map(r => r.split -> r).toMap
    val toBySplit = refsTo.map(r => r.split -> r).toMap
    // the pointer includes the DV state: a takedown that wrote only a
    // tombstone sidecar still changed the split's EFFECTIVE content,
    // while the underlying data files stayed byte-identical
    val changed = (fromBySplit.keySet ++ toBySplit.keySet).filter { sp =>
      fromBySplit.get(sp).map(r => (r.dir, r.nRows, r.dvDirs)) !=
        toBySplit.get(sp).map(r => (r.dir, r.nRows, r.dvDirs))
    }
    // read ONLY the changed splits of each side; align the old side to
    // the (possibly widened) vTo schema — missing columns null, exactly
    // how a reader of vTo sees pre-widening dirs
    val fromDf = readRefs(s, root, schFrom,
      refsFrom.filter(r => changed.contains(r.split)))
    val fromWide = fromDf.select(schTo.fieldNames.map(n =>
      if (fromDf.columns.contains(n)) col(n)
      else lit(null).cast(schTo(n).dataType).as(n)).toIndexedSeq: _*)
    val toDf = readRefs(s, root, schTo,
      refsTo.filter(r => changed.contains(r.split)))
    val payload = schTo.fieldNames.filterNot(_ == "doc_id").toIndexedSeq
    val o = fromWide.select(col("doc_id").as("doc_id"),
      struct(payload.map(col): _*).as("__old"))
    val n = toDf.select(col("doc_id").as("doc_id"),
      struct(payload.map(col): _*).as("__new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("__old").isNull, lit("add"))
          .when(col("__new").isNull, lit("remove"))
          .otherwise(lit("update")))
      .filter(col("__old").isNull || col("__new").isNull ||
        // struct inequality: any payload column differing (null-safe)
        !(col("__old") <=> col("__new")))
      // payload = the new row VERBATIM when one exists (an update that
      // nulls a column must report the null, not coalesce the old value
      // back in); only a remove carries the old row's values
      .select((col("change") +: col("doc_id") +: payload.map(f =>
        when(col("__new").isNull, col(s"__old.$f"))
          .otherwise(col(s"__new.$f")).as(f))).toIndexedSeq ++
        Seq(col("__old.split").as("__old_split"), col("__old")): _*)
  }

  /** The per-version CDC frame every tailing consumer shares — the ONE
    * implementation behind [[graft.streaming.EventPipeline
    * .snapshotChangesStream]] (foreachBatch door) and the
    * `graft-snapshot` streaming source (`spark.readStream` door): the
    * row-level changes version `v` introduced over its predecessor
    * ([[changesBetween]] — pointer-pruned, never a corpus scan), or —
    * when the predecessor file is missing (the chain's first version,
    * or a consumer starting past a vacuum horizon) — the full as-of
    * snapshot BOOTSTRAPPED as adds, same column order. */
  private[graft] def changesOrBootstrap(s: SparkSession, root: String,
      v: Int, branch: Option[String] = None): DataFrame =
    if (v > 1 && versionFileExists(s, root, v - 1, branch))
      changesCore(s, root, v - 1, v, branch)
        .drop("__old_split").drop("__old")
    else {
      val snap = readAt(s, root, v, branch)
      snap.select((lit("add").as("change") +: col("doc_id") +:
        snap.columns.filterNot(_ == "doc_id").map(col).toIndexedSeq): _*)
    }

  private[graft] def versionFileExists(s: SparkSession, root: String,
      v: Int, branch: Option[String] = None): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${chainDir(root, branch)}/v$v.list")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The OLDEST live version (vacuum moves this forward) — where an
    * unpositioned change-feed consumer starts. 0 = empty store. */
  private[graft] def earliestLiveVersion(s: SparkSession, root: String,
      branch: Option[String] = None): Int = {
    val dirP = new org.apache.hadoop.fs.Path(chainDir(root, branch))
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    listVersions(fs, dirP).headOption.getOrElse(0)
  }

  // ---- manifest summary checkpoint (long-chain driver cost) ------------

  /** One version's per-chain summary — everything [[history]] /
    * [[versionAsOf]] / [[vacuumOlderThan]]'s cutoff pick need, WITHOUT
    * the refs. */
  private final case class VersionSummary(tag: Option[String],
      nSplits: Int, nRows: Long, ts: Option[Long])

  private val SummaryFile = "summary.ckpt"

  /** The MANIFEST-LOG CHECKPOINT (the Delta-checkpoint / Iceberg
    * snapshot-log analog for this store's driver cost): one tiny file
    * at `_versions/summary.ckpt` summarizing every live main-chain
    * version — `v \t ts \t tag \t n_splits \t n_rows` — written by
    * [[maintain]] (atomic replace; advisory, lossy-safe: readers
    * consult it per live version and fall back to the version file for
    * anything missing or newer than the checkpoint, so a lost
    * concurrent update or a stale checkpoint only costs reads, never
    * correctness). Turns [[history]] / [[versionAsOf]] / the
    * time-retention cutoff pick on a YEAR-OLD daily chain from
    * O(versions) version-file parses per call (the LRU-64 parse cache
    * thrashes past 64 live versions) into one checkpoint read plus
    * O(versions since last maintain) parses. Version files are
    * immutable-once-written (only ever deleted), so a summary entry
    * can never go stale against its version — the sweep that deletes
    * versions rewrites the checkpoint afterwards, and until then dead
    * entries are simply never consulted (readers iterate LIVE versions
    * only). */
  def writeSummaryCheckpoint(s: SparkSession, root: String): Int = {
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir")
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = listVersions(fs, dirP)
    if (live.isEmpty) return 0
    val known = readSummaries(s, root)
    val body = live.map { v =>
      val sum = known.getOrElse(v, summarize(readVersionFile(s, root, v)))
      Seq(v.toString, sum.ts.fold("~")(_.toString),
        sum.tag.fold("~")(escape), sum.nSplits.toString,
        sum.nRows.toString).mkString("\t")
    }.mkString("", "\n", "\n")
    atomicReplace(s, new org.apache.hadoop.fs.Path(dirP, SummaryFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    live.last
  }

  private def summarize(vf: VersionFile): VersionSummary =
    VersionSummary(vf.tag, vf.refs.count(_.effectiveRows > 0),
      vf.refs.map(_.effectiveRows).sum, vf.ts)

  /** The checkpointed summaries (empty when no checkpoint exists — the
    * pre-checkpoint store shape). Unreadable checkpoints are treated as
    * absent: every reader has the version-file fallback. */
  private def readSummaries(s: SparkSession,
      root: String): Map[Int, VersionSummary] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir/$SummaryFile")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    try readWhole(fs, p).split("\n").iterator.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0).toInt -> VersionSummary(
        if (f(2) == "~") None else Some(unescape(f(2))),
        f(3).toInt, f(4).toLong,
        if (f(1) == "~") None else Some(f(1).toLong))
    }.toMap
    catch { case _: RuntimeException => Map.empty }
  }

  /** `summaries.get` with the version-file fallback — the one lookup
    * every checkpoint consumer shares. */
  private def summaryOf(s: SparkSession, root: String,
      known: Map[Int, VersionSummary], v: Int): VersionSummary =
    known.getOrElse(v, summarize(readVersionFile(s, root, v)))

  /** The commit history at `root`, oldest first: one row per LIVE
    * version — `(version, tag, n_splits, n_rows)`, all read from the
    * driver-side version files (no data scan; long chains answer from
    * the [[writeSummaryCheckpoint]] manifest log where present). The
    * store's DESCRIBE HISTORY: which commits exist, what each was
    * tagged (the ingest batch it carries), and the corpus size as of
    * each.
    *
    * @param branch the BRANCH chain to list (None = main). */
  def history(s: SparkSession, root: String,
      branch: Option[String] = None): DataFrame = {
    val dirP = new org.apache.hadoop.fs.Path(chainDir(root, branch))
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val known: Map[Int, VersionSummary] =
      if (branch.isEmpty) readSummaries(s, root) else Map.empty
    val rows = listVersions(fs, dirP).map { v =>
      val sum = known.getOrElse(v,
        summarize(readVersionFile(s, root, v, branch)))
      org.apache.spark.sql.Row(
        v, sum.tag.orNull, sum.nSplits, sum.nRows,
        sum.ts.map(Long.box).orNull)
    }
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType.fromDDL(
        "version INT, tag STRING, n_splits INT, n_rows BIGINT, " +
          "committed_at_ms BIGINT"))
  }

  /** TIMESTAMP AS OF: the largest live main version committed at or
    * before `epochMillis`, from the `#ts=` stamps in the version files.
    * Stamps are MONOTONIZED on read (running max up the chain), so a
    * committer with a backwards-stepping clock can never make time
    * travel non-monotone; versions written before stamping existed sort
    * as epoch 0. Refuses when every live version is newer (or the
    * matching version was vacuumed — the retention contract). */
  def versionAsOf(s: SparkSession, root: String, epochMillis: Long): Int = {
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir")
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, dirP)
    val known = readSummaries(s, root)
    var runningTs = 0L
    var best = 0
    versions.foreach { v =>
      runningTs = math.max(runningTs,
        summaryOf(s, root, known, v).ts.getOrElse(0L))
      if (runningTs <= epochMillis) best = v
    }
    if (best == 0)
      throw graft.core.GraftAnalysisException(Seq(
        s"no version at $root committed at or before $epochMillis — " +
          versions.headOption.fold("the store is empty")(v =>
            s"the oldest live version is v$v (older ones may have been vacuumed)")))
    best
  }

  /** [[readAt]] the version [[versionAsOf]] resolves. */
  def readAsOf(s: SparkSession, root: String, epochMillis: Long): DataFrame =
    readAt(s, root, versionAsOf(s, root, epochMillis))

  /** The LSM consolidation as one call: rewrite the LATEST version's
    * content into a single fresh version whose refs all point at one
    * dir, carrying the store's statsCols AND check constraints forward
    * — after which `vacuum` can drop the long delta chain's dirs.
    * Equivalent to `commitFull(readAt(latest), root, statsCols,
    * constraints)`, which a caller should not have to hand-roll
    * (forgetting either would silently drop data skipping or the data
    * contract at the consolidation point). Returns the new version. */
  def consolidate(s: SparkSession, root: String): Int = {
    val head = latestVersion(s, root)
    require(head >= 1, s"consolidate on an empty store at $root")
    commitFullLike(s, readAt(s, root, head), root)
  }

  /** [[commitFull]] carrying the HEAD's recorded contract forward —
    * stats columns, check constraints, clustering, bloom columns — the
    * "replace the content, keep the table definition" write an SQL
    * `INSERT OVERWRITE` means ([[graft.sources.SnapshotSource]] uses
    * it): a front-door overwrite must not silently drop the owner's
    * data-skipping or data-contract setup. */
  private[graft] def commitFullLike(s: SparkSession, df: DataFrame,
      root: String): Int = {
    val head = latestVersion(s, root)
    require(head >= 1,
      s"commitFullLike on an empty store at $root — commitFull directly " +
        "(a new store's stats/constraint contract is the owner's choice)")
    val vf = readVersionFile(s, root, head)
    commitFull(s, df, root, vf.statsCols, vf.constraints, vf.zorder,
      vf.bloomCols)
  }

  /** The EFFECTIVE row count of a version, answered entirely from the
    * version file (`Σ nRows − dvRows` — deletion vectors record exact
    * confirmed-victim counts, so this equals the anti-joined read's
    * count): zero file IO, the manifest-only COUNT(*) fast path the SQL
    * front door pushes down to. */
  private[graft] def effectiveRowCount(s: SparkSession, root: String,
      version: Int, branch: Option[String]): Long =
    readVersionFile(s, root, version, branch).refs.map(_.effectiveRows).sum

  /** MANIFEST-only MIN/MAX of a stats column — the aggregate-pushdown
    * sibling of [[effectiveRowCount]]. Answers `Some(result)` (result
    * None = SQL NULL: no non-null values anywhere) only when the answer
    * is PROVABLY exact from the version file alone:
    *   - the column is tracked and of a type whose stored cell
    *     round-trips exactly (integral, floating, date, timestamp —
    *     STRING cells are truncated since round 15 and never answer);
    *   - NO live split carries a deletion vector (a tombstoned row may
    *     BE the extremum; its cell can only over-approximate).
    * Anything else returns None and the caller scans. Cells are
    * compared in the same key domain the pruner uses ([[statKey]]), and
    * the winning cell's stored string parses back to the column's
    * external value. */
  private[graft] def manifestMinMax(s: SparkSession, root: String,
      version: Int, branch: Option[String], column: String,
      wantMax: Boolean): Option[Option[Any]] = {
    import org.apache.spark.sql.types._
    val vf = readVersionFile(s, root, version, branch)
    val i = vf.statsCols.indexOf(column)
    if (i < 0) return None
    val dt = vf.schema.fields.find(_.name == column).map(_.dataType)
      .getOrElse(return None)
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => ()
      case _ => return None
    }
    val live = vf.refs.filter(_.nRows > 0)
    if (live.exists(_.dvRows > 0)) return None
    var bestKey: Any = null
    var bestRaw: String = null
    live.foreach { r =>
      val cell = if (wantMax) r.stats(i).max else r.stats(i).min
      cell.foreach { raw =>
        statKey(dt, raw) match {
          case Some(k) =>
            if (bestKey == null ||
                (if (wantMax) keyOrdering.compare(k, bestKey) > 0
                 else keyOrdering.compare(k, bestKey) < 0)) {
              bestKey = k; bestRaw = raw
            }
          case None => return None // unparsable cell — never guess
        }
      }
    }
    if (bestRaw == null) return Some(None)
    val value: Any =
      try dt match {
        case ByteType => bestRaw.toByte
        case ShortType => bestRaw.toShort
        case IntegerType => bestRaw.toInt
        case LongType => bestRaw.toLong
        // float/double: NaN/Infinity cells already stand down at
        // statKey (BigDecimal refuses them — and a NaN in the data
        // always surfaces in the MAX cell, since Spark orders NaN
        // greatest, so a NaN extremum can never be silently missed);
        // a ±0.0 extremum ALSO stands down: -0.0 and 0.0 compare equal
        // in SQL, so which sign the stats cell recorded vs which the
        // scan would return is not provably the same bit pattern —
        // never serve a value the scan might render differently
        case FloatType =>
          val f = bestRaw.toFloat
          if (f == 0.0f) return None else f
        case DoubleType =>
          val d = bestRaw.toDouble
          if (d == 0.0d) return None else d
        case DateType => java.sql.Date.valueOf(bestRaw)
        case TimestampType =>
          java.sql.Timestamp.from(java.time.Instant.parse(bestRaw))
        case TimestampNTZType => java.time.LocalDateTime.parse(bestRaw)
        case _ => return None
      } catch { case _: RuntimeException => return None }
    Some(Some(value))
  }

  /** What a [[mergeInto]] does with a source row whose doc_id already
    * exists in the store. `Update` replaces the stored row with the
    * source row (the store's replace contract); `Delete` takes it down;
    * `Skip` leaves it untouched (insert-only merges). */
  sealed trait WhenMatched
  object WhenMatched {
    case object Update extends WhenMatched
    case object Delete extends WhenMatched
    case object Skip extends WhenMatched
  }

  /** What a [[mergeInto]] does with a source row whose doc_id is new:
    * `Insert` commits it, `Skip` drops it (update-only merges). */
  sealed trait WhenNotMatched
  object WhenNotMatched {
    case object Insert extends WhenNotMatched
    case object Skip extends WhenNotMatched
  }

  /** MERGE INTO (upsert) against the store's head, compiled to ONE
    * delta commit: source rows whose `doc_id` exists get the
    * `whenMatched` action — optionally gated by `matchedCondition`, a
    * predicate over the source columns AND the stored row exposed as an
    * `existing` struct (`col("existing.n_chars") < col("n_chars")` =
    * "update only if newer") — and new doc_ids get `whenNotMatched`.
    * Matched-but-condition-false rows are left untouched (standard
    * MERGE semantics).
    *
    * The source must be SPLIT-KEYED like every delta: `split` names the
    * split a MATCHED doc currently lives in (and the target split for
    * inserts), so match detection reads only the source's splits —
    * never the corpus. Source doc_ids must be unique (a doc matched by
    * two source rows is a refusal, the Delta convention — which source
    * row should win is not the engine's call). Tags (main only),
    * branches, constraints, schema widening and stats/bloom maintenance
    * all ride the underlying delta commit; an interleaved commit makes the
    * whole merge re-derive against the new head instead of rebasing.
    * Returns the new version. */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
      whenMatched: WhenMatched, whenNotMatched: WhenNotMatched,
      matchedCondition: Option[org.apache.spark.sql.Column] = None,
      tag: Option[String] = None, branch: Option[String] = None): Int = {
    if (whenMatched == WhenMatched.Skip && whenNotMatched == WhenNotMatched.Skip)
      throw graft.core.GraftAnalysisException(Seq(
        s"mergeInto at $root with both actions Skip does nothing — " +
          "pick an action"))
    if (!source.columns.contains("split") || !source.columns.contains("doc_id"))
      throw graft.core.GraftAnalysisException(Seq(
        s"mergeInto at $root needs a split-keyed source (split, doc_id, " +
          "payload …) — split names a matched doc's CURRENT split and an " +
          "insert's target split"))
    if (matchedCondition.nonEmpty && whenMatched == WhenMatched.Skip)
      throw graft.core.GraftAnalysisException(Seq(
        s"mergeInto at $root has a matchedCondition but whenMatched = " +
          "Skip — the condition would gate nothing"))
    require(latestVersion(s, root, branch) >= 1,
      s"mergeInto on an empty store at $root — commitFull first")
    val srcP = source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dup = graft.core.Labeled(s, s"graft mergeInto: source key check") {
        srcP.groupBy(col("doc_id")).count()
          .filter(col("count") > 1).limit(6)
          .collect().map(_.get(0).toString)
      }
      if (dup.nonEmpty)
        throw graft.core.GraftAnalysisException(Seq(
          s"mergeInto at $root: source doc_ids must be unique — " +
            s"duplicated: ${dup.take(5).mkString(", ")}" +
            (if (dup.length > 5) ", …" else "") +
            " (which duplicate wins is not the engine's call)"))
      // match detection reads ONLY the source's splits (bounded collect:
      // one value per source split — one job, no exchange, r17)
      val srcSplits = graft.core.Labeled(s, s"graft mergeInto: source splits") {
        distinctStringsOneJob(srcP.select(col("split")))
      }
      // the classification is only valid against the head it read — so
      // the commit is PINNED to that head, and an interleaved commit
      // (even one that never races our claim) re-runs the WHOLE merge
      // against the new head: serializable-retry semantics, never a
      // stale insert/update landing over a concurrent write
      var attempt = 0
      while (true) {
        val head = latestVersion(s, root, branch)
        val vf = readVersionFile(s, root, head, branch)
        val cur = readRefs(s, root, vf.schema,
          vf.refs.filter(r => srcSplits.contains(r.split)))
        val curKeyed = cur.select(col("split"), col("doc_id"),
          struct(vf.schema.fieldNames.map(col).toIndexedSeq: _*).as("existing"))
        val joined = srcP.join(curKeyed, Seq("split", "doc_id"), "left_outer")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val srcCols = srcP.columns.toIndexedSeq.map(col)
          val matched0 = joined.filter(col("existing").isNotNull)
          val matched = matchedCondition.fold(matched0)(matched0.filter)
          val notMatched = joined.filter(col("existing").isNull)
          val none = srcP.limit(0)
          val adds =
            (if (whenMatched == WhenMatched.Update) matched.select(srcCols: _*)
             else none.select(srcCols: _*))
              .unionByName(
                if (whenNotMatched == WhenNotMatched.Insert)
                  notMatched.select(srcCols: _*)
                else none.select(srcCols: _*))
          val removes =
            if (whenMatched == WhenMatched.Delete)
              matched.select(col("split"), col("doc_id"))
            else none.select(col("split"), col("doc_id"))
          return commitDeltaChain(s, root, adds, removes, tag, branch, pinned = Some(head))
        } catch {
          case CommitRaceLost(_, _) =>
            attempt += 1
            if (attempt >= maxRebaseAttempts(s))
              throw graft.core.GraftAnalysisException(Seq(
                s"mergeInto at $root re-derived $attempt times and keeps " +
                  "losing to interleaved commits — serialize the writers " +
                  "or batch their merges"))
        } finally joined.unpersist(blocking = false): Unit
      }
      -1 // unreachable: the loop returns or throws
    } finally srcP.unpersist(blocking = false): Unit
  }

  /** RESTORE: make `version`'s content the new HEAD as a fresh commit —
    * the bad-delta undo. ZERO data copied and zero data read: the new
    * version file pointer-carries `version`'s refs verbatim (the same
    * immutability that makes time travel free makes rollback free), so
    * restoring yesterday over a botched takedown costs one version-file
    * write. History is preserved — the botched commits stay readable
    * for forensics until vacuum — and the restore is itself a normal
    * commit: later deltas build on it, CDC diffs span it correctly
    * (`changesBetween(bad, restored)` reports exactly the undone rows).
    * Restores the schema/stats/constraints/clustering contract AS OF
    * that version too (a restore past a widening narrows back — new
    * columns reappear when re-widened). Refuses on an empty store or a
    * restore of the current head (a no-op someone probably didn't
    * mean). */
  def restore(s: SparkSession, root: String, version: Int): Int = {
    val head = latestVersion(s, root)
    require(head >= 1, s"restore on an empty store at $root")
    if (version == head)
      throw graft.core.GraftAnalysisException(Seq(
        s"restore of v$version at $root is the current head — nothing to " +
          "undo (pin readers with readAt instead)"))
    val v = head + 1
    publishOrRefuse(s, root, v,
      readVersionFile(s, root, version).successor, "restore")
    v
  }

  /** Drop whole SPLITS pointer-only — the retention trim for date-keyed
    * corpora ("drop days older than 90"): the new version file simply
    * OMITS the named splits' refs, so the commit reads and writes zero
    * data bytes regardless of how much the splits hold. The dropped
    * splits' files stay on disk (older versions still read them — time
    * travel across the trim keeps working) until [[vacuum]] finds no
    * surviving reference. CDC spans the trim correctly:
    * `changesBetween(before, after)` reports every dropped row as a
    * remove. Unknown split names REFUSE — a retention job with a typo
    * must not silently no-op. Returns the new version. */
  def dropSplits(s: SparkSession, root: String, splits: Seq[String]): Int = {
    require(splits.nonEmpty, s"dropSplits at $root with no splits named")
    val head = latestVersion(s, root)
    require(head >= 1, s"dropSplits on an empty store at $root")
    val vf = readVersionFile(s, root, head)
    val have = vf.refs.map(_.split).toSet
    val unknown = splits.filterNot(have.contains)
    if (unknown.nonEmpty)
      throw graft.core.GraftAnalysisException(
        s"dropSplits at $root names splits the head (v$head) does not hold" +:
          unknown.map(sp => s"unknown split '$sp'").toIndexedSeq)
    val v = head + 1
    publishOrRefuse(s, root, v,
      replaceSplits(vf.successor, splits.toSet, dir = None), "dropSplits")
    v
  }

  /** DV-threshold COMPACTION: fold deletion vectors back into data files
    * for exactly the splits whose tombstone fraction exceeds
    * `maxDvFraction` — the bounded merge-on-read maintenance step
    * between free takedowns ([[commitRemove]]) and the full
    * [[consolidate]]. Each selected split rewrites to its effective
    * content (the reader's anti-join, materialized once); untouched
    * splits carry by pointer, including their own (below-threshold)
    * vectors. Returns the new version, or the current head unchanged
    * when no split crosses the threshold (no empty commit). This is
    * also the targeted GDPR-erasure call: after it, the selected
    * splits' removed rows are gone from disk, not just invisible. */
  def compactDeletionVectors(s: SparkSession, root: String,
      maxDvFraction: Double): Int = {
    require(maxDvFraction >= 0.0 && maxDvFraction < 1.0,
      s"maxDvFraction must be in [0, 1), got $maxDvFraction")
    val head = latestVersion(s, root)
    require(head >= 1, s"compactDeletionVectors on an empty store at $root")
    val vf = readVersionFile(s, root, head)
    val targets = vf.refs.filter(r => r.nRows > 0 && r.dvRows > 0 &&
      r.dvRows.toDouble / r.nRows > maxDvFraction)
    if (targets.isEmpty) return head
    val v = head + 1
    val dir = attemptDir(v)
    // materialize the targeted splits' EFFECTIVE content (the reader's
    // anti-join, i.e. the fold-in) into this attempt's dir; a fully-
    // tombstoned split simply writes no files and its fresh ref records
    // 0 rows with the vector gone. IO = the targeted splits only.
    val effective0 = readRefs(s, root, vf.schema, targets)
    // the z-order path evaluates its input three times (isEmpty,
    // dimRanges, the write) — persist the scan+anti-join for the call
    val zClustered = vf.statsCols.nonEmpty && vf.zorder
    val effectiveP =
      if (!zClustered) effective0
      else effective0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val written = try {
      val effective =
        if (vf.statsCols.isEmpty) distribute(effectiveP)
        else cluster(effectiveP, vf.statsCols, vf.zorder)
      writeSplits(s, effective, root, dir, vf.statsCols, vf.bloomCols,
        s"graft dvCompact v$v", s"rewrite ${targets.size} split(s) -> $dir")
    } finally {
      if (zClustered) effectiveP.unpersist(blocking = false): Unit
    }
    publishOrRefuse(s, root, v, replaceSplits(vf.successor,
      targets.map(_.split).toSet, Some(dir), written), "compactDeletionVectors")
    v
  }

  /** Knobs for [[maintain]] — the store's scheduled-maintenance policy.
    * `dvCompactFraction`: fold deletion vectors for splits past this
    * tombstone fraction (None = leave vectors alone).
    * `consolidateAfterDirs`: when the head references MORE than this
    * many data dirs, rewrite it into one consolidated version (the LSM
    * trigger — read cost grows with referenced dirs, not versions).
    * `vacuumKeepLast`: count-based retention sweep after the above
    * (None = no count-based sweep). `vacuumOlderThanMs`: WALL-CLOCK
    * retention ([[vacuumOlderThan]]) — the operational contract ("keep
    * every version a still-running training job might read") is
    * naturally time-based, so prefer this knob when scheduling; both
    * set = both sweeps run (a version survives only if BOTH would keep
    * it). */
  final case class MaintenancePolicy(
      dvCompactFraction: Option[Double] = Some(0.3),
      consolidateAfterDirs: Option[Int] = Some(16),
      vacuumKeepLast: Option[Int] = Some(32),
      vacuumOlderThanMs: Option[Long] = None)

  /** What one [[maintain]] call did: the versions the DV compaction and
    * the consolidation committed (None = their trigger didn't fire),
    * and vacuum's (droppedVersions, deletedDirs). */
  final case class MaintenanceReport(
      dvCompacted: Option[Int], consolidated: Option[Int],
      vacuumDropped: Seq[Int], vacuumDeletedDirs: Seq[String])

  /** ONE scheduled-maintenance call for a live store — the nightly cron
    * a deployment actually runs, ordered so each step feeds the next:
    * fold overdue deletion vectors ([[compactDeletionVectors]]), then
    * consolidate if the head's referenced-dir count crossed the policy
    * trigger ([[consolidate]] — also the erasure point for any
    * remaining vectors), then [[vacuum]]. Every step no-ops cleanly
    * when its trigger doesn't fire — running maintain twice in a row
    * does nothing the second time (idempotent in effect), so an
    * at-least-once scheduler is fine. Content is NEVER changed: the
    * head reads identically before and after (spec-pinned). */
  def maintain(s: SparkSession, root: String,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    require(latestVersion(s, root) >= 1, s"maintain on an empty store at $root")
    val dvV = policy.dvCompactFraction.flatMap { f =>
      val before = latestVersion(s, root)
      val after = compactDeletionVectors(s, root, f)
      if (after != before) Some(after) else None
    }
    val consV = policy.consolidateAfterDirs.flatMap { trigger =>
      val vf = readVersionFile(s, root, latestVersion(s, root))
      val dirs = vf.refs.filter(_.nRows > 0)
        .flatMap(r => r.dir +: r.dvDirs).distinct.size
      if (dirs > trigger) Some(consolidate(s, root)) else None
    }
    val (dropped1, deleted1) = policy.vacuumKeepLast match {
      case Some(k) => vacuum(s, root, k)
      case None => (Nil, Nil)
    }
    val (dropped2, deleted2) = policy.vacuumOlderThanMs match {
      case Some(ms) => vacuumOlderThan(s, root, ms)
      case None => (Nil, Nil)
    }
    // manifest-log checkpoint LAST (post-sweep = tight): maintenance is
    // exactly the cadence that bounds history/versionAsOf/retention
    // driver cost on long chains to O(commits since last maintain)
    writeSummaryCheckpoint(s, root): Unit
    MaintenanceReport(dvV, consV, dropped1 ++ dropped2, deleted1 ++ deleted2)
  }

  /** The main-chain version a TAG committed, if any — the consumer-side
    * half of tagged commits: an ingest stream commits `tag = "day-N"`,
    * a training job pins `readAt(versionForTag("day-N"))`. Answers from
    * the durable ledger (falling back to a chain scan for stores
    * written before the ledger existed), so it resolves even after the
    * version itself was vacuumed — readAt then refuses loudly, which is
    * the retention contract. */
  def versionForTag(s: SparkSession, root: String, tag: String): Option[Int] = {
    ensureTagLedger(s, root)
    readTagMarker(s, root, tag)
  }

  // ---- branches ---------------------------------------------------------

  /** Fork a BRANCH named `name` off main's committed `fromVersion` —
    * zero data copied: the branch's v1 pointer-carries every split ref
    * of the fork point (the same immutability that makes time travel
    * free makes branching free). Commit experiments to it with
    * `commitDelta(…, branch = Some(name))`, read it with
    * `readAt(…, branch)`, land it with [[mergeBranch]], discard it with
    * [[dropBranch]]. Branches fork from MAIN only (no branch-of-branch):
    * the merge diff and the conflict check are defined against main's
    * history. Main's [[vacuum]] never deletes a dir a live branch still
    * references — but it CAN drop the fork-point version file itself,
    * after which the branch still reads fine (it carries its own refs)
    * while [[mergeBranch]]'s conflict check refuses on the missing fork
    * version; merge or drop branches before vacuuming past their fork. */
  def createBranch(s: SparkSession, root: String, name: String,
      fromVersion: Int): Unit = {
    require(name.nonEmpty, "branch name must be non-empty")
    if (latestVersion(s, root, Some(name)) > 0)
      throw graft.core.GraftAnalysisException(Seq(
        s"branch '$name' already exists at $root — dropBranch first, or " +
          "pick another name"))
    publishOrRefuse(s, root, 1, readVersionFile(s, root, fromVersion)
      .successor.copy(fork = Some(fromVersion)), s"createBranch '$name'",
      Some(name))
  }

  /** Live branch names at `root` (ones with at least one committed
    * version), sorted. */
  def listBranches(s: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir/$BranchesDir")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .map(unescape).filter(b => latestVersion(s, root, Some(b)) > 0)
      .sorted.toIndexedSeq
  }

  /** Delete a branch: its version chain and every `b-<name>-…` data dir
    * its commits wrote. Main is untouched — branch commits never write
    * into main-referenced dirs, and main never references branch dirs
    * (a merge lands as a fresh main commit). */
  def dropBranch(s: SparkSession, root: String, name: String): Unit = {
    val chainP = new org.apache.hadoop.fs.Path(chainDir(root, Some(name)))
    val fs = chainP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(chainP, true): Unit
    // EXACT dir-name match, not a prefix test: URLEncoder leaves '-'
    // unescaped, so branch 'exp' and branch 'exp-v2' share the prefix
    // `b-exp-v` — a prefix sweep for 'exp' would silently destroy
    // 'exp-v2''s live data dirs (`b-exp-v2-v1-…`) while its version
    // files still reference them. The full [[attemptDir]] shape
    // (`b-<enc>-v<N>-<8 hex>`) is unambiguous per branch.
    val pat = java.util.regex.Pattern.compile(
      "^b-" + java.util.regex.Pattern.quote(escape(name)) +
        "-v\\d+-[0-9a-f]{8}(-dv)?$")
    val rootP = new org.apache.hadoop.fs.Path(root)
    fs.listStatus(rootP).map(_.getPath)
      .filter(p => pat.matcher(p.getName).matches())
      .foreach(p => fs.delete(p, true): Unit)
  }

  /** Land a branch's NET changes since its fork point as ONE new main
    * commit (the branch itself is left intact — drop it after). The
    * delta is the branch chain's own pointer-pruned row diff
    * (v1 → branch head): adds and updates commit as replacements,
    * removes as split-keyed takedowns, and a doc the branch moved
    * across splits merges as remove(old split) + add(new split) — the
    * stale-copy trap a naive "apply the head" merge would hit.
    *
    * CONFLICTS: if main advanced past the fork point and touched any
    * doc_id the branch also touched, the merge refuses and names a
    * sample (both sides changed the same document — someone must
    * decide). Returns the new main version (or main's head unchanged when
    * the branch committed nothing).
    *
    * @param force override a conflict with branch-wins semantics. */
  def mergeBranch(s: SparkSession, root: String, name: String,
      force: Boolean = false): Int = {
    val bChain = Some(name)
    val bHead = latestVersion(s, root, bChain)
    if (bHead < 1)
      throw graft.core.GraftAnalysisException(Seq(
        s"no branch '$name' at $root — nothing to merge"))
    val mainHead = latestVersion(s, root)
    if (bHead == 1) return mainHead // no branch commits — nothing to land
    val fork = readVersionFile(s, root, 1, bChain).fork.getOrElse(
      throw graft.core.GraftAnalysisException(Seq(
        s"branch '$name' at $root records no fork point — not created by " +
          "createBranch")))
    val ch = changesCore(s, root, 1, bHead, bChain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (mainHead > fork && !force) {
        // both-sides-touched doc_ids; bounded collect (sample for the
        // refusal message only)
        // doc_id-type-agnostic sample (the store never assumes Long —
        // `.get(0).toString` like checkConstraints, not `.getLong`)
        val conflicts = ch.select(col("doc_id"))
          .join(changesBetween(s, root, fork, mainHead)
            .select(col("doc_id")), "doc_id")
          .distinct().limit(11).collect().map(_.get(0).toString)
        if (conflicts.nonEmpty)
          throw graft.core.GraftAnalysisException(Seq(
            s"merge of branch '$name' into $root conflicts: main moved " +
              s"past the fork (v$fork -> v$mainHead) and both sides " +
              s"touched doc_ids ${conflicts.take(10).mkString(", ")}" +
              (if (conflicts.length > 10) ", …" else "") +
              " — rebase the branch or merge with force = true " +
              "(branch wins)"))
      }
      val payload = ch.columns.filter(c =>
        c != "change" && c != "__old_split" && c != "__old")
      val adds0 = ch.filter(col("change") =!= "remove")
        .select(payload.map(col).toIndexedSeq: _*)
      // main may have WIDENED since the fork: the branch's rows never
      // had those columns, so they merge null — the same contract as an
      // old dir read under a widened schema. (Columns the BRANCH added
      // ride through and widen main; a same-name-different-type clash
      // still refuses in widenSchema.)
      val mainSchema = readVersionFile(s, root, math.max(mainHead, fork)).schema
      val have = adds0.columns.toSet
      val adds = mainSchema.fields.filterNot(f => have.contains(f.name))
        .foldLeft(adds0)((acc, f) =>
          acc.withColumn(f.name, lit(null).cast(f.dataType)))
      // removes: true removals at their old split, plus the OLD location
      // of any doc the branch moved across splits
      val removes = ch.filter(col("change") === "remove")
        .select(col("split"), col("doc_id"))
        .unionByName(ch.filter(col("change") === "update" &&
            col("__old_split") =!= col("split"))
          .select(col("__old_split").as("split"), col("doc_id")))
      commitDeltaChain(s, root, adds, removes, None, None)
    } finally ch.unpersist(blocking = false): Unit
  }

  /** Retention vacuum: drop all but the `keepLast` newest versions and
    * delete every data dir no SURVIVING version references. Pointer
    * carry makes this subtler than "delete old dirs": the latest
    * version's untouched splits still point INTO old version dirs, and
    * those dirs must survive — only dirs referenced by no survivor go.
    * Readers pinned to a vacuumed version break loudly on their next
    * `readAt` (no version file) — that is the retention contract; run
    * vacuum with a `keepLast` covering every training run still
    * replaying. Idempotence TAGS outlive their versions: before a tagged
    * version file drops, its tag is backfilled into the durable ledger,
    * so a stream redelivering across a retention sweep is still skipped.
    * Dirs NEWER than the latest committed version are never touched (a
    * concurrent commit may be mid-write there — its version file is its
    * commit point, not its data dir); claim files for versions already
    * committed are swept. Returns (droppedVersions, deletedDirs). */
  def vacuum(s: SparkSession, root: String, keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, s"vacuum keepLast must be >= 1, got $keepLast")
    vacuumCore(s, root,
      versions => versions.dropRight(keepLast).toSet)
  }

  /** WALL-CLOCK retention vacuum: drop every version whose commit stamp
    * (`#ts=`, monotonized on read exactly like [[versionAsOf]]) is
    * older than `olderThanMs` before now — the shape retention is
    * actually scheduled in ("keep 30 days: cover every training run
    * still reading"), where a burst of commits must not push
    * yesterday's version out the way a count-based sweep would. The
    * HEAD always survives regardless of age (a store must stay
    * readable), versions written before stamping existed count as
    * epoch 0 (maximally old), and everything else — pointer-carry
    * safety, branch references, the durable tag ledger backfill, the
    * stale-claim sweep — is shared verbatim with [[vacuum]]. */
  def vacuumOlderThan(s: SparkSession, root: String,
      olderThanMs: Long): (Seq[Int], Seq[String]) = {
    require(olderThanMs >= 0, s"vacuum olderThanMs must be >= 0, got $olderThanMs")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val known = readSummaries(s, root)
    vacuumCore(s, root, { versions =>
      val latest = versions.last
      var running = 0L
      versions.flatMap { v =>
        running = math.max(running,
          summaryOf(s, root, known, v).ts.getOrElse(0L))
        if (v != latest && running < cutoff) Some(v) else None
      }.toSet
    })
  }

  /** The shared sweep under both retention shapes: `pick` names the
    * versions to drop from the ascending live chain (never the head —
    * both callers guarantee it). */
  private def vacuumCore(s: SparkSession, root: String,
      pick: IndexedSeq[Int] => Set[Int]): (Seq[Int], Seq[String]) = {
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir")
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, dirP)
    if (versions.isEmpty) return (Nil, Nil)
    val latest = versions.last
    val picked = pick(versions)
    val dropped = versions.filter(picked.contains)
    val survivors = versions.filterNot(picked.contains)
    // live BRANCH versions pointer-carry main dirs: every branch ref
    // counts as referenced, or vacuum would pull a forked experiment's
    // data out from under it
    val branchRefs: Set[String] = listBranches(s, root).flatMap { b =>
      val chainP = new org.apache.hadoop.fs.Path(chainDir(root, Some(b)))
      listVersions(fs, chainP).flatMap(v =>
        readVersionFile(s, root, v, Some(b)).refs.filter(_.nRows > 0)
          .flatMap(r => r.dir +: r.dvDirs))
    }.toSet
    // a ref's deletion-vector sidecars are as load-bearing as its data
    // dir: readAt anti-joins them, so a surviving version's DV dirs
    // must survive the sweep too
    val referenced: Set[String] = survivors
      .flatMap(v => readVersionFile(s, root, v).refs.filter(_.nRows > 0)
        .flatMap(r => r.dir +: r.dvDirs))
      .toSet ++ branchRefs
    // drop version files FIRST: a crash mid-vacuum must never leave a
    // live version file pointing at a dir the dir-sweep already deleted.
    // A dropped version's tag is the ONLY carrier of its batch's
    // idempotence — ledger it durably before the file goes.
    dropped.foreach { v =>
      readTag(s, root, v).foreach(t => writeTagMarker(s, root, t, v))
      fs.delete(new org.apache.hadoop.fs.Path(dirP, s"v$v.list"), false): Unit
    }
    // stale-claim/tmp sweep: a claim or a tmp version file for an
    // already-committed version is provably inert (tmp files are only
    // created while the claim is held, and no one can commit v while v's
    // claim is held — so v ≤ latest means its writer is gone); anything
    // for a version > latest may belong to a live committer — left alone
    fs.listStatus(dirP).map(_.getPath).foreach { p =>
      val n = p.getName
      val staleVersion =
        if (n.startsWith(".v") && n.endsWith(".claim"))
          n.stripPrefix(".v").stripSuffix(".claim").toIntOption
        else if (n.startsWith(".v") && n.endsWith(".tmp"))
          n.stripPrefix(".v").takeWhile(_.isDigit).toIntOption
        else None
      staleVersion.foreach { cv =>
        if (cv <= latest) fs.delete(p, false): Unit
      }
    }
    val rootP = new org.apache.hadoop.fs.Path(root)
    val deletable = fs.listStatus(rootP).map(_.getPath.getName)
      .flatMap(n => dirVersion(n).map(n -> _))
      .filter { case (name, k) => k <= latest && !referenced.contains(name) }
      .map(_._1).sorted.toIndexedSeq
    deletable.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(rootP, d), true): Unit
    }
    // an existing manifest-log checkpoint now carries dead entries:
    // rewrite it against the surviving chain (readers would simply
    // never consult the dead lines, but keeping the file tight keeps
    // its read O(live)); stores that never checkpointed stay that way
    if (dropped.nonEmpty &&
        fs.exists(new org.apache.hadoop.fs.Path(dirP, SummaryFile)))
      writeSummaryCheckpoint(s, root): Unit
    (dropped, deletable)
  }

  /** Latest committed version at `root` (0 = empty store): the largest N
    * with a COMPLETE `v{N}.list` — a crashed commit's data dir without
    * its version file is invisible, by design.
    *
    * @param branch the BRANCH chain to look at (None = main). */
  def latestVersion(s: SparkSession, root: String,
      branch: Option[String] = None): Int = {
    val p = new org.apache.hadoop.fs.Path(chainDir(root, branch))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    listVersions(fs, p).lastOption.getOrElse(0)
  }

  /** The committed version numbers at `dir` (complete `v{N}.list` files
    * only), ascending — the ONE parse of the naming scheme shared by
    * [[latestVersion]] and [[vacuum]]. */
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): IndexedSeq[Int] =
    if (!fs.exists(dir)) IndexedSeq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith("v") && n.endsWith(".list"))
          n.stripPrefix("v").stripSuffix(".list").toIntOption
        else None
      }.sorted.toIndexedSeq

  // ---- durable tag ledger --------------------------------------------

  /** Per-JVM high-water mark of the tag-ledger repair scan, keyed by the
    * store's fully-qualified root. Every live version ≤ the mark is
    * guaranteed to have its tag (if any) in the durable ledger, so a
    * tagged commit's idempotence check is ONE marker lookup — never a
    * scan over the version chain. */
  private val ledgerHigh =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def qualifiedRoot(s: SparkSession, root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  private def bumpLedger(s: SparkSession, root: String, v: Int): Unit =
    ledgerHigh.merge(qualifiedRoot(s, root), Int.box(v),
      (a, b) => Int.box(math.max(a, b))): Unit

  /** Repair scan: backfill ledger markers for any version committed past
    * this JVM's high-water mark (first call: the whole live chain —
    * bounded by retention; after that only versions OTHER drivers
    * committed, zero in the single-writer shape because [[commitDelta]]
    * bumps the mark on its own commits). Closes the crash window of a
    * committer that died between its version-file rename and its marker
    * write. Diagnostic [[versionFileReads]] counts the file opens so the
    * spec can pin the steady state at zero. */
  private def ensureTagLedger(s: SparkSession, root: String): Unit = {
    val key = qualifiedRoot(s, root)
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir")
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, dirP)
    if (versions.isEmpty) return
    val latest = versions.last
    val high0 = Option(ledgerHigh.get(key)).map(_.intValue).getOrElse(0)
    // a chain SHORTER than the cached mark means the store was deleted
    // and recreated at this root — drop the stale mark and rescan.
    // (Vacuum never lowers `latest`, so this can't false-positive; a
    // recreated chain that already outgrew the old mark is the one
    // undetectable case, and it only costs repair coverage for versions
    // the old chain happened to share — the documented per-process
    // fixture-stability assumption covers it.)
    val high = if (latest < high0) { ledgerHigh.remove(key); 0 } else high0
    if (latest > high) {
      versions.filter(_ > high).foreach { v =>
        readTag(s, root, v).foreach { t =>
          if (readTagMarker(s, root, t).isEmpty) writeTagMarker(s, root, t, v)
        }
      }
      bumpLedger(s, root, latest)
    }
  }

  /** Durable tag marker (`_versions/_tags/<url-encoded-tag>`, body = the
    * committed version). Exclusive create; an existing marker wins —
    * same tag means same batch, and first-committed is the version the
    * ledger answers with. */
  private def writeTagMarker(s: SparkSession, root: String,
      tag: String, v: Int): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir/$TagsDir")
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirP): Unit
    val p = new org.apache.hadoop.fs.Path(dirP, escape(tag))
    try {
      val out = fs.create(p, false)
      try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case _: java.io.IOException if fs.exists(p) => ()
    }
  }

  /** The version a tag committed, from the durable ledger. */
  private def readTagMarker(s: SparkSession, root: String,
      tag: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir/$TagsDir/${escape(tag)}")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else readWhole(fs, p).trim.toIntOption
  }

  // ---- version files ---------------------------------------------------

  /** Diagnostic: version-file opens by this JVM — lets SnapshotsSpec pin
    * the tagged-commit steady state at ZERO version-file reads per
    * redelivery check (the ledger answers, never a chain scan). */
  private[plans] val versionFileReads = new java.util.concurrent.atomic.AtomicLong()

  /** Version file format (driver-side, dependency-free, exact):
    * line 1 = the schema DDL (readers need it when every ref is empty);
    * optional `#tag=<url-encoded>` metadata line (the idempotence tag);
    * optional `#stats=<url-encoded-col>,…` line naming the tracked stats
    * columns; each further line = `url-encoded-split \t dir \t n_rows`
    * plus, per stats column, `\t min \t max \t n_nulls` cells (min/max
    * url-encoded, `~` = no non-null values — unambiguous because the
    * encoder escapes a literal tilde). Written to a temp name and
    * atomically renamed after the exclusive-create CLAIM (`.v{N}.claim`)
    * is won — the claim is the concurrency control, the rename the
    * visibility point. `next.ts` is ignored: the stamp is taken here. */
  private def writeVersionFile(s: SparkSession, root: String, v: Int,
      next: VersionFile, branch: Option[String]): Unit = {
    def cell(o: Option[String]): String = o.map(escape).getOrElse("~")
    // STRICTLY-INCREASING commit stamps: two commits landing in the same
    // millisecond (or a backwards clock step) would otherwise share an
    // as-of instant, and [[versionAsOf]]'s upward tie resolution would
    // make readAsOf(v1's stamp) return v2. Each version owns a distinct
    // instant: ts = max(predecessor's stamp + 1, wall clock).
    val prevTs =
      if (v <= 1) 0L
      else readVersionFile(s, root, v - 1, branch).ts.getOrElse(0L)
    val ts = math.max(prevTs + 1, System.currentTimeMillis())
    val body = (Seq(next.schema.toDDL) ++
      Seq(s"#ts=$ts") ++
      next.tag.map(t => s"#tag=${escape(t)}") ++
      next.fork.map(f => s"#fork=$f") ++
      next.constraints.map(c => s"#check=${escape(c)}") ++
      (if (next.zorder) Seq("#zorder=1") else Nil) ++
      (if (next.statsCols.isEmpty) Nil
       else Seq(s"#stats=${next.statsCols.map(escape).mkString(",")}")) ++
      (if (next.bloomCols.isEmpty) Nil
       else Seq(s"#bloom=${next.bloomCols.map(escape).mkString(",")}")) ++
      next.blooms.toSeq.sortBy(_._1).map { case ((sp, c), bytes) =>
        s"#bf=${escape(sp)}\t${escape(c)}\t" +
          java.util.Base64.getEncoder.encodeToString(bytes)
      } ++
      next.refs.sortBy(_.split).map { r =>
        val statCells = r.stats.flatMap(c =>
          Seq(cell(c.min), cell(c.max), c.nulls.toString))
        // trailing optional DV cells: comma-joined sidecar dirs + the
        // cumulative tombstone count (absent = no deletion vectors)
        val dvCells =
          if (r.dvDirs.isEmpty) Nil
          else Seq(r.dvDirs.map(escape).mkString(","), r.dvRows.toString)
        (Seq(escape(r.split), r.dir, r.nRows.toString) ++ statCells ++ dvCells)
          .mkString("\t")
      })
      .mkString("", "\n", "\n")
    val dirP = new org.apache.hadoop.fs.Path(chainDir(root, branch))
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirP): Unit
    val dst = new org.apache.hadoop.fs.Path(dirP, s"v$v.list")
    val claim = new org.apache.hadoop.fs.Path(dirP, s".v$v.claim")
    // ONE claim-and-commit attempt under the JVM lock (which serializes
    // in-process committers cheaply; the claim file extends the same
    // exclusion across DRIVERS): true = committed, false = claim denied
    // with no committed version visible. The GRACE WAIT between denied
    // attempts sleeps OUTSIDE the lock — the lock is JVM-global across
    // every store, and sleeping under it would stall all in-process
    // commits for the whole grace window.
    def attemptOnce(): Boolean = commitLock.synchronized {
      if (fs.exists(dst)) loseRace(fs, claim = null, root, v)
      if (!tryClaim(fs, claim)) {
        if (fs.exists(dst)) loseRace(fs, claim = null, root, v)
        return false
      }
      try {
        // re-check AFTER winning the claim: a racer may have completed
        // its WHOLE commit (claim released) between our first exists
        // check and our claim — on overwriting-rename filesystems
        // (POSIX/local) renaming now would silently replace its
        // committed version file
        if (fs.exists(dst)) loseRace(fs, claim = null, root, v)
        val tmp = new org.apache.hadoop.fs.Path(dirP,
          s".v$v.list.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = fs.create(tmp, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, dst)) {
          fs.delete(tmp, false): Unit
          loseRace(fs, claim, root, v)
        }
        true
      } finally commitPoint.release(fs, claim)
    }
    if (!attemptOnce()) {
      // a denied claim with NO committed version usually means a LIVE
      // cross-driver committer is between its claim and its rename (or
      // a conditional put blipped) — grace-wait for its rename
      // (→ CommitRaceLost, the rebase path) or its release (→ our
      // retried claim wins) instead of refusing instantly. Only a claim
      // still held with no version appearing after the grace budget is
      // treated as an orphan.
      val graceMs = s.conf
        .getOption("spark.graft.snapshot.claimGraceMs")
        .map(_.toLong).getOrElse(12000L)
      val deadline = System.nanoTime() + graceMs * 1000000L
      var committed = false
      while (!committed && System.nanoTime() < deadline) {
        Thread.sleep(math.min(500L, math.max(1L, graceMs / 8)))
        committed = attemptOnce()
      }
      if (!committed)
        throw graft.core.GraftAnalysisException(Seq(
          s"orphaned commit claim at $claim: a committer for v$v " +
            s"crashed between its claim and its version-file rename " +
            s"(no version appeared within the ${graceMs} ms grace " +
            "window) — after confirming no committer is live, delete " +
            "the claim file to unwedge the store (vacuum sweeps claims " +
            "only for versions already committed)"))
    }
  }

  /** Typed race signal: a concurrent committer landed this version
    * number first. [[commitWithRebase]] catches it and AUTO-REBASES
    * (re-read head, overlap-check, retry); [[mergeInto]] re-derives its
    * merge; every commit that never rebases refuses in
    * [[publishOrRefuse]]. */
  private[plans] final case class CommitRaceLost(root: String, v: Int)
    extends RuntimeException(
      s"concurrent commit detected at $root: v$v already exists")

  /** Typed "version not on disk" signal: the version was never
    * committed, or a retention sweep vacuumed it. Extends
    * [[IllegalArgumentException]] so callers matching the historical
    * exception type keep working, but carries the (root, version,
    * branch) structurally — [[DocIndex.refresh]]'s vacuumed-CDC-base
    * fallback matches on THIS, never on message wording. */
  final class NoSuchVersionException(val root: String, val version: Int,
      val branch: Option[String])
    extends IllegalArgumentException(
      s"no committed version v$version at $root" +
        branch.fold("")(b => s" on branch '$b'"))

  /** Publish `next` for a commit that never rebases ([[commitFull]],
    * [[restore]], [[dropSplits]], [[compactDeletionVectors]],
    * [[createBranch]]): a full rewrite or a maintenance step has no
    * defined rebase over an interleaved commit, and must not silently
    * clobber it, so a lost claim race refuses. */
  private def publishOrRefuse(s: SparkSession, root: String, v: Int,
      next: VersionFile, op: String, branch: Option[String] = None): Unit =
    try writeVersionFile(s, root, v, next, branch)
    catch {
      case CommitRaceLost(_, lostV) =>
        throw graft.core.GraftAnalysisException(Seq(
          s"$op at $root lost its commit race: v$lostV" +
            branch.fold("")(b => s" of branch '$b'") + " landed first and " +
            s"nothing was published — $op never rebases over an " +
            "interleaved commit; re-read the head and run it again if " +
            "still intended"))
    }

  private def loseRace(fs: org.apache.hadoop.fs.FileSystem,
      claim: org.apache.hadoop.fs.Path, root: String, v: Int): Nothing = {
    if (claim != null) commitPoint.release(fs, claim)
    throw CommitRaceLost(root, v)
  }

  /** How the exclusive CLAIM that guards a version number is acquired
    * across drivers — the one storage primitive the commit protocol
    * needs. The default covers POSIX (O_EXCL) and HDFS
    * (create-no-overwrite); an object-store deployment plugs a
    * conditional-put implementation (S3 `If-None-Match: *`, GCS
    * `ifGenerationMatch=0`, Azure `If-None-Match`) via
    * [[Snapshots.setCommitPointStrategy]]. The contract: `tryClaim`
    * returns true for EXACTLY ONE caller per path until that claim is
    * released — returning false when no one holds the claim is safe
    * (the committer refuses or rebases, never corrupts), returning true
    * twice is not. */
  trait CommitPointStrategy {
    /** Atomically create the claim marker; false = already held. */
    def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
        claim: org.apache.hadoop.fs.Path): Boolean
    /** Remove the claim marker (idempotent). */
    def release(fs: org.apache.hadoop.fs.FileSystem,
        claim: org.apache.hadoop.fs.Path): Unit =
      fs.delete(claim, false): Unit
  }

  /** Atomic exclusive create of the claim file. java.nio O_EXCL for
    * local paths (Hadoop's RawLocalFileSystem create-no-overwrite is
    * check-then-act, not atomic); Hadoop's exclusive create elsewhere
    * (atomic on HDFS; object stores without atomic create plug a
    * conditional-put strategy — see [[CommitPointStrategy]]). */
  object DefaultCommitPoint extends CommitPointStrategy {
    override def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
        claim: org.apache.hadoop.fs.Path): Boolean = {
      val q = fs.makeQualified(claim)
      if (q.toUri.getScheme == "file")
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(q.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else
        try { fs.create(claim, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(claim) => false
        }
    }
  }

  @volatile private var commitPoint: CommitPointStrategy = DefaultCommitPoint

  /** Install the deployment's claim strategy (process-wide; the default
    * suits POSIX and HDFS). Pass [[DefaultCommitPoint]] to restore. */
  def setCommitPointStrategy(st: CommitPointStrategy): Unit =
    commitPoint = st

  private def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
      claim: org.apache.hadoop.fs.Path): Boolean =
    commitPoint.tryClaim(fs, claim)

  /** Serializes same-process commit-point renames (see above). */
  private val commitLock = new Object

  /** One parse of a `v{N}.list` — schema, refs AND the tag line, so no
    * caller ever reads the same file twice. */
  private final case class VersionFile(
      schema: org.apache.spark.sql.types.StructType,
      refs: Seq[SplitRef], tag: Option[String],
      statsCols: IndexedSeq[String], fork: Option[Int] = None,
      ts: Option[Long] = None,
      constraints: IndexedSeq[String] = IndexedSeq.empty,
      zorder: Boolean = false,
      bloomCols: IndexedSeq[String] = IndexedSeq.empty,
      blooms: Map[(String, String), Array[Byte]] = Map.empty) {
    /** The base of the next commit on this chain: the same schema,
      * contract (stats, constraints, clustering, blooms) and refs,
      * without the tag and fork point that belong to this version alone. */
    private[Snapshots] def successor: VersionFile = copy(tag = None, fork = None)
  }

  /** Per-JVM parse cache for version files, keyed by qualified path and
    * validated by (modification time, length). Version files are written
    * once by atomic rename and only ever DELETED (vacuum) — never
    * rewritten in place — so a validated cache entry is exact; the
    * validation guards the recreated-store-at-the-same-root case (specs,
    * operators replaying into a swept root). Turns [[history]] /
    * [[versionAsOf]] / the per-commit predecessor-stamp read from
    * O(versions) file reads per call into one `getFileStatus` per
    * version ([[versionFileReads]] counts only genuine reads, so the
    * spec pins the steady state). */
  /** BOUNDED (LRU, 64 entries): a long-running ingest driver parses one
    * new version file per micro-batch, and entries can be bloom-heavy —
    * an unbounded map would grow with the stream's lifetime. 64 covers
    * every hot access pattern (history/vacuum walk the live chain once;
    * steady-state commits touch head±1) while capping worst-case
    * retention at 64 version files' parses. */
  /** A cached parse. `fineNs` is the nanosecond mtime for `file://`
    * paths (-1 elsewhere); for coarse schemes, `firstSeenNano` anchors
    * the granularity window to the LOCAL MONOTONIC clock (when this
    * (mtime, len) was first observed) and `trusted` records that the
    * window has since closed — no comparison between the local clock
    * and the store's mtime stamps ever happens, so committer/store
    * clock skew cannot re-open the stale-serve this cache defends
    * against. */
  private final case class VfEntry(mtime: Long, len: Long, fineNs: Long,
      firstSeenNano: Long, trusted: Boolean, vf: VersionFile)

  private val vfCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, VfEntry](
        64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, VfEntry]): Boolean =
        size() > 64
    })

  /** Coarsest modification-time resolution the cache defends against on
    * filesystems whose Hadoop status is all we have (object-store
    * mounts and 1 s-resolution filesystems). Without this, a store
    * swept and re-seeded at the same root inside one mtime tick could
    * produce a same-(mtime, length) v{N}.list whose STALE parse the
    * cache serves silently. Two-tier defense: `file://` paths validate
    * with java.nio's NANOSECOND lastModifiedTime (exact — memoization
    * stays hot for freshly-written files); every other scheme keeps an
    * entry PROVISIONAL (served fresh each call, never trusted from
    * cache) until the local MONOTONIC clock has advanced a full window
    * past the first observation of its (mtime, len) — at which point
    * the store's own clock has necessarily left the mtime tick, so any
    * rewrite of the path lands a different coarse mtime and one final
    * re-parse is exact from then on. Monotonic-elapsed only: local
    * wall-clock is never compared against store mtimes (clock skew
    * must not re-open the window). */
  private val VfMtimeGranularityMs = 2000L

  /** Nanosecond mtime for local files (the fine validator above); -1 =
    * not a local path, or the file vanished mid-stat (treated as a
    * cache miss — never a stale serve). */
  private def fineMtime(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val q = fs.makeQualified(p)
    if (q.toUri.getScheme != "file") -1L
    else
      try java.nio.file.Files
        .getLastModifiedTime(java.nio.file.Paths.get(q.toUri.getPath))
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => -1L }
  }

  private def readVersionFile(s: SparkSession, root: String, v: Int,
      branch: Option[String] = None): VersionFile = {
    val p = new org.apache.hadoop.fs.Path(s"${chainDir(root, branch)}/v$v.list")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new NoSuchVersionException(root, v, branch)
      }
    val key = fs.makeQualified(p).toString
    val fine = fineMtime(fs, p)
    val hit = vfCache.get(key)
    val statMatch = hit != null && hit.mtime == st.getModificationTime &&
      hit.len == st.getLen
    if (statMatch) {
      if (fine >= 0) {
        // local scheme: exact nanosecond validation
        if (hit.fineNs == fine) return hit.vf
      } else if (hit.trusted) {
        return hit.vf
      } else if (System.nanoTime() - hit.firstSeenNano >=
          VfMtimeGranularityMs * 1000000L) {
        // the coarse-mtime window has closed in STORE time: when this
        // (mtime, len) was first observed, store-now was already >=
        // mtime (a stamp is never in the store's future), and the
        // monotonic wait since added >= the granularity — so any
        // rewrite from here on lands a different coarse mtime. The
        // PROVISIONAL parse may itself predate an in-window rewrite,
        // so re-parse once NOW and trust from here on.
        val vf = parseVersionFile(readWhole(fs, p))
        vfCache.put(key, hit.copy(trusted = true, vf = vf))
        return vf
      }
      // else: still inside the window — re-parse below, keeping the
      // original firstSeenNano anchor
    }
    val vf = parseVersionFile(readWhole(fs, p))
    val firstSeen = if (statMatch) hit.firstSeenNano else System.nanoTime()
    vfCache.put(key, VfEntry(st.getModificationTime, st.getLen, fine,
      firstSeen, trusted = false, vf))
    vf
  }

  private def parseVersionFile(text: String): VersionFile = {
    val lines = text.split("\n").toIndexedSeq.filter(_.nonEmpty)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(lines.head)
    val statsCols = lines.find(_.startsWith("#stats="))
      .map(_.stripPrefix("#stats=").split(",").toIndexedSeq.map(unescape))
      .getOrElse(IndexedSeq.empty)
    def cell(c: String): Option[String] =
      if (c == "~") None else Some(unescape(c))
    val refs = lines.tail.filterNot(_.startsWith("#")).map { l =>
      val fields = l.split("\t", -1)
      val stats = statsCols.indices.map { i =>
        val base = 3 + i * 3
        StatCell(cell(fields(base)), cell(fields(base + 1)),
          fields(base + 2).toLong)
      }.toIndexedSeq
      val dvBase = 3 + statsCols.size * 3
      val (dvDirs, dvRows) =
        if (fields.length > dvBase)
          (fields(dvBase).split(",").toIndexedSeq.map(unescape),
            fields(dvBase + 1).toLong)
        else (IndexedSeq.empty[String], 0L)
      SplitRef(unescape(fields(0)), fields(1), fields(2).toLong, stats,
        dvDirs, dvRows)
    }
    val tag = lines.find(_.startsWith("#tag="))
      .map(l => unescape(l.stripPrefix("#tag=")))
    val fork = lines.find(_.startsWith("#fork="))
      .flatMap(_.stripPrefix("#fork=").toIntOption)
    val ts = lines.find(_.startsWith("#ts="))
      .flatMap(_.stripPrefix("#ts=").toLongOption)
    val constraints = lines.filter(_.startsWith("#check="))
      .map(l => unescape(l.stripPrefix("#check=")))
    val zorder = lines.contains("#zorder=1")
    val bloomCols = lines.find(_.startsWith("#bloom="))
      .map(_.stripPrefix("#bloom=").split(",").toIndexedSeq.map(unescape))
      .getOrElse(IndexedSeq.empty)
    val blooms = lines.filter(_.startsWith("#bf=")).map { l =>
      val Array(sp, c, b64) = l.stripPrefix("#bf=").split("\t", 3)
      (unescape(sp), unescape(c)) -> java.util.Base64.getDecoder.decode(b64)
    }.toMap
    VersionFile(schema, refs, tag, statsCols, fork, ts, constraints, zorder,
      bloomCols, blooms)
  }

  /** The idempotence tag recorded in `v{N}.list`, if any. */
  private def readTag(s: SparkSession, root: String, v: Int): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$VersionsDir/v$v.list")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else readVersionFile(s, root, v).tag
  }

  /** ATOMIC REPLACE of a tiny driver-side marker file — the ONE shared
    * implementation of the temp-write-then-swap convention ([[DocIndex]]
    * reuses it; the store's own version files go through the claim
    * protocol instead, and never replace). POSIX rename replaces
    * atomically; elsewhere FileContext's rename(OVERWRITE) is used
    * (atomic on HDFS). On failure the temp file is LEFT IN PLACE and
    * named — never deleted alongside a possibly-already-deleted
    * destination, which would destroy the only copy. */
  private[plans] def atomicReplace(s: SparkSession,
      dst: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit = {
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dir = dst.getParent
    fs.mkdirs(dir): Unit
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(body) finally out.close()
    val qTmp = fs.makeQualified(tmp)
    if (qTmp.toUri.getScheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qTmp.toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    else
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.makeQualified(dst).toUri, s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case e: java.io.IOException =>
          throw graft.core.GraftAnalysisException(Seq(
            s"atomic replace of $dst failed (${e.getMessage}) — the new " +
              s"content is intact at $tmp; move it into place manually " +
              "or retry"))
      }
  }

  private[plans] def readWholeFile(s: SparkSession,
      p: org.apache.hadoop.fs.Path): String = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    readWhole(fs, p)
  }

  private def readWhole(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    if (p.getName.endsWith(".list")) versionFileReads.incrementAndGet(): Unit
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Leaf `split=…` paths for reading exactly `splits` out of a version
    * dir, or None when a value would not round-trip the writer's path
    * encoding (empty string writes as the Hive default-partition dir and
    * reads back NULL — the whole-dir fallback preserves that legacy
    * shape rather than silently changing it). The escaping IS the
    * writer's: `partitionBy("split")` names its dirs through
    * `ExternalCatalogUtils.escapePathName`, so applying the same
    * function here is exact by construction (glob-safe too — every glob
    * metacharacter is in its escape set). Pinned by ReadRefsPruningSpec
    * against hostile split names and a poisoned sibling layout. */
  private[plans] def splitLeafPaths(root: String, dir: String,
      splits: Seq[String]): Option[Seq[String]] =
    if (splits.exists(sp => sp == null || sp.isEmpty)) None
    // .distinct: defense in depth against an out-of-contract version file
    // listing one split twice in a dir (system-written refs are map-keyed,
    // so unreachable normally) — duplicate scan paths would duplicate rows
    else Some(splits.distinct.sorted.map(sp => s"$root/$dir/split=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(sp)))

  /** Distinct values of `df`'s single STRING column in ONE job and ZERO
    * exchanges (r17, guide §1.2/§2.4 — job-count floor of the commit
    * path): each task emits its partition's distinct set, the driver
    * merges. The shuffle `distinct().collect()` this replaces costs two
    * AQE query-stage jobs per call — pure job-submission latency on the
    * commit path's metadata collects, whose value domain (split/bucket
    * names) is bounded by the store's split count. The cap bounds the
    * driver: a task whose distinct count exceeds it flags overflow, and
    * task results are merged as they arrive, so the driver holds at most
    * `cap` merged values plus one partition's set; once either overflows
    * (pathological: a near-unique column, or many partitions each under
    * the cap) later results are dropped and the call STANDS DOWN to the
    * shuffle distinct, so the result is identical on any input. NULLs
    * are preserved (commitDelta's null-split refusal reads them). */
  private[graft] def distinctStringsOneJob(df: DataFrame): Set[String] = {
    val cap = df.sparkSession.conf
      .getOption("spark.graft.snapshot.metaCollectCap")
      .map(_.toInt).getOrElse(100000)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val seen = new scala.collection.mutable.HashSet[String]()
      var overflow = false
      while (it.hasNext && !overflow) {
        val r = it.next()
        // copy out of the (possibly reused) row buffer immediately
        seen += (if (r.isNullAt(0)) null else r.getUTF8String(0).toString)
        if (seen.size > cap) overflow = true
      }
      Iterator.single((overflow, seen.toArray))
    }
    val merged = new scala.collection.mutable.HashSet[String]()
    var overflow = false
    // the handler runs on the driver, one task result at a time
    df.sparkSession.sparkContext.runJob(parts,
      (it: Iterator[(Boolean, Array[String])]) => it.next(),
      (_: Int, part: (Boolean, Array[String])) =>
        if (!overflow) {
          if (part._1) overflow = true
          else {
            merged ++= part._2
            if (merged.size > cap) { overflow = true; merged.clear() }
          }
        })
    if (overflow) df.distinct().collect().map(_.getString(0)).toSet
    else merged.toSet
  }

  /** One scan per referenced version dir, each PRUNED to the splits the
    * version actually takes from that dir (a dir written by a later
    * commit holds splits this version must NOT see). The pruning is
    * TWO-LAYERED: the scan's paths are the referenced splits' leaf dirs
    * ([[splitLeafPaths]] — listing IO is ∝ splits READ, not ∝ splits in
    * the dir: a bloom-pruned point lookup on a 3,000-split corpus stats
    * 2 subdirs instead of listing 6,000), and the `isin` partition
    * filter stays on top (planning-time, never a data pass) so the
    * result is decided by the filter even on the whole-dir fallback
    * path. Dirs written BEFORE a schema-widening commit lack the new
    * columns; the explicit read schema null-fills them (the parquet
    * missing-column contract). */
  private def readRefs(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      refs: Seq[SplitRef]): DataFrame = {
    val live = refs.filter(_.nRows > 0)
    val byDir = live.groupBy(_.dir).toSeq.sortBy(_._1)
    val scan = byDir.map { case (dir, rs) =>
      val reader = s.read.schema(schema).option("basePath", s"$root/$dir")
      splitLeafPaths(root, dir, rs.map(_.split))
        .fold(reader.parquet(s"$root/$dir"))(ps => reader.parquet(ps: _*))
        .filter(col("split").isin(rs.map(_.split): _*))
        // partition columns can surface out of schema order — pin the
        // stored order so every version reads back shape-identical
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }.reduceOption(_ unionByName _)
      .getOrElse(s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    // MERGE-ON-READ: anti-join the deletion vectors of any ref that
    // carries them. Each DV dir applies ONLY to the splits whose ref
    // lists it — a split rewritten after a takedown folded its
    // tombstones in, and a re-added doc_id there must NOT be re-deleted
    // by the stale sidecar. Zero cost on DV-less stores (the common
    // case: no join is planned at all); DV sides are takedown-sized, so
    // AQE broadcasts them at runtime.
    val withDv = live.filter(_.dvDirs.nonEmpty)
    if (withDv.isEmpty) scan
    else {
      val dvSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("split",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("doc_id",
          schema("doc_id").dataType)))
      val splitsByDv: Seq[(String, Seq[String])] = withDv
        .flatMap(r => r.dvDirs.map(_ -> r.split))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
      val dv = splitsByDv.map { case (d, sps) =>
        s.read.schema(dvSchema).parquet(s"$root/$d")
          .filter(col("split").isin(sps: _*))
      }.reduce(_ unionByName _)
      // the join hoists its keys to the front — re-pin the stored column
      // order (readAt's shape-identical contract)
      scan.join(dv, Seq("split", "doc_id"), "left_anti")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Split values round-trip MY version-file format via URL-encoding
    * (tab/newline-safe); partition paths are never hand-constructed —
    * see [[readRefs]]. */
  private def escape(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def unescape(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
}

/** One split's metadata accumulated inside a commit's write job (see
  * `Snapshots.writeSplits`): row and non-null doc_id counts, per stats
  * column the min/max order key and non-null count, per bloom column the
  * bitset. */
private[plans] final class SplitMeta(nStats: Int, nBlooms: Int, bloomBytes: Int)
    extends Serializable {
  var rows = 0L
  var docIds = 0L
  val mins = new Array[AnyRef](nStats)
  val maxs = new Array[AnyRef](nStats)
  val nonNull = new Array[Long](nStats)
  val blooms: Array[Array[Byte]] = Array.fill(nBlooms)(new Array[Byte](bloomBytes))
}

/** Per-split typed aggregator over (split, has_doc_id, keys…, fingerprints…)
  * rows: the one observed aggregate of a commit's write. `kinds(i)` says
  * how stats key i compares, matching Spark's own min/max order; ties keep
  * the value seen first, as Spark's `least`/`greatest` do. The result is
  * the serialized split → [[SplitMeta]] map, decoded on the driver by
  * [[SplitMetaAgg.decode]]. */
private[plans] final class SplitMetaAgg(kinds: Array[Int], nBlooms: Int,
    bloomBytes: Int, bloomK: Int) extends org.apache.spark.sql.expressions.Aggregator[
      org.apache.spark.sql.Row,
      scala.collection.mutable.HashMap[String, SplitMeta], Array[Byte]] {
  import SplitMetaAgg._
  private type Buf = scala.collection.mutable.HashMap[String, SplitMeta]

  override def zero: Buf = new scala.collection.mutable.HashMap[String, SplitMeta]

  override def reduce(b: Buf, r: org.apache.spark.sql.Row): Buf = {
    val sp = if (r.isNullAt(0)) null else r.getString(0)
    val m = b.getOrElseUpdate(sp, new SplitMeta(kinds.length, nBlooms, bloomBytes))
    m.rows += 1
    if (r.getBoolean(1)) m.docIds += 1
    var i = 0
    while (i < kinds.length) {
      val k = r.get(2 + i).asInstanceOf[AnyRef]
      if (k != null) {
        m.nonNull(i) += 1
        if (m.mins(i) == null || compare(kinds(i), k, m.mins(i)) < 0) m.mins(i) = k
        if (m.maxs(i) == null || compare(kinds(i), k, m.maxs(i)) > 0) m.maxs(i) = k
      }
      i += 1
    }
    var j = 0
    while (j < nBlooms) {
      graft.functions.BloomOps.set(m.blooms(j), r.getLong(2 + kinds.length + j),
        bloomK)
      j += 1
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.foreach { case (sp, y) =>
      a.get(sp) match {
        case None => a(sp) = y
        case Some(x) =>
          x.rows += y.rows
          x.docIds += y.docIds
          var i = 0
          while (i < kinds.length) {
            x.nonNull(i) += y.nonNull(i)
            if (y.mins(i) != null && (x.mins(i) == null ||
                compare(kinds(i), y.mins(i), x.mins(i)) < 0)) x.mins(i) = y.mins(i)
            if (y.maxs(i) != null && (x.maxs(i) == null ||
                compare(kinds(i), y.maxs(i), x.maxs(i)) > 0)) x.maxs(i) = y.maxs(i)
            i += 1
          }
          x.blooms.indices.foreach(j =>
            graft.functions.BloomOps.orInto(x.blooms(j), y.blooms(j)))
      }
    }
    a
  }

  override def finish(b: Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(b)
    out.close()
    bos.toByteArray
  }

  override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
    org.apache.spark.sql.Encoders.javaSerialization[Buf]
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}

private[plans] object SplitMetaAgg {
  /** Key kinds: UTF-8 bytes (unsigned byte order), integral numbers (also
    * epoch days and micros), floating point (Spark's order: -0.0 equals
    * 0.0, NaN above everything) and anything `Comparable` (decimal,
    * boolean, local date-time). */
  val Bytes = 0
  val Integral = 1
  val Floating = 2
  val Ordered = 3

  def compare(kind: Int, a: AnyRef, b: AnyRef): Int = kind match {
    case Bytes =>
      java.util.Arrays.compareUnsigned(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case Integral =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    case Floating =>
      val (x, y) = (a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case _ => a.asInstanceOf[Comparable[AnyRef]].compareTo(b)
  }

  def decode(bytes: Array[Byte]): scala.collection.Map[String, SplitMeta] = {
    val loader = classOf[SplitMeta].getClassLoader
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)) {
      override def resolveClass(d: java.io.ObjectStreamClass): Class[_] =
        try Class.forName(d.getName, false, loader)
        catch { case _: ClassNotFoundException => super.resolveClass(d) }
    }
    try in.readObject().asInstanceOf[scala.collection.Map[String, SplitMeta]]
    finally in.close()
  }
}

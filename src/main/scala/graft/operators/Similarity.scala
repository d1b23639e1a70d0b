package graft.operators

import graft.core.Checkpoint.Ops
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star ops, SURVEY §2.3; `embeddings.parquet` fixture:
  * `vec_id bigint, embedding array<float>, label int`).
  *
  * Three tiers:
  *  - [[bruteForceTopK]]: exact scan + top-k. Compiles to a single
  *    TakeOrderedAndProject over the scan — no shuffle; the right baseline
  *    and still the right answer for one-off queries at any scale.
  *  - [[withLshBucketArray]] / [[lshTopK]] / [[lshKnnJoin]]:
  *    random-hyperplane LSH — candidates share a sign-pattern bucket in
  *    ≥1 table; cost ∝ bucket size. lshTopK filters on the per-row bucket
  *    ARRAY (no row multiplication, zero exchanges).
  *  - [[ivfTopK]]: inverted-file index — vectors partitioned by nearest
  *    coarse centroid, queries probe the `nprobe` nearest cells. The cell
  *    assignment is itself a column, so a table can be *written partitioned
  *    by cell* and probing prunes partitions at scan time at 100 TB.
  */
object Similarity {

  /** Deterministic pseudo-random unit hyperplanes (driver-side, tiny).
    * `private[graft]` so the oracle-SQL builder can embed the identical
    * plane constants as literals. */
  private[graft] def planes(
      n: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Exact cosine top-k against a literal query vector. */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(
        col(idCol),
        GraftFunctions.cosineSim(col(vecCol), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch kNN JOIN: for EVERY row, its k most-similar neighbors among the
    * LSH-candidate set (hard-negative mining, cluster seeding — the
    * all-rows companion of the single-query [[lshTopK]]). Candidate pairs
    * come from [[Dedup.embeddingNearDupPairs]] with the threshold open
    * (each qualifying pair exists exactly once, no dedup shuffle), are
    * symmetrized, and ranked per row by exact cosine; rows whose buckets
    * collide with fewer than k others return fewer neighbors — the
    * standard LSH-recall contract (raise `tables` for higher recall).
    * Shuffles carry ids + an 8-byte bucket array, the verify join carries
    * vectors once, and the final ranking is one window over the candidate
    * pairs (bounded by bucket sizes, not n²). */
  def lshKnnJoin(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      planesPerTable: Int = 8, tables: Int = 4, seed: Long = 42L): DataFrame = {
    val pairs = Dedup.embeddingNearDupPairs(
      df, idCol, vecCol, dim, threshold = -1.0, planesPerTable, tables, seed)
    // symmetrize by exploding each pair into both directions IN PLACE — a
    // self-union would compile to two independent copies of the whole
    // candidate-generation subplan (bucket agg + vector joins + cosine)
    val sym = pairs
      .select(explode(array(
        struct(col("id_a").as(idCol), col("id_b").as("neighbor_id"), col("cosine")),
        struct(col("id_b").as(idCol), col("id_a").as("neighbor_id"), col("cosine"))))
        .as("e"))
      .select(col(s"e.$idCol"), col("e.neighbor_id"), col("e.cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** Attach the per-table LSH bucket ARRAY per row: tbs[t] = sign-bit
    * bucket of the row vector against table t's `planesPerTable`
    * hyperplanes. One row per input row — the array form is what the
    * first-colliding-table dedup kernel consumes. */
  def withLshBucketArray(
      df: DataFrame, vecCol: String, dim: Int,
      planesPerTable: Int, tables: Int, seed: Long): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val all = planes(planesPerTable * tables, dim, seed)
    val tableBuckets: Seq[Column] = (0 until tables).map { t =>
      (0 until planesPerTable).map { p =>
        val plane = all(t * planesPerTable + p)
        when(GraftFunctions.dotProduct(col(vecCol), typedLit(plane)) > 0d,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    df.withColumn("tbs", array(tableBuckets: _*))
  }

  /** LSH-bucketed approximate top-k: candidates = rows sharing any table's
    * bucket with the query; exact cosine re-rank on candidates only.
    * Works on the per-row bucket ARRAY ([[withLshBucketArray]]) — one row
    * per input row matched against the query's bucket per table — so a
    * row is a candidate at most once by construction: no posexplode row
    * multiplication and no pair-dedup exchange (the former
    * `dropDuplicates(id)` shuffle). The whole query is scan → filter →
    * TakeOrderedAndProject: zero exchanges at any corpus size. */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      query: Seq[Float], k: Int,
      planesPerTable: Int = 10, tables: Int = 6, seed: Long = 42L): DataFrame = {
    val all = planes(planesPerTable * tables, dim, seed)
    def bucketOf(vec: Seq[Float], t: Int): Long =
      (0 until planesPerTable).map { p =>
        val plane = all(t * planesPerTable + p)
        val d = vec.zip(plane).map { case (x, y) => x.toDouble * y.toDouble }.sum
        if (d > 0) 1L << p else 0L
      }.sum
    val queryBuckets = (0 until tables).map(t => (t, bucketOf(query, t)))

    val bucketed = withLshBucketArray(df, vecCol, dim, planesPerTable, tables, seed)
    val cond = queryBuckets
      .map { case (t, b) => col("tbs").getItem(t) === b }
      .reduce(_ || _)
    bucketed.filter(cond)
      .select(
        col(idCol),
        GraftFunctions.cosineSim(col(vecCol), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Coarse centroids for IVF: the first `nCells` vectors by id (seeded,
    * deterministic). A production build would run k-means refinement; the
    * index structure and probing are identical. */
  def ivfCentroids(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int): Seq[(Int, Seq[Float])] =
    df.orderBy(col(idCol).asc).limit(nCells)
      .select(col(vecCol)).collect()
      .toIndexedSeq.zipWithIndex
      .map { case (row, i) => (i, row.getSeq[Float](0)) }

  /** Assign each row to its nearest centroid cell — ONE fused codegen
    * expression over the constant centroid matrix (plan size constant in
    * nCells; no shuffle). Centroids must be cell-indexed 0..n-1 in order —
    * the kernel's argmax index IS the cell id. Bitwise-equal to the
    * nCells-wide cosine-array formulation it replaces, which blew up the
    * expression tree and codegen at realistic 4k–64k cell counts. */
  def withIvfCell(
      df: DataFrame, vecCol: String, centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    require(centroids.zipWithIndex.forall { case ((c, _), i) => c == i },
      "centroids must be densely indexed 0..n-1 in cell order")
    df.withColumn("cell",
      GraftFunctions.ivfCell(col(vecCol), centroids.map(_._2)))
  }

  /** Centroid-update quantization scale: per-dimension contributions are
    * floored to integer nano-units before the sum, so the Lloyd update is a
    * LONG sum — order-independent, hence BIT-REPRODUCIBLE on any
    * partitioning and any engine (the same discipline that made the probe's
    * GD training and the cluster report exact; a raw double `avg()` depends
    * on summation order). Resolution 10⁻⁹ sits below the float32 ulp of
    * any unit-scale embedding, so refinement quality is unchanged.
    * Headroom: |x| ≤ 16 leaves room for ~5·10⁸ members per cell in the
    * long sum; for larger cells lower the scale (documented trade, same as
    * the cluster report's 10⁻⁶ quanta). */
  private[graft] val CentroidQuanta = 1000000000.0

  /** Lloyd (k-means) refinement of the coarse IVF centroids: `iters`
    * assignment/update rounds, each a single DataFrame aggregation —
    * assignment is the fused [[withIvfCell]] expression, the update a
    * groupBy(cell) quantized-integer-sum mean per dimension (see
    * [[CentroidQuanta]]): floor(x·10⁹) long sums + a count, mean =
    * sum/n/10⁹ cast to float32. DETERMINISTIC on any partitioning —
    * partitioning-invariance is asserted in SimilaritySpec, and the DuckDB
    * oracle replays the rounds bit-for-bit with no rounding caveat. Only
    * the nCells-row centroid table is ever collected (once per iteration).
    * Empty cells keep their previous centroid. On clustered corpora this
    * lifts probe recall well above the first-n-by-id seeds (recall
    * asserted in SimilaritySpec); the index/probe structure is unchanged. */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      iters: Int = 3): Seq[(Int, Seq[Float])] = {
    var cents = ivfCentroids(df, idCol, vecCol, nCells)
    val dim = cents.head._2.length
    val vecs = df.select(col(vecCol))
    for (_ <- 0 until iters) {
      val sums = (0 until dim).map(i =>
        sum(floor(col(vecCol).getItem(i).cast("double") * lit(CentroidQuanta))
          .cast("long")).as(s"s$i"))
      val rows = withIvfCell(vecs, vecCol, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val byCell = rows.map { r =>
        val n = r.getLong(1).toDouble
        r.getInt(0) -> (0 until dim).map(i =>
          (r.getLong(i + 2).toDouble / n / CentroidQuanta).toFloat)
      }.toMap
      cents = cents.map { case (c, old) => (c, byCell.getOrElse(c, old)) }
    }
    cents
  }

  private def cosDriver(a: Seq[Float], b: Seq[Float]): Double = {
    // same fail-fast dimension contract as VectorOps.cosine
    require(a.length == b.length,
      s"graft vector ops require equal dimensions, got ${a.length} vs ${b.length}")
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** The `nprobe` cell ids whose centroids are nearest the query. */
  def nearestCells(
      centroids: Seq[(Int, Seq[Float])], query: Seq[Float], nprobe: Int): Seq[Int] =
    centroids.sortBy { case (_, c) => -cosDriver(query, c) }
      .take(nprobe).map(_._1)

  /** IVF probe with caller-supplied centroids (first-n, k-means-refined,
    * or persisted): search only the `nprobe` cells whose centroids are
    * nearest the query, exact cosine within them. */
  def ivfTopKWith(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val probed = nearestCells(centroids, query, nprobe)
    withIvfCell(df, vecCol, centroids)
      .filter(col("cell").isin(probed: _*))
      .select(
        col(idCol),
        GraftFunctions.cosineSim(col(vecCol), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF probe: search only the `nprobe` cells whose centroids are nearest
    * the query, exact cosine within them. */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int,
      nCells: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(df, idCol, vecCol,
      ivfCentroids(df, idCol, vecCol, nCells), query, k, nprobe)

  /** Materialize the corpus as an on-disk IVF index: rows written
    * partitioned BY CELL, so probing reads only nprobe/nCells of the data —
    * at 100 TB the scan cost of a query drops with the partition count
    * instead of the corpus size. Returns the centroids (k rows, tiny) for
    * the caller to persist alongside.
    *
    * `quantize = true` stores the int8 tier instead of float32: per row a
    * one-byte-per-component packed code column (`qcodes` binary) + its
    * `scale` double — ~4× smaller vector payload (the standard compression
    * for billion-vector IVF deployments; size and the ≥0.8 recall pin are
    * asserted in SimilaritySpec). `pq = Some((codebook, ksub))` stores the
    * PQ tier instead: one byte PER SUBSPACE (`pqcodes` binary, [[Pq]]) —
    * ~32× smaller at dim 64 / m 8, the IVF-PQ layout of billion-vector
    * deployments. Probes ([[ivfTopKFromIndex]], [[ivfTopKBatch]]) detect
    * the storage tier by schema and decode in-kernel at scan time. */
  def writeIvfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16, refineIters: Int = 0,
      quantize: Boolean = false,
      pq: Option[(Seq[Seq[Float]], Int)] = None): Seq[(Int, Seq[Float])] = {
    require(!(quantize && pq.nonEmpty), "pick ONE storage tier: int8 or pq")
    val centroids =
      if (refineIters > 0) kmeansCentroids(df, idCol, vecCol, nCells, refineIters)
      else ivfCentroids(df, idCol, vecCol, nCells)
    val assigned = withIvfCell(df, vecCol, centroids)
    // No write exchange (r17): the index write's input is a narrow
    // assignment projection over the ingest scan (no upstream shuffle),
    // so its file count is bounded by scan tasks × cells — and r16's
    // pinned A/B measured the rebalance exchange NEGATIVE on this family
    // at gate scale (Σ 30.2 s vs 29.8 s none; the fixed AQE-stage cost
    // never repays at a model-bounded cell count).
    storageProjected(assigned, df.columns.toSeq, vecCol, quantize, pq)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    centroids
  }

  /** The index row projection for a storage tier: float32 rows unchanged;
    * int8 → (scale, qcodes); pq → (pqcodes). ONE formula shared by the
    * full write and the incremental append, so the tiers can never
    * drift. */
  private def storageProjected(
      assigned: DataFrame, dataCols: Seq[String], vecCol: String,
      quantize: Boolean, pq: Option[(Seq[Seq[Float]], Int)]): DataFrame = {
    val keep = dataCols.filterNot(_ == vecCol).map(col) :+ col("cell")
    (quantize, pq) match {
      case (true, _) =>
        withQuantized(assigned, vecCol, keep)
          .withColumn("qcodes", GraftFunctions.packInt8(col("qvec")))
          .drop("qvec")
      case (_, Some((cb, ksub))) =>
        assigned.select(keep :+ Pq.codesCol(col(vecCol), cb, ksub).as("pqcodes"): _*)
      case _ => assigned
    }
  }

  /** INCREMENTAL index maintenance — the ANN tier's analog of the dedup
    * tier's `nearDupAgainstIndex` ingest: assign the NEW vectors to the
    * existing index's cells (the centroids are the index's contract; they
    * do NOT move — re-clustering would silently re-shuffle every standing
    * cell directory) and APPEND only the new rows' partitions. A daily
    * embedding ingest therefore costs one assignment projection + a
    * partition-local append of the new data, never an index rebuild.
    * Probes ([[ivfTopKFromIndex]], [[ivfTopKBatch]]) read the union
    * transparently — same layout, same partition pruning. The storage
    * tier is DETECTED from the index's own schema (a path-based parquet
    * append validates nothing, so a caller-supplied flag that disagreed
    * with the standing files would silently write a mixed-schema index
    * whose inferred schema — and therefore whose probe results — depend
    * on file-listing order; deriving the tier makes the mixed write
    * unrepresentable). Centroid drift is the operator's documented
    * trade: appended vectors join the NEAREST EXISTING cell, so recall
    * stays exact w.r.t. the assignment invariant; re-cluster (a fresh
    * [[writeIvfIndex]]) when the cell-size histogram ([[clusterReport]])
    * says the geometry moved. */
  def appendToIvfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Seq[(Int, Seq[Float])],
      pq: Option[(Seq[Seq[Float]], Int)] = None): Unit = {
    val standing = df.sparkSession.read.parquet(path).schema.fieldNames
    val quantized = standing.contains("qcodes")
    if (standing.contains("pqcodes"))
      require(pq.nonEmpty, "appending to a PQ index requires its codebook")
    else
      require(pq.isEmpty, s"index at $path is not PQ-coded; drop the codebook")
    val assigned = withIvfCell(df, vecCol, centroids)
    // no write exchange — see [[writeIvfIndex]]'s rationale
    storageProjected(assigned, df.columns.toSeq, vecCol, quantized, pq)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** IDEMPOTENT per-micro-batch append — the streaming-ingest form of
    * [[appendToIvfIndex]], safe under `foreachBatch`'s at-least-once
    * replay contract. The batch stages through an underscore directory
    * (invisible to index reads), then its files move into the live cell
    * partitions under DETERMINISTIC batch-tagged names and a commit
    * marker is written last:
    *
    *   - a replay of a COMMITTED batch sees the marker and returns false
    *     without touching the index;
    *   - a replay of a CRASHED half-moved attempt overwrites the same
    *     batch-tagged file names (cell assignment under frozen centroids
    *     is deterministic, so the same cells are touched), leaving no
    *     duplicate rows.
    *
    * Storage tier is detected from the standing schema like
    * [[appendToIvfIndex]]; markers are tiny underscore files that never
    * enter a data listing. */
  def appendBatchToIvfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Seq[(Int, Seq[Float])],
      batchTag: String,
      pq: Option[(Seq[Seq[Float]], Int)] = None): Boolean = {
    // no '-' in the tag: file names are `ingest-<tag>-part<i>.parquet`, so
    // a dash-bearing tag (day1-fix) would share the `ingest-day1-` prefix
    // with tag day1 — its files would match day1's report glob AND be
    // deleted by day1's crash-retry partial-cleanup
    require(batchTag.matches("[A-Za-z0-9_]+"),
      s"batchTag must be [A-Za-z0-9_]+ (got '$batchTag')")
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, s"_graft_ingest_$batchTag.committed")
    if (fs.exists(marker)) return false
    val standing = spark.read.parquet(path).schema.fieldNames
    val quantized = standing.contains("qcodes")
    if (standing.contains("pqcodes"))
      require(pq.nonEmpty, "appending to a PQ index requires its codebook")
    else
      require(pq.isEmpty, s"index at $path is not PQ-coded; drop the codebook")
    val staging = new Path(root, s"_graft_ingest_staging_$batchTag")
    fs.delete(staging, true): Unit
    val assigned = withIvfCell(df, vecCol, centroids)
    // no write exchange — see [[writeIvfIndex]]'s rationale
    storageProjected(assigned, df.columns.toSeq, vecCol, quantized, pq)
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    val cellDirs = Option(fs.listStatus(staging)).getOrElse(Array.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    cellDirs.foreach { st =>
      val live = new Path(root, st.getPath.getName)
      fs.mkdirs(live): Unit
      // clear partials a previous crashed attempt of THIS batch left behind
      Option(fs.listStatus(live)).getOrElse(Array.empty)
        .filter(_.getPath.getName.startsWith(s"ingest-$batchTag-"))
        .foreach(f => fs.delete(f.getPath, false): Unit)
      val parts = Option(fs.listStatus(st.getPath)).getOrElse(Array.empty)
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      parts.zipWithIndex.foreach { case (p, i) =>
        fs.rename(p.getPath, new Path(live, s"ingest-$batchTag-part$i.parquet")): Unit
      }
    }
    fs.delete(staging, true): Unit
    fs.create(marker).close()
    true
  }

  /** Persist an index's centroids as the on-disk artifact
    * [[writeIvfIndex]] tells the caller to keep: the probe-side contract
    * (cell geometry) made durable, so a serving process loads them
    * instead of re-deriving (floats round-trip parquet bit-exactly;
    * load ∘ save is the identity, asserted in SimilaritySpec). */
  def saveCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Float])]): Unit = {
    import spark.implicits._
    centroids.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCentroids]] artifact, densely ordered by cell. */
  def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Float])] =
    spark.read.parquet(path)
      .select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq)
      .sortBy(_._1).toSeq

  private def tombstoneDir(path: String): String = s"$path/_graft_tombstones"

  /** DELETE from an on-disk IVF index, phase 1 — tombstones: append the ids
    * to `<path>/_graft_tombstones/` (an underscore-prefixed directory, so
    * parquet's file listing never mixes it into the index data). O(batch)
    * cost, no standing-file touch — the redaction path (a PII hit, a
    * dedup'd doc) acknowledges immediately; probes mask pending tombstones
    * with a broadcast anti-join ([[readIndex]]), so a deleted vector stops
    * matching the moment this returns, compacted or not. */
  def tombstoneIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, ids: DataFrame): Unit =
    ids.select(col(idCol).cast("long").as(idCol))
      .write.mode("append").parquet(tombstoneDir(path))

  /** Pending (un-compacted) tombstones of an index, if any. */
  private def liveTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstoneDir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(p.toString).select(col(idCol)).distinct())
    else None
  }

  /** The index with pending deletes masked out — the ONE read used by every
    * probe, so a tombstoned vector is invisible whether or not compaction
    * has run. The tombstone side is the pending-delete batch (bounded by
    * compaction cadence, never corpus-sized), so the anti-join broadcasts
    * and the index side's `cell` partition pruning is undisturbed
    * (plan-asserted in SimilaritySpec). */
  private def readIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): DataFrame = {
    val index = spark.read.parquet(path)
    liveTombstones(spark, path, idCol) match {
      case Some(t) => index.join(broadcast(t), Seq(idCol), "left_anti")
      case None    => index
    }
  }

  /** DELETE phase 2 — compaction: physically rewrite ONLY the cell
    * partitions that hold a tombstoned row, then clear the tombstones.
    * Affected cells are found with one semi-join (a driver list of cell
    * ids — O(cells), never O(rows)); survivors of those cells are written
    * to an underscore-staging directory (invisible to concurrent index
    * reads) and swapped in per cell with O(affected-cells) filesystem
    * renames. Untouched cells' files are never opened, let alone
    * rewritten (asserted byte-identical in SimilaritySpec); a cell whose
    * rows are ALL deleted has its directory removed. Works over every
    * storage tier — rows are rewritten as stored (float32 / q8 / pq),
    * no re-encode. Composes with [[appendToIvfIndex]]: the layout
    * contract (partitioned by `cell`) is unchanged.
    *
    * Returns (rows deleted, affected cell ids). */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): (Long, Seq[Int]) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombP = new Path(tombstoneDir(path))
    if (!fs.exists(tombP)) return (0L, Nil)
    val tomb = spark.read.parquet(tombP.toString)
      .select(col(idCol)).distinct()
    val index = spark.read.parquet(path)
    val affected = index.join(broadcast(tomb), Seq(idCol), "left_semi")
      .select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) { fs.delete(tombP, true); return (0L, Nil) }

    val before = index.filter(col("cell").isin(affected: _*)).count()
    val survivors = index.filter(col("cell").isin(affected: _*))
      .join(broadcast(tomb), Seq(idCol), "left_anti")
    // count BEFORE the write (a fully-emptied staging dir has no schema to
    // read back); the double scan is bounded by the affected cells' size
    val after = survivors.count()
    val staging = new Path(root, "_graft_compact_staging")
    fs.delete(staging, true): Unit
    // no write exchange — the compaction rewrite is bounded by the
    // affected cells (compaction-cadence-sized, like the append batch)
    survivors.write.mode("overwrite").partitionBy("cell").parquet(staging.toString)

    affected.foreach { c =>
      val live = new Path(root, s"cell=$c")
      val staged = new Path(staging, s"cell=$c")
      fs.delete(live, true): Unit
      // a fully-emptied cell has no staged directory: its live dir just goes
      if (fs.exists(staged)) { fs.rename(staged, live): Unit }
    }
    fs.delete(staging, true): Unit
    fs.delete(tombP, true): Unit
    (before - after, affected)
  }

  /** The float32 vector of an index row, whichever storage tier the index
    * was written with: dequantized from (qcodes, scale) for an int8 index,
    * PQ-reconstructed from pqcodes (needs the caller-persisted codebook,
    * like the centroids), the raw vector column otherwise. */
  private def indexVector(
      index: DataFrame, vecCol: String,
      pq: Option[(Seq[Seq[Float]], Int)]): Column =
    if (index.columns.contains("pqcodes")) {
      val (cb, ksub) = pq.getOrElse(throw new IllegalArgumentException(
        "probing a PQ index requires its codebook"))
      Pq.decodeCol(col("pqcodes"), cb, ksub)
    } else if (index.columns.contains("qcodes"))
      GraftFunctions.unpackQ8(col("qcodes"), col("scale"))
    else col(vecCol)

  /** SemDeDup-style semantic deduplication (Abbas, Tirumala, Simig,
    * Ganguli, Morcos, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023 — public): cluster the
    * embedding space with k-means, then compare pairs ONLY within a
    * cluster — the clustering is what makes semantic dedup tractable
    * (pairs are O(Σ m_c²) over cell sizes, never corpus²).
    *
    * Returns the DROP list with evidence: each row is a document that has
    * a same-cell witness with cosine ≥ `tau` and a smaller id — (vec_id,
    * cell, kept_by = smallest such witness, cosine to that witness). The
    * kept corpus = input ∖ drops; keeping the minimum id per near-dup
    * group is the same deterministic convention as the text-dedup tier.
    *
    * 100 TB shape: ONE fused cell assignment (no shuffle), then a single
    * cell-keyed self-join — vectors ride that one exchange because the
    * verifying cosine needs them (the SemDeDup trade: cluster-bounded
    * candidate volume in exchange for vector-payload shuffles; cells
    * should be sized ~10⁴-vector).
    *
    * Skew guard: pair volume is O(Σ m_c²) over cell sizes, so ONE
    * power-law cell (a boilerplate cluster holding 10% of a corpus) makes
    * one reducer quadratic. `maxCellSize` drops cells above the cap from
    * pair generation BEFORE the self-join — the same explicit-cap +
    * accumulator discipline as [[Dedup.minhashPairs]]' `maxBucketSize`:
    * callers see the cap as a parameter and can pass `droppedCells` to
    * observe how many cells it removed (a dropped cell trades recall
    * inside that cell for a bounded reducer; raise nCells to split it —
    * see SCALE.md). The default keeps every cell, so existing oracles are
    * byte-identical. */
  def semanticDedupDrops(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], tau: Double,
      maxCellSize: Int = Int.MaxValue,
      droppedCells: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val assignedAll = withIvfCell(df, vecCol, centroids)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"), col("cell"))
    def dropsOver(assigned: DataFrame): DataFrame = {
      val witnesses = assigned
        .select(col("vec_id").as("wit_id"), col("v").as("wv"), col("cell"))
      assigned.join(witnesses, Seq("cell"))
        .filter(col("wit_id") < col("vec_id"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("v"), col("wv")))
        .filter(col("cosine") >= tau)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("vec_id")).orderBy(col("wit_id").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cell"), col("wit_id").as("kept_by"), col("cosine"))
    }
    if (maxCellSize == Int.MaxValue) dropsOver(assignedAll)
    else {
      // the cap costs one nCells-row aggregate, collected: the kept-cell
      // list becomes an in-plan literal filter (no second assignment
      // pass — the sizes job runs over the PERSISTED assignment, which
      // the pair join reuses), and the dropped-cell count is set EXACTLY
      // once on the driver — an accumulator bumped inside a filter UDF
      // would double-count on any plan re-execution (Spark only
      // guarantees exactly-once accumulator updates in actions). The
      // small drop list materializes through graftCheckpoint so the
      // assignment cache is freed before returning (the Spans/Clusters
      // cleanup discipline).
      assignedAll.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sizes = assignedAll.groupBy(col("cell"))
          .agg(count(lit(1)).as("cell_n")).collect()
        val keptCells = sizes.filter(_.getLong(1) <= maxCellSize).map(_.getInt(0))
        droppedCells.foreach(_.add(sizes.length - keptCells.length))
        dropsOver(assignedAll.filter(col("cell").isin(keptCells.toSeq: _*)))
          .graftCheckpoint()
      } finally { assignedAll.unpersist(blocking = false): Unit }
    }
  }

  /** Clustering-quality report for a centroid set: per cell — member
    * count, exact min/max cosine-to-centroid, and the mean in quantized
    * micro-cosine units (each member's cosine floored to 1e-6 before the
    * integer sum, so the aggregate is ORDER-INDEPENDENT and exact on any
    * partitioning/engine — a raw double mean would depend on summation
    * order). The observability face of the k-means tier: skewed or
    * incoherent cells (huge n, low mean) are where IVF probes degrade and
    * SemDeDup pair volume concentrates.
    *
    * 100 TB shape: fused cell assignment + a broadcast nCells-row centroid
    * join + ONE cell-keyed aggregation (map-side partial; no per-group
    * arrays, no collects). */
  def clusterReport(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    val centDf = df.sparkSession.createDataFrame(centroids)
      .toDF("cell", "cv")
    withIvfCell(df, vecCol, centroids)
      .join(broadcast(centDf), "cell")
      .withColumn("cos", GraftFunctions.cosineSim(col(vecCol), col("cv")))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).cast("long").as("n_members"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"),
        sum(floor(col("cos") * lit(1000000.0)).cast("long")).as("sum_cos_q6"))
      .select(col("cell"), col("n_members"), col("min_cos"), col("max_cos"),
        col("sum_cos_q6"),
        (col("sum_cos_q6").cast("double") / col("n_members").cast("double")
          / lit(1000000.0)).as("mean_cos_q"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * storage tier of the ANN index (4× smaller than float32; the standard
    * compression for billion-vector IVF deployments). Per vector: scale
    * s = max |v_i|; q_i = floor(v_i/s·127 + 0.5) ∈ [−127, 127]
    * (round-half-up via floor, deterministic and engine-portable — no
    * banker's-rounding divergence). Reconstruction v̂_i = q_i·s/127 has
    * per-component error ≤ s/254. Zero vectors quantize to all-zero with
    * scale 0. One narrow projection, no shuffle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    withQuantized(df, vecCol, Seq(col(idCol)))

  /** The quantization projection shared by [[quantizeInt8]] and the index
    * writer: appends (scale, qvec) to the caller-chosen `keep` columns —
    * ONE formula, so the standalone gate and the quantized index can never
    * drift. */
  private def withQuantized(
      df: DataFrame, vecCol: String, keep: Seq[Column]): DataFrame = {
    val v = col(vecCol)
    // alias the max-abs scale ONCE before the per-element lambda reads it:
    // higher-order-function bodies sit outside subexpression elimination,
    // so an inlined scale would recompute the O(d) max per component
    // (O(d²) per row) — the CollapseProject lesson, one level down
    df.select(keep ++ Seq(v.as("v"),
        array_max(transform(v, x => abs(x))).cast("double").as("scale")): _*)
      .select(keep ++ Seq(
        col("scale"),
        when(col("scale") === 0d, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"), x =>
            floor(x.cast("double") / col("scale") * lit(127.0) + lit(0.5)).cast("int")))
          .as("qvec")): _*)
  }

  /** Dequantized vectors from [[quantizeInt8]] output (float32, the ANN
    * operators' input type). */
  def dequantizeInt8(df: DataFrame): DataFrame =
    df.withColumn("vec",
      transform(col("qvec"), q =>
        (q.cast("double") * col("scale") / lit(127.0)).cast("float")))

  /** Probe an on-disk IVF index: the `cell` filter is a PARTITION filter —
    * Spark prunes non-probed cell directories at planning time and never
    * opens their files (plan-asserted in SimilaritySpec). Works over both
    * storage tiers: a quantized index ([[writeIvfIndex]] `quantize = true`)
    * is dequantized in-kernel inside the scan projection. */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Float])], idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nprobe: Int = 4,
      pq: Option[(Seq[Seq[Float]], Int)] = None): DataFrame = {
    GraftFunctions.register(spark)
    val probed = nearestCells(centroids, query, nprobe)
    val index = readIndex(spark, path, idCol)
    index
      .filter(col("cell").isin(probed: _*))
      .select(
        col(idCol),
        GraftFunctions.cosineSim(indexVector(index, vecCol, pq), typedLit(query))
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched ANN probe: a whole DataFrame of query vectors against the
    * on-disk IVF index in ONE distributed job — the cross-set retrieval
    * shape (mining millions of queries) that a per-query driver loop
    * cannot represent. Per query row: the fused [[IvfCellsTopN]] kernel
    * assigns its `nprobe` nearest cells IN-PLAN (constant plan size in
    * nCells), the (query, cell) pairs explode and join the index on its
    * `cell` PARTITION column, and one window takes the per-query top-k by
    * exact cosine — job count is constant in the number of queries
    * (asserted in SimilaritySpec).
    *
    * 100 TB shape: with `broadcastQueries = true` (default) the query
    * side is broadcast (queries × nprobe rows of id + vector), the probe
    * is exchange-free on the index side, and Spark's dynamic partition
    * pruning drops non-probed cell directories at runtime — the
    * vacuously-true `cell >= 0` predicate below is what marks the build
    * side selective so the DPP rule attaches (plan-asserted in
    * SimilaritySpec). The hint FORCES the broadcast — Spark does not
    * degrade a hinted join, it fails past the broadcast limits — so for
    * a query set too large to ship (hundreds of millions of rows), pass
    * `broadcastQueries = false`: the same plan runs as a shuffle join on
    * `cell` with identical semantics, and at that query volume every
    * cell is probed by some query anyway, so pruning had nothing left to
    * buy. Works over both index storage tiers ([[indexVector]]). */
  def ivfTopKBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Float])],
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      broadcastQueries: Boolean = true,
      pq: Option[(Seq[Seq[Float]], Int)] = None): DataFrame = {
    GraftFunctions.register(spark)
    GraftFunctions.register(queries.sparkSession)
    require(centroids.zipWithIndex.forall { case ((c, _), i) => c == i },
      "centroids must be densely indexed 0..n-1 in cell order")
    val probed = queries
      .select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"),
        explode(GraftFunctions.ivfCellsTopN(
          col(queryVecCol), centroids.map(_._2), nprobe)).as("cell"))
      .filter(col("cell") >= 0)
    val index = readIndex(spark, path, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol).asc)
    index.join(if (broadcastQueries) broadcast(probed) else probed, "cell")
      .select(col("query_id"), col(idCol),
        GraftFunctions.cosineSim(indexVector(index, vecCol, pq), col("qv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(idCol), col("cosine"))
  }
}

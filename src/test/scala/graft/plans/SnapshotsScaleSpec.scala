package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Scale-SHAPE pins for the snapshot store at a 128-split corpus: the
  * properties that make the store viable at 3,000 date-keyed splits —
  * commit IO bounded by touched splits, reads bounded by the manifest
  * decision, diffs bounded by pointer changes — asserted through the
  * plans' actual input-file sets, not timings. */
class SnapshotsScaleSpec extends SparkTestBase {

  test("128 splits: a 2-split delta writes 2 dirs; pruned reads and diffs open only what can match") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_scale")
    try {
      val perSplit = 160
      val d = spark.range(128L * perSplit).select(
        col("id").as("doc_id"),
        concat(lit("s"), floor(col("id") / perSplit).cast("string")).as("split"),
        pmod(col("id"), lit(997)).as("payload"))
      Snapshots.commitFull(spark, d, root.toString, statsCols = Seq("doc_id"))

      // the delta touches splits s0 and s1 only
      val updates = d.filter(col("doc_id") < 2L * perSplit &&
          pmod(col("doc_id"), lit(40)) === 0)
        .withColumn("payload", col("payload") + 10000)
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = updates, removedIds = updates.select(col("split"), col("doc_id")).limit(0))
      assert(v2 === 2)

      // commit IO shape: the v2 data dir holds EXACTLY the two touched
      // split partitions — 126 splits carried by pointer, zero bytes moved
      val v2Dirs = Option(root.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v2-"))
      assert(v2Dirs.size === 1)
      val touched = Option(v2Dirs.head.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("split=")).map(_.getName).sorted
      assert(touched === Seq("split=s0", "split=s1"))

      // corruption proofs (files that must never be OPENED are made
      // unreadable — stronger than any plan-text assertion): first, the
      // 126 untouched splits' v1 files
      def corrupt(pred: java.io.File => Boolean): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        val victims = walk(root.toFile).filter(f =>
          f.getName.endsWith(".parquet") && pred(f))
        victims.foreach(f => java.nio.file.Files.write(f.toPath,
          "junk".getBytes("UTF-8")): Unit)
        victims.size
      }
      val keep = Set("split=s0", "split=s1")
      assert(corrupt(f => f.getAbsolutePath.contains("/v1-") &&
        !keep.exists(f.getAbsolutePath.contains)) > 50)

      // diff shape: changes v1->v2 read ONLY the two pointer-changed
      // splits (each side) — the 126 corrupted splits are never opened
      val ch = Snapshots.changesBetween(spark, root.toString, 1, 2)
      assert(ch.filter(col("change") === "update").count() === updates.count())

      // read shape: the range read resolves 127 of 128 splits away on
      // the DRIVER; in-dir partition pruning drops s1 — prove it by
      // corrupting v2's s1 files too, leaving ONLY v2/split=s0 readable
      val pred = col("doc_id") < perSplit
      assert(Snapshots.pruneReport(spark, root.toString, 2, pred).size === 127)
      assert(corrupt(f => f.getAbsolutePath.contains("/v2-") &&
        f.getAbsolutePath.contains("split=s1")) > 0)
      assert(Snapshots.readAtWhere(spark, root.toString, 2, pred)
        .count() === perSplit.toLong)

      // the contrast: an unpruned full read must open corrupted files
      // and fail — the bounds above are real, not vacuous
      intercept[Exception] {
        Snapshots.readAt(spark, root.toString, 2).count()
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** Rows surviving parquet row-group/file pruning for `filterExpr` over
    * a store read (scan-node numOutputRows; AQE off so the executed tree
    * is directly traversable) — the LayoutSpec measurement. */
  private def rowsScanned(root: String, v: Int, filterExpr: String): Long = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = Snapshots.readAt(spark, root, v).filter(filterExpr)
        .queryExecution
      qe.toRdd.count()
      qe.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.metrics("numOutputRows").value).sum
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("z-ordered commits skip row groups on the SECOND stats dimension; deltas re-cluster") {
    val zroot = java.nio.file.Files.createTempDirectory("graft_snap_z")
    val lroot = java.nio.file.Files.createTempDirectory("graft_snap_lex")
    try {
      // one split, two independent dimensions: a walks 0..142, b cycles
      val d = spark.range(20000).select(
        col("id").as("doc_id"), lit("s0").as("split"),
        (col("id") / 140).cast("long").as("a"),
        pmod(col("id"), lit(140)).as("b"))
      Snapshots.commitFull(spark, d, zroot.toString,
        statsCols = Seq("a", "b"), constraints = Nil, zorder = true)
      Snapshots.commitFull(spark, d, lroot.toString,
        statsCols = Seq("a", "b")) // lexicographic: b unserved
      val total = 20000L
      val zRows = rowsScanned(zroot.toString, 1, "b = 7")
      val lRows = rowsScanned(lroot.toString, 1, "b = 7")
      assert(lRows >= (total * 0.9).toLong,
        s"lexicographic layout unexpectedly skipped on b: $lRows of $total")
      assert(zRows <= (total * 0.7).toLong,
        s"z layout skipped nothing on b: $zRows of $total")
      // results identical either way
      assert(Snapshots.readAtWhere(spark, zroot.toString, 1, col("b") === 7)
        .count() ===
        Snapshots.readAtWhere(spark, lroot.toString, 1, col("b") === 7).count())

      // a delta rewrite KEEPS the clustering (the version file carries it)
      val upd = d.filter(col("doc_id") < 20)
        .withColumn("a", col("a") + 0L)
      Snapshots.commitDelta(spark, zroot.toString, adds = upd,
        removedIds = upd.select(col("split"), col("doc_id")).limit(0))
      assert(rowsScanned(zroot.toString, 2, "b = 7") <= (total * 0.7).toLong)

      // refusals: z-order needs >= 2 numeric stats columns
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, d, zroot.toString,
          statsCols = Seq("a"), constraints = Nil, zorder = true)
      }
      assert(e.getMessage.contains(">= 2 NUMERIC"))
      // floating stats columns refuse before any job: the Morton key
      // quantizes with integer division
      val floating = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, d.select(col("doc_id"), col("split"),
          col("a").cast("int").as("a"), col("b").cast("double").as("b")),
          zroot.toString, statsCols = Seq("a", "b"), constraints = Nil, zorder = true)
      }
      assert(floating.getMessage.contains(">= 2 NUMERIC") &&
        floating.getMessage.contains("'b' has type DOUBLE"), floating.getMessage)
      assert(Snapshots.latestVersion(spark, zroot.toString) === 2)
    } finally {
      CorpusExport.deleteRecursively(zroot.toFile)
      CorpusExport.deleteRecursively(lroot.toFile)
    }
  }

  // ---- round 14: IO-bound corruption proofs for the new store ops -------

  test("128 splits: commitRemove, mergeInto, dropSplits and restore touch only what they must") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_scale14")
    try {
      val perSplit = 120
      val d = spark.range(128L * perSplit).select(
        col("id").as("doc_id"),
        concat(lit("s"), floor(col("id") / perSplit).cast("string")).as("split"),
        pmod(col("id"), lit(997)).as("payload"))
      Snapshots.commitFull(spark, d, root.toString)

      def corruptAllBut(keep: Set[String]): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        val victims = walk(root.toFile).filter(f =>
          f.getName.endsWith(".parquet") &&
            !keep.exists(sp => f.getAbsolutePath.contains(s"split=$sp/")))
        victims.foreach(f => java.nio.file.Files.write(f.toPath,
          "junk".getBytes("UTF-8")): Unit)
        victims.size
      }
      // leave ONLY splits s0 and s1 readable — 126 splits are junk
      assert(corruptAllBut(Set("s0", "s1")) > 100)

      // commitRemove reads only its affected split (s0): the other 127
      // splits' files are never opened
      val v2 = Snapshots.commitRemove(spark, root.toString,
        d.filter(col("doc_id") < 10).select(col("split"), col("doc_id")))
      assert(v2 === 2)

      // mergeInto's match detection reads only the source's splits (s1)
      val src = d.filter(col("doc_id") >= perSplit.toLong &&
          col("doc_id") < perSplit + 10L)
        .withColumn("payload", col("payload") + 50000)
      val v3 = Snapshots.mergeInto(spark, root.toString, src,
        Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert)
      assert(v3 === 3)

      // dropSplits and restore read ZERO data: they succeed with every
      // split (including s0/s1's v1 files) now corrupted
      assert(corruptAllBut(Set.empty) > 0)
      val v4 = Snapshots.dropSplits(spark, root.toString,
        (10 until 20).map(k => s"s$k"))
      assert(v4 === 4)
      val v5 = Snapshots.restore(spark, root.toString, 3)
      assert(v5 === 5)
      assert(Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect().map(_.getInt(0)).toSeq ===
        Seq(1, 2, 3, 4, 5))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("long chain: past the LRU-64 parse cache, history thrashes O(versions) — until maintain's summary checkpoint serves it with ZERO version-file reads (corruption-proven)") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_chain")
    // a year-of-daily-commits shape; override for ad-hoc scale runs
    val n = sys.env.get("GRAFT_CHAIN_LEN").map(_.toInt).getOrElse(128)
    try {
      def rowFor(k: Int) = spark.range(1).select(
        (col("id") + k).as("doc_id"),
        concat(lit("s"), pmod(lit(k), lit(8))).as("split"),
        lit(k.toLong).as("payload"))
      Snapshots.commitFull(spark, rowFor(1), root.toString)
      val none = rowFor(1).select(col("split"), col("doc_id")).limit(0)
      (2 to n).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          adds = rowFor(k), removedIds = none): Unit
      }
      // BEFORE the checkpoint: a history walk past the 64-entry cache
      // re-parses most of the chain, every call
      val r0 = Snapshots.versionFileReads.get()
      val t0 = System.nanoTime()
      val h0 = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect()
      val preMs = (System.nanoTime() - t0) / 1e6
      val preReads = Snapshots.versionFileReads.get() - r0
      assert(h0.length === n)
      assert(preReads >= n - 64,
        s"pre-checkpoint history must thrash the LRU-64 cache: $preReads")
      // maintain writes the manifest-log checkpoint
      Snapshots.maintain(spark, root.toString, Snapshots.MaintenancePolicy(
        dvCompactFraction = None, consolidateAfterDirs = None,
        vacuumKeepLast = None)): Unit
      val expected = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect().toSeq
      // the strongest proof the chain walk no longer touches version
      // files: corrupt EVERY ONE except the head — history, versionAsOf
      // and the retention cutoff pick must still answer exactly
      (1 until n).foreach { v =>
        java.nio.file.Files.write(
          root.resolve("_versions").resolve(s"v$v.list"),
          "junk".getBytes("UTF-8")): Unit
      }
      val r1 = Snapshots.versionFileReads.get()
      val t1 = System.nanoTime()
      val h1 = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect().toSeq
      val postMs = (System.nanoTime() - t1) / 1e6
      assert(h1 === expected)
      val tsMid = h1(n / 2).getLong(4)
      assert(Snapshots.versionAsOf(spark, root.toString, tsMid) >= n / 2)
      assert(Snapshots.versionFileReads.get() === r1,
        "post-checkpoint history/versionAsOf must read ZERO version files")
      // (vacuum sweeps still parse survivors for the referenced-dir set
      // — inherent to deleting safely, scheduled-maintenance cost; only
      // their CUTOFF PICK rides the checkpoint)
      info(f"chain=$n history: pre-ckpt $preMs%.0f ms/$preReads reads, " +
        f"post-ckpt $postMs%.0f ms/0 reads")
    } finally CorpusExport.deleteRecursively(root.toFile)
  }
}

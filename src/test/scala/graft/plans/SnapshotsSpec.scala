package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the versioned copy-on-write store's contracts: pointer carry for
  * untouched splits (files AND bytes), in-place doc replacement, removal
  * to empty, time travel after every commit, and crashed-commit
  * invisibility. */
class SnapshotsSpec extends SparkTestBase {

  private def freshRoot(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_snap_spec")

  private def doc(id: Long, split: String, text: String) =
    (id, split, text, text.length.toLong)

  private def df(rows: Seq[(Long, String, String, Long)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "split", "text", "n_tokens")
  }

  private def contents(root: String, v: Int): Set[(Long, String, String)] =
    Snapshots.readAt(spark, root, v)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def listFiles(dir: java.io.File): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getAbsolutePath)
    walk(dir).toSet
  }

  /** The attempt-unique data dirs of version N (normally exactly one;
    * a lost race or crash can leave unreferenced extras). */
  private def dirsOf(root: java.nio.file.Path, v: Int): Seq[java.io.File] =
    Option(root.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"v$v-"))
      .sortBy(_.getName)

  test("delta commit rewrites ONLY affected splits; untouched splits carry by pointer") {
    val root = freshRoot()
    try {
      val v1 = Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"),
        doc(3, "b", "three"), doc(4, "b", "four"))), root.toString)
      assert(v1 === 1)
      val v1Dir = dirsOf(root, 1).head
      val bBefore = listFiles(v1Dir).filter(_.contains("split=b"))
      assert(bBefore.nonEmpty)

      // v2: modify doc 1, add doc 5 — both split a; split b untouched
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-v2"), doc(5, "a", "five"))),
        removedIds = df(Nil).select(col("doc_id")))
      assert(v2 === 2)

      // b's v1 files byte-identical (never rewritten), and NO b data in v2
      assert(listFiles(v1Dir).filter(_.contains("split=b")) === bBefore)
      assert(listFiles(dirsOf(root, 2).head).forall(!_.contains("split=b")))

      assert(contents(root.toString, 2) === Set(
        (1L, "a", "one-v2"), (5L, "a", "five"), (2L, "a", "two"),
        (3L, "b", "three"), (4L, "b", "four")))
      // time travel: v1 still reads its as-of content
      assert(contents(root.toString, 1) === Set(
        (1L, "a", "one"), (2L, "a", "two"),
        (3L, "b", "three"), (4L, "b", "four")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("removal to empty split; reads at every version stay as-of") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Nil),
        removedIds = df(Seq(doc(3, "b", "x"))).select(col("doc_id")))
      assert(v2 === 2)
      assert(contents(root.toString, 2) === Set((1L, "a", "one")))
      assert(contents(root.toString, 1) ===
        Set((1L, "a", "one"), (3L, "b", "three")))
      // a third commit on top of the emptied split still works
      val v3 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(6, "b", "six"))),
        removedIds = df(Nil).select(col("doc_id")))
      assert(contents(root.toString, v3) ===
        Set((1L, "a", "one"), (6L, "b", "six")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a crashed commit (data dir without version file) is invisible") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      // simulate: v2 data landed, driver died before the version rename
      df(Seq(doc(9, "a", "nine")))
        .write.mode("overwrite").partitionBy("split")
        .parquet(root.resolve("v2-deadbeef").toString)
      assert(Snapshots.latestVersion(spark, root.toString) === 1)
      assert(contents(root.toString, 1) === Set((1L, "a", "one")))
      // the replayed commit writes its OWN attempt dir and completes;
      // the crashed attempt's dir stays invisible debris
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("doc_id")))
      assert(v2 === 2)
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
      // ...until vacuum sweeps it (unreferenced, not newer than latest)
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 2)
      assert(deleted === Seq("v2-deadbeef"))
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("vacuum keeps dirs the survivors still point into; drops the rest") {
    val root = freshRoot()
    try {
      // v1: splits a+b. v2: touches only a. v3: touches only a again.
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-v2"))),
        removedIds = df(Nil).select(col("doc_id")))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-v3"))),
        removedIds = df(Nil).select(col("doc_id")))

      val (dropped, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(dropped === Seq(1, 2))
      // v2's dir is unreferenced (v3 rewrote split a) — deletable.
      // v1's dir SURVIVES: v3 still carries split b by pointer into it.
      assert(deleted.size === 1 && deleted.head.startsWith("v2-"), deleted)
      assert(dirsOf(root, 1).nonEmpty)
      assert(dirsOf(root, 2).isEmpty)
      // the surviving version still reads exactly
      assert(contents(root.toString, 3) ===
        Set((1L, "a", "one-v3"), (3L, "b", "three")))
      // vacuumed versions refuse loudly
      val e = intercept[IllegalArgumentException] {
        Snapshots.readAt(spark, root.toString, 1)
      }
      assert(e.getMessage.contains("no committed version"))
      // idempotent: a second vacuum finds nothing more to do
      assert(Snapshots.vacuum(spark, root.toString, 1) === ((Nil, Nil)))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a ten-commit chain reads exactly at every version; vacuum mid-chain keeps survivors intact") {
    val root = freshRoot()
    try {
      // v1: docs 1..3 in split a, doc 100 in split b (b never touched again)
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "t1"), doc(2, "a", "t2"), doc(3, "a", "t3"),
        doc(100, "b", "stable"))), root.toString)
      // v2..v10: each commit k rewrites doc k%3+1 to "t<k>" and adds doc 10+k
      (2 to 10).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(
            doc((k % 3 + 1).toLong, "a", s"t$k"), doc(10L + k, "a", s"n$k"))),
          removedIds = df(Nil).select(col("doc_id")))
      }
      // closed-form expectation at version v
      def expected(v: Int): Set[(Long, String, String)] = {
        val base = scala.collection.mutable.Map(
          1L -> "t1", 2L -> "t2", 3L -> "t3")
        val extra = scala.collection.mutable.Map[Long, String]()
        (2 to v).foreach { k =>
          base((k % 3 + 1).toLong) = s"t$k"
          extra(10L + k) = s"n$k"
        }
        (base.map { case (i, t) => (i, "a", t) } ++
          extra.map { case (i, t) => (i, "a", t) }).toSet + ((100L, "b", "stable"))
      }
      (1 to 10).foreach { v =>
        assert(contents(root.toString, v) === expected(v), s"at v$v")
      }
      // vacuum to the last three versions: v8..v10 must read unchanged,
      // and v1's dir must SURVIVE (split b still pointer-carried by all)
      val (dropped, _) = Snapshots.vacuum(spark, root.toString, keepLast = 3)
      assert(dropped === (1 to 7))
      assert(dirsOf(root, 1).nonEmpty, "v1 dir carries split b — must survive")
      (8 to 10).foreach { v =>
        assert(contents(root.toString, v) === expected(v), s"post-vacuum v$v")
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("tagged commits are idempotent: a redelivered delta returns its committed version") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val adds = df(Seq(doc(2, "a", "two")))
      val none = df(Nil).select(col("doc_id"))
      val v2 = Snapshots.commitDelta(spark, root.toString, adds, none,
        tag = Some("q-b0"))
      assert(v2 === 2)
      // at-least-once redelivery: same tag → SAME version, no new commit
      assert(Snapshots.commitDelta(spark, root.toString, adds, none,
        tag = Some("q-b0")) === 2)
      assert(Snapshots.latestVersion(spark, root.toString) === 2)
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
      // a new tag commits normally
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(3, "a", "three"))), none, tag = Some("q-b1")) === 3)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("snapshotIngestStream: a two-batch stream lands as two tagged versions") {
    val root = freshRoot()
    val tmp = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(100, "b", "base"))), root.toString)
      // two input files + maxFilesPerTrigger(1) → two micro-batches
      df(Seq(doc(1, "a", "one"))).coalesce(1)
        .write.parquet(tmp.resolve("f1").toString)
      df(Seq(doc(2, "a", "two"))).coalesce(1)
        .write.parquet(tmp.resolve("f2").toString)
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      def stage(src: String, as: String): Unit = {
        val p = tmp.resolve(src).toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(p.toPath, inDir.resolve(as))
      }
      stage("f1", "part-1.parquet"); stage("f2", "part-2.parquet")
      val in = spark.readStream
        .schema("doc_id long, split string, text string, n_tokens long")
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      val q = graft.streaming.EventPipeline
        .snapshotIngestStream(in, root.toString, "spec")
        .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      assert(Snapshots.latestVersion(spark, root.toString) === 3)
      assert(contents(root.toString, 3) === Set(
        (100L, "b", "base"), (1L, "a", "one"), (2L, "a", "two")))
      // the base version is untouched by the live ingest
      assert(contents(root.toString, 1) === Set((100L, "b", "base")))
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(tmp.toFile)
    }
  }

  test("tag ledger survives vacuum: a batch redelivered after its version dropped is still skipped") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      val v2 = Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(2, "a", "two"))), none, tag = Some("q-b0"))
      Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(3, "a", "three"))), none, tag = Some("q-b1"))
      Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(4, "a", "four"))), none, tag = Some("q-b2"))
      // simulate a committer that crashed between rename and marker write:
      // b1's marker gone, only its (about-to-drop) version file carries it
      val tagsDir = root.resolve("_versions").resolve("_tags")
      assert(java.nio.file.Files.deleteIfExists(tagsDir.resolve("q-b1")))
      val (dropped, _) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(dropped === Seq(1, 2, 3))
      // the stream comes back up and redelivers both batches across the
      // retention sweep: each finds its durable tag — no duplicate commit
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(2, "a", "two"))), none, tag = Some("q-b0")) === v2)
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(3, "a", "three"))), none, tag = Some("q-b1")) === 3)
      assert(Snapshots.latestVersion(spark, root.toString) === 4)
      assert(contents(root.toString, 4) === Set(
        (1L, "a", "one"), (2L, "a", "two"),
        (3L, "a", "three"), (4L, "a", "four")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a redelivery check at chain length 10+ reads ZERO version files (O(1) tag idempotence)") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(0, "a", "base"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      (0 until 10).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          df(Seq(doc(10L + k, "a", s"t$k"))), none, tag = Some(s"q-b$k"))
      }
      val before = Snapshots.versionFileReads.get()
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(15, "a", "t5"))), none, tag = Some("q-b5")) === 7)
      assert(Snapshots.versionFileReads.get() === before,
        "a redelivered tag must be answered by the ledger, not a version-chain scan")
      assert(Snapshots.latestVersion(spark, root.toString) === 11)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("split-keyed takedowns never read unaffected splits") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"),
        doc(3, "b", "three"))), root.toString)
      // corrupt every data file of split b: any plan that opens one throws
      val v1Dir = dirsOf(root, 1).head
      val bFiles = listFiles(v1Dir).filter(p =>
        p.contains("split=b") && p.endsWith(".parquet"))
      assert(bFiles.nonEmpty)
      bFiles.foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          "not parquet".getBytes("UTF-8")): Unit
      }
      // split-keyed delta against split a commits WITHOUT touching b —
      // the proof its IO is bounded by the affected splits
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(4, "a", "four"))),
        removedIds = df(Seq(doc(2, "a", "x"))).select(col("split"), col("doc_id")))
      assert(v2 === 2)
      assert(Snapshots.readAt(spark, root.toString, 2)
        .filter(col("split") === "a")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet ===
        Set((1L, "one"), (4L, "four")))
      // the legacy doc_id-only path locates victims with a corpus scan —
      // on this corrupted store it must fail, proving the fast path above
      // genuinely skipped those bytes
      intercept[Exception] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Nil),
          removedIds = df(Seq(doc(1, "a", "x"))).select(col("doc_id")))
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("schema evolution: a delta may ADD columns; older dirs read them back null") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      import spark.implicits._
      val addsV2 = Seq((2L, "a", "two", 3L, 0.9))
        .toDF("doc_id", "split", "text", "n_tokens", "quality")
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = addsV2,
        removedIds = addsV2.select(col("split"), col("doc_id")).limit(0))
      assert(v2 === 2)
      val at2 = Snapshots.readAt(spark, root.toString, 2)
      assert(at2.columns.toSeq ===
        Seq("doc_id", "split", "text", "n_tokens", "quality"))
      val byId = at2.collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toMap
      // rewritten split a: doc 1 null-backfilled, doc 2 carries its value;
      // pointer-carried split b (v1 files, no quality column) reads null
      assert(byId === Map(1L -> None, 2L -> Some(0.9), 3L -> None))
      // the older version is untouched by the widening
      assert(Snapshots.readAt(spark, root.toString, 1).columns.toSeq ===
        Seq("doc_id", "split", "text", "n_tokens"))
      // a later delta with the ORIGINAL narrow schema now refuses: it
      // drops the committed quality column
      val narrow = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(5, "a", "five"))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      assert(narrow.getMessage.contains("missing from the delta's adds"))
      // and a type change refuses, named
      val retyped = Seq(("6", "a", "six", 3L, 0.5))
        .toDF("doc_id", "split", "text", "n_tokens", "quality")
      val drift = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = retyped,
          removedIds = retyped.select(col("split"), col("doc_id")).limit(0))
      }
      assert(drift.getMessage.contains("changes type"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("an orphaned claim blocks the commit loudly; a clean commit leaves no claim behind") {
    val root = freshRoot()
    spark.conf.set("spark.graft.snapshot.claimGraceMs", "250")
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val claim = root.resolve("_versions").resolve(".v2.claim")
      java.nio.file.Files.createFile(claim)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(2, "a", "two"))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      assert(e.getMessage.contains("orphaned commit claim"))
      // operator clears the stale claim; the retried commit lands and
      // releases its own claim
      java.nio.file.Files.delete(claim)
      assert(Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id"))) === 2)
      assert(!java.nio.file.Files.exists(claim))
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
    } finally {
      spark.conf.unset("spark.graft.snapshot.claimGraceMs")
      CorpusExport.deleteRecursively(root.toFile)
    }
  }

  test("changesBetween reads ONLY splits whose pointer changed; classifies add/remove/update") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"),
        doc(3, "b", "stable"))), root.toString)
      // v2 touches only split a: doc 2 updated, doc 4 added, doc 1 removed
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two-v2"), doc(4, "a", "four"))),
        removedIds = df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      // split b's pointer is identical in v1 and v2 — corrupt its files:
      // a diff that touched them would throw
      val bFiles = listFiles(dirsOf(root, 1).head).filter(p =>
        p.contains("split=b") && p.endsWith(".parquet"))
      assert(bFiles.nonEmpty)
      bFiles.foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          "not parquet".getBytes("UTF-8")): Unit
      }
      val ch = Snapshots.changesBetween(spark, root.toString, 1, 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSet
      assert(ch === Set(
        ("remove", 1L, "one"), ("update", 2L, "two-v2"), ("add", 4L, "four")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("changesBetween spans a schema widening: old-side rows compare null-backfilled") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"))), root.toString)
      import spark.implicits._
      // v2 widens with `quality` and re-commits doc 2 with IDENTICAL
      // legacy payload (quality null on both sides after backfill — not
      // an update) and doc 1 with a real quality value (an update)
      val addsV2 = Seq(
        (1L, "a", "one", 3L, Some(0.7)),
        (2L, "a", "two", 3L, Option.empty[Double]))
        .toDF("doc_id", "split", "text", "n_tokens", "quality")
      Snapshots.commitDelta(spark, root.toString,
        adds = addsV2,
        removedIds = addsV2.select(col("split"), col("doc_id")).limit(0))
      val ch = Snapshots.changesBetween(spark, root.toString, 1, 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(ch === Set(("update", 1L)),
        "identical legacy payload with both-null new column must NOT be an update")
      // an update that NULLS a column must report the null (the new row
      // verbatim), not coalesce the old value back in
      val addsV3 = Seq((1L, "a", "one", 3L, Option.empty[Double]))
        .toDF("doc_id", "split", "text", "n_tokens", "quality")
      Snapshots.commitDelta(spark, root.toString,
        adds = addsV3,
        removedIds = addsV3.select(col("split"), col("doc_id")).limit(0))
      val nulled = Snapshots.changesBetween(spark, root.toString, 2, 3)
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      assert(nulled.toSeq === Seq(("update", 1L, None)))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("history lists every live version with its tag and row count; no data scan needed") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = Some("q-b0"))
      val h = Snapshots.history(spark, root.toString)
        .collect().map(r => (r.getInt(0), Option(r.getString(1)),
          r.getInt(2), r.getLong(3)))
      assert(h.toSeq === Seq(
        (1, None, 2, 2L), (2, Some("q-b0"), 2, 3L)))
      // history survives (and reflects) vacuum
      Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(Snapshots.history(spark, root.toString)
        .collect().map(_.getInt(0)).toSeq === Seq(2))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("racing committers for the same version: exactly one wins, the store stays consistent") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      // two genuinely concurrent committers. Admissible outcomes: they
      // COLLIDE on v2 (one wins, one refuses loudly) or they SERIALIZE
      // (v2 then v3) — what may never happen is a silent lost update:
      // every reported success must read back containing its racer's doc.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until 2).map { i =>
        Future {
          start.await()
          try Right((i, Snapshots.commitDelta(spark, root.toString,
            adds = df(Seq(doc(10L + i, "a", s"racer$i"))), removedIds = none)))
          catch { case e: graft.core.GraftAnalysisException => Left(e.getMessage) }
        }
      }
      start.countDown()
      val results = fs.map(f => Await.result(f, 120.seconds))
      val wins = results.collect { case Right(w) => w }
      val losses = results.collect { case Left(m) => m }
      assert(wins.nonEmpty, s"at least one racer must commit: $results")
      assert(losses.forall(_.contains("concurrent commit")), losses)
      assert(wins.map(_._2).toSet ===
        (2 to (1 + wins.size)).toSet, s"won versions must be a dense chain: $results")
      assert(Snapshots.latestVersion(spark, root.toString) === 1 + wins.size)
      wins.foreach { case (i, v) =>
        assert(contents(root.toString, v).contains((10L + i, "a", s"racer$i")),
          s"racer $i's committed version v$v must contain its doc")
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a 50-commit tagged chain: O(1) redelivery, LSM consolidation, ledger survives the sweep") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(0, "base", "b0"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      (0 until 50).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          df(Seq(doc(100L + k, s"s${k % 5}", s"t$k"))), none,
          tag = Some(s"q-b$k"))
      }
      assert(Snapshots.latestVersion(spark, root.toString) === 51)
      // O(1) idempotence holds at depth: redelivering ANY of the 50 tags
      // reads zero version files and never lengthens the chain
      val before = Snapshots.versionFileReads.get()
      Seq(0, 24, 49).foreach { k =>
        assert(Snapshots.commitDelta(spark, root.toString,
          df(Seq(doc(100L + k, s"s${k % 5}", s"t$k"))), none,
          tag = Some(s"q-b$k")) === 2 + k)
      }
      assert(Snapshots.versionFileReads.get() === before)
      assert(Snapshots.latestVersion(spark, root.toString) === 51)

      val full = contents(root.toString, 51)
      assert(full.size === 51)

      // the LSM answer to dir accumulation: consolidate + vacuum —
      // exactly ONE referenced data dir remains, content identical
      val v52 = Snapshots.commitFull(spark,
        Snapshots.readAt(spark, root.toString, 51), root.toString)
      val (dropped, _) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(dropped === (1 to 51))
      val liveDirs = Option(root.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
      assert(liveDirs.size === 1 && liveDirs.head.startsWith("v52-"), liveDirs)
      assert(contents(root.toString, v52) === full)
      // every swept version's tag survived into the durable ledger:
      // redelivery is STILL skipped after the sweep
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(117, "s2", "t17"))), none, tag = Some("q-b17")) === 19)
      assert(Snapshots.latestVersion(spark, root.toString) === 52)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("readAt plans prune columns and partitions like a plain parquet table") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      // column pruning: a doc_id-only projection must never read `text`
      val colPlan = Snapshots.readAt(spark, root.toString, 2)
        .select(col("doc_id")).queryExecution.executedPlan.toString
      assert(colPlan.contains("ReadSchema: struct<doc_id:bigint>"), colPlan)
      // partition pruning: a split filter must land as a PartitionFilter
      // on every dir scan, not a post-scan Filter over all splits
      val partPlan = Snapshots.readAt(spark, root.toString, 2)
        .filter(col("split") === "a").queryExecution.executedPlan.toString
      assert(partPlan.contains("PartitionFilters: [isnotnull(split"), partPlan)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("vacuum sweeps a crashed writer's tmp version file once its version is committed") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      val vdir = root.resolve("_versions")
      // debris: a tmp for committed v2 (writer crashed pre-rename and
      // lost) and a tmp for FUTURE v3 (may be a live committer)
      java.nio.file.Files.write(vdir.resolve(".v2.list.deadbeef.tmp"),
        "junk".getBytes("UTF-8"))
      java.nio.file.Files.write(vdir.resolve(".v3.list.cafebabe.tmp"),
        "junk".getBytes("UTF-8"))
      Snapshots.vacuum(spark, root.toString, keepLast = 2)
      assert(!java.nio.file.Files.exists(vdir.resolve(".v2.list.deadbeef.tmp")),
        "tmp for a committed version is inert debris — swept")
      assert(java.nio.file.Files.exists(vdir.resolve(".v3.list.cafebabe.tmp")),
        "tmp for a version newer than latest may be mid-write — kept")
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("snapshotChangesStream tails the version log across a query restart") {
    val root = freshRoot()
    val tmp = freshRoot()
    try {
      val out = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      def tail(): Unit = {
        val q = graft.streaming.EventPipeline
          .snapshotChangesStream(spark, root.toString, out)
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      tail() // v1 bootstrap
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))), removedIds = none)
      // a NEW query on the SAME checkpoint resumes the file-source log:
      // only v2 is new work; v1's feed must not be recomputed or doubled
      tail()
      val feed = spark.read
        .schema("change string, doc_id long, split string, text string, n_tokens long")
        .option("basePath", out).parquet(out)
        .collect().map(r => (r.getAs[Int]("version"), r.getString(0), r.getLong(1))).toSet
      assert(feed === Set((1, "add", 1L), (2, "add", 2L)))
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(tmp.toFile)
    }
  }

  test("changesBetween refuses loudly on an inverted range or a vacuumed endpoint") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      val inv = intercept[IllegalArgumentException] {
        Snapshots.changesBetween(spark, root.toString, 2, 2)
      }
      assert(inv.getMessage.contains("vFrom < vTo"))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(3, "a", "three"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      Snapshots.vacuum(spark, root.toString, keepLast = 1)
      // a consumer pinned to a swept FROM version breaks loudly, never
      // silently emits a wrong (e.g. bootstrap-shaped) feed
      val gone = intercept[IllegalArgumentException] {
        Snapshots.changesBetween(spark, root.toString, 1, 3)
      }
      assert(gone.getMessage.contains("no committed version"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("empty store: commitFull of an empty frame round-trips schema-only") {
    val root = freshRoot()
    try {
      assert(Snapshots.latestVersion(spark, root.toString) === 0)
      val v1 = Snapshots.commitFull(spark, df(Nil), root.toString)
      assert(v1 === 1)
      val back = Snapshots.readAt(spark, root.toString, 1)
      assert(back.count() === 0L)
      assert(back.columns.toSeq === Seq("doc_id", "split", "text", "n_tokens"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("commitDelta on an empty store refuses loudly; unknown version refuses") {
    val root = freshRoot()
    try {
      val e = intercept[IllegalArgumentException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Nil), removedIds = df(Nil).select(col("doc_id")))
      }
      assert(e.getMessage.contains("commitFull first"))
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val e2 = intercept[IllegalArgumentException] {
        Snapshots.readAt(spark, root.toString, 7)
      }
      assert(e2.getMessage.contains("no committed version"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- split-stats data skipping ---------------------------------------

  /** Three splits with disjoint n_tokens ranges — the shape stats pruning
    * exists for (splits correlated with the filter column). */
  private def statsStore(root: java.nio.file.Path): Unit = {
    Snapshots.commitFull(spark, df(Seq(
      doc(1, "a", "alpha").copy(_4 = 1L), doc(2, "a", "apex").copy(_4 = 10L),
      doc(3, "b", "bravo").copy(_4 = 100L), doc(4, "b", "basis").copy(_4 = 110L),
      doc(5, "c", "charlie").copy(_4 = 1000L), doc(6, "c", "chase").copy(_4 = 1010L))),
      root.toString, statsCols = Seq("n_tokens", "text"))
  }

  test("split stats prune range/equality/IN/prefix reads; results stay exact") {
    val root = freshRoot()
    try {
      statsStore(root)
      def ids(pred: org.apache.spark.sql.Column): Set[Long] =
        Snapshots.readAtWhere(spark, root.toString, 1, pred)
          .collect().map(_.getLong(0)).toSet
      def pruned(pred: org.apache.spark.sql.Column): Set[String] =
        Snapshots.pruneReport(spark, root.toString, 1, pred).toSet

      val range = col("n_tokens") >= 100L && col("n_tokens") <= 200L
      assert(pruned(range) === Set("a", "c"))
      assert(ids(range) === Set(3L, 4L))

      assert(pruned(col("n_tokens") === 1000L) === Set("a", "b"))
      assert(ids(col("n_tokens") === 1000L) === Set(5L))

      assert(pruned(col("n_tokens").isin(1L, 105L)) === Set("c"))
      assert(ids(col("n_tokens").isin(1L, 10L)) === Set(1L, 2L))

      // string stats: prefix and range (binary order)
      assert(pruned(col("text").startsWith("ch")) === Set("a", "b"))
      assert(ids(col("text").startsWith("ch")) === Set(5L, 6L))
      assert(pruned(col("text") < "b") === Set("b", "c"))

      // flipped literal-first comparison; numeric type promotion (double
      // literal against the long column goes through the analyzer's cast)
      assert(pruned(lit(100L) <= col("n_tokens") && col("n_tokens") < 999.5) ===
        Set("a", "c"))
      assert(ids(lit(100L) <= col("n_tokens") && col("n_tokens") < 999.5) ===
        Set(3L, 4L))

      // an unrecognizable conjunct neither prunes nor breaks exactness
      val mixed = col("n_tokens") >= 1000L && length(col("text")) > 5
      assert(pruned(mixed) === Set("a", "b"))
      assert(ids(mixed) === Set(5L))

      // a predicate with no usable constraint prunes nothing
      assert(pruned(length(col("text")) > 4) === Set.empty[String])
      assert(ids(length(col("text")) > 4) === Set(1L, 3L, 4L, 5L, 6L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("stats-pruned splits' files are never opened") {
    val root = freshRoot()
    try {
      statsStore(root)
      val v1Dir = dirsOf(root, 1).head
      val cFiles = listFiles(v1Dir).filter(p =>
        p.contains("split=c") && p.endsWith(".parquet"))
      assert(cFiles.nonEmpty)
      cFiles.foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          "not parquet".getBytes("UTF-8")): Unit
      }
      // prunes b and c — must succeed although c's files are garbage
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
        col("n_tokens") <= 10L).collect().map(_.getLong(0)).toSet ===
        Set(1L, 2L))
      // the unpruned twin opens c's files and fails — proving the pruned
      // plan genuinely skipped those bytes
      intercept[Exception] {
        Snapshots.readAt(spark, root.toString, 1)
          .filter(col("n_tokens") <= 10L).collect()
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a delta rewrite recomputes stats; pointer-carried splits keep theirs") {
    val root = freshRoot()
    try {
      statsStore(root)
      // v2 moves split a's rows up to the 5000s — its stats must follow
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "alpha").copy(_4 = 5000L),
          doc(2, "a", "apex").copy(_4 = 5010L))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      assert(v2 === 2)
      val big = col("n_tokens") >= 5000L
      // v2: only a can match (recomputed stats); b and c pruned
      assert(Snapshots.pruneReport(spark, root.toString, 2, big).toSet ===
        Set("b", "c"))
      assert(Snapshots.readAtWhere(spark, root.toString, 2, big)
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      // v1's stats are untouched: everything pruned, result empty
      assert(Snapshots.pruneReport(spark, root.toString, 1, big).toSet ===
        Set("a", "b", "c"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, big).count() === 0L)
      // pointer-carried b answers through its carried stats at v2
      assert(Snapshots.pruneReport(spark, root.toString, 2,
        col("n_tokens").between(100L, 110L)).toSet === Set("a", "c"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("null-count stats: IS NULL prunes null-free splits, all-null splits prune under ranges") {
    val root = freshRoot()
    try {
      import spark.implicits._
      val d = Seq(
        (1L, "a", "one", Some(5L)), (2L, "a", "two", Some(7L)),
        (3L, "b", "three", None: Option[Long]), (4L, "b", "four", None))
        .toDF("doc_id", "split", "text", "n_tokens")
      Snapshots.commitFull(spark, d, root.toString, statsCols = Seq("n_tokens"))
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("n_tokens").isNull).toSet === Set("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
        col("n_tokens").isNull).collect().map(_.getLong(0)).toSet ===
        Set(3L, 4L))
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("n_tokens").isNotNull).toSet === Set("b"))
      // a range can never match null — the all-null split prunes
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("n_tokens") >= 1L).toSet === Set("b"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
        col("n_tokens") >= 6L).collect().map(_.getLong(0)).toSet === Set(2L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("stats span schema widening; a stats-less store prunes nothing; bad statsCols refuse") {
    val root = freshRoot()
    try {
      statsStore(root)
      // widening delta: new nullable column rides along, stats maintained
      import spark.implicits._
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = Seq((7L, "a", "aqua", 3L, 0.9))
          .toDF("doc_id", "split", "text", "n_tokens", "quality"),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      assert(v2 === 2)
      // n_tokens stats still prune at v2; a predicate on the NEW column
      // has no stats — filters correctly, prunes nothing
      assert(Snapshots.pruneReport(spark, root.toString, 2,
        col("n_tokens") >= 1000L).toSet === Set("a", "b"))
      assert(Snapshots.readAtWhere(spark, root.toString, 2,
        col("quality") >= 0.5).collect().map(_.getLong(0)).toSet === Set(7L))
      assert(Snapshots.pruneReport(spark, root.toString, 2,
        col("quality") >= 0.5) === Seq.empty)
    } finally CorpusExport.deleteRecursively(root.toFile)

    val root2 = freshRoot()
    try {
      // no statsCols: readAtWhere degrades to a plain filtered read
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root2.toString)
      assert(Snapshots.pruneReport(spark, root2.toString, 1,
        col("n_tokens") > 100L) === Seq.empty)
      assert(Snapshots.readAtWhere(spark, root2.toString, 1,
        col("n_tokens") <= 100L).count() === 1L)
      // unknown / unsupported stats columns refuse loudly
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))),
          root2.toString, statsCols = Seq("nope"))
      }
      assert(e.getMessage.contains("not in the schema"))
      val e2 = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark,
          df(Seq(doc(1, "a", "one"))).withColumn("arr", array(col("text"))),
          root2.toString, statsCols = Seq("arr"))
      }
      assert(e2.getMessage.contains("unsupported") ||
        e2.getMessage.contains("has type"))
    } finally CorpusExport.deleteRecursively(root2.toFile)
  }

  test("CHECK constraints stop violating deltas at the door, survive branches and consolidate") {
    val root = freshRoot()
    try {
      import spark.implicits._
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one").copy(_4 = 3L), doc(2, "b", "two").copy(_4 = 5L))),
        root.toString, statsCols = Nil,
        constraints = Seq("n_tokens > 0", "length(text) >= 3"))
      // a violating delta refuses, naming the constraint, count and ids
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(3, "a", "ok").copy(_4 = 0L),
            doc(4, "a", "fine").copy(_4 = -1L))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      assert(e.getMessage.contains("CHECK (n_tokens > 0) violated by 2 row(s)"))
      assert(e.getMessage.contains("CHECK (length(text) >= 3) violated by 1 row(s)"))
      assert(e.getMessage.contains("nothing was written"))
      assert(Snapshots.latestVersion(spark, root.toString) === 1)

      // null passes (standard CHECK semantics); a clean delta commits
      val nullRow = Seq((5L, "a", "five", None: Option[Long]))
        .toDF("doc_id", "split", "text", "n_tokens")
      assert(Snapshots.commitDelta(spark, root.toString,
        adds = nullRow,
        removedIds = df(Nil).select(col("split"), col("doc_id"))) === 2)

      // branches inherit the contract
      Snapshots.createBranch(spark, root.toString, "exp", 2)
      val eb = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(6, "a", "x").copy(_4 = 1L))),
          removedIds = df(Nil).select(col("split"), col("doc_id")),
          tag = None, branch = Some("exp"))
      }
      assert(eb.getMessage.contains("length(text) >= 3"))

      // consolidate carries the contract forward
      val v3 = Snapshots.consolidate(spark, root.toString)
      val ec = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(7, "a", "seven").copy(_4 = 0L))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      assert(ec.getMessage.contains("n_tokens > 0") && v3 === 3)

      // a seed violating its own constraints refuses; bad exprs refuse
      val e2 = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, df(Seq(doc(9, "a", "x"))),
          root.toString, Nil, Seq("n_tokens > 100"))
      }
      assert(e2.getMessage.contains("commitFull seed data"))
      val e3 = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, df(Seq(doc(9, "a", "nine"))),
          root.toString, Nil, Seq("no_such_col > 0"))
      }
      assert(e3.getMessage.contains("invalid CHECK constraint"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("readAsOf resolves time-travel by commit timestamp") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      Thread.sleep(5) // force distinct commit stamps
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      Thread.sleep(5)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(3, "b", "three"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      val ts = Snapshots.history(spark, root.toString)
        .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
      assert(ts.keySet === Set(1, 2, 3))
      assert(Snapshots.versionAsOf(spark, root.toString, ts(2)) === 2)
      assert(Snapshots.readAsOf(spark, root.toString, ts(2))
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      // a time after the head resolves to the head; before v1 refuses
      assert(Snapshots.versionAsOf(spark, root.toString,
        ts(3) + 1000000L) === 3)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.versionAsOf(spark, root.toString, ts(1) - 1L)
      }
      assert(e.getMessage.contains("at or before"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("consolidate rewrites the head into one dir, carrying stats; vacuum then frees the chain") {
    val root = freshRoot()
    try {
      statsStore(root)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(7, "a", "seven").copy(_4 = 5L))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Nil),
        removedIds = df(Seq(doc(3, "b", "x"))).select(col("split"), col("doc_id")))
      val before = contents(root.toString, 3)
      val v4 = Snapshots.consolidate(spark, root.toString)
      assert(v4 === 4)
      assert(contents(root.toString, 4) === before)
      // stats carried: pruning still engages on the consolidated version
      assert(Snapshots.pruneReport(spark, root.toString, 4,
        col("n_tokens") >= 1000L).toSet === Set("a", "b"))
      // the old chain's dirs are now droppable
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted.exists(_.startsWith("v1-")))
      assert(contents(root.toString, 4) === before)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("versionForTag resolves a committed tag from the ledger") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val v2 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))),
        removedIds = df(Nil).select(col("doc_id")), tag = Some("day-1"))
      assert(Snapshots.versionForTag(spark, root.toString, "day-1") === Some(v2))
      assert(Snapshots.versionForTag(spark, root.toString, "day-9") === None)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- branches ----------------------------------------------------------

  test("a branch forks with zero data copy; branch and main commit independently") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      val mainFiles = listFiles(dirsOf(root, 1).head)
      Snapshots.createBranch(spark, root.toString, "exp", 1)
      assert(Snapshots.listBranches(spark, root.toString) === Seq("exp"))
      // the fork itself wrote NO data dirs
      assert(Option(root.toFile.listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("b-")) === 0)

      // branch edits split a; main edits split b — fully independent
      val bv = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-exp"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("exp"))
      assert(bv === 2)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(3, "b", "three-v2"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))

      // main v1 files byte-identical — the branch never wrote into them
      assert(listFiles(dirsOf(root, 1).head) === mainFiles)
      assert(Snapshots.readAt(spark, root.toString, 2, Some("exp"))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet ===
        Set((1L, "one-exp"), (3L, "three")))
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (3L, "b", "three-v2")))
      // tagged branch commits refuse (the ledger is main-scoped)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitDelta(spark, root.toString, adds = df(Nil),
          removedIds = df(Nil).select(col("split"), col("doc_id")),
          tag = Some("t"), branch = Some("exp"))
      }
      assert(e.getMessage.contains("main-chain only"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("mergeBranch lands the net diff as one main commit; empty branches merge as no-ops") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      Snapshots.createBranch(spark, root.toString, "exp", 1)
      // merging a branch with no commits changes nothing
      assert(Snapshots.mergeBranch(spark, root.toString, "exp") === 1)
      assert(Snapshots.latestVersion(spark, root.toString) === 1)

      // two branch commits: update 1, add 5, remove 3
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-exp"), doc(5, "b", "five"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("exp"))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Nil),
        removedIds = df(Seq(doc(3, "b", "x"))).select(col("split"), col("doc_id")),
        tag = None, branch = Some("exp"))

      val merged = Snapshots.mergeBranch(spark, root.toString, "exp")
      assert(merged === 2)
      assert(contents(root.toString, 2) === Set(
        (1L, "a", "one-exp"), (2L, "a", "two"), (5L, "b", "five")))
      // main's pre-merge version is untouched (time travel across merges)
      assert(contents(root.toString, 1) === Set(
        (1L, "a", "one"), (2L, "a", "two"), (3L, "b", "three")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("mergeBranch refuses when both sides touched a doc; force = branch wins") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.createBranch(spark, root.toString, "exp", 1)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-exp"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("exp"))
      // main also rewrites doc 1 after the fork
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-main"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))

      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.mergeBranch(spark, root.toString, "exp")
      }
      assert(e.getMessage.contains("conflict") && e.getMessage.contains("1"))
      // disjoint main progress does NOT conflict: doc 2 only
      val merged = Snapshots.mergeBranch(spark, root.toString, "exp", force = true)
      assert(Snapshots.readAt(spark, root.toString, merged)
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet ===
        Set((1L, "one-exp"), (2L, "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a cross-split move on the branch merges as remove+add, never a stale duplicate") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.createBranch(spark, root.toString, "mv", 1)
      // the branch committer follows the split-move contract: remove at
      // the old split, add at the new one
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "b", "one-moved"))),
        removedIds = df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")),
        tag = None, branch = Some("mv"))
      val merged = Snapshots.mergeBranch(spark, root.toString, "mv")
      val rows = Snapshots.readAt(spark, root.toString, merged)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(rows.count(_._1 == 1L) === 1) // no stale copy in split a
      assert(rows.toSet === Set((1L, "b", "one-moved"), (2L, "b", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("merging a pre-widening branch into a widened main null-backfills the new column") {
    val root = freshRoot()
    try {
      import spark.implicits._
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.createBranch(spark, root.toString, "old", 1)
      // branch edits doc 1 under the NARROW schema
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-exp"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("old"))
      // main widens with `quality`, touching only the DISJOINT doc 2
      Snapshots.commitDelta(spark, root.toString,
        adds = Seq((2L, "b", "two", 3L, 0.7))
          .toDF("doc_id", "split", "text", "n_tokens", "quality"),
        removedIds = df(Nil).select(col("split"), col("doc_id")))

      val merged = Snapshots.mergeBranch(spark, root.toString, "old")
      val rows = Snapshots.readAt(spark, root.toString, merged)
        .select(col("doc_id"), col("text"), col("quality"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)))).toSet
      assert(rows === Set(
        (1L, "one-exp", None), // branch row: quality null-backfilled
        (2L, "two", Some(0.7))))
      // branch-side pruning + history work through the chain overloads
      Snapshots.dropBranch(spark, root.toString, "old")
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("branch chains answer readAtWhere and history") {
    val root = freshRoot()
    try {
      statsStore(root)
      Snapshots.createBranch(spark, root.toString, "exp", 1)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(9, "a", "added").copy(_4 = 7L))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("exp"))
      // the branch inherits and MAINTAINS the fork's stats
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("n_tokens") >= 1000L).toSet === Set("a", "b"))
      assert(Snapshots.readAtWhere(spark, root.toString, 2,
        col("n_tokens") <= 10L, Some("exp"))
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 9L))
      val h = Snapshots.history(spark, root.toString, Some("exp"))
        .collect().map(r => (r.getInt(0), r.getLong(3)))
      assert(h.toSeq === Seq((1, 6L), (2, 7L)))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("vacuum keeps dirs a live branch references; dropBranch sweeps the branch's dirs") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(3, "b", "three"))), root.toString)
      Snapshots.createBranch(spark, root.toString, "keep", 1)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(7, "a", "seven"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")),
        tag = None, branch = Some("keep"))
      // main rewrites EVERY split twice — v1's dir is unreferenced by
      // main survivors after keepLast = 1
      Seq("v2", "v3").foreach { t =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(1, "a", s"one-$t"), doc(3, "b", s"three-$t"))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      val (dropped, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(dropped === Seq(1, 2))
      // v1's dir survives: the branch still points into it
      assert(dirsOf(root, 1).nonEmpty)
      assert(Snapshots.readAt(spark, root.toString, 2, Some("keep"))
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 7L))
      assert(deleted.forall(!_.startsWith("v1-")))

      Snapshots.dropBranch(spark, root.toString, "keep")
      assert(Snapshots.listBranches(spark, root.toString) === Seq.empty)
      assert(Option(root.toFile.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("b-")) === 0)
      // with the branch gone, the next vacuum sweeps v1's dir
      val (_, deleted2) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted2.exists(_.startsWith("v1-")))
      assert(dirsOf(root, 1).isEmpty)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }
  // ---- round 14: optimistic concurrency + commit-point strategy --------

  /** Conditional-put test DOUBLE: the first claim request loses — and,
    * when `interleaved` is set, a REAL commit lands in between (the
    * object-store race: our put is refused because someone else's commit
    * won). Reentrancy-guarded so the interleaved commit's own claim goes
    * through the default path. */
  private class LosingClaim(interleaved: Option[() => Unit])
      extends Snapshots.CommitPointStrategy {
    private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    private var inInterleaved = false
    override def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
        claim: org.apache.hadoop.fs.Path): Boolean =
      if (!inInterleaved && fired.compareAndSet(false, true)) {
        interleaved.foreach { f =>
          inInterleaved = true
          try f() finally inInterleaved = false
        }
        false // the conditional put lost
      } else Snapshots.DefaultCommitPoint.tryClaim(fs, claim)
  }

  private def withStrategy[A](st: Snapshots.CommitPointStrategy)(body: => A): A = {
    Snapshots.setCommitPointStrategy(st)
    try body finally Snapshots.setCommitPointStrategy(Snapshots.DefaultCommitPoint)
  }

  test("a claim-race loser with a DISJOINT delta auto-rebases and commits") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      // between the victim's head read and its claim, an interleaved
      // committer lands v2 touching a DIFFERENT doc
      val st = new LosingClaim(Some(() =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(20, "b", "intruder"))), removedIds = none): Unit))
      val v = withStrategy(st) {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(10, "a", "mine"))), removedIds = none)
      }
      // ZERO manual retries: the victim rebased onto v2 and landed v3
      assert(v === 3)
      assert(Snapshots.latestVersion(spark, root.toString) === 3)
      assert(contents(root.toString, 3) === Set(
        (1L, "a", "one"), (2L, "b", "two"),
        (20L, "b", "intruder"), (10L, "a", "mine")))
      // the interleaved commit's own version is intact (nothing clobbered)
      assert(contents(root.toString, 2) === Set(
        (1L, "a", "one"), (2L, "b", "two"), (20L, "b", "intruder")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a claim-race loser whose delta OVERLAPS the interleaved commit refuses, naming the docs") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      val st = new LosingClaim(Some(() =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(1, "a", "theirs"))), removedIds = none): Unit))
      val e = intercept[graft.core.GraftAnalysisException] {
        withStrategy(st) {
          Snapshots.commitDelta(spark, root.toString,
            adds = df(Seq(doc(1, "a", "mine"))), removedIds = none)
        }
      }
      assert(e.getMessage.contains("concurrent commit conflict"))
      assert(e.getMessage.contains("1"))
      // the interleaved commit survives as head; the loser wrote nothing
      assert(Snapshots.latestVersion(spark, root.toString) === 2)
      assert(contents(root.toString, 2).contains((1L, "a", "theirs")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a TRANSIENT claim denial (live cross-driver holder) recovers within the grace window") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      // the double denies ONCE (the window where another driver holds
      // the claim mid-commit) — the grace loop's retried claim wins and
      // the commit lands with zero operator involvement
      val v = withStrategy(new LosingClaim(None)) {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(10, "a", "x"))), removedIds = none)
      }
      assert(v === 2)
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (10L, "a", "x")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("two genuinely concurrent DISJOINT committers BOTH succeed (dense chain, no manual retry)") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until 2).map { i =>
        Future {
          start.await()
          (i, Snapshots.commitDelta(spark, root.toString,
            adds = df(Seq(doc(10L + i, "a", s"racer$i"))), removedIds = none))
        }
      }
      start.countDown()
      // auto-rebase makes BOTH succeed — a thrown refusal fails the test
      val wins = fs.map(f => Await.result(f, 180.seconds))
      assert(wins.map(_._2).toSet === Set(2, 3),
        s"both committers must land on a dense chain: $wins")
      val head = contents(root.toString, 3)
      assert(head.contains((10L, "a", "racer0")) && head.contains((11L, "a", "racer1")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("rebase replays the delta's REMOVALS too, against the interleaved head") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"), doc(3, "c", "three"))),
        root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      val st = new LosingClaim(Some(() =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(20, "b", "intruder"))), removedIds = none): Unit))
      val v = withStrategy(st) {
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Nil),
          removedIds = df(Seq(doc(3, "c", "x")))
            .select(col("split"), col("doc_id")))
      }
      assert(v === 3)
      assert(contents(root.toString, 3) === Set(
        (1L, "a", "one"), (2L, "b", "two"), (20L, "b", "intruder")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- round 14: advisory fixes ----------------------------------------

  test("dropBranch 'exp' never touches sibling branch 'exp-v2' (prefix trap)") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      Snapshots.createBranch(spark, root.toString, "exp", 1)
      Snapshots.createBranch(spark, root.toString, "exp-v2", 1)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(10, "a", "on-exp"))), removedIds = none,
        tag = None, branch = Some("exp"))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(20, "a", "on-exp-v2"))), removedIds = none,
        tag = None, branch = Some("exp-v2"))
      Snapshots.dropBranch(spark, root.toString, "exp")
      assert(Snapshots.listBranches(spark, root.toString) === Seq("exp-v2"))
      // exp-v2's data dirs survived the sweep and its head still reads
      assert(Option(root.toFile.listFiles()).toSeq.flatten
        .exists(_.getName.startsWith("b-exp-v2-v")))
      assert(Snapshots.readAt(spark, root.toString, 2, Some("exp-v2"))
        .collect().map(_.getLong(0)).toSet === Set(1L, 20L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("merge-conflict refusal is doc_id-type agnostic (string keys name the doc, no cast error)") {
    val root = freshRoot()
    try {
      import spark.implicits._
      val seed = Seq(("d1", "a", "one"), ("d2", "b", "two"))
        .toDF("doc_id", "split", "text")
      Snapshots.commitFull(spark, seed, root.toString)
      Snapshots.createBranch(spark, root.toString, "x", 1)
      val none = seed.limit(0).select(col("split"), col("doc_id"))
      Snapshots.commitDelta(spark, root.toString,
        adds = Seq(("d1", "a", "branch-edit")).toDF("doc_id", "split", "text"),
        removedIds = none, tag = None, branch = Some("x"))
      Snapshots.commitDelta(spark, root.toString,
        adds = Seq(("d1", "a", "main-edit")).toDF("doc_id", "split", "text"),
        removedIds = none)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.mergeBranch(spark, root.toString, "x")
      }
      assert(e.getMessage.contains("d1"), e.getMessage)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("commit stamps are strictly increasing; readAsOf(v's stamp) is exactly v") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(2, "a", "two"))), removedIds = none)
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(3, "a", "three"))), removedIds = none)
      val ts = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect().map(_.getLong(4))
      assert(ts.length === 3)
      assert(ts(0) < ts(1) && ts(1) < ts(2),
        s"stamps must be strictly increasing even within one millisecond: ${ts.toSeq}")
      // upward tie resolution can no longer misfire: each version owns
      // a distinct instant
      assert(Snapshots.versionAsOf(spark, root.toString, ts(0)) === 1)
      assert(Snapshots.versionAsOf(spark, root.toString, ts(1)) === 2)
      assert(Snapshots.versionAsOf(spark, root.toString, ts(1) - 1) === 1)
      assert(Snapshots.versionAsOf(spark, root.toString, ts(2)) === 3)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("version-file parses are memoized: a second history/versionAsOf pass reads zero files") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      (0 until 6).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(10L + k, "a", s"t$k"))), removedIds = none)
      }
      val h1 = Snapshots.history(spark, root.toString).collect()
      assert(h1.length === 7)
      val before = Snapshots.versionFileReads.get()
      val h2 = Snapshots.history(spark, root.toString).collect()
      val asOf = Snapshots.versionAsOf(spark, root.toString, h1.last.getLong(4))
      assert(Snapshots.versionFileReads.get() === before,
        "the second pass must be answered from the cache")
      assert(h2.map(_.getInt(0)).toSeq === h1.map(_.getInt(0)).toSeq)
      assert(asOf === 7)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("the parse cache never serves a stale file: a recreated store at the same root reads fresh") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "first-life"))), root.toString)
      assert(contents(root.toString, 1) === Set((1L, "a", "first-life")))
      CorpusExport.deleteRecursively(root.toFile)
      java.nio.file.Files.createDirectories(root)
      Snapshots.commitFull(spark, df(Seq(
        doc(2, "b", "second-life-longer"))), root.toString)
      assert(contents(root.toString, 1) === Set((2L, "b", "second-life-longer")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }
  // ---- round 14: deletion-vector (merge-on-read) takedowns -------------

  test("commitRemove writes NO split data files — only the tombstone sidecar") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      val v1Files = listFiles(dirsOf(root, 1).head)
      val v2 = Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      assert(v2 === 2)
      // v1's files are byte-untouched; v2 wrote only a `-dv` sidecar
      assert(listFiles(dirsOf(root, 1).head) === v1Files)
      val v2Dirs = Option(root.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v2-"))
      assert(v2Dirs.nonEmpty && v2Dirs.forall(_.getName.endsWith("-dv")),
        s"a takedown must write no split data dir: ${v2Dirs.map(_.getName)}")
      // merge-on-read: the reader anti-joins the vector
      assert(contents(root.toString, 2) === Set(
        (2L, "a", "two"), (3L, "b", "three")))
      // time travel unaffected
      assert(contents(root.toString, 1) === Set(
        (1L, "a", "one"), (2L, "a", "two"), (3L, "b", "three")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("consolidate folds deletion vectors in; vacuum then sweeps the sidecar") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val v3 = Snapshots.consolidate(spark, root.toString)
      assert(contents(root.toString, v3) === Set(
        (2L, "a", "two"), (3L, "b", "three")))
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted.exists(_.endsWith("-dv")),
        s"the folded-in sidecar must be sweepable: $deleted")
      assert(contents(root.toString, v3) === Set(
        (2L, "a", "two"), (3L, "b", "three")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("vacuum NEVER sweeps a sidecar a surviving version still reads through") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"))), root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val (dropped, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(dropped === Seq(1))
      assert(!deleted.exists(_.endsWith("-dv")), s"live sidecar swept: $deleted")
      // v1's data dir also survives (v2 pointer-carries it)
      assert(dirsOf(root, 1).nonEmpty)
      assert(contents(root.toString, 2) === Set((2L, "a", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("re-deleting a tombstoned doc is a no-op; history reports EFFECTIVE rows") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val h = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect()
        .map(r => (r.getInt(0), r.getInt(2), r.getLong(3)))
      // split 'a' fully tombstoned: drops out of n_splits; rows stay 1
      assert(h.toSeq === Seq((1, 2, 2L), (2, 1, 1L), (3, 1, 1L)))
      assert(contents(root.toString, 3) === Set((2L, "b", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("changesBetween reports a DV takedown as a remove carrying the old payload") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val ch = Snapshots.changesBetween(spark, root.toString, 1, 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3)))
      assert(ch.toSeq === Seq(("remove", 1L, "one")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a rewrite folds the split's tombstones in; a re-added doc_id is NOT re-deleted") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"))), root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      // v3 rewrites split a (normal delta) re-adding doc 1 — the stale
      // sidecar still exists on disk but no longer applies to this split
      val v3 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "reborn"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      assert(contents(root.toString, v3) === Set(
        (1L, "a", "reborn"), (2L, "a", "two")))
      // and v2 (pre-rewrite) still reads merge-on-read correct
      assert(contents(root.toString, 2) === Set((2L, "a", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("commitRemove maintains stats pruning exactness and honors tags") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "alpha").copy(_4 = 1L), doc(2, "b", "beta").copy(_4 = 100L),
        doc(3, "b", "gamma").copy(_4 = 200L))),
        root.toString, statsCols = Seq("n_tokens"))
      val v2 = Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(3, "b", "x"))).select(col("split"), col("doc_id")),
        tag = Some("day-1"))
      // redelivery: the durable ledger answers, the chain stays put
      assert(Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(3, "b", "x"))).select(col("split"), col("doc_id")),
        tag = Some("day-1")) === v2)
      assert(Snapshots.latestVersion(spark, root.toString) === v2)
      // stats carried verbatim stay SOUND over-approximations: split a
      // still prunes for a range it can't match, and the read is exact
      assert(Snapshots.pruneReport(spark, root.toString, v2,
        col("n_tokens") >= 50L) === Seq("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, v2,
        col("n_tokens") >= 50L).collect().map(_.getLong(0)).toSet === Set(2L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("branch deletion vectors: commitRemove on a branch, merge lands the takedown, dropBranch sweeps the sidecar") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.createBranch(spark, root.toString, "x", 1)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(2, "b", "x"))).select(col("split"), col("doc_id")),
        tag = None, branch = Some("x"))
      assert(Snapshots.readAt(spark, root.toString, 2, Some("x"))
        .collect().map(_.getLong(0)).toSet === Set(1L))
      val merged = Snapshots.mergeBranch(spark, root.toString, "x")
      assert(contents(root.toString, merged) === Set((1L, "a", "one")))
      Snapshots.dropBranch(spark, root.toString, "x")
      assert(Option(root.toFile.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("b-")) === 0,
        "dropBranch must sweep the branch's -dv sidecars too")
      assert(contents(root.toString, merged) === Set((1L, "a", "one")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- round 14: widened stats pruning (OR / InSet / bloom cells) ------

  test("an OR of prunable constraints prunes splits that EVERY disjunct misses") {
    val root = freshRoot()
    try {
      statsStore(root)
      def pruned(pred: org.apache.spark.sql.Column): Set[String] =
        Snapshots.pruneReport(spark, root.toString, 1, pred).toSet
      def ids(pred: org.apache.spark.sql.Column): Set[Long] =
        Snapshots.readAtWhere(spark, root.toString, 1, pred)
          .collect().map(_.getLong(0)).toSet

      // both sides miss b (100..110) and c (1000..1010); a holds 1
      val twoRanges = col("n_tokens") < 5L || col("n_tokens") > 2000L
      assert(pruned(twoRanges) === Set("b", "c"))
      assert(ids(twoRanges) === Set(1L))

      // OR of equalities: a (1..10) misses both points; b and c each
      // cover one range-wise and must stay
      val twoPoints = col("n_tokens") === 105L || col("n_tokens") === 1005L
      assert(pruned(twoPoints) === Set("a"))
      assert(ids(twoPoints) === Set.empty[Long])

      // a disjunct that can't lower vetoes the whole OR (it might match
      // anything) — nothing prunes, the result stays exact
      val half = col("n_tokens") < 5L || length(col("text")) > 50
      assert(pruned(half) === Set.empty[String])
      assert(ids(half) === Set(1L))

      // nested AND inside OR: (100 <= t <= 110) OR (t >= 1000) — only a
      // is outside both
      val nested = (col("n_tokens") >= 100L && col("n_tokens") <= 110L) ||
        col("n_tokens") >= 1000L
      assert(pruned(nested) === Set("a"))
      assert(ids(nested) === Set(3L, 4L, 5L, 6L))

      // OR under a conjunction: a pruned by the string conjunct (its
      // texts sort below "c"), b by BOTH sides of the OR missing it
      val mixed = (col("n_tokens") === 1L || col("n_tokens") === 1000L) &&
        col("text") >= "c"
      assert(pruned(mixed) === Set("a", "b"))
      assert(ids(mixed) === Set(5L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("InSet (the large-IN form Catalyst actually plans) prunes by range relaxation") {
    val root = freshRoot()
    try {
      statsStore(root)
      // 102 elements — far past the In→InSet conversion threshold (10)
      val missA = (2000L to 2100L) :+ 110L
      val predA = col("n_tokens").isInCollection(missA)
      assert(Snapshots.pruneReport(spark, root.toString, 1, predA).toSet ===
        Set("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, predA)
        .collect().map(_.getLong(0)).toSet === Set(4L))
      // the optimized form the pruner consumes really is InSet, not In
      import org.apache.spark.sql.catalyst.expressions.InSet
      val optimized = Snapshots.readAtWhere(spark, root.toString, 1, predA)
        .queryExecution.optimizedPlan
      assert(optimized.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.exists(_.exists(_.isInstanceOf[InSet])),
        "expected the predicate to optimize to InSet")
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a constant stats cell (min = max) refutes an IN that skips its value") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "x").copy(_4 = 10L), doc(2, "a", "y").copy(_4 = 10L),
        doc(3, "b", "z").copy(_4 = 7L))), root.toString,
        statsCols = Seq("n_tokens"))
      // {5, 15} brackets a's constant 10 — range relaxation alone keeps
      // a; the constant-cell check proves it empty
      val pred = col("n_tokens").isin(5L, 15L, 7L)
      assert(Snapshots.pruneReport(spark, root.toString, 1, pred).toSet ===
        Set("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, pred)
        .collect().map(_.getLong(0)).toSet === Set(3L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("bloom cells prune equality/IN on a high-cardinality column ranges can't help") {
    val root = freshRoot()
    try {
      // every split's text range is ~[m…, z…] — min/max never prunes
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "m1"), doc(2, "a", "z9"),
        doc(3, "b", "m2"), doc(4, "b", "z8"),
        doc(5, "c", "m3"), doc(6, "c", "z7"))), root.toString,
        statsCols = Seq("text"), constraints = Nil, zorder = false,
        bloomCols = Seq("text"))
      def pruned(v: Int, pred: org.apache.spark.sql.Column): Set[String] =
        Snapshots.pruneReport(spark, root.toString, v, pred).toSet
      def ids(v: Int, pred: org.apache.spark.sql.Column): Set[Long] =
        Snapshots.readAtWhere(spark, root.toString, v, pred)
          .collect().map(_.getLong(0)).toSet

      assert(pruned(1, col("text") === "z8") === Set("a", "c"))
      assert(ids(1, col("text") === "z8") === Set(4L))
      assert(pruned(1, col("text").isin("z8", "m3")) === Set("a"))
      assert(ids(1, col("text").isin("z8", "m3")) === Set(4L, 5L))
      // a value nowhere in the corpus prunes EVERY split
      assert(pruned(1, col("text") === "q0") === Set("a", "b", "c"))
      assert(ids(1, col("text") === "q0") === Set.empty[Long])

      // a delta rewriting split a RECOMPUTES its bloom: the replaced
      // value stops matching at v2 and the new one starts
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "q5"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      assert(pruned(2, col("text") === "q5") === Set("b", "c"))
      assert(ids(2, col("text") === "q5") === Set(1L))
      assert(pruned(2, col("text") === "m1") === Set("a", "b", "c"))
      assert(ids(2, col("text") === "m1") === Set.empty[Long])
      // time travel keeps v1's bloom verdicts
      assert(pruned(1, col("text") === "m1") === Set("b", "c"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("an integral bloom column probes through the analyzer's type promotion") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(11, "a", "x"), doc(92, "a", "y"),
        doc(13, "b", "z"), doc(94, "b", "w"))), root.toString,
        statsCols = Seq("doc_id"), constraints = Nil, zorder = false,
        bloomCols = Seq("doc_id"))
      // int literal against the long column — analyzer inserts an up-cast
      val pred = col("doc_id") === lit(13)
      assert(Snapshots.pruneReport(spark, root.toString, 1, pred).toSet ===
        Set("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, pred)
        .collect().map(_.getLong(0)).toSet === Set(13L))
      // a fractional literal can never render integrally — bloom stands
      // down, the range/constant logic and the scan keep it exact
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
        col("doc_id") === lit(13.5)).collect().isEmpty)
      // bloom cols must be stats cols and typed string/integral
      val bad = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitFull(spark, df(Seq(doc(1, "a", "x"))),
          freshRoot().toString, statsCols = Seq("doc_id"),
          constraints = Nil, zorder = false, bloomCols = Seq("text"))
      }
      assert(bad.getMessage.contains("must also be a stats column"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- round 14: restore, DV compaction, mergeInto, prefix bound -------

  test("restore rolls back a botched takedown with ZERO data copied; pipelines continue on top") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      // the oops: remove half of split a
      Snapshots.commitDelta(spark, root.toString, adds = df(Nil),
        removedIds = df(Seq(doc(1, "a", "x")))
          .select(col("split"), col("doc_id")))
      assert(Snapshots.restore(spark, root.toString, 1) === 3)
      assert(contents(root.toString, 3) === contents(root.toString, 1))
      // pointer-only: no v3 data dir exists
      assert(dirsOf(root, 3).isEmpty)
      // the botched version stays readable for forensics
      assert(contents(root.toString, 2) === Set(
        (2L, "a", "two"), (3L, "b", "three")))
      // CDC across the restore reports exactly the undone rows
      val ch = Snapshots.changesBetween(spark, root.toString, 2, 3)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(ch.toSeq === Seq(("add", 1L)))
      // life goes on: a delta commits on top of the restore
      val v4 = Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(4, "b", "four"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      assert(contents(root.toString, v4) === Set(
        (1L, "a", "one"), (2L, "a", "two"), (3L, "b", "three"),
        (4L, "b", "four")))
      // restoring the current head refuses (a no-op someone didn't mean)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.restore(spark, root.toString, v4)
      }
      assert(e.getMessage.contains("current head"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("compactDeletionVectors folds ONLY splits past the threshold; vacuum sweeps their sidecars") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "a", "three"),
        doc(4, "b", "four"), doc(5, "b", "five"), doc(6, "b", "six"),
        doc(7, "b", "seven"))), root.toString)
      // a: 2 of 3 tombstoned (fraction .67); b: 1 of 4 (fraction .25)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"), doc(2, "a", "x")))
          .select(col("split"), col("doc_id")))
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(4, "b", "x"))).select(col("split"), col("doc_id")))
      val before = contents(root.toString, 3)
      val v4 = Snapshots.compactDeletionVectors(spark, root.toString, 0.5)
      assert(v4 === 4)
      assert(contents(root.toString, 4) === before)
      // only a's sidecar became unreferenced: vacuum keeps b's
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      val dvDeleted = deleted.filter(_.endsWith("-dv"))
      assert(dvDeleted.size === 1, s"exactly a's sidecar sweeps: $deleted")
      assert(contents(root.toString, 4) === before)
      // below-threshold store: compaction is a no-op, no empty commit
      assert(Snapshots.compactDeletionVectors(spark, root.toString, 0.5) === 4)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("compactDeletionVectors handles a FULLY-tombstoned split (rewrites to empty)") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val v3 = Snapshots.compactDeletionVectors(spark, root.toString, 0.0)
      assert(v3 === 3)
      assert(contents(root.toString, 3) === Set((2L, "b", "two")))
      val h = Snapshots.history(spark, root.toString)
        .orderBy(col("version")).collect()
        .map(r => (r.getInt(0), r.getInt(2), r.getLong(3)))
      assert(h.last === ((3, 1, 1L)))
      // the vector is gone from the head's refs: vacuum sweeps it
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted.exists(_.endsWith("-dv")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("mergeInto: condition-false matches stay untouched; refusals for dup keys and skip/skip") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one").copy(_4 = 2L), doc(2, "a", "two").copy(_4 = 3L),
        doc(3, "b", "three").copy(_4 = 4L))), root.toString)
      // update only rows whose STORED n_tokens is even; insert new ones
      val src = df(Seq(doc(1, "a", "one-v2").copy(_4 = 100L),
        doc(2, "a", "two-v2").copy(_4 = 200L),
        doc(9, "b", "nine").copy(_4 = 900L)))
      val v2 = Snapshots.mergeInto(spark, root.toString, src,
        Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert,
        matchedCondition = Some(pmod(col("existing.n_tokens"), lit(2)) === 0))
      assert(v2 === 2)
      // doc 1 (stored 2, even) updated; doc 2 (stored 3, odd) untouched;
      // doc 9 inserted
      assert(contents(root.toString, 2) === Set(
        (1L, "a", "one-v2"), (2L, "a", "two"), (3L, "b", "three"),
        (9L, "b", "nine")))

      // delete-merge: only matched rows go; unmatched skipped
      val v3 = Snapshots.mergeInto(spark, root.toString,
        df(Seq(doc(2, "a", "x"), doc(77, "a", "x"))),
        Snapshots.WhenMatched.Delete, Snapshots.WhenNotMatched.Skip)
      assert(contents(root.toString, v3) === Set(
        (1L, "a", "one-v2"), (3L, "b", "three"), (9L, "b", "nine")))

      // insert-only: matched rows skipped, not replaced
      val v4 = Snapshots.mergeInto(spark, root.toString,
        df(Seq(doc(1, "a", "clobber"), doc(10, "b", "ten"))),
        Snapshots.WhenMatched.Skip, Snapshots.WhenNotMatched.Insert)
      assert(contents(root.toString, v4) === Set(
        (1L, "a", "one-v2"), (3L, "b", "three"), (9L, "b", "nine"),
        (10L, "b", "ten")))

      val dup = intercept[graft.core.GraftAnalysisException] {
        Snapshots.mergeInto(spark, root.toString,
          df(Seq(doc(5, "a", "x"), doc(5, "a", "y"))),
          Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert)
      }
      assert(dup.getMessage.contains("unique"))
      val noop = intercept[graft.core.GraftAnalysisException] {
        Snapshots.mergeInto(spark, root.toString, df(Nil),
          Snapshots.WhenMatched.Skip, Snapshots.WhenNotMatched.Skip)
      }
      assert(noop.getMessage.contains("does nothing"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("StartsWith prunes from BOTH sides (byte-surgery upper bound)") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "chair"), doc(2, "a", "chest"),
        doc(3, "b", "cider"), doc(4, "b", "cz"),
        doc(5, "c", "ca"), doc(6, "c", "cb"))), root.toString,
        statsCols = Seq("text"))
      // prefix "ch" spans [ch, ci): c is below it (old behavior), and b
      // is ABOVE it — only the new upper bound can prune b
      val pred = col("text").startsWith("ch")
      assert(Snapshots.pruneReport(spark, root.toString, 1, pred).toSet ===
        Set("b", "c"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, pred)
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      // a prefix matching NOTHING refutes every split from both sides:
      // c below [ce, cf), a ("ch…" > "cf") and b above it
      val nothing = col("text").startsWith("ce")
      assert(Snapshots.pruneReport(spark, root.toString, 1, nothing).toSet ===
        Set("a", "b", "c"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, nothing)
        .collect().isEmpty)
      // a split straddling the bound is kept and the read stays exact:
      // [ca, cb) keeps c (min "ca" < "cb") but prunes a and b
      val edge = col("text").startsWith("ca")
      assert(Snapshots.pruneReport(spark, root.toString, 1, edge).toSet ===
        Set("a", "b"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1, edge)
        .collect().map(_.getLong(0)).toSet === Set(5L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("dropSplits trims whole splits pointer-only; time travel and CDC span the trim") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "d1", "one"), doc(2, "d1", "two"),
        doc(3, "d2", "three"), doc(4, "d3", "four"))), root.toString)
      val v2 = Snapshots.dropSplits(spark, root.toString, Seq("d1"))
      assert(v2 === 2)
      // pointer-only: no v2 data dir at all
      assert(dirsOf(root, 2).isEmpty)
      assert(contents(root.toString, 2) === Set(
        (3L, "d2", "three"), (4L, "d3", "four")))
      // time travel across the trim
      assert(contents(root.toString, 1).size === 4)
      // CDC reports the dropped rows as removes
      val ch = Snapshots.changesBetween(spark, root.toString, 1, 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(ch === Set(("remove", 1L), ("remove", 2L)))
      // a typo refuses instead of silently no-opping
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.dropSplits(spark, root.toString, Seq("d2", "dXX"))
      }
      assert(e.getMessage.contains("dXX"))
      assert(Snapshots.latestVersion(spark, root.toString) === 2)
      // after the last reference goes, vacuum sweeps the dropped data
      val (_, deleted) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted.isEmpty, "v2 still points into v1's dir (d2/d3 carry)")
      // a consolidation rewrites the survivors; then v1's dir can go
      Snapshots.consolidate(spark, root.toString): Unit
      val (_, deleted2) = Snapshots.vacuum(spark, root.toString, keepLast = 1)
      assert(deleted2.exists(_.startsWith("v1-")))
      assert(contents(root.toString, 3) === Set(
        (3L, "d2", "three"), (4L, "d3", "four")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("maintain: one call folds overdue vectors, consolidates past the dir trigger, vacuums — and is idempotent in effect") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))),
        root.toString)
      // grow a multi-dir chain with an overdue vector on split a
      (0 until 4).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(10L + k, s"s$k", s"t$k"))),
          removedIds = df(Nil).select(col("split"), col("doc_id")))
      }
      Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")))
      val before = contents(root.toString,
        Snapshots.latestVersion(spark, root.toString))

      val rep = Snapshots.maintain(spark, root.toString,
        Snapshots.MaintenancePolicy(
          dvCompactFraction = Some(0.3),
          consolidateAfterDirs = Some(2),
          vacuumKeepLast = Some(1)))
      assert(rep.dvCompacted.nonEmpty, "the 1/2 vector had to fold")
      assert(rep.consolidated.nonEmpty, "6+ dirs had to consolidate")
      assert(rep.vacuumDropped.nonEmpty && rep.vacuumDeletedDirs.nonEmpty)
      val head = Snapshots.latestVersion(spark, root.toString)
      assert(contents(root.toString, head) === before,
        "maintenance must never change the head's content")
      // exactly one referenced data dir remains after consolidation
      assert(Option(root.toFile.listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("v")) === 1)

      // second call: every trigger is already satisfied — full no-op
      val rep2 = Snapshots.maintain(spark, root.toString,
        Snapshots.MaintenancePolicy(Some(0.3), Some(2), Some(1)))
      assert(rep2 === Snapshots.MaintenanceReport(None, None, Nil, Nil))
      assert(Snapshots.latestVersion(spark, root.toString) === head)
      assert(contents(root.toString, head) === before)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("snapshotIngestStream with built-in maintenance bounds its own chain") {
    val root = freshRoot()
    val tmp = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(100, "b", "base"))), root.toString)
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      (1 to 4).foreach { k =>
        df(Seq(doc(k.toLong, "a", s"t$k"))).coalesce(1)
          .write.parquet(tmp.resolve(s"f$k").toString)
        val p = tmp.resolve(s"f$k").toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(p.toPath, inDir.resolve(s"part-$k.parquet"))
      }
      val in = spark.readStream
        .schema("doc_id long, split string, text string, n_tokens long")
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      // every 2nd batch: consolidate past 1 referenced dir + vacuum to 2
      val q = graft.streaming.EventPipeline
        .snapshotIngestStream(in, root.toString, "m", maintainEvery = Some(2),
          policy = Snapshots.MaintenancePolicy(
            dvCompactFraction = None, consolidateAfterDirs = Some(1),
            vacuumKeepLast = Some(2)))
        .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      val head = Snapshots.latestVersion(spark, root.toString)
      // content is complete whatever the maintenance did in between
      assert(contents(root.toString, head) === Set(
        (100L, "b", "base"), (1L, "a", "t1"), (2L, "a", "t2"),
        (3L, "a", "t3"), (4L, "a", "t4")))
      // the chain was vacuumed down along the way: only the last 2 live
      val live = Snapshots.history(spark, root.toString)
        .collect().map(_.getInt(0)).sorted
      assert(live.length === 2 && live.last === head, live.toSeq.toString)
      // redelivery of an ingest batch still answers from the ledger
      // (tags survive the in-stream vacuum)
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(1, "a", "t1"))),
        df(Nil).select(col("split"), col("doc_id")),
        tag = Some("m-b0")) === 2)
      assert(Snapshots.latestVersion(spark, root.toString) === head)
    } finally {
      CorpusExport.deleteRecursively(root.toFile)
      CorpusExport.deleteRecursively(tmp.toFile)
    }
  }

  // ---- round 14: self-review fixes --------------------------------------

  test("pruning never mistakes readRefs' internal split lists for user constraints") {
    val root = freshRoot()
    try {
      // `split` itself is a tracked stats column and the head spans TWO
      // data dirs — the optimizer merges the reader's per-dir `split IN
      // (…)` filters with the user predicate, and a pruner reading that
      // merged filter would wrongly treat one dir's list as a user
      // constraint and drop every other dir's splits
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString,
        statsCols = Seq("split", "n_tokens"))
      Snapshots.commitDelta(spark, root.toString,
        adds = df(Seq(doc(1, "a", "one-v2"))),
        removedIds = df(Nil).select(col("split"), col("doc_id")))
      // b lives in the v1 dir, a in the v2 dir
      val pred = col("n_tokens") >= 0L
      assert(Snapshots.pruneReport(spark, root.toString, 2, pred) === Seq.empty)
      assert(Snapshots.readAtWhere(spark, root.toString, 2, pred)
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      // genuine user predicates on `split` still prune exactly
      assert(Snapshots.pruneReport(spark, root.toString, 2,
        col("split") === "b").toSet === Set("a"))
      assert(Snapshots.readAtWhere(spark, root.toString, 2,
        col("split") === "b").collect().map(_.getLong(0)).toSet === Set(2L))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("mergeInto re-derives against an interleaved commit instead of landing a stale classification") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      // between the merge's classification and its claim, another
      // committer updates doc 1 — the merge's condition ("update only
      // if the stored text is still 'one'") must be re-evaluated against
      // the NEW head, so the interleaved write survives
      val st = new LosingClaim(Some(() =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(1, "a", "theirs"))), removedIds = none): Unit))
      val v = withStrategy(st) {
        Snapshots.mergeInto(spark, root.toString,
          df(Seq(doc(1, "a", "mine"))),
          Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Skip,
          matchedCondition = Some(col("existing.text") === "one"))
      }
      assert(v === 3)
      assert(contents(root.toString, 3).contains((1L, "a", "theirs")),
        "the re-derived merge must see the interleaved write and stand down")

      // insert case: an interleaved insert of the SAME doc_id into the
      // source's split — re-derivation reclassifies it as MATCHED and
      // whenMatched=Skip leaves exactly one copy
      val st2 = new LosingClaim(Some(() =>
        Snapshots.commitDelta(spark, root.toString,
          adds = df(Seq(doc(9, "b", "first"))), removedIds = none): Unit))
      val v2 = withStrategy(st2) {
        Snapshots.mergeInto(spark, root.toString,
          df(Seq(doc(9, "b", "second"))),
          Snapshots.WhenMatched.Skip, Snapshots.WhenNotMatched.Insert)
      }
      val nines = Snapshots.readAt(spark, root.toString, v2)
        .filter(col("doc_id") === 9L).collect()
      assert(nines.length === 1 && nines(0).getString(2) === "first",
        s"exactly one copy, the interleaved one: ${nines.toSeq}")
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("commitRemove(requireAllFound) refuses a mis-keyed takedown naming the misses") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "b", "two"))), root.toString)
      // doc 2 lives in b, not a — the default commits a silent no-op,
      // requireAllFound refuses naming the mis-keyed request
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitRemove(spark, root.toString,
          df(Seq(doc(2, "a", "x"), doc(1, "a", "x")))
            .select(col("split"), col("doc_id")),
          tag = None, branch = None, requireAllFound = true)
      }
      assert(e.getMessage.contains("1 of 2"), e.getMessage)
      assert(e.getMessage.contains("(a, 2)"), e.getMessage)
      assert(Snapshots.latestVersion(spark, root.toString) === 1)
      // correctly keyed, it commits
      assert(Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(2, "b", "x"), doc(1, "a", "x")))
          .select(col("split"), col("doc_id")),
        tag = None, branch = None, requireAllFound = true) === 2)
      assert(contents(root.toString, 2) === Set.empty[(Long, String, String)])
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("requireAllFound counts DISTINCT keys: a duplicated corpus row cannot mask a mis-keyed takedown") {
    val root = freshRoot()
    try {
      // the store holds (a, 1) TWICE (commits never dedupe adds)
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(1, "a", "one-bis"), doc(3, "b", "three"))),
        root.toString)
      // victims: (a,1) matches (twice, physically); (a,2) is mis-keyed —
      // a row-count comparison would see 2 sidecar rows == 2 requests
      // and pass; the distinct-key comparison refuses
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.commitRemove(spark, root.toString,
          df(Seq(doc(1, "a", "x"), doc(2, "a", "x")))
            .select(col("split"), col("doc_id")),
          tag = None, branch = None, requireAllFound = true)
      }
      assert(e.getMessage.contains("1 of 2"), e.getMessage)
      // a fully-matched duplicate neither refuses nor under-deletes:
      // BOTH physical copies tombstone
      assert(Snapshots.commitRemove(spark, root.toString,
        df(Seq(doc(1, "a", "x"))).select(col("split"), col("doc_id")),
        tag = None, branch = None, requireAllFound = true) === 2)
      assert(contents(root.toString, 2) === Set((3L, "b", "three")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- round 15: time-based retention, pruner short-circuit, cache pin ----

  test("vacuumOlderThan keeps a young version a count-based sweep would drop; the ledger survives the time sweep") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      (0 until 4).foreach { k =>
        Snapshots.commitDelta(spark, root.toString,
          df(Seq(doc(10L + k, "a", s"t$k"))), none, tag = Some(s"t-b$k"))
      }
      assert(Snapshots.latestVersion(spark, root.toString) === 5)
      // every version is seconds old: a 1-hour retention drops NOTHING —
      // exactly where vacuum(keepLast = 1) would drop four versions
      val (d0, _) = Snapshots.vacuumOlderThan(spark, root.toString,
        olderThanMs = 3600L * 1000L)
      assert(d0.isEmpty, s"young versions must survive a time sweep: $d0")
      assert(contents(root.toString, 1) === Set((1L, "a", "one")),
        "the young chain must stay fully readable")
      // retention 0 (cutoff = now): everything strictly older than now
      // drops — but the HEAD always survives regardless of age
      Thread.sleep(30)
      val (d1, _) = Snapshots.vacuumOlderThan(spark, root.toString, 0L)
      assert(d1 === Seq(1, 2, 3, 4))
      assert(Snapshots.latestVersion(spark, root.toString) === 5)
      assert(contents(root.toString, 5).size === 5)
      intercept[IllegalArgumentException] {
        Snapshots.readAt(spark, root.toString, 1)
      }
      // the durable ledger outlives the time sweep exactly as it does
      // the count sweep: a redelivered batch is still skipped
      assert(Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(11, "a", "t1"))), none, tag = Some("t-b1")) === 3)
      assert(Snapshots.latestVersion(spark, root.toString) === 5)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("maintain runs the wall-clock retention sweep when the policy asks for it") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val none = df(Nil).select(col("split"), col("doc_id"))
      Snapshots.commitDelta(spark, root.toString,
        df(Seq(doc(2, "a", "two"))), none)
      Thread.sleep(30)
      val rep = Snapshots.maintain(spark, root.toString,
        Snapshots.MaintenancePolicy(dvCompactFraction = None,
          consolidateAfterDirs = None, vacuumKeepLast = None,
          vacuumOlderThanMs = Some(0L)))
      assert(rep.vacuumDropped === Seq(1))
      assert(contents(root.toString, 2) ===
        Set((1L, "a", "one"), (2L, "a", "two")))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("a predicate referencing no stats column short-circuits before any pruner plan build") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(9, "b", "nine"))), root.toString,
        statsCols = Seq("doc_id"))
      val before = Snapshots.prunePlanBuilds.get()
      // n_tokens is stored but untracked: no constraint could ever
      // prune, so the pruner must not build/optimize a bare plan at all
      val rows = Snapshots.readAtWhere(spark, root.toString, 1,
        col("n_tokens") >= 4L).collect()
      assert(rows.map(_.getLong(0)).toSet === Set(9L))
      assert(Snapshots.prunePlanBuilds.get() === before,
        "an untracked-column predicate must skip the bare-plan build")
      // a tracked-column predicate still builds the plan and still prunes
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
        col("doc_id") > 5L).collect().map(_.getLong(0)).toSet === Set(9L))
      assert(Snapshots.prunePlanBuilds.get() === before + 1)
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("doc_id") > 5L) === Seq("a"))
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("long-string stats cells truncate to the cap; pruning on them stays engaged AND sound") {
    val root = freshRoot()
    try {
      // two splits of 200-char urls: split A all under 'a…', split B all
      // under 'b…' — they diverge INSIDE the 32-cp cap, so pruning must
      // still engage; within a split values diverge only past the cap,
      // so a truncating bound must stay sound
      import spark.implicits._
      val rows = (0 until 20).map { k =>
        val (sp, ch) = if (k % 2 == 0) ("A", "a") else ("B", "b")
        (k.toLong, sp, ch * 150 + f"$k%04d" + ch * 46)
      }
      val d = rows.toDF("doc_id", "split", "url")
      Snapshots.commitFull(spark, d, root.toString, statsCols = Seq("url"))
      // bounded cells: the version file must not embed any full value
      val body = new String(java.nio.file.Files.readAllBytes(
        root.resolve("_versions").resolve("v1.list")), "UTF-8")
      assert(!body.contains("a" * 60) && !body.contains("b" * 60),
        "stats cells must truncate long strings")
      // pruning ENGAGES across the splits (range + prefix)
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("url") >= "b") === Seq("A"))
      assert(Snapshots.pruneReport(spark, root.toString, 1,
        col("url").startsWith("a")) === Seq("B"))
      // …and the corruption proof: split A's files gone, the pruned
      // read still answers exactly
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(root.toFile).filter(f => f.getName.endsWith(".parquet") &&
          f.getAbsolutePath.contains("split=A/"))
        .foreach(f => java.nio.file.Files.write(f.toPath,
          "junk".getBytes("UTF-8")): Unit)
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
          col("url") >= "b").count() === 10L)
      // SOUNDNESS where values diverge only past the cap: an equality
      // probe inside split B must keep split B (the widened range can
      // keep extras, never drop the match) and return exactly its row
      val probe = rows.find(_._2 == "B").get._3
      assert(!Snapshots.pruneReport(spark, root.toString, 1,
        col("url") === probe).contains("B"))
      assert(Snapshots.readAtWhere(spark, root.toString, 1,
          col("url") === probe).count() === 1L)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("version-file cache detects a same-(ms-mtime, length) rewrite via nanosecond validation") {
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"))), root.toString)
      val h1 = Snapshots.history(spark, root.toString).collect()
      assert(h1.head.getLong(3) === 1L) // n_rows parsed and cached
      val vfPath = root.resolve("_versions").resolve("v1.list")
      val origNs = java.nio.file.Files.getLastModifiedTime(vfPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      assume(origNs % 1000000L != 0L,
        "filesystem lacks sub-ms mtime precision; the ns tier is inert here")
      // adversarial re-seed: same LENGTH, same MS mtime — the classic
      // (mtime, length) validator would serve the stale parse silently
      val body = new String(java.nio.file.Files.readAllBytes(vfPath), "UTF-8")
      val forged = body.replaceFirst("\t1\n", "\t2\n")
      assert(forged.length === body.length && forged != body)
      // drop the LocalFileSystem checksum sidecar — this test forges the
      // file OUTSIDE the hadoop API, and the stale crc would (rightly)
      // fail the read before the cache tier under test is even reached
      java.nio.file.Files.deleteIfExists(
        root.resolve("_versions").resolve(".v1.list.crc")): Unit
      java.nio.file.Files.write(vfPath, forged.getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(vfPath,
        java.nio.file.attribute.FileTime.fromMillis(origNs / 1000000L))
      val h2 = Snapshots.history(spark, root.toString).collect()
      assert(h2.head.getLong(3) === 2L,
        "the rewritten version file must be re-parsed, not served stale")
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  // ---- split metadata from the write job itself -------------------------

  /** Runs `body` with every commit's observed write metadata withheld, as
    * if it never arrived: each commit must take the read-back fallback. */
  private def withoutObservedMeta[T](body: => T): T = {
    val prev = Snapshots.awaitSplitMeta
    Snapshots.awaitSplitMeta = _ => None
    try body finally Snapshots.awaitSplitMeta = prev
  }

  /** Version file `v` with what legitimately differs between two stores
    * fed the same commits removed: the commit stamp and the attempt-
    * unique dir names. */
  private def versionText(root: java.nio.file.Path, v: Int,
      branch: Option[String] = None): String =
    new String(java.nio.file.Files.readAllBytes(
      branch.fold(root.resolve("_versions"))(b =>
        root.resolve("_versions").resolve("branches").resolve(b))
        .resolve(s"v$v.list")), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#ts="))
      .map(_.replaceAll("v\\d+-[0-9a-f]{8}", "v?")).mkString("\n")

  private def readBacks(descs: Seq[String]): Seq[String] =
    descs.filter(_.contains("read-back"))

  /** Stats, blooms and DV fixture: truncated strings (cap 3) including a
    * surrogate pair, timestamps, dates, a nullable double with nulls and
    * a duplicated (split, doc_id) row. */
  private def metaFixture(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def d(s: String) = java.sql.Date.valueOf(s)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("split", StringType), StructField("title", StringType),
      StructField("ts", TimestampType), StructField("d", DateType),
      StructField("score", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a", "abcdef", ts("2024-01-01T00:00:00.123456Z"), d("2024-01-01"), 1.5),
      Row(2L, "a", "abd", ts("2023-06-30T23:59:59Z"), d("1999-12-31"), null),
      Row(2L, "a", "abd", ts("2023-06-30T23:59:59Z"), d("1999-12-31"), null),
      Row(3L, "b", "zz😀x", ts("1970-01-01T00:00:00Z"), d("2000-02-29"), -2.0),
      Row(4L, "b", "b", null, null, null),
      Row(5L, "c", "c-only", ts("2030-05-05T05:05:05Z"), d("2030-05-05"), 0.25)), 3), schema)
  }

  /** commitFull, a widening delta that also empties split c, a DV over
    * the duplicated row, DV compaction and consolidation. Returns each
    * commit's traced job descriptions. */
  private def metaLifecycle(root: String): Seq[Seq[String]] = {
    val base = metaFixture()
    val full = traced(Snapshots.commitFull(spark, base, root,
      Seq("doc_id", "title", "ts", "d", "score"), Nil, zorder = false,
      Seq("doc_id", "title")))
    val adds = base.filter(col("doc_id") === 1L)
      .withColumn("doc_id", lit(6L)).withColumn("title", lit("abcz-wide"))
      .withColumn("lang", lit("en"))
    val delta = traced(Snapshots.commitDelta(spark, root, adds,
      base.filter(col("doc_id") === 5L).select(col("split"), col("doc_id"))))
    val remove = traced(Snapshots.commitRemove(spark, root,
      base.filter(col("doc_id") === 2L).select(col("split"), col("doc_id"))))
    val compact = traced(Snapshots.compactDeletionVectors(spark, root, 0.0))
    val consolidate = traced(Snapshots.consolidate(spark, root))
    assert(Seq(full, delta, remove, compact, consolidate).map(_.out) == (1 to 5))
    Seq(full, delta, remove, compact, consolidate).map(_.descs)
  }

  test("observed split metadata equals the read-back byte for byte; a withheld metric takes the read-back") {
    val (obs, rb) = (freshRoot(), freshRoot())
    val capKey = "spark.graft.snapshot.statsMaxStringLen"
    spark.conf.set(capKey, "3")
    try {
      val observed = metaLifecycle(obs.toString)
      val readBack = withoutObservedMeta(metaLifecycle(rb.toString))
      (1 to 5).foreach(v => assert(versionText(obs, v) == versionText(rb, v), s"v$v"))
      assert(observed.forall(readBacks(_).isEmpty), observed)
      assert(readBack.forall(readBacks(_).nonEmpty), readBack)
      // the fixture reaches what it is for: a truncated min, a bumped max
      val v1 = versionText(obs, 1)
      assert(v1.contains("\tabc\tabd\t0\t"), v1)
      assert(v1.contains("\tb\tzz%F0%9F%98%81\t0\t"), v1)
      val v2 = versionText(obs, 2)
      assert(v2.linesIterator.exists(_.startsWith("c\tv?\t0\t")), v2) // emptied split
      assert(v2.startsWith("doc_id BIGINT,split STRING,title STRING") && v2.contains("lang"), v2)
      val v3 = versionText(obs, 3)
      assert(v3.linesIterator.exists(l => l.startsWith("a\t") && l.endsWith("-dv\t2")), v3)
      assert(Snapshots.readAt(spark, obs.toString, 5).count() == 4L)
    } finally {
      spark.conf.unset(capKey)
      CorpusExport.deleteRecursively(obs.toFile)
      CorpusExport.deleteRecursively(rb.toFile)
    }
  }

  test("z-ordered store: observed split metadata equals the read-back") {
    val (obs, rb) = (freshRoot(), freshRoot())
    def lifecycle(root: String): Unit = {
      import spark.implicits._
      val rows = (1 to 12).map(i => (i.toLong, s"s${i % 3}", i * 7 % 11, i * 5L))
        .toDF("doc_id", "split", "x", "y")
      Snapshots.commitFull(spark, rows, root, Seq("x", "y"), Nil, zorder = true)
      Snapshots.commitDelta(spark, root,
        Seq((13L, "s1", -4, 99L)).toDF("doc_id", "split", "x", "y"),
        Seq(("s2", 2L)).toDF("split", "doc_id"))
    }
    try {
      lifecycle(obs.toString)
      withoutObservedMeta(lifecycle(rb.toString))
      (1 to 2).foreach(v => assert(versionText(obs, v) == versionText(rb, v), s"v$v"))
      assert(versionText(obs, 1).contains("#zorder=1"))
    } finally {
      CorpusExport.deleteRecursively(obs.toFile)
      CorpusExport.deleteRecursively(rb.toFile)
    }
  }

  test("commits run no read-back job, within pinned job counts, observing above the write's last exchange") {
    val root = freshRoot()
    try {
      val r = root.toString
      val base = df(Seq(doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three")))
      val full = traced(Snapshots.commitFull(spark, base, r, Seq("doc_id"), Nil,
        zorder = false, Seq("doc_id")))
      val delta = traced(Snapshots.commitDelta(spark, r, df(Seq(doc(4, "b", "four"))),
        df(Seq(doc(1, "a", ""))).select(col("split"), col("doc_id"))))
      val remove = traced(Snapshots.commitRemove(spark, r,
        df(Seq(doc(2, "a", ""))).select(col("split"), col("doc_id"))))
      val compact = traced(Snapshots.compactDeletionVectors(spark, r, 0.0))
      val consolidate = traced(Snapshots.consolidate(spark, r))
      // measured on this fixture; a read-back adds jobs to every one
      val bounds = Seq("commitFull" -> (full, 2), "commitDelta" -> (delta, 6),
        "commitRemove" -> (remove, 3), "compactDeletionVectors" -> (compact, 3),
        "consolidate" -> (consolidate, 2))
      bounds.foreach { case (what, (t, maxJobs)) =>
        assert(readBacks(t.descs).isEmpty, s"$what read back: ${t.descs}")
        assert(t.jobs <= maxJobs, s"$what ran ${t.jobs} jobs: ${t.descs}")
      }
      // the observed aggregate sits in the write's result stage: no
      // exchange between it and the root, at least one below it
      def exchange(n: org.apache.spark.sql.execution.SparkPlanInfo) =
        n.nodeName.contains("Exchange") ||
          (n.nodeName.contains("QueryStage") && !n.nodeName.startsWith("ResultQueryStage"))
      def pathTo(p: org.apache.spark.sql.execution.SparkPlanInfo)
          : Option[Seq[org.apache.spark.sql.execution.SparkPlanInfo]] =
        if (p.nodeName == "CollectMetrics") Some(Seq(p))
        else p.children.iterator.flatMap(pathTo).nextOption().map(p +: _)
      val writes = delta.finalPlans.flatMap(p => pathTo(p).map(p -> _))
      assert(writes.nonEmpty, delta.finalPlans.map(_.simpleString))
      writes.foreach { case (plan, path) =>
        assert(!path.exists(exchange), path.map(_.nodeName))
        assert(nodes(path.last).exists(exchange), plan.simpleString)
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("keys the writer maps to the default partition, and NULL keys, refuse before publish") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("split", StringType), StructField("text", StringType)))
    def frame(doc: java.lang.Long, split: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a", "ok"), Row(doc, split, "bad")), 2), schema)
    val bad = Seq(frame(2L, ""), frame(2L, "__HIVE_DEFAULT_PARTITION__"),
      frame(2L, null), frame(null, "a"))
    bad.foreach { f =>
      val root = freshRoot()
      try {
        val e = intercept[graft.core.GraftAnalysisException](
          Snapshots.commitFull(spark, f, root.toString))
        assert(e.getMessage.contains("NULL"), e.getMessage)
        assert(Snapshots.latestVersion(spark, root.toString) == 0)
      } finally CorpusExport.deleteRecursively(root.toFile)
    }
    val root = freshRoot()
    try {
      Snapshots.commitFull(spark, frame(2L, "b"), root.toString)
      val e = intercept[graft.core.GraftAnalysisException](Snapshots.commitDelta(
        spark, root.toString, frame(3L, "").filter(col("doc_id") === 3L),
        frame(3L, "").select(col("doc_id")).limit(0)))
      assert(e.getMessage.contains("NULL"), e.getMessage)
      assert(Snapshots.latestVersion(spark, root.toString) == 1)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("writes that turn out empty still deliver their observed metadata") {
    val root = freshRoot()
    try {
      val r = root.toString
      val base = df(Seq(doc(1, "a", "one"), doc(2, "b", "two")))
      val runtimeEmpty = base.filter(col("text") === concat(col("text"), lit("x")))
      val antiEmpty = base.join(base.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val empties = Seq(runtimeEmpty, antiEmpty, base.filter(lit(false)), base.limit(0))
      empties.zipWithIndex.foreach { case (e, i) =>
        val t = traced(Snapshots.commitFull(spark, e, r, Seq("doc_id")))
        assert(t.out == i + 1)
        assert(readBacks(t.descs).isEmpty, s"empty write $i read back: ${t.descs}")
        assert(versionText(root, i + 1).linesIterator.count(!_.startsWith("#")) == 1,
          versionText(root, i + 1)) // schema line only: no refs
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  /** One tiny lifecycle through every call site that publishes a version
    * file, with blooms kept 64 bits wide so their base64 stays short. */
  private def goldenLifecycle(r: String): Unit = {
    val none = df(Nil).select(col("split"), col("doc_id"))
    def keys(id: Long, split: String) =
      df(Seq(doc(id, split, ""))).select(col("split"), col("doc_id"))
    Snapshots.commitFull(spark, df(Seq(doc(1, "a", "one"), doc(2, "a", "two"),
      doc(8, "a", "eight"), doc(3, "b", "three"), doc(4, "c", "four"))), r,
      Seq("doc_id", "n_tokens"), Seq("n_tokens >= 0"), zorder = false, Seq("doc_id"))
    Snapshots.commitDelta(spark, r, df(Seq(doc(5, "b", "five"))), keys(1, "a"),
      tag = Some("t1"))
    Snapshots.commitRemove(spark, r, keys(2, "a"))
    Snapshots.compactDeletionVectors(spark, r, 0.0)
    Snapshots.consolidate(spark, r)
    Snapshots.dropSplits(spark, r, Seq("c"))
    Snapshots.restore(spark, r, 5)
    Snapshots.createBranch(spark, r, "exp", 7)
    Snapshots.commitDelta(spark, r, df(Seq(doc(6, "b", "six"))), none,
      tag = None, branch = Some("exp"))
    Snapshots.mergeBranch(spark, r, "exp")
    Snapshots.mergeInto(spark, r, df(Seq(doc(3, "b", "THREE"), doc(7, "c", "seven"))),
      Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert)
  }

  test("version-file golden: every publishing call site writes the pinned text") {
    val root = freshRoot()
    val bitsKey = "spark.graft.snapshot.bloomBits"
    spark.conf.set(bitsKey, "64")
    try {
      goldenLifecycle(root.toString)
      val got = (1 to 9).map(v => s"v$v" -> versionText(root, v)) ++
        (1 to 2).map(v => s"exp v$v" -> versionText(root, v, Some("exp")))
      def file(lines: String*) = lines.mkString("\n")
      val narrow = "doc_id BIGINT NOT NULL,split STRING,text STRING,n_tokens BIGINT NOT NULL"
      val wide = "doc_id BIGINT,split STRING,text STRING,n_tokens BIGINT"
      val contract = file("#check=n_tokens+%3E%3D+0", "#stats=doc_id,n_tokens",
        "#bloom=doc_id")
      val want = Seq(
        "v1" -> file(narrow, contract, "#bf=a\tdoc_id\toANxCEbAAhg=",
          "#bf=b\tdoc_id\tAAEgAAZAAAg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t3\t1\t8\t0\t3\t5\t0", "b\tv?\t1\t3\t3\t0\t5\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v2" -> file(narrow, "#tag=t1", contract, "#bf=a\tdoc_id\tgANwAAbAABg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t2\t2\t8\t0\t3\t5\t0", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v3" -> file(narrow, contract, "#bf=a\tdoc_id\tgANwAAbAABg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t2\t2\t8\t0\t3\t5\t0\tv?-dv\t1", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v4" -> file(narrow, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v5" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v6" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "a\tv?\t1\t8\t8\t0\t5\t5\t0",
          "b\tv?\t2\t3\t5\t0\t4\t5\t0"),
        "v7" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v8" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tEAMoggZAYZw=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t3\t3\t6\t0\t3\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "v9" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tEAMoggZAYZw=", "#bf=c\tdoc_id\tIADAD4gAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t3\t3\t6\t0\t3\t5\t0",
          "c\tv?\t2\t4\t7\t0\t4\t5\t0"),
        "exp v1" -> file(wide, "#fork=7", contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tAAEoggZAQRg=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tv?\t2\t3\t5\t0\t4\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0"),
        "exp v2" -> file(wide, contract, "#bf=a\tdoc_id\tgAEQAAJAAAg=",
          "#bf=b\tdoc_id\tEAMoggZAYZw=", "#bf=c\tdoc_id\tIABAAIgAEAE=",
          "a\tv?\t1\t8\t8\t0\t5\t5\t0", "b\tb-exp-v?\t3\t3\t6\t0\t3\t5\t0",
          "c\tv?\t1\t4\t4\t0\t4\t4\t0")
      )
      assert(got.map(_._1) === want.map(_._1))
      got.zip(want).foreach { case ((k, t), (_, w)) => assert(t === w, k) }
    } finally {
      spark.conf.unset(bitsKey)
      CorpusExport.deleteRecursively(root.toFile)
    }
  }

  test("a tagged mergeInto on a branch refuses like commitDelta; main's tag ledger is untouched") {
    val root = freshRoot()
    try {
      val r = root.toString
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))), r)
      Snapshots.createBranch(spark, r, "exp", 1)
      val e = intercept[graft.core.GraftAnalysisException] {
        Snapshots.mergeInto(spark, r, df(Seq(doc(4, "b", "four"))),
          Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert,
          tag = Some("t"), branch = Some("exp"))
      }
      assert(e.getMessage.contains("main-chain only"), e.getMessage)
      assert(Snapshots.versionForTag(spark, r, "t") === None)
      assert(Snapshots.latestVersion(spark, r) === 1)
      assert(Snapshots.latestVersion(spark, r, Some("exp")) === 1)
    } finally CorpusExport.deleteRecursively(root.toFile)
  }

  test("commits that never rebase turn a lost claim race into a typed refusal naming the version that landed") {
    val root = freshRoot()
    try {
      val r = root.toString
      Snapshots.commitFull(spark, df(Seq(
        doc(1, "a", "one"), doc(2, "a", "two"), doc(3, "b", "three"))), r)
      Snapshots.commitRemove(spark, r, df(Seq(doc(2, "a", "")))
        .select(col("split"), col("doc_id")))
      val none = df(Nil).select(col("split"), col("doc_id"))
      val ops: Seq[(String, () => Int)] = Seq(
        "commitFull" -> (() => Snapshots.commitFull(spark, df(Seq(doc(9, "a", "nine"))), r)),
        "restore" -> (() => Snapshots.restore(spark, r, 1)),
        "dropSplits" -> (() => Snapshots.dropSplits(spark, r, Seq("b"))),
        "compactDeletionVectors" -> (() => Snapshots.compactDeletionVectors(spark, r, 0.0)))
      ops.zipWithIndex.foreach { case ((what, op), i) =>
        val id = 20L + i
        val before = contents(r, Snapshots.latestVersion(spark, r))
        val st = new LosingClaim(Some(() =>
          Snapshots.commitDelta(spark, r, df(Seq(doc(id, "b", "theirs"))), none): Unit))
        val e = intercept[graft.core.GraftAnalysisException](withStrategy(st)(op()))
        val head = Snapshots.latestVersion(spark, r)
        assert(head === 3 + i, what)
        assert(e.getMessage.contains(what) && e.getMessage.contains(s"v$head"),
          s"$what: ${e.getMessage}")
        assert(contents(r, head) === before + ((id, "b", "theirs")), what)
      }
    } finally CorpusExport.deleteRecursively(root.toFile)
  }
}

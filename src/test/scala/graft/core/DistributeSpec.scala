package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.functions._

/** Pins for the write distributions: the file-count bound REBALANCE
  * exists for (exports), the pinned-width hash exchange of store
  * commits, and the exchange-free IVF index write. */
class DistributeSpec extends SparkTestBase {

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) partFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }

  // 8 splits spread over MANY input partitions: the naive dynamic write's
  // file count scales with tasks × splits; the distributed write's with
  // splits alone
  private def wide = spark.range(0, 4096, 1, 16)
    .select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(8))).as("split"))

  /** The final (post-AQE) plans of `body`'s SQL executions that write files. */
  private def writePlans(body: => Unit): Seq[SparkPlanInfo] =
    traced(body).finalPlans.filter(p => nodes(p).exists(_.nodeName.contains("WriteFiles")))

  test("rebalance bounds a partitioned write's files at ~#splits, content intact") {
    val out = java.nio.file.Files.createTempDirectory("graft_dist_reb").toFile
    try {
      Distribute.rebalance(wide, "split")
        .write.mode("overwrite").partitionBy("split").parquet(out.getPath)
      val files = partFiles(out)
      // 16 input partitions × 8 splits = up to 128 files undistributed;
      // the rebalanced write must stay within a small factor of #splits
      // (AQE may keep a few writers, never tasks × splits)
      assert(files.size <= 16, s"expected ≤ 2×#splits files, got ${files.size}")
      val back = spark.read.parquet(out.getPath)
      assert(back.count() == 4096)
      assert(back.select(countDistinct(col("split"))).head().getLong(0) == 8)
      assert(back.agg(sum(col("doc_id"))).head().getLong(0) ==
        wide.agg(sum(col("doc_id"))).head().getLong(0))
    } finally graft.plans.CorpusExport.deleteRecursively(out)
  }

  // r17: a bare repartition(split) is AQE-coalescable, and on a small
  // commit it collapsed to ONE task writing every split dir serially
  test("a store commit writes through a shuffle-width hash exchange that AQE does not coalesce") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val root = java.nio.file.Files.createTempDirectory("graft_dist_store")
    spark.conf.set(key, "32")
    try {
      val small = spark.range(0, 40, 1, 4)
        .select(col("id").as("doc_id"),
          concat(lit("s"), pmod(col("id"), lit(8))).as("split"))
      val writes = writePlans(
        graft.plans.Snapshots.commitFull(spark, small, root.toString): Unit)
      assert(writes.size == 1, writes.map(_.simpleString))
      val plan = nodes(writes.head)
      val hash = plan.filter(n => n.nodeName.contains("Exchange") &&
        n.simpleString.contains("hashpartitioning(split#"))
      assert(hash.size == 1, plan.map(_.simpleString))
      assert(hash.head.simpleString.matches(""".*hashpartitioning\(split#\d+, 32\).*"""),
        hash.head.simpleString)
      assert(!plan.exists(_.nodeName == "AQEShuffleRead"),
        s"the write's exchange was re-read by AQE: ${plan.map(_.simpleString)}")
    } finally {
      spark.conf.set(key, prev)
      graft.plans.CorpusExport.deleteRecursively(root.toFile)
    }
  }

  test("an IVF index append writes with no exchange") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_dist_ivf")
    try {
      val idx = path.resolve("idx").toString
      val cents = graft.operators.Similarity.writeIvfIndex(
        embs.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", idx, nCells = 4)
      val writes = writePlans(graft.operators.Similarity.appendToIvfIndex(
        embs.filter(pmod(col("vec_id"), lit(2)) =!= 0), "vec_id", "embedding", idx, cents))
      assert(writes.size == 1, writes.map(_.simpleString))
      assert(!nodes(writes.head).exists(_.nodeName.contains("Exchange")),
        nodes(writes.head).map(_.simpleString))
    } finally graft.plans.CorpusExport.deleteRecursively(path.toFile)
  }
}

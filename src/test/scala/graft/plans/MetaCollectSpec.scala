package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins for [[Snapshots.distinctStringsOneJob]] (r17): the one-job
  * metadata collect the commit path's affected-split/bucket-probe
  * collects ride. It must be EXACTLY `distinct().collect()` — nulls and
  * hostile values preserved, duplicates across many partitions merged,
  * and the overflow cap — per task and over all tasks together —
  * standing the call down to the shuffle path with an identical result. */
class MetaCollectSpec extends SparkTestBase {

  private val CapKey = "spark.graft.snapshot.metaCollectCap"

  test("equals distinct().collect(): dupes across partitions, nulls, hostile values") {
    val hostile = Seq("s0", "s1", "", " lead", "trail ", "a\tb", "a\nb",
      "日本語", "s0", null, "s1", null, "%2F", "a=b/c", "~")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        hostile.map(org.apache.spark.sql.Row(_)), numSlices = 7),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("split",
          org.apache.spark.sql.types.StringType))))
    val fast = Snapshots.distinctStringsOneJob(df)
    val legacy = df.distinct().collect().map(_.getString(0)).toSet
    assert(fast == legacy)
    assert(fast.contains(null) && fast.contains("") && fast.contains("日本語"))
  }

  test("derived column input (the resolveSplits bucket probe shape)") {
    val df = spark.range(0, 1000, 1, 16)
      .select(concat(lit("b"), pmod(col("id"), lit(13))).cast("string").as("b"))
    val fast = Snapshots.distinctStringsOneJob(df)
    assert(fast == (0 until 13).map(i => s"b$i").toSet)
  }

  test("overflow cap stands down to the shuffle distinct, result identical") {
    val prev = spark.conf.getOption(CapKey)
    try {
      spark.conf.set(CapKey, "3") // force overflow on a 50-value domain
      val df = spark.range(0, 5000, 1, 8)
        .select(pmod(col("id"), lit(50)).cast("string").as("v"))
      val fast = Snapshots.distinctStringsOneJob(df)
      assert(fast == (0 until 50).map(_.toString).toSet)
    } finally {
      prev match {
        case Some(p) => spark.conf.set(CapKey, p)
        case None => spark.conf.unset(CapKey)
      }
    }
  }

  test("per-task sets each under the cap but over it together stand down too, result identical") {
    val prev = spark.conf.getOption(CapKey)
    try {
      // 8 tasks of 5 distinct values: every task under a cap of 10, 40 in all
      val df = spark.range(0, 40, 1, 8).select(col("id").cast("string").as("v"))
      spark.conf.set(CapKey, "10")
      val over = traced(Snapshots.distinctStringsOneJob(df))
      assert(over.out == (0 until 40).map(_.toString).toSet)
      assert(over.jobs > 1, s"the shuffle distinct never ran: ${over.jobs} job(s)")
      spark.conf.set(CapKey, "40")
      val under = traced(Snapshots.distinctStringsOneJob(df))
      assert(under.out == over.out)
      assert(under.jobs == 1, s"${under.jobs} jobs under the cap")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(CapKey, p)
        case None => spark.conf.unset(CapKey)
      }
    }
  }

  test("empty input yields the empty set") {
    val df = spark.range(0, 0).select(col("id").cast("string").as("v"))
    assert(Snapshots.distinctStringsOneJob(df).isEmpty)
  }
}

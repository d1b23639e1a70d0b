package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated star schema (TESTDATA.md).
  *
  * Mirrors the reference's notion of a source-lifting `.out` on a table
  * (reference: sample/commonSlick/src/main/scala/Sample05.scala:24-27) — in
  * Spark the lift is simply `spark.read.parquet`, which yields a lazy
  * `DataFrame` whose scan benefits from column pruning + predicate pushdown.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, dir, table): the fixture dirs are immutable, and
  // every `spark.read.parquet` call re-lists the directory and re-infers
  // the schema from a footer — ~50-100ms of driver time per table per query
  // build that the cached (lazy, immutable) DataFrame plan skips entirely.
  // Keys hold session references for the process lifetime — fine for the
  // gate/bench mains this loader serves; callers with short-lived sessions
  // should read directly.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, dir, name), { _ =>
      if (name == "events") {
        // The NTZ→TIMESTAMP cast below interprets the wall-clock value in
        // the SESSION timezone: under anything but UTC every event instant
        // silently shifts relative to the raw micros (and the DuckDB
        // oracle). All in-repo entry points pin UTC; this guard turns the
        // latent assumption into a loud error for any other caller.
        val tz = spark.conf.get("spark.sql.session.timeZone",
          java.util.TimeZone.getDefault.getID)
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ and is cast to session-zoned TIMESTAMP; " +
            s"that cast only preserves instants under spark.sql.session.timeZone=UTC " +
            s"(this session: '$tz'). Set the session timezone to UTC before loading events.")
        spark.read.parquet(s"$dir/events.parquet")
          .withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      } else spark.read.parquet(s"$dir/$name.parquet")
    })
}

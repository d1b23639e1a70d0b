package graft.core

import graft.compile.FilterParams
import org.apache.spark.sql.SparkSession

/** The engine's recommended session posture, in one place — what a user
  * of the library should start from, and what every bundled main
  * (Verify/Bench and the dev tools) actually runs on:
  *
  *   - AQE on, WITH the skew split explicitly pinned: the hot
  *     corpus-sized joins (minhash/simhash verify, membership joins)
  *     rely on the runtime split for their 100 TB shape — salting would
  *     replicate the corpus (see [[graft.relational.Skew]] and the
  *     SkewSpec hot-id pin).
  *   - UTC session time: every datetime gate and oracle assumes it;
  *     a zoned session silently shifts window/watermark arithmetic.
  *   - `spark.sql.shuffle.partitions` sized to the caller's parallelism,
  *     NOT the 200 default: at local/test scale 200 partitions is pure
  *     task overhead; a cluster deployment sizes this to its data volume
  *     (the knob is load-bearing either way, so it is a parameter here).
  *   - Compiled request shapes are kept. The paper's traffic is one
  *     declaration serving many requests that differ only in their
  *     filter values, orders and pages. Two posture lines make a repeated
  *     shape reuse its generated classes; each alone saves at most a third
  *     of the compiles:
  *       - [[graft.compile.FilterParams]] (a session extension) generates
  *         filter values above the scan as references, not inlined
  *         literals, so a fresh value no longer means a fresh class;
  *       - `spark.sql.codegen.cache.maxEntries` = 512 (Spark's default is
  *         100, which a serving process's shapes thrash). Replaying
  *         view_requests' first 96 timed requests (4 cores), a cap of 400,
  *         1000 or 2000 compiled the same classes per request, so 512
  *         holds this traffic's shapes. Each entry retains about 20 KB of
  *         Janino bytecode: heap after a full GC rose 6.6 MB at a cap of
  *         400 and 7.8 MB at 1000 (view_requests' `heap_retained_mb` at
  *         512 with the rule: 91.1 → 99.4 MB). A constant of the posture,
  *         like the settings above, not an option.
  *
  * Checkpoint strategy is deliberately NOT set here: `local` is the
  * correct default (see [[Checkpoint]]); a cluster on preemptible nodes
  * opts into `reliable` per deployment.
  */
object Sessions {

  /** A builder carrying the engine posture; callers append app-specific
    * settings (master, UI, memory) and `getOrCreate()`. `parallelism`
    * sizes the shuffle-partition count. */
  def graftBuilder(parallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(FilterParams.extension)
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // file-listing posture (r16, guide §6): Spark fans partition
      // discovery out as a DISTRIBUTED JOB past 32 paths — a full job
      // round-trip to stat a few dozen directories. The snapshot store's
      // version dirs hold one subdir per split (64 for the default doc
      // index), so every read of such a dir paid a ~100-200 ms listing
      // job at local scale. Driver-side listing handles hundreds of
      // paths through its own listing pool on any filesystem; genuinely
      // wide layouts (thousands of splits) still fan out past this.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // reliable-checkpoint hygiene (context-level, so it must be set at
      // session creation): iterative loops free superseded rounds
      // deterministically via Checkpoint.free, but TERMINAL checkpoints
      // (a returned result's lineage cut) have no free() site — the
      // ContextCleaner deletes their DFS files once the RDD is GC'd, and
      // only when this is on (Spark defaults it OFF)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** The bundled mains' session: local master with `cpus` threads, UI
    * off, WARN logs — the engine posture over [[graftBuilder]]. */
  def local(cpus: Int): SparkSession = {
    val s = graftBuilder(cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Dev tool for optimization rounds: one main, four subcommands, on the
  * session and gate loop of [[Bench]] and [[Verify]] (env as Bench:
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`).
  *
  *   sbt "runMain graft.Dev profile d_corpus_docindex"
  *   sbt "runMain graft.Dev explain q1_agg r_percentiles"
  *   sbt "runMain graft.Dev explain-store 8"
  *   SPARK_GRAFT_PROF_PARTS=1 sbt "runMain graft.Dev stream"
  *
  * To time one gate, run [[Bench]] with `SPARK_GRAFT_BENCH_ONLY`; to dump
  * a few, give [[Verify]] its gate list. */
object Dev {

  private val usage = Seq(
    "usage: graft.Dev profile <gate>             per-job cost table of one gate's timed run",
    "       graft.Dev explain <gate> [gate ...]  formatted plan of each gate's returned frame",
    "       graft.Dev explain-store [nSplits]    snapshot-store read and commit-write plans (default 8 splits)",
    "       graft.Dev stream                     per-micro-batch breakdown of the session-window stream"
  ).mkString("\n")

  def main(args: Array[String]): Unit = {
    val spark = GateLoop.session()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one subcommand on `spark` and leaves the session running; a
    * command line that names no subcommand throws the usage text. */
  def run(spark: SparkSession, args: Seq[String], sfDir: String = GateLoop.sfDir): Unit =
    args match {
      case Seq("profile", gate) => profile(spark, sfDir, gate)
      case "explain" +: gates if gates.nonEmpty => explain(spark, sfDir, gates)
      case Seq("explain-store") => explainStore(spark, 8)
      case Seq("explain-store", n) if n.toIntOption.exists(_ > 0) => explainStore(spark, n.toInt)
      case Seq("stream") => stream(spark, sfDir)
      case _ => throw new IllegalArgumentException(usage)
    }

  /** A per-JOB cost table of one gate — duration, description/call-site,
    * task count, input bytes, shuffle read/write — so a multi-action gate
    * (a lifecycle commit chain, a streaming sync harness) can be
    * attributed job by job instead of guessed at from its total. The
    * header also counts the Janino compiles of the sample (the
    * declaration/compile layer). One untimed warm-up, then one sample as
    * [[Bench]] times it. Printed on stderr. */
  private def profile(spark: SparkSession, sfDir: String, gate: String): Unit = {
    GateLoop.requireGates(Seq(gate), "graft.Dev profile")
    GateLoop.warmUp(spark, sfDir, Seq(gate))
    val table = new GateLoop.JobTable
    spark.sparkContext.addSparkListener(table)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ((total, plan), jobs) =
      try table.record(drainMs = 500)(GateLoop.sample(spark, sfDir, gate))
      finally spark.sparkContext.removeSparkListener(table)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    def mb(b: Long) = f"${b / 1e6}%9.1f"
    Console.err.println(f"[profile] $gate total=$total%.3fs " +
      f"(plan=$plan%.3fs exec=${total - plan}%.3fs) jobs=${jobs.size} compiles=$compiles")
    Console.err.println("[profile]   ms  tasks stages   inputMB  shufRdMB  shufWrMB  description")
    jobs.foreach { r =>
      Console.err.println(f"[profile] ${r.ms}%5d ${r.tasks}%6d ${r.stages}%6d " +
        f"${mb(r.inputBytes)} ${mb(r.shuffleRead)} ${mb(r.shuffleWrite)}  ${r.desc.take(110)}")
    }
    val acct = jobs.map(_.ms).filter(_ > 0).sum
    Console.err.println(f"[profile] job-accounted=${acct / 1e3}%.3fs of " +
      f"$total%.3fs (gap = driver-side/planning/fs)")
  }

  /** `.explain("formatted")` of each gate's returned frame, delimited per
    * gate — the source of the committed `plans/r16/<query>_{before,after}.txt`.
    * Orchestration gates (lifecycle commits, streaming syncs) do their
    * work in the BUILDER via intermediate actions, so for those this is
    * the plan of the post-checkpoint read. */
  private def explain(spark: SparkSession, sfDir: String, gates: Seq[String]): Unit = {
    GateLoop.requireGates(gates, "graft.Dev explain")
    gates.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      println(df.queryExecution.explainString(FormattedMode))
      GateLoop.reclaim(spark)
    }
  }

  /** The formatted plans of a snapshot-store `readAt` and a stats-pruned
    * `readAtWhere` over a scratch N-split store — the internal store-read
    * plans `explain` cannot surface. The interesting field is the scan's
    * `Location`: how many `split=` paths the read LISTED. Then the commit
    * WRITE's distribution plan under each `Distribute` mode. */
  private def explainStore(spark: SparkSession, nSplits: Int): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_explain_store")
    try {
      val rows = (0L until nSplits * 5L).map(i => (i, s"s${i / 5}", s"text-$i", i))
      graft.plans.Snapshots.commitFull(spark,
        rows.toDF("doc_id", "split", "text", "n_tokens"), root.toString,
        statsCols = Seq("n_tokens"))
      val readAt = graft.plans.Snapshots.readAt(spark, root.toString, 1)
      println(s"===== readAt v1 ($nSplits splits, all referenced) =====")
      println(readAt.queryExecution.explainString(FormattedMode))
      // n_tokens ranges are disjoint per split ([5k, 5k+4]) — the
      // predicate survives exactly one split
      val pruned = graft.plans.Snapshots.readAtWhere(spark, root.toString, 1,
        col("n_tokens") === 7)
      println(s"===== readAtWhere n_tokens=7 (stats-pruned to 1 split) =====")
      println(pruned.queryExecution.explainString(FormattedMode))
      println(s"inputFiles: ${pruned.inputFiles.length} file(s)")
      pruned.inputFiles.sorted.foreach(f => println(s"  $f"))
      val delta = rows.take(10).toDF("doc_id", "split", "text", "n_tokens")
      Seq("rebalance", "hash", "none").foreach { mode =>
        println(s"===== commit-write distribution plan: mode=$mode =====")
        println(graft.core.Distribute
          .forWrite(delta, "split", scope = "", scopeDefault = mode)
          .queryExecution.explainString(FormattedMode))
      }
    } finally graft.plans.CorpusExport.deleteRecursively(root.toFile)
  }

  /** A per-micro-batch duration breakdown — Spark's StreamingQueryProgress
    * `durationMs` and state-operator metrics — of the stateful streaming
    * gate shape (the SCALE.md round-13 instrument), to split "the gate got
    * slower" into planning / addBatch / state commit / output flush.
    * `SPARK_GRAFT_PROF_PARTS` sets its shuffle partitions (default 1).
    * Two warm runs, then the timed one. */
  private def stream(spark: SparkSession, sfDir: String): Unit = {
    import graft.streaming.{EventPipeline, SentinelFiles}
    val hs = spark.newSession()
    hs.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_PROF_PARTS", "1"))
    hs.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // RAM-backed scratch when the host has one (the gates' harnessTmpDir
    // posture), default temp dir otherwise
    val shm = Paths.get("/dev/shm")
    def scratch() =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Files.createTempDirectory(shm, "graft_prof")
      else Files.createTempDirectory("graft_prof")
    def runOnce(label: String): Unit = {
      val tmp = scratch()
      try {
        val inDir = Files.createDirectories(tmp.resolve("in"))
        Files.copy(Paths.get(sfDir, "events.parquet"), inDir.resolve("part-a.parquet"))
        val maxTs = hs.read.schema(EventPipeline.rawSchema)
          .parquet(inDir.resolve("part-a.parquet").toString)
          .agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
        val name = s"prof_${System.nanoTime()}"
        val t0 = System.nanoTime()
        val q = EventPipeline.sessionWindow(EventPipeline.readEventStream(hs, inDir.toString))
          .writeStream.outputMode("append").format("memory").queryName(name)
          .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
        q.processAllAvailable()
        val t1 = System.nanoTime()
        // two sentinels past the watermark flush the open sessions
        (1 to 2).foreach { n =>
          val staged = tmp.resolve(s"part-z$n.parquet.staged")
          SentinelFiles.writeEvents(staged, Seq(
            (-n.toLong, maxTs.plusSeconds(2L * 3600 + n - 1), -1L, "sentinel", 0.0, "{}")))
          Files.move(staged, inDir.resolve(s"part-z$n.parquet"), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        }
        val t2 = System.nanoTime()
        q.stop()
        val t3 = System.nanoTime()
        val cnt = hs.table(name).filter(col("user_id") >= 0).count()
        val t4 = System.nanoTime()
        println(f"== $label rows=$cnt batch0=${(t1 - t0) / 1e9}%.2f " +
          f"sentinels=${(t2 - t1) / 1e9}%.2f stop=${(t3 - t2) / 1e9}%.2f " +
          f"read=${(t4 - t3) / 1e9}%.2f")
        q.recentProgress.foreach { p =>
          println(s"  batch=${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
          p.stateOperators.foreach { so =>
            println(s"    state: rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"updateMs=${so.allUpdatesTimeMs} commitMs=${so.commitTimeMs} " +
              s"mem=${so.memoryUsedBytes}")
          }
        }
        hs.catalog.dropTempView(name): Unit
      } finally graft.plans.CorpusExport.deleteRecursively(tmp.toFile)
    }
    Seq("warm1", "warm2", "timed").foreach(runOnce)
  }
}

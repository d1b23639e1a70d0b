package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The session, gate selection, warm-up, timed sample, reclaim and job
  * listener that [[Bench]], [[Verify]] and [[Dev]] share, so the three
  * mains run gates one way. Settings come from the environment:
  * `SPARK_GRAFT_CPUS` (local threads, default 4) and `SPARK_GRAFT_SF_DIR`
  * (the testdata scale, default sf0.1). */
private[graft] object GateLoop {

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(): SparkSession = graft.core.Sessions.local(cpus)

  /** Refuses, before any work, names that are no gate; `source` names
    * the setting that carried them. */
  def requireGates(names: Iterable[String], source: String): Unit = {
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"$source names unknown gates: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** The gates of a comma-separated list, or every gate when `only` is
    * None, in name order. */
  def gates(only: Option[String], source: String): Seq[String] = {
    val wanted = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    wanted.foreach(requireGates(_, source))
    SparkEntry.queries.keys.toSeq.sorted.filter(n => wanted.forall(_.contains(n)))
  }

  /** Cross-gate state reclaim (round-7 fix): many gates return frames
    * materialized through localCheckpoint(true) — their RDD blocks are
    * pinned in the block manager until the RDD is GC'd AND the async
    * ContextCleaner runs, which across warm-up + 3 iters × ~100 gates
    * accumulates enough storage pressure that late/heavy queries degrade
    * (round-6 recorded d_curation_pipeline 18.9s vs 3.4–4.3s solo).
    * clearCache() only drops SQL-cached plans, not checkpoint blocks, so
    * every persistent RDD is unpersisted too, and a streaming query left
    * running (a memory-sink harness) is stopped so its background
    * threads and state-store maintenance never reach the next gate. Safe:
    * every gate rebuilds its plan from scratch and re-reads parquet. */
  def reclaim(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q => try q.stop() catch { case _: Throwable => () } }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** The untimed pass (parquet footer cache, JIT, whole-stage-codegen
    * classes — one-time session costs that would otherwise be charged to
    * whichever gate runs first). Failures are ignored: they fail again,
    * timed. */
  def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      reclaim(spark)
    }

  /** One timed sample of a gate, in seconds: (total, plan). `plan` covers
    * everything before the main action — DataFrame construction,
    * analysis, optimization and physical planning (forced via
    * executedPlan), plus any driver-side setup the gate's builder performs
    * (e.g. the IVF centroid fetch or a streaming sync harness). Execution
    * then runs the SAME QueryExecution (toRdd): a df.count() would re-plan
    * the tree and let the optimizer prune every projection a count-star
    * doesn't need, skipping the very expressions being measured; its jobs
    * are labelled `gate <name>: execute`. The sample's state is reclaimed
    * after its clock stops. */
  def sample(spark: SparkSession, sfDir: String, name: String): (Double, Double) =
    try {
      val t0 = System.nanoTime()
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      qe.executedPlan
      val t1 = System.nanoTime()
      graft.core.Labeled(spark, s"gate $name: execute")(qe.toRdd.count())
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9)
    } finally reclaim(spark)

  /** One Spark job as a [[JobTable]] saw it; times are epoch millis and
    * `end` is 0 until the job ends. */
  final case class Job(id: Int, desc: String, start: Long, end: Long, stages: Int,
      tasks: Int = 0, inputBytes: Long = 0L, shuffleRead: Long = 0L,
      shuffleWrite: Long = 0L) {
    def ms: Long = if (end > 0) end - start else -1L
  }

  /** Per-job costs (description or call site, tasks, input and shuffle
    * bytes, summed over completed stages) of the jobs that start while
    * [[record]] runs. Register it with `addSparkListener`. */
  final class JobTable extends SparkListener {
    // read by the listener-bus thread
    @volatile private var recording = false
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageToJob = mutable.HashMap[Int, Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit = if (recording) {
      val props = Option(j.properties)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.synchronized {
        jobs(j.jobId) = Job(j.jobId, desc, j.time, 0L, j.stageIds.length)
        j.stageIds.foreach(sid => stageToJob(sid) = j.jobId)
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(j.jobId).foreach(r => jobs(j.jobId) = r.copy(end = j.time))
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val info = sc.stageInfo
      for {
        jid <- stageToJob.get(info.stageId)
        r <- jobs.get(jid)
        m = info.taskMetrics if m != null
      } jobs(jid) = r.copy(tasks = r.tasks + info.numTasks,
        inputBytes = r.inputBytes + m.inputMetrics.bytesRead,
        shuffleRead = r.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = r.shuffleWrite + m.shuffleWriteMetrics.bytesWritten)
    }

    /** Runs `body` and returns its result with the jobs started while it
      * ran, in start order. Listener delivery is async and
      * `listenerBus.waitUntilEmpty` is not public, so the table keeps
      * recording for `drainMs` after `body`, letting the last job-start
      * and stage events arrive before it is read. */
    def record[T](drainMs: Long)(body: => T): (T, Seq[Job]) = {
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      recording = true
      val out = try body finally { Thread.sleep(drainMs); recording = false }
      (out, jobs.synchronized(jobs.values.toList))
    }
  }
}

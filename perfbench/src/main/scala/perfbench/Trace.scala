package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced call the benchmark made into a layer of the engine. `op`
  * is the closed-loop operation it belongs to (0 = set-up work). */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans live in memory and are written once at exit.
  * Disabled, `span` is a plain call: untraced runs pay one branch.
  * Alternating, every other op (by id) runs untraced, so one phase gives
  * traced and untraced ops under the same conditions. */
final class Tracer(val enabled: Boolean, alternate: Boolean = false) {
  /** The tracer op `id` runs under. */
  def pick(id: Long): Tracer = if (alternate && id % 2 == 1) Tracer.Off else this

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val fsByOp = new java.util.concurrent.ConcurrentHashMap[Long, FsStats.Snap]()
  // (span id, op id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Root span of one operation, in `layer` when the op is a single call
    * into one layer ("op" otherwise); Spark jobs started inside it carry
    * the op id as a local property so the listener can attribute them. */
  def op[T](s: SparkSession, opId: Long, kind: String, layer: String = "op")(body: => T): T = {
    val sc = s.sparkContext
    sc.setLocalProperty(Tracer.OpKey, opId.toString)
    try {
      if (!enabled) body
      else {
        val prev = current.get()
        current.set((0L, opId))
        val fs0 = FsStats.snap()
        try span(layer, kind)(body)
        finally {
          fsByOp.put(opId, FsStats.snap() - fs0)
          current.set(prev)
        }
      }
    } finally sc.setLocalProperty(Tracer.OpKey, null)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, opId) = current.get()
      val id = ids.incrementAndGet()
      current.set((id, opId))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, opId, layer, name, t0, System.nanoTime()))
        current.set((parent, opId))
      }
    }

  /** Record a span measured elsewhere (the streaming progress report's
    * phases); returns its id. */
  def record(parent: Long, op: Long, layer: String, name: String,
      startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, op, layer, name, startNs, endNs))
    id
  }

  /** Filesystem IO during one op (process-wide counters, so exact only
    * while that op is the sole one running). */
  def fsDelta(opId: Long): Option[FsStats.Snap] = Option(fsByOp.get(opId))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { sp =>
      w.println(Json.obj("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op,
        "layer" -> sp.layer, "name" -> sp.name,
        "start_ns" -> sp.startNs, "end_ns" -> sp.endNs))
    } finally w.close()
  }
}

object Tracer {
  val Off = new Tracer(false)
  val OpKey = "perfbench.op"
  /** Streaming jobs carry Spark's own batch-id property instead. */
  val BatchKey = "streaming.sql.batchId"
  val StreamOpBase = 1000000000L

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children of one parent never overlap here: every
    * workload thread makes its layer calls one after another). */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    spans.foreach(sp => if (sp.parent != 0) childMs(sp.parent) += sp.ms)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(sp => math.max(0.0, sp.ms - childMs(sp.id))).sum
    }
  }
}

/** Per-op Spark job and task accounting from a [[SparkListener]]. Jobs are
  * attributed to the op whose id their local properties carry. */
final class JobCounters extends SparkListener {
  final class OpAcc {
    var jobs = 0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWrite = 0L
    var spill = 0L
    def intervalsMs: Seq[(Double, Double)] =
      intervals.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }
    def +=(o: OpAcc): Unit = {
      jobs += o.jobs; intervals ++= o.intervals; tasks += o.tasks; cpuNs += o.cpuNs
      gcMs += o.gcMs; inputBytes += o.inputBytes
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }
  /** One Spark job: its op, the engine's job description (`Labeled`
    * phases name their jobs), interval, and task totals. */
  final class JobRec(val id: Int, val op: Long, val desc: String, val startMs: Long) {
    var endMs = 0L
    var tasks = 0L
    var cpuNs = 0L
  }
  private val byOp = mutable.Map.empty[Long, OpAcc]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  private def opOf(p: java.util.Properties): Long =
    if (p == null) 0L
    else Option(p.getProperty(Tracer.OpKey)).map(_.toLong)
      .orElse(Option(p.getProperty(Tracer.BatchKey))
        .map(b => Tracer.StreamOpBase + b.toLong))
      .getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val j = new JobRec(e.jobId, op, desc.getOrElse(""), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(st => stageJob(st) = j)
    byOp.getOrElseUpdate(op, new OpAcc).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      byOp.getOrElseUpdate(j.op, new OpAcc).intervals += ((j.startMs, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val j = stageJob.get(e.stageId)
    val a = byOp.getOrElseUpdate(j.map(_.op).getOrElse(0L), new OpAcc)
    a.tasks += 1
    j.foreach(_.tasks += 1)
    if (m != null) {
      j.foreach(_.cpuNs += m.executorCpuTime)
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private val aliases = mutable.Map.empty[Long, Long]

  /** Jobs recorded under `other` (a streaming batch's id) also belong to
    * `op`, the benchmark op that waited for that batch. */
  def alias(op: Long, other: Long): Unit = synchronized(aliases(op) = other)

  /** Every job, one JSON line each (op ids follow [[alias]]). */
  def writeJobsJsonl(path: String): Unit = synchronized {
    val opOf = aliases.map(_.swap)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try jobs.values.foreach { j =>
      w.println(Json.obj("job" -> j.id, "op" -> opOf.getOrElse(j.op, j.op), "desc" -> j.desc,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "task_cpu_ms" -> j.cpuNs / 1e6))
    } finally w.close()
  }

  def get(op: Long): Option[OpAcc] = synchronized {
    (byOp.get(op).toSeq ++ aliases.get(op).flatMap(byOp.get)) match {
      case Seq() => None
      case parts =>
        val a = new OpAcc
        parts.foreach(a += _)
        Some(a)
    }
  }
}

/** Hadoop `file` scheme IO counters, process-wide. (The local
  * filesystem counts bytes, not operations.) */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** The benchmark's load driver: one JVM, one `local[cpus]` session, one
  * workload. Reads only the generated inputs, writes its result record
  * (and, traced, its spans) under `--work`.
  *
  * {{{
  * perfbench.Main --workload <name> --inputs <dir> --work <dir>
  *   --seconds <n> --trace <0|1> --out <result.json>
  * }}}
  *
  * Untraced (`--trace 0`): set-up once, one timed phase, end-to-end
  * metrics. Traced (`--trace 1`): a Spark listener, and the same phase in
  * which every other op records spans; the per-layer metrics come from
  * the traced ops, and the difference between the traced and the
  * untraced ops' median latency is the tracing overhead.
  */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "view_requests" -> (() => new ViewRequests),
    "store_churn" -> (() => new StoreChurn))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a("seconds").toInt
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val wl = workloads(name)()

    val spark = graft.core.Sessions.local(cpus)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val counters = if (traced) Some(new JobCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a("inputs"), a("work"), counters)

    val setup0 = System.nanoTime()
    wl.setup(ctx)
    val setupS = (System.nanoTime() - setup0) / 1e9

    // traced, every other op is traced, so traced and untraced ops share
    // the phase's conditions
    val tracer = new Tracer(true, alternate = true)
    val t0 = System.nanoTime()
    val ops0 = wl.run(ctx, if (traced) tracer else Tracer.Off, seconds)
    val wall0 = (System.nanoTime() - t0) / 1e9
    writeOps(s"${ctx.work}/ops.jsonl", ops0, t0)

    val finish0 = System.nanoTime()
    // full collections with pauses between them, so references Spark's
    // ContextCleaner frees after one collection are gone by the last
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    ops0.filterNot(_.ok).foreach(o => ctx.fail(s"op ${o.id} (${o.kind}): ${o.error.get}"))
    try wl.finish(ctx)
    catch { case e: Throwable => ctx.fail(s"end-of-run check threw: $e") }

    val lat0 = ops0.map(_.ms)
    val metrics = if (!traced) Map(
        "p50_ms" -> wl.p50(ops0),
        "tail_ms" -> Stats.quantile(lat0, wl.tailQuantile),
        "throughput_per_s" -> wl.workUnits(ops0) / wl.busySeconds(ops0, wall0),
        "heap_retained_mb" -> heapMb) ++ wl.metrics(ctx, ops0, Nil, traced = false)
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val spans = tracer.all
        tracer.writeJsonl(s"${ctx.work}/spans.jsonl")
        counters.foreach(_.writeJobsJsonl(s"${ctx.work}/jobs.jsonl"))
        val on = ops0.filter(_.traced)
        layerMetrics(on, spans, counters.get, tracer) ++
          Map("trace.overhead_pct" -> overheadPct(ops0, wl.overheadKey)) ++
          wl.metrics(ctx, on, spans, traced = true)
      }
    val out = Json.obj(
      "workload" -> name,
      "attempted" -> ops0.size.toLong,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "phase_s" -> wall0,
      "finish_s" -> (System.nanoTime() - finish0) / 1e9,
      "ops" -> ops0.size,
      "tail_quantile" -> wl.tailQuantile,
      "metrics" -> metrics,
      "properties" -> wl.properties(ctx))
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.println(out) finally w.close()
    spark.stop()
  }

  /** Every op of the timed phase, in start order: one JSON line each,
    * times in ms from the phase's start (kept with `run.py --keep`). */
  def writeOps(path: String, ops: Seq[OpRec], t0: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ops.foreach(o => w.println(Json.obj("id" -> o.id, "kind" -> o.kind,
      "start_ms" -> (o.startNs - t0) / 1e6, "ms" -> o.ms, "traced" -> o.traced,
      "ok" -> o.ok)))
    finally w.close()
  }

  /** Tracing overhead: per overhead key, the traced ops' median latency
    * over the untraced ops' (the keys' mix differs between the two
    * halves); the median of those ratios, in percent above 1. */
  def overheadPct(ops: Seq[OpRec], key: OpRec => String): Double = {
    val ratios = ops.groupBy(key).values.flatMap { os =>
      val (on, off) = os.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.ms)) / math.max(Stats.median(off.map(_.ms)), 1e-9))
    }.toSeq
    100.0 * (Stats.median(ratios) - 1.0)
  }

  /** Per-op means of the layer split every workload shares: Spark jobs
    * and tasks, the driver gap around them, filesystem IO, per-layer self
    * time, and coverage: how much of each op's wall time its Spark jobs
    * and the spans inside its root span cover (the root span is the whole
    * op, so it attributes nothing finer). */
  def layerMetrics(ops: Seq[OpRec], spans: Seq[Span], c: JobCounters,
      tracer: Tracer): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val byOp = spans.groupBy(_.op)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val coverage = ops.map { o =>
      val (s0, s1) = (Clock.epochMsD(o.startNs), Clock.epochMsD(o.endNs))
      val wall = math.max(s1 - s0, 1e-6)
      val a = c.get(o.id)
      val jobIvD = a.map(_.intervalsMs).getOrElse(Nil)
      val jobMs = Clock.unionMsD(jobIvD, s0, s1)
      a.foreach { x =>
        acc("exec.jobs") += x.jobs
        acc("exec.tasks") += x.tasks
        acc("exec.task_cpu_ms") += x.cpuNs / 1e6
        acc("exec.task_gc_ms") += x.gcMs
        acc("exec.input_bytes") += x.inputBytes
        acc("exec.shuffle_write_bytes") += x.shuffleWrite
        acc("exec.spill_bytes") += x.spill
      }
      acc("exec.job_ms") += jobMs
      acc("driver.gap_ms") += (s1 - s0) - jobMs
      tracer.fsDelta(o.id).foreach { d =>
        acc("fs.bytes_read") += d.bytesRead
        acc("fs.bytes_written") += d.bytesWritten
      }
      val named = byOp.getOrElse(o.id, Nil).filter(_.parent != 0L)
        .map(sp => (Clock.epochMsD(sp.startNs), Clock.epochMsD(sp.endNs)))
      Clock.unionMsD(named ++ jobIvD, s0, s1) / wall
    }
    val self = Tracer.selfTimeMs(spans.filter(_.op != 0))
    val byKind = ops.map(_.kind).zip(coverage).groupBy(_._1).map { case (k, cs) =>
      s"trace.coverage.$k" -> Stats.mean(cs.map(_._2))
    }
    acc.map { case (k, v) => k -> v / n }.toMap ++
      self.map { case (layer, ms) => s"self.${layer}_ms" -> ms / n } ++ byKind ++
      Map("trace.coverage_mean" -> Stats.mean(coverage),
        "trace.coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min))
  }
}

/** nanoTime ↔ epoch-millisecond conversion (listener events carry epoch
  * ms, spans and ops carry nanoTime). */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMsD(ns: Long): Double = (ns + offsetNs) / 1e6
  def nanoOfEpochMs(ms: Long): Long = ms * 1000000L - offsetNs

  def unionMsD(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

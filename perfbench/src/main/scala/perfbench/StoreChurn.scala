package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.GraftFunctions
import graft.operators.Dedup
import graft.plans.Snapshots
import graft.streaming.EventPipeline
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `store_churn`: one closed-loop client runs a fixed cycle of writes and
  * reads against one `Snapshots` store seeded with `commitFull` (stats and
  * bloom columns) over 32 splits.
  *
  * Writes: split-keyed `commitDelta`, `commitRemove` (deletion vectors),
  * `mergeInto`, `consolidate`, `vacuum`, and `ingest` — one landed file
  * drained by a running `EventPipeline.snapshotIngestStream` (one tagged
  * commit per trigger, the streaming layer). Reads: head `readAt`,
  * bloom/stats-pruned `readAtWhere`, time travel by version and by time,
  * `VERSION AS OF` through the SQL catalog, `changesBetween`, `history`,
  * and `curate` — the curation pipeline's scoring kernels and exact dedup
  * over the head (the functions and operators layers).
  *
  * Correctness: the benchmark keeps a `doc_id -> row` model per version.
  * Every read's (rows, content hash) is checked against the model of the
  * version it read; after every write the head is checked the same way;
  * every ingest must land as exactly one tagged version; at the end every
  * live version is read back. Checks run outside the op timings, and the
  * timed phase counts op time only.
  *
  * Traced, a write op's root span carries its layer (`plans`, or
  * `streaming` for ingest): the commit is one engine call, so only its
  * Spark jobs and the trigger's phases attribute time inside it. A read's
  * calls get spans of their own: the store call (`plans`, `sources` for
  * SQL) and the consumption of its frame (`exec`).
  */
final class StoreChurn extends Workload {
  private type Model = Map[Long, Row]

  private var root = ""
  private var landing = ""
  private var ops: IndexedSeq[JsonNode] = IndexedSeq.empty
  private var next = 0
  private var stream: StreamingQuery = _
  // per version: model, and the wall-clock ack time of its commit
  private val models = mutable.LinkedHashMap.empty[Int, Model]
  private val ackMs = mutable.Map.empty[Int, Long]
  private val digests = mutable.Map.empty[Int, (Long, BigInt)]
  private var schema: org.apache.spark.sql.types.StructType = _
  private var vacuumKeep = 8
  // per write op: (id, kind, bytes written, files written, bytes submitted)
  private val writes = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
  // per read op: (splits read / live splits, distinct data dirs read)
  private val readInfo = mutable.Map.empty[Long, (Double, Double)]
  // per ingest op: the trigger's progress report
  private val triggers = mutable.Map.empty[Long, StreamingQueryProgress]
  private var opLog: Seq[OpRec] = Nil
  private var maxLive = 0
  // set-up seconds: seeding commit, stream start with its empty trigger, warm-up
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]

  // two 21-op cycles per 12 s run: p76 leaves ten ops beyond it
  val tailQuantile = 0.76
  private val writeKinds = Set("commit_delta", "commit_remove", "merge_into",
    "ingest", "consolidate", "vacuum")
  private val readKinds = Seq("head", "pruned", "as_of_version", "as_of_time",
    "sql_as_of", "changes", "history", "curate")

  private def digest(df: DataFrame): (Long, BigInt) = Digest.of(df)

  private def modelDigest(m: Iterable[Row]): (Long, BigInt) = Digest.ofRows(m, schema)

  private def versionDigest(v: Int): (Long, BigInt) =
    digests.getOrElseUpdate(v, modelDigest(models(v).values))

  private def head: Int = models.keys.max

  /** The rows a write op carries (its generator lists them with the op). */
  private def rowsOf(o: JsonNode): Seq[(Long, Row)] =
    o.get("rows").elements().asScala.map { n =>
      val r: Row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        schema.fields.map { f =>
          if (f.dataType == org.apache.spark.sql.types.LongType) n.get(f.name).asLong()
          else n.get(f.name).asText()
        }, schema)
      r.getLong(0) -> r
    }.toSeq

  private def removedOf(o: JsonNode): Seq[Long] =
    o.get("removed").elements().asScala.map(_.asLong()).toSeq

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    vacuumKeep = ctx.manifest.get("vacuum_keep_last").asInt()
    val base = s"${ctx.work}/store"
    root = s"$base/warehouse/corpus"
    landing = s"$base/landing"
    Files.createDirectories(Paths.get(landing))
    ops = Json.readLines(s"${ctx.inputs}/ops.jsonl")
    var t = System.nanoTime()
    def part(name: String): Unit = {
      val now = System.nanoTime()
      setupParts(name) = (now - t) / 1e9
      t = now
    }
    val corpus = s.read.parquet(s"${ctx.inputs}/corpus.parquet")
    schema = corpus.schema
    val v = Snapshots.commitFull(s, corpus, root, Seq("doc_id", "n_chars"), Nil,
      zorder = false, Seq("doc_id"))
    models(v) = corpus.collect().map(r => r.getLong(0) -> r).toMap
    acked(v)
    part("seed")
    s.conf.set("spark.sql.catalog.graft", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graft.root", s"$base/warehouse")
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    stream = EventPipeline.snapshotIngestStream(
        s.readStream.schema(corpus.schema).option("maxFilesPerTrigger", "1").parquet(landing),
        root, "ingest")
      .option("checkpointLocation", s"$base/checkpoint").start()
    // warm-up: one empty trigger (an empty tagged commit), then one whole
    // cycle (model-checked at the end of the run, not per op), so the
    // timed cycles run warm
    corpus.limit(0).coalesce(1).write.parquet(s"$base/empty")
    land(new java.io.File(s"$base/empty").listFiles().find(_.getName.endsWith(".parquet")).get)
    stream.processAllAvailable()
    val h = Snapshots.latestVersion(s, root)
    models(h) = models(v)
    acked(h)
    part("stream")
    while (next < ctx.manifest.get("warmup_ops").asInt()) {
      val o = ops(next)
      next += 1
      if (writeKinds(o.get("op").asText())) write(ctx, Tracer.Off, 0L, o)
      else read(ctx, Tracer.Off, 0L, o)
    }
    part("warmup")
  }

  /** Record version `v`'s ack time. The engine stamps a commit with at
    * least the wall clock at commit time, and at least its predecessor's
    * stamp + 1; pausing 2 ms after each ack keeps every stamp at or below
    * its own version's ack and above the previous version's, so a read as
    * of `ackMs(v)` must return `v`. */
  private def acked(v: Int): Unit = {
    ackMs(v) = System.currentTimeMillis()
    Thread.sleep(2)
  }

  /** Land a file in the watched directory: copied under a hidden name,
    * then renamed, so the source never lists a partial file. */
  private def land(f: java.io.File): Unit = {
    val tmp = Paths.get(landing, s".${f.getName}.tmp")
    Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(landing, f.getName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Files under the store root: path -> size. */
  private def listing(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out(f.getPath) = f.length()
    walk(new java.io.File(root))
    out.toMap
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** One write op, timed as op `id`; the directory diff and the model
    * check happen outside the timing. */
  private def write(ctx: Ctx, phase: Tracer, id: Long, o: JsonNode): OpRec = {
    val s = ctx.spark
    val tr = phase.pick(id)
    val kind = o.get("op").asText()
    def f(k: String) = o.get(k).asText()
    // the op's input frames are made (their footers read) before the timing
    val in = Seq("adds", "removes", "source").filter(o.has)
      .map(k => k -> s.read.parquet(s"${ctx.inputs}/${f(k)}")).toMap
    val before = listing()
    val prev = models(head)
    val batchesBefore = stream.recentProgress.length
    val t0 = System.nanoTime()
    val r = scala.util.Try(tr.op(s, id, kind, if (kind == "ingest") "streaming" else "plans") {
      kind match {
        case "commit_delta" => Snapshots.commitDelta(s, root, in("adds"), in("removes"))
        case "commit_remove" => Snapshots.commitRemove(s, root, in("removes"))
        case "merge_into" => Snapshots.mergeInto(s, root, in("source"),
          Snapshots.WhenMatched.Update, Snapshots.WhenNotMatched.Insert)
        case "consolidate" => Snapshots.consolidate(s, root)
        case "vacuum" => Snapshots.vacuum(s, root, vacuumKeep); head
        case "ingest" =>
          land(new java.io.File(s"${ctx.inputs}/${f("file")}"))
          stream.processAllAvailable()
          Snapshots.latestVersion(s, root)
      }
    })
    val op = OpRec.of(id, kind, t0, r, tr)
    r.foreach { v =>
      kind match {
        case "vacuum" =>
          val live = Snapshots.history(s, root).collect().map(_.getInt(0)).toSet
          models.keys.filterNot(live).toSeq.foreach(models.remove)
        case "consolidate" => models(v) = prev
        case _ =>
          models(v) = kind match {
            case "commit_delta" => (prev -- removedOf(o)) ++ rowsOf(o)
            case "commit_remove" => prev -- removedOf(o)
            case "merge_into" | "ingest" => prev ++ rowsOf(o)
          }
      }
      if (kind != "vacuum") {
        acked(v)
        if (id != 0L) ctx.check(digest(Snapshots.readAt(s, root, v)) == versionDigest(v),
          s"$kind v$v: the head differs from the model")
      }
      if (kind == "ingest") {
        // exactly one trigger, landing as exactly one tagged version
        val p = stream.recentProgress.drop(batchesBefore).filter(_.numInputRows > 0)
        ctx.check(p.length == 1 && Snapshots.versionForTag(s, root,
            s"ingest-b${p.head.batchId}").contains(v),
          s"ingest op $id: ${p.length} triggers, head v$v")
        p.headOption.foreach { t =>
          triggers(id) = t
          ctx.counters.foreach(_.alias(id, Tracer.StreamOpBase + t.batchId))
          if (tr.enabled) phaseSpans(tr, id, t)
        }
      }
      maxLive = math.max(maxLive, models.size)
      val added = listing().filter { case (p, n) => !before.get(p).contains(n) }
      val submitted = Seq("adds", "removes", "source", "file").filter(o.has)
        .map(k => new java.io.File(s"${ctx.inputs}/${f(k)}").length()).sum
      writes += ((id, kind, added.values.sum, added.size.toLong, submitted))
    }
    op
  }

  /** A trigger's phases, from its progress report, laid end to end in
    * MicroBatchExecution's order under the ingest op's root span. */
  private def phaseSpans(tr: Tracer, id: Long, p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val opSpan = tr.all.find(sp => sp.op == id && sp.parent == 0L).map(_.id).getOrElse(0L)
    var t = Clock.nanoOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val ns = d.getOrElse(k, 0L) * 1000000L
        tr.record(opSpan, id, "streaming", k, t, t + ns)
        t += ns
      }
  }

  /** Resolve a uniform draw over the live history to a version. */
  private def pick(u: Double): Int = {
    val vs = models.keys.toIndexedSeq.sorted
    vs(math.min((u * vs.size).toInt, vs.size - 1))
  }

  private def read(ctx: Ctx, phase: Tracer, id: Long, o: JsonNode): OpRec = {
    val s = ctx.spark
    val tr = phase.pick(id)
    val kind = o.get("op").asText()
    val h = head
    def u(k: String) = o.get(k).asDouble()
    // the store call (a span of its layer), then the frame's digest
    def scan(layer: String, call: => DataFrame) =
      tr.span("exec", "digest")(digest(tr.span(layer, "read")(call)))
    // what the op reads, what the model says it must return, and (traced
    // only, after the timing) the splits and data dirs the read touched
    val (body, expect, info): (() => Any, Any => Boolean, Option[() => (Double, Double)]) =
      kind match {
        case "read_head" =>
          (() => scan("plans", Snapshots.readAt(s, root, h)), _ == versionDigest(h), None)
        case "read_pruned" =>
          val (pred, keep): (Column, Row => Boolean) =
            if (o.has("doc_id")) {
              val d = o.get("doc_id").asLong()
              (col("doc_id") === d, r => r.getLong(0) == d)
            } else {
              val (lo, hi) = (o.get("lo").asLong(), o.get("hi").asLong())
              (col("n_chars").between(lo, hi),
                r => { val n = r.getAs[Long]("n_chars"); n >= lo && n <= hi })
            }
          (() => scan("plans", Snapshots.readAtWhere(s, root, h, pred)),
            _ == modelDigest(models(h).values.filter(keep)),
            Some(() => {
              val pruned = Snapshots.pruneReport(s, root, h, pred).size
              val live = models(h).values.map(_.getAs[String]("split")).toSet.size
              ((live - pruned).toDouble / live, refDirs(Snapshots.readAtWhere(s, root, h, pred)))
            }))
        case "read_as_of_version" =>
          val v = pick(u("u"))
          (() => scan("plans", Snapshots.readAt(s, root, v)), _ == versionDigest(v),
            Some(() => (1.0, refDirs(Snapshots.readAt(s, root, v)))))
        case "read_as_of_time" =>
          val v = pick(u("u"))
          (() => scan("plans", Snapshots.readAsOf(s, root, ackMs(v))), _ == versionDigest(v), None)
        case "sql_as_of" =>
          val v = pick(u("u"))
          (() => scan("sources", s.sql(s"SELECT * FROM graft.corpus VERSION AS OF $v")),
            _ == versionDigest(v), None)
        case "changes" =>
          // two distinct live versions, drawn uniformly
          val vs = models.keys.toIndexedSeq.sorted
          val i = math.min((u("u") * vs.size).toInt, vs.size - 1)
          val j0 = math.min((u("u2") * (vs.size - 1)).toInt, vs.size - 2)
          val j = if (j0 >= i) j0 + 1 else j0
          val (v1, v2) = (vs(math.min(i, j)), vs(math.max(i, j)))
          (() => {
            val df = tr.span("plans", "read")(Snapshots.changesBetween(s, root, v1, v2))
            tr.span("exec", "collect")(df.groupBy("change").count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          }, _ == changeCounts(models(v1), models(v2)), None)
        case "history" =>
          (() => {
            val df = tr.span("plans", "read")(Snapshots.history(s, root))
            tr.span("exec", "collect")(df.collect().map(_.getInt(0)).toSet)
          }, _ == models.keySet.toSet, None)
        case "curate" =>
          // a curation consumer of the head: the pipeline's scoring kernels,
          // then its exact (canonical token set) dedup
          (() => {
            GraftFunctions.register(s)
            val d = tr.span("plans", "read")(Snapshots.readAt(s, root, h))
            val scored = tr.span("functions", "scoring") {
              d.select(GraftFunctions.markerStats(col("text")).as("ms"),
                  GraftFunctions.repetitionStats(col("text")).as("rs"))
                .select(GraftFunctions.qualityScoreFrom(col("ms")).as("q"),
                  GraftFunctions.repetitionOk(col("rs")).as("ok"))
                .agg(count(lit(1))).head().getLong(0)
            }
            val kept = tr.span("operators", "dedup_exact")(
              Dedup.exactCanonicalHashed(d, col("doc_id"), col("text")).count())
            (scored, kept)
          }, _ == ((models(h).size.toLong, models(h).values.map(r =>
            r.getAs[String]("text").split(" ").distinct.sorted.mkString(" ")).toSet.size.toLong)),
            None)
      }
    val t0 = System.nanoTime()
    val r = scala.util.Try(tr.op(s, id, kind)(body()))
    val op = OpRec.of(id, kind, t0, r, tr)
    r.foreach(got => ctx.check(id == 0L || expect(got),
      s"$kind (op $id) returned $got, not the model's"))
    if (tr.enabled && r.isSuccess) info.foreach(i => readInfo(id) = i())
    op
  }

  /** Distinct data dirs (first path level under the root) a read scans. */
  private def refDirs(df: DataFrame): Double =
    df.inputFiles.map(p => new java.net.URI(p).getPath.stripPrefix(root).split('/')
      .find(_.nonEmpty).getOrElse("")).distinct.length.toDouble

  private def changeCounts(a: Model, b: Model): Map[String, Long] = {
    val adds = b.keySet.diff(a.keySet).size.toLong
    val removes = a.keySet.diff(b.keySet).size.toLong
    val updates = b.count { case (k, r) => a.get(k).exists(_ != r) }.toLong
    Seq("add" -> adds, "remove" -> removes, "update" -> updates).filter(_._2 > 0).toMap
  }

  /** Runs whole cycles of the op mix, one per started 7.5 s of phase
    * length (a cycle takes about 13 s of op time on 4 cores), so every
    * run measures the same ops whatever the machine's speed. The model
    * checks between ops are not part of any op's time. */
  def run(ctx: Ctx, tr: Tracer, seconds: Int): Seq[OpRec] = {
    val cycles = math.max(1, math.ceil(seconds / 7.5).toInt)
    val stop = next + cycles * ctx.manifest.get("cycle").size()
    val out = mutable.ArrayBuffer.empty[OpRec]
    var id = 1000000L // op ids: 0 stands for set-up work
    while (next < stop && next < ops.size) {
      val o = ops(next)
      next += 1
      id += 1
      out += (if (writeKinds(o.get("op").asText())) write(ctx, tr, id, o)
        else read(ctx, tr, id, o))
    }
    if (next >= ops.size) ctx.fail("store_churn ran out of generated ops")
    opLog ++= out
    out.toSeq
  }

  def workUnits(ops: Seq[OpRec]): Double = ops.size

  /** Each op kind's median latency, combined over the kinds as a geometric
    * mean weighted by each kind's share of the ops. The kinds' latencies
    * form clusters hundreds of ms apart and the median of all ops sits
    * between two of them, so it jumped to the next kind's latency when the
    * host's speed moved by a few percent; this moves in proportion. */
  override def p50(ops: Seq[OpRec]): Double =
    math.exp(ops.groupBy(_.kind).values.map { os =>
      os.size * math.log(Stats.median(os.map(_.ms)))
    }.sum / math.max(ops.size, 1))

  override def busySeconds(ops: Seq[OpRec], wall: Double): Double = ops.map(_.ms).sum / 1000

  def finish(ctx: Ctx): Unit = {
    stream.stop()
    // every acknowledged, still-live version reads back its model
    models.keys.foreach { v =>
      ctx.check(digest(Snapshots.readAt(ctx.spark, root, v)) == versionDigest(v),
        s"v$v no longer reads back its model")
    }
  }

  def properties(ctx: Ctx): Map[String, Any] = Map(
    "op_ms" -> opLog.groupBy(_.kind).map { case (k, os) => k -> os.map(o => math.round(o.ms)) },
    "versions_live_end" -> models.size,
    "versions_live_max" -> maxLive,
    "setup_parts_s" -> setupParts,
    "ops_executed" -> next)

  def metrics(ctx: Ctx, ops: Seq[OpRec], spans: Seq[Span],
      traced: Boolean): Map[String, Double] = {
    val ids = ops.map(_.id).toSet
    val w = writes.filter(x => ids(x._1)).toSeq
    val headFiles = Snapshots.readAt(ctx.spark, root, head).inputFiles
      .map(p => new java.io.File(new java.net.URI(p)).length()).sum.toDouble
    val common = Map(
      "store.write_amp" -> w.map(_._3).sum / math.max(w.map(_._5).sum.toDouble, 1.0),
      "store.space_amp" -> dirBytes(new java.io.File(root)) / math.max(headFiles, 1.0),
      "store.versions_live" -> models.size.toDouble)
    val commits = ops.filter(o => writeKinds(o.kind)).map(_.ms)
    val reads = ops.filterNot(o => writeKinds(o.kind)).map(_.ms)
    if (!traced) common ++ Map(
      "store.commit_p50_ms" -> Stats.median(commits),
      "store.commit_tail_ms" -> Stats.quantile(commits, tailQuantile),
      "store.read_p50_ms" -> Stats.median(reads),
      "store.read_tail_ms" -> Stats.quantile(reads, tailQuantile))
    else {
      val c = ctx.counters.get
      val byKind = ops.groupBy(_.kind)
      def perKind(prefix: String, kind: String): Map[String, Double] = {
        val os = byKind.getOrElse(kind, Nil)
        val acc = os.map(o => (o, c.get(o.id)))
        Map(s"$prefix.ms" -> Stats.median(os.map(_.ms)),
          s"$prefix.jobs" -> Stats.mean(acc.map(_._2.map(_.jobs.toDouble).getOrElse(0.0))),
          s"$prefix.driver_gap_ms" -> Stats.median(acc.map { case (o, a) =>
            val (s0, s1) = (Clock.epochMsD(o.startNs), Clock.epochMsD(o.endNs))
            (s1 - s0) - Clock.unionMsD(a.map(_.intervalsMs).getOrElse(Nil), s0, s1)
          }))
      }
      val writeM = writeKinds.toSeq.flatMap { k =>
        val ws = w.filter(_._2 == k)
        perKind(s"store.$k", k) ++ Map(
          s"store.$k.bytes_written" -> Stats.mean(ws.map(_._3.toDouble)),
          s"store.$k.files_written" -> Stats.mean(ws.map(_._4.toDouble)))
      }
      val readM = readKinds.flatMap { k =>
        perKind(s"store.read_$k", if (k.startsWith("as_of") || Set("head", "pruned")(k))
          s"read_$k" else k)
      }
      val info = readInfo.filter { case (id, _) => ids(id) }
      val pruned = byKind.getOrElse("read_pruned", Nil).map(_.id).toSet
      def spanMs(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
      val trig = triggers.filter { case (id, _) => ids(id) }.values.toSeq
      def dur(k: String) = Stats.median(trig.map(p =>
        p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)))
      common ++ writeM ++ readM ++ Map(
        "sources.splits_read_ratio" ->
          Stats.mean(info.filter { case (id, _) => pruned(id) }.values.map(_._1).toSeq),
        "store.ref_dirs_per_read" -> Stats.mean(info.values.map(_._2).toSeq),
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.rows_per_trigger" -> Stats.mean(trig.map(_.numInputRows.toDouble)),
        "functions.scoring_ms" -> spanMs("scoring"),
        "operators.dedup_exact_ms" -> spanMs("dedup_exact"))
    }
  }
}

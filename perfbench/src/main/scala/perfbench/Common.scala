package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON output (the harness writes flat records only). */
object Json {
  val mapper = new ObjectMapper()

  /** Already-serialized JSON, written verbatim. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => graft.render.JsonWriter.jsonString(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${value(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${value(k)}:${value(v)}" }.mkString("{", ",", "}")

  def readLines(path: String): IndexedSeq[JsonNode] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toIndexedSeq
    finally src.close()
  }

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}

/** One closed-loop operation as the client saw it; `error` is why it
  * failed, if it did. */
final case class OpRec(id: Long, kind: String, startNs: Long, endNs: Long,
    error: Option[String], traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

object OpRec {
  def of(id: Long, kind: String, t0: Long, r: scala.util.Try[_], tr: Tracer): OpRec =
    OpRec(id, kind, t0, System.nanoTime(), r.failed.toOption.map(_.toString), tr.enabled)
}

/** Order-independent content digest: row count and the sum of Spark's
  * `xxhash64` over every column. `of` computes it in the engine, `ofRows`
  * on the driver with the same hash function, so a model held by the
  * benchmark can be compared with what a read returned. */
object Digest {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
  import org.apache.spark.sql.types.StructType

  private val Seed = 42L // xxhash64's default seed

  def of(df: DataFrame): (Long, BigInt) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }

  def ofRows(rows: Iterable[Row], schema: StructType): (Long, BigInt) = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val types = schema.fields.map(_.dataType)
    var n = 0L
    var total = BigInt(0)
    rows.foreach { r =>
      val ir = toInternal(r).asInstanceOf[InternalRow]
      var h = Seed
      types.indices.foreach { i =>
        if (!ir.isNullAt(i)) h = XxHash64Function.hash(ir.get(i, types(i)), types(i), h)
      }
      n += 1
      total += h
    }
    (n, total)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val counters: Option[JobCounters]) {
  /** Failure messages (first few are reported) and the failure count. */
  val failures = mutable.ArrayBuffer.empty[String]
  var failed = 0L
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += msg
  }
  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  def manifest: JsonNode = Json.read(s"$inputs/manifest.json")
}

/** A benchmark workload. */
trait Workload {
  /** Build the state the timed phase uses, warm-up included (timed as
    * part of `setup_s`). */
  def setup(ctx: Ctx): Unit
  /** Run the closed loop for a phase of `seconds`: a fixed amount of work
    * scaled to that length, the same on every machine; return every op. */
  def run(ctx: Ctx, tracer: Tracer, seconds: Int): Seq[OpRec]
  /** The end-to-end `p50_ms` of a phase's ops: their median latency. */
  def p50(ops: Seq[OpRec]): Double = Stats.median(ops.map(_.ms))
  /** Ops with the same key do the same work; the tracing overhead compares
    * traced with untraced ops of one key. */
  def overheadKey(op: OpRec): String = op.kind
  /** Units of work one op stands for, for `throughput_per_s` (requests,
    * ops, documents or rows). */
  def workUnits(ops: Seq[OpRec]): Double
  /** Seconds the ops of a phase took, for `throughput_per_s`. */
  def busySeconds(ops: Seq[OpRec], wall: Double): Double = wall
  /** Checks after the timed phases; failures go to `ctx.fail`. */
  def finish(ctx: Ctx): Unit
  /** Measured input and state properties printed with the result. */
  def properties(ctx: Ctx): Map[String, Any]
  /** Workload-specific metrics: end-to-end detail (`traced = false`) or
    * per-layer metrics (`traced = true`) for the ops of one phase. */
  def metrics(ctx: Ctx, ops: Seq[OpRec], spans: Seq[Span], traced: Boolean): Map[String, Double]
  /** The tail percentile: the highest with at least ten of a run's ops
    * beyond it, fixed for the op count the run length gives. */
  def tailQuantile: Double
}

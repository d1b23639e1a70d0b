package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [gate,gate,...]"
  *
  * The optional third argument dumps only the named gates, and
  * oracle_sql.json then holds only their SQL. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = GateLoop.session()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Dumps the gates on `spark` and leaves the session running; unknown
    * gate names refuse before anything is written. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [gate,gate,...]")
    val Seq(sfDir, outDir) = args.take(2)
    val names = GateLoop.gates(args.lift(2), "graft.Verify's gate list")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GateLoop.reclaim(spark)
    }
    val dumped = names.toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) }))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** oracle_sql.json body for the given name → SQL map. */
  private[graft] def oracleJson(oracles: Map[String, String]): String =
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

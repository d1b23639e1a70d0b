package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The dev and correctness mains, driven through `run` on the shared test
  * session over sf0.001 with one or two cheap gates. */
class DevSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def parseJson(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("graft.Dev with no subcommand, or an unknown one, fails with one usage line per subcommand") {
    Seq(Nil, Seq("bogus"), Seq("explain"), Seq("explain-store", "0")).foreach { args =>
      val e = intercept[IllegalArgumentException](Dev.run(spark, args, sf))
      val lines = e.getMessage.linesIterator.toSeq
      val commands = Seq("profile <gate>", "explain <gate>", "explain-store [nSplits]", "stream")
      assert(lines.size === commands.size, e.getMessage)
      commands.zip(lines).foreach { case (c, l) => assert(l.contains(s"graft.Dev $c"), l) }
    }
  }

  test("graft.Dev explain prints the gate's header and its formatted physical plan") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, Seq("explain", "c1_projection"), sf))
    val text = out.toString("UTF-8")
    assert(text.startsWith("===== c1_projection =====\n"), text)
    assert(text.contains("== Physical Plan =="), text)
  }

  test("graft.Dev profile prints the gate's header with its job and compile counts, then one row per job") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err)(Dev.run(spark, Seq("profile", "c1_projection"), sf))
    val lines = err.toString("UTF-8").linesIterator.filter(_.startsWith("[profile]")).toSeq
    val header = """\[profile\] c1_projection total=\S+s \(plan=\S+s exec=\S+s\) jobs=(\d+) compiles=(\d+)""".r
    lines.headOption match {
      case Some(header(jobs, _)) =>
        assert(lines.size === jobs.toInt + 3, lines.mkString("\n")) // header, column names, total
      case other => fail(s"no profile header: $other")
    }
  }

  test("graft.Verify with a gate list dumps exactly those gates and their oracle SQL") {
    val out = Files.createTempDirectory("graft_verify_subset")
    try {
      Verify.run(spark, Seq(sf, out.toString, "c1_projection,q1_agg"))
      assert(out.toFile.list().toSet === Set("c1_projection", "q1_agg", "oracle_sql.json"))
      val oracles = parseJson(Files.readString(out.resolve("oracle_sql.json")))
      assert(oracles === SparkEntry.oracleSql.filter { case (k, _) =>
        k == "c1_projection" || k == "q1_agg" })
      assert(spark.read.parquet(out.resolve("q1_agg").toString).count() > 0)
    } finally graft.plans.CorpusExport.deleteRecursively(out.toFile)
  }

  test("graft.Verify refuses an unknown gate name before writing anything") {
    val parent = Files.createTempDirectory("graft_verify_unknown")
    val out = parent.resolve("out")
    try {
      val e = intercept[IllegalArgumentException](
        Verify.run(spark, Seq(sf, out.toString, "q1_agg,no_such_gate")))
      assert(e.getMessage.contains("unknown gates: no_such_gate"), e.getMessage)
      assert(!Files.exists(out))
    } finally graft.plans.CorpusExport.deleteRecursively(parent.toFile)
  }

  test("oracle_sql.json escaping round-trips quotes, backslashes, control characters and non-ASCII") {
    val oracles = Map(
      "q\"uote\\back\ttab" -> "SELECT 'a\"b\\c'\tFROM t\r\nWHERE x = '\u0001' -- é",
      "crlf\r\n\u0001é" -> "\\\"\t\r\n\u0001ü")
    assert(parseJson(Verify.oracleJson(oracles)) === oracles)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** What [[SparkTestBase.traced]] saw of a body's Spark work: its result,
  * the jobs it ran with their descriptions (`""` when unlabelled), the
  * physical plans its SQL executions started with, and each execution's
  * final plan (its last adaptive re-plan, or the starting plan). */
final case class Traced[T](out: T, jobs: Int, plans: Seq[SparkPlanInfo],
    descs: Seq[String], finalPlans: Seq[SparkPlanInfo])

/** One shared local session per suite. */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestBase.session

  /** The reference's golden 4-row fixture (FIXTURES.md §A; reference:
    * sample/commonSlick/src/main/scala/Models.scala:6-24, Sample01.scala:5-8). */
  lazy val friend: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("nick", StringType, nullable = false),
      StructField("age", IntegerType, nullable = true),
      StructField("grade", IntegerType, nullable = false)))
    val rows = Seq(
      Row(1L, "魔理沙", "小莎莎", Integer.valueOf(2333), 3),
      Row(2L, "jilen", "jilen 酱", Integer.valueOf(30), 4),
      Row(3L, "品神", "kerr", Integer.valueOf(28), 5),
      Row(4L, "廖师虎", "shihu", null, 6))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, numSlices = 1), schema)
  }

  /** Runs `body` under a job group and reports the Spark work it did.
    * Listener delivery is async but in order, so a fence job run after
    * `body` marks the end of its events. */
  def traced[T](body: => T): Traced[T] = {
    val sc = spark.sparkContext
    val group = s"graft-test-traced-${System.nanoTime()}"
    val descs = new ConcurrentLinkedQueue[String]
    val plans = new ConcurrentLinkedQueue[(Long, SparkPlanInfo)]
    val latest = new ConcurrentHashMap[Long, SparkPlanInfo]
    val fenced = new CountDownLatch(1)
    def groupOf(props: java.util.Properties): String =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (groupOf(js.properties) == group)
          descs.add(Option(js.properties.getProperty("spark.job.description")).getOrElse(""))
        else if (groupOf(js.properties) == s"$group-fence") fenced.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart if st.jobGroupId.contains(group) =>
          plans.add(st.executionId -> st.sparkPlanInfo)
          latest.put(st.executionId, st.sparkPlanInfo)
        case up: SparkListenerSQLAdaptiveExecutionUpdate
            if latest.containsKey(up.executionId) =>
          latest.put(up.executionId, up.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "traced", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "the listener never saw the fence job")
      val started = plans.asScala.toSeq
      Traced(out, descs.size, started.map(_._2), descs.asScala.toSeq,
        started.map { case (id, _) => latest.get(id) })
    } finally sc.removeSparkListener(listener)
  }

  /** A plan node and all its descendants, depth first. */
  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.streaming

import graft.{SparkEntry, SparkTestBase}

import scala.jdk.CollectionConverters._

/** The sync-gate skeleton's cleanup contract, per `s_stream_*` gate: once
  * a gate returns (and its detached result is freed), it has left behind
  * no scratch dir, no persisted frame (its static sides are unpersisted)
  * and no running stream thread. */
class StreamGateLeakSpec extends SparkTestBase {

  private val Sf = "/root/testdata/sf0.001"

  private val gates = SparkEntry.queries.keys.filter(_.startsWith("s_stream_")).toSeq.sorted

  private def scratchDirs(): Set[String] =
    Seq("/dev/shm", System.getProperty("java.io.tmpdir")).distinct.flatMap { d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("graft_stream_"))
        .map(_.getPath)
    }.toSet

  private def streamThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith("stream execution thread for"))

  test("every streaming gate is covered") {
    assert(gates.size == 22, gates)
  }

  gates.foreach { name =>
    test(s"$name leaves no scratch dir, persisted frame or stream thread behind") {
      val dirs = scratchDirs()
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val threads = streamThreads()
      val out = SparkEntry.queries(name)(spark, Sf)
      graft.core.Checkpoint.free(out)
      assert(scratchDirs() -- dirs == Set.empty)
      assert(spark.sparkContext.getPersistentRDDs.keySet -- rdds == Set.empty)
      assert((streamThreads() -- threads).map(_.getName) == Set.empty)
    }
  }
}

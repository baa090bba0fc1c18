package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — sbt forks a single test
  * JVM; getOrCreate returns the same session everywhere). Built with task
  * retries (`local[4, 2]`) so the suite matches cluster behavior — real
  * clusters retry up to spark.task.maxFailures=4 — and fault-injection
  * specs (FaultRecoverySpec) can observe a retried task instead of a dead
  * job. Retries are latent elsewhere: no other suite injects failures. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.localResilient(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** The Spark jobs `body` launches. Jobs are counted per job group by a
    * listener; a control job in its own group, seen last on the FIFO
    * bus, proves every earlier event was delivered. */
  protected def jobsOf(body: => Unit): Int = {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val control = s"$group-control"
    val started = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "under test")
      body
      sc.setJobGroup(control, "proves listener delivery")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.containsKey(control) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.containsKey(control), "listener never saw the control job")
      Option(started.get(group)).fold(0)(_.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

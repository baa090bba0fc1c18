package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run.
  *
  * Every call the benchmark makes into an engine module runs inside
  * [[span]]. When tracing is on, the span is kept in memory (name, start,
  * end, parent) and the Spark job group is set to the span's id, so the
  * listener can parent each Spark job to the module call that caused it.
  * When tracing is off, [[span]] only runs its body: the untraced run
  * measures end-to-end numbers without any of this machinery.
  *
  * Times are milliseconds on one monotonic timeline anchored at the epoch,
  * so listener event times (epoch ms) and span times compare directly.
  */
object Trace {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
    @volatile var end: Double = -1.0
  }

  @volatile private var on = false
  private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  // innermost open span: FS calls from task threads are attributed to it
  // (the driver loop is closed, so tasks only run inside an open call)
  @volatile private var currentId = 0

  def current: Int = currentId
  def enable(): Unit = on = true

  /** Start job-group tagging and event collection on a new session. */
  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
    stack.headOption.foreach(s => sc.setJobGroup(group(s.id), s.name))
  }

  def detach(): Unit = if (sc != null) {
    drain()
    sc = null
  }

  private def group(id: Int) = s"span-$id"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = new Span(spans.length + 1, name, currentId, nowMs)
        spans += s
        s
      }
      stack = s :: stack
      currentId = s.id
      if (sc != null) sc.setJobGroup(group(s.id), name)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        currentId = stack.headOption.map(_.id).getOrElse(0)
        if (sc != null) stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (sc != null) {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  // ---- Spark events -------------------------------------------------

  final case class Job(id: Int, span: Int, start: Double, var end: Double,
                       var ok: Boolean, stages: Int)

  /** A stage of a job, on the job's span. */
  final case class Stage(id: Int, job: Int, start: Double, end: Double, tasks: Int)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  // task totals: run, cpu(ns), gc, shuffle read, shuffle write, spill,
  // failed, count, wait (stage submit -> task launch)
  private val taskTotals = new AtomicLongArray(9)
  private val stageCount = new AtomicLong()
  private val planMs = new AtomicLong()
  private val planCount = new AtomicLong()
  private val aqeReplans = new AtomicLong()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
        .getOrElse(currentId)
      jobs.put(e.jobId, Job(e.jobId, span, e.time.toDouble, -1.0, ok = false,
        e.stageInfos.size))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageCount.incrementAndGet()
      val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put(e.stageInfo.stageId, t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        i.numTasks))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val sub = stageSubmit.get(e.stageId)
      if (sub != null) taskTotals.addAndGet(8, math.max(0L, e.taskInfo.launchTime - sub))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskTotals.incrementAndGet(7)
      if (!e.taskInfo.successful) taskTotals.incrementAndGet(6)
      val m = e.taskMetrics
      if (m != null) {
        taskTotals.addAndGet(0, m.executorRunTime)
        taskTotals.addAndGet(1, m.executorCpuTime)
        taskTotals.addAndGet(2, m.jvmGCTime)
        taskTotals.addAndGet(3,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        taskTotals.addAndGet(4, m.shuffleWriteMetrics.bytesWritten)
        taskTotals.addAndGet(5, m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
        aqeReplans.incrementAndGet()
  }

  /** Catalyst phase time (analysis + optimization + planning) per action. */
  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      planCount.incrementAndGet()
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    }
  }

  /** Forget everything recorded so far (set-up), keeping open spans. */
  def reset(): Unit = {
    drain()
    synchronized {
      val open = stack.toSet
      spans.filterInPlace(open.contains)
    }
    jobs.clear()
    stageJob.clear()
    stages.clear()
    stageSubmit.clear()
    for (i <- 0 until taskTotals.length()) taskTotals.set(i, 0L)
    stageCount.set(0); planMs.set(0); planCount.set(0); aqeReplans.set(0)
    FsCounters.reset()
  }

  /** The raw trace as JSON: spans, jobs and the counters. */
  def toJson: String = {
    drain()
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= synchronized(spans.toList).map { s =>
      s"[${s.id},${Json.str(s.name)},${s.parent},${Json.num(s.start)},${Json.num(s.end)}]"
    }.mkString(",")
    sb ++= "],\"jobs\":["
    import scala.jdk.CollectionConverters._
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"[${j.id},${j.span},${Json.num(j.start)},${Json.num(j.end)},${j.ok},${j.stages}]"
    }.mkString(",")
    sb ++= "],\"stages\":["
    sb ++= stages.asScala.toSeq.sortBy(_.id).map { st =>
      s"[${st.id},${st.job},${Json.num(st.start)},${Json.num(st.end)},${st.tasks}]"
    }.mkString(",")
    val t = (0 until taskTotals.length()).map(taskTotals.get)
    sb ++= "],\"spark\":" + Json.obj(Seq(
      "task_run_ms" -> t(0), "task_cpu_ms" -> t(1) / 1000000L, "gc_ms" -> t(2),
      "shuffle_read_bytes" -> t(3), "shuffle_write_bytes" -> t(4),
      "spill_bytes" -> t(5), "failed_tasks" -> t(6), "tasks" -> t(7),
      "task_wait_ms" -> t(8), "stages" -> stageCount.get,
      "plan_ms" -> planMs.get, "planned_actions" -> planCount.get,
      "aqe_replans" -> aqeReplans.get).map { case (k, v) => k -> v.toString })
    sb ++= ",\"fs\":" + FsCounters.toJson + "}"
    sb.toString
  }
}

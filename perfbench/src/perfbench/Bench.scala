package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A correctness check failed: the run stops and reports `correct=false`. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one measured run records, beside the trace.
  *
  * Every call the workload makes into the engine goes through [[call]]:
  * it counts the call as attempted (and failed, if it throws), wraps it in
  * a [[Trace]] span, and keeps its latency when the call is a commit or a
  * read (the samples behind the latency percentiles).
  */
final class Recorder {
  val commitMs = ArrayBuffer.empty[Double]
  val readMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Span name -> kind of every commit or read call made. */
  val kinds = scala.collection.mutable.LinkedHashMap.empty[String, Recorder.Kind]
  /** Workload-specific counts for the traced run's per-layer metrics. */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def call[T](span: String, kind: Recorder.Kind = Recorder.Other)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Trace.span(span)(body)
      catch { case e: Throwable => failed += 1; throw e }
    val ms = (System.nanoTime() - t0) / 1e6
    if (kind != Recorder.Other) kinds(span) = kind
    kind match {
      case Recorder.Commit => commitMs += ms
      case Recorder.Read => readMs += ms
      case Recorder.Other =>
    }
    r
  }

  /** Record a check; a failed one aborts the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) throw new CheckFailed(s"$name: $d")
  }
}

object Recorder {
  sealed trait Kind
  case object Commit extends Kind
  case object Read extends Kind
  case object Other extends Kind
}

/** One benchmark workload: generates its inputs and runs full passes. */
trait Workload {
  type Inputs
  def name: String

  /** Write the inputs for `seed` under `dir`; returns them with their
    * ground truth. */
  def generate(spark: SparkSession, seed: Long, dir: String): Inputs

  /** Fewest measured passes in a run: at least two, so `wall_s` is
    * never a single sample, and enough calls for the latency percentiles. */
  def minPasses: Int

  /** Bytes of generated input one pass consumes. */
  def inputBytes(in: Inputs): Long

  /** One full pass, from the inputs to the last verified result; every
    * output goes under `out`. */
  def pass(spark: SparkSession, in: Inputs, out: String, rec: Recorder): Unit

  /** The live result relations a pass leaves under `out`, for
    * storage amplification. */
  def liveOutputs(spark: SparkSession, in: Inputs, out: String): Seq[DataFrame]

  /** Extra counts for the traced run, measured after the loop. */
  def traceCounters(spark: SparkSession, in: Inputs): Map[String, Double] = Map.empty
}

object Files2 {
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def hidden(name: String) = name.startsWith(".") || name.startsWith("_")

  /** Bytes of the data files under `path` (no checksums or markers). */
  def dataBytes(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(p => Files.isRegularFile(p) && !hidden(p.getFileName.toString))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** The data files directly under `dir`, in name order. */
  def partFiles(dir: String): Seq[String] =
    new File(dir).listFiles().toSeq.map(_.getName).filterNot(hidden).sorted
      .map(n => s"$dir/$n")

  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rm(c.getPath)))
    f.delete()
  }
}

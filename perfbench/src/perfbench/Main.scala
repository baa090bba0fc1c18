package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes the raw measurements as JSON.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --out <file> --trace-out <file>
  * }}}
  *
  * Load shape: one Spark `local[cores]` session, one driver thread, a
  * closed loop (each call starts when the previous one returned).
  *
  * Set-up is one cold start: session start, input generation and one
  * unmeasured warm-up pass over those inputs (in a cold JVM the warm-up is
  * the costliest part of set-up). The measured loop then runs the
  * workload's [[Workload.minPasses]] full passes, and more while another
  * pass as long as the last one still ends within `seconds`. Latency
  * percentiles, medians and the per-layer split are computed from this
  * file by `run.py`.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(MrBatch, TableCommits)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")
    val code =
      try { run(wl, seed, seconds, traced, cores, work, opts("out"), opts("trace-out")); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
                  cores: Int, work: String, outFile: String, traceFile: String): Unit = {
    if (traced) Trace.enable()
    val parts = mutable.LinkedHashMap.empty[String, Double]
    def part[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try Trace.span(name)(body)
      finally parts(name) = (System.nanoTime() - t0) / 1e6
    }

    val spark = part("core.session_start") {
      val s = graft.core.Sessions.local(cores)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    Trace.attach(spark)
    val in = part("core.input_gen")(wl.generate(spark, seed, s"$work/input"))
    part("core.warmup") {
      wl.pass(spark, in, s"$work/warm_out", new Recorder)
      spark.catalog.clearCache()
      Files2.rm(s"$work/warm_out")
    }

    // ---- measured loop ----
    Trace.reset()
    val rec = new Recorder
    val walls = ArrayBuffer.empty[Double]
    val spans = ArrayBuffer.empty[(Double, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def anotherFits = System.nanoTime() + (walls.last * 1e9).toLong <= deadline
    var error: Option[String] = None
    var lastOut = ""
    try {
      while (walls.length < wl.minPasses || anotherFits) {
        if (lastOut.nonEmpty) Files2.rm(lastOut)
        lastOut = s"$work/pass${walls.length}"
        val t0 = System.nanoTime()
        val start = Trace.nowMs
        Trace.span("bench.pass")(wl.pass(spark, in, lastOut, rec))
        spark.catalog.clearCache()
        walls += (System.nanoTime() - t0) / 1e9
        spans += ((start, Trace.nowMs))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (traced) {
      val trace = Trace.toJson
      val extra = if (error.isEmpty) wl.traceCounters(spark, in) else Map.empty[String, Double]
      Files.write(Paths.get(traceFile), Json.obj(Seq(
        "trace" -> trace,
        "counters" -> Json.obj((rec.counters ++ extra).toSeq.map { case (k, v) => k -> Json.num(v) })
      )).getBytes(StandardCharsets.UTF_8))
    }

    // storage amplification of the last pass's outputs: bytes under the
    // output location / bytes of the live rows written once as parquet
    val storageAmp =
      if (error.nonEmpty || walls.isEmpty) Double.NaN
      else {
        val once = s"$work/written_once"
        val live = wl.liveOutputs(spark, in, lastOut).zipWithIndex.map { case (df, i) =>
          df.coalesce(1).write.parquet(s"$once/$i")
          Files2.du(s"$once/$i")
        }.sum
        Files2.du(lastOut).toDouble / live
      }

    val result = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "cores" -> cores.toString,
      "traced" -> traced.toString,
      "error" -> error.map(Json.str).getOrElse("null"),
      "setup_parts_ms" -> Json.obj(parts.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "input_bytes" -> wl.inputBytes(in).toString,
      "pass_wall_s" -> Json.nums(walls),
      "pass_spans_ms" -> Json.arr(spans.map { case (a, b) => Json.nums(Seq(a, b)) }),
      "commit_ms" -> Json.nums(rec.commitMs),
      "read_ms" -> Json.nums(rec.readMs),
      "call_kinds" -> Json.obj(rec.kinds.toSeq.map { case (k, v) =>
        k -> Json.str(if (v == Recorder.Commit) "commit" else "read")
      }),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "checks" -> Json.arr(rec.checks.map { case (n, ok, d) =>
        Json.arr(Seq(Json.str(n), ok.toString, Json.str(d)))
      }),
      "storage_amp" -> Json.num(storageAmp),
      "peak_rss_mb" -> Json.num(peakRssMb)))
    Files.write(Paths.get(outFile), result.getBytes(StandardCharsets.UTF_8))
    Trace.detach()
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

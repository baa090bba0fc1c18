package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Snapshots
import graft.streaming.SnapshotSink

/** `table_commits`: one writer on one snapshot table, a read after every
  * commit.
  *
  * Writes are small batch loads (CSV files the generator wrote): plain
  * appends and, as often, marker-bearing streaming epochs, some of them
  * replayed (a replay must be a no-op), with periodic merge-on-read
  * deletes and merges, then a compaction and an expire. After each commit
  * one read runs, rotating through the tip, a time-travel version, the
  * change feed of the last commit and a pruned range read; each is
  * written to the noop sink. Tasks are tiny, so the cost is driver-side
  * table metadata I/O, job launch and planning, and the version chain
  * grows through the pass.
  *
  * The generator replays the schedule on an in-memory model of the table,
  * so every read is checked against the model at its version.
  */
object TableCommits extends Workload {
  val name = "table_commits"
  val minPasses = 4 // 100 commits: 10 samples beyond p90

  // Append, Epoch, Replay (of the last epoch), Delete, Merge. The delete
  // comes early so most reads run over delete vectors: with about half the
  // reads on either side of that change, the median read would flip
  // between the two.
  private val Schedule = "ADEAERAEAERM" * 2
  private val BatchRows = 64
  private val MergeUpdates = 32
  private val MergeInserts = 16
  private val RetainLast = 2

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType), StructField("s", StringType)))

  /** Row count, key sum and value sum: what a read is checked against. */
  final case class Summary(n: Long, k: Long, v: Long)

  sealed trait Op
  final case class Append(file: String) extends Op
  final case class Epoch(file: String, batchId: Long, replay: Boolean) extends Op
  final case class Delete(lo: Long, hi: Long) extends Op
  final case class Merge(file: String) extends Op
  case object Compact extends Op

  sealed trait Query
  case object Tip extends Query
  final case class AtVersion(v: Long) extends Query
  case object Feed extends Query
  final case class Pruned(lo: Long, hi: Long, expect: Summary) extends Query

  /** One step: a commit, the version it must publish (-1 for a replay)
    * and the query that follows it. */
  final case class Step(op: Op, version: Long, read: Query)

  final class Inputs(val dir: String) {
    val steps = mutable.ArrayBuffer.empty[Step]
    val states = mutable.ArrayBuffer(Summary(0, 0, 0)) // by version
    val inserted = mutable.ArrayBuffer(Summary(0, 0, 0)) // change feed, by version
    val deleted = mutable.ArrayBuffer(Summary(0, 0, 0))
    var bytes = 0L
  }

  private def summary(rows: Iterable[(Long, Long)]) =
    Summary(rows.size, rows.map(_._1).sum, rows.map(_._2).sum)

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val in = new Inputs(dir)
    val r = Gen.rng(seed, 20, 0)
    Files.createDirectories(Paths.get(dir))
    var files = 0
    def csv(rows: Seq[(Long, Long, String)]): String = {
      val f = s"$dir/batch${files}.csv"
      files += 1
      Files.write(Paths.get(f),
        rows.map { case (k, v, s) => s"$k,$v,$s\n" }.mkString.getBytes(StandardCharsets.UTF_8))
      f
    }
    def str() = Iterator.fill(8)(('a' + r.nextInt(26)).toChar).mkString

    // the model: key -> value, and the per-version summaries
    val table = mutable.LinkedHashMap.empty[Long, Long]
    val batches = mutable.ArrayBuffer.empty[Long] // key base of every loaded batch
    var nextBatch = 0L
    var nextBatchId = 0L
    var lastEpoch: Option[Epoch] = None
    def newBatch(): String = {
      val base = nextBatch * 100
      nextBatch += 1
      batches += base
      csv((0 until BatchRows).map(j => (base + j, r.nextInt(1000000).toLong, str())))
    }
    def publish(ins: Seq[(Long, Long)], del: Seq[(Long, Long)]): Long = {
      in.inserted += summary(ins)
      in.deleted += summary(del)
      in.states += summary(table.toSeq)
      in.states.length - 1L
    }
    def load(f: String): Seq[(Long, Long)] = {
      val rows = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.split(",")).map(a => (a(0).toLong, a(1).toLong))
      rows.foreach { case (k, v) => table(k) = v }
      rows
    }
    def latest = in.states.length - 1L
    // A read's cost follows how many files it covers: the version's depth,
    // the range's width. Each pass repeats the same six of each, so a
    // random depth or width would shift the read median from seed to
    // seed; time travel goes to the middle of the history so far, and
    // pruned ranges have a fixed width at a seeded position.
    def nextQuery(i: Int): Query = i % 4 match {
      case 0 => Tip
      case 1 => AtVersion(math.max(1L, latest / 2))
      case 2 => Feed
      case _ =>
        val lo = batches(r.nextInt(batches.length)) + r.nextInt(100)
        val hi = lo + 200
        Pruned(lo, hi, summary(table.toSeq.filter { case (k, _) => k >= lo && k <= hi }))
    }

    for ((c, i) <- Schedule.zipWithIndex) {
      val (op, version) = c match {
        case 'A' =>
          val f = newBatch()
          (Append(f), publish(load(f), Nil))
        case 'E' =>
          val f = newBatch()
          val e = Epoch(f, nextBatchId, replay = false)
          nextBatchId += 1
          lastEpoch = Some(e)
          (e, publish(load(f), Nil))
        case 'R' =>
          (lastEpoch.get.copy(replay = true), -1L)
        case 'D' =>
          val lo = batches(r.nextInt(batches.length)) + r.nextInt(40)
          val hi = lo + 20
          val gone = table.filter { case (k, _) => k >= lo && k <= hi }.toSeq
          gone.foreach { case (k, _) => table.remove(k) }
          (Delete(lo, hi), publish(Nil, gone))
        case 'M' =>
          val live = table.keys.toIndexedSeq
          val upd = mutable.LinkedHashSet.empty[Long]
          while (upd.size < math.min(MergeUpdates, live.size)) upd += live(r.nextInt(live.size))
          val base = 50000000L + i * 100L
          val rows = upd.toSeq.map(k => (k, table(k) + 1 + r.nextInt(1000), str())) ++
            (0 until MergeInserts).map(j => (base + j, r.nextInt(1000000).toLong, str()))
          val old = upd.toSeq.map(k => (k, table(k)))
          val f = csv(rows)
          (Merge(f), publish(load(f), old))
      }
      in.steps += Step(op, version, nextQuery(i))
    }
    // compaction rewrites the rows unchanged: no row-level change
    in.inserted += Summary(0, 0, 0)
    in.deleted += Summary(0, 0, 0)
    in.states += summary(table.toSeq)
    in.steps += Step(Compact, in.states.length - 1L, Tip)
    in.bytes = Files2.dataBytes(dir)
    in
  }

  def inputBytes(in: Inputs): Long = in.bytes

  private def load(spark: SparkSession, f: String): DataFrame =
    spark.read.schema(schema).csv(f)

  /** Write `df` to the noop sink, observing its summary on the way. */
  private def drain(df: DataFrame, cols: Column*): Map[String, Long] = {
    val obs = Observation()
    df.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> Option(v).map(_.asInstanceOf[Long]).getOrElse(0L) }
  }

  private def rowSummary(df: DataFrame): Summary = {
    val m = drain(df, count(lit(1)).as("n"), sum(col("k")).as("k"), sum(col("v")).as("v"))
    Summary(m("n"), m("k"), m("v"))
  }

  def pass(spark: SparkSession, in: Inputs, out: String, rec: Recorder): Unit = {
    import Recorder._
    val loc = s"$out/table"
    for ((step, i) <- in.steps.zipWithIndex) {
      val got = step.op match {
        case Append(f) => rec.call("ops.append", Commit)(Snapshots.commitAppend(load(spark, f), loc))
        case Epoch(f, id, replay) =>
          if (replay) rec.counters("ops.replays") = rec.counters.getOrElse("ops.replays", 0.0) + 1
          rec.call("ops.epoch", Commit)(SnapshotSink.commitBatch(load(spark, f), loc, id))
        case Delete(lo, hi) =>
          rec.call("ops.delete_mor", Commit)(
            Snapshots.commitDeleteMoR(spark, loc, col("k").between(lo, hi)))
        case Merge(f) =>
          rec.call("ops.merge_mor", Commit)(
            Snapshots.commitMergeMoR(spark, loc, load(spark, f), "k"))
        case Compact =>
          rec.call("ops.compaction", Commit)(Snapshots.commitCompaction(spark, loc))
      }
      rec.check("commit.version", got == step.version,
        s"step $i (${step.op}) published $got, expected ${step.version}")
      read(spark, in, loc, step.read, currentVersion(in, i), i, rec)
    }
    val (dropped, _) = rec.call("ops.expire")(
      Snapshots.expire(spark, loc, RetainLast, orphanGraceMs = 0L))
    val last = in.states.length - 1L
    rec.check("expire.dropped", dropped == last - RetainLast, s"dropped $dropped manifests")
    read(spark, in, loc, Tip, last, in.steps.length, rec)
  }

  /** The table's version after step `i`. */
  private def currentVersion(in: Inputs, i: Int): Long =
    in.steps.take(i + 1).map(_.version).max

  private def read(spark: SparkSession, in: Inputs, loc: String, r: Query, latest: Long,
                   i: Int, rec: Recorder): Unit = {
    import Recorder._
    r match {
      case Tip =>
        val got = rec.call("ops.read_tip", Read)(rowSummary(Snapshots.read(spark, loc)))
        rec.check("read.tip", got == in.states(latest.toInt), s"step $i: $got")
      case AtVersion(v) =>
        val got = rec.call("ops.read_version", Read)(rowSummary(Snapshots.read(spark, loc, v)))
        rec.check("read.version", got == in.states(v.toInt), s"step $i v$v: $got")
      case Feed =>
        def part(kind: String, c: String) =
          sum(when(col("change") === kind, col(c)).otherwise(0L)).as(s"$kind.$c")
        val m = rec.call("ops.change_feed", Read) {
          drain(Snapshots.changeFeed(spark, loc, latest - 1, latest).withColumn("one", lit(1L)),
            Seq("insert", "delete").flatMap(kind => Seq("one", "k", "v").map(part(kind, _))): _*)
        }
        def got(kind: String) = Summary(m(s"$kind.one"), m(s"$kind.k"), m(s"$kind.v"))
        rec.check("read.change_feed",
          got("insert") == in.inserted(latest.toInt) && got("delete") == in.deleted(latest.toInt),
          s"step $i v$latest: +${got("insert")} -${got("delete")}")
      case Pruned(lo, hi, expect) =>
        val got = rec.call("ops.read_pruned", Read)(
          rowSummary(Snapshots.readPruned(spark, loc, "k", lo.toString, hi.toString)))
        rec.check("read.pruned", got == expect, s"step $i [$lo, $hi]: $got")
    }
  }

  def liveOutputs(spark: SparkSession, in: Inputs, out: String): Seq[DataFrame] =
    Seq(Snapshots.read(spark, s"$out/table"))
}

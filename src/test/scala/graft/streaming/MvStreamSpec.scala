package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ops.Mv

/** Streaming MV maintenance: folding a change-feed STREAM into the view
  * with foreachBatch + [[Mv.deltaAggregate]] and [[Mv.merge]] converges
  * to the batch recompute whatever the micro-batch split — the streaming
  * face of MvSpec's any-split algebra (the same foreachBatch idiom a
  * production refresh job uses against a table sink). */
case class MvEv(k: Int, v: Long, op: String)

class MvStreamSpec extends SparkTestBase {

  test("foreachBatch delta folding converges to the batch recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = (1 to 500).map(i => (i % 20, (i * 7 % 100).toLong))
    val feed = Seq(
      MvEv(3, 999L, "I"), MvEv(21, 5L, "I"), MvEv(21, 6L, "I"),
      MvEv(3, 999L, "D"), MvEv(7, 49L, "D"), MvEv(7, 89L, "D"),
      MvEv(22, 1L, "I"), MvEv(22, 1L, "D"))

    val (keys, sums) = (Seq("k"), Seq("v"))
    var mv: DataFrame = Mv.aggregate(base.toDF("k", "v"), keys, sums).cache()
    mv.count()

    val mem = MemoryStream[MvEv]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val feed = batch.withColumn("change",
          when(col("op") === "I", "insert").otherwise("delete"))
        val next = Mv.merge(mv, Mv.deltaAggregate(feed, keys, sums), keys, sums)
          .cache()
        next.count() // materialize before swapping the state handle
        mv = next
      }
      .start()
    try {
      mem.addData(feed.take(3))
      q.processAllAvailable()
      mem.addData(feed.slice(3, 4))
      q.processAllAvailable()
      mem.addData(feed.drop(4))
      q.processAllAvailable()
    } finally q.stop()

    // effective rows: base minus the two deleted 7-rows, plus undeleted inserts
    val deleted = Seq((7, 49L), (7, 89L))
    val inserted = Seq((21, 5L), (21, 6L))
    val eff = base.diff(deleted) ++ inserted
    val expect = eff.groupBy(_._1)
      .map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
    val got = mv.select("k", "n", "s_v").as[(Int, Long, Long)].collect()
      .map { case (k, n, s) => k -> (n, s) }.toMap
    assert(got === expect)
  }
}

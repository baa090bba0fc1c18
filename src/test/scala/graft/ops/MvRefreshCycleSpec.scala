package graft.ops

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Pins the steady-state Δ-cycle: [[Mv.rewind]] to MV version 1 (the
  * pristine view, an immutable version rather than a copy), then
  * [[Mv.refresh]] over the base's change feed since that version's
  * cursor:
  *  1. a cycle lands bit-identical to pristine+Δ recomputed from
  *     scratch, including dropping the group the deletes emptied;
  *  2. a garbage commit to the MV between cycles (what a half-applied
  *     or foreign write leaves) is discarded by the next rewind;
  *  3. repeated cycles are idempotent.
  */
class MvRefreshCycleSpec extends SparkTestBase {
  import spark.implicits._

  private val root = "/tmp/graft-test/mv_cycle"

  private def baseDf = spark.range(2000)
    .select((col("id") % 97).as("key"), (col("id") * 3 % 1000).as("v"))

  private def insDf = spark.range(40)
    .select((col("id") % 10).as("key"), lit(7L).as("v"))

  /** pristine+Δ recomputed from the DataFrames, not from either table. */
  private def expected: Set[(Long, Long, Long, Long)] =
    baseDf.filter(col("key") =!= 42L).unionByName(insDf).groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s_v"),
        count(col("v")).as("c_v"))
      .as[(Long, Long, Long, Long)].collect().toSet

  private def content(mv: String): Set[(Long, Long, Long, Long)] =
    Snapshots.read(spark, mv).select("key", "n", "s_v", "c_v")
      .as[(Long, Long, Long, Long)].collect().toSet

  /** Base v1 with the MV at cursor 1; base v2 deletes key 42, v3
    * appends the inserts. Returns the MV location. */
  private def seed(name: String): String = {
    val (base, mv) = (s"$root/$name/base", s"$root/$name/mv")
    val p = new Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Snapshots.commitAppend(baseDf, base)
    Mv.create(spark, mv, base, Seq("key"), Seq("v"), buckets = 8)
    Snapshots.commitDelete(spark, base, col("key") === 42L)
    Snapshots.commitAppend(insDf, base)
    mv
  }

  private def cycle(mv: String): Unit = {
    Mv.rewind(spark, mv, 1L)
    val r = Mv.refresh(spark, mv)
    assert(r.fromBase == 1L && r.toBase == 3L)
  }

  test("one cycle equals pristine+delta recomputed; emptied key vanishes") {
    val mv = seed("one")
    cycle(mv)
    val got = content(mv)
    assert(got === expected)
    assert(!got.exists(_._1 == 42L), "fully-deleted key must vanish")
  }

  test("a corrupted changed partition heals — fused write still rewrites from pristine") {
    val mv = seed("heal")
    cycle(mv)
    // corrupt key 5 (an insert target) the way a half-applied write
    // would leave it: a garbage row committed on top of the view
    Snapshots.commitAppend(
      Seq((5L, 999999L, -1L, 1L)).toDF("key", "n", "s_v", "c_v"), mv)
    assert(content(mv).exists(r => r._1 == 5L && r._2 == 999999L))
    cycle(mv)
    assert(content(mv) === expected,
      "the corrupted group must heal to pristine+delta")
  }

  test("repeated cycles are idempotent") {
    val mv = seed("repeat")
    cycle(mv)
    val first = content(mv)
    cycle(mv)
    val second = content(mv)
    assert(first === expected && second === expected)
  }
}

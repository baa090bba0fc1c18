package graft.ops

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins the bucketed materialized-view refresh ([[Mv.create]] with
  * `buckets > 0`, then [[Mv.refresh]]) on a 97-key base:
  *  1. the refreshed view is bit-identical to a full recompute, and a
  *     bucket the deletes emptied keeps no file in the new manifest;
  *  2. refreshing in two steps lands where one step over the whole
  *     change feed lands.
  * That the refresh rewrites only the touched buckets and carries the
  * rest by reference is MvSpec's bucketed case.
  */
class MvBucketedSpec extends SparkTestBase {
  import spark.implicits._

  private val root = "/tmp/graft-test/mv_bucketed"

  private def fresh(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    loc
  }

  private def baseDf = spark.range(2000)
    .select((col("id") % 97).as("key"), (col("id") * 3 % 1000).as("v"))

  // inserts for keys 0..9 (hits a few buckets)
  private def insDf(keep: Column => Column = _ => lit(true)): DataFrame =
    spark.range(40).select((col("id") % 10).as("key"), lit(7L).as("v"))
      .filter(keep(col("key")))

  private def content(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("key", "n", "s_v", "c_v").as[(Long, Long, Long, Long)]
      .collect().toSet

  /** The view recomputed from scratch over the base tip. */
  private def recompute(baseLoc: String): Set[(Long, Long, Long, Long)] =
    content(Snapshots.read(spark, baseLoc).groupBy("key").agg(
      count(lit(1)).as("n"), sum(col("v")).as("s_v"), count(col("v")).as("c_v")))

  private def bucketOf(k: Long): Int =
    spark.range(1).select(BucketLayout.bucketId(lit(k), 8)).head().getInt(0)

  test("refresh lands bit-identical to a full recompute, emptied partitions dropped") {
    val base = fresh("base1"); val mv = fresh("mv1")
    Snapshots.commitAppend(baseDf, base)
    Mv.create(spark, mv, base, Seq("key"), Seq("v"), buckets = 8)
    // inserts, then deletes that empty key 42's whole bucket (every
    // base and inserted row of every key that hashes there)
    val b42 = bucketOf(42L)
    Snapshots.commitAppend(insDf(), base)
    Snapshots.commitDelete(spark, base, BucketLayout.bucketId(col("key"), 8) === b42)
    val r = Mv.refresh(spark, mv)
    assert(r.fromBase == 1L && r.toBase == 3L && r.groupsTouched > 0L)
    val got = content(Snapshots.read(spark, mv))
    assert(got === recompute(base))
    assert(!got.exists(_._1 == 42L), "fully-deleted key must vanish")
    val tipFiles = Snapshots.versionFiles(spark, mv, r.mvVersion)
    assert(tipFiles.nonEmpty && !tipFiles.exists(_.contains(s"__graft_bucket=$b42/")),
      s"emptied bucket $b42 must leave no file: $tipFiles")
    assert(Snapshots.versionLayout(spark, mv, r.mvVersion).contains("bucket,8,key"))
  }

  test("repeated refreshes converge with one-shot application") {
    val base = fresh("base2")
    val (twoStep, oneShot) = (fresh("mv2a"), fresh("mv2b"))
    Snapshots.commitAppend(baseDf, base)
    Seq(twoStep, oneShot).foreach(
      Mv.create(spark, _, base, Seq("key"), Seq("v"), buckets = 8))
    // the first half of the delta: even inserts and key 42's deletes
    Snapshots.commitAppend(insDf(k => k % 2 === 0), base)
    Snapshots.commitDelete(spark, base, col("key") === 42L)
    Mv.refresh(spark, twoStep)
    // the second half: odd inserts
    Snapshots.commitAppend(insDf(k => k % 2 =!= 0), base)
    Mv.refresh(spark, twoStep)
    val r = Mv.refresh(spark, oneShot)
    assert(r.fromBase == 1L && r.toBase == 4L)
    val got = content(Snapshots.read(spark, twoStep))
    assert(got === content(Snapshots.read(spark, oneShot)))
    assert(got === recompute(base))
  }
}

package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.{BucketLayout, Mv, Snapshots}

/** Every verb that writes snapshot data goes through the one direct
  * data writer, so every table directory keeps the same on-disk
  * contract: no committer leftovers (`_temporary`, `_SUCCESS`), only
  * non-empty `part-` files in manifests, bucketed files under their
  * `__graft_bucket=<k>/` segment holding only that bucket's rows in key
  * order — and reads that equal a plain DataFrame model of the verbs. */
class SnapshotWriteSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/snapwrite"

  private def fresh(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.swcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.swcat.root", root)
    loc
  }

  private def rows(k: Range): Seq[(Long, String, Long)] =
    k.map(i => (i.toLong, s"g${i % 3}", i * 10L))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def tipDvs(loc: String): Seq[String] =
    Snapshots.versionDvs(spark, loc, Snapshots.latestVersion(spark, loc))

  /** The on-disk contract of `loc`'s tip, then its rows against `model`. */
  private def check(loc: String, model: DataFrame): Unit = {
    val walk = Files.walk(Paths.get(loc))
    val leftovers =
      try walk.iterator().asScala.map(_.toString)
        .filter(p => p.contains("_temporary") || p.contains("_SUCCESS")).toList
      finally walk.close()
    assert(leftovers.isEmpty, s"committer leftovers: $leftovers")

    val v = Snapshots.latestVersion(spark, loc)
    val files = Snapshots.versionFiles(spark, loc, v)
    val manifestFiles = files ++ Snapshots.versionDvs(spark, loc, v)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestFiles.foreach { f =>
      assert(fs.exists(new Path(f)), s"manifest names a missing file: $f")
      assert(new Path(f).getName.startsWith("part-"), s"not a part- file: $f")
    }
    if (manifestFiles.nonEmpty) {
      val counts = spark.read.parquet(manifestFiles: _*)
        .groupBy(col("_metadata.file_path")).count().collect()
        .map(r => Snapshots.normPath(r.getString(0)) -> r.getLong(1)).toMap
      manifestFiles.foreach(f => assert(
        counts.getOrElse(Snapshots.normPath(f), 0L) > 0L, s"0-row file: $f"))
    }

    Snapshots.versionLayout(spark, loc, v).flatMap(BucketLayout.parse)
      .foreach { spec =>
        files.foreach { f =>
          val bucket = BucketLayout.bucketOfPath(f)
          assert(bucket.isDefined, s"unrouted file under a layout: $f")
          val got = spark.read.parquet(f)
            .select(BucketLayout.linearId(spec), col(spec.columns.head))
            .collect().map(r => (r.getInt(0), r.getLong(1)))
          assert(got.forall(_._1 == bucket.get), s"foreign-bucket rows in $f")
          assert(got.map(_._2).toSeq == got.map(_._2).sorted.toSeq,
            s"keys out of order in $f")
        }
      }

    assert(sortedRows(Snapshots.read(spark, loc)) == sortedRows(model))
  }

  test("API verbs: append, MoR delete, CoW update, compaction, MV refresh") {
    import spark.implicits._
    val loc = fresh("plain")
    // hash-partitioned by k % 2 over 8 tasks: six tasks get no rows
    Snapshots.commitAppend(rows(1 to 40).toDF("k", "g", "x")
      .repartition(8, $"k" % 2), loc)
    var model = rows(1 to 40)
    check(loc, model.toDF("k", "g", "x"))

    Snapshots.commitDeleteMoR(spark, loc, $"k" % 5 === 0)
    model = model.filterNot(_._1 % 5 == 0)
    assert(tipDvs(loc).nonEmpty, "no delete vector")
    check(loc, model.toDF("k", "g", "x"))

    Snapshots.commitUpdate(spark, loc, $"k" < 10, Map("x" -> lit(-1L)))
    model = model.map { case (k, g, x) => (k, g, if (k < 10) -1L else x) }
    check(loc, model.toDF("k", "g", "x"))

    Snapshots.commitCompaction(spark, loc)
    assert(tipDvs(loc).isEmpty)
    check(loc, model.toDF("k", "g", "x"))

    val mv = fresh("plain_mv")
    Mv.create(spark, mv, loc, Seq("g"), Seq("x"))
    Snapshots.commitAppend(rows(41 to 50).toDF("k", "g", "x"), loc)
    model = model ++ rows(41 to 50)
    Mv.refresh(spark, mv)
    check(mv, model.toDF("k", "g", "x").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("s_x"), count("x").as("c_x")))
  }

  test("bucketed verbs: commitBucketed, appendBucketed, splitBuckets") {
    import spark.implicits._
    val loc = fresh("bucketed")
    Snapshots.commitAppend(rows(1 to 60).toDF("k", "g", "x"), loc)
    BucketLayout.commitBucketed(spark, loc, Seq("k"), Seq(4))
    var model = rows(1 to 60)
    assert(Snapshots.versionLayout(spark, loc, -1L).contains("bucket,4,k"))
    check(loc, model.toDF("k", "g", "x"))

    // unsorted input: the writer's routing still lands every row home
    BucketLayout.appendBucketed(spark, loc,
      rows(61 to 90).reverse.toDF("k", "g", "x"))
    model = model ++ rows(61 to 90)
    assert(Snapshots.versionLayout(spark, loc, -1L).contains("bucket,4,k"))
    check(loc, model.toDF("k", "g", "x"))

    BucketLayout.splitBuckets(spark, loc, Seq(8))
    assert(Snapshots.versionLayout(spark, loc, -1L).contains("bucket,8,k"))
    check(loc, model.toDF("k", "g", "x"))
  }

  test("SQL verbs: plain INSERT, bucketed INSERT, UPDATE") {
    import spark.implicits._
    val plain = fresh("sql_plain")
    Snapshots.commitAppend(rows(1 to 10).toDF("k", "g", "x"), plain)
    spark.sql("INSERT INTO swcat.sql_plain VALUES (11, 'g2', 110), (12, 'g0', 120)")
    var model = rows(1 to 12)
    check(plain, model.toDF("k", "g", "x"))

    spark.sql("UPDATE swcat.sql_plain SET x = 0 WHERE k > 8")
    model = model.map { case (k, g, x) => (k, g, if (k > 8) 0L else x) }
    check(plain, model.toDF("k", "g", "x"))

    val bucketed = fresh("sql_bucketed")
    Snapshots.commitAppend(rows(1 to 20).toDF("k", "g", "x"), bucketed)
    BucketLayout.commitBucketed(spark, bucketed, Seq("k"), Seq(4))
    spark.sql("INSERT INTO swcat.sql_bucketed SELECT id, concat('g', id % 3), " +
      "id * 10 FROM range(21, 41)")
    assert(Snapshots.versionLayout(spark, bucketed, -1L).contains("bucket,4,k"))
    check(bucketed, rows(1 to 40).toDF("k", "g", "x"))
  }

  test("writeStream.toTable epochs land through the same writer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = fresh("stream")
    val ckpt = s"$root/_ckpt_stream"
    val cp = new Path(ckpt)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF()
      .select($"value".as("k"), concat(lit("g"), $"value" % 3).as("g"),
        ($"value" * 10).as("x"))
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("swcat.stream")
    try {
      mem.addData(1L, 2L, 3L); q.processAllAvailable()
      mem.addData(4L); q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.markers(spark, loc).size == 2)
    check(loc, rows(1 to 4).toDF("k", "g", "x"))
  }

  test("an all-empty append publishes the schema header and no file") {
    import spark.implicits._
    val loc = fresh("empty")
    val empty = rows(1 to 5).toDF("k", "g", "x").filter($"k" < 0)
      .repartition(4)
    val v = Snapshots.commitAppend(empty, loc)
    assert(Snapshots.versionFiles(spark, loc, v).isEmpty)
    val back = Snapshots.read(spark, loc)
    assert(back.schema == empty.schema)
    assert(back.count() == 0L)
    check(loc, empty)
  }
}

package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** The Spark jobs each row-level verb runs per call, pinned. Every verb
  * scans its candidate files once; a merge-on-read verb then writes its
  * vector (and its images or source), with no probe job to learn
  * whether the vector is empty first, and a copy-on-write verb collects
  * its hit files in one job and writes their rewrite. The table is six
  * appends of (id, v) with one merge-on-read delete, so every verb also
  * subtracts an earlier vector, and a copy-on-write verb writes the
  * carried vector filtered to its kept files. */
class RowLevelJobCountSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/rowjobs"

  /** A fresh table at `<root>/<name>`: ids 1..600 minus multiples of 29. */
  private def table(name: String): String = {
    import spark.implicits._
    val t = s"$root/$name"
    val p = new Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    (0 until 6).foreach { b =>
      Snapshots.commitAppend((b * 100L + 1 to b * 100L + 100).map(i => (i, s"v$i"))
        .toDF("id", "v").repartition(4), t)
    }
    Snapshots.commitDeleteMoR(spark, t, col("id") % 29 === 0)
    assert(Snapshots.version(spark, t).dvs.nonEmpty)
    t
  }

  /** A file-backed merge source, read under a fixed schema (no
    * inference job): ids 150..160 replace, 700..705 insert. */
  private def source(name: String): DataFrame = {
    val f = Paths.get(s"$root/$name.csv")
    Files.createDirectories(f.getParent)
    val ids = (150L to 160L) ++ (700L to 705L)
    Files.write(f, ids.map(i => s"$i,m$i").mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.read.schema(StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))).csv(f.toString)
  }

  private def ids(t: String): Set[Long] =
    Snapshots.read(spark, t).select("id").collect().map(_.getLong(0)).toSet

  private val live = (1L to 600L).filter(_ % 29 != 0).toSet
  private val band = col("id").between(150, 160)
  private val bandIds = (150L to 160L).filter(_ % 29 != 0).toSet

  /** Runs `verb` on a fresh table and pins its jobs per call. */
  private def pin(name: String, jobs: Int)(verb: String => Unit): String = {
    val t = table(name)
    val n = jobsOf(verb(t))
    assert(n == jobs, s"$name ran $n Spark jobs, pinned at $jobs")
    t
  }

  test("commitDeleteMoR runs one job: the vector write, no isEmpty probe") {
    val t = pin("delete_mor", 1)(Snapshots.commitDeleteMoR(spark, _, band))
    assert(ids(t) == live -- bandIds)
  }

  test("a no-match commitDeleteMoR runs one job and publishes no vector") {
    val t = pin("delete_mor_none", 1)(Snapshots.commitDeleteMoR(spark, _, col("id") > 10000))
    assert(Snapshots.version(spark, t).dvs == Snapshots.version(spark, t, 7L).dvs)
    assert(ids(t) == live)
  }

  test("commitUpdateMoR runs two jobs: the vector and the images") {
    val t = pin("update_mor", 2)(
      Snapshots.commitUpdateMoR(spark, _, band, Map("v" -> lit("u"))))
    assert(ids(t) == live)
    assert(Snapshots.read(spark, t).filter(col("v") === "u").count() == bandIds.size)
  }

  test("commitMergeMoR runs the envelope, the vector and the source write") {
    val src = source("merge_mor")
    val t = pin("merge_mor", 6)(Snapshots.commitMergeMoR(spark, _, src, "id"))
    assert(ids(t) == live ++ (150L to 160L) ++ (700L to 705L))
  }

  test("commitDelete runs the hit-file collect, the rewrite and the filtered vector") {
    val t = pin("delete", 3)(Snapshots.commitDelete(spark, _, band))
    assert(ids(t) == live -- bandIds)
  }

  test("commitUpdate runs the hit-file collect, the rewrite and the filtered vector") {
    val t = pin("update", 3)(Snapshots.commitUpdate(spark, _, band, Map("v" -> lit("u"))))
    assert(ids(t) == live)
    assert(Snapshots.read(spark, t).filter(col("v") === "u").count() == bandIds.size)
  }

  test("commitMerge runs the envelope, the hit-file collect, the rewrite and the filtered vector") {
    val src = source("merge")
    val t = pin("merge", 9)(Snapshots.commitMerge(spark, _, src, "id"))
    assert(ids(t) == live ++ (150L to 160L) ++ (700L to 705L))
  }

  test("commitDeleteRange without a sidecar runs the straddler collect, the rewrite and the filtered vector") {
    val t = pin("delete_range", 3)(
      Snapshots.commitDeleteRange(spark, _, "id", Some(("150", true)), Some(("160", true))))
    assert(ids(t) == live -- bandIds)
  }
}

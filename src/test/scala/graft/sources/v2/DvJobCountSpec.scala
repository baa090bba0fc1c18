package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.Snapshots

/** A delete vector is version metadata: it is read on the driver like
  * the manifest, so a DV-bearing read runs the same one Spark job as a
  * DV-free one ([[SparkTestBase.jobsOf]] counts them). */
class DvJobCountSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/dvjobs"
  private lazy val loc = {
    import spark.implicits._
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val t = s"$root/t"
    (0 until 6).foreach { b =>
      Snapshots.commitAppend((b * 100L + 1 to b * 100L + 100).map(i => (i, s"v$i"))
        .toDF("id", "v").repartition(4), t)
    }
    Snapshots.commitDeleteMoR(spark, t, col("id") % 29 === 0)
    assert(Snapshots.version(spark, t).dvs.nonEmpty)
    spark.conf.set("spark.sql.catalog.dvjobs", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvjobs.root", root)
    t
  }
  private val live = (1L to 600L).count(_ % 29 != 0)

  /** Write `df` to the noop sink, counting its rows on the way. */
  private def drain(df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  test("a drained Snapshots.read of a DV version runs exactly one job") {
    val t = loc // the fixture's own jobs run outside the count
    var n = 0L
    assert(jobsOf { n = drain(Snapshots.read(spark, t)) } == 1)
    assert(n == live)
  }

  test("a drained readPruned of a DV version runs exactly one job") {
    val t = loc
    var n = 0L
    assert(jobsOf { n = drain(Snapshots.readPruned(spark, t, "id", "1", "300")) } == 1)
    assert(n == (1L to 300L).count(_ % 29 != 0))
  }

  test("loadDvMap reads the vectors with no Spark job") {
    val v = Snapshots.version(spark, loc)
    var m = Map.empty[String, Array[Long]]
    assert(jobsOf { m = SnapshotRowScan.loadDvMap(spark, v.dvs,
      v.files.map(SnapshotRowScan.norm).toSet) } == 0)
    assert(m.valuesIterator.map(_.length).sum == 600 - live)
  }

  test("a drained SQL SELECT of a DV version runs exactly one job") {
    loc // registers the catalog
    var n = 0L
    assert(jobsOf { n = drain(spark.sql("SELECT id, v FROM dvjobs.t")) } == 1)
    assert(n == live)
  }
}

/** No reader of a delete vector asks Spark to infer its schema: a
  * schema-less `read.parquet` of a vector list runs a footer-inference
  * job before the read's own. Vectors are read through
  * [[graft.ops.DeleteVectors]] with its one typed schema. */
class DvReadGuardSpec extends AnyFunSuite {
  test("no schema-less read.parquet of a delete-vector list in src/main/scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root: run from the repository root")
    val untyped = """read\s*\.\s*parquet\(\s*(dvs|dvDelta)\b""".r
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if untyped.findFirstIn(l).isDefined => s"$p:${i + 1}"
          }
        }
      finally walk.close()
    assert(hits.isEmpty, s"untyped delete-vector reads: ${hits.mkString(", ")}")
  }
}

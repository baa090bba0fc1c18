package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A delete vector's `file` column and a version's manifest lines spell
  * the same data file differently: the vector keeps parquet's
  * `_metadata.file_path` (scheme-qualified, URL-escaped, so a space is
  * `%20`), the manifest keeps the writer's path (scheme-less here, a
  * space as a space). Every reader of a vector keys both through the
  * engine's path normalization, so each must subtract exactly the
  * deleted rows whatever the spelling: the API read, the pruned read,
  * the SQL read, the change feed, full and partial compaction and
  * `fold_dvs`. A copy-on-write delete, which finds its files by
  * `input_file_name` (escaped the same way), rides along. */
class DvPathSpellingSpec extends SparkTestBase {

  private def wipe(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  /** One big file (kept by partial compaction) plus small files, then a
    * MoR delete of every multiple of 7: each file carries vector
    * entries. Returns the version before the delete. */
  private def fixture(loc: String): Long = {
    import spark.implicits._
    Snapshots.commitAppend((1L to 20000L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.commitAppend((20001L to 20300L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(3), loc)
    val before = Snapshots.latestVersion(spark, loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") % 7 === 0)
    before
  }

  private val expected = (1L to 20300L).filterNot(_ % 7 == 0)
  private val deleted = (1L to 20300L).filter(_ % 7 == 0)

  Seq("plain" -> "/tmp/graft-test/dv_spelling", "space" -> "/tmp/graft-test/dv spelling")
    .foreach { case (label, root) =>
      test(s"every DV reader subtracts exactly the deleted rows ($label path)") {
        wipe(root)
        val loc = s"$root/t"
        val before = fixture(loc)
        val v = Snapshots.version(spark, loc)
        // the two spellings this spec exists for
        assert(v.files.nonEmpty && v.files.forall(!_.startsWith("file:")),
          s"manifest lines are scheme-less: ${v.files}")
        val named = DeleteVectors.read(spark, v.dvs).select("file").distinct()
          .collect().map(_.getString(0))
        assert(named.length == v.files.length && named.forall(_.startsWith("file:")),
          s"vector entries are scheme-qualified: ${named.toSeq}")
        if (label == "space")
          assert(named.forall(_.contains("%20")) && v.files.forall(_.contains(" ")),
            s"the vector escapes the space, the manifest does not: ${named.toSeq}")

        assert(ids(Snapshots.read(spark, loc)) == expected, "API read")
        assert(ids(Snapshots.readPruned(spark, loc, "id", "1", "20300")) == expected,
          "pruned read")
        val feed = Snapshots.changeFeed(spark, loc, before)
        assert(ids(feed.filter(col("change") === "delete")) == deleted &&
          feed.filter(col("change") === "insert").isEmpty, "change feed")

        // a catalog is built once per name, so each root gets its own
        val cat = s"dvspell_$label"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.v2.SnapshotCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.root", root)
        assert(ids(spark.table(s"$cat.t")) == expected, "SQL read")
        assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) ==
          expected.length, "SQL count")

        // partial compaction rewrites the small files and carries the big
        // one with ONLY its own vector entries
        val big = Snapshots.fileSizes(spark, v.files).values.max
        Snapshots.commitCompactionPartial(spark, loc, smallerThanBytes = big)
        val partial = Snapshots.version(spark, loc)
        assert(partial.files.length < v.files.length && partial.dvs.nonEmpty)
        assert(DeleteVectors.positions(spark, partial.dvs).keySet ==
          partial.files.map(Snapshots.normPath).toSet.filter(f =>
            v.files.map(Snapshots.normPath).contains(f)),
          "the carried vector names only the carried file")
        assert(ids(Snapshots.read(spark, loc)) == expected, "after partial compaction")

        val folded = Snapshots.commitFoldDvs(spark, loc)
        assert(Snapshots.version(spark, loc, folded).dvs.isEmpty)
        assert(ids(Snapshots.read(spark, loc)) == expected, "after fold_dvs")

        // full compaction over the pre-fold DV version
        Snapshots.rollback(spark, loc, before + 1)
        Snapshots.commitCompaction(spark, loc)
        assert(Snapshots.version(spark, loc).dvs.isEmpty)
        assert(ids(Snapshots.read(spark, loc)) == expected, "after compaction")

        // copy-on-write finds a space-path file by its `input_file_name`
        Snapshots.commitDelete(spark, loc, col("id") === 1L)
        assert(ids(Snapshots.read(spark, loc)) == expected.tail, "after a CoW delete")
      }
    }

  test("the interpreted DV predicate subtracts the same rows as the generated one") {
    val root = "/tmp/graft-test/dv_interpreted"
    wipe(root)
    val loc = s"$root/t"
    fixture(loc)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    keys.zip(Seq("false", "NO_CODEGEN")).foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(ids(Snapshots.read(spark, loc)) == expected)
    finally keys.foreach(spark.conf.unset)
  }
}

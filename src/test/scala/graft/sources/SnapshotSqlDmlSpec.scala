package graft.sources

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.ops.Snapshots

/** SQL row-level DML through the DSv2 SnapshotCatalog: INSERT routes to
  * an append commit, predicate DELETE to the copy-on-write
  * `commitDelete` (carried-file contract preserved THROUGH the SQL
  * path), UPDATE / MERGE / subquery-DELETE to the group-based rewrite
  * committed as an exact replace with first-committer-wins conflict
  * detection. Pinned historical versions reject writes; DV-bearing
  * versions are served directly by SQL reads through the DV-subtracting
  * scan (compaction folds the vectors and restores the native scan).
  */
class SnapshotSqlDmlSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/sqldml"

  private def freshTable(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.sqldml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqldml.root", root)
    loc
  }

  private def dataFiles(loc: String): Map[String, Long] = {
    val p = new Path(s"$loc/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val b = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-"))
          b += (f.getPath.toString -> f.getModificationTime)
      }
      b.toMap
    }
  }

  test("INSERT INTO publishes an append commit; history intact") {
    import spark.implicits._
    val loc = freshTable("t_insert")
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), loc)
    spark.sql("INSERT INTO sqldml.t_insert VALUES (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT id FROM sqldml.t_insert").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(Snapshots.latestVersion(spark, loc) == 2L)
    assert(Snapshots.read(spark, loc, 1).count() == 1) // v1 pinned
  }

  test("INSERT OVERWRITE replaces content as a new version; history pinned") {
    import spark.implicits._
    val loc = freshTable("t_overwrite")
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), loc)
    spark.sql("INSERT OVERWRITE sqldml.t_overwrite VALUES (9, 'z')")
    assert(spark.sql("SELECT id, v FROM sqldml.t_overwrite")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // the logical overwrite is a VERSION, not destruction
    assert(Snapshots.read(spark, loc, 1).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    assert(Snapshots.latestVersion(spark, loc) == 2L)
  }

  test("DELETE FROM with a plain predicate takes the copy-on-write path and carries files") {
    import spark.implicits._
    val loc = freshTable("t_delete")
    // two commits -> disjoint files; the predicate hits only the second
    Snapshots.commitAppend(Seq((1L, "keep"), (2L, "keep")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((10L, "drop"), (11L, "keep")).toDF("id", "v"), loc)
    val before = dataFiles(loc)
    spark.sql("DELETE FROM sqldml.t_delete WHERE v = 'drop'")
    assert(spark.sql("SELECT id FROM sqldml.t_delete").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L))
    // the carried-file contract THROUGH SQL: v1's files byte-identical
    val after = dataFiles(loc)
    val v1Files = Snapshots.read(spark, loc, 1).inputFiles
      .map(f => new Path(f).toUri.getPath).toSet
    val carried = before.filter { case (f, m) => after.get(f).contains(m) }
      .keySet.map(f => new Path(f).toUri.getPath)
    assert(v1Files.subsetOf(carried), "SQL DELETE rewrote unaffected files")
    // and the new version still reads through the API identically
    assert(Snapshots.read(spark, loc).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 11L))
  }

  test("UPDATE goes through the row-level rewrite and publishes a replace") {
    import spark.implicits._
    val loc = freshTable("t_update")
    Snapshots.commitAppend(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x"), loc)
    spark.sql("UPDATE sqldml.t_update SET x = x * 2 WHERE id <= 2")
    assert(spark.sql("SELECT id, x FROM sqldml.t_update")
      .as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 20L), (2L, 40L), (3L, 30L)))
    assert(Snapshots.latestVersion(spark, loc) == 2L)
    // history pinned through the SQL write
    assert(Snapshots.read(spark, loc, 1).select("x").as[Long]
      .collect().sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("SQL UPDATE replaces only the files holding matched rows — group granularity") {
    import spark.implicits._
    val loc = freshTable("t_upd_groups")
    // two commits → disjoint files; the predicate hits only the second
    Snapshots.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), loc)
    Snapshots.commitAppend(Seq((100L, 1000L), (101L, 1010L)).toDF("id", "x"), loc)
    val before = dataFiles(loc)
    val v1Files = Snapshots.read(spark, loc, 1).inputFiles
      .map(f => new Path(f).toUri.getPath).toSet
    spark.sql("UPDATE sqldml.t_upd_groups SET x = x + 1 WHERE id >= 100")
    assert(spark.sql("SELECT id, x FROM sqldml.t_upd_groups")
      .as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 10L), (2L, 20L), (100L, 1001L), (101L, 1011L)))
    // the carried-file contract through SQL UPDATE: v1's files are named
    // by the new manifest byte-identical (runtime group filtering fed the
    // matched files back; the commit carried the rest by reference)
    val after = dataFiles(loc)
    val carried = before.filter { case (f, m) => after.get(f).contains(m) }
      .keySet.map(f => new Path(f).toUri.getPath)
    assert(v1Files.subsetOf(carried),
      s"SQL UPDATE rewrote unmatched files: carried=$carried v1=$v1Files")
    val liveNow = Snapshots.read(spark, loc).inputFiles
      .map(f => new Path(f).toUri.getPath).toSet
    assert(v1Files.subsetOf(liveNow), "carried files must stay live by reference")
  }

  test("SQL MERGE replaces only the files holding matched keys — group granularity") {
    import spark.implicits._
    val loc = freshTable("t_mrg_groups")
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((100L, "x"), (101L, "y")).toDF("id", "v"), loc)
    val before = dataFiles(loc)
    val v1Files = Snapshots.read(spark, loc, 1).inputFiles
      .map(f => new Path(f).toUri.getPath).toSet
    Seq((100L, "X2"), (999L, "new")).toDF("id", "v")
      .createOrReplaceTempView("mrg_groups_src")
    spark.sql("""MERGE INTO sqldml.t_mrg_groups t USING mrg_groups_src s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v FROM sqldml.t_mrg_groups")
      .as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b"), (100L, "X2"), (101L, "y"), (999L, "new")))
    val after = dataFiles(loc)
    val carried = before.filter { case (f, m) => after.get(f).contains(m) }
      .keySet.map(f => new Path(f).toUri.getPath)
    assert(v1Files.subsetOf(carried),
      s"SQL MERGE rewrote unmatched files: carried=$carried v1=$v1Files")
  }

  test("__graft_file metadata column is queryable and names each row's file") {
    import spark.implicits._
    val loc = freshTable("t_filecol")
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), loc)
    val rows = spark.sql(
      "SELECT id, __graft_file FROM sqldml.t_filecol ORDER BY id")
      .as[(Long, String)].collect().toSeq
    val v2Files = Snapshots.read(spark, loc).inputFiles
      .map(f => new Path(f).toUri.getPath).toSet
    assert(rows.map(_._1) == Seq(1L, 2L))
    assert(rows.forall { case (_, f) => v2Files.contains(f) },
      s"__graft_file must name live data files: $rows vs $v2Files")
    assert(rows.map(_._2).distinct.size == 2, "rows of different commits sit in different files")
  }

  test("MERGE INTO upserts through the row-level rewrite") {
    import spark.implicits._
    val loc = freshTable("t_merge")
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), loc)
    Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
      .createOrReplaceTempView("merge_src")
    spark.sql("""MERGE INTO sqldml.t_merge t USING merge_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v FROM sqldml.t_merge")
      .as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "B2"), (9L, "new")))
    assert(Snapshots.read(spark, loc).as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "B2"), (9L, "new")))
  }

  test("DELETE with a subquery falls back to the row-level rewrite") {
    import spark.implicits._
    val loc = freshTable("t_subq")
    Snapshots.commitAppend(
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "v"), loc)
    Seq(1L, 3L).toDF("bad_id").createOrReplaceTempView("bad_ids")
    spark.sql(
      "DELETE FROM sqldml.t_subq WHERE id IN (SELECT bad_id FROM bad_ids)")
    assert(spark.sql("SELECT id FROM sqldml.t_subq").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("writes to a pinned historical version are rejected") {
    import spark.implicits._
    freshTable("t_pinned")
    Snapshots.commitAppend(Seq(1L).toDF("id"), s"$root/t_pinned")
    Snapshots.commitAppend(Seq(2L).toDF("id"), s"$root/t_pinned")
    val cat = new graft.sources.v2.SnapshotCatalog
    cat.initialize("sqldml", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root)))
    val pinned = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "t_pinned"), "1")
      .asInstanceOf[graft.sources.v2.SnapshotTable]
    assert(!pinned.canDeleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("id", 1L))))
    intercept[UnsupportedOperationException](pinned.newRowLevelOperationBuilder(
      new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
        override def options() =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
        override def command() =
          org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE
      }))
    assert(Snapshots.read(spark, s"$root/t_pinned", 1).count() == 1)
  }

  test("SQL reads and row-level rewrites subtract delete vectors — no resurrection") {
    import spark.implicits._
    val loc = freshTable("t_dv")
    Snapshots.commitAppend((1L to 1000L).toDF("id").repartition(3), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id").between(10, 20))
    // the DV-aware scan serves the MoR version directly (per-file
    // partitions, deleted positions subtracted by file order)
    assert(spark.sql("SELECT count(*) AS n FROM sqldml.t_dv").as[Long]
      .collect().head == 989L)
    assert(spark.sql("SELECT id FROM sqldml.t_dv WHERE id <= 25 ORDER BY id")
      .as[Long].collect().toSeq == ((1L to 9L) ++ (21L to 25L)))
    // a SQL UPDATE's whole-table rewrite reads THROUGH the vector: the
    // DV'd rows stay dead in the replacement it publishes
    spark.sql("UPDATE sqldml.t_dv SET id = id + 10000 WHERE id = 1")
    assert(Snapshots.read(spark, loc)
      .filter(col("id").between(10, 20)).count() == 0,
      "row-level rewrite resurrected DV-deleted rows")
    assert(Snapshots.read(spark, loc).count() == 989L)
    // and compaction still folds DVs back to the native pushdown scan
    Snapshots.commitCompaction(spark, loc)
    assert(spark.sql("SELECT count(*) AS n FROM sqldml.t_dv").as[Long]
      .collect().head == 989L)
  }

  test("range DELETE drops covered files as PURE metadata — ghost-file proof") {
    import spark.implicits._
    val loc = freshTable("t_retention")
    // three disjoint id slices, one file each — the time-sliced arrival
    // pattern retention exploits
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.commitAppend((101L to 200L).map(i => (i, s"b$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.commitAppend((201L to 300L).map(i => (i, s"c$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    def vf(v: Long) = Snapshots.version(spark, loc, v).files
    val f1 = vf(1L).head
    val f2 = (vf(2L).toSet -- vf(1L).toSet).head
    val f3 = (vf(3L).toSet -- vf(2L).toSet).head
    // make the fully-covered file a GHOST: if classification is truly
    // metadata-only the DELETE never opens it — the generic CoW path
    // (which scans every candidate) would throw FileNotFound here
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(f1), false)
    val mtimeBefore = dataFiles(loc)
    spark.sql("DELETE FROM sqldml.t_retention WHERE id <= 150")
    val after = vf(4L).map(f => new Path(f).toUri.getPath).toSet
    def up(f: String) = new Path(f).toUri.getPath
    assert(!after.contains(up(f1)), "fully-covered file must drop")
    assert(!after.contains(up(f2)), "the straddler must be replaced")
    assert(after.contains(up(f3)), "fully-outside file must carry")
    // the carried file is byte-identical (mtime pin)
    assert(dataFiles(loc).get(f3) == mtimeBefore.get(f3),
      "retention rewrote a fully-outside file")
    assert(spark.sql("SELECT id FROM sqldml.t_retention").as[Long]
      .collect().sorted.toSeq == (151L to 300L))
    // exactly ONE rewrite product: the straddler, nothing else
    assert((after -- vf(3L).map(up).toSet).size == 1,
      s"more than the straddler was rewritten: $after")
  }

  test("range DELETE on a DV-bearing table: carried vectors filter to live files") {
    import spark.implicits._
    val loc = freshTable("t_ret_dv")
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.commitAppend((201L to 300L).map(i => (i, s"c$i")).toDF("id", "v")
      .coalesce(1), loc)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    // one DV with entries in BOTH files: id=5 (file about to drop) and
    // id=250 (file about to carry)
    Snapshots.commitDeleteMoR(spark, loc, col("id").isin(5L, 250L))
    spark.sql("DELETE FROM sqldml.t_ret_dv WHERE id < 150")
    val v = Snapshots.latestVersion(spark, loc)
    val dvs = Snapshots.version(spark, loc, v).dvs
    assert(dvs.nonEmpty, "the carried file's vector must survive")
    val live = Snapshots.version(spark, loc, v).files
      .map(f => new Path(f).toUri.getPath).toSet
    spark.read.parquet(dvs: _*).select("file").distinct()
      .as[String].collect().foreach(f =>
        assert(live.contains(new Path(f).toUri.getPath),
          s"carried DV entry names a dead file: $f"))
    assert(spark.sql("SELECT id FROM sqldml.t_ret_dv").as[Long]
      .collect().sorted.toSeq == (201L to 300L).filterNot(_ == 250L))
  }

  test("range DELETE under a bucket layout: routed rewrite, layout survives") {
    import spark.implicits._
    val loc = freshTable("t_ret_bkt")
    spark.sql("""CREATE TABLE sqldml.t_ret_bkt (id BIGINT, ts BIGINT, v STRING)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    // two ts epochs; ids hash across all buckets in both — retention on
    // ts is uncorrelated with the layout key, the realistic shape
    (1L to 200L).map(i => (i, 100L, s"old$i")).toDF("id", "ts", "v")
      .createOrReplaceTempView("ret_old")
    (201L to 400L).map(i => (i, 200L + i % 50L, s"new$i")).toDF("id", "ts", "v")
      .createOrReplaceTempView("ret_new")
    spark.sql("INSERT INTO sqldml.t_ret_bkt SELECT * FROM ret_old")
    spark.sql("INSERT INTO sqldml.t_ret_bkt SELECT * FROM ret_new")
    Snapshots.setAutoStats(spark, loc, Seq("ts"))
    // epoch-1 files are FULLY covered: they drop as metadata and the
    // remaining (all routed) files keep the layout — zero rewrites here
    val before = dataFiles(loc)
    spark.sql("DELETE FROM sqldml.t_ret_bkt WHERE ts < 150")
    val v = Snapshots.latestVersion(spark, loc)
    assert(Snapshots.version(spark, loc, v).layout.contains("bucket,4,id"),
      "retention must not cost the table its layout")
    val files = Snapshots.version(spark, loc, v).files
    assert(files.forall(f => graft.ops.BucketLayout.bucketOfPath(f).isDefined))
    // pure metadata: every surviving file is byte-identical
    files.foreach(f => assert(dataFiles(loc).get(f) == before.get(f),
      s"fully-classified retention rewrote $f"))
    assert(spark.sql("SELECT id FROM sqldml.t_ret_bkt").as[Long]
      .collect().sorted.toSeq == (201L to 400L))
    // and a cutoff INSIDE epoch 2's per-file ranges rewrites ROUTED
    // (every bucket file straddles ts=220) — the layout still carries
    spark.sql("DELETE FROM sqldml.t_ret_bkt WHERE ts < 220")
    val v2 = Snapshots.latestVersion(spark, loc)
    assert(Snapshots.version(spark, loc, v2).layout.contains("bucket,4,id"),
      "routed straddler rewrite must keep the layout")
    assert(Snapshots.version(spark, loc, v2).files
      .forall(f => graft.ops.BucketLayout.bucketOfPath(f).isDefined))
    assert(spark.sql("SELECT id FROM sqldml.t_ret_bkt").as[Long]
      .collect().sorted.toSeq
      == (201L to 400L).filter(i => 200L + i % 50L >= 220L))
  }

  test("a concurrent commit between scan and publish fails the statement, not the data") {
    import spark.implicits._
    val loc = freshTable("t_conflict")
    Snapshots.commitAppend(Seq((1L, 1L)).toDF("id", "x"), loc)
    // a row-level rewrite derived from v1 must refuse to publish once a
    // concurrent commit has moved the table to v2 — first-committer-wins,
    // never silently dropping the interleaved rows (write skew)
    Snapshots.commitAppend(Seq((50L, 50L)).toDF("id", "x"), loc)
    intercept[java.util.ConcurrentModificationException](
      Snapshots.publishReplaceExact(spark, loc, expectedPrev = 1L, Nil))
    assert(Snapshots.read(spark, loc).filter(col("id") === 50L).count() == 1)
    assert(Snapshots.latestVersion(spark, loc) == 2L)
  }
}

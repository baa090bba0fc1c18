package graft.ops

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** Merge-on-read deletes (`Snapshots.commitDeleteMoR`): a delete commits
  * a (file, row-index) DELETE VECTOR sidecar and rewrites NO data file;
  * readers subtract it with an anti-join. The suite pins the commit-time
  * zero-rewrite contract, read/diff/changeFeed correctness through DVs,
  * the no-double-count rule for stacked DVs, DV-aware copy-on-write
  * interplay (no resurrection), compaction folding DVs back into data
  * files, and expire's DV liveness rule.
  */
class SnapshotDvSpec extends SparkTestBase {

  private def wipe(loc: String): Unit = {
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
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

  private def manifestText(loc: String, v: Long): Seq[String] = {
    val p = new Path(f"$loc/_manifests/v$v%05d.txt")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  test("MoR delete rewrites ZERO data files; reads and history are exact") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_basic"
    wipe(loc)
    Snapshots.commitAppend(
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((10L, "drop"), (11L, "keep")).toDF("id", "v"), loc)
    val before = dataFiles(loc)
    val v3 = Snapshots.commitDeleteMoR(spark, loc, col("v") === "drop")
    assert(v3 == 3L)
    // the whole point: every pre-existing data file is byte-identical and
    // still named by the new manifest — only a DV sidecar was added
    val after = dataFiles(loc)
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "merge-on-read delete must not rewrite any data file")
    assert(manifestText(loc, 3).exists(_.startsWith("#dv=")),
      "v3 must reference a delete vector")
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 11L))
    // history pinned: v2 still shows the deleted rows
    assert(Snapshots.read(spark, loc, 2).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("stacked MoR deletes never double-count; NULL-predicate rows survive") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_stack"
    wipe(loc)
    Snapshots.commitAppend(
      Seq((1L, Some("drop")), (2L, None), (3L, Some("x"))).toDF("id", "v"), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("v") === "drop")
    // a second delete whose predicate ALSO matches the already-deleted row
    // must record only the fresh victim (change feed integrity)
    Snapshots.commitDeleteMoR(spark, loc, col("v").isin("drop", "x"))
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect().toSeq
      == Seq(2L), "NULL-predicate row must survive; both matches deleted")
    val feed = Snapshots.changeFeed(spark, loc, 0)
      .select("change", "_commit_version", "id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(feed == Seq(
      ("delete", 2L, 1L), ("delete", 3L, 3L),
      ("insert", 1L, 1L), ("insert", 1L, 2L), ("insert", 1L, 3L)),
      s"per-version delete attribution broken: $feed")
  }

  test("a no-match MoR delete/update publishes a carry-only commit, never an empty DV") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_noop"
    wipe(loc)
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), loc)
    // candidates are non-empty (no pruneBy → all files scanned) but no row
    // matches: the commit must carry files with NO #dv= line — an empty
    // vector file would flip SQL reads onto the DV scan and fail-fast a
    // tailing stream on a pure no-op
    val v2 = Snapshots.commitDeleteMoR(spark, loc, col("v") === "nope")
    assert(v2 == 2L)
    assert(!manifestText(loc, 2).exists(_.startsWith("#dv=")),
      "no-match MoR delete must not commit a delete vector")
    val v3 = Snapshots.commitUpdateMoR(spark, loc, col("v") === "nope",
      Map("v" -> lit("x")))
    assert(!manifestText(loc, 3).exists(_.startsWith("#dv=")),
      "no-match MoR update must not commit a delete vector")
    assert(v3 == 3L)
    // merge with no matching key: pure insert commit, no vector
    Snapshots.commitMergeMoR(spark, loc, Seq((9L, "z")).toDF("id", "v"), "id")
    assert(!manifestText(loc, 4).exists(_.startsWith("#dv=")),
      "no-match MoR merge must not commit a delete vector")
    assert(Snapshots.read(spark, loc).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 9L))
  }

  test("diff across a MoR delete reports exactly the vector's rows as deletes") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_diff"
    wipe(loc)
    Snapshots.commitAppend((1L to 1000L).toDF("id"), loc)
    val v1Files = dataFiles(loc).keySet
    Snapshots.commitDeleteMoR(spark, loc, col("id").between(10, 12))
    val d = Snapshots.diff(spark, loc, 1, 2)
    assert(d.filter(col("change") === "delete").select("id").as[Long]
      .collect().sorted.toSeq == Seq(10L, 11L, 12L))
    assert(d.filter(col("change") === "insert").count() == 0)
    // and an append on top: the append-only step keeps its fast path
    Snapshots.commitAppend(Seq(5000L).toDF("id"), loc)
    val feed = Snapshots.changeFeed(spark, loc, 1)
    assert(feed.filter(col("change") === "insert").select("id").as[Long]
      .collect().toSeq == Seq(5000L))
    assert(feed.filter(col("change") === "delete").count() == 3)
  }

  test("copy-on-write delete after a MoR delete does not resurrect DV'd rows") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_cow"
    wipe(loc)
    Snapshots.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") === 2L)
    // the CoW rewrite of the (affected) file must read THROUGH the DV:
    // row 2 stays dead even though its file is rewritten
    Snapshots.commitDelete(spark, loc, col("id") === 3L)
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect().toSeq
      == Seq(1L))
    // same for merge: upsert against a DV'd key inserts, never duplicates
    Snapshots.commitMerge(spark, loc, Seq((2L, "B2")).toDF("id", "v"), "id")
    assert(Snapshots.read(spark, loc).as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "B2")))
  }

  test("SQL reads of a DV version keep pushdown, pruning, and file skipping") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_pushdown"
    wipe(loc)
    spark.conf.set("spark.sql.catalog.dvsql",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvsql.root", "/tmp/graft-test")
    // four single-file commits with disjoint id ranges, stats attached,
    // then a MoR delete inside the second file's range
    (0 until 4).foreach { i =>
      Snapshots.commitAppend(
        (i * 100L + 1 to i * 100L + 100).map(x => (x, s"v$x"))
          .toDF("id", "v").coalesce(1), loc)
    }
    Snapshots.attachStats(spark, loc, 4L, Seq("id"))
    Snapshots.commitDeleteMoR(spark, loc, col("id").between(150, 160))
    Snapshots.attachStats(spark, loc, 5L, Seq("id")) // pure inheritance
    // the filtered read subtracts the vector even while the pushed
    // predicate skips records/row groups (row-index keyed, not
    // order-counted) and the untouched files are zone-map skipped
    val df = spark.sql(
      "SELECT id FROM dvsql.dv_pushdown WHERE id BETWEEN 120 AND 180")
    assert(df.as[Long].collect().sorted.toSeq
      == ((120L to 149L) ++ (161L to 180L)))
    // one partition per planned file: the sidecar kept exactly one
    assert(df.rdd.getNumPartitions == 1,
      s"zone maps should leave 1 of 4 files, planned ${df.rdd.getNumPartitions}")
    // column pruning reaches the reader: a one-column projection of a
    // two-column table still subtracts correctly
    assert(spark.sql("SELECT v FROM dvsql.dv_pushdown WHERE id = 155").count() == 0)
    assert(spark.sql("SELECT count(*) AS n FROM dvsql.dv_pushdown").as[Long]
      .collect().head == 389L)
  }

  test("group-granular SQL UPDATE on a DV version carries kept files WITH their vectors") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_groups"
    wipe(loc)
    spark.conf.set("spark.sql.catalog.dvsql",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvsql.root", "/tmp/graft-test")
    Snapshots.commitAppend((1L to 100L).toDF("id").coalesce(1), loc)
    Snapshots.commitAppend((1000L to 1100L).toDF("id").coalesce(1), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") === 5L) // vector on file A
    val before = dataFiles(loc)
    // the UPDATE matches only file B: A must be carried BY REFERENCE and
    // its delete vector must survive the commit — id=5 stays dead
    spark.sql("UPDATE dvsql.dv_groups SET id = id + 1 WHERE id >= 1000")
    val after = dataFiles(loc)
    val carried = before.count { case (f, m) => after.get(f).contains(m) }
    assert(carried >= 1, "group-granular update must carry the unmatched file")
    assert(manifestText(loc, 4).exists(_.startsWith("#dv=")),
      "carried files must keep their delete vectors")
    val ids = Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
    assert(ids == ((1L to 4L) ++ (6L to 100L) ++ (1001L to 1101L)),
      s"DV lost or update wrong: ${ids.take(10)}...")
    assert(spark.sql("SELECT count(*) AS n FROM dvsql.dv_groups")
      .as[Long].collect().head == 200L)
  }

  test("compaction folds delete vectors back into data files") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_compact"
    wipe(loc)
    Snapshots.commitAppend((1L to 4000L).toDF("id").repartition(8), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") <= 1000L)
    val v = Snapshots.commitCompaction(spark, loc)
    // the rewritten version needs no DV: the fold happened at write time
    assert(!manifestText(loc, v).exists(_.startsWith("#dv=")),
      "compaction must fold DVs, not carry them")
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == (1001L to 4000L))
  }

  test("a small DV table reports its size, so the planner can broadcast it") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_stats"
    wipe(loc)
    spark.conf.set("spark.sql.catalog.dvsql",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvsql.root", "/tmp/graft-test")
    Snapshots.commitAppend((1L to 100L).toDF("id"), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") === 50L)
    // the DV scan reports Σ file bytes (SupportsReportStatistics); a
    // tiny merge-on-read dim under the broadcast threshold must plan a
    // broadcast join STATICALLY — an unknown-size custom scan would
    // default to Long.Max and force a sort-merge join
    val joined = spark.range(1, 200000).toDF("id")
      .join(spark.sql("SELECT id FROM dvsql.dv_stats"), "id")
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 99L)
  }

  test("partial compaction bin-packs only small files; kept files carry, DVs split correctly") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_partial"
    wipe(loc)
    // one WELL-SIZED file (stays) + many tiny files (fold)
    Snapshots.commitAppend((1L to 50000L).map(i => (i, s"payload-$i"))
      .toDF("id", "v").coalesce(1), loc)
    (0 until 6).foreach { i =>
      Snapshots.commitAppend(
        Seq((100000L + i, s"t$i")).toDF("id", "v").coalesce(1), loc)
    }
    // a vector on the BIG file (kept → carried) and on a SMALL file
    // (rewritten → folded)
    Snapshots.commitDeleteMoR(spark, loc, col("id").isin(5L, 100001L))
    val before = dataFiles(loc)
    val bigFile = Snapshots.read(spark, loc, 1).inputFiles.head
    val v = Snapshots.commitCompactionPartial(spark, loc,
      smallerThanBytes = 64 * 1024)
    // the big file is named by the new manifest byte-identical
    val after = dataFiles(loc)
    assert(after.get(bigFile) == before.get(bigFile),
      "partial compaction must not rewrite well-sized files")
    assert(Snapshots.version(spark, loc, v).files
      .map(f => new Path(f).toUri.getPath)
      .contains(new Path(bigFile).toUri.getPath))
    // fewer files, same rows: both deletes still effective (one via the
    // carried vector, one folded into the rewrite)
    val files = Snapshots.version(spark, loc, v).files
    assert(files.size < before.size, s"no bin-packing happened: ${files.size}")
    assert(manifestText(loc, v).exists(_.startsWith("#dv=")),
      "the kept file's vector must be carried")
    val ids = Snapshots.read(spark, loc).select("id").as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(100001L))
    assert(ids.size == 50000 + 6 - 2)
    // a second pass has nothing under the threshold worth packing beyond
    // the one file it just made → NO new commit
    val v2 = Snapshots.commitCompactionPartial(spark, loc,
      smallerThanBytes = 64 * 1024)
    assert(v2 == v, "a no-gain pass must not publish a version")
  }

  test("partial fold carries only DV entries naming live files") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_fold_filter"
    wipe(loc)
    // one WELL-SIZED file (kept) + tiny files (folded)
    Snapshots.commitAppend((1L to 50000L).map(i => (i, s"payload-$i"))
      .toDF("id", "v").coalesce(1), loc)
    (0 until 4).foreach { i =>
      Snapshots.commitAppend(
        Seq((100000L + i, s"t$i")).toDF("id", "v").coalesce(1), loc)
    }
    // ONE sidecar holding entries for BOTH a kept file (id=5 lives in the
    // big file) and folded files (id=100001 lives in a tiny one)
    Snapshots.commitDeleteMoR(spark, loc, col("id").isin(5L, 100001L))
    val v = Snapshots.commitCompactionPartial(spark, loc,
      smallerThanBytes = 64 * 1024)
    val dvs = manifestText(loc, v).filter(_.startsWith("#dv="))
      .map(_.stripPrefix("#dv="))
    assert(dvs.nonEmpty, "the kept file's vector must be carried")
    // the carried entry set names ONLY files the new manifest carries —
    // entries for just-folded files are dropped at publish, so DV scans'
    // broadcast builds never re-read dead weight
    val live = Snapshots.version(spark, loc, v).files
      .map(f => new Path(f).toUri.getPath).toSet
    val named = spark.read.parquet(dvs: _*).select("file").distinct()
      .as[String].collect()
    assert(named.nonEmpty)
    named.foreach(f => assert(live.contains(new Path(f).toUri.getPath),
      s"carried DV entry names a dead file: $f"))
    // rows stay exact: one delete via the carried vector, one folded
    val ids = Snapshots.read(spark, loc).select("id").as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(100001L))
    assert(ids.size == 50000 + 4 - 2)
    // a vector naming ONLY folded files vanishes entirely
    val loc2 = "/tmp/graft-test/dv_fold_filter2"
    wipe(loc2)
    Snapshots.commitAppend((1L to 50000L).map(i => (i, s"payload-$i"))
      .toDF("id", "v").coalesce(1), loc2)
    (0 until 4).foreach { i =>
      Snapshots.commitAppend(
        Seq((100000L + i, s"t$i")).toDF("id", "v").coalesce(1), loc2)
    }
    Snapshots.commitDeleteMoR(spark, loc2, col("id") === 100001L)
    val v2 = Snapshots.commitCompactionPartial(spark, loc2,
      smallerThanBytes = 64 * 1024)
    assert(!manifestText(loc2, v2).exists(_.startsWith("#dv=")),
      "a fully-folded vector must not be carried")
    assert(Snapshots.read(spark, loc2).count() == 50000 + 4 - 1)
  }

  test("expire keeps DV files of retained versions, collects dead ones") {
    import spark.implicits._
    val loc = "/tmp/graft-test/dv_expire"
    wipe(loc)
    Snapshots.commitAppend((1L to 100L).toDF("id"), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") <= 10L)
    Snapshots.commitAppend(Seq(500L).toDF("id"), loc) // carries the DV
    Snapshots.expire(spark, loc, retainLast = 1)
    // the DV is still referenced by the surviving manifest — reads stay
    // correct after GC
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == ((11L to 100L) :+ 500L))
    // a replace (drops all DV refs) then expire: the DV file is now dead
    val dvFiles = manifestText(loc, 3).filter(_.startsWith("#dv="))
      .map(_.stripPrefix("#dv="))
    assert(dvFiles.nonEmpty)
    Snapshots.commitReplace(Seq(7L).toDF("id"), loc)
    Snapshots.expire(spark, loc, retainLast = 1)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    dvFiles.foreach(f => assert(!fs.exists(new Path(f)),
      s"dead DV file survived expire: $f"))
  }
}

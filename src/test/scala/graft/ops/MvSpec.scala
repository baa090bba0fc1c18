package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Catalog-level materialized views ([[graft.ops.Mv]]): incremental
  * maintenance from the base's change feed, bit-identical to a full
  * recompute after ANY mix of appends, deletes, and replaces — plus the
  * SUM-over-NULLs distinction only the per-column non-null count can
  * preserve, the crash-safe cursor (`#mvbase=` rides the MV's own
  * manifest), and the SQL CALL surface. */
class MvSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/mv"

  private def fresh(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.mvcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.mvcat.root", root)
    loc
  }

  private def docs(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "k", "v")
  }

  private def recompute(baseLoc: String): Seq[(String, Long, Any, Long)] =
    Snapshots.read(spark, baseLoc).groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("s_v"),
        count(col("v")).as("c_v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def mvContent(mvLoc: String): Seq[(String, Long, Any, Long)] =
    Snapshots.read(spark, mvLoc)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("incremental refresh == full recompute across appends, deletes, updates") {
    val base = fresh("base1"); val mv = fresh("mv1")
    Snapshots.commitAppend(docs(Seq((1L, "a", 10L), (2L, "a", 20L),
      (3L, "b", 5L))), base)
    val c = Mv.create(spark, mv, base, Seq("k"), Seq("v"))
    assert(c.mvVersion == 1L && c.toBase == 1L)
    assert(mvContent(mv) == recompute(base))
    // append (two commits — the feed spans multiple versions)
    Snapshots.commitAppend(docs(Seq((4L, "b", 7L), (5L, "c", 1L))), base)
    Snapshots.commitAppend(docs(Seq((6L, "c", 2L))), base)
    val r1 = Mv.refresh(spark, mv)
    assert(r1.fromBase == 1L && r1.toBase == 3L && r1.groupsTouched == 2L)
    assert(mvContent(mv) == recompute(base))
    // row-level delete: group 'a' shrinks, group 'b' survives
    Snapshots.commitDelete(spark, base, col("v") >= 10L)
    val r2 = Mv.refresh(spark, mv)
    assert(r2.toBase == 4L)
    assert(mvContent(mv) == recompute(base))
    // update = delete+insert in the feed
    Snapshots.commitUpdate(spark, base, col("k") === "c",
      Map("v" -> lit(100L)))
    Mv.refresh(spark, mv)
    assert(mvContent(mv) == recompute(base))
    // a group deleted to zero rows vanishes
    Snapshots.commitDelete(spark, base, col("k") === "b")
    Mv.refresh(spark, mv)
    assert(mvContent(mv).map(_._1) == Seq("a", "c").filter(k =>
      recompute(base).map(_._1).contains(k)))
    assert(mvContent(mv) == recompute(base))
  }

  test("SUM over a group left all-NULL reports NULL, not 0") {
    val base = fresh("base2"); val mv = fresh("mv2")
    import spark.implicits._
    Snapshots.commitAppend(Seq((1L, "g", Some(5L)), (2L, "g", None))
      .toDF("id", "k", "v"), base)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"))
    Snapshots.commitDelete(spark, base, col("id") === 1L)
    Mv.refresh(spark, mv)
    val row = Snapshots.read(spark, mv).collect().head
    assert(row.getLong(1) == 1L, "one row survives")
    assert(row.isNullAt(2), s"SUM of {NULL} must be NULL, got $row")
    assert(row.getLong(3) == 0L, "zero non-null values")
    assert(mvContent(mv) == recompute(base))
  }

  test("no-op refresh publishes nothing; cancelling churn advances the cursor by reference") {
    val base = fresh("base3"); val mv = fresh("mv3")
    Snapshots.commitAppend(docs(Seq((1L, "a", 1L))), base)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"))
    val r0 = Mv.refresh(spark, mv)
    assert(r0.mvVersion == 1L && r0.groupsTouched == 0L,
      s"cursor at tip must be a no-op: $r0")
    assert(Snapshots.latestVersion(spark, mv) == 1L)
    // insert then delete the same row: the delta cancels group-by-group
    Snapshots.commitAppend(docs(Seq((9L, "a", 4L))), base)
    Snapshots.commitDelete(spark, base, col("id") === 9L)
    val files1 = Snapshots.versionFiles(spark, mv, 1L).map(Snapshots.normPath)
    val r = Mv.refresh(spark, mv)
    assert(r.mvVersion == 2L && r.groupsTouched == 0L)
    assert(Mv.baseVersionOfTip(spark, mv).contains(3L))
    assert(Snapshots.versionFiles(spark, mv, 2L).map(Snapshots.normPath)
      == files1, "cursor-only advance must carry files by reference")
    assert(mvContent(mv) == recompute(base))
  }

  test("definition and cursor guards: non-integral sums, collisions, rollback re-anchor") {
    val base = fresh("base4"); val mv = fresh("mv4")
    import spark.implicits._
    Snapshots.commitAppend(Seq((1L, "a", 1.5)).toDF("id", "k", "v"), base)
    val e1 = intercept[IllegalArgumentException](
      Mv.create(spark, mv, base, Seq("k"), Seq("v")))
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException](
      Mv.create(spark, mv, base, Seq("k"), Seq("nope")))
    assert(e2.getMessage.contains("not in the base"))
    val baseN = fresh("base4n") // a base whose KEY is literally named n
    Snapshots.commitAppend(Seq((1L, "a", 1L)).toDF("n", "k", "v"), baseN)
    val e3 = intercept[IllegalArgumentException](
      Mv.create(spark, mv, baseN, Seq("n"), Seq("v")))
    assert(e3.getMessage.contains("collision"))
    intercept[IllegalArgumentException](Mv.refresh(spark, mv))
    // a base ROLLBACK publishes a new version with old content, so the
    // feed still reaches it incrementally — and stays recompute-exact
    Snapshots.commitAppend(Seq((1L, "a", 1L)).toDF("id", "k", "v"),
      s"$root/base4b")
    Snapshots.commitAppend(Seq((2L, "b", 2L)).toDF("id", "k", "v"),
      s"$root/base4b")
    Mv.create(spark, mv, s"$root/base4b", Seq("k"), Seq("v"))
    Snapshots.rollback(spark, s"$root/base4b", 1L) // b vanishes (v3)
    Mv.refresh(spark, mv)
    assert(mvContent(mv) == recompute(s"$root/base4b"))
    // an MV-side rollback re-publishes old content WITHOUT the #mvbase
    // header: incremental refresh refuses, full = true re-anchors
    Snapshots.commitAppend(Seq((3L, "c", 9L)).toDF("id", "k", "v"),
      s"$root/base4b")
    Mv.refresh(spark, mv) // MV tip advances past v1
    val mvTip = Snapshots.latestVersion(spark, mv)
    Snapshots.rollback(spark, mv, 1L) // header shed at version mvTip+1
    assert(Snapshots.latestVersion(spark, mv) == mvTip + 1)
    assert(Mv.baseVersionOfTip(spark, mv).isEmpty)
    val e4 = intercept[IllegalStateException](Mv.refresh(spark, mv))
    assert(e4.getMessage.contains("full => true"))
    val rf = Mv.refresh(spark, mv, full = true)
    assert(rf.toBase == Snapshots.latestVersion(spark, s"$root/base4b"))
    assert(mvContent(mv) == recompute(s"$root/base4b"))
  }

  test("SQL CALL surface: create_mv / refresh_mv; the MV reads as a catalog table") {
    fresh("base5"); fresh("mv5"); fresh("mv5c")
    import spark.implicits._
    Snapshots.commitAppend(Seq((1L, "x", 3L), (2L, "y", 4L))
      .toDF("id", "k", "v"), s"$root/base5")
    val c = spark.sql(
      "CALL mvcat.system.create_mv('mv5', 'base5', 'k', 'v')")
      .as[(Long, Long)].collect().head
    assert(c == ((1L, 1L)))
    Snapshots.commitAppend(Seq((3L, "x", 5L)).toDF("id", "k", "v"),
      s"$root/base5")
    val r = spark.sql("CALL mvcat.system.refresh_mv('mv5')")
      .as[(Long, Long, Long, Long)].collect().head
    assert(r == ((2L, 1L, 2L, 1L)), s"refresh result $r")
    val rows = spark.sql(
      "SELECT k, n, s_v, c_v FROM mvcat.mv5 ORDER BY k")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(("x", 2L, 8L, 2L), ("y", 1L, 4L, 1L)))
    // count-only MV (no sums)
    spark.sql("CALL mvcat.system.create_mv('mv5c', 'base5', 'k')")
    assert(spark.sql("SELECT * FROM mvcat.mv5c").columns.toSeq
      == Seq("k", "n"))
    // <base>.mvs observability: per-MV staleness as a metadata table
    val meta = spark.sql(
      """SELECT mv_location, fresh, versions_behind
        |FROM mvcat.base5.mvs ORDER BY mv_location""".stripMargin)
      .as[(String, Boolean, Long)].collect().toSeq
    assert(meta == Seq((s"$root/mv5", true, 0L), (s"$root/mv5c", true, 0L)),
      s"mvs meta: $meta")
    Snapshots.commitAppend(Seq((4L, "z", 1L)).toDF("id", "k", "v"),
      s"$root/base5")
    val stale = spark.sql("SELECT fresh, versions_behind FROM mvcat.base5.mvs")
      .as[(Boolean, Long)].collect().toSeq
    assert(stale == Seq((false, 1L), (false, 1L)), s"stale meta: $stale")
  }

  test("a bucketed MV rewrites only the touched buckets; the rest carry by reference") {
    val base = fresh("base7"); val mv = fresh("mv7")
    import spark.implicits._
    Snapshots.commitAppend((1L to 400L).map(i => (i, s"k${i % 40}", i % 7))
      .toDF("id", "k", "v"), base)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"), buckets = 8)
    assert(Snapshots.versionLayout(spark, mv, 1L).contains("bucket,8,k"))
    assert(mvContent(mv) == recompute(base))
    val files1 = Snapshots.versionFiles(spark, mv, 1L)
      .map(Snapshots.normPath).toSet
    // a delta touching ONE key must replace exactly that key's bucket
    Snapshots.commitAppend(Seq((401L, "k1", 3L)).toDF("id", "k", "v"), base)
    val r = Mv.refresh(spark, mv)
    assert(r.groupsTouched == 1L)
    val files2 = Snapshots.versionFiles(spark, mv, 2L)
      .map(Snapshots.normPath).toSet
    val hot = spark.range(1).select(
      BucketLayout.bucketId(lit("k1"), 8)).head().getInt(0)
    val replaced = files1 -- files2
    val added = files2 -- files1
    assert((files1 & files2).nonEmpty,
      "untouched buckets must carry by reference")
    assert(replaced.forall(_.contains(s"__graft_bucket=$hot")) &&
      added.forall(_.contains(s"__graft_bucket=$hot")),
      s"only bucket $hot may change: -$replaced +$added")
    assert(mvContent(mv) == recompute(base))
    // the layout header survives refresh — SPJ plans keep working
    assert(Snapshots.versionLayout(spark, mv, 2L).contains("bucket,8,k"))
    // deletes fold through the same path: leave k1 the only key of its
    // bucket, then empty its group — the emptied bucket keeps no file
    val mates = spark.range(40).select(concat(lit("k"), col("id")).as("k"))
      .filter(BucketLayout.bucketId(col("k"), 8) === hot && col("k") =!= "k1")
      .as[String].collect().toSeq
    if (mates.nonEmpty) {
      Snapshots.commitDelete(spark, base, col("k").isin(mates: _*))
      Mv.refresh(spark, mv)
    }
    Snapshots.commitDelete(spark, base, col("k") === "k1")
    Mv.refresh(spark, mv)
    assert(mvContent(mv) == recompute(base))
    assert(!mvContent(mv).exists(_._1 == "k1"))
    val tipFiles = Snapshots.versionFiles(spark, mv,
      Snapshots.latestVersion(spark, mv))
    assert(tipFiles.nonEmpty && !tipFiles.exists(_.contains(s"__graft_bucket=$hot/")),
      s"emptied bucket $hot must leave no file: $tipFiles")
  }

  test("rewind + refresh cadence: every call equals the recompute, base untouched") {
    val base = fresh("base11"); val mv = fresh("mv11")
    import spark.implicits._
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"k${i % 40}", i % 7))
      .toDF("id", "k", "v")
    // base v1, the MV at cursor 1, then v2 deletes and v3 appends
    Snapshots.commitAppend(rows(1L to 400L), base)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"), buckets = 8)
    Snapshots.commitDelete(spark, base, col("id") % 7 === 0L)
    Snapshots.commitAppend(rows(401L to 440L), base)
    val baseManifests = Snapshots.manifests(spark, base).map(_._1)
    var foreign = -1L
    (1 to 3).foreach { call =>
      if (call == 2) {
        // a foreign append to the MV between calls: garbage counts
        foreign = Snapshots.commitAppend(
          Seq(("k1", 999999L, -1L, 1L)).toDF("k", "n", "s_v", "c_v"), mv)
        assert(mvContent(mv).exists(_._2 == 999999L))
      }
      Mv.rewind(spark, mv, 1L)
      assert(Mv.baseVersionOfTip(spark, mv).contains(1L))
      assert(Snapshots.versionLayout(spark, mv, -1L).contains("bucket,8,k"))
      val r = Mv.refresh(spark, mv)
      assert(r.fromBase == 1L && r.toBase == 3L && r.groupsTouched > 0L)
      assert(mvContent(mv) == recompute(base), s"call $call")
    }
    assert(Snapshots.manifests(spark, base).map(_._1) == baseManifests,
      "rewind and refresh never commit to the base")
    val e = intercept[IllegalArgumentException](Mv.rewind(spark, mv, foreign))
    assert(e.getMessage.contains("#mvbase"))
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: the standard SQL spelling") {
    fresh("base8"); fresh("mv8")
    import spark.implicits._
    Snapshots.commitAppend(Seq((1L, "x", 3L), (2L, "y", 4L), (3L, "x", 5L))
      .toDF("id", "k", "v"), s"$root/base8")
    val c = spark.sql(
      """CREATE MATERIALIZED VIEW mvcat.mv8 AS
        |SELECT k, count(*), sum(v), count(v) FROM mvcat.base8
        |GROUP BY k""".stripMargin).as[(Long, Long)].collect().head
    assert(c == ((1L, 1L)), s"create returned $c")
    assert(spark.sql("SELECT k, n, s_v, c_v FROM mvcat.mv8 ORDER BY k")
      .as[(String, Long, Long, Long)].collect().toSeq
      == Seq(("x", 2L, 8L, 2L), ("y", 1L, 4L, 1L)))
    // and it serves the user's aggregate transparently
    assert(spark.sql(
      "SELECT k, sum(v) AS sv FROM mvcat.base8 GROUP BY k")
      .queryExecution.optimizedPlan.toString.contains("mv:"))
    Snapshots.commitAppend(Seq((4L, "y", 6L)).toDF("id", "k", "v"),
      s"$root/base8")
    val r = spark.sql("REFRESH MATERIALIZED VIEW mvcat.mv8")
      .as[(Long, Long, Long, Long, Boolean)].collect().head
    assert(r == ((2L, 1L, 2L, 1L, true)), s"refresh returned $r")
    val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvcat.mv8")
      .as[(Long, Long, Long, Long, Boolean)].collect().head
    assert(!r2._5, "no-op refresh must report refreshed = false")
    assert(mvContent(s"$root/mv8") == recompute(s"$root/base8"))
    // unsupported shapes refuse at CREATE with the general tool named
    Seq(
      "CREATE MATERIALIZED VIEW mvcat.mv8b AS SELECT k, max(v) FROM mvcat.base8 GROUP BY k",
      "CREATE MATERIALIZED VIEW mvcat.mv8b AS SELECT k, count(*) FROM mvcat.base8 WHERE v > 3 GROUP BY k",
      "CREATE MATERIALIZED VIEW mvcat.mv8b AS SELECT upper(k), count(*) FROM mvcat.base8 GROUP BY upper(k)",
      "CREATE MATERIALIZED VIEW mvcat.mv8b AS SELECT id FROM mvcat.base8"
    ).foreach { sql =>
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains("create_mv"), s"$sql -> ${e.getMessage}")
    }
    // MATERIALIZED VIEW syntax outside a snapshot catalog still errors
    // through Spark's own parser, not ours
    intercept[Exception](spark.sql(
      "CREATE MATERIALIZED VIEW not_a_catalog_view AS SELECT 1 AS x"))
    // FULL refresh re-anchors through the SQL spelling too
    val rf = spark.sql("REFRESH MATERIALIZED VIEW FULL mvcat.mv8")
      .as[(Long, Long, Long, Long, Boolean)].collect().head
    assert(rf._5 && rf._3 == 2L, s"full refresh returned $rf")
    assert(mvContent(s"$root/mv8") == recompute(s"$root/base8"))
  }

  test("replication ships mv.def with the sibling base re-rooted; the replica refreshes") {
    val base = fresh("base6"); val mv = fresh("mv6")
    Snapshots.commitAppend(docs(Seq((1L, "a", 1L), (2L, "b", 2L))), base)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"))
    val rep = s"$root/replica"
    val p = new Path(rep)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Replicate.replicate(spark, base, s"$rep/base6")
    Replicate.replicate(spark, mv, s"$rep/mv6")
    val d = Mv.readDef(spark, s"$rep/mv6").get
    assert(d.baseLoc == s"$rep/base6", s"re-rooted base: ${d.baseLoc}")
    assert(Mv.baseVersionOfTip(spark, s"$rep/mv6").contains(1L),
      "the #mvbase cursor must survive the manifest rewrite")
    // the replica pair evolves on its own: append + refresh locally
    Snapshots.commitAppend(docs(Seq((3L, "b", 10L))), s"$rep/base6")
    Mv.refresh(spark, s"$rep/mv6")
    assert(mvContent(s"$rep/mv6") == recompute(s"$rep/base6"))
  }
}

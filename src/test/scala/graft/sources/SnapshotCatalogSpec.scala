package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Snapshots

/** SQL time travel through the DSv2 SnapshotCatalog: `VERSION AS OF`
  * resolves pinned manifests, latest reads track new commits, pruning
  * reaches the parquet scan, and DDL is rejected (read-only catalog). */
class SnapshotCatalogSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/snapcat"

  private def wipe(): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.snapcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapcat.root", root)
  }

  test("VERSION AS OF resolves pinned manifests; bare reads track latest") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$root/t")
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), s"$root/t")
    Snapshots.commitReplace(Seq((9L, "z")).toDF("id", "v"), s"$root/t")
    def ids(sql: String) =
      spark.sql(sql).select("id").as[Long].collect().sorted.toSeq
    assert(ids("SELECT id FROM snapcat.t VERSION AS OF 1") == Seq(1L, 2L))
    assert(ids("SELECT id FROM snapcat.t VERSION AS OF 2") == Seq(1L, 2L, 3L))
    assert(ids("SELECT id FROM snapcat.t") == Seq(9L))
    // a new commit is visible to the NEXT bare read without invalidation
    Snapshots.commitAppend(Seq((10L, "y")).toDF("id", "v"), s"$root/t")
    assert(ids("SELECT id FROM snapcat.t") == Seq(9L, 10L))
  }

  test("predicate pushdown and column pruning reach the pinned parquet scan") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      s"$root/pruned")
    val plan = spark.sql("SELECT id FROM snapcat.pruned WHERE id = 7")
      .queryExecution.executedPlan.toString
    // no IsNotNull alongside: the table reports the manifest schema's
    // nullability verbatim (id is non-null here), so the optimizer
    // correctly elides the null check the old all-nullable report forced
    assert(plan.contains("PushedFilters: [EqualTo(id,7)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan)
  }

  test("SQL range predicates skip files through the zone-map sidecar") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/zm"
    // four single-file commits with disjoint id ranges
    (0 until 4).foreach { i =>
      Snapshots.commitAppend(
        (i * 100L + 1 to i * 100L + 100).toDF("id").coalesce(1), loc)
    }
    Snapshots.attachStats(spark, loc, 4L, Seq("id"))
    val df = spark.sql("SELECT id FROM snapcat.zm WHERE id BETWEEN 120 AND 180")
    assert(df.as[Long].collect().sorted.toSeq == (120L to 180L))
    // the planned parquet scan reads EXACTLY the sidecar survivors — the
    // SQL twin of what SnapshotsSpec pins for readPruned
    val scanned = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        (b.scan match {
          case rp: graft.sources.v2.RuntimePrunedScan => rp.delegate
          case s => s
        }) match {
          case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            p.fileIndex.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten.map(f => new Path(f).toUri.getPath).toSet
    val all = Snapshots.version(spark, loc, 4L).files
    val survivors = Snapshots.statFiles(spark, loc, 4L, all, "id", "120", "180")
      .map(f => new Path(f).toUri.getPath).toSet
    assert(scanned == survivors, s"scan planned $scanned, sidecar says $survivors")
    assert(scanned.size == 1 && all.size == 4,
      s"expected 1 of 4 files to survive, got ${scanned.size} of ${all.size}")
    // an all-excluding range plans a zero-file scan and returns no rows
    assert(spark.sql("SELECT id FROM snapcat.zm WHERE id > 4000").count() == 0)
    // one-sided bound: > 310 keeps only the two upper files
    val oneSided = spark.sql("SELECT id FROM snapcat.zm WHERE id > 310")
    assert(oneSided.as[Long].collect().sorted.toSeq == (311L to 400L))
    assert(oneSided.rdd.getNumPartitions == 1,
      "one-sided bound should keep 1 of 4 single-partition files")
    // IN list prunes by its min/max envelope (files 1 and 4 here)
    val inq = spark.sql("SELECT id FROM snapcat.zm WHERE id IN (5, 310)")
    assert(inq.as[Long].collect().sorted.toSeq == Seq(5L, 310L))
    assert(inq.rdd.getNumPartitions <= 4)
    // __graft_file combined with a pushed filter routes through the row
    // scan with the residual filter still applied above it
    val withFile = spark.sql(
      "SELECT id, __graft_file FROM snapcat.zm WHERE id BETWEEN 120 AND 130")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(withFile.map(_._1).toSeq == (120L to 130L))
    assert(withFile.map(_._2).distinct.length == 1,
      "rows of one range-clustered file must share one __graft_file")
    // row-group pushdown still applies BELOW the file skip (wrapper
    // forwards the filters into the narrowed parquet builder)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(id,120)"), plan)
  }

  test("aggregate pushdown forwards through the zone-map wrapper") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend((1L to 1000L).toDF("id"), s"$root/agg")
    // count(*) resolves from parquet footers when the scan builder
    // forwards SupportsPushDownAggregates (opt-in conf, as for any
    // parquet table) — the wrapper must not cost the delegate's
    // metadata-only count
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = spark.sql("SELECT count(*) AS n FROM snapcat.agg")
      assert(df.as[Long].collect().head == 1000L)
      // the scan's output IS the pushed aggregate (footer count), and the
      // executed scan reports it
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    // and min/max over a filtered, zone-map-prunable read stays correct
    Snapshots.attachStats(spark, s"$root/agg", 1L, Seq("id"))
    assert(spark.sql("SELECT max(id) AS m FROM snapcat.agg WHERE id <= 500")
      .as[Long].collect().head == 500L)
  }

  test("missing table / version / unsupported DDL all fail fast") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(Seq(1L).toDF("id"), s"$root/t")
    intercept[Exception](spark.sql("SELECT * FROM snapcat.nope").collect())
    intercept[Exception](
      spark.sql("SELECT * FROM snapcat.t VERSION AS OF 99").collect())
    // destructive/unsupported evolution rejected (rename breaks pinned
    // readers; DROP TABLE itself is supported — SnapshotDdlSpec)
    intercept[Exception](
      spark.sql("ALTER TABLE snapcat.t RENAME COLUMN id TO id2"))
    assert(Snapshots.latestVersion(spark, s"$root/t") == 1L) // untouched
  }

  test("listTables finds exactly the directories with published manifests") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(Seq(1L).toDF("id"), s"$root/t1")
    Snapshots.commitAppend(Seq(2L).toDF("id"), s"$root/t2")
    // a directory without manifests is not a table
    val junk = new Path(s"$root/notatable/data")
    junk.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(junk)
    val names = spark.sql("SHOW TABLES IN snapcat").select("tableName")
      .as[String].collect().sorted.toSeq
    assert(names == Seq("t1", "t2"))
  }
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Snapshots

/** Metadata-only aggregate pushdown through the DSv2 snapshot catalog:
  * a filterless, group-less COUNT(*) / MIN / MAX on sidecar-covered
  * columns plans as a driver-local row (zero tasks, zero file opens —
  * `Snapshots.statAggValues` over the stats sidecar's per-file counts
  * and bounds), while every unprovable shape — filters, uncovered or
  * string columns, missing counts, DV-bearing versions — falls back to
  * the real scan with identical results. */
class SidecarAggSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/sidecaragg"

  private def wipe(): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.aggcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.aggcat.root", root)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.collectFirst { case l: LocalTableScanExec => l }.isDefined &&
      plan.collectFirst { case b: BatchScanExec => b }.isEmpty
  }

  test("count/min/max answer from the sidecar as a local scan") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/t"
    Snapshots.commitAppend(
      (1L to 1000L).map(i => (i, i * 2.5, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays((i % 300).toInt))))
        .toDF("id", "amt", "d").repartition(4), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id", "amt", "d"))
    val df = spark.sql(
      """SELECT count(*) AS n, min(id) AS mn, max(id) AS mx,
        |  min(amt) AS amn, max(amt) AS amx, min(d) AS dmn, max(d) AS dmx
        |FROM aggcat.t""".stripMargin)
    assert(isLocal(df), df.queryExecution.executedPlan.toString)
    val r = df.collect().head
    assert(r.getLong(0) == 1000L && r.getLong(1) == 1L && r.getLong(2) == 1000L)
    assert(r.getDouble(3) == 2.5 && r.getDouble(4) == 2500.0)
    assert(r.getDate(5).toString == "2024-01-01" &&
      r.getDate(6).toString == "2024-10-26")
  }

  test("incremental attach keeps counts correct across appends") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/inc"
    Snapshots.commitAppend((1L to 100L).toDF("id"), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    Snapshots.commitAppend((101L to 150L).toDF("id"), loc)
    Snapshots.attachStats(spark, loc, 2L, Seq("id"))
    val df = spark.sql("SELECT count(*) AS n, max(id) AS mx FROM aggcat.inc")
    assert(isLocal(df), df.queryExecution.executedPlan.toString)
    assert(df.collect().head.toSeq == Seq(150L, 150L))
  }

  test("filters, uncovered columns, and grouping fall back to a real scan") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/fb"
    Snapshots.commitAppend(
      (1L to 100L).map(i => (i, s"s$i", i % 3)).toDF("id", "s", "g"), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM aggcat.fb WHERE id > 40")
    assert(!isLocal(filtered))
    assert(filtered.collect().head.getLong(0) == 60L)
    // `s` is not sidecar-covered (and is a string — never provable)
    val uncovered = spark.sql("SELECT min(s) AS mn FROM aggcat.fb")
    assert(!isLocal(uncovered))
    assert(uncovered.collect().head.getString(0) == "s1")
    val grouped = spark.sql(
      "SELECT g, count(*) AS n FROM aggcat.fb GROUP BY g")
    assert(!isLocal(grouped))
    assert(grouped.collect().map(_.getLong(1)).sum == 100L)
    // count(col) on a COVERED column answers from the sidecar's
    // non-null counts; on an uncovered one it falls back
    val countCov = spark.sql("SELECT count(id) AS n FROM aggcat.fb")
    assert(isLocal(countCov), countCov.queryExecution.executedPlan.toString)
    assert(countCov.collect().head.getLong(0) == 100L)
    val countUnc = spark.sql("SELECT count(s) AS n FROM aggcat.fb")
    assert(!isLocal(countUnc))
    assert(countUnc.collect().head.getLong(0) == 100L)
  }

  test("count(col) subtracts nulls exactly") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/nn"
    Snapshots.commitAppend(
      (1L to 90L).map(i => (i, if (i % 3 == 0) None else Some(i * 10)))
        .toDF("id", "v").repartition(4), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id", "v"))
    val df = spark.sql(
      "SELECT count(*) AS n, count(v) AS nv, count(id) AS ni FROM aggcat.nn")
    assert(isLocal(df), df.queryExecution.executedPlan.toString)
    assert(df.collect().head.toSeq == Seq(90L, 60L, 90L))
  }

  test("DV-bearing versions and count-less sidecars never answer from metadata") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/dv"
    Snapshots.commitAppend((1L to 100L).toDF("id"), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    Snapshots.commitDeleteMoR(spark, loc, col("id") <= 10L)
    Snapshots.attachStats(spark, loc, 2L, Seq("id"))
    val df = spark.sql("SELECT count(*) AS n FROM aggcat.dv")
    assert(!isLocal(df), "physical counts must not serve a DV version")
    assert(df.collect().head.getLong(0) == 90L)
    // strip the count fields back to the pre-count width (path, min,
    // max) -> no provable row count -> no metadata answer
    val loc2 = s"$root/legacy"
    Snapshots.commitAppend((1L to 50L).toDF("id"), loc2)
    Snapshots.attachStats(spark, loc2, 1L, Seq("id"))
    val sp = new Path(s"$loc2/_manifests/v00001.stats.txt")
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = scala.io.Source.fromInputStream(fs.open(sp)).getLines().toSeq
    val stripped = lines.map { l =>
      if (l.startsWith("#")) l else l.split("\t", -1).take(3).mkString("\t")
    }
    val out = fs.create(sp, true)
    try out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val legacy = spark.sql("SELECT count(*) AS n FROM aggcat.legacy")
    assert(!isLocal(legacy))
    assert(legacy.collect().head.getLong(0) == 50L)
  }

  test("emergency verbs keep sidecar coverage: rollback / fast_forward / bucketed ingest") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/ev"
    Snapshots.commitAppend(
      (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4), loc)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    spark.sql("INSERT INTO aggcat.ev VALUES (401, 'x401')") // v2, auto-covered
    def localCount(expect: Long): Unit = {
      val df = spark.sql("SELECT count(*) AS n FROM aggcat.ev")
      assert(isLocal(df),
        "sidecar lost after an emergency verb — the very next query " +
          "full-scans:\n" + df.queryExecution.executedPlan)
      assert(df.collect().head.getLong(0) == expect)
    }
    localCount(401L)
    // metadata-only undo publishes v3 — auto-stats must cover it with
    // ZERO manual attach (the all-carried attach is O(manifest))
    spark.sql("CALL aggcat.system.rollback('ev', 1)")
    localCount(400L)
    // write-audit-publish: branch DML, then fast_forward publishes the
    // audited state — the parent's next query stays metadata-only
    spark.sql("CALL aggcat.system.branch('ev', 'audit')")
    spark.sql("INSERT INTO aggcat.`ev#audit` VALUES (500, 'x500')")
    spark.sql("CALL aggcat.system.fast_forward('ev', 'audit')")
    localCount(401L)
    // zone-map file skipping also holds on the published version
    val pruned = spark.sql("SELECT id FROM aggcat.ev WHERE id <= 50")
    assert(pruned.count() == 50L)
    val planned = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan match {
        case pq: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
          pq.fileIndex.inputFiles.length
        case _ => 0
      }
    }.sum
    val total = Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files.length
    assert(planned < total,
      s"post-fast-forward skipping dead: planned $planned of $total")
    // bucketed exactly-once ingest refreshes coverage per epoch too —
    // pinned on the sidecar artifact itself (a layout version reads
    // through the row scan, whose skipping consumes the same sidecar)
    graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 4)
    graft.streaming.SnapshotSink.commitBatchBucketed(
      Seq((600L, "x600")).toDF("id", "v"), loc, 7L)
    val epochV = Snapshots.latestVersion(spark, loc)
    val statsP = new Path(f"$loc/_manifests/v$epochV%05d.stats.txt")
    assert(statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(statsP),
      s"bucketed epoch v$epochV published without its auto-stats sidecar")
    assert(spark.sql("SELECT count(*) AS n FROM aggcat.ev")
      .collect().head.getLong(0) == 402L)
  }

  test("a bucket-layout version answers count/min/max from the sidecar too") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/bkagg"
    Snapshots.commitAppend(
      (1L to 300L).map(i => (i, i * 3)).toDF("id", "amt").repartition(3), loc)
    val v = graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 4)
    Snapshots.attachStats(spark, loc, v, Seq("id", "amt"))
    // the layout read path (SnapshotRowScanBuilder) must serve the same
    // metadata-only aggregate as the zone-map path — a bucketed 100 TB
    // fact does not pay a full scan for count(*)
    val df = spark.sql(
      "SELECT count(*) AS n, min(id) AS mn, max(amt) AS mx FROM aggcat.bkagg")
    assert(isLocal(df), df.queryExecution.executedPlan.toString)
    assert(df.collect().head.toSeq == Seq(300L, 1L, 900L))
    // filters fall back to the real (bucket-pruned) scan, exact rows
    val f = spark.sql("SELECT count(*) AS n FROM aggcat.bkagg WHERE id = 7")
    assert(!isLocal(f))
    assert(f.collect().head.getLong(0) == 1L)
  }

  test("all-null covered column yields null min/max, still local") {
    import spark.implicits._
    wipe(); register()
    val loc = s"$root/nulls"
    Snapshots.commitAppend(
      (1L to 20L).map(i => (i, None: Option[Long])).toDF("id", "v"), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id", "v"))
    val df = spark.sql(
      "SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM aggcat.nulls")
    assert(isLocal(df), df.queryExecution.executedPlan.toString)
    val r = df.collect().head
    assert(r.getLong(0) == 20L && r.isNullAt(1) && r.isNullAt(2))
  }
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Snapshots

/** Sidecar row counts feed the CBO: a snapshot table whose stats sidecar
  * proves every file reports exact `numRows` through DSv2
  * `estimateStatistics` (physical rows minus delete-vector entries), so
  * Spark's cost-based optimizer reorders multi-joins over snapshot
  * tables instead of falling back to size heuristics. Coverage gaps
  * report UNKNOWN — never a guess.
  */
class CboStatsSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/cbostats"

  private def freshTable(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.cbocat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cbocat.root", root)
    loc
  }

  private def reportedRows(table: String): Option[BigInt] =
    spark.table(table).queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r
    }.head.computeStats().rowCount

  test("stats sidecar feeds exact numRows; DVs subtract; gaps report unknown") {
    import spark.implicits._
    val loc = freshTable("t_rows")
    Snapshots.commitAppend((1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"), loc)
    Snapshots.commitAppend((501L to 800L).map(i => (i, s"v$i")).toDF("id", "v"), loc)
    // no sidecar yet: unknown, never a guess
    assert(reportedRows("cbocat.t_rows").isEmpty)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    assert(reportedRows("cbocat.t_rows").contains(BigInt(800)))
    // a merge-on-read delete subtracts its vector's cardinality
    Snapshots.commitDeleteMoR(spark, loc, col("id").isin(5L, 6L, 700L))
    Snapshots.autoStats(spark, loc)
    assert(reportedRows("cbocat.t_rows").contains(BigInt(797)))
  }

  test("heavy-DV numRows: counted on the driver with no Spark job, cached") {
    import spark.implicits._
    val loc = freshTable("t_dvheavy")
    Snapshots.commitAppend((1L to 50000L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(4), loc)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    Snapshots.commitDeleteMoR(spark, loc, col("id") % 5 === 0) // 10k DV entries
    Snapshots.autoStats(spark, loc)
    val sc = spark.sparkContext
    try {
      // the vector is version metadata: its entries are counted where
      // the manifest is read, without launching a job
      sc.setJobGroup("graft-dvcount-first", "first plan")
      assert(reportedRows("cbocat.t_dvheavy").contains(BigInt(40000)))
      assert(sc.statusTracker.getJobIdsForGroup("graft-dvcount-first").isEmpty,
        "the DV-adjusted estimate must not run a Spark job")
    } finally sc.clearJobGroup()
    // second plan of the same (version, file set): a cache hit, which
    // opens no vector — shown by planning it with the vector file gone
    val dvs = Snapshots.version(spark, loc).dvs
    assert(dvs.nonEmpty)
    dvs.foreach { dv =>
      val p = new Path(dv)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, false)
    }
    assert(reportedRows("cbocat.t_dvheavy").contains(BigInt(40000)),
      "a re-plan of an unchanged DV version must answer from the cache")
  }

  test("sidecar column stats reach the optimizer: min/max/nullCount + selectivity") {
    import spark.implicits._
    val loc = freshTable("t_colstats")
    Snapshots.commitAppend((1L to 800L)
      .map(i => (i, if (i % 4 == 0) null else s"v$i"))
      .toDF("id", "v"), loc)
    Snapshots.setAutoStats(spark, loc, Seq("id"))
    def withCbo[T](body: => T): T = {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try body finally spark.conf.unset("spark.sql.cbo.enabled")
    }
    withCbo {
      val rel = spark.table("cbocat.t_colstats")
        .queryExecution.optimizedPlan
      val attrStats = rel.stats.attributeStats
      val idStat = attrStats.find(_._1.name == "id").map(_._2)
        .getOrElse(fail(s"no column stats for id: $attrStats"))
      assert(idStat.min.contains(1L), s"min: ${idStat.min}")
      assert(idStat.max.contains(800L), s"max: ${idStat.max}")
      assert(idStat.nullCount.contains(BigInt(0)), s"nulls: ${idStat.nullCount}")
      // the consequence: a pushed range filter PRUNES FILES first, and
      // numRows + column stats follow the surviving set — an EXACT
      // file-grain estimate (id 1..800 lands in 4 range-contiguous
      // files of 200; id <= 350 keeps two of them), with the post-prune
      // max tracking the kept files. No per-row selectivity is ever
      // guessed (the sidecar has no ndv, so Spark's FilterEstimation
      // stays off) — the estimate is provable, not heuristic.
      val filtered = spark.table("cbocat.t_colstats")
        .filter(col("id") <= 350L).queryExecution.optimizedPlan
      val est = filtered.stats.rowCount.getOrElse(fail("no rowCount"))
      assert(est == BigInt(400),
        s"pruned-scan estimate should be the surviving files' 400 rows: $est")
      val prunedMax = filtered.stats.attributeStats
        .find(_._1.name == "id").map(_._2.max).getOrElse(None)
      assert(prunedMax.contains(400L),
        s"post-prune max should track kept files: $prunedMax")
    }
  }

  test("ndv sketch sidecar: equality selectivity flips the join to broadcast") {
    import spark.implicits._
    val factLoc = freshTable("t_ndvfact")
    val otherLoc = freshTable("t_ndvother")
    // fact: 100k rows, grp holds 500 distinct values -> `grp = k` keeps
    // ~200 rows; without ndv the CBO cannot estimate the equality and
    // the filter passes through at full size
    Snapshots.commitAppend((1L to 100000L)
      .map(i => (i, i % 500L, s"payload_$i")).toDF("id", "grp", "pay")
      .repartition(4), factLoc)
    Snapshots.commitAppend((1L to 100000L).map(i => (i, s"o$i")).toDF("id", "ov")
      .repartition(4), otherLoc)
    Snapshots.setAutoStats(spark, factLoc, Seq("id", "grp"))
    Snapshots.setAutoStats(spark, otherLoc, Seq("id"))
    val q = """SELECT o.ov, f.pay FROM cbocat.t_ndvother o
              |JOIN cbocat.t_ndvfact f ON o.id = f.id
              |WHERE f.grp = 7""".stripMargin
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach { case (k, o) =>
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    def plan(): String = withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString)(
      spark.sql(q).queryExecution.sparkPlan.toString)
    // WITHOUT the ndv sidecar: no equality estimate, both sides plan at
    // full size over the 64 KB threshold -> sort-merge
    val before = plan()
    assert(before.contains("SortMergeJoin") && !before.contains("BroadcastHashJoin"),
      s"without ndv the filtered fact must not be broadcastable:\n$before")
    // attach the sketch sidecar: 500 distinct is inside the sparse
    // regime, so the reported ndv is EXACT and grp = 7 estimates ~200
    // rows -> the filtered fact side broadcasts
    graft.ops.BloomSidecar.attachNdv(spark, factLoc,
      Snapshots.latestVersion(spark, factLoc), Seq("grp"))
    withConf("spark.sql.cbo.enabled" -> "true") {
      val ndv = spark.table("cbocat.t_ndvfact").queryExecution
        .optimizedPlan.stats.attributeStats
        .find(_._1.name == "grp").flatMap(_._2.distinctCount)
      assert(ndv.contains(BigInt(500)),
        s"sparse-regime ndv must be exact: $ndv")
    }
    val after = plan()
    assert(after.contains("BroadcastHashJoin"),
      s"with ndv the ~200-row filtered fact must broadcast:\n$after")
    // and both plans return exactly the same rows
    val expect = (1L to 100000L).count(_ % 500L == 7L)
    assert(spark.sql(q).count() == expect)
    withConf("spark.sql.cbo.enabled" -> "true")(
      assert(spark.sql(q).count() == expect))
  }

  test("CBO reorders a 3-table join with sidecar counts, written order without") {
    import spark.implicits._
    val bigLoc = freshTable("t_big")
    val midLoc = freshTable("t_mid")
    val tinyLoc = freshTable("t_tiny")
    Snapshots.commitAppend((1L to 50000L).map(i => (i % 997L, i))
      .toDF("k", "pay"), bigLoc)
    Snapshots.commitAppend((1L to 997L).map(i => (i, s"m$i"))
      .toDF("k", "mv"), midLoc)
    Snapshots.commitAppend((1L to 7L).map(i => (i, s"t$i"))
      .toDF("k", "tv"), tinyLoc)
    Seq(bigLoc, midLoc, tinyLoc).foreach(l =>
      Snapshots.setAutoStats(spark, l, Seq("k")))
    val q = """SELECT b.pay, m.mv, t.tv
              |FROM cbocat.t_big b
              |JOIN cbocat.t_mid m ON b.k = m.k
              |JOIN cbocat.t_tiny t ON b.k = t.k""".stripMargin
    def innermostJoinLeaves(): Set[String] = {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val joins = spark.sql(q).queryExecution.optimizedPlan.collect {
        case j: Join => j }
      // the innermost join is the one with no Join beneath it
      val inner = joins.filter(j => j.children.forall(c =>
        c.collect { case jj: Join => jj }.isEmpty)).head
      inner.collect { case r: DataSourceV2ScanRelation =>
        r.scan.description() }.mkString("\n")
        .split("\n").filter(_.nonEmpty).toSet
    }
    def withConf(kv: (String, String)*)(body: => Set[String]): Set[String] = {
      val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach { case (k, o) =>
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val reordered = withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")(innermostJoinLeaves())
    // with exact row counts the DP reorder pulls the 7-row tiny table
    // into the FIRST join (its output is ~7 keys' worth) instead of the
    // written big×mid (997-key, 50k-row intermediate)
    assert(reordered.exists(_.contains("t_tiny")),
      s"CBO did not pull the tiny table into the innermost join: $reordered")
    assert(!reordered.exists(_.contains("t_mid")),
      s"CBO kept the written big×mid innermost join: $reordered")
    val written = withConf(
      "spark.sql.cbo.enabled" -> "false")(innermostJoinLeaves())
    assert(written.exists(_.contains("t_mid")) &&
      !written.exists(_.contains("t_tiny")),
      s"without CBO the written order should survive: $written")
    // and both plans return exactly the same rows
    val expect = (1L to 50000L).count(i => i % 997L >= 1 && i % 997L <= 7)
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      assert(spark.sql(q).count() == expect)
      Set.empty[String]
    }
    assert(spark.sql(q).count() == expect)
  }
}

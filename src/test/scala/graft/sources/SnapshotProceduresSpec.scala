package graft.sources

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.ops.Snapshots

/** SQL `CALL` lifecycle procedures on the snapshot catalog
  * (`sources/v2/SnapshotProcedures.scala`): optimize compacts into a new
  * version, expire GCs history, attach_stats writes the zone-map sidecar
  * (enabling pruned reads), delete_mor commits a delete vector with zero
  * data-file rewrites — the whole maintenance story from pure SQL, each
  * returning a one-row result the caller can assert on. */
class SnapshotProceduresSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/sqlproc"

  private def fresh(name: String): String = {
    val loc = s"$root/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.sqlproc",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqlproc.root", root)
    loc
  }

  test("CALL optimize compacts; CALL expire collects; results report the outcome") {
    import spark.implicits._
    val loc = fresh("t_opt")
    Snapshots.commitAppend((1L to 4000L).toDF("id").repartition(16), loc)
    Snapshots.commitAppend((4001L to 8000L).toDF("id").repartition(16), loc)
    val res = spark.sql("CALL sqlproc.system.optimize('t_opt')")
      .as[(Long, Int)].collect().head
    assert(res._1 == 3L && res._2 < 8, s"optimize result $res")
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == (1L to 8000L))
    val gc = spark.sql("CALL sqlproc.system.expire('t_opt', 1)")
      .as[(Int, Int)].collect().head
    assert(gc._1 == 2 && gc._2 >= 32, s"expire result $gc")
    assert(Snapshots.read(spark, loc).count() == 8000L)
  }

  test("CALL attach_stats enables pruned reads; CALL delete_mor rewrites nothing") {
    import spark.implicits._
    val loc = fresh("t_stats")
    Snapshots.commitAppend(
      (1L to 8000L).toDF("id").repartitionByRange(8, col("id")), loc)
    val st = spark.sql("CALL sqlproc.system.attach_stats('t_stats', 'id')")
      .as[(Long, Int)].collect().head
    assert(st == ((1L, 1)))
    val pruned = Snapshots.readPruned(spark, loc, "id", "100", "200")
    assert(pruned.inputFiles.length < 8)
    assert(pruned.count() == 101L)
    // merge-on-read delete via CALL: data files untouched
    val before = Snapshots.version(spark, loc, 1L).files.toSet
    val v = spark.sql(
      "CALL sqlproc.system.delete_mor('t_stats', 'id BETWEEN 10 AND 20')")
      .as[Long].collect().head
    assert(v == 2L)
    assert(Snapshots.version(spark, loc, 2L).files.toSet == before,
      "delete_mor must not rewrite data files")
    assert(Snapshots.read(spark, loc).count() == 8000L - 11L)
  }

  test("CALL attach_blooms enables point-lookup skipping on a hash layout") {
    import spark.implicits._
    val loc = fresh("t_bloom")
    Snapshots.commitAppend(
      (1L to 8000L).map(i => (i, s"u$i")).toDF("id", "u")
        .repartition(8, col("u")), loc)
    val st = spark.sql("CALL sqlproc.system.attach_blooms('t_bloom', 'id')")
      .as[(Long, Int)].collect().head
    assert(st == ((1L, 1)))
    val pruned = graft.ops.BloomSidecar.readBloomPruned(
      spark, loc, "id", Seq("4242"))
    assert(pruned.count() == 1L)
    assert(pruned.inputFiles.length < 8,
      "bloom sidecar must skip files on a hash layout")
  }

  test("CALL cluster re-lays the table in Morton order and refreshes stats") {
    import spark.implicits._
    val loc = fresh("t_zc")
    // round-robin: neither x nor y clustered
    Snapshots.commitAppend(
      (0L until 4096L).map(i => (i, (i * 2654435761L) % 4096L))
        .toDF("x", "y").repartition(8), loc)
    val res = spark.sql(
      "CALL sqlproc.system.cluster('t_zc', 'x,y', 8, 128, 8)")
      .as[(Long, Int)].collect().head
    assert(res._1 == 2L && res._2 == 8)
    // a 2-D box now prunes through the refreshed sidecar on BOTH columns
    val px = Snapshots.readPruned(spark, loc, "x", "0", "256")
    assert(px.inputFiles.length < 8, "x-range must prune after clustering")
    val py = Snapshots.readPruned(spark, loc, "y", "0", "256")
    assert(py.inputFiles.length < 8, "y-range must prune after clustering")
    // versioned replace: v1 history intact and row-complete
    assert(Snapshots.read(spark, loc, 1L).count() == 4096L)
    assert(Snapshots.read(spark, loc, 2L).count() == 4096L)
  }

  test("CALL auto_stats maintains the sidecar across SQL writes and optimize") {
    import spark.implicits._
    val loc = fresh("t_auto")
    Snapshots.commitAppend(
      (1L to 4000L).toDF("id").repartitionByRange(4, col("id")), loc)
    spark.sql("CALL sqlproc.system.auto_stats('t_auto', 'id')")
    // declared at v1: pruned reads work immediately
    assert(Snapshots.readPruned(spark, loc, "id", "1", "10").inputFiles.length < 4)
    // an SQL INSERT refreshes the sidecar for v2 without any CALL
    spark.sql("INSERT INTO sqlproc.t_auto SELECT id + 10000 FROM range(4001, 4101)")
    val v2 = Snapshots.latestVersion(spark, loc)
    assert(v2 == 2L)
    val agg = spark.sql("SELECT count(*) AS n FROM sqlproc.t_auto")
    assert(agg.queryExecution.executedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.isDefined,
      "v2 must be fully covered -> metadata-only count")
    assert(agg.collect().head.getLong(0) == 4100L)
    // SQL DELETE (copy-on-write) and CALL optimize keep coverage fresh
    spark.sql("DELETE FROM sqlproc.t_auto WHERE id <= 10")
    spark.sql("CALL sqlproc.system.optimize('t_auto', 128)")
    val agg2 = spark.sql("SELECT count(*) AS n, max(id) AS mx FROM sqlproc.t_auto")
    assert(agg2.queryExecution.executedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.isDefined)
    assert(agg2.collect().head.toSeq == Seq(4090L, 14100L))
  }

  test("auto_stats bloom_columns keep point-lookup skipping fresh across INSERTs") {
    import spark.implicits._
    val loc = fresh("t_autobloom")
    Snapshots.commitAppend(
      (1L to 4000L).map(i => (i, s"u$i")).toDF("id", "u")
        .repartition(8, col("u")), loc) // hash layout: zone maps blind
    spark.sql("CALL sqlproc.system.auto_stats('t_autobloom', 'id', 'id')")
    spark.sql("INSERT INTO sqlproc.t_autobloom " +
      "SELECT * FROM (SELECT id, CAST(id AS STRING) AS u FROM range(4001, 8001)) " +
      "DISTRIBUTE BY id")
    // v2's blooms were attached by the INSERT itself: a point lookup
    // for keys on BOTH sides of the append skips files
    val df = spark.sql(
      "SELECT id FROM sqlproc.t_autobloom WHERE id IN (42, 4242)")
    assert(df.as[Long].collect().sorted.toSeq == Seq(42L, 4242L))
    val planned = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        (b.scan match {
          case rp: graft.sources.v2.RuntimePrunedScan => rp.delegate
          case s => s
        }) match {
          case pq: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            pq.fileIndex.inputFiles.length
          case _ => 0
        }
    }.sum
    val total = Snapshots.version(spark, loc, 2L).files.length
    assert(planned < total, s"blooms must skip: planned $planned of $total")
  }

  test("CALL migrate renames columns into a NEW table with provenance") {
    import spark.implicits._
    fresh("t_mig_dst"); fresh("t_mig_dst2") // migration targets must not exist
    val loc = fresh("t_mig_src")
    Snapshots.commitAppend(
      Seq((1L, "a", 9L), (2L, "b", 9L)).toDF("id", "v", "tmp"), loc)
    val res = spark.sql(
      "CALL sqlproc.system.migrate('t_mig_src', 't_mig_dst', 'id, v AS label')")
      .as[(Long, String)].collect().head
    assert(res._1 == 1L && res._2.endsWith("t_mig_src@v1"))
    val dst = spark.sql("SELECT * FROM sqlproc.t_mig_dst ORDER BY id")
    assert(dst.columns.toSeq == Seq("id", "label"))
    assert(dst.as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // the old table and its pinned v1 are untouched
    assert(spark.sql("SELECT * FROM sqlproc.t_mig_src VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v", "tmp"))
    // top-level comma split keeps struct() whole
    spark.sql("CALL sqlproc.system.migrate('t_mig_src', 't_mig_dst2', " +
      "'id, struct(v, tmp) AS s')")
    assert(spark.sql("SELECT s.v FROM sqlproc.t_mig_dst2 WHERE id = 1")
      .collect().head.getString(0) == "a")
  }

  test("CREATE TABLE TBLPROPERTIES stats.columns declares auto-stats at birth") {
    fresh("t_props")
    spark.sql("CREATE TABLE sqlproc.t_props (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('stats.columns' = 'id')")
    spark.sql("INSERT INTO sqlproc.t_props " +
      "SELECT * FROM (SELECT id, CAST(id AS STRING) AS v FROM range(0, 4000)) " +
      "DISTRIBUTE BY id DIV 1000")
    val agg = spark.sql("SELECT count(*) AS n FROM sqlproc.t_props")
    assert(agg.queryExecution.executedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.isDefined,
      "first INSERT must land fully covered -> metadata-only count")
    assert(agg.collect().head.getLong(0) == 4000L)
  }

  test("CALL rollback restores an old version metadata-only, keeping history") {
    import spark.implicits._
    val loc = fresh("t_rb")
    Snapshots.commitAppend((1L to 100L).toDF("id"), loc)
    Snapshots.commitAppend((101L to 200L).toDF("id"), loc)
    val filesV2 = Snapshots.version(spark, loc, 2L).files.toSet
    Snapshots.commitReplace((900L to 905L).toDF("id"), loc) // the bad commit
    val res = spark.sql("CALL sqlproc.system.rollback('t_rb', 2)")
      .as[(Long, Long)].collect().head
    assert(res == ((4L, 2L)))
    // metadata-only: version 4 references EXACTLY version 2's files
    assert(Snapshots.version(spark, loc, 4L).files.toSet == filesV2)
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == (1L to 200L))
    // non-destructive: the bad version stays time-travelable
    assert(Snapshots.read(spark, loc, 3L).as[Long].collect().sorted.toSeq
      == (900L to 905L))
    // rolling back to the version already live is a no-op (no new commit)
    assert(Snapshots.rollback(spark, loc, 4L) == 4L)
    assert(Snapshots.latestVersion(spark, loc) == 4L)
    // DVs carry by reference: MoR-delete, bad replace, rollback to the
    // DV version → the delete is still applied on read
    Snapshots.commitDeleteMoR(spark, loc, col("id") <= 10L)
    val dvV = Snapshots.latestVersion(spark, loc)
    Snapshots.commitReplace((1L to 3L).toDF("id"), loc)
    spark.sql(s"CALL sqlproc.system.rollback('t_rb', $dvV)").collect()
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == (11L to 200L))
    // expired target fails fast, table untouched
    val e = intercept[NoSuchElementException](
      Snapshots.rollback(spark, loc, 99L))
    assert(e.getMessage.contains("99"))
  }

  test("CALL advise_layout flags a Zipf-hot bucket; the split it recommends spreads it") {
    import spark.implicits._
    val loc = fresh("t_advise")
    // Zipf-ish heat: many DISTINCT keys whose Murmur3 all lands in
    // bucket 0 at count 4 (selected with the WRITER's own hash) — the
    // shape a shuffle-free split CAN spread (single-key skew cannot)
    val hotKeys = spark.range(0, 20000)
      .filter(pmod(hash(col("id")), lit(4)) === 0)
      .as[Long].collect()
    assert(hotKeys.length > 1000)
    // incompressible-ish distinct payloads so file BYTES track the skew
    def pay(k: Long, j: Int): String =
      (0 until 8).map(i => (k * 2654435761L + j * 40503L + i * 69427L)
        .toHexString).mkString("-")
    val rows = hotKeys.toSeq.flatMap(k =>
      (0 until 12).map(j => (k, pay(k, j)))) ++
      (100001L to 110000L).map(i => (i, pay(i, 99)))
    Snapshots.commitAppend(rows.toDF("k", "v"), loc)
    spark.sql("CALL sqlproc.system.bucket('t_advise', 'k', 4)")
    def hot(): Long = Snapshots.bucketsMeta(spark, loc)
      .collect().filter(_.getInt(1) >= 0).map(_.getLong(4)).max
    val hot0 = hot()
    assert(hot0 > 2 * 1024 * 1024, s"fixture hot bucket too small: $hot0")
    // target_mb=1: the hot bucket is several MB of straggler work
    val advice = spark
      .sql("CALL sqlproc.system.advise_layout('t_advise', target_mb => 1)")
      .collect().head
    val factor = advice.getInt(5)
    assert(factor >= 2, s"advisor missed the hot bucket: $advice")
    assert(advice.getString(8).contains(s"bucket_split('t_advise', $factor)"))
    // the truth columns: uncapped need + whether the capped step meets it
    assert(advice.getLong(6) >= factor || advice.getBoolean(7),
      s"needed/met inconsistent: $advice")
    assert(advice.getBoolean(7) == (factor.toLong >= advice.getLong(6)),
      s"target_met must equal factor >= needed: $advice")
    // metadata-only: the advisor reads sidecars, never data (no new version)
    assert(Snapshots.latestVersion(spark, loc) == 2L)
    // apply the recommendation: the straggler task's work drops ~factor-fold
    // (an SPJ task = one bucket; wall clock ∝ hot-bucket bytes)
    spark.sql(s"CALL sqlproc.system.bucket_split('t_advise', $factor)")
    val hot1 = hot()
    assert(hot1 < hot0 / 2,
      s"split did not un-straggle: hot $hot0 -> $hot1 (factor $factor)")
    assert(Snapshots.read(spark, loc).count() == rows.length)
    // a balanced table advises factor 1 / no action
    val loc2 = fresh("t_advise_flat")
    Snapshots.commitAppend((1L to 10000L).map(i => (i, s"v$i")).toDF("k", "v"),
      loc2)
    spark.sql("CALL sqlproc.system.bucket('t_advise_flat', 'k', 4)")
    val flat = spark.sql("CALL sqlproc.system.advise_layout('t_advise_flat')")
      .collect().head
    assert(flat.getInt(5) == 1 && flat.getString(8).contains("balanced"),
      s"flat layout advised a split: $flat")
    assert(flat.getBoolean(7), s"a balanced layout meets its target: $flat")
  }

  test("unknown procedure and wrong namespace fail fast with the available list") {
    fresh("t_err")
    val e = intercept[Exception](
      spark.sql("CALL sqlproc.system.frobnicate('x')").collect())
    assert(e.getMessage.contains("optimize") || e.getMessage.contains("frobnicate"))
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** Bloom-filter sidecar ([[BloomSidecar]]): per-file filters for
  * point-lookup file skipping on layouts where zone maps prune nothing.
  * Pins the no-false-negative contract (every file actually containing a
  * probed value survives; pruned reads return exactly the plain-filter
  * rows), the hash-layout pruning win zone maps cannot deliver, the
  * saturation fallback (over-cap files are never skipped), incremental
  * inheritance across appends, the uncovered-column / missing-sidecar
  * fallbacks, the SQL catalog route through ZoneMapScanBuilder, and
  * expire's sidecar cleanup.
  */
class BloomSidecarSpec extends SparkTestBase {

  private def wipe(loc: String): Unit = {
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def fixture(loc: String, n: Int = 4000, parts: Int = 8): Unit = {
    import spark.implicits._
    wipe(loc)
    // hash layout on k: each file's [min, max] for k spans ~the whole
    // domain, so zone maps keep every file; blooms still prune
    val df = (0 until n).map(i => (i.toLong, s"name_$i", i % 17))
      .toDF("k", "name", "grp")
      .repartition(parts, col("k"))
    Snapshots.commitAppend(df, loc)
  }

  test("no false negatives: pruned read == plain filtered read, fewer files") {
    val loc = "/tmp/graft-test/bloom_basic"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k", "name"))
    val values = Seq("7", "1234", "3999")
    val pruned = BloomSidecar.readBloomPruned(spark, loc, "k", values)
    val plain = Snapshots.read(spark, loc)
      .filter(col("k").cast("string").isin(values: _*))
    assert(pruned.orderBy("k").collect().toSeq ===
      plain.orderBy("k").collect().toSeq)
    val all = Snapshots.version(spark, loc, 1L).files.toSet
    val kept = pruned.inputFiles.map(Snapshots.normPath).toSet
    assert(kept.subsetOf(all.map(Snapshots.normPath)))
    // 3 values in an 8-file hash layout: at most 3 true files + rare FPs
    assert(kept.size < all.size,
      s"blooms pruned nothing: ${kept.size} of ${all.size} files planned")
    // every file that truly holds a probed value must survive (the hard
    // guarantee): rows came back, so by equality above this holds; pin
    // it explicitly through the file list of the exact-match read
    val truthFiles = plain.inputFiles.map(Snapshots.normPath).toSet
    assert(plain.count() === 3)
    assert(truthFiles.nonEmpty)
  }

  test("string column probes prune too") {
    val loc = "/tmp/graft-test/bloom_str"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k", "name"))
    val pruned = BloomSidecar.readBloomPruned(spark, loc, "name", Seq("name_77"))
    assert(pruned.select("k").collect().map(_.getLong(0)).toSeq === Seq(77L))
    assert(pruned.inputFiles.length <
      Snapshots.version(spark, loc, 1L).files.length)
  }

  test("uncovered column and missing sidecar fall back to the full list") {
    val loc = "/tmp/graft-test/bloom_fallback"
    fixture(loc)
    val all = Snapshots.version(spark, loc, 1L).files
    // no sidecar at all
    assert(BloomSidecar.bloomFiles(spark, loc, 1L, all, "k", Seq("7")) === all)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("name"))
    // covered sidecar, uncovered column
    assert(BloomSidecar.bloomFiles(spark, loc, 1L, all, "grp", Seq("3")) === all)
    // and the pruned read still answers exactly
    val pruned = BloomSidecar.readBloomPruned(spark, loc, "grp", Seq("3"))
    assert(pruned.count() ===
      Snapshots.read(spark, loc).filter(col("grp") === 3).count())
  }

  test("saturated files (distinct count over cap) are never skipped") {
    val loc = "/tmp/graft-test/bloom_sat"
    fixture(loc, n = 2000, parts = 2)
    // cap far below the ~1000 distinct per file: every filter saturates
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"), maxDistinct = 16)
    val all = Snapshots.version(spark, loc, 1L).files
    assert(BloomSidecar.bloomFiles(spark, loc, 1L, all, "k", Seq("42")) === all)
    val bits = spark.read
      .parquet(BloomSidecar.dataPath(loc, 1L).toString)
      .where(col("bits").isNotNull).count()
    assert(bits === 0, "saturated groups must publish null bits")
  }

  test("incremental attach writes ONLY the fresh files' rows (delta chain)") {
    import spark.implicits._
    val loc = "/tmp/graft-test/bloom_incr"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Path = BloomSidecar.dataPath(loc, 1L)
    val v1Rows = spark.read.parquet(v1Path.toString).count()
    val v1Mtime = f.listStatus(v1Path).map(_.getModificationTime).toSeq
    Snapshots.commitAppend(
      Seq((100000L, "name_x", 1)).toDF("k", "name", "grp"), loc)
    BloomSidecar.attachBlooms(spark, loc, 2L, Seq("k"))
    // the append's refresh wrote ONE row (the fresh file) — the carried
    // files ride by reference in #base, their v1 parquet byte-untouched
    val v2Rows = spark.read.parquet(BloomSidecar.dataPath(loc, 2L).toString)
      .collect()
    assert(v2Rows.length === 1, "delta must hold only the fresh file's row")
    assert(f.listStatus(v1Path).map(_.getModificationTime).toSeq === v1Mtime,
      "carried sidecar parquet must not be rewritten")
    assert(BloomSidecar.baseVersions(spark, loc, 2L) === Seq(1L, 2L))
    assert(spark.read.parquet(v1Path.toString).count() === v1Rows)
    // probes fold the chain: old values AND the new one both prune
    assert(BloomSidecar.readBloomPruned(spark, loc, "k", Seq("100000"))
      .count() === 1)
    val old = BloomSidecar.readBloomPruned(spark, loc, "k", Seq("1234"))
    assert(old.count() === 1)
    val all = Snapshots.version(spark, loc, 2L).files
    assert(BloomSidecar.bloomFiles(spark, loc, 2L, all, "k",
      Seq("100000")).length < all.length)
  }

  test("ndv sidecar: exact sparse union, O(delta) inherit, coverage-or-absent") {
    import spark.implicits._
    val loc = "/tmp/graft-test/ndv_incr"
    fixture(loc) // 4000 rows over 8 files; grp has 17 distinct, k 4000
    BloomSidecar.attachNdv(spark, loc, 1L, Seq("grp", "k"))
    val files1 = Snapshots.version(spark, loc, 1L).files
    val n1 = BloomSidecar.ndvCounts(spark, loc, 1L, files1)
    // sparse regime (17 and 4000 are both <= 2^12/4 per file... k is not:
    // 4000 distinct total but ~500 per file — each per-file summary is
    // sparse, and the UNION crosses the bound into dense) — grp is exact;
    // k's dense estimate stays inside the published 1.04/sqrt(4096) bound
    assert(n1("grp") == 17L, s"sparse union must be exact: ${n1("grp")}")
    assert(math.abs(n1("k") - 4000L) <= 4000L * 0.05, s"k ndv: ${n1("k")}")
    // O(delta): the append's refresh scans only the fresh file
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Path = BloomSidecar.ndvDataPath(loc, 1L)
    val v1Mtime = f.listStatus(v1Path).map(_.getModificationTime).toSeq
    Snapshots.commitAppend(
      Seq((100000L, "name_x", 99)).toDF("k", "name", "grp"), loc)
    BloomSidecar.attachNdv(spark, loc, 2L, Seq("grp", "k"))
    assert(spark.read.parquet(BloomSidecar.ndvDataPath(loc, 2L).toString)
      .select("file").distinct().count() == 1,
      "delta must hold only the fresh file's sketches")
    assert(f.listStatus(v1Path).map(_.getModificationTime).toSeq === v1Mtime,
      "carried sketch parquet must not be rewritten")
    val files2 = Snapshots.version(spark, loc, 2L).files
    val n2 = BloomSidecar.ndvCounts(spark, loc, 2L, files2)
    assert(n2("grp") == 18L, s"union after append must see the new value: $n2")
    // coverage-or-absent: a pruned subset still answers (per-file
    // sketches union over exactly the asked files)...
    val sub = BloomSidecar.ndvCounts(spark, loc, 2L, files2.take(3))
    assert(sub.contains("grp") && sub("grp") <= 18L)
    // ...but a file list the sidecar never covered reports nothing
    assert(BloomSidecar.ndvCounts(spark, loc, 2L,
      files2 :+ "/tmp/ghost/part-none.parquet").isEmpty)
    // and a missing sidecar version reports nothing (no throw)
    assert(BloomSidecar.ndvCounts(spark, loc, 3L, files2).isEmpty)
  }

  test("a same-version re-attach with more columns invalidates the ndv cache") {
    val loc = "/tmp/graft-test/ndv_reattach"
    fixture(loc)
    BloomSidecar.attachNdv(spark, loc, 1L, Seq("grp"))
    val files = Snapshots.version(spark, loc, 1L).files
    val before = BloomSidecar.ndvCounts(spark, loc, 1L, files) // caches
    assert(before.keySet == Set("grp"))
    // the sidecar is rewritten at the SAME version with a wider column
    // set — the cached verdict is stale and must not be served
    BloomSidecar.attachNdv(spark, loc, 1L, Seq("grp", "k"))
    val after = BloomSidecar.ndvCounts(spark, loc, 1L, files)
    assert(after.keySet == Set("grp", "k"),
      s"re-attach must invalidate the cached counts: $after")
    assert(after("grp") == before("grp"))
  }

  test("a no-change re-attach is a pure no-op on the data parquets") {
    val loc = "/tmp/graft-test/bloom_noop"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Path = BloomSidecar.dataPath(loc, 1L)
    val before = f.listStatus(v1Path).map(_.getModificationTime).toSeq
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    assert(f.listStatus(v1Path).map(_.getModificationTime).toSeq === before)
    assert(BloomSidecar.baseVersions(spark, loc, 1L) === Seq(1L))
  }

  test("expire keeps a base parquet still referenced by a kept header") {
    import spark.implicits._
    val loc = "/tmp/graft-test/bloom_expire_ref"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    Snapshots.commitAppend(Seq((100001L, "y", 0)).toDF("k", "name", "grp"), loc)
    BloomSidecar.attachBlooms(spark, loc, 2L, Seq("k"))
    Snapshots.expire(spark, loc, retainLast = 1, orphanGraceMs = 0L)
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(BloomSidecar.headerPath(loc, 1L)))
    assert(f.exists(BloomSidecar.dataPath(loc, 1L)),
      "v1 parquet is referenced by v2's #base and must survive")
    // the kept version still prunes through the surviving chain
    val all = Snapshots.version(spark, loc, 2L).files
    assert(BloomSidecar.bloomFiles(spark, loc, 2L, all, "k",
      Seq("1234")).length < all.length)
  }

  test("chain compaction folds deltas into one fresh base") {
    import spark.implicits._
    val loc = "/tmp/graft-test/bloom_compactchain"
    fixture(loc, n = 200, parts = 2)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    // 9 appends: the chain passes the compaction threshold along the way
    (1 to 9).foreach { i =>
      Snapshots.commitAppend(
        Seq((200000L + i, s"z$i", 0)).toDF("k", "name", "grp"), loc)
      BloomSidecar.attachBlooms(spark, loc, 1L + i, Seq("k"))
    }
    val v = Snapshots.latestVersion(spark, loc)
    val base = BloomSidecar.baseVersions(spark, loc, v)
    assert(base.length <= 8, s"chain must stay bounded, got $base")
    // every value new and old still prunes correctly after the fold
    assert(BloomSidecar.readBloomPruned(spark, loc, "k", Seq("200009"))
      .count() === 1)
    assert(BloomSidecar.readBloomPruned(spark, loc, "k", Seq("42"))
      .count() === 1)
  }

  test("SQL catalog point predicate prunes through the bloom sidecar") {
    val root = "/tmp/graft-test/bloom_cat"
    val loc = s"$root/t"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    spark.conf.set("spark.sql.catalog.graft_bloom_spec",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bloom_spec.root", root)
    val df = spark.sql(
      "SELECT k, name FROM graft_bloom_spec.t WHERE k = 1234")
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
    val total = Snapshots.version(spark, loc, 1L).files.length
    assert(planned < total, s"SQL bloom skipped nothing: $planned of $total")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1234L))
  }

  test("expire deletes the bloom sidecar with its version") {
    import spark.implicits._
    val loc = "/tmp/graft-test/bloom_expire"
    fixture(loc)
    BloomSidecar.attachBlooms(spark, loc, 1L, Seq("k"))
    Snapshots.commitAppend(Seq((999999L, "z", 0)).toDF("k", "name", "grp"), loc)
    Snapshots.expire(spark, loc, retainLast = 1, orphanGraceMs = 0L)
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(BloomSidecar.headerPath(loc, 1L)))
    assert(!f.exists(BloomSidecar.dataPath(loc, 1L)))
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** Substring-gram Bloom sidecar ([[BloomSidecar.attachGramBlooms]] /
  * `gramFiles`): per-file filters over every distinct lowercase
  * character 4-gram of a text column, pruning files for pushed
  * `LIKE '%needle%'` / `contains` / prefix / suffix predicates — the
  * trigram-index idea as driver-side file skipping. Pins the
  * no-false-negative contract (case-insensitive gram sets OVER-approximate
  * the case-sensitive predicate), the short-needle / uncovered-column /
  * missing-sidecar fallbacks, the SQL catalog route through
  * ZoneMapScanBuilder (Contains AND StartsWith), the delta-chain
  * incremental attach, and expire's cleanup.
  */
class GramBloomSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/gbloom"

  private def wipe(loc: String): Unit = {
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Files that REALLY contain `needle` — `DataFrame.inputFiles` lists
    * the whole scan, so the truth set needs `input_file_name()`. */
  private def trueFiles(loc: String, needle: String): Set[String] = {
    import spark.implicits._
    Snapshots.read(spark, loc).withColumn("f", input_file_name())
      .filter(col("text").contains(needle))
      .select("f").distinct().as[String].collect()
      .map(Snapshots.normPath).toSet
  }

  /** 6 bucket-pinned files; docs in bucket b carry marker `zebra<b>x`,
    * so a marker needle's true file set is exactly one file. */
  private def fixture(loc: String): Unit = {
    import spark.implicits._
    wipe(loc)
    val df = (0 until 600).map { i =>
      val b = i % 6
      (i.toLong, s"common words here plus marker zebra${b}x and tail $i", b)
    }.toDF("id", "text", "b").repartition(6, col("b"))
    Snapshots.commitAppend(df, loc)
  }

  test("files missing any needle gram are skipped; matches always survive") {
    val loc = s"$root/basic"
    fixture(loc)
    BloomSidecar.attachGramBlooms(spark, loc, 1L, Seq("text"))
    val files = Snapshots.version(spark, loc, 1L).files
    val keep = BloomSidecar.gramFiles(spark, loc, 1L, files, "text", "zebra3x")
    // every true match's file survives (no false negatives) ...
    val truthFiles = trueFiles(loc, "zebra3x")
    assert(Snapshots.read(spark, loc)
      .filter(col("text").contains("zebra3x")).count() == 100L)
    assert(truthFiles.subsetOf(keep.map(Snapshots.normPath).toSet))
    // ... and the 5 marker-free files are gone (modulo rare Bloom FPs)
    assert(keep.length < files.length,
      s"kept ${keep.length} of ${files.length}")
  }

  test("case differences cannot cause a false negative") {
    val loc = s"$root/case"
    fixture(loc)
    BloomSidecar.attachGramBlooms(spark, loc, 1L, Seq("text"))
    val files = Snapshots.version(spark, loc, 1L).files
    // the probe is uppercase, the data lowercase: both sides lowercase
    // before gramming, so the containing file is kept
    val keep = BloomSidecar.gramFiles(spark, loc, 1L, files, "text", "ZEBRA2X")
    assert(trueFiles(loc, "zebra2x")
      .subsetOf(keep.map(Snapshots.normPath).toSet))
  }

  test("short needles, uncovered columns, missing sidecars prune nothing") {
    val loc = s"$root/fallback"
    fixture(loc)
    val files = Snapshots.version(spark, loc, 1L).files
    // no sidecar yet
    assert(BloomSidecar.gramFiles(spark, loc, 1L, files, "text", "zebra1x") == files)
    BloomSidecar.attachGramBlooms(spark, loc, 1L, Seq("text"))
    // needle shorter than the gram width
    assert(BloomSidecar.gramFiles(spark, loc, 1L, files, "text", "zeb") == files)
    // column without filters
    assert(BloomSidecar.gramFiles(spark, loc, 1L, files, "id", "1234") == files)
  }

  test("SQL LIKE '%needle%' and prefix LIKE prune through the catalog") {
    val loc = s"$root/sqlroute"
    fixture(loc)
    spark.conf.set("spark.sql.catalog.gbloomcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbloomcat.root", root)
    spark.sql("CALL gbloomcat.system.attach_grams('sqlroute', 'text')")
    val df = spark.sql(
      "SELECT id FROM gbloomcat.sqlroute WHERE text LIKE '%zebra4x%'")
    assert(df.count() == 100L)
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
    assert(planned < 6, s"gram sidecar skipped nothing: planned $planned of 6")
    // prefix form: LikeSimplification turns LIKE 'common%' into StartsWith;
    // a prefix no file contains prunes everything but keeps correctness
    val none = spark.sql(
      "SELECT id FROM gbloomcat.sqlroute WHERE text LIKE 'quixotic9q%'")
    assert(none.count() == 0L)
  }

  test("auto_stats gram_columns keep the sidecar fresh across SQL INSERTs") {
    val loc = s"$root/autog"
    fixture(loc)
    spark.conf.set("spark.sql.catalog.gbloomcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbloomcat.root", root)
    spark.sql("CALL gbloomcat.system.auto_stats('autog', '', '', 'text')")
    // the INSERT maintains the gram sidecar itself — no second CALL
    spark.sql(
      "INSERT INTO gbloomcat.autog VALUES (9000, 'freshly inserted zebra7x doc', 9)")
    val v = Snapshots.latestVersion(spark, loc)
    assert(v == 2L)
    val files = Snapshots.version(spark, loc, v).files
    val keep = BloomSidecar.gramFiles(spark, loc, v, files, "text", "zebra7x")
    assert(keep.length < files.length,
      s"post-INSERT version not covered: kept ${keep.length} of ${files.length}")
    assert(trueFiles(loc, "zebra7x")
      .subsetOf(keep.map(Snapshots.normPath).toSet))
  }

  test("incremental attach covers only fresh files; expire keeps live bases") {
    import spark.implicits._
    val loc = s"$root/incr"
    fixture(loc)
    BloomSidecar.attachGramBlooms(spark, loc, 1L, Seq("text"))
    val v2 = Snapshots.commitAppend(
      Seq((9000L, "fresh doc with marker zebra9x inside", 9))
        .toDF("id", "text", "b"), loc)
    BloomSidecar.attachGramBlooms(spark, loc, v2, Seq("text"))
    // the v2 delta parquet holds ONLY the fresh file's row
    val delta = spark.read.parquet(
      BloomSidecar.gramDataPath(loc, v2).toString)
    assert(delta.count() == 1L)
    // probes work across the carried chain
    val files = Snapshots.version(spark, loc, v2).files
    val keep = BloomSidecar.gramFiles(spark, loc, v2, files, "text", "zebra9x")
    assert(keep.length < files.length)
    assert(trueFiles(loc, "zebra9x")
      .subsetOf(keep.map(Snapshots.normPath).toSet))
    // expire v1: its gbloom parquet is still referenced by v2's header
    Snapshots.expire(spark, loc, 1)
    val f = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(BloomSidecar.gramDataPath(loc, 1L)))
    assert(!f.exists(BloomSidecar.gramHeaderPath(loc, 1L)))
    assert(BloomSidecar.gramFiles(spark, loc, v2, files, "text", "zebra9x")
      .length < files.length)
  }
}

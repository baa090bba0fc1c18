package graft.ops

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** Snapshot isolation invariants the registry query can't show alone:
  * every historical version stays bit-stable across later commits
  * (append AND logical overwrite), data files are immutable, and a
  * reader pinned before a commit is undisturbed by it. */
class SnapshotsSpec extends SparkTestBase {

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

  test("append and replace publish versions; every version stays readable") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_table"
    wipe(loc)
    val v1 = Snapshots.commitAppend(Seq(1L, 2L).toDF("id"), loc)
    val v2 = Snapshots.commitAppend(Seq(3L).toDF("id"), loc)
    val filesAfterV2 = dataFiles(loc)
    Thread.sleep(5)
    val v3 = Snapshots.commitReplace(Seq(9L).toDF("id"), loc)
    assert((v1, v2, v3) == (1L, 2L, 3L))
    def ids(v: Long) = Snapshots.read(spark, loc, v)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(1) == Seq(1L, 2L))
    assert(ids(2) == Seq(1L, 2L, 3L))       // append accumulated
    assert(ids(3) == Seq(9L))                // logical overwrite
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect()
      .sorted.toSeq == Seq(9L))              // latest == v3
    // v1/v2's data files untouched by the replace (immutability)
    val now = dataFiles(loc)
    filesAfterV2.foreach { case (f, m) =>
      assert(now.get(f).contains(m), s"historical file rewritten: $f") }
  }

  test("a reader pinned before a commit is undisturbed by it") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_pin"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L, 2L).toDF("id"), loc)
    val pinned = Snapshots.read(spark, loc) // resolves manifest v1 NOW
    Snapshots.commitReplace(Seq(42L).toDF("id"), loc)
    // the pinned plan still reads v1's explicit file list
    assert(pinned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(Snapshots.read(spark, loc).select("id").as[Long]
      .collect().toSeq == Seq(42L))
  }

  test("missing version fails fast; empty table fails fast") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_missing"
    wipe(loc)
    intercept[IllegalArgumentException](Snapshots.read(spark, loc))
    assert(Snapshots.version(spark, loc).version == 0L)
    Snapshots.commitAppend(Seq(1L).toDF("id"), loc)
    intercept[NoSuchElementException](Snapshots.read(spark, loc, version = 7))
    // the one version reader: -1 = the tip, 0 = the empty pre-history,
    // an expired number fails like one never committed
    Snapshots.commitAppend(Seq(2L).toDF("id"), loc)
    val tip = Snapshots.version(spark, loc)
    assert(tip.version == 2L && tip.files.length == 2 && tip.schema.isDefined)
    assert(tip.files == Snapshots.version(spark, loc, 2L).files)
    assert(Snapshots.version(spark, loc, 1L).files.length == 1)
    val pre = Snapshots.version(spark, loc, 0L)
    assert(pre.version == 0L && pre.files.isEmpty && pre.dvs.isEmpty &&
      pre.schema.isEmpty && pre.mvBase.isEmpty)
    Snapshots.expire(spark, loc, retainLast = 1)
    val e = intercept[NoSuchElementException](Snapshots.version(spark, loc, 1L))
    assert(e.getMessage == s"version 1 not found at $loc")
    intercept[NoSuchElementException](Snapshots.version(spark, loc, 7L))
    assert(Snapshots.version(spark, loc).version == 2L)
  }

  test("version carries the MV cursor (#mvbase) a create or refresh recorded") {
    import spark.implicits._
    val base = "/tmp/graft-test/snap_version_mvbase"
    val mv = "/tmp/graft-test/snap_version_mvbase_mv"
    wipe(base); wipe(mv)
    Snapshots.commitAppend(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), base)
    assert(Snapshots.version(spark, base).mvBase.isEmpty)
    Mv.create(spark, mv, base, Seq("k"), Seq("v"))
    assert(Snapshots.version(spark, mv).mvBase.contains(1L))
    Snapshots.commitAppend(Seq(("a", 3L)).toDF("k", "v"), base)
    Snapshots.commitAppend(Seq(("c", 4L)).toDF("k", "v"), base)
    val r = Mv.refresh(spark, mv)
    assert(r.mvVersion == 2L && r.fromBase == 1L && r.toBase == 3L)
    assert(Snapshots.version(spark, mv).mvBase.contains(3L))
    assert(Snapshots.version(spark, mv, 1L).mvBase.contains(1L))
  }

  // URI spellings differ between FileStatus and inputFiles — compare
  // filesystem paths
  private def norm(f: String): String = new Path(f).toUri.getPath

  test("diff after an append reads ONLY the delta's files") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_diff_files"
    wipe(loc)
    Snapshots.commitAppend((1L to 1000L).toDF("id"), loc)
    val v1Files = dataFiles(loc).keySet.map(norm)
    Snapshots.commitAppend(Seq(2000L, 2001L).toDF("id"), loc)
    val deltaFiles = dataFiles(loc).keySet.map(norm) -- v1Files
    val d = Snapshots.diff(spark, loc, 1, 2)
    // the immutable-file argument, measured: no common file is opened
    val opened = d.inputFiles.toSet.map(norm)
    assert(opened.nonEmpty && opened.subsetOf(deltaFiles),
      s"diff opened unchanged files: ${opened -- deltaFiles}")
    assert(d.filter(col("change") === "insert").select("id").as[Long]
      .collect().sorted.toSeq == Seq(2000L, 2001L))
    assert(d.filter(col("change") === "delete").count() == 0)
  }

  test("diff across a replace nets out rows that merely moved files") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_diff_replace"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L, 2L, 3L, 3L).toDF("id"), loc)
    Snapshots.commitReplace(Seq(2L, 3L, 4L).toDF("id"), loc)
    val d = Snapshots.diff(spark, loc, 1, 2)
    def ids(tag: String) = d.filter(col("change") === tag).select("id")
      .as[Long].collect().sorted.toSeq
    // multiset semantics: one of the two 3s survives, one is deleted
    assert(ids("insert") == Seq(4L))
    assert(ids("delete") == Seq(1L, 3L))
  }

  test("expire keeps retained versions readable and deletes dead files") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_expire"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L, 2L).toDF("id"), loc)
    Snapshots.commitAppend(Seq(3L).toDF("id"), loc)
    Snapshots.commitReplace(Seq(9L).toDF("id"), loc)      // v1/v2 files now dead
    val before = Snapshots.read(spark, loc).select("id").as[Long].collect().toSeq
    val (droppedManifests, deletedFiles) = Snapshots.expire(spark, loc, retainLast = 1)
    assert(droppedManifests == 2)
    assert(deletedFiles > 0)
    // latest survives bit-equal; expired versions are gone
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect().toSeq == before)
    assert(Snapshots.latestVersion(spark, loc) == 3L)
    intercept[NoSuchElementException](Snapshots.read(spark, loc, version = 1))
    // every remaining data file is named by the surviving manifest
    val live = Snapshots.read(spark, loc, 3).inputFiles.toSet.map(norm)
    assert(dataFiles(loc).keySet.map(norm) == live)
    // idempotent: a second expire finds nothing to do
    assert(Snapshots.expire(spark, loc, retainLast = 1) == ((0, 0)))
  }

  test("copy-on-write delete/update rewrite ONLY affected files; history pinned") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_cow"
    wipe(loc)
    // two appends -> two disjoint data files; the predicate hits only v2's
    Snapshots.commitAppend(Seq((1L, "keep"), (2L, "keep")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((10L, "drop"), (11L, "keep")).toDF("id", "v"), loc)
    val before = dataFiles(loc)
    val v3 = Snapshots.commitDelete(spark, loc, col("v") === "drop")
    assert(v3 == 3L)
    def rows(ver: Long) = Snapshots.read(spark, loc, ver)
      .as[(Long, String)].collect().sorted.toSeq
    assert(rows(3) == Seq((1L, "keep"), (2L, "keep"), (11L, "keep")))
    assert(rows(2).map(_._1) == Seq(1L, 2L, 10L, 11L)) // history intact
    // v1's file carried by reference: same path, same mtime
    val after = dataFiles(loc)
    val carried = before.filter { case (f, m) => after.get(f).contains(m) }
    assert(carried.nonEmpty, "no file was carried by reference")
    val v1Files = Snapshots.read(spark, loc, 1).inputFiles.map(norm).toSet
    assert(v1Files.subsetOf(carried.keySet.map(norm)),
      "the unaffected v1 file was rewritten")
    // update: only matching rows change, others bit-stable
    val v4 = Snapshots.commitUpdate(spark, loc, col("id") === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit("patched")))
    assert(v4 == 4L)
    assert(rows(4).toSet == Set((1L, "patched"), (2L, "keep"), (11L, "keep")))
    // no-op delete still publishes an auditable version
    assert(Snapshots.commitDelete(spark, loc, col("v") === "ghost") == 5L)
    assert(rows(5) == rows(4))
  }

  test("stats-pruned delete: the hint gates the detection scan; stats maintenance inherits") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_cow_pruned"
    wipe(loc)
    Snapshots.commitAppend(
      (1L to 4000L).toDF("id").repartitionByRange(4, col("id")), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    Snapshots.commitAppend(
      (10000L to 14000L).toDF("id").repartitionByRange(4, col("id")), loc)
    Snapshots.attachStats(spark, loc, 2L, Seq("id"))
    // v2's sidecar INHERITED v1's rows verbatim (immutable files keep
    // their stats; only the new files were scanned)
    def sidecar(v: Long) = {
      val p = new Path(s"$loc/_manifests/v${"%05d".format(v)}.stats.txt")
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val v1Rows = sidecar(1).filterNot(_.startsWith("#")).toSet
    val v2Rows = sidecar(2).filterNot(_.startsWith("#")).toSet
    assert(v1Rows.subsetOf(v2Rows) && v2Rows.size > v1Rows.size)
    // pruned delete: only range-candidate files are even SCANNED for
    // matches — provable because a hint that excludes the matching file
    // keeps its rows (the documented over-approximation contract)
    val vMiss = Snapshots.commitDelete(spark, loc, col("id").between(1, 50),
      pruneBy = Some(("id", "999990", "999999")))
    assert(Snapshots.read(spark, loc, vMiss).count() == 8001L,
      "a non-intersecting hint must scan (and delete) nothing")
    Snapshots.attachStats(spark, loc, vMiss, Seq("id"))
    // a correct hint deletes exactly the matching rows and carries every
    // non-candidate file by reference
    val before = dataFiles(loc)
    val v = Snapshots.commitDelete(spark, loc, col("id").between(1, 50),
      pruneBy = Some(("id", "1", "50")))
    import spark.implicits._
    assert(Snapshots.read(spark, loc, v).as[Long].collect().sorted.toSeq
      == ((51L to 4000L) ++ (10000L to 14000L)))
    val after = dataFiles(loc)
    val carried = before.count { case (f, m) => after.get(f).contains(m) }
    assert(carried >= 7, s"only $carried of 8 files carried by reference")
  }

  test("commitMerge upserts by key copy-on-write; kept files untouched") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_merge"
    wipe(loc)
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((10L, "x")).toDF("id", "v"), loc)
    val before = dataFiles(loc)
    // touches only the first commit's file; inserts a new key
    val v3 = Snapshots.commitMerge(spark, loc,
      Seq((2L, "B2"), (42L, "new")).toDF("id", "v"), "id")
    assert(v3 == 3L)
    assert(Snapshots.read(spark, loc).as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "B2"), (10L, "x"), (42L, "new")))
    // the unmatched commit's file carried by reference
    val after = dataFiles(loc)
    val v2File = Snapshots.read(spark, loc, 2).inputFiles.map(norm).toSet --
      Snapshots.read(spark, loc, 1).inputFiles.map(norm).toSet
    v2File.foreach { f =>
      val key = before.keys.find(k => norm(k) == f).get
      assert(after.get(key) == before.get(key), s"kept file rewritten: $f")
    }
    // pre-merge version pinned
    assert(Snapshots.read(spark, loc, 2).as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b"), (10L, "x")))
  }

  test("changeFeed tags every row change with the version that introduced it") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_cdf"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L, 2L).toDF("id"), loc)
    Snapshots.commitAppend(Seq(3L).toDF("id"), loc)
    Snapshots.commitDelete(spark, loc, col("id") === 2L)
    val feed = Snapshots.changeFeed(spark, loc, fromVersion = 0)
      .select("change", "_commit_version", "id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(feed == Seq(
      ("delete", 3L, 2L),
      ("insert", 1L, 1L), ("insert", 1L, 2L), ("insert", 2L, 3L)))
    // a consumer that checkpointed at v2 sees only the delete
    assert(Snapshots.changeFeed(spark, loc, fromVersion = 2)
      .select("change", "_commit_version", "id")
      .as[(String, Long, Long)].collect().toSeq == Seq(("delete", 3L, 2L)))
  }

  test("zone-map skipping: pruned read opens only range-matching files, rows exact") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_zonemap"
    wipe(loc)
    // range-partitioned write -> files with disjoint id ranges
    Snapshots.commitAppend(
      (1L to 8000L).toDF("id").repartitionByRange(8, col("id")), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    val pruned = Snapshots.readPruned(spark, loc, "id", "2000", "2500")
    val allFiles = Snapshots.read(spark, loc).inputFiles.length
    assert(pruned.inputFiles.length < allFiles,
      s"no skipping: ${pruned.inputFiles.length} of $allFiles files")
    assert(pruned.as[Long].collect().sorted.toSeq == (2000L to 2500L))
    // a column without stats falls back to the full list, still correct
    val fallback = Snapshots.readPruned(spark, loc, "id", "1", "10",
      version = 1L)
    assert(fallback.as[Long].collect().sorted.toSeq == (1L to 10L))
  }

  test("two racing committers both land, in some order, no version lost") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val loc = "/tmp/graft-test/snap_race"
    wipe(loc)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def racer(ids: Seq[Long]) = Future {
      gate.await()
      Snapshots.commitAppend(ids.toDF("id"), loc)
    }
    val a = racer(Seq(1L, 2L)); val b = racer(Seq(10L, 20L))
    gate.countDown()
    val versions = Seq(Await.result(a, 2.minutes), Await.result(b, 2.minutes))
    // the CAS loop serializes them: one wins v1, the loser retries at v2
    assert(versions.sorted == Seq(1L, 2L), s"versions lost/duplicated: $versions")
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 10L, 20L))
    // the intermediate version holds exactly the winner's rows
    val v1 = Snapshots.read(spark, loc, 1).as[Long].collect().sorted.toSeq
    assert(v1 == Seq(1L, 2L) || v1 == Seq(10L, 20L))
  }

  test("expire's grace window protects unreferenced young files (in-flight commit)") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_grace"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L).toDF("id"), loc)
    Snapshots.commitReplace(Seq(2L).toDF("id"), loc)
    // simulate an in-flight commit: data files written, manifest not yet
    // published — referenced by NO manifest, but brand new
    val inflight = new Path(s"$loc/data/inflight-commit/part-00000.parquet")
    val fs = inflight.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(inflight, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    // default grace: expired v1 files die, the young orphan SURVIVES
    val (dropped, _) = Snapshots.expire(spark, loc, retainLast = 1)
    assert(dropped == 1)
    assert(fs.exists(inflight), "grace window failed: in-flight commit swept")
    // zero grace (an offline table): the orphan is failed-commit garbage
    Snapshots.expire(spark, loc, retainLast = 1, orphanGraceMs = 0L)
    assert(!fs.exists(inflight))
    assert(Snapshots.read(spark, loc).as[Long].collect().toSeq == Seq(2L))
  }

  test("DELETE keeps NULL-predicate rows regardless of file layout") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_null_pred"
    wipe(loc)
    // one file holds a NULL-v row NEXT TO a matching row (so the file IS
    // rewritten); another file holds only a NULL-v row (never detected).
    // SQL DELETE semantics: only pred=TRUE rows go — both NULL rows must
    // survive, or the result depends on which file a row happened to be in
    Snapshots.commitAppend(
      Seq((1L, Some("drop")), (2L, None)).toDF("id", "v"), loc)
    Snapshots.commitAppend(Seq((3L, None: Option[String])).toDF("id", "v"), loc)
    Snapshots.commitDelete(spark, loc, col("v") === "drop")
    assert(Snapshots.read(spark, loc).select("id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L), "NULL-predicate rows must survive a DELETE")
  }

  test("UPDATE evaluates all assignments against the OLD row (swap works)") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_swap"
    wipe(loc)
    Snapshots.commitAppend(Seq((1L, 10L, 20L)).toDF("id", "a", "b"), loc)
    Snapshots.commitUpdate(spark, loc, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(Snapshots.read(spark, loc).as[(Long, Long, Long)].collect().toSeq
      == Seq((1L, 20L, 10L)), "SET a=b, b=a must swap, not propagate")
    intercept[IllegalArgumentException](
      Snapshots.commitUpdate(spark, loc, col("id") === 1L,
        Map("nope" -> lit(0))))
  }

  test("an all-NULL stats column (empty trailing bounds) never crashes or skips") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_null_stats"
    wipe(loc)
    Snapshots.commitAppend(
      Seq((1L, None: Option[Long]), (2L, None: Option[Long])).toDF("id", "x"), loc)
    // x is last in the column list -> its empty min/max are TRAILING
    // tab-separated fields; the parser must keep them as "", not shorten
    Snapshots.attachStats(spark, loc, 1L, Seq("id", "x"))
    val pruned = Snapshots.readPruned(spark, loc, "x", "5", "9")
    // unknown bounds are conservative: the file is read, the residual
    // filter applies (x NULL fails between) -> zero rows, zero crashes
    assert(pruned.count() == 0)
    assert(Snapshots.readPruned(spark, loc, "id", "2", "9")
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("readPruned on an empty table returns an empty frame, not a planner error") {
    val loc = "/tmp/graft-test/snap_pruned_empty"
    wipe(loc)
    assert(Snapshots.readPruned(spark, loc, "id", "1", "2").count() == 0)
  }

  test("zone-map pruning decides from the sidecar alone — no parquet footer opened") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_no_footer"
    wipe(loc)
    Snapshots.commitAppend(
      (1L to 8000L).toDF("id").repartitionByRange(8, col("id")), loc)
    Snapshots.attachStats(spark, loc, 1L, Seq("id"))
    val files = Snapshots.version(spark, loc, 1L).files
    // delete every data file from disk: if pruning opened any footer (for
    // schema or stats) it would now throw — the typed sidecar carries the
    // column's Catalyst type, so the decision is pure driver metadata
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(f => fs.delete(new Path(f), false))
    val keep = Snapshots.statFiles(spark, loc, 1L, files, "id", "2000", "2500")
    assert(keep.nonEmpty && keep.size < files.size,
      s"typed sidecar pruning failed: kept ${keep.size} of ${files.size}")
  }

  test("commitMerge's detection scan is gated by the key envelope ∩ zone maps") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_merge_pruned"
    wipe(loc)
    // fileA smuggles key 1050 but its sidecar (falsified below) claims
    // [1,100]; fileB is genuinely out of range. The merge's auto-derived
    // envelope is [1050,1050]: if the detection scan honors the gate it
    // scans NOTHING — the smuggled row survives and the source row lands
    // as an insert (the documented over-approximation contract, exactly
    // like commitDelete's pruneBy)
    Snapshots.commitAppend(
      ((1L to 100L) :+ 1050L).toDF("id").coalesce(1), loc)
    Snapshots.commitAppend((2000L to 2100L).toDF("id").coalesce(1), loc)
    Snapshots.attachStats(spark, loc, 2L, Seq("id"))
    val sp = new Path(s"$loc/_manifests/v00002.stats.txt")
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = {
      val in = fs.open(sp)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val lied = lines.map { l =>
      if (l.startsWith("#")) l
      else {
        val a = l.split("\t", -1)
        if (a(2) == "1050") (a(0) +: Seq("1", "100")).mkString("\t") else l
      }
    }
    val out = fs.create(sp, true)
    try out.write((lied.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val before = dataFiles(loc)
    Snapshots.commitMerge(spark, loc, Seq(1050L).toDF("id"), "id")
    val after = dataFiles(loc)
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "the envelope gate should have kept every out-of-range file unscanned")
    assert(Snapshots.read(spark, loc).filter(col("id") === 1050L).count() == 2,
      "gated detection must not have scanned the lying file")
  }

  test("commitCompaction packs files into a new version; pinned readers and rows unaffected") {
    import spark.implicits._
    val loc = "/tmp/graft-test/snap_optimize"
    wipe(loc)
    // two fragmented appends: 32 files of ~nothing each
    Snapshots.commitAppend((1L to 4000L).toDF("id").repartition(16), loc)
    Snapshots.commitAppend((4001L to 8000L).toDF("id").repartition(16), loc)
    val before = Snapshots.read(spark, loc)
    val filesBefore = before.inputFiles.length
    assert(filesBefore >= 32)
    val v = Snapshots.commitCompaction(spark, loc)
    assert(v == 3L)
    val after = Snapshots.read(spark, loc)
    // identical multiset of rows, far fewer files
    assert(after.inputFiles.length < filesBefore / 4)
    assert(after.as[Long].collect().sorted.toSeq == (1L to 8000L))
    // the pinned pre-compaction version still reads its own small files
    assert(Snapshots.read(spark, loc, 2).as[Long].collect().sorted.toSeq
      == (1L to 8000L))
    // and expire now collects the fragmented originals
    val (_, deleted) = Snapshots.expire(spark, loc, retainLast = 1)
    assert(deleted >= 32)
  }

  test("derived rewrites never drop interleaved commits: appends merge, deletes refuse") {
    import spark.implicits._
    // --- append-only interleave MERGES: rewrite ∪ added files ---
    val loc = "/tmp/graft-test/snapshots/derived_merge"
    wipe(loc)
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), loc)
    val derivedFrom = Snapshots.latestVersion(spark, loc)
    // the rewrite's content, derived from v1, already written to disk
    val dataDir = s"$loc/data/rewrite-test"
    Snapshots.read(spark, loc, derivedFrom).repartition(2)
      .write.parquet(dataDir)
    val p = new Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewritten = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString)
    // an ingest batch lands between derivation and publish
    Snapshots.commitAppend(
      (101L to 110L).map(i => (i, s"v$i")).toDF("id", "v"), loc)
    val schema = Snapshots.read(spark, loc, derivedFrom).schema.json
    val v = Snapshots.publishDerivedReplace(spark, loc, derivedFrom,
      rewritten, Some(schema), layout = Some("bucket,4,id"))
    // all 110 rows live: the rewrite's 100 plus the interleaved 10
    assert(Snapshots.read(spark, loc, v).count() == 110L)
    assert(Snapshots.read(spark, loc, v).agg(sum(col("id"))).head.getLong(0)
      == (1L to 110L).sum)
    // the requested layout header DROPPED: the riders weren't routed for it
    assert(Snapshots.version(spark, loc, v).layout.isEmpty)

    // --- a non-append interleave (DELETE) REFUSES: first-committer-wins ---
    val loc2 = "/tmp/graft-test/snapshots/derived_refuse"
    wipe(loc2)
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), loc2)
    val from2 = Snapshots.latestVersion(spark, loc2)
    val dir2 = s"$loc2/data/rewrite-test"
    Snapshots.read(spark, loc2, from2).repartition(2).write.parquet(dir2)
    val rewritten2 = fs.listStatus(new Path(dir2)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString)
    Snapshots.commitDelete(spark, loc2, col("id") <= 50L)
    val tip = Snapshots.latestVersion(spark, loc2)
    intercept[java.util.ConcurrentModificationException](
      Snapshots.publishDerivedReplace(spark, loc2, from2, rewritten2,
        Some(schema), layout = None))
    // the delete's result is untouched; the stale rewrite never published
    assert(Snapshots.latestVersion(spark, loc2) == tip)
    assert(Snapshots.read(spark, loc2).count() == 50L)

    // --- the maintenance verbs route through it: compaction vs delete_mor ---
    // (an interleaved DV commit is rows our full rewrite would resurrect)
    val loc3 = "/tmp/graft-test/snapshots/derived_verb"
    wipe(loc3)
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), loc3)
    Snapshots.commitDeleteMoR(spark, loc3, col("id") > 90L)
    // compaction derived from the DV version folds it — sanity that the
    // plumbed-through path still works uncontended
    val v3 = Snapshots.commitCompaction(spark, loc3)
    assert(Snapshots.read(spark, loc3, v3).count() == 90L)
    assert(Snapshots.version(spark, loc3, v3).dvs.isEmpty)
  }

  test("commit primitive: a lost claim drops its scratch and re-derives; 64 losses raise") {
    import spark.implicits._
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString)

    // (a) the attempt lets a competing append claim tip + 1 before it
    // returns: it loses once, its scratch dir goes, and the next round
    // re-derives on the racer's tip and lands at tip + 2 with both rows
    val loc = "/tmp/graft-test/snap_commit_lost"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L).toDF("id"), loc)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
    val v = Snapshots.commit(spark, loc) { tip =>
      val dir = new Path(loc, s"data/attempt-${rounds.size}")
      rounds += (tip.version -> dir)
      Seq(2L).toDF("id").coalesce(1).write.parquet(dir.toString)
      if (rounds.size == 1) Snapshots.commitAppend(Seq(3L).toDF("id"), loc)
      Snapshots.Publish(tip.files ++ parts(dir), schemaJson = tip.schemaJson,
        scratch = Seq(dir))
    }
    assert(rounds.map(_._1).toSeq == Seq(1L, 2L))
    assert(v == 3L)
    assert(!fs.exists(rounds.head._2), "the lost attempt's scratch survived")
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))

    // (b) 64 straight losses raise the one lost-race error and leave no
    // temp manifest and no scratch behind
    val lossLoc = "/tmp/graft-test/snap_commit_bound"
    wipe(lossLoc)
    Snapshots.commitAppend(Seq(1L).toDF("id"), lossLoc)
    var n = 0
    val err = intercept[IllegalStateException](Snapshots.commit(spark, lossLoc) { tip =>
      n += 1
      val dir = new Path(lossLoc, s"data/lost-$n")
      fs.create(new Path(dir, "part-0")).close()
      Snapshots.publishAppend(spark, lossLoc, Nil) // a file-less racer wins
      Snapshots.Publish(tip.files, scratch = Seq(dir))
    })
    assert(err.getMessage.contains("lost the commit race 64 times"))
    assert(n == 64)
    assert(Snapshots.latestVersion(spark, lossLoc) == 65L)
    assert(!fs.listStatus(new Path(lossLoc, "_manifests"))
      .exists(_.getPath.getName.startsWith("_tmp_")))
    assert((1 to 64).forall(i => !fs.exists(new Path(lossLoc, s"data/lost-$i"))))

    // (c) files written BEFORE the first attempt survive a lost claim:
    // a constraint UDF runs inside the claim round's CHECK gate (after
    // the tip was read, before the claim) and lets a racer in
    val preLoc = "/tmp/graft-test/snap_commit_prewritten"
    wipe(preLoc)
    spark.udf.register("graft_race_hook", (_: Long) => RaceHook.fire())
    Snapshots.commitAppend(Seq(1L).toDF("id"), preLoc)
    Constraints.add(spark, preLoc, "race", "graft_race_hook(id)")
    def armRacer(): Unit =
      RaceHook.arm(() => Snapshots.publishAppend(spark, preLoc, Nil))
    armRacer()
    assert(Snapshots.commitAppend(Seq(2L).toDF("id"), preLoc) == 3L) // lost v2
    val callerDir = new Path(preLoc, "data/caller-written")
    Seq(3L).toDF("id").coalesce(1).write.parquet(callerDir.toString)
    val callerFiles = parts(callerDir)
    armRacer()
    assert(Snapshots.publishAppend(spark, preLoc, callerFiles) == 5L) // lost v4
    callerFiles.foreach(p => assert(fs.exists(new Path(p))))
    assert(Snapshots.read(spark, preLoc).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("manifest format: header fields render in one fixed order above the files") {
    val loc = "/tmp/graft-test/snap_manifest_format"
    wipe(loc)
    assert(Snapshots.tryPublish(spark, loc, 1L, Snapshots.Publish(
      Seq("/d/a.parquet", "/d/b.parquet"), marker = Some("batch=7"),
      dvs = Seq("/d/dv1.parquet", "/d/dv2.parquet"), schemaJson = Some("{s}"),
      lineage = Some("src@v3"), layout = Some("bucket,4,id"),
      mvBase = Some("9"), carriedValid = true)))
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_manifests/v00001.txt")), "UTF-8")
    assert(text ==
      "#marker=batch=7\n#lineage=src@v3\n#schema={s}\n#layout=bucket,4,id\n" +
        "#mvbase=9\n#dv=/d/dv1.parquet\n#dv=/d/dv2.parquet\n" +
        "/d/a.parquet\n/d/b.parquet\n")
  }

  test("carry-forward commits never re-record the source's marker or mvbase") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val loc = "/tmp/graft-test/snap_carry_marker"
    wipe(loc)
    Snapshots.commitAppend(Seq(1L, 2L).toDF("id"), loc)
    def header(l: String, v: Long) = Snapshots.headerLines(spark,
      new Path(f"$l/_manifests/v$v%05d.txt"))
    def stamped(h: Seq[String]) =
      h.exists(x => x.startsWith("#marker=") || x.startsWith("#mvbase="))
    // republish the tip with a marker and an mvbase (and, optionally,
    // delete vectors), as a streaming epoch or an MV refresh would
    def stamp(l: String, dvs: Seq[String] = Nil): Long = {
      val v = Snapshots.commit(spark, l)(tip => tip.carry.copy(
        marker = Some(s"batch=${tip.version}"), mvBase = Some("5"),
        dvs = tip.dvs ++ dvs, carriedValid = true))
      assert(stamped(header(l, v)))
      v
    }
    def assertClean(l: String, v: Long): Unit =
      assert(!stamped(header(l, v)), s"v$v of $l re-recorded a marker/mvbase")

    val s1 = stamp(loc)
    assertClean(loc, Snapshots.commitAddColumns(spark, loc,
      StructType(Seq(StructField("x", LongType)))))
    stamp(loc)
    assertClean(loc, Snapshots.commitSetDefault(spark, loc, "x", Some("0")))
    assertClean(loc, Snapshots.rollback(spark, loc, s1))
    // fast-forward: the branch head carries a marker; the publish must not
    Refs.createBranch(spark, loc, "audit")
    val bl = Refs.branchLoc(loc, "audit")
    stamp(bl)
    assertClean(loc, Refs.fastForward(spark, loc, "audit"))
    // fold_dvs ref-drop: every vector entry names a gone file
    val dvDir = s"$loc/data/dv-gone"
    Seq(("/nonexistent/part-0.parquet", 0L)).toDF("file", "pos")
      .coalesce(1).write.parquet(dvDir)
    val fs = new Path(dvDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvFiles = fs.listStatus(new Path(dvDir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString)
    stamp(loc, dvFiles)
    val folded = Snapshots.commitFoldDvs(spark, loc)
    assertClean(loc, folded)
    assert(Snapshots.version(spark, loc, folded).dvs.isEmpty)
    assert(Snapshots.read(spark, loc).count() == 2L)
  }
}

/** A one-shot action a constraint UDF fires from inside a commit round's
  * CHECK gate — after the round read its tip, before it claims. */
object RaceHook {
  private val pending =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)
  def arm(racer: () => Unit): Unit = pending.set(racer)
  def fire(): Boolean = {
    val r = pending.getAndSet(null)
    if (r != null) r()
    true
  }
}

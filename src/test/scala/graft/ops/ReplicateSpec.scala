package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental cross-location replication ([[Replicate.replicate]]):
  * the replica carries the SAME version chain (markers, schema, layout,
  * delete vectors — content-rewritten), a second call after one append
  * ships only the delta, divergent replicas are refused, and a crashed
  * run resumes. Reference analog: `DistCpSync` (-diff copy).
  */
class ReplicateSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/replicate"

  private def wipe(locs: String*): Unit = locs.foreach { l =>
    val p = new Path(l)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def mtimes(loc: String): Map[String, Long] = {
    val p = new Path(s"$loc/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.startsWith("part-"))
          b += (st.getPath.toString -> st.getModificationTime)
      }
      b.result()
    }
  }

  test("full chain replicates: versions, markers, DVs; delta-only second call") {
    import spark.implicits._
    val src = s"$root/src1"; val dst = s"$root/dst1"
    wipe(src, dst)
    Snapshots.commitAppend((1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"),
      src, marker = Some("epoch-1"))
    Snapshots.commitDeleteMoR(spark, src, col("id") <= 10L)
    assert(Replicate.replicate(spark, src, dst) == 2L)
    // version chain + the exactly-once marker carried verbatim
    assert(Snapshots.latestVersion(spark, dst) == 2L)
    assert(Snapshots.markers(spark, dst).contains("epoch-1"))
    // the DV subtracts at the REPLICA (content-rewritten file refs)
    assert(Snapshots.read(spark, dst).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == (11L to 500L))
    // pinned history reads at the replica too
    assert(Snapshots.read(spark, dst, 1L).count() == 500L)
    // one append, second call: every already-shipped file byte-untouched
    val first = mtimes(dst)
    Snapshots.commitAppend(Seq((900L, "x")).toDF("id", "v"), src)
    assert(Replicate.replicate(spark, src, dst) == 3L)
    val second = mtimes(dst)
    first.foreach { case (f, m) =>
      assert(second.get(f).contains(m), s"re-copied a shipped file: $f")
    }
    assert(Snapshots.read(spark, dst).count() == 491L)
    // and a no-op call publishes nothing
    assert(Replicate.replicate(spark, src, dst) == 3L)
  }

  test("a diverged replica is refused, never merged") {
    import spark.implicits._
    val src = s"$root/src2"; val dst = s"$root/dst2"
    wipe(src, dst)
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), src)
    Replicate.replicate(spark, src, dst)
    // someone writes to the replica directly — a fork, not a replica
    Snapshots.commitAppend(Seq((2L, "rogue")).toDF("id", "v"), dst)
    Snapshots.commitAppend(Seq((3L, "src")).toDF("id", "v"), src)
    intercept[java.util.ConcurrentModificationException](
      Replicate.replicate(spark, src, dst))
    // the rogue row is still there — refusal, not destruction
    assert(Snapshots.read(spark, dst).filter(col("v") === "rogue").count() == 1)
  }

  test("a crashed run resumes: missing tip manifest re-publishes over shipped files") {
    import spark.implicits._
    val src = s"$root/src3"; val dst = s"$root/dst3"
    wipe(src, dst)
    Snapshots.commitAppend((1L to 100L).map(i => (i, i * 2)).toDF("id", "x"), src)
    Snapshots.commitAppend((101L to 200L).map(i => (i, i * 2)).toDF("id", "x"), src)
    Replicate.replicate(spark, src, dst)
    // simulate a crash AFTER the v2 copies landed but BEFORE its
    // manifest published: drop the replica's tip manifest
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dst/_manifests/v00002.txt"), false)
    val shipped = mtimes(dst)
    assert(Replicate.replicate(spark, src, dst) == 2L)
    // resume re-published the manifest without re-copying a byte
    mtimes(dst).foreach { case (f, m) =>
      assert(shipped.get(f).contains(m), s"resume re-copied $f") }
    assert(Snapshots.read(spark, dst).count() == 200L)
  }

  test("branches and tags ship with the table; the ref mirror tracks the source") {
    import spark.implicits._
    val src = s"$root/src5"; val dst = s"$root/dst5"
    wipe(src, dst)
    Snapshots.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    Refs.tag(spark, src, "seed")
    Snapshots.commitAppend((101L to 150L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    // a live WAP staging branch with its own commit on top of the fork
    Refs.createBranch(spark, src, "audit")
    Snapshots.commitAppend(Seq((900L, "staged")).toDF("id", "v"),
      Refs.branchLoc(src, "audit"))
    Replicate.replicate(spark, src, dst)
    // the branch reads at the replica: fork carry (parent files, by the
    // replica's own spelling) + the branch's own commit
    assert(Refs.listBranches(spark, dst) == Seq("audit"))
    val branchRows = Snapshots.read(spark, Refs.branchLoc(dst, "audit"))
      .as[(Long, String)].collect().map(_._1).sorted.toSeq
    assert(branchRows == ((1L to 150L) :+ 900L))
    // fork lineage survives: the replica's branch can still fast-forward
    assert(Refs.forkBase(spark, Refs.branchLoc(dst, "audit")) == 2L)
    // the tag pins the same version by name
    assert(Refs.tagVersion(spark, dst, "seed").contains(1L))
    assert(Snapshots.read(spark, dst, 1L).count() == 100L)
    // source moves its refs: publish+drop the branch, re-point the tag
    Refs.fastForward(spark, src, "audit")
    Refs.dropBranch(spark, src, "audit")
    Refs.dropTag(spark, src, "seed")
    Refs.tag(spark, src, "seed", 3L)
    Replicate.replicate(spark, src, dst)
    assert(Refs.listBranches(spark, dst).isEmpty,
      "a branch dropped at the source must leave the replica")
    assert(Refs.tagVersion(spark, dst, "seed").contains(3L))
    // the fast-forwarded publish reads at the replica
    assert(Snapshots.read(spark, dst).filter(col("v") === "staged").count() == 1)
  }

  test("a re-created source branch re-seeds the replica's; tags stay live across expire") {
    import spark.implicits._
    val src = s"$root/src6"; val dst = s"$root/dst6"
    wipe(src, dst)
    Snapshots.commitAppend((1L to 50L).map(i => (i, i)).toDF("id", "x"), src)
    Refs.tag(spark, src, "pin") // pins v1 through the expire below
    Refs.createBranch(spark, src, "wip")
    Snapshots.commitAppend(Seq((500L, 500L)).toDF("id", "x"),
      Refs.branchLoc(src, "wip"))
    Replicate.replicate(spark, src, dst)
    // the source drops and re-creates the branch from a NEW fork point —
    // same name, divergent chain: the replica's copy must re-seed
    Refs.dropBranch(spark, src, "wip")
    Snapshots.commitAppend((51L to 80L).map(i => (i, i)).toDF("id", "x"), src)
    Refs.createBranch(spark, src, "wip")
    Snapshots.commitAppend(Seq((600L, 600L)).toDF("id", "x"),
      Refs.branchLoc(src, "wip"))
    Snapshots.expire(spark, src, retainLast = 1) // the tag keeps v1 alive
    Replicate.replicate(spark, src, dst)
    val rows = Snapshots.read(spark, Refs.branchLoc(dst, "wip"))
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq
    assert(rows == ((1L to 80L) :+ 600L),
      s"re-seeded branch must carry the NEW chain: $rows")
    assert(Snapshots.read(spark, Refs.branchLoc(dst, "wip"))
      .filter(col("id") === 500L).count() == 0,
      "the old branch's commit must not survive the re-seed")
    // tag liveness: the pinned v1 manifest survived the source expire,
    // shipped, and time-travels at the replica by name
    assert(Refs.tagVersion(spark, dst, "pin").contains(1L))
    assert(Snapshots.read(spark, dst,
      Refs.tagVersion(spark, dst, "pin").get).count() == 50L)
  }

  test("withHistory ships every version's sidecars; default ships the tip's only") {
    import spark.implicits._
    val src = s"$root/src7"; val dstTip = s"$root/dst7a"; val dstAll = s"$root/dst7b"
    wipe(src, dstTip, dstAll)
    Snapshots.commitAppend((1L to 300L).map(i => (i, i)).toDF("id", "x")
      .coalesce(2), src)
    Snapshots.setAutoStats(spark, src, Seq("id")) // v1 sidecar
    Snapshots.commitAppend((301L to 600L).map(i => (i, i)).toDF("id", "x")
      .coalesce(2), src) // v2 + auto sidecar via policy
    Snapshots.autoStats(spark, src)
    def hasStats(loc: String, v: Long): Boolean = {
      val p = new Path(s"$loc/_manifests", f"v$v%05d.stats.txt")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    Replicate.replicate(spark, src, dstTip)
    assert(hasStats(dstTip, 2L) && !hasStats(dstTip, 1L),
      "default replicate must ship the TIP sidecar only")
    Replicate.replicate(spark, src, dstAll, withHistory = true)
    assert(hasStats(dstAll, 2L) && hasStats(dstAll, 1L),
      "withHistory must ship every version's sidecars")
    // the shipped historical sidecar actually PRUNES a pinned read at
    // the replica: v1's files classify against the replica's own paths
    val v1Files = Snapshots.version(spark, dstAll, 1L).files
    val kept = Snapshots.statFiles(spark, dstAll, 1L, v1Files, "id", "1", "5")
    assert(kept.length < v1Files.length,
      s"replicated v1 sidecar must prune: ${kept.length}/${v1Files.length}")
    assert(Snapshots.read(spark, dstAll, 1L).count() == 300L)
  }

  test("a bucket-layout table replicates co-partitioned: layout header + routed paths") {
    import spark.implicits._
    val src = s"$root/src4"; val dst = s"$root/dst4"
    wipe(src, dst)
    Snapshots.commitAppend((1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    BucketLayout.commitBucketed(spark, src, Seq("id"), Seq(4))
    Replicate.replicate(spark, src, dst)
    val v = Snapshots.latestVersion(spark, dst)
    assert(Snapshots.version(spark, dst, v).layout.contains("bucket,4,id"))
    assert(Snapshots.version(spark, dst, v).files
      .forall(f => BucketLayout.bucketOfPath(f).isDefined))
    assert(Snapshots.read(spark, dst).count() == 400L)
  }
}

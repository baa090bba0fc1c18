package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Snapshots

/** The DV broadcast map a scan plans from ([[SnapshotRowScan.loadDvMap]])
  * restricts to the KEPT file set BEFORE aggregation: a zone-map-pruned
  * point read of a DV-heavy version must not aggregate, collect, or ship
  * pruned files' position arrays (round-12 finding: the filter ran after
  * the driver collect — bounded, but ~100% dead weight on a pruned
  * scan). */
class DvScanMapSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/dvmap"

  test("loadDvMap returns vectors for kept files only, sorted positions") {
    import spark.implicits._
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val loc = s"$root/t"
    Snapshots.commitAppend(
      (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4), loc)
    // MoR-delete rows spread over every file → DV entries name all 4 files
    Snapshots.commitDeleteMoR(spark, loc, col("id") % 7 === 0)
    val v = Snapshots.latestVersion(spark, loc)
    val files = Snapshots.version(spark, loc, v).files
    val dvs = Snapshots.version(spark, loc, v).dvs
    assert(files.length == 4 && dvs.nonEmpty)
    val allNorm = files.map(SnapshotRowScan.norm)
    // full keep: every DV-bearing file appears, positions sorted
    val full = SnapshotRowScan.loadDvMap(spark, dvs, allNorm.toSet)
    assert(full.keySet == allNorm.toSet,
      s"every file holds a multiple of 7: $full")
    full.values.foreach(a => assert(a.toSeq == a.toSeq.sorted && a.nonEmpty))
    // pruned keep: ONLY the kept file's vector is aggregated/collected —
    // the contract the semi-join enforces executor-side
    val keptOne = Set(allNorm.head)
    val pruned = SnapshotRowScan.loadDvMap(spark, dvs, keptOne)
    assert(pruned.keySet == keptOne,
      s"pruned DV map must hold kept files only, got ${pruned.keySet}")
    assert(pruned(allNorm.head).toSeq == full(allNorm.head).toSeq)
    // empty keep: nothing collected
    assert(SnapshotRowScan.loadDvMap(spark, dvs, Set.empty).isEmpty)
    // the guard counts KEPT entries, not the whole vector set: a tight
    // limit passes when the kept subset fits…
    spark.conf.set("graft.snapshot.dv.maxScanEntries",
      full(allNorm.head).length.toString)
    try {
      assert(SnapshotRowScan.loadDvMap(spark, dvs, keptOne)
        .keySet == keptOne)
      // …and still trips on the full set
      intercept[IllegalArgumentException] {
        SnapshotRowScan.loadDvMap(spark, dvs, allNorm.toSet)
      }
    } finally spark.conf.unset("graft.snapshot.dv.maxScanEntries")
  }
}

package graft.sources.v2

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.ops.Snapshots

/** The `file:` filesystem, counting `listStatus` calls per directory. */
class ListCountingFs extends graft.core.LocalFs.Checked {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListCountingFs.lists.computeIfAbsent(Snapshots.normPath(p.toString),
      _ => new AtomicInteger).incrementAndGet()
    super.listStatus(p)
  }
}

object ListCountingFs {
  val lists = new ConcurrentHashMap[String, AtomicInteger]()
}

/** Spark plans a scan's input partitions more than once per read. The
  * row scan plans once per active-file set: the second plan is the
  * first one, so the pruning, the commit-directory listings and the
  * delete vectors' read and broadcast are not repeated. */
class RowScanPlanSpec extends SparkTestBase {

  test("planning one scan twice returns the same partitions and lists each commit directory once") {
    import spark.implicits._
    val loc = "/tmp/graft-test/rowscanplan/t"
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Snapshots.commitAppend((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), loc)
    Snapshots.commitAppend((201L to 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), loc)
    Snapshots.commitDeleteMoR(spark, loc, col("id") % 9 === 0)
    val v = Snapshots.version(spark, loc)
    val dirs = v.files.map(f => Snapshots.normPath(new Path(f).getParent.toString)).toSet
    assert(dirs.size == 2 && v.dvs.nonEmpty)
    val batch = new SnapshotRowScanBuilder(spark, v.schema.get, v.files, v.dvs, loc, v.version)
      .build().toBatch

    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[ListCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    ListCountingFs.lists.clear()
    val (first, second) =
      try (batch.planInputPartitions(), batch.planInputPartitions())
      finally {
        if (impl == null) conf.unset("fs.file.impl") else conf.set("fs.file.impl", impl)
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(first.length == v.files.length)
    assert(second sameElements first)
    dirs.foreach(d => assert(Option(ListCountingFs.lists.get(d)).map(_.get).contains(1),
      s"$d listed ${ListCountingFs.lists.get(d)} times"))
  }
}

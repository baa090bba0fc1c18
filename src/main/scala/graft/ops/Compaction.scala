package graft.ops

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.hadoop.fs.Path

/** Table compaction — the read-side small-files repair (OPTIMIZE-style
  * bin-packing), complementing [[Outputs.writeRebalanced]] which prevents
  * the damage at write time.
  *
  * The reference fixes small files only at job-input time, per job, via
  * CombineFileInputFormat (`CORE/mapreduce/lib/input/
  * CombineFileInputFormat.java:183` packs many files into one split);
  * every downstream job pays the packing again, and the NameNode keeps
  * carrying the file count. Compacting ONCE rewrites the directory into
  * ~`targetBytes` files so every later scan — any engine — reads sane
  * splits.
  *
  * Scale notes (100 TB):
  *  - the read side needs no shuffle: Spark's scan already packs multiple
  *    small files per task (`files.maxPartitionBytes` + `openCostInBytes`
  *    — the CombineFileInputFormat analog); the write side uses the AQE
  *    REBALANCE hint so output files land near the advisory size without
  *    a full sort.
  *  - the swap is directory-level rename + delete, the same
  *    commit-by-rename contract as FileOutputCommitter. On object stores
  *    you'd compact partition-by-partition and swap at the partition
  *    directory level instead; on 100 TB you also compact only
  *    partitions whose avg file size is under threshold, not the table.
  */
object Compaction {

  final case class Stats(filesBefore: Long, bytesBefore: Long,
                         filesAfter: Long, bytesAfter: Long)

  private def dataFiles(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    Snapshots.filesUnder(fs, p).map(f => (f.getPath.getName, f.getLen))
      .filter { case (n, _) => !n.startsWith("_") && !n.startsWith(".") }.toSeq
  }

  /** File count + bytes under `dir` (data files only, recursive). */
  def stats(s: SparkSession, dir: String): (Long, Long) = {
    val fs = dataFiles(s, dir)
    (fs.size.toLong, fs.map(_._2).sum)
  }

  /** Bin-pack the parquet directory at `dir` into ~`targetBytes` files,
    * preserving content exactly; returns before/after stats. The rewrite
    * goes to a sibling temp dir first and swaps in by rename, so readers
    * never observe a half-compacted directory. */
  def compactParquet(s: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Stats = {
    val (nb, bb) = stats(s, dir)
    val prev = s.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", targetBytes.toString)
    val tmp = dir.stripSuffix("/") + ".compact.tmp"
    try
      s.read.parquet(dir).hint("rebalance")
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    finally {
      prev.fold(s.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes"))(
        v => s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", v))
    }
    val hp = new Path(dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    fs.rename(new Path(tmp), hp)
    val (na, ba) = stats(s, dir)
    Stats(nb, bb, na, ba)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink surface (SURVEY.md §2.8): key<TAB>value text output, per-value
  * multiple outputs, Bloom-filtered and rebalanced parquet, null sink —
  * plain directory outputs, the MapReduce-parity writers. File commit
  * semantics (temp dir + rename, `lib/output/FileOutputCommitter.java:319`)
  * come free — Spark's InsertIntoHadoopFsRelationCommand drives the same
  * committer class. Snapshot tables (and the materialized views kept on
  * them, [[Mv]]) do not write through here: their files go through the
  * one direct snapshot writer, and a manifest claim publishes them. */
object Outputs {

  /** TextOutputFormat (`lib/output/TextOutputFormat.java:44`): one
    * `key<sep>value` line per record, default sep = tab (`:120`). Columns
    * beyond the first are joined into the value like the reference's
    * value.toString. */
  def writeTextKV(df: DataFrame, path: String, sep: String = "\t"): Unit =
    df.select(concat_ws(sep, df.columns.map(col): _*).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  def readTextKV(spark: SparkSession, path: String, sep: String = "\t",
                 numFields: Int = 2): DataFrame = {
    val arr = split(col("value"), java.util.regex.Pattern.quote(sep), numFields)
    spark.read.text(path)
      .select((0 until numFields).map(i => arr.getItem(i).as(s"f$i")): _*)
  }

  /** MultipleOutputs / MultipleTextOutputFormat
    * (`lib/output/MultipleOutputs.java:175`, per-record dynamic path):
    * path-by-value via partitionBy — each distinct value of `byCol`
    * becomes its own directory, written in one distributed pass (the
    * reference opens one RecordWriter per name per task). */
  def writeMultipleOutputs(df: DataFrame, path: String, byCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(byCol).parquet(path)

  /** BloomMapFile analog (`IO/BloomMapFile.java` — a MapFile plus a
    * DynamicBloomFilter so a point lookup of an ABSENT key skips the
    * index/data read entirely). Parquet has the same machinery built in:
    * a split-block bloom filter per row group per column, consulted by
    * the reader after min/max stats, so an equality probe for a missing
    * key prunes row groups without scanning them. Combined with
    * bucketing (the MapFile-analog layout already pinned in
    * TeraAndOpsSpec) a miss costs one bloom probe per row group of ONE
    * bucket's files. `ndv` sizes the filter (expected distinct values
    * per row group). */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 100000L, rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", rowGroupBytes.toString)
    bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)
  }

  /** Named side-outputs from one cached pass (the `mos.write(name, ...)`
    * style): each (name → filter) pair lands under its own subdirectory. */
  def writeNamedOutputs(df: DataFrame, path: String,
                        splits: Map[String, DataFrame => DataFrame]): Unit = {
    val cached = df.cache()
    try splits.foreach { case (name, f) =>
      f(cached).write.mode(SaveMode.Overwrite).parquet(s"$path/$name")
    } finally cached.unpersist()
  }

  /** NullOutputFormat (`lib/output/NullOutputFormat.java:36`): execute for
    * effects/metrics only, discard records — the noop sink forces full
    * computation (unlike count(), which lets Catalyst prune). */
  def nullSink(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).format("noop").save()

  /** Right-sized output files — the 100 TB small-files defense: an AQE
    * REBALANCE hint re-splits the final stage into partitions near
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, so a skewed or
    * over-partitioned plan still writes uniform, sanely-sized files
    * (the reference's CombineFileInputFormat fixes this on the READ side
    * after the damage; rebalancing prevents it at write time). */
  def writeRebalanced(df: DataFrame, path: String): Unit =
    df.hint("rebalance").write.mode(SaveMode.Overwrite).parquet(path)
}

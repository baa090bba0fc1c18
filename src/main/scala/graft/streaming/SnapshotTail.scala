package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Snapshots

/** Incremental consumption FROM a [[graft.ops.Snapshots]] table — the
  * source-side counterpart of [[SnapshotSink]]: a downstream job calls
  * [[processOnce]] on its own schedule and receives exactly the row
  * changes committed since ITS last successful run, tagged by version
  * ([[Snapshots.changeFeed]]), with progress tracked in an atomic
  * per-consumer cursor file.
  *
  * Delivery contract: AT-LEAST-ONCE with replay on crash — the cursor
  * advances (atomic rename, same primitive as the table's own commits)
  * only AFTER the handler returns, so a consumer that dies mid-handler
  * re-reads the same interval next run. Pair with an idempotent handler
  * (e.g. [[SnapshotSink.commitBatch]] keyed on the interval, or the MV
  * fold in [[graft.ops.Mv]], which tolerates a replayed delta folded
  * again from a rewound MV version) for end-to-end exactly-once.
  *
  * Scale notes: the cursor is one tiny file per consumer; the interval
  * read is [[Snapshots.changeFeed]]'s per-step symmetric file difference
  * — append-shaped histories cost the delta, never the table. Retention
  * rule: [[Snapshots.expire]] must retain back to the slowest consumer's
  * cursor, or that consumer's next interval starts at a missing version
  * (fails fast on the absent manifest rather than silently skipping).
  */
object SnapshotTail {

  private def cursorPath(checkpointDir: String) = new Path(checkpointDir, "cursor")

  /** The consumer's last fully-processed version (0 = never ran). */
  def position(s: SparkSession, checkpointDir: String): Long = {
    val p = cursorPath(checkpointDir)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Run `handler` over every change since this consumer's cursor, then
    * advance the cursor to the version the feed covered. Returns the new
    * cursor position (== the old one if the table hasn't moved — the
    * handler is NOT invoked on an empty interval). */
  def processOnce(s: SparkSession, loc: String, checkpointDir: String)
                 (handler: DataFrame => Unit): Long = {
    val from = position(s, checkpointDir)
    val to = Snapshots.latestVersion(s, loc)
    if (to <= from) return from
    handler(Snapshots.changeFeed(s, loc, from, to))
    val p = cursorPath(checkpointDir)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    f.mkdirs(p.getParent)
    val tmp = new Path(checkpointDir,
      s"_tmp_cursor_${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(s"$to\n".getBytes("UTF-8")) finally out.close()
    // plain rename (overwrite on local FS) is correct here: the cursor is
    // single-consumer-owned; last-writer-wins between two runs of the
    // SAME consumer both of which fully processed their interval is safe
    // (both wrote a version they completed)
    if (!f.rename(tmp, p)) { f.delete(p, false); f.rename(tmp, p) }
    to
  }
}

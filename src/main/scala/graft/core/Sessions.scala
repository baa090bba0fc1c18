package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-aware defaults.
  *
  * Local mode here is a correctness/bench harness; the settings are chosen
  * to behave the same way a 1000-executor cluster session would:
  *  - AQE on (runtime coalescing + skew-join splitting),
  *  - shuffle partitions sized to the machine, not the 200 default,
  *  - UTC so timestamp semantics match the DuckDB oracle,
  *  - nanosAsLong so the nanosecond-precision `events` parquet is readable
  *    (normalized back to TIMESTAMP_NTZ in [[Tables.events]]),
  *  - the engine's fork-free `file:` filesystem, [[LocalFs]], for every
  *    `file:` call, tasks included, unless the site `core-site.xml` names
  *    a `file:` filesystem.
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    started(withDefaults(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("graft")
      .getOrCreate())

  /** Local session WITH task retries (`local[N, F]`). Production
    * clusters run `spark.task.maxFailures=4`; plain `local[N]` is the
    * anomaly — one task failure fails the job — so a session meant to
    * behave like the cluster (and any fault-injection test of the
    * recovery story) needs this form. */
  def localResilient(cores: Int, maxTaskFailures: Int = 2): SparkSession =
    started(withDefaults(
        SparkSession.builder().master(s"local[$cores, $maxTaskFailures]"), cores)
      .appName("graft")
      .getOrCreate())

  /** Spark forks `getconf PAGESIZE` once per JVM, in the static
    * initializer of its executor process-tree metrics reader, which the
    * first executor-metrics poll runs 10–20 s into a session — in the
    * middle of whatever the session does then. Run that initializer as
    * the session starts, so a started session starts no process. */
  private def started(s: SparkSession): SparkSession = {
    try Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true,
      classOf[SparkSession].getClassLoader)
    catch { case _: ClassNotFoundException => () }
    s
  }

  def withDefaults(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // the engine's extensions (native expressions + persisted-view
      // DDL/substitution for snapshot catalogs) ship with every session
      // this factory builds — users outside it set spark.sql.extensions
      // themselves (GraftExtensions scaladoc)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // storage-partitioned joins: honor scan-reported
      // KeyGroupedPartitioning (bucket-layout snapshot tables join with
      // zero shuffle), tolerating one side missing some buckets
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // ... and when only ONE side is bucket-laid, shuffle just the
      // other side INTO the reported partitioning (evaluating the
      // catalog's bucket function) instead of shuffling both sides —
      // at 100 TB the laid-out fact is read in place
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.settings(new Configuration()).toMap)
}

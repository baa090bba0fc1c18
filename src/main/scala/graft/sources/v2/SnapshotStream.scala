package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Snapshots

/** Structured-Streaming SOURCE over a [[Snapshots]] table's change feed:
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.v2.SnapshotStreamProvider")
  *     .option("location", "/warehouse/snaps/orders")
  *     .load()                       // (change, _commit_version, row…)
  * }}}
  *
  * Offsets ARE versions — the natural exactly-once cursor the manifest
  * layer already provides — checkpointed by the engine, so a restarted
  * stream resumes at the first unprocessed commit (the DSv2 sibling of
  * the polling [[graft.streaming.SnapshotTail]] consumer, composing with
  * the exactly-once sinks). Each micro-batch plans ONE input partition
  * per file ADDED in the version interval, tagged with its introducing
  * version, and readers run Spark's own vectorized parquet reader over
  * that file — no diff job, no driver materialization: at 100 TB a
  * tailing consumer reads exactly the appended bytes.
  *
  * Append-only commits stream as inserts. A replace/DML/delete-vector
  * commit cannot be expressed as a per-file scan (its row delta needs
  * the two-sided multiset diff); the stream FAILS FAST on such a version
  * — the same contract public table-format streaming sources document —
  * unless `skipChangeCommits=true`, which skips those versions' rows
  * (downstream handles them out of band, e.g. via [[Snapshots.diff]]).
  * `startingVersion` (default 0) bounds the initial backfill.
  */
class SnapshotStreamProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val loc = SnapshotStreamProvider.location(options)
    val base = Snapshots.read(SparkSession.active, loc).schema
    SnapshotStreamProvider.feedSchema(base)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(schema, new CaseInsensitiveStringMap(properties))

  /** Writes hand the QUERY's schema to getTable (a write against an
    * empty directory has nothing to infer); reads without a user schema
    * still infer the feed schema. */
  override def supportsExternalMetadata(): Boolean = true
}

object SnapshotStreamProvider {
  private[v2] def location(options: CaseInsensitiveStringMap): String =
    Option(options.get("location")).getOrElse(throw new IllegalArgumentException(
      "option 'location' must point at a snapshot table directory"))

  private[v2] def feedSchema(base: StructType): StructType =
    StructType(
      StructField("change", StringType, nullable = false) +:
        StructField("_commit_version", LongType, nullable = false) +:
        base.fields.toIndexedSeq)
}

private[v2] class SnapshotStreamTable(schema: StructType,
                                      options: CaseInsensitiveStringMap)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private val loc = SnapshotStreamProvider.location(options)

  override def name(): String = s"graft-snapshot-stream($loc)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** `writeStream.format(SnapshotStreamProvider).option("location", …)`
    * — the provider route to the exactly-once streaming append
    * ([[SnapshotWrite.toStreaming]]); the catalog route is
    * `writeStream.toTable("<cat>.<table>")`. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write = {
        val spark = SparkSession.active
        new SnapshotWrite(spark, loc, info.schema(), layout = None,
          publish = Snapshots.publishAppend(spark, loc, _),
          streamQuery = Some(info.queryId()))
      }
    }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SnapshotMicroBatchStream(SparkSession.active, loc, schema,
            Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
            Option(options.get("skipChangeCommits")).exists(_.toBoolean),
            Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
      }
    }
}

private[v2] case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Admission-control unit for this source: COMMITS, not rows — a version
  * is the atomic replayable step, so rate limiting counts versions per
  * trigger (`maxVersionsPerTrigger`). */
private[v2] case class MaxVersions(versions: Long) extends ReadLimit

/** One input partition = one data file one commit added. */
private[v2] case class SnapshotFilePartition(file: String, length: Long,
                                             version: Long) extends InputPartition

private[v2] class SnapshotMicroBatchStream(spark: SparkSession, loc: String,
                                           schema: StructType,
                                           startingVersion: Long,
                                           skipChangeCommits: Boolean,
                                           maxVersionsPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def latestOffset(): Offset =
    VersionOffset(math.max(startingVersion, Snapshots.latestVersion(spark, loc)))
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- admission control: versions are the rate-limit unit ----
  // Trigger.AvailableNow pins the drain target at start; a rate-limited
  // run then takes ceil(backlog / maxVersionsPerTrigger) micro-batches to
  // reach it and stops — bounded batches even against a huge backlog,
  // no wrapper fallback.
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(math.max(startingVersion,
      Snapshots.latestVersion(spark, loc)))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(MaxVersions(_): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].version
    val target = availableNowCap.getOrElse(
      math.max(startingVersion, Snapshots.latestVersion(spark, loc)))
    limit match {
      case MaxVersions(n) => VersionOffset(math.min(target, from + n))
      case _ => VersionOffset(target)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].version
    val to = end.asInstanceOf[VersionOffset].version
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // one listing for the whole span, one manifest read per version
    val log = Snapshots.log(spark, loc)
    var prev = Snapshots.at(spark, loc, log, from)
    (from + 1 to to).foreach { v =>
      val cur = Snapshots.at(spark, loc, log, v)
      val removed = prev.files.filterNot(cur.files.toSet)
      val appendOnly = removed.isEmpty && prev.dvs == cur.dvs
      if (appendOnly) {
        val added = cur.files.filterNot(prev.files.toSet)
        // one listStatus per commit directory, not one RPC per file
        val sizes = Snapshots.fileSizes(spark, added)
        added.foreach { f =>
          parts += SnapshotFilePartition(f, sizes(Snapshots.normPath(f)), v)
        }
      } else if (!skipChangeCommits) {
        throw new IllegalStateException(
          s"version $v of $loc is a replace/DML/delete-vector commit, which " +
            "a file-granular stream cannot express as inserts; set " +
            "skipChangeCommits=true to skip it, or consume via " +
            "Snapshots.changeFeed / SnapshotTail")
      }
      prev = cur
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Spark's own parquet reader closure ([[V2ParquetRead]]), shipped to
    // executors by the factory. Row-returning mode: the stream appends
    // the (change, version) prefix per row via JoinedRow.
    val dataSchema = StructType(schema.fields.drop(2))
    new SnapshotPartitionReaderFactory(
      V2ParquetRead.rowReadFunc(spark, dataSchema))
  }
}

private[v2] class SnapshotPartitionReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SnapshotFilePartition]
    val it = readFunc(V2ParquetRead.partitionedFile(part.file, part.length))
    val meta = new GenericInternalRow(
      Array[Any](UTF8String.fromString("insert"), part.version))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = joined(meta, current)
      override def close(): Unit = ()
    }
  }
}

package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.ops.{BucketLayout, Snapshots}

/** Every SQL write into a snapshot table — `INSERT INTO` / `INSERT
  * OVERWRITE`, the group-based rewrite of `UPDATE` / `MERGE` / subquery
  * `DELETE`, and `writeStream.toTable` epochs. Data files land at their
  * final paths through [[SnapshotDataWriterFactory]] (no output
  * committer, no rename, no listing); the commit publishes exactly the
  * files the committed tasks named, so the manifest claim is the
  * statement's only atomic step. `publish` is the batch commit's
  * manifest step; `streamQuery` names the query whose epochs
  * `toStreaming` appends (None: not a streaming sink).
  *
  * With a bucket `layout` the write keeps it — the DSv2-native route
  * ([[RequiresDistributionAndOrdering]]) to what
  * [[graft.ops.BucketLayout.appendBucketed]] does through the Scala API,
  * so a SQL-only pipeline keeps its zero-Exchange join plan: without
  * this, a plain INSERT writes unrouted files and the layout header
  * (honestly, correctly) drops. The write declares to Spark exactly the
  * distribution the layout was built with — `clustered(bucket(n,
  * keys…))`, resolved against this catalog's own [[BucketFunction]], so
  * the INSERT's plan shuffles the incoming batch ONCE by the layout's
  * own hash recipe (O(batch), never O(table)) — and asks for rows sorted
  * by (bucket, keys…) within each task. Each writer then rolls a fresh
  * file whenever the bucket id changes, under its `__graft_bucket=<k>/`
  * path segment. Commit publishes through the same `routedLayout`
  * contract as `appendBucketed` — the layout header carries only if the
  * table STILL has exactly the spec this batch was hashed with (a
  * concurrent re-bucket drops the carry rather than corrupting
  * co-partitioned plans).
  *
  * Reference analog: the whole point of `CompositeInputFormat`
  * (CORE/…/lib/join/CompositeInputFormat.java:56) was that inputs STAY
  * co-partitioned across jobs — here an ingest job keeps them
  * co-partitioned with zero API detour.
  */
private[v2] class SnapshotWrite(spark: SparkSession, loc: String,
                                schema: StructType,
                                layout: Option[BucketLayout.Spec],
                                publish: Seq[String] => Long,
                                streamQuery: Option[String] = None)
  extends Write with RequiresDistributionAndOrdering {

  private val dataDir = s"$loc/data/${UUID.randomUUID()}"

  override def description(): String =
    s"snapshot-commit $dataDir" +
      layout.map(spec => s" (${BucketLayout.format(spec)})").getOrElse("")

  private def transforms =
    layout.toSeq.flatMap(spec => spec.columns.zip(spec.counts).map {
      case (c, n) => Expressions.bucket(n, c)
    })

  override def requiredDistribution(): Distribution =
    if (layout.isEmpty) Distributions.unspecified()
    else Distributions.clustered(transforms.map(t =>
      t: org.apache.spark.sql.connector.expressions.Expression).toArray)

  /** Pin the routing Exchange's partition count: without this it runs
    * at `spark.sql.shuffle.partitions` and AQE COALESCES the small
    * post-shuffle partitions — merging several buckets into one serial
    * writer task (measured 1.7x on the 24M-row ingest probe vs the API
    * path's exact routing). At exactly `buckets` partitions, bucket ids
    * still HASH-COLLIDE into tasks (~1/e slots idle, some tasks writing
    * 2-3 buckets serially — measured 1.25x vs the API append at n =
    * cores, the sharpest case); OVER-PROVISIONING 4x spreads distinct
    * bucket vectors across mostly-distinct tasks (expected collisions
    * n/8), cutting the makespan tail to ~1.05x while each bucket still
    * lands whole in ONE task (= one file). Empty partitions schedule
    * no-op tasks — noise next to a serialized bucket write. Collisions
    * only matter while the routed write fits in a few task WAVES
    * (tasks ≈ cores — one straggling 2-bucket task extends the
    * makespan); many waves amortize them, so the over-provision
    * threshold scales with the cluster: up to 8 waves of cores (floor
    * 1024 so small layouts behave identically everywhere), beyond that
    * 1:1 — a 4096-bucket layout over-provisions on the 4000-core
    * cluster where its ingest IS one wave, and stays 1:1 on the 32-core
    * box where 128 waves already amortize. No layout: no requirement. */
  override def requiredNumPartitions(): Int = layout.fold(0) { spec =>
    val cores = spark.sparkContext.defaultParallelism
    if (spec.buckets <= math.max(1024, 8 * cores))
      math.min(spec.buckets * 4, 65536)
    else spec.buckets
  }

  /** (bucket vector, keys…) ascending: the clustered distribution alone
    * lets a task receive several bucket vectors (they hash into tasks);
    * the sort groups them contiguously so the writer holds ONE open
    * file at a time, and keys within each file stay ordered for tight
    * row-group stats — same contract as the maintenance rewrite's
    * files. */
  override def requiredOrdering(): Array[SortOrder] =
    (transforms.map(t => Expressions.sort(t, SortDirection.ASCENDING)) ++
      layout.toSeq.flatMap(_.columns).map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)))
      .toArray

  override def toBatch: BatchWrite = new BatchWrite {
    // a group-based ReplaceData declares metadata attributes
    // (__graft_file), so Spark's DataAndMetadataWritingSparkTask applies
    // its own row projection: writers receive exactly `schema` rows
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      SnapshotWrite.writerFactory(spark, schema, dataDir, layout)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      try publish(SnapshotWrite.filesOf(messages))
      catch { case e: Throwable => abort(messages); throw e }
      // declared sidecar columns refresh with every SQL write —
      // incremental (new files only), best-effort (never fails the
      // already-published commit)
      Snapshots.autoStats(spark, loc)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val dir = new Path(dataDir)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
    }
  }

  /** EXACTLY-ONCE Structured-Streaming append — the DSv2 route to what
    * [[graft.streaming.SnapshotSink]] does via foreachBatch, so
    * `writeStream.toTable("snap.t")` (and `.format(SnapshotStreamProvider)`
    * with a `location` option) works end-to-end with no user-side
    * plumbing. Each epoch's files land under `data/stream-<query>-<epoch>`
    * and `commit(epochId, …)` publishes them with a
    * `batch=<queryId>/<epochId>` marker as a manifest HEADER line — data
    * and marker become visible in one atomic claim. A replayed epoch
    * (crash between write and checkpoint, or a zombie attempt racing a
    * restarted driver) either sees the marker up front or loses the
    * claim and sees it on re-read; both paths delete the duplicate files
    * and ack without publishing. The marker carries the QUERY id, so two
    * streams appending to one table never mistake each other's epoch
    * numbers for replays. On a bucket-laid table the epoch lands routed
    * and carries the layout, the same contract as
    * [[graft.streaming.SnapshotSink.snapshotTableBucketed]] (the
    * required distribution/ordering apply to the micro-batch plan
    * exactly as to a batch INSERT). Only APPEND output mode: complete /
    * update would need per-epoch replace semantics this format
    * expresses as explicit `commitReplace` calls instead. */
  override def toStreaming: StreamingWrite = streamQuery match {
    case None => super.toStreaming
    case Some(queryId) => new StreamingWrite {
      private val runDir = s"$loc/data/stream-$queryId"

      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory =
        SnapshotWrite.writerFactory(spark, schema, runDir, layout)

      override def commit(epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit = {
        val files = SnapshotWrite.filesOf(messages)
        val published = Snapshots.publishAppend(spark, loc, files,
          Some(s"batch=$queryId/$epochId"), schemaIfEmpty = Some(schema.json),
          routedLayout = layout.map(BucketLayout.format))
        // replayed epoch: this attempt's files are unreferenced garbage
        if (published < 0) abort(epochId, messages)
        else Snapshots.autoStats(spark, loc)
      }

      // a replayed epoch writes into the same epoch directory as the
      // committed attempt, so only the attempt's own files go
      override def abort(epochId: Long,
                         messages: Array[WriterCommitMessage]): Unit = {
        val fs = new Path(loc).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        SnapshotWrite.filesOf(messages).foreach(f => fs.delete(new Path(f), false))
      }
    }
  }
}

/** [[SnapshotWrite]] under a fixed bucket layout. */
private[v2] class SnapshotBucketedWrite(spark: SparkSession, loc: String,
                                        schema: StructType,
                                        spec: BucketLayout.Spec,
                                        publish: Seq[String] => Long)
  extends SnapshotWrite(spark, loc, schema, Some(spec), publish)

private[graft] object SnapshotWrite {

  /** The one writer factory of snapshot data files, for `schema` rows
    * under `dataDir` (routed by `layout` when given). Spark's own
    * parquet `OutputWriterFactory` does the encoding: `prepareWrite`
    * records the write support and schema on the JOB's configuration,
    * and that exact conf reaches the executors' task contexts. */
  private[graft] def writerFactory(spark: SparkSession, schema: StructType,
                                   dataDir: String,
                                   layout: Option[BucketLayout.Spec])
      : SnapshotDataWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    SnapshotDataWriterFactory(factory, schema, dataDir, layout,
      new SerializableConfiguration(job.getConfiguration))
  }

  /** The data files named by committed task messages, in task order. */
  private[graft] def filesOf(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap {
      case DataFilesMessage(files) => files
      case _ => Nil
    }
}

private[v2] case class DataFilesMessage(files: Seq[String])
  extends WriterCommitMessage

/** Direct-to-final-path parquet writer: each task opens its file lazily
  * (an empty task writes nothing, so no zero-row part reaches a
  * manifest) as `part-<task>-<uuid>` under `dataDir`, and its commit
  * message names the files it closed — no `_temporary` tree, no rename,
  * no `_SUCCESS`. Retried and speculative attempts write their own uuid
  * names; only the files of committed messages are ever published, and
  * the rest are orphans `expire`'s grace-window sweep reclaims.
  *
  * With a `layout` the writer ROUTES: it computes each row's per-column
  * bucket ids with the interpreted Murmur3 (lockstep with
  * `functions.hash` / [[BucketFunction]]), composes the mixed-radix
  * linear id, and writes the row under `__graft_bucket=<linear>/`,
  * rolling to a fresh file whenever the bucket changes. Input arrives
  * (buckets, keys…)-sorted, so exactly one file stays open; an unsorted
  * row stream just rolls extra files for the same bucket — more files,
  * never wrong routing.
  *
  * Serves batch and streaming alike: epoch e of a stream writes under
  * `<dataDir>-<e>`, so a replayed epoch's garbage is identifiable and an
  * abort never touches a committed epoch. */
private[graft] case class SnapshotDataWriterFactory(
    factory: OutputWriterFactory, schema: StructType, dataDir: String,
    layout: Option[BucketLayout.Spec], conf: SerializableConfiguration)
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    copy(dataDir = s"$dataDir-$epochId").createWriter(partitionId, taskId)

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID(
        "graft-snapshot", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt))
    val ext = factory.getFileExtension(ctx)
    val counts = layout.map(_.counts.toArray).getOrElse(Array.empty[Int])

    new DataWriter[InternalRow] {
      private var current: OutputWriter = _
      private var currentBucket = -1
      private var currentPath: String = _
      private val done = scala.collection.mutable.ArrayBuffer.empty[String]

      // per-column hash, seed 42 each (NULL → the bare seed), composed
      // mixed-radix — identical to BucketLayout.linearId. SPECIALIZED
      // per type at writer construction: the generic
      // Murmur3HashFunction.hash(Any, …) boxes every key of every row
      // (24M-row batches made it visible on the ingest probe); each
      // closure below is the primitive catalyst arm.
      private val hashers: Array[InternalRow => Int] = {
        import org.apache.spark.unsafe.hash.Murmur3_x86_32
        import org.apache.spark.sql.types._
        layout.toSeq.flatMap(_.columns).map { c =>
          val ord = schema.fieldIndex(c)
          schema(c).dataType match {
            case _: LongType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else Murmur3_x86_32.hashLong(r.getLong(ord), 42)
            case _: IntegerType | _: DateType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else Murmur3_x86_32.hashInt(r.getInt(ord), 42)
            case _: ShortType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else Murmur3_x86_32.hashInt(r.getShort(ord).toInt, 42)
            case _: ByteType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else Murmur3_x86_32.hashInt(r.getByte(ord).toInt, 42)
            case _: BooleanType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else Murmur3_x86_32.hashInt(if (r.getBoolean(ord)) 1 else 0, 42)
            case _: StringType => (r: InternalRow) =>
              if (r.isNullAt(ord)) 42
              else {
                val u = r.getUTF8String(ord)
                Murmur3_x86_32.hashUnsafeBytes(
                  u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
              }
            case other => (r: InternalRow) => // contract twin fallback
              if (r.isNullAt(ord)) 42
              else Murmur3HashFunction.hash(r.get(ord, other), other, 42L).toInt
          }
        }.toArray
      }

      /** The linear bucket id; 0 for an unrouted write. */
      private def bucketOf(row: InternalRow): Int = {
        var linear = 0
        var i = 0
        while (i < hashers.length) {
          linear = linear * counts(i) +
            java.lang.Math.floorMod(hashers(i)(row), counts(i))
          i += 1
        }
        linear
      }

      private def roll(bucket: Int): Unit = {
        closeCurrent()
        val dir = if (layout.isEmpty) dataDir
                  else s"$dataDir/__graft_bucket=$bucket"
        currentPath = s"$dir/part-$partitionId-${UUID.randomUUID()}$ext"
        current = factory.newInstance(currentPath, schema, ctx)
        currentBucket = bucket
      }

      private def closeCurrent(): Unit = if (current != null) {
        current.close()
        done += currentPath
        current = null
      }

      override def write(row: InternalRow): Unit = {
        val b = bucketOf(row)
        if (current == null || b != currentBucket) roll(b)
        current.write(row)
      }

      override def commit(): WriterCommitMessage = {
        closeCurrent()
        DataFilesMessage(done.toSeq)
      }

      override def abort(): Unit = {
        if (current != null) { current.close(); current = null }
        val fs = new Path(dataDir).getFileSystem(conf.value)
        (done.toSeq ++ Option(currentPath)).distinct.foreach(f =>
          fs.delete(new Path(f), false))
      }

      override def close(): Unit = ()
    }
  }
}

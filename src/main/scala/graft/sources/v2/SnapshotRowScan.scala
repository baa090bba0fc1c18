package graft.sources.v2

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Snapshots

/** Shared executor-side parquet row reader: Spark's own
  * `buildReaderWithPartitionValues` closure (broadcast hadoop conf
  * inside), row-returning mode, no pushed filters — so a file's rows
  * arrive complete and IN FILE ORDER, which is what the streaming source
  * relies on. */
private[v2] object V2ParquetRead {
  // Read schemas hand the parquet reader `asNullable` copies: a column
  // added by evolution is MISSING from older files, and the reader
  // errors on a missing column it believes required — nullability in a
  // read schema is an assertion about file bytes, and this format's
  // non-null guarantees come from the manifest schema + existence
  // defaults (which the reader fills from the surviving field
  // metadata), not from the files. Table-level nullability (INSERT
  // enforcement, relation output) is untouched.
  /** StructType.asNullable is private[spark]; same recipe (metadata —
    * including CURRENT/EXISTS_DEFAULT — survives the copy). */
  private[v2] def nullable(st: StructType): StructType =
    StructType(st.fields.map(f =>
      f.copy(nullable = true, dataType = nullableType(f.dataType))))
  private def nullableType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => nullable(s)
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullableType(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }

  def rowReadFunc(spark: SparkSession,
                  schema: StructType): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, nullable(schema), StructType(Nil), nullable(schema), Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())

  /** Reader for the per-file row scan: projects `required` columns, plus
    * a trailing native ROW-INDEX column when `withRowIndex` (the parquet
    * reader fills each row's TRUE position in its file — correct even
    * when the pushed `filters` skip whole row groups or records), under
    * the full table `dataSchema` so pushed filters may reference
    * unprojected columns. */
  def rowReadFuncPruned(spark: SparkSession, dataSchema: StructType,
                        required: StructType, filters: Seq[Filter],
                        withRowIndex: Boolean)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, nullable(dataSchema), StructType(Nil),
      if (withRowIndex) StructType(nullable(required).fields :+ StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
      else nullable(required),
      filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())

  def partitionedFile(file: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(file), 0L,
      length, Array.empty[String], 0L, length, Map.empty)
}

/** What a row-level operation's scan observed, shared with its write:
  * after Spark's runtime group filtering narrows the scan to the files
  * holding matching rows, the write REPLACES exactly those files and
  * carries the rest by reference. `None` (filter never invoked — group
  * filtering disabled, non-selective condition) means every file was
  * scanned: the conservative whole-table replace. */
private[v2] class RowLevelScanState {
  @volatile var scannedFiles: Option[Seq[String]] = None
}

/** Per-file row scan over a snapshot version — the one scan
  * implementation behind every read the delegated parquet `FileTable`
  * cannot express, composing four orthogonal capabilities:
  *
  *  - merge-on-read DELETE VECTORS: subtraction keyed on the reader's
  *    native row index (each row's true position in its file), so it
  *    stays correct under pushdown; vectors ship as ONE broadcast map of
  *    per-file sorted position arrays, read on the driver with no Spark
  *    job (`graft.snapshot.dv.maxScanEntries`, default 8M, fail-fasts a
  *    pathological vector toward compaction);
  *  - parquet filter pushdown + column pruning + zone-map file skipping
  *    (best-effort: every filter is also returned residual);
  *  - the `__graft_file` metadata column (each row's normalized data-file
  *    path), emitted as a per-partition constant;
  *  - runtime GROUP filtering ([[SupportsRuntimeV2Filtering]] on
  *    `__graft_file`): Spark's row-level-operation group filter feeds
  *    back the matching files, the scan narrows to them and records the
  *    set on [[RowLevelScanState]] so the write replaces only those
  *    files — SQL UPDATE/MERGE cost O(affected files), not O(table).
  *
  * `allowPushdown = false` (the row-level-rewrite path) declines filter
  * pushdown, column pruning, and zone-map skipping: a rewrite's scan
  * must return every live row of the files it reads, because what it
  * writes REPLACES those files. */
private[v2] class SnapshotRowScanBuilder(spark: SparkSession, schema: StructType,
                                         files: Seq[String], dvs: Seq[String],
                                         loc: String, version: Long,
                                         allowPushdown: Boolean = true,
                                         rowLevel: Option[RowLevelScanState] = None,
                                         layout: Option[(graft.ops.BucketLayout.Spec, Map[String, Int])] = None)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType =
    if (rowLevel.isDefined)
      StructType(schema.fields :+ SnapshotRowScan.fileField)
    else schema

  /** Best-effort pushdown: every filter is ALSO returned as residual, so
    * Spark re-evaluates it above the scan — the parquet reader's use of
    * the pushed set is pure skipping, never a correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (allowPushdown) pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (allowPushdown) required = requiredSchema

  // ---- metadata-only aggregates, same contract as ZoneMapScanBuilder:
  // a bucket-LAYOUT version reads through this builder, and its
  // filterless group-less COUNT(*)/MIN/MAX should answer from the stats
  // sidecar exactly like an unbucketed table's — a bucketed 100 TB fact
  // must not pay a full scan for count(*). DV-bearing versions refuse
  // (physical counts ≠ logical); the row-level path refuses (its scan
  // feeds a rewrite, never an aggregate).
  private var aggRow: Array[Any] = _
  private var aggSchema: StructType = _
  private def trySidecarAgg(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggRow != null) return true
    if (!allowPushdown || rowLevel.isDefined || dvs.nonEmpty ||
        pushed.nonEmpty) return false
    ZoneMapScanBuilder.wants(aggregation).flatMap { ws =>
      Snapshots.statAggValues(spark, loc, version, files, ws.map(_._1))
        .map { vals =>
          aggRow = vals.map(_._1).toArray
          aggSchema = StructType(ws.zip(vals).map { case ((w, name), (_, dt)) =>
            StructField(name, dt, nullable = w != Snapshots.StatCount)
          })
        }
    }.isDefined
  }
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    trySidecarAgg(aggregation)
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    trySidecarAgg(aggregation)

  override def build(): Scan = {
    if (aggRow != null)
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] =
          Array(InternalRow.fromSeq(aggRow.toIndexedSeq))
        override def readSchema(): StructType = aggSchema
        override def description(): String =
          s"SidecarAggregate v$version ${aggSchema.fieldNames.mkString(", ")}"
      }
    rowLevel match {
      case Some(state) =>
        new SnapshotRowScan(spark, schema, files, dvs, loc, version,
          allowPushdown, required, pushed) with SupportsRuntimeV2Filtering {
          override def filterAttributes(): Array[NamedReference] =
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .column(SnapshotRowScan.FileCol))
          override def filter(predicates: Array[Predicate]): Unit = {
            SnapshotRowScan.matchingFiles(predicates).foreach { keepNorm =>
              narrowTo(f => keepNorm.contains(SnapshotRowScan.norm(f)))
              state.scannedFiles = Some(activeFiles)
            }
          }
        }
      case None =>
        new SnapshotRowScan(spark, schema, files, dvs, loc, version,
          allowPushdown, required, pushed, layout)
    }
  }
}

private[v2] object SnapshotRowScan {

  /** DSv2 column statistics from the sidecars: exact min/max/nullCount
    * per provable covered column ([[Snapshots.sidecarColumnStats]]) plus
    * distinctCount from the ndv sketch sidecar
    * ([[graft.ops.BloomSidecar.ndvCounts]] — register-union over exactly
    * the active files, exact-or-absent like everything else). The ndv
    * merge is a small Spark job, so it runs only when the CBO is ON (the
    * only consumer of distinctCount) and never on DV-bearing versions
    * (sketch counts are physical). Values are Catalyst-internal (the V1
    * ColumnStat shape). */
  private[graft] def v2ColumnStats(spark: SparkSession, loc: String,
                                   version: Long, files: Seq[String],
                                   dvs: Seq[String])
      : java.util.Map[NamedReference,
                      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    val base: Seq[(String, Any, Any, Long)] =
      Snapshots.sidecarColumnStats(spark, loc, version, files, dvs)
        .map { case (c, _, mn, mx, nulls) => (c, mn, mx, nulls) }
    val ndv: Map[String, Long] =
      if (dvs.nonEmpty || !spark.sessionState.conf.cboEnabled) Map.empty
      else graft.ops.BloomSidecar.ndvCounts(spark, loc, version, files)
    val baseCols = base.map(_._1).toSet
    val rows = base ++ ndv.keysIterator.filterNot(baseCols)
      .map(c => (c, null: Any, null: Any, -1L))
    rows.foreach { case (c, mn, mx, nulls) =>
      m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
        new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def min(): java.util.Optional[Object] =
            java.util.Optional.ofNullable(mn.asInstanceOf[Object])
          override def max(): java.util.Optional[Object] =
            java.util.Optional.ofNullable(mx.asInstanceOf[Object])
          override def nullCount(): java.util.OptionalLong =
            if (nulls < 0) java.util.OptionalLong.empty()
            else java.util.OptionalLong.of(nulls)
          override def distinctCount(): java.util.OptionalLong =
            ndv.get(c).map(java.util.OptionalLong.of)
              .getOrElse(java.util.OptionalLong.empty())
        })
    }
    m
  }
  val FileCol = "__graft_file"
  val fileField: StructField = StructField(FileCol, StringType, nullable = true)
  def norm(p: String): String = Snapshots.normPath(p)

  /** The (file → sorted deleted-position array) map a DV-bearing scan
    * broadcasts, restricted to `keepNorm` (the files the — possibly
    * zone-map-pruned — scan will actually open): the vectors are read
    * on the driver ([[graft.ops.DeleteVectors.positions]], no Spark
    * job), and a pruned file's entries are dropped as they are read, so
    * neither the map nor the broadcast carries them. DVs are bounded
    * small by contract (compaction folds them); the guard counts the
    * KEPT entries and turns a pathological vector into a clear
    * instruction instead of a driver OOM at broadcast time. */
  def loadDvMap(spark: org.apache.spark.sql.SparkSession, dvs: Seq[String],
                keepNorm: Set[String]): Map[String, Array[Long]] = {
    val dead = graft.ops.DeleteVectors.positions(spark, dvs, keepNorm)
    val maxEntries = spark.conf.getOption("graft.snapshot.dv.maxScanEntries")
      .map(_.toLong).getOrElse(8L * 1000 * 1000)
    val n = dead.valuesIterator.map(_.length.toLong).sum
    require(n <= maxEntries,
      s"delete vectors hold $n entries (> $maxEntries) for the scanned " +
        "files — run Snapshots.commitCompaction (CALL <cat>.system" +
        ".optimize) to fold them before scanning, or raise " +
        "graft.snapshot.dv.maxScanEntries")
    dead
  }

  /** The linear bucket ids a pushed conjunction can possibly match, or
    * None when any layout column is not pinned to a finite value set —
    * the conservative no-pruning fallback. A conjunct proves column `c`
    * ∈ S via `c = v`, `c IN (…)`, or an OR-tree of those over the same
    * column; conjuncts that don't are IGNORED (ignoring a constraint
    * only keeps more buckets — always sound). Values hash through the
    * SAME interpreted Murmur3 as the routing writer and
    * [[BucketFunction]] (catalyst-converted first: UTF8String for
    * strings, days for dates), so the pruned set can never disagree
    * with where the writer put the row. Cross-products above 1024
    * combinations skip pruning rather than enumerate. */
  def prunedBuckets(pushed: Array[Filter], spec: graft.ops.BucketLayout.Spec,
                    schema: StructType): Option[Set[Int]] = {
    import org.apache.spark.sql.sources.{EqualTo, In, Or}
    def eqValues(f: Filter, c: String): Option[Seq[Any]] = f match {
      case EqualTo(a, v) if a == c && v != null => Some(Seq(v))
      case In(a, vs) if a == c && vs.nonEmpty && !vs.contains(null) =>
        Some(vs.toSeq)
      case Or(l, r) =>
        for (a <- eqValues(l, c); b <- eqValues(r, c)) yield a ++ b
      case _ => None
    }
    val perCol: Seq[Option[Seq[Any]]] = spec.columns.map { c =>
      val sets = pushed.toSeq.flatMap(f => eqValues(f, c))
      if (sets.isEmpty) None
      else Some(sets.reduce((x, y) => x.filter(y.toSet)))
    }
    if (perCol.exists(_.isEmpty)) return None
    val lists = perCol.map(_.get.distinct)
    if (lists.map(_.size.toLong).product > 1024L) return None
    val dts = spec.columns.map(c => schema(c).dataType)
    def bucketOf(value: Any, dt: org.apache.spark.sql.types.DataType,
                 n: Int): Int = {
      val cat = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(value)
      java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
          .hash(cat, dt, 42L).toInt, n)
    }
    // cross-product of per-column bucket sets → linear ids (mixed-radix,
    // same composition order as BucketLayout.linearId)
    val perColBuckets = lists.zip(dts).zip(spec.counts)
      .map { case ((vs, dt), n) => vs.map(v => bucketOf(v, dt, n)).distinct }
    val linear = perColBuckets.zip(spec.counts)
      .foldLeft(Seq(0)) { case (acc, (bs, n)) =>
        for { a <- acc; b <- bs } yield a * n + b
      }
    Some(linear.toSet)
  }

  /** The `__graft_file` values named by a runtime-filter IN predicate, or
    * None when no predicate has the recognized shape (→ prune nothing,
    * the conservative fallback). */
  def matchingFiles(predicates: Array[Predicate]): Option[Set[String]] = {
    val sets: Seq[Set[String]] = predicates.toSeq.collect {
      case p if p.name() == "IN" && p.children().nonEmpty &&
          p.children().head.isInstanceOf[NamedReference] &&
          p.children().head.asInstanceOf[NamedReference]
            .fieldNames().sameElements(Array(FileCol)) =>
        p.children().tail.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value != null => l.value.toString
        }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** v1 Filter → zone-map interval, the same over-approximation rule as
    * the catalyst side ([[ZoneMapScanBuilder]]): only numeric/string
    * values (the sidecar's CAST-AS-STRING encoding compares correctly),
    * strict bounds relaxed to inclusive, anything else prunes nothing. */
  private[v2] def v1Bound(f: Filter)
      : Option[(String, Option[String], Option[String])] = {
    def str(v: Any): Option[String] = v match {
      case null => None
      case _: java.lang.Number | _: String | _: BigDecimal => Some(v.toString)
      case _ => None
    }
    f match {
      case org.apache.spark.sql.sources.EqualTo(a, v) =>
        str(v).map(s => (a, Some(s), Some(s)))
      case org.apache.spark.sql.sources.EqualNullSafe(a, v) =>
        str(v).map(s => (a, Some(s), Some(s)))
      case org.apache.spark.sql.sources.GreaterThan(a, v) =>
        str(v).map(s => (a, Some(s), None))
      case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) =>
        str(v).map(s => (a, Some(s), None))
      case org.apache.spark.sql.sources.LessThan(a, v) =>
        str(v).map(s => (a, None, Some(s)))
      case org.apache.spark.sql.sources.LessThanOrEqual(a, v) =>
        str(v).map(s => (a, None, Some(s)))
      case _ => None
    }
  }
}

private[v2] class SnapshotRowScan(spark: SparkSession, schema: StructType,
                                  files: Seq[String], dvs: Seq[String],
                                  loc: String, version: Long,
                                  allowPushdown: Boolean,
                                  required: StructType, pushed: Array[Filter],
                                  layout: Option[(graft.ops.BucketLayout.Spec, Map[String, Int])] = None)
  extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** Bucket-layout versions report `KeyGroupedPartitioning(bucket(n1,
    * k1), bucket(n2, k2), …)` — ONE single-column transform per layout
    * key (the only shape Spark's SPJ machinery accepts) — and key every
    * input partition with its file's bucket VECTOR: Spark's
    * storage-partitioned join then plans a join of two co-bucketed
    * snapshot tables with ZERO Exchange on either side (the
    * CompositeInputFormat map-side join, Spark-native). Everything else
    * reports unknown. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    layout match {
      case Some((spec, byFile)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          spec.columns.zip(spec.counts).map { case (c, n) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, c): org.apache.spark.sql.connector.expressions.Expression
          }.toArray,
          activeFiles.map(f => byFile(SnapshotRowScan.norm(f))).distinct.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Bucket files are written SORTED by the layout key and the per-file
    * reader preserves file order (pushdown skips rows, never reorders;
    * DV subtraction is a forward walk), so when every bucket holds at
    * most ONE live file the scan's output ordering IS the key ascending
    * — reported here, letting the storage-partitioned merge join skip
    * its Sort nodes too. A bucket with several files (not produced by
    * commitBucketed, but reachable in principle) reports nothing:
    * grouped multi-file partitions interleave ranges. Nothing is
    * reported either while `allowCompatibleTransforms` is on: the
    * gcd-reducer SPJ (mismatched bucket counts) CONCATENATES two
    * sorted single-file buckets into one runtime partition, and Spark
    * consumes the scan's ordering claim BEFORE that reduction is
    * decided — a merge join trusting it would silently drop
    * back-jumping keys, so the conservative report costs one
    * per-partition Sort instead of wrong rows. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    layout match {
      case Some((spec, byFile))
          if spark.conf.get(
            "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
            "false") != "true" &&
            activeFiles.groupBy(f => byFile(SnapshotRowScan.norm(f)))
              .forall(_._2.length <= 1) =>
        spec.columns.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
          .toArray
      case _ => Array.empty
    }

  // runtime group filtering narrows this between the build-side scan
  // (which plans ALL files to find matching groups) and the main scan
  @volatile protected var activeFiles: Seq[String] = files
  protected def narrowTo(keep: String => Boolean): Unit =
    activeFiles = activeFiles.filter(keep)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot-row-scan $loc@v$version"

  /** Size = Σ live file lengths (one listStatus per commit directory) —
    * an upper bound under DVs, which is the conservative direction for
    * join planning. Without this a custom scan reports UNKNOWN and the
    * planner treats a small merge-on-read dim table as unbroadcastable.
    *
    * Rows = Σ sidecar per-file row counts − the delete-vector entries
    * naming live files, reported only when the sidecar PROVES every
    * active file (else empty, never a guess) — this is what lets Spark's
    * CBO reorder multi-joins over snapshot tables instead of falling
    * back to size heuristics. Pure metadata except the DV adjustment,
    * which reads only the tiny vector sidecars (the same driver-side
    * cost class the DV scan itself already pays). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val total =
        try fileLengths(activeFiles).values.sum
        catch { case _: java.io.IOException => -1L }
      private val rows: Option[Long] =
        Snapshots.sidecarNumRows(spark, loc, version, activeFiles, dvs)
      override def sizeInBytes(): java.util.OptionalLong =
        if (total < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats()
          : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
                          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        SnapshotRowScan.v2ColumnStats(spark, loc, version, activeFiles, dvs)
    }

  /** One listStatus per commit directory, not one getFileStatus per
    * file — keys are normalized paths ([[Snapshots.fileSizes]]). */
  private def fileLengths(fs0: Seq[String]): Map[String, Long] =
    Snapshots.fileSizes(spark, fs0)

  private val fileIdx = required.fieldNames.indexOf(SnapshotRowScan.FileCol)
  // parquet serves every required column except the synthesized one
  private val parquetCols = StructType(
    required.fields.filterNot(_.name == SnapshotRowScan.FileCol))
  require(fileIdx < 0 || fileIdx == required.length - 1,
    s"${SnapshotRowScan.FileCol} must be the trailing (metadata) column: $required")

  // Spark plans a scan's partitions more than once per read: the zone-map
  // and bucket pruning, the commit-directory listings and the vectors'
  // broadcast run once per active-file set (runtime group filtering
  // narrows it between the plans)
  @volatile private var planned: (Seq[String], Array[InputPartition]) = (null, null)

  override def planInputPartitions(): Array[InputPartition] = {
    val active = activeFiles
    val (key, parts) = planned
    if (key eq active) parts
    else {
      val p = plan(active)
      planned = (active, p)
      p
    }
  }

  private def plan(active: Seq[String]): Array[InputPartition] = {
    // driver-side zone-map file skipping applies to DV versions too: a
    // skipped file's DV entries are simply never consulted
    val keep =
      if (allowPushdown) {
        val ranged = pushed.foldLeft(active) { (fs, f) =>
          SnapshotRowScan.v1Bound(f) match {
            case Some((c, lo, hi)) =>
              Snapshots.statFilesBounds(spark, loc, version, fs, c, lo, hi)
            case None => fs
          }
        }
        // BUCKET pruning: zone maps can't skip on a hash-SCATTERED key
        // (every bucket file spans the full key range), but a point /
        // IN predicate on ALL layout columns pins the row's bucket by
        // the layout's own hash — a `WHERE id = k` lookup on a 100 TB
        // bucketed fact reads 1/n of the files before any I/O
        layout match {
          case Some((spec, byFile)) =>
            SnapshotRowScan.prunedBuckets(pushed, spec, schema) match {
              case Some(allowed) =>
                ranged.filter(f =>
                  allowed.contains(byFile(SnapshotRowScan.norm(f))))
              case None => ranged
            }
          case None => ranged
        }
      }
      else active
    if (keep.isEmpty) return Array.empty
    val deleted: Map[String, Array[Long]] =
      if (dvs.isEmpty) Map.empty
      else SnapshotRowScan.loadDvMap(spark, dvs, keep.map(SnapshotRowScan.norm).toSet)
    val lengths = fileLengths(keep)
    val bc = spark.sparkContext.broadcast(deleted)
    layout match {
      case Some((spec, byFile)) =>
        keep.map { f =>
          val n = SnapshotRowScan.norm(f)
          BucketedRowScanPartition(f, lengths(n), n, bc,
            spec.vectorOf(byFile(n)).toSeq): InputPartition
        }.toArray
      case None =>
        keep.map { f =>
          val n = SnapshotRowScan.norm(f)
          RowScanFilePartition(f, lengths(n), n, bc): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RowScanReaderFactory(
      V2ParquetRead.rowReadFuncPruned(spark, schema, parquetCols,
        pushed.toIndexedSeq, withRowIndex = dvs.nonEmpty),
      parquetCols, dvs.nonEmpty, fileIdx >= 0)
}

/** The per-file partition contract the reader factory consumes. */
private[v2] sealed trait FileScanPartition extends InputPartition {
  def file: String; def length: Long; def normPath: String
  def dvs: Broadcast[Map[String, Array[Long]]]
}

private[v2] case class RowScanFilePartition(file: String, length: Long,
                                            normPath: String,
                                            dvs: Broadcast[Map[String, Array[Long]]])
  extends FileScanPartition

/** A bucket-layout file partition: carries its bucket VECTOR (one id
  * per layout column) as the partition KEY, so Spark can group
  * same-keyed files and zip two co-bucketed scans into a shuffle-free
  * join. */
private[v2] case class BucketedRowScanPartition(file: String, length: Long,
                                                normPath: String,
                                                dvs: Broadcast[Map[String, Array[Long]]],
                                                bucket: Seq[Int])
  extends FileScanPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(bucket.map(b => b: Any).toArray)
}

/** Per-file reader: native parquet rows, optionally carrying a trailing
  * true row index (delete-vector subtraction by a forward pointer walk —
  * row indexes arrive strictly increasing) and optionally joined with
  * the partition's constant `__graft_file` value; the index column is
  * projected away before the row leaves the reader (one reused
  * projection per reader, no per-row allocation). */
private[v2] class RowScanReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    parquetCols: StructType, hasDv: Boolean, emitFile: Boolean)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[FileScanPartition]
    val it = readFunc(V2ParquetRead.partitionedFile(part.file, part.length))
    val dead =
      if (hasDv) part.dvs.value.getOrElse(part.normPath, Array.empty[Long])
      else Array.empty[Long]
    val width = parquetCols.length
    new PartitionReader[InternalRow] {
      // parquet row → (data columns)[, row index]; output → (data
      // columns)[, __graft_file]
      private val dataProj = ProjectingInternalRow(parquetCols, 0 until width)
      private val fileRow = new GenericInternalRow(
        Array[Any](UTF8String.fromString(part.normPath)))
      private val joined = new JoinedRow
      private var current: InternalRow = _
      private var di = 0
      override def next(): Boolean = {
        while (it.hasNext) {
          current = it.next()
          if (dead.length == 0) return true
          val pos = current.getLong(width) // the trailing row index
          while (di < dead.length && dead(di) < pos) di += 1
          if (di >= dead.length || dead(di) != pos) return true
        }
        false
      }
      override def get(): InternalRow =
        if (!hasDv && !emitFile) current
        else {
          if (hasDv) { dataProj.project(current) }
          val data: InternalRow = if (hasDv) dataProj else current
          if (emitFile) joined(data, fileRow) else data
        }
      override def close(): Unit = ()
    }
  }
}

package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, functions => F}

import graft.ops.Snapshots

/** A snapshot table as a FULL DSv2 table: reads delegate to Spark's
  * native parquet `FileTable` over the pinned manifest's explicit file
  * list (pushdown, pruning, vectorization intact), and the WRITE side
  * routes every SQL statement into the manifest commit protocol:
  *
  *  - `INSERT INTO snap.t ...`            → append commit through the
  *    one snapshot data writer ([[SnapshotWrite]]); on a bucket-laid
  *    table the write is ROUTED, so the layout (and the zero-Exchange
  *    SPJ plan) survives pure-SQL ingest
  *  - `DELETE FROM snap.t WHERE <pred>`   → [[Snapshots.commitDelete]]'s
  *    copy-on-write path when every conjunct translates to a v1 filter
  *    AND the table has no layout (`SupportsDelete` — the metadata-only
  *    route, rewriting ONLY affected files and carrying the rest by
  *    reference; under a layout the row-level path below runs instead,
  *    whose routed write keeps the layout at the same cost class)
  *  - `DELETE` with a subquery, `UPDATE`, `MERGE INTO` →
  *    `SupportsRowLevelOperations` group-based rewrite: Spark computes
  *    the surviving rows, writes them through the same data writer
  *    into a fresh commit directory, and the batch commit
  *    publishes them as a REPLACE of the version the scan pinned —
  *    with first-committer-wins conflict detection
  *    ([[Snapshots.publishReplaceExact]]): a concurrent commit between
  *    scan and publish raises ConcurrentModificationException instead
  *    of silently dropping its rows.
  *
  * Scale note: the group-based rewrite is whole-table granularity (the
  * delegated parquet scan exposes no group runtime-filter attributes),
  * so SQL UPDATE/MERGE cost a full rewrite — the API path
  * (`commitUpdate`/`commitMerge`) stays the stats-pruned
  * O(affected-files) route for hot paths; predicate-only DELETE takes it
  * automatically via `SupportsDelete`.
  *
  * Versions carrying merge-on-read delete vectors scan through the
  * DV-subtracting per-file reader ([[SnapshotDvScanBuilder]]), which
  * keeps parquet filter pushdown, column pruning, and zone-map file
  * skipping intact by keying the subtraction on the reader's native row
  * index; `commitCompaction` folds the vectors away entirely. Row-level
  * rewrites on such versions read DV-subtracted rows, so a SQL UPDATE
  * can never resurrect a deleted row.
  */
class SnapshotTable(ident: String, spark: SparkSession,
                    private[v2] val loc: String,
                    val snapshotVersion: Long,
                    private[v2] val pinned: Boolean, files: Seq[String],
                    manifestSchema: Option[StructType] = None,
                    dvs: Seq[String] = Nil,
                    layout: Option[graft.ops.BucketLayout.Spec] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** The version's bucket layout, ACTIVE only when every live file
    * carries its `__graft_bucket=<k>` path segment — a commit that mixed
    * in unbucketed files deactivates co-partitioned planning for the
    * whole version (correctness never depends on the layout). Carries
    * the per-file bucket ids the scan keys its input partitions with. */
  private val activeLayout: Option[(graft.ops.BucketLayout.Spec, Map[String, Int])] =
    layout.flatMap { spec =>
      val ids = files.map(f => f -> graft.ops.BucketLayout.bucketOfPath(f))
      if (files.nonEmpty && ids.forall(_._2.isDefined))
        Some((spec, ids.map { case (f, b) =>
          Snapshots.normPath(f) -> b.get }.toMap))
      else None
    }

  /** Declared table partitioning: the bucket transforms when the layout
    * is active, so `DESCRIBE` and the SPJ resolver both see it — and on
    * an EMPTY table the layout DECLARED at CREATE time (`PARTITIONED BY
    * (bucket(n, key))`), which every file the table will ever hold must
    * route through. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    (if (files.isEmpty) layout else activeLayout.map(_._1)).map { spec =>
      spec.columns.zip(spec.counts).map { case (c, n) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
      }.toArray
    }.getOrElse(Array.empty)

  /** One metadata column, `__graft_file` — each row's normalized data-
    * file path. It is both user-queryable (served by the per-file row
    * scan) and the GROUP identity of row-level operations: Spark's
    * runtime group filter keys on it to narrow a SQL UPDATE/MERGE to the
    * affected files. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = SnapshotRowScan.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = true
      override def comment(): String =
        "normalized path of the data file holding the row"
    })

  // the manifest's schema header (present on every commit since round
  // 10) replaces footer inference — and is the ONLY schema source for an
  // empty CREATEd table (zero files to infer from); files predating an
  // added column read it as null
  private val delegate = ParquetTable(ident, spark,
    CaseInsensitiveStringMap.empty(), files.toIndexedSeq, manifestSchema,
    classOf[ParquetFileFormat])

  override def name(): String = ident
  /** The manifest header's schema verbatim when present: the delegate
    * (Spark's FileTable) reports user schemas `asNullable`, which would
    * erase a `NOT NULL DEFAULT`-added column's nullability — the header
    * is this format's source of truth, including field metadata
    * (CURRENT/EXISTS_DEFAULT) and nullability. */
  override def schema(): StructType = manifestSchema.getOrElse(delegate.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** SQL reads get the SAME driver-side zone-map file skipping the API
    * path has ([[ZoneMapScanBuilder]] maps pushed range filters through
    * the version's stats sidecar and hands the parquet scan only the
    * surviving files — O(matching files) planning). Versions carrying
    * merge-on-read delete vectors scan through the DV-subtracting
    * per-file reader ([[SnapshotDvScanBuilder]]); compacted versions use
    * Spark's native parquet scan with full pushdown/pruning. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (files.isEmpty) delegate.newScanBuilder(options)
    // an ACTIVE bucket layout reads through the per-file row scan so the
    // scan can report KeyGroupedPartitioning with one keyed partition per
    // bucket — co-bucketed tables then join with zero Exchange (SPJ).
    // Gated on the SPJ session flag: without it Spark would ignore the
    // report anyway, so the table reads through the (vectorized) parquet
    // delegate instead. A per-read `bucket_grouping=false` option
    // (spark.read.option(...).table(t)) opts ONE relation out of the
    // report: bucket-grouped scans cap parallelism at the bucket count,
    // which is right for a co-partitioned join and wrong for a scan that
    // wants file/split parallelism — the hot branch of
    // [[graft.ops.Skew.hotIsolatedJoin]] reads this way
    else if (activeLayout.isDefined &&
        !"false".equalsIgnoreCase(options.get("bucket_grouping")) &&
        spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true")
      new SnapshotRowScanBuilder(spark, schema(), files, dvs, loc,
        snapshotVersion, layout = activeLayout)
    else if (dvs.isEmpty)
      new ZoneMapScanBuilder(spark, loc, snapshotVersion, files,
        { keep =>
          // a legacy schema-less table can't plan a zero-file scan (nothing
          // to infer from) — pruning to nothing falls back to the full list
          // there; schema-bearing tables plan the empty scan directly
          val eff = if (keep.isEmpty && manifestSchema.isEmpty) files else keep
          // asNullable: evolution-added columns are missing from older
          // files; the reader fills null / the existence default, and
          // erroring on "required column missing" would reject exactly
          // the NOT NULL DEFAULT case the format supports
          ParquetTable(ident, spark, CaseInsensitiveStringMap.empty(),
            eff.toIndexedSeq, manifestSchema.map(V2ParquetRead.nullable),
            classOf[ParquetFileFormat])
            .newScanBuilder(options)
        },
        // a projection naming __graft_file leaves the delegate (parquet
        // cannot synthesize it) for the per-file row scan, which serves
        // it with pushdown and skipping intact
        required => new SnapshotRowScanBuilder(spark, schema(), files, dvs,
          loc, snapshotVersion))
    else new SnapshotRowScanBuilder(spark, schema(), files, dvs, loc,
      snapshotVersion)

  private def requireMutable(op: String): Unit =
    if (pinned) throw new UnsupportedOperationException(
      s"$op on a pinned historical version (VERSION AS OF $snapshotVersion) — " +
        "only the latest version accepts writes")

  // ---- INSERT INTO: append commit; INSERT OVERWRITE: replace commit;
  //      writeStream.toTable: exactly-once streaming append ----
  /** Every SQL INSERT is one [[SnapshotWrite]]. On a table with a bucket
    * layout it declares the layout's own `clustered(bucket(n, keys…))`
    * distribution, files land routed, and the layout header (and with
    * it the zero-Exchange SPJ plan) SURVIVES pure-SQL ingest — batch
    * INSERTs and `writeStream.toTable` epochs alike (the streaming side
    * adds the exactly-once marker). Streaming is append-only: an
    * overwrite write has no streaming side. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireMutable("INSERT")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = {
        val fmt = layout.map(graft.ops.BucketLayout.format)
        new SnapshotWrite(spark, loc, info.schema(), layout,
          publish = newFiles =>
            if (replace) Snapshots.publishReplaceLoop(spark, loc, newFiles,
              Some(info.schema().json), layout = fmt)
            else Snapshots.publishAppend(spark, loc, newFiles,
              routedLayout = fmt),
          streamQuery = Option.when(!replace)(info.queryId()))
      }
    }
  }

  // ---- DELETE FROM with translatable predicates: copy-on-write commit ----
  // A single-column RANGE predicate (`ts < cutoff`, `lo <= ts AND ts < hi`,
  // point equality) takes the sidecar-classified retention path: files
  // wholly inside the range DROP as pure metadata, wholly-outside files
  // carry by reference, and only cutoff-straddling files rewrite — the
  // daily 100 TB "expire data older than N days" in O(straddling files).
  // It routes its rewrite, so range deletes are accepted even under an
  // active bucket layout. Anything else: commitDelete's generic CoW when
  // layout-free, else the row-level fallback (whose routed write keeps
  // the layout at the same O(affected files) cost class).
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && filters.forall(f => SnapshotTable.toColumn(f).isDefined) &&
      (layout.isEmpty || SnapshotTable.rangeOf(filters).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireMutable("DELETE")
    SnapshotTable.rangeOf(filters) match {
      case Some((c, lo, hi)) =>
        Snapshots.commitDeleteRange(spark, loc, c, lo, hi)
      case None =>
        val pred = filters.flatMap(SnapshotTable.toColumn)
          .reduceOption(_ && _).getOrElse(F.lit(true))
        Snapshots.commitDelete(spark, loc, pred)
    }
    Snapshots.autoStats(spark, loc)
  }

  // ---- UPDATE / MERGE / subquery DELETE: GROUP-granular rewrite ----
  /** The rewrite is group-based at FILE granularity: the operation
    * declares `__graft_file` as a required metadata attribute, its scan
    * exposes runtime group filtering on that column, and Spark's
    * `RowLevelOperationRuntimeGroupFiltering` narrows the scan to the
    * files that hold matching rows — the write then publishes replaced =
    * scanned files, carried = everything else BY REFERENCE (byte-
    * identical, SnapshotSqlDmlSpec pins mtimes), so a selective SQL
    * UPDATE/MERGE costs O(affected files), not O(table). If the runtime
    * filter never fires (disabled, non-selective condition), the scan
    * reads everything and the commit degrades to the exact whole-table
    * replace — never the other way around. First-committer-wins: a
    * concurrent commit between scan and publish raises
    * ConcurrentModificationException instead of dropping its rows.
    * Within the scanned files the scan declines pushdown and skipping
    * (their rows are REPLACED by what the rewrite writes, so every live
    * row must flow), and a DV-bearing version rewrites from
    * DV-SUBTRACTED rows (no resurrection) — carried files keep the
    * version's vectors, replaced files' entries go inert. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireMutable(info.command.toString)
    val base = snapshotVersion
    () => new RowLevelOperation {
      private val state = new RowLevelScanState
      override def command(): RowLevelOperation.Command = info.command
      override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(SnapshotRowScan.FileCol))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new SnapshotRowScanBuilder(spark, schema(), files, dvs, loc,
          snapshotVersion, allowPushdown = false, rowLevel = Some(state))
      override def newWriteBuilder(wi: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          private def publishGroups(newFiles: Seq[String],
                                    routed: Option[String]): Long = {
            val scanned = state.scannedFiles.map(_.toSet)
            val kept = scanned match {
              case Some(sc) => files.filterNot(sc.contains)
              case None => Nil // every file was scanned and rewritten
            }
            Snapshots.publishReplaceGroups(spark, loc, base, kept, newFiles,
              routedLayout = routed)
          }
          // a bucket-laid table ROUTES its row-level rewrite: replaced
          // groups' surviving rows land under their bucket paths (the
          // same RequiresDistributionAndOrdering write as INSERT), kept
          // files are routed already, and the exact-version publish
          // carries the layout — a 100 TB fact keeps its zero-Exchange
          // join plan through SQL UPDATE / MERGE / DELETE, not just
          // through ingest. Cost class unchanged: O(affected files)
          // via runtime group filtering, plus the batch-sized routing
          // shuffle the layout contract requires.
          override def build(): Write =
            new SnapshotWrite(spark, loc, wi.schema(), layout,
              publish = newFiles => publishGroups(newFiles,
                layout.map(graft.ops.BucketLayout.format)))
        }
    }
  }
}

object SnapshotTable {

  /** DELETE filters that form a single-column RANGE — the shape
    * [[graft.ops.Snapshots.commitDeleteRange]] classifies against the
    * stats sidecar. Accepts one lower and/or one upper comparison on one
    * top-level column (point `=` counts as both), plus IsNotNull riders
    * on that same column (implied by any comparison). Values render to
    * the sidecar's CAST-AS-STRING form; an unrenderable value (session-
    * zoned timestamp, NaN) declines and the generic path runs. */
  private[v2] def rangeOf(filters: Array[Filter])
      : Option[(String, Option[(String, Boolean)], Option[(String, Boolean)])] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    val conj = filters.toSeq.flatMap(flat)
    var column: Option[String] = None
    var lo: Option[(String, Boolean)] = None
    var hi: Option[(String, Boolean)] = None
    def claim(a: String): Boolean =
      !a.contains(".") && column.forall(_ == a) && { column = Some(a); true }
    val ok = conj.forall {
      case IsNotNull(a) => claim(a)
      case GreaterThan(a, v) if claim(a) && lo.isEmpty =>
        lo = renderLiteral(v).map((_, false)); lo.isDefined
      case GreaterThanOrEqual(a, v) if claim(a) && lo.isEmpty =>
        lo = renderLiteral(v).map((_, true)); lo.isDefined
      case LessThan(a, v) if claim(a) && hi.isEmpty =>
        hi = renderLiteral(v).map((_, false)); hi.isDefined
      case LessThanOrEqual(a, v) if claim(a) && hi.isEmpty =>
        hi = renderLiteral(v).map((_, true)); hi.isDefined
      case EqualTo(a, v) if claim(a) && lo.isEmpty && hi.isEmpty =>
        val r = renderLiteral(v).map((_, true)); lo = r; hi = r; r.isDefined
      case _ => false
    }
    if (ok && column.isDefined && (lo.isDefined || hi.isDefined))
      Some((column.get, lo, hi))
    else None
  }

  /** A v1-filter literal in the stats sidecar's `CAST(x AS STRING)`
    * rendering, or None when the round-trip is not provably
    * order-faithful (session-zoned timestamps shift across reader zones;
    * NaN/Infinity don't order). */
  private def renderLiteral(v: Any): Option[String] = v match {
    case null => None
    case _: java.sql.Timestamp | _: java.time.Instant => None // session-zoned
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: space-separated,
      // seconds always, micros fraction with trailing zeros trimmed —
      // exactly Spark's CAST(ntz AS STRING)
      val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-" +
        f"${t.getDayOfMonth}%02d ${t.getHour}%02d:${t.getMinute}%02d:" +
        f"${t.getSecond}%02d"
      val frac = f"${t.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
      Some(if (frac.isEmpty) base else s"$base.$frac")
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(f.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Boolean |
              _: BigDecimal | _: java.math.BigDecimal) => Some(n.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** v1 Filter → Column, the standard translatable subset; None marks a
    * filter `canDeleteWhere` must refuse (Spark then falls back to the
    * row-level rewrite path, which handles anything). */
  private[v2] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case StringContains(a, v) => Some(F.col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }
}

package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Snapshots

/** SQL surface for [[graft.ops.Snapshots]] time travel — a DSv2
  * `TableCatalog` that maps `<catalog>.<name>` (optionally
  * `<catalog>.<ns...>.<name>`) onto a snapshot-table directory under a
  * configured root, so the whole lifecycle becomes usable from PURE SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap",
  *     "graft.sources.v2.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.snap.root", "/warehouse/snaps")
  *
  *   spark.sql("SELECT * FROM snap.orders")                 -- latest
  *   spark.sql("SELECT * FROM snap.orders VERSION AS OF 2") -- pinned
  * }}}
  *
  * `VERSION AS OF n` arrives through `loadTable(ident, version)` — the
  * same hook Iceberg/Delta catalogs implement — and resolves to the
  * pinned manifest's EXPLICIT file list, handed to Spark's native
  * parquet `FileTable`. That keeps the scale properties of the API path
  * (`Snapshots.read`): no directory listing of the data tree, snapshot
  * isolation against concurrent commits, and the full parquet scan
  * stack (pushdown, column pruning, vectorized read) on top.
  *
  * The full lifecycle is SQL: DDL (CREATE/CTAS/ALTER ADD COLUMNS/DROP),
  * DML (INSERT/DELETE/UPDATE/MERGE, group-granular), maintenance
  * (`CALL <cat>.system.*`), and streaming reads/writes all resolve
  * through [[SnapshotTable]] into the same CAS commit protocol the API
  * exposes. Only history-rewriting changes (RENAME TABLE, column
  * rename/retype) are rejected — [[Snapshots.migrate]] is the shipped
  * recipe for those.
  */
class SnapshotCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"spark.sql.catalog.$name.root must point at the snapshot warehouse root"))
  }

  override def name(): String = catalogName

  // `t#branch` in the (backquoted) identifier name addresses a branch:
  // the resolved location is the branch's own manifest log, so every
  // verb — SELECT, INSERT, UPDATE, MERGE, DELETE, time travel — works
  // on a branch with zero new grammar (graft.ops.Refs)
  private def location(ident: Identifier): String =
    graft.ops.Refs.resolve(
      (root +: (ident.namespace() :+ ident.name()).toSeq).mkString("/"))

  /** Filesystem location of any catalog object (table or view) — what
    * the view DDL/substitution surface resolves against
    * ([[SnapshotViews]]); no branch-suffix handling (view names carry
    * no refs). */
  private[v2] def objectLocation(ns: Seq[String], name: String): String =
    (root +: (ns :+ name)).mkString("/")

  /** Location of a namespace directory under the warehouse root (the
    * `SHOW VIEWS IN <cat>[.<ns>]` listing scope). */
  private[v2] def namespaceLocation(ns: Seq[String]): String =
    (root +: ns).mkString("/")

  private def spark: SparkSession = SparkSession.active

  /** A directory is a table iff it has published at least one manifest. */
  override def tableExists(ident: Identifier): Boolean =
    Snapshots.latestVersion(spark, location(ident)) > 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_manifests")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, -1L)

  /** `VERSION AS OF <v>` — Spark routes the literal here as a string. A
    * non-numeric literal is a TAG name ([[graft.ops.Refs.tag]]): the
    * pinned version resolves through one tiny ref file, so `VERSION AS
    * OF 'prod-2026-08'` reads the blessed state by name. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident,
      try version.toLong
      catch { case _: NumberFormatException =>
        graft.ops.Refs.tagVersion(spark, location(ident), version)
          .getOrElse(throw new NoSuchTableException(
            Seq(catalogName) ++ ident.namespace() :+ ident.name())) })

  /** `TIMESTAMP AS OF <t>` — Spark hands the instant as MICROS; resolve
    * to the newest version whose manifest published at or before it
    * (manifest mtimes, one directory listing — no data touched). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val loc = location(ident)
    if (Snapshots.latestVersion(spark, loc) == 0)
      throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    // the table exists but predates nothing: a NoSuchTable here would
    // surface as a misleading "table not found" — name the real problem
    val v = Snapshots.versionAtTime(spark, loc, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF resolves before the first commit of " +
          s"$catalogName.${ident.toString} (asked ${timestamp}us)"))
    tableAt(ident, v)
  }

  /** `<cat>.<table>.history` / `<cat>.<table>.files` — table metadata AS
    * a table (the Iceberg idiom): commit history with file-set deltas,
    * and the served version's files with sizes and sidecar-proven row
    * counts. Resolved only when the base identifier IS a table, so a
    * real table named "history" under a namespace still wins. `VERSION
    * AS OF` pins which version `files` describes. */
  private def metaTable(ident: Identifier, version: Long): Option[Table] = {
    val ns = ident.namespace()
    if (ns.isEmpty) return None
    val baseLoc = graft.ops.Refs.resolve((root +: ns.toSeq).mkString("/"))
    if (Snapshots.latestVersion(spark, baseLoc) == 0) return None
    val full = s"$catalogName.${ident.toString}"
    ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "history" =>
        Some(new SnapshotMetaTable(full, () => Snapshots.history(spark, baseLoc)))
      case "files" =>
        Some(new SnapshotMetaTable(full,
          () => Snapshots.filesMeta(spark, baseLoc, version)))
      case "stats" =>
        Some(new SnapshotMetaTable(full,
          () => Snapshots.statsMeta(spark, baseLoc, version)))
      case "buckets" =>
        // bucket-layout skew introspection: hottest bucket first, so a
        // Zipf-hot key is visible BEFORE it straggles every SPJ
        Some(new SnapshotMetaTable(full,
          () => Snapshots.bucketsMeta(spark, baseLoc, version)))
      case "refs" =>
        Some(new SnapshotMetaTable(full,
          () => graft.ops.Refs.refsMeta(spark, baseLoc)))
      case "mvs" =>
        // the MVs registered over this base, with STALENESS as data: a
        // dashboard query on `t.mvs` answers "will my aggregate route,
        // and how far behind is it?" before anyone debugs a plan
        Some(new SnapshotMetaTable(full,
          () => graft.ops.Mv.mvsMeta(spark, baseLoc)))
      case "constraints" =>
        Some(new SnapshotMetaTable(full,
          () => graft.ops.Constraints.meta(spark, baseLoc)))
      case "changes" =>
        // the CDC delta INTO the served version (one commit's change
        // feed): `VERSION AS OF n` pins which commit — `t.changes`
        // alone reads the latest commit's delta. Cost is O(changed
        // files), the manifest-diff rule (Snapshots.diff scaladoc).
        Some(new SnapshotMetaTable(full, () => {
          val v = if (version < 0) Snapshots.latestVersion(spark, baseLoc)
                  else version
          Snapshots.diff(spark, baseLoc, v - 1, v)
        }))
      case _ => None
    }
  }

  private def tableAt(ident: Identifier, version: Long): Table = {
    val loc = location(ident)
    val latest = Snapshots.latestVersion(spark, loc)
    if (latest == 0)
      return metaTable(ident, version).getOrElse(
        throw new NoSuchTableException(
          Seq(catalogName) ++ ident.namespace() :+ ident.name()))
    val v = if (version < 0) latest else version
    // a stale/expired version surfaces as NoSuchTable with the version
    // spelled out, not a planner-time file-not-found
    val files =
      try Snapshots.versionFiles(spark, loc, v)
      catch { case _: NoSuchElementException => throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ s"${ident.name()}@v$v") }
    new SnapshotTable(s"$catalogName.${ident.toString}@v$v", spark, loc, v,
      pinned = version >= 0, files, Snapshots.versionSchema(spark, loc, v),
      Snapshots.versionDvs(spark, loc, v),
      Snapshots.versionLayout(spark, loc, v)
        .flatMap(graft.ops.BucketLayout.parse))
  }

  /** The one V2 function this catalog defines: `bucket(n, key)`, the
    * layout function storage-partitioned joins resolve against
    * ([[BucketFunction]]). Spark's partitioning resolver looks it up
    * with an EMPTY namespace; `system` is accepted for symmetry with
    * the procedures. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ns = ident.namespace()
    val nsOk = ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("system"))
    if (nsOk && ident.name().equalsIgnoreCase("bucket")) BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        (namespace.length == 1 && namespace(0).equalsIgnoreCase("system")))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  /** Lifecycle maintenance as SQL procedures (`CALL <cat>.system.…` —
    * [[SnapshotProcedures]]): optimize, expire, attach_stats,
    * delete_mor. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ns = ident.namespace()
    if (ns.nonEmpty && !(ns.length == 1 && ns(0).equalsIgnoreCase("system")))
      throw new IllegalArgumentException(
        s"procedures live in the 'system' namespace: $catalogName.system.${ident.name()}")
    SnapshotProcedures.load(ident.name(), root).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name()}; available: " +
          SnapshotProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapshotProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only snapshot catalog: $op must go through " +
        "the Snapshots commit API (commitAppend/commitReplace)")

  /** `CREATE TABLE` / CTAS: publish an empty version 1 carrying only the
    * schema header — the table exists, with a schema, before its first
    * row; `INSERT INTO` (and CTAS's follow-up append write) commit data
    * on top.
    *
    * `PARTITIONED BY (bucket(n₁, c₁)[, bucket(n₂, c₂)…])` declares the
    * BUCKET LAYOUT AT BIRTH: the empty version carries the `#layout=`
    * header, so the first INSERT (or the CTAS backfill write) routes
    * through the routed [[SnapshotWrite]] and the table is co-partition-
    * joinable from its first row — no post-hoc `CALL system.bucket`
    * rewrite. One single-column transform per key (the only shape
    * Spark's SPJ machinery plans — composite keys are a transform PER
    * column, never one multi-column hash); any other transform (identity
    * / days / hours / truncate) is rejected: value layout in this format
    * is zone-map sidecars over clustered files, not directories. */
  override def createTable(ident: Identifier,
                           schema: org.apache.spark.sql.types.StructType,
                           partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
                           properties: util.Map[String, String]): Table = {
    val layout = SnapshotCatalog.layoutOfTransforms(partitions, schema)
    val loc = location(ident)
    if (Snapshots.latestVersion(spark, loc) > 0)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    if (graft.ops.Views.exists(spark, loc))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ s"${ident.name()} (a VIEW)")
    Snapshots.createEmpty(spark, loc, schema,
      layout.map(graft.ops.BucketLayout.format))
    // declared stat/Bloom columns at birth: TBLPROPERTIES
    // ('stats.columns'='a,b' [, 'bloom.columns'='k']) is CALL auto_stats
    // folded into the CREATE — every write this table ever takes
    // maintains its sidecars
    def csv(key: String): Seq[String] = Option(properties.get(key))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val (statCols, bloomCols, gramCols, ndvCols) =
      (csv("stats.columns"), csv("bloom.columns"), csv("gram.columns"),
        csv("ndv.columns"))
    if (statCols.nonEmpty || bloomCols.nonEmpty || gramCols.nonEmpty ||
        ndvCols.nonEmpty)
      Snapshots.setAutoStats(spark, loc, statCols, bloomCols, gramCols, ndvCols)
    // CHECK constraints at birth: TBLPROPERTIES ('check.<name>'='<pred>')
    // is CALL add_constraint folded into the CREATE (the table is empty,
    // so add-time validation is trivially satisfied)
    properties.forEach { (k, v) =>
      if (k.startsWith("check."))
        graft.ops.Constraints.add(spark, loc, k.stripPrefix("check."), v)
    }
    loadTable(ident)
  }

  /** Column DEFAULTs are supported on CREATE and ADD COLUMNS: the
    * default rides the schema header as the standard field metadata
    * (`CURRENT_DEFAULT` for future INSERTs, `EXISTS_DEFAULT` — the
    * add-time constant — for rows in files that predate the column), so
    * a 100 TB table evolves with a non-null-filled column in one
    * metadata commit, zero files rewritten: the parquet readers emit
    * the existence default for files missing the column. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `ALTER TABLE … ADD COLUMNS` — the one evolution this format defines
    * (additive): a pure metadata commit widening the schema header; no
    * file touched, existing rows read the new columns as null — or as
    * the declared DEFAULT (`EXISTS_DEFAULT` semantics: the constant at
    * add time, never re-evaluated). Every other change
    * (rename/drop/retype/reposition) is rejected — they would require
    * rewriting history or break pinned readers. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // SET / DROP DEFAULT: pure metadata commits updating CURRENT_DEFAULT
    // only — EXISTS_DEFAULT (what pre-column files read) stays frozen at
    // add time by design; changing it would rewrite history's values
    val (defaultChanges, columnChanges) = changes.partition(
      _.isInstanceOf[TableChange.UpdateColumnDefaultValue])
    defaultChanges.foreach { case u: TableChange.UpdateColumnDefaultValue =>
      if (u.fieldNames().length != 1) throw new UnsupportedOperationException(
        "nested column defaults are not supported")
      Snapshots.commitSetDefault(spark, location(ident), u.fieldNames()(0),
        Option(u.newDefaultValue()).filter(_.nonEmpty))
    }
    if (columnChanges.isEmpty) return loadTable(ident)
    val adds = columnChanges.map {
      case a: TableChange.AddColumn =>
        if (a.fieldNames().length != 1) throw new UnsupportedOperationException(
          "nested column additions are not supported")
        if (a.position() != null) throw new UnsupportedOperationException(
          "column positions are not supported; new columns append at the end")
        val dv = Option(a.defaultValue())
        // never silently drop a declared constraint: existing rows WOULD
        // read the new column as null, so a NOT NULL addition is a lie —
        // UNLESS a non-null DEFAULT fills them
        if (!a.isNullable && !dv.exists(_.getValue.value() != null))
          throw new UnsupportedOperationException(
            s"ADD COLUMNS ${a.fieldNames()(0)} NOT NULL is not supported " +
              "without a non-null DEFAULT: added columns must be nullable " +
              "(existing rows fill with null) unless an existence default " +
              "fills them")
        val base = org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = a.isNullable)
        dv.map { d =>
          // EXISTS_DEFAULT is the FOLDED constant (getValue is already a
          // literal); CURRENT_DEFAULT keeps the user's SQL for future
          // INSERT analysis — the split Spark's own evolution maintains
          val lit = org.apache.spark.sql.catalyst.expressions.Literal(
            d.getValue.value(), d.getValue.dataType())
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(base.metadata)
            .putString("CURRENT_DEFAULT", Option(d.getSql).getOrElse(lit.sql))
            .putString("EXISTS_DEFAULT", lit.sql)
            .build())
        }.getOrElse(base)
      case other => readOnly(s"ALTER TABLE change ${other.getClass.getSimpleName}")
    }
    Snapshots.commitAddColumns(spark, location(ident),
      org.apache.spark.sql.types.StructType(adds.toIndexedSeq))
    loadTable(ident)
  }

  /** `DROP TABLE`: removes the table directory — manifests, data, and
    * sidecars — irreversibly (there is no catalog-level trash here). */
  override def dropTable(ident: Identifier): Boolean = {
    val loc = location(ident)
    if (Snapshots.latestVersion(spark, loc) == 0) false
    else {
      val p = new Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")
}

object SnapshotCatalog {

  /** `PARTITIONED BY` transforms → a [[graft.ops.BucketLayout.Spec]]
    * declared at CREATE time. Accepts exactly the shape the SPJ planner
    * can use — one `bucket(n, col)` per top-level column, n ≥ 1, no
    * column twice, every key type one [[BucketFunction]] can bind (the
    * same gate the scan's transform report goes through, so a layout
    * this accepts is a layout SPJ can plan). Everything else fails at
    * CREATE with the reason, never at first read. */
  private[v2] def layoutOfTransforms(
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      schema: org.apache.spark.sql.types.StructType)
      : Option[graft.ops.BucketLayout.Spec] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}
    if (partitions.isEmpty) return None
    val keys = partitions.toSeq.map { t =>
      if (!t.name().equalsIgnoreCase("bucket"))
        throw new UnsupportedOperationException(
          s"snapshot tables take only bucket(n, col) partition transforms " +
            s"(got ${t.describe()}); for value locality cluster the written " +
            "DataFrame and attach zone-map stats (CALL <catalog>.system" +
            ".attach_stats) — range scans then plan only intersecting files")
      val counts = t.arguments().collect {
        case l: VLiteral[_] if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }
      val refs = t.arguments().collect { case r: NamedReference => r }
      if (counts.length != 1 || refs.length != 1)
        throw new UnsupportedOperationException(
          s"each bucket transform takes exactly one column — spell a " +
            s"composite key as bucket(n1, c1), bucket(n2, c2) (got ${t.describe()}); " +
            "a single multi-column hash cannot engage storage-partitioned joins")
      if (counts.head < 1) throw new IllegalArgumentException(
        s"bucket count must be >= 1: ${t.describe()}")
      if (refs.head.fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"bucket keys must be top-level columns: ${t.describe()}")
      val name = refs.head.fieldNames()(0)
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"bucket key '$name' is not a column of the table (have: " +
            schema.fieldNames.mkString(", ") + ")"))
      // same type gate as the SPJ resolver: unbucketable key types fail
      // the CREATE, not the first co-partitioned plan
      BucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
        field)))
      (field.name, counts.head)
    }
    val dup = keys.groupBy(_._1.toLowerCase).collectFirst {
      case (_, vs) if vs.length > 1 => vs.head._1
    }
    dup.foreach(c => throw new IllegalArgumentException(
      s"bucket key '$c' appears in more than one transform"))
    Some(graft.ops.BucketLayout.Spec(keys.map(_._1), keys.map(_._2)))
  }
}

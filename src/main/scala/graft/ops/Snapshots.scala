package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned table snapshots over immutable data files — a minimal
  * manifest-based table format (the mechanism behind Iceberg/Delta-style
  * snapshot isolation, built from the same two primitives the reference's
  * FileOutputCommitter trusts: immutable files + atomic rename).
  *
  * Layout: `<loc>/data/<commit-uuid>/part-*.parquet` (never rewritten),
  * `<loc>/_manifests/v<NNNNN>.txt` (one live data-file path per line).
  * A commit writes its files under a fresh data subdirectory, then
  * publishes the next manifest listing ALL live files with a single
  * no-overwrite rename. Readers pin one manifest, so:
  *  - a reader never sees a half-committed batch (the manifest appears
  *    atomically, after the files it names);
  *  - a commit never disturbs a running read (no file it reads changes);
  *  - any historical version stays readable until explicitly expired —
  *    time travel over the whole TABLE, complementing the row-level
  *    SCD2 `snapshotAsOf` in [[Merge]].
  *
  * Concurrency: every verb commits through ONE optimistic primitive,
  * [[commit]]. A round lists `_manifests` once, lets the verb derive its
  * next manifest from that tip, and [[claim]]s `v<tip+1>` — a unique
  * temp file, then an exactly-once no-overwrite claim: a hard link on
  * the local FS (link(2) fails EEXIST, atomically), the FileContext
  * `Rename.NONE` rename elsewhere (atomic server-side on HDFS). A loser
  * deletes its attempt's scratch files, re-reads the new tip — picking
  * up the winner's files — and retries at the next version, so
  * concurrent appends serialize with no version lost; [[commit]] owns
  * the only retry bound. Deployment precondition (the usual table-format
  * rule): the manifest directory must live on a filesystem with atomic
  * no-overwrite rename (HDFS, or an object store fronted by a consistent
  * metastore); raw S3 renames are copy+delete and cannot fence two
  * writers.
  *
  * Scale notes (100 TB): commits append ONLY their delta's files; the
  * manifest is O(live files), not O(rows), and is written by the driver
  * (a 100k-file table is a ~10 MB manifest). Version reads hand Spark an
  * explicit file list — no directory listing of the whole table, which
  * on object stores is the slow path. Expiry = delete manifests older
  * than the retention horizon plus any data file no surviving manifest
  * names (with a modification-time grace window protecting in-flight
  * commits, the Delta/Iceberg vacuum rule).
  */
object Snapshots {

  private[graft] def fs(s: SparkSession, loc: String) =
    new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def manifestDir(loc: String) = new Path(loc, "_manifests")

  /** THE listing of `_manifests` — every surviving version, oldest
    * first, each parsed lazily ([[Version]]) and carrying its publish
    * time (the manifest's mtime). One `listStatus`: a missing directory
    * is an empty log, not an extra existence probe. */
  private[graft] def log(s: SparkSession, loc: String): IndexedSeq[Version] = {
    val listed =
      try fs(s, loc).listStatus(manifestDir(loc))
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.iterator.filter(_.getPath.getName.matches("v\\d+\\.txt"))
      .map(st => new Version(s,
        st.getPath.getName.stripPrefix("v").stripSuffix(".txt").toLong,
        Some(st.getPath), st.getModificationTime))
      .toIndexedSeq.sortBy(_.version)
  }

  /** Version `v` of the table — THE read of a version: one listing, every
    * field (files, delete vectors, schema, layout, MV cursor) served
    * lazily from the one object. `v < 0` = the tip; 0 = the empty
    * pre-history every table starts from (no manifest, no files) — what
    * lets [[diff]]/[[changeFeed]] treat "since the beginning" as just
    * another interval. */
  private[graft] def version(s: SparkSession, loc: String, v: Long = -1L): Version =
    at(s, loc, log(s, loc), v)

  /** [[version]] `v` of an already-listed [[log]]. */
  private[graft] def at(s: SparkSession, loc: String, log: Seq[Version],
                        v: Long): Version =
    if (v == 0L) new Version(s, 0L, None)
    else if (v < 0) log.lastOption.getOrElse(new Version(s, 0L, None))
    else log.find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"version $v not found at $loc"))

  /** Latest committed version, or 0 if the table is empty. */
  def latestVersion(s: SparkSession, loc: String): Long =
    log(s, loc).lastOption.fold(0L)(_.version)

  // Plan-time metadata cache. Manifests and sidecars are immutable per
  // (loc, version) once published — every rewrite goes through
  // replace-by-rename, which changes (mtime, length) — so one validated
  // LRU turns the per-plan stats/manifest re-read (estimateStatistics,
  // columnStats, zone-map pruning all funnel through manifestLines) into
  // a single getFileStatus round trip. Entries validate against the live
  // (mtime, length) on every hit, so an external rewrite is picked up
  // without any invalidation protocol; in-process rewriters also call
  // [[invalidateMeta]] as belt-and-braces against same-millisecond
  // same-length replacement. Bounded at 256 entries (a stats sidecar
  // line list is O(files) strings — the same cardinality the planner
  // holds anyway; 256 versions of headroom, least-recently-planned out).
  private val metaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Long, Seq[String])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Seq[String])]): Boolean =
        size() > 256
    })

  private[graft] def invalidateMeta(s: SparkSession, p: Path): Unit =
    metaCache.remove(fs(s, p.toString).makeQualified(p).toString)

  // manifest lines: '#'-prefixed header lines carry commit metadata
  // (e.g. the exactly-once batch marker); every other line is a live
  // data-file path
  private[graft] def manifestLines(s: SparkSession, p: Path): Seq[String] = {
    val f = fs(s, p.toString)
    val st = f.getFileStatus(p) // FileNotFound surfaces exactly as open() did
    val key = st.getPath.toString
    val hit = metaCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen)
      return hit._3
    val in = f.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    metaCache.put(key, (st.getModificationTime, st.getLen, lines))
    lines
  }

  // header block only: markers ride as the leading '#' lines, so the
  // per-version cost of a marker scan is O(header), not O(live files) —
  // an append manifest lists the whole table, and reading it in full per
  // micro-batch would make the replay check O(versions x files).
  // Served from [[metaCache]] when the full line list is already
  // resident (same (mtime, length) validation as [[manifestLines]]):
  // every commit path reads the previous manifest's body right before
  // its header, so the hit rate is high and each hit saves an
  // open+read round trip; the MISS path still streams the header only —
  // the O(header) contract is unchanged.
  private[graft] def headerLines(s: SparkSession, p: Path): Seq[String] = {
    val f = fs(s, p.toString)
    val st = f.getFileStatus(p)
    val hit = metaCache.get(st.getPath.toString)
    if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen)
      return hit._3.takeWhile(_.startsWith("#"))
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(p), "UTF-8"))
    try {
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      var line = rd.readLine()
      while (line != null && line.startsWith("#")) { buf += line; line = rd.readLine() }
      buf.toList
    } finally rd.close()
  }

  private def headerValues(header: Seq[String], key: String): Seq[String] = {
    val tag = s"#$key="
    header.collect { case l if l.startsWith(tag) => l.stripPrefix(tag) }
  }

  // ---- the commit primitive ----

  /** One published manifest, parsed lazily: the body (live files) and
    * the header block (`#dv=`, `#schema=`, `#layout=`, `#mvbase=`, …) are
    * read on first use, and a header wanted after the body is cut from
    * the body already in hand. No path = the empty pre-history (version
    * 0). `mtime` = the manifest's publish time, from the listing. */
  private[graft] class Version(s: SparkSession, val version: Long,
                               val path: Option[Path], val mtime: Long = 0L) {
    private var body: Seq[String] = null
    lazy val files: Seq[String] = path.fold(Seq.empty[String]) { p =>
      body = manifestLines(s, p)
      body.filterNot(l => l.startsWith("#") || l.isEmpty)
    }
    lazy val header: Seq[String] = path.fold(Seq.empty[String]) { p =>
      if (body != null) body.takeWhile(_.startsWith("#")) else headerLines(s, p)
    }
    lazy val dvs: Seq[String] = headerValues(header, "dv")
    lazy val schemaJson: Option[String] = headerValues(header, "schema").headOption
    lazy val schema: Option[StructType] =
      schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    lazy val layout: Option[String] = headerValues(header, "layout").headOption
    /** The base version a materialized view's version was refreshed to
      * (`#mvbase=`, [[Mv]]); None on plain tables. */
    lazy val mvBase: Option[Long] = headerValues(header, "mvbase").headOption.map(_.toLong)
    def lineage: Option[String] = headerValues(header, "lineage").headOption
    /** This version's rows: its files under its schema, minus its delete
      * vectors (no files = an empty frame of the schema, if any). */
    def data: DataFrame =
      if (files.isEmpty)
        schema.map(sc => s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
          .getOrElse(s.emptyDataFrame)
      else readLive(s, files, schema, dvs)
    /** Every file this version references — data lines plus `#dv=`
      * headers — NORMALIZED ([[normPath]]). The one set every liveness/
      * identity comparison must go through: manifest lines are spelled
      * however the committing path spelled them (the DSv2 streaming write
      * records scheme-less strings, listStatus returns scheme-qualified
      * ones), so comparing raw spellings against filesystem listings
      * silently misses files — a sweep that "misses" a live file DELETES
      * it. Not kept on the object, so a sweep over a long log holds one
      * manifest's refs at a time. */
    def refs: Set[String] = path.fold(Set.empty[String]) { p =>
      val lines = manifestLines(s, p)
      (headerValues(lines, "dv") ++ lines.filterNot(l => l.startsWith("#") || l.isEmpty))
        .map(normPath).toSet
    }
    /** This version's content, republished by reference: files, delete
      * vectors, schema and layout — never its `#marker=` or `#mvbase=`,
      * which describe the commit that made this version (a copied
      * marker would outlive the expire of its own version). */
    def carry: Publish =
      Publish(files, dvs = dvs, schemaJson = schemaJson, layout = layout)
  }

  /** The log tip one round of [[commit]] works against: ONE listing of
    * `_manifests`, reused for the marker check; the newest manifest is
    * read lazily, so a blind replace pays no manifest read at all. */
  private[graft] final class Tip(s: SparkSession, loc: String,
                                 listing: Seq[Version])
      extends Version(s, listing.lastOption.fold(0L)(_.version),
        listing.lastOption.flatMap(_.path), listing.lastOption.fold(0L)(_.mtime)) {
    def markers: Set[String] = Snapshots.markers(s, loc, listing)
    /** This tip, refusing an empty table — for verbs that edit content. */
    def committed: Tip =
      if (listing.nonEmpty) this
      else throw new IllegalArgumentException(s"no committed snapshots at $loc")
  }

  /** What one attempt of [[commit]] decided. */
  private[graft] sealed trait Step

  /** Publish this manifest at tip + 1 (header fields render in a fixed
    * order, [[tryPublish]]). `carriedValid` marks rows validated when
    * first committed (rollback, fork, compaction, layout rewrites): they
    * skip the CHECK-constraint gate. `scratch` = directories this attempt
    * wrote, deleted when its claim is lost; files written BEFORE the
    * first attempt are not scratch — they ride every retry. */
  private[graft] final case class Publish(files: Seq[String],
                                          marker: Option[String] = None,
                                          dvs: Seq[String] = Nil,
                                          schemaJson: Option[String] = None,
                                          lineage: Option[String] = None,
                                          layout: Option[String] = None,
                                          mvBase: Option[String] = None,
                                          carriedValid: Boolean = false,
                                          scratch: Seq[Path] = Nil) extends Step

  /** Finish with `version` and commit nothing (a replay, a no-gain pass). */
  private[graft] final case class Done(version: Long) extends Step

  private val MaxAttempts = 64

  /** THE commit primitive — optimistic read → derive → claim, with the
    * one retry bound and the one lost-race error every verb shares. Each
    * round lists `_manifests` once, runs `attempt` on that [[Tip]], and
    * claims `tip + 1` with the [[Publish]] it returns; a lost claim
    * deletes the attempt's scratch and re-runs it on the new tip. A
    * conflict rule is just what `attempt` does with the fresh tip:
    * append-merge verbs re-derive from it, blind replaces ignore its
    * content, derived rewrites check it for append-only interleaves and
    * throw otherwise. Returns the published version, or `Done`'s. */
  private[graft] def commit(s: SparkSession, loc: String)(attempt: Tip => Step): Long =
    retry(loc) {
      val tip = new Tip(s, loc, log(s, loc))
      attempt(tip) match {
        case Done(v) => Some(v)
        case p: Publish =>
          if (tryPublish(s, loc, tip.version + 1, p)) Some(tip.version + 1)
          else { p.scratch.foreach(fs(s, loc).delete(_, true)); None }
      }
    }

  /** The bounded optimistic retry behind [[commit]], shared with the
    * claim chains that are not table manifests (view definitions,
    * constraint sets): `round` yields its result, or None
    * after losing a claim — it then re-reads and runs again. */
  private[graft] def retry[T](loc: String)(round: => Option[T]): T = {
    var attempt = 0
    while (attempt < MaxAttempts) {
      val r = round
      if (r.isDefined) return r.get
      attempt += 1
    }
    throw new IllegalStateException(s"lost the commit race $MaxAttempts times at $loc")
  }

  /** Append `df` as a new snapshot; returns the published version.
    *
    * `marker`, if given, makes the commit IDEMPOTENT: it is recorded in
    * the published manifest (a `#` header line), so data and marker
    * become visible in the same atomic claim, and the marker set is
    * re-checked in EVERY commit round, against the same listing the
    * round claims on — two live attempts of the same logical commit (a
    * zombie driver racing its restarted successor) cannot both land. The
    * loser either loses the claim (and sees the marker next round) or
    * sees the marker up front; both paths remove its orphaned data
    * directory and return -1. */
  def commitAppend(df: DataFrame, loc: String,
                   marker: Option[String] = None): Long = {
    val s = df.sparkSession
    val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = writeData(df, dataDir)
    commit(s, loc) { tip =>
      if (marker.exists(tip.markers)) {
        fs(s, loc).delete(dataDir, true) // duplicate: our files are unreferenced garbage
        Done(-1L)
      } else
        // carried files keep their delete vectors; the append's fresh
        // files have none, and a DV can never reference them (new unique
        // paths). Additive evolution: the append may widen the schema;
        // legacy schema-less tables stay on footer inference
        Publish(tip.files ++ newFiles, marker, tip.dvs,
          if (tip.version == 0) Some(df.schema.json)
          else tip.schema.map(mergeAdditive(_, df.schema).json))
    }
  }

  // Incremental marker cache: published manifests are immutable, so the
  // marker set up to a version is a constant — a warm driver's next call
  // reads headers of NEW manifests only, making the exactly-once replay
  // check inside every marker-bearing publish (each streaming epoch)
  // O(delta) instead of O(chain depth). Validated against the LISTING
  // each call: if the surviving set below the cached tip changed (expire
  // dropped manifests — their markers are forgotten by contract), the
  // cache rebuilds from scratch. Keyed per table, bounded.
  private val markerCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Int, Set[String])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Int, Set[String])]): Boolean =
        size() > 64
    })

  /** Every commit marker recorded by surviving manifests (markers on
    * expired versions are forgotten with them — size retention to the
    * retention horizon, same as any table format's transaction log).
    * Cost: one directory listing plus a header read per NEW version
    * since the last call (full sweep on a cold driver or after an
    * expire) — markers are `#` HEADER lines, so no manifest body (the
    * O(live files) part) is ever read. */
  def markers(s: SparkSession, loc: String): Set[String] =
    markers(s, loc, log(s, loc))

  private def markers(s: SparkSession, loc: String,
                      ms: Seq[Version]): Set[String] = {
    if (ms.isEmpty) return Set.empty
    val key = normPath(loc)
    val cached = markerCache.get(key)
    val (fromV, baseSet) = cached match {
      case (cMax, cCount, set)
        if ms.count(_.version <= cMax) == cCount => (cMax, set)
      case _ => (Long.MinValue, Set.empty[String])
    }
    val out = baseSet ++ ms.iterator.filter(_.version > fromV)
      .flatMap(m => headerValues(m.header, "marker"))
    markerCache.put(key, (ms.last.version, ms.length, out))
    out
  }

  /** Publish already-written data files as an APPEND commit — the
    * manifest half of [[commitAppend]], for callers (the DSv2 SQL and
    * streaming write paths, the bucketed append) whose files were
    * already written. Same DV carry, same
    * idempotent-marker contract as [[commitAppend]]: with `marker` set,
    * the marker set is re-checked every round and a duplicate returns -1
    * (the caller owns deleting its now-unreferenced files). */
  private[graft] def publishAppend(s: SparkSession, loc: String,
                                   newFiles: Seq[String],
                                   marker: Option[String] = None,
                                   schemaIfEmpty: Option[String] = None,
                                   routedLayout: Option[String] = None): Long =
    commit(s, loc) { tip =>
      if (marker.exists(tip.markers)) Done(-1L)
      else Publish(tip.files ++ newFiles, marker, tip.dvs,
        // a first commit onto an empty directory records the writer's
        // schema (the streaming route creates tables this way); later
        // appends carry the table's header
        schemaJson = if (tip.version == 0) schemaIfEmpty else tip.schemaJson,
        // a bucket layout SURVIVES an append iff the batch was ROUTED FOR
        // THIS EXACT LAYOUT — `routedLayout` is the spec the writer hashed
        // with (BucketLayout.appendBucketed), re-checked against the
        // CURRENT header every round: a concurrent re-bucket with a
        // different count would otherwise accept mod-N files under a
        // mod-M header and make SPJ silently drop matches. A file-less
        // append (empty streaming epoch) carries unconditionally — the
        // file set is untouched. Any other append drops the layout (the
        // documented honest degrade, never wrong rows). Buckets holding
        // several files stay SPJ-able (the scan groups same-keyed files)
        // and merely stop reporting sortedness.
        layout = tip.layout.filter { pl =>
          newFiles.isEmpty ||
            (routedLayout.contains(pl) && newFiles.forall(f =>
              BucketLayout.bucketOfPath(f).isDefined))
        })
    }

  /** Publish already-written files as a logical REPLACE at whatever the
    * latest version is — `INSERT OVERWRITE` through the DSv2 write path
    * (content is defined wholly by the written files, so a lost race
    * just retries at the next version; no staleness to detect, unlike
    * [[publishReplaceExact]]). */
  private[graft] def publishReplaceLoop(s: SparkSession, loc: String,
                                        newFiles: Seq[String],
                                        schemaJson: Option[String],
                                        layout: Option[String] = None): Long =
    commit(s, loc)(_ => Publish(newFiles, schemaJson = schemaJson, layout = layout))

  /** Publish an already-written BUCKET-layout rewrite
    * ([[BucketLayout.commitBucketed]] / [[BucketLayout.splitBuckets]])
    * as a logical replace of `derivedFrom` carrying the `#layout=`
    * header — a layout header always describes exactly the files it was
    * published with. Conflict handling is [[publishDerivedReplace]]'s:
    * append-only interleaves merge (their files ride along BY
    * REFERENCE, the layout header drops because those files were not
    * routed for THIS spec — honest degrade, rows exact), anything else
    * raises rather than silently dropping the interleaved commit. */
  private[graft] def publishLayout(s: SparkSession, loc: String,
                                   derivedFrom: Long,
                                   newFiles: Seq[String], schemaJson: String,
                                   layout: String): Long =
    publishDerivedReplace(s, loc, derivedFrom, newFiles, Some(schemaJson),
      Some(layout))

  /** Publish a FULL REWRITE whose content was DERIVED from version
    * `derivedFrom` (compaction, Z-order cluster, bucket layout, bucket
    * split). The design rule for derived rewrites (DESIGN.md round-9/11:
    * "a lost race must never silently drop the interleaved commit's
    * rows") applied to whole-table maintenance:
    *
    *  - **clean claim** of `derivedFrom + 1` → published;
    *  - **append-only interleaves** (every file of `derivedFrom` still
    *    live at the new latest, delete-vector set unchanged): the
    *    interleaved commits only ADDED files, so the rewrite republishes
    *    as `rewrittenFiles ∪ addedFiles` at the new tip — at 100 TB a
    *    fact under continuous ingest can still complete its maintenance
    *    window instead of starving. The added files keep their own
    *    manifests' markers (header lines survive until expire), the
    *    publish carries the LATEST schema (an interleaved additive
    *    evolution widens it; the rewritten files simply predate the new
    *    column), and a requested layout header drops when riders exist
    *    (they were not routed for the new spec — plans degrade honestly,
    *    rows stay exact);
    *  - **anything else** (interleaved DELETE/UPDATE/replace/DV commit —
    *    rows our rewrite would resurrect or drop) raises
    *    ConcurrentModificationException: first-committer-wins, re-run
    *    the verb. */
  private[graft] def publishDerivedReplace(s: SparkSession, loc: String,
                                           derivedFrom: Long,
                                           newFiles: Seq[String],
                                           schemaJson: Option[String],
                                           layout: Option[String]): Long = {
    // the derived version's manifest is immutable: read it once, on the
    // first conflict only (the clean-claim fast path never pays it)
    lazy val old = version(s, loc, derivedFrom)
    lazy val oldSet = old.files.map(normPath).toSet
    lazy val oldDvs = old.dvs.map(normPath).toSet
    commit(s, loc) { tip =>
      if (tip.version == derivedFrom)
        Publish(newFiles, schemaJson = schemaJson, layout = layout, carriedValid = true)
      else {
        val appendOnly = oldSet.subsetOf(tip.files.map(normPath).toSet) &&
          tip.dvs.map(normPath).toSet == oldDvs
        if (!appendOnly) throw new java.util.ConcurrentModificationException(
          s"$loc moved past v$derivedFrom with a non-append commit during " +
            "a derived rewrite — publishing the rewrite would drop or " +
            "resurrect the interleaved commit's rows; re-run the verb " +
            "against the new version")
        val extras = tip.files.filterNot(f => oldSet(normPath(f)))
        Publish(newFiles ++ extras, carriedValid = true,
          schemaJson = tip.schemaJson.orElse(schemaJson),
          // riders + rewrite files mix two routings, so no layout
          // describes the union — EXCEPT a pure header commit (newFiles
          // empty): the published content is then exactly the tip's
          // files, which the tip's own layout describes, so keep THAT
          // rather than silently dropping a CREATE-declared layout on a
          // benign ingest race (the caller can detect the unapplied
          // header and retry)
          layout = if (extras.isEmpty) layout
                   else if (newFiles.isEmpty) tip.layout
                   else None)
      }
    }
  }

  /** Publish already-written files as a REPLACE of exactly the content of
    * `expectedPrev` — the commit half of a SQL row-level operation whose
    * rewrite was DERIVED from that version's rows. ONE claim, no retry:
    * a concurrent commit means the derivation is stale, so the only
    * correct outcomes are first-committer-wins or a
    * ConcurrentModificationException the caller re-runs from scratch —
    * retrying here would silently drop the interleaved commit's rows
    * (write skew). The Delta/Iceberg conflict rule. */
  private[graft] def publishReplaceExact(s: SparkSession, loc: String,
                                         expectedPrev: Long,
                                         newFiles: Seq[String]): Long =
    publishReplaceGroups(s, loc, expectedPrev, Nil, newFiles)

  /** GROUP-granular variant of [[publishReplaceExact]]: `keptFiles` of
    * the expected version are carried BY REFERENCE (with the version's
    * delete vectors, which may cover them) and only the replaced groups'
    * rows arrive as `newFiles` — the commit half of a runtime-group-
    * filtered SQL UPDATE/MERGE, O(affected files) instead of O(table).
    * Same first-committer-wins rule: a concurrent commit after the scan
    * pinned `expectedPrev` makes the derivation stale, so the statement
    * fails rather than silently dropping the interleaved rows. DV
    * entries naming replaced files go inert with the paths they name
    * (never reused) — the same rule the copy-on-write path relies on. */
  private[graft] def publishReplaceGroups(s: SparkSession, loc: String,
                                          expectedPrev: Long,
                                          keptFiles: Seq[String],
                                          newFiles: Seq[String],
                                          routedLayout: Option[String] = None): Long = {
    // a row-level rewrite preserves the table schema (carried from the
    // version the scan pinned)
    val prev = version(s, loc, expectedPrev)
    val schemaJson = prev.schema.map(_.json)
    val dvs = if (keptFiles.isEmpty) Nil else prev.dvs
    // a ROUTED row-level rewrite keeps the bucket layout: the publish
    // lands at exactly expectedPrev + 1 (the no-overwrite claim IS the
    // proof nothing committed in between, so the header we routed for is
    // still the table's), and the carry only needs every published file
    // bucket-pathed — kept files come from the layout version, new files
    // from the routing writer; any stray unrouted file drops the header
    // (the honest degrade, never a mis-keyed SPJ)
    val layout = routedLayout.filter(_ =>
      (keptFiles ++ newFiles).forall(f =>
        BucketLayout.bucketOfPath(f).isDefined))
    if (tryPublish(s, loc, expectedPrev + 1, Publish(keptFiles ++ newFiles,
        dvs = dvs, schemaJson = schemaJson, layout = layout)))
      expectedPrev + 1
    else throw new java.util.ConcurrentModificationException(
      s"snapshot table at $loc moved past version $expectedPrev during a " +
        "row-level operation; re-run the statement against the new version")
  }

  /** Replace the table's content with `df` as a new snapshot (logical
    * overwrite; old versions stay readable — no file is deleted). Racing
    * a concurrent append, the replace either publishes first (the append
    * lands after it, on top) or retries at the next version — either
    * serialization is a valid history and no version is lost. */
  def commitReplace(df: DataFrame, loc: String): Long =
    commitReplaceImpl(df, loc, carriedValid = false)

  /** [[commitReplace]] with two knobs for maintenance rewrites.
    * `carriedValid` exempts row-preserving rewrites (compaction) from
    * the CHECK-constraint gate — their rows were validated when first
    * committed, and re-validating a full OPTIMIZE would double its read.
    * `derivedFrom = Some(v)` marks the replace as a DERIVED rewrite of
    * version v (compaction, Z-order): conflict handling switches from
    * blind retry (correct only for self-contained overwrites, whose
    * content does not depend on the prior state) to
    * [[publishDerivedReplace]]'s append-merge / first-committer-wins —
    * a blind retry here would republish stale content over an
    * interleaved commit and silently drop its rows. */
  private[graft] def commitReplaceImpl(df: DataFrame, loc: String,
                                       carriedValid: Boolean,
                                       derivedFrom: Option[Long] = None): Long = {
    val s = df.sparkSession
    val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = writeData(df, dataDir)
    derivedFrom match {
      case Some(prev) =>
        try publishDerivedReplace(s, loc, prev, newFiles,
          Some(df.schema.json), layout = None)
        catch { case e: Throwable => fs(s, loc).delete(dataDir, true); throw e }
      case None =>
        // a replace REDEFINES the table: its schema is df's, dvs drop
        commit(s, loc)(_ => Publish(newFiles, schemaJson = Some(df.schema.json),
          carriedValid = carriedValid))
    }
  }

  /** One claim of `v<version>` for manifest `p`: false if another
    * committer claimed the version first. The header block renders in
    * one fixed order — marker, lineage, schema, layout, mvbase, then the
    * delete vectors — ahead of the data-file lines. */
  private[graft] def tryPublish(s: SparkSession, loc: String, version: Long,
                                p: Publish): Boolean = {
    (p.marker ++ p.lineage ++ p.layout ++ p.mvBase).foreach(m =>
      require(!m.contains("\n") && !m.contains("\r"),
        "header values must be single lines"))
    // CHECK-constraint gate (ops/Constraints): every publish path funnels
    // here, so validating the commit's NEW files at this one choke point
    // covers API commits, SQL DML, streaming epochs, and fast-forward
    // alike — O(new data), before the manifest can become visible.
    if (!p.carriedValid && p.files.nonEmpty && Constraints.has(s, loc)) {
      // normPath'd on both sides: manifest spellings vary by committing
      // path (DSv2 streaming records scheme-less strings, listings are
      // scheme-qualified), and a raw-string diff would silently
      // re-validate every CARRIED file — an O(table) read inside the
      // commit round, not wrong rows, but the wrong cost class
      val prev = if (version <= 1L) Set.empty[String]
                 else this.version(s, loc, version - 1).files.map(normPath).toSet
      Constraints.enforce(s, loc, p.files.filterNot(f => prev(normPath(f))),
        p.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]))
    }
    // delete-vector references and the table schema ride in the header
    // block (leading '#' lines) like markers, so a version's DV set and
    // schema are an O(header) read — and a schema-bearing version never
    // needs parquet footer inference (nor any files at all: an empty
    // CREATEd table is just a schema header over zero file lines)
    val header = p.marker.map(m => s"#marker=$m\n").getOrElse("") +
      p.lineage.map(l => s"#lineage=$l\n").getOrElse("") +
      p.schemaJson.map(j => s"#schema=$j\n").getOrElse("") +
      p.layout.map(l => s"#layout=$l\n").getOrElse("") +
      p.mvBase.map(v => s"#mvbase=$v\n").getOrElse("") +
      p.dvs.map(d => s"#dv=$d\n").mkString
    claim(s, new Path(manifestDir(loc), f"v$version%05d.txt"),
      (header + p.files.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Write `bytes` to a UNIQUE temp file beside `target` (two racers
    * must not share one), then claim `target` exactly once among racers:
    * true = this caller owns it, false = someone else does. The temp file
    * is gone either way. The one claim every metadata chain uses —
    * manifests, tags, view and constraint versions, MV registrations,
    * replicated manifests. */
  private[graft] def claim(s: SparkSession, target: Path,
                           bytes: Array[Byte]): Boolean = {
    val f = fs(s, target.toString)
    val dir = target.getParent
    f.mkdirs(dir)
    val tmp = new Path(dir, s"_tmp_${java.util.UUID.randomUUID()}_${target.getName}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    atomicClaim(s, f, tmp, target)
  }

  /** Claim `target` with `tmp`'s content, EXACTLY-ONCE among racers:
    * true = this caller owns the version, false = someone else does (tmp
    * is cleaned up either way). On a LOCAL filesystem the claim is a
    * HARD LINK — the kernel's only atomic no-overwrite primitive
    * (link(2) fails EEXIST): `FileContext.rename(…, Rename.NONE)` there
    * is an exists-probe followed by POSIX rename, which silently
    * REPLACES a target that appeared between the two — and the local
    * checksum shadow file can cross racers, leaving a manifest whose
    * `.crc` belongs to the loser (a read-side "Checksum error" the
    * round-13 commit-torture run caught once in ~10⁴ publishes). Linking
    * also never moves a `.crc` for the target, so manifests carry no
    * checksum shadow at all. Non-local filesystems (HDFS et al.) keep
    * the FileContext rename, whose no-overwrite IS atomic server-side. */
  private def atomicClaim(s: SparkSession, f: FileSystem,
                          tmp: Path, target: Path): Boolean = {
    val scheme = Option(target.toUri.getScheme).getOrElse(
      FileSystem.getDefaultUri(s.sparkContext.hadoopConfiguration).getScheme)
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
      }
    } else {
      val fc = FileContext.getFileContext(target.toUri,
        s.sparkContext.hadoopConfiguration)
      try { fc.rename(tmp, target, Options.Rename.NONE); true }
      catch {
        case _: FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          f.delete(tmp, false); false
      }
    }
  }

  /** Read a pinned version (default: latest). An empty table (version 0)
    * is an error — there is nothing to infer a schema from. */
  def read(s: SparkSession, loc: String, version: Long = -1L): DataFrame = {
    val ms = log(s, loc)
    require(ms.nonEmpty, s"no committed snapshots at $loc")
    if (version == 0L) throw new NoSuchElementException(s"version 0 not found at $loc")
    at(s, loc, ms, version).data
  }

  /** Read data files under an explicit schema when the manifest carries
    * one (no footer inference; missing columns → null), inferring only
    * for legacy schema-less manifests. */
  private[graft] def readData(s: SparkSession, files: Seq[String],
                       schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.map(sc => s.read.schema(sc)).getOrElse(s.read).parquet(files: _*)

  /** ADDITIVE schema merge — the evolution rule this format supports:
    * appends may introduce new (nullable) columns, never change an
    * existing column's type. Old files read the new columns as null;
    * a type change must go through an explicit rewrite (commitReplace). */
  private def mergeAdditive(prev: org.apache.spark.sql.types.StructType,
                            next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val prevByName = prev.fields.map(f => f.name.toLowerCase -> f).toMap
    val nextByName = next.fields.map(f => f.name.toLowerCase -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name.toLowerCase).foreach { pf =>
        require(pf.dataType == f.dataType,
          s"additive evolution cannot change ${f.name}: ${pf.dataType.sql} -> ${f.dataType.sql}")
      }
    }
    // the header's nullability is TRUTH the optimizer plans on (the
    // catalog reports it verbatim since the NOT NULL DEFAULT work): an
    // API append whose batch schema is nullable may carry nulls into a
    // column the header claims non-null, and IS NULL predicates would
    // then constant-fold to false over real nulls. Silently WIDENING the
    // header would permanently erase a DDL-declared NOT NULL (almost
    // every parquet-read batch reports nullable even when it holds no
    // nulls) — so the batch is REFUSED at schema level, the same rule
    // appendBucketed applies; cast/assert the batch non-null, or use the
    // SQL INSERT path, which inserts Spark's runtime null check
    prev.fields.filterNot(_.nullable).foreach { pf =>
      nextByName.get(pf.name.toLowerCase).filter(_.nullable).foreach { bf =>
        require(!bf.nullable,
          s"append batch column ${bf.name} is nullable but the table " +
            "header declares it NOT NULL — a null row would make IS NULL " +
            "predicates silently wrong; assert the batch non-null first " +
            "or insert through SQL (which null-checks at runtime)")
      }
    }
    StructType(prev.fields ++ next.fields
      .filterNot(f => prevByName.contains(f.name.toLowerCase))
      // an added column must be nullable (old files fill it with null) —
      // UNLESS it carries an existence DEFAULT, which fills old files'
      // rows with a non-null constant instead, making NOT NULL sound
      .map(f => if (f.metadata.contains("EXISTS_DEFAULT")) f
                else f.copy(nullable = true)))
  }

  /** Publish an EMPTY version 1 carrying only a schema — SQL
    * `CREATE TABLE` through the DSv2 catalog. Fails if the table already
    * has any committed version. `layout` declares a bucket layout AT
    * BIRTH (`CREATE TABLE … PARTITIONED BY (bucket(n, key))`): the empty
    * version carries the `#layout=` header, so the very FIRST `INSERT
    * INTO` routes through the routed [[graft.sources.v2.SnapshotWrite]] and
    * the table never exists in an un-co-partitioned state — no
    * `CALL system.bucket` rewrite needed, ever. */
  def createEmpty(s: SparkSession, loc: String,
                  schema: org.apache.spark.sql.types.StructType,
                  layout: Option[String] = None): Long = {
    require(latestVersion(s, loc) == 0L, s"table already exists at $loc")
    if (!tryPublish(s, loc, 1L,
        Publish(Nil, schemaJson = Some(schema.json), layout = layout)))
      throw new IllegalStateException(s"table concurrently created at $loc")
    1L
  }

  /** ALTER TABLE ADD COLUMNS as a commit: publish the SAME files and
    * delete vectors under a widened schema header — a pure metadata
    * commit (no data touched; every existing row reads the new columns
    * as null). Only defined for schema-bearing tables; columns must be
    * new, and arrive nullable (additive evolution's contract). */
  def commitAddColumns(s: SparkSession, loc: String,
                       newCols: StructType): Long =
    commit(s, loc) { tip =>
      val prevSchema = schemaOf(tip.committed, loc)
      val clash = newCols.fieldNames.map(_.toLowerCase)
        .intersect(prevSchema.fieldNames.map(_.toLowerCase))
      require(clash.isEmpty, s"columns already exist: ${clash.mkString(", ")}")
      // a pure metadata commit keeps the file set, so the bucket layout
      // (and the zero-Exchange plans it enables) SURVIVES schema widening
      // — added columns are not layout keys (they're new), and every
      // file stays routed exactly as published
      tip.carry.copy(schemaJson = Some(mergeAdditive(prevSchema, newCols).json))
    }

  private def schemaOf(v: Version, loc: String): StructType =
    v.schema.getOrElse(throw new UnsupportedOperationException(
      s"$loc predates schema headers; rewrite it (commitReplace) first"))

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT <sql>` / `DROP DEFAULT`
    * as a pure metadata commit: republishes the SAME files, DVs, and
    * layout under a schema whose field carries the new CURRENT_DEFAULT
    * (what FUTURE inserts omitting the column fill) — or none. The
    * field's EXISTS_DEFAULT is deliberately untouched: it is the
    * add-time constant rows in pre-column files READ, and changing it
    * would rewrite history's values from under pinned readers. This is
    * the standard CURRENT/EXISTS split. */
  def commitSetDefault(s: SparkSession, loc: String, column: String,
                       currentDefault: Option[String]): Long = {
    import org.apache.spark.sql.types.MetadataBuilder
    commit(s, loc) { tip =>
      val prevSchema = schemaOf(tip.committed, loc)
      require(prevSchema.fields.exists(_.name.equalsIgnoreCase(column)),
        s"no column '$column' in ${prevSchema.fieldNames.mkString(", ")}")
      val updated = StructType(prevSchema.fields.map { f =>
        if (!f.name.equalsIgnoreCase(column)) f
        else {
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          currentDefault match {
            case Some(sql) => mb.putString("CURRENT_DEFAULT", sql)
            case None => mb.remove("CURRENT_DEFAULT")
          }
          f.copy(metadata = mb.build())
        }
      })
      tip.carry.copy(schemaJson = Some(updated.json))
    }
  }

  /** The DESTRUCTIVE-evolution recipe this format ships INSTEAD of
    * in-place rename/drop/retype (which are rejected — they would break
    * pinned readers or demand Iceberg-style field-ID indirection):
    * materialize `transform` of the source table's latest version as
    * version 1 of a NEW table whose manifest header records the exact
    * provenance (`#lineage=<loc>@v<n>`). The old table — every pinned
    * version of it — is untouched; readers migrate by repointing, at
    * their own pace, and [[lineage]] answers "where did this table come
    * from" forever. Cost is one rewrite of live data, the honest price
    * of a rename without field IDs; the new table starts with a schema
    * header, so the full DDL/DML/streaming surface works on it
    * immediately (SnapshotDdlSpec pins rename-via-migrate end to end).
    *
    * {{{
    *   // RENAME COLUMN v TO label, DROP COLUMN tmp — as a migration:
    *   Snapshots.migrate(spark, oldLoc, newLoc,
    *     _.withColumnRenamed("v", "label").drop("tmp"))
    * }}} */
  def migrate(s: SparkSession, loc: String, newLoc: String,
              transform: DataFrame => DataFrame): Long = {
    require(latestVersion(s, newLoc) == 0L,
      s"migration target already has committed versions: $newLoc")
    val srcVersion = latestVersion(s, loc)
    require(srcVersion > 0L, s"no committed snapshots to migrate at $loc")
    val df = transform(read(s, loc, srcVersion))
    val dataDir = new Path(newLoc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = writeData(df, dataDir)
    if (tryPublish(s, newLoc, 1L, Publish(newFiles,
        schemaJson = Some(df.schema.json), lineage = Some(s"$loc@v$srcVersion"))))
      1L
    else {
      fs(s, newLoc).delete(dataDir, true)
      throw new IllegalStateException(s"migration target concurrently created at $newLoc")
    }
  }

  /** The provenance a migrated table's v1 recorded (`#lineage=` header),
    * or None for tables not created by [[migrate]]. */
  def lineage(s: SparkSession, loc: String): Option[String] =
    log(s, loc).headOption.flatMap(_.lineage)

  /** Roll the table back to `toVersion` by RE-PUBLISHING that version's
    * manifest as the newest commit — the metadata-only undo every
    * manifest-log table format offers (Hadoop's analog is re-running the
    * job over the old input directory; here the old file set is still on
    * disk, so undo is one manifest rename). Non-destructive: every
    * version after `toVersion` stays readable via time travel, and the
    * rollback itself is a new version in [[history]] whose `#lineage=`
    * header records what it restored. Files, delete vectors, schema and
    * bucket layout all carry by reference (the file set is unchanged, so
    * a bucket layout — and the shuffle-free joins it enables — survives
    * the undo). Sidecars do NOT carry: zone-map/Bloom stats attach per
    * version, so reads of the rolled-back version degrade to no-skip
    * until `attach_stats`/auto-stats runs again — never to wrong rows.
    * CAS loop: concurrent commits lose nothing, the rollback lands on
    * whatever version number the race leaves free. */
  def rollback(s: SparkSession, loc: String, toVersion: Long): Long = {
    // the pre-history and the tip alias are no rollback targets
    if (toVersion <= 0L)
      throw new NoSuchElementException(s"version $toVersion not found at $loc")
    val src = version(s, loc, toVersion)
    val v = commit(s, loc) { tip =>
      if (tip.version == toVersion) Done(toVersion) // already there: auditable no-op
      else src.carry.copy(lineage = Some(s"rollback:$loc@v$toVersion"),
        carriedValid = true) // carried by reference; constraints gate
    }                        // writes, not history (ops/Constraints)
    // sidecars attach per (location, version): without a refresh the
    // very next query after a metadata-only undo loses zone-map /
    // Bloom / gram pruning AND the metadata-only count(*) — at
    // 100 TB, "undo in one rename" followed by a full scan. The
    // attach is incremental by file, so an all-carried restore costs
    // O(manifest); best-effort like every auto-stats site.
    if (v != toVersion) autoStats(s, loc)
    v
  }

  /** The rows of `files` under `schema`, minus the rows the delete
    * vectors `dvs` name: the vectors' entries for these files are read
    * on the driver ([[DeleteVectors.positions]], no Spark job) and
    * probed per row on parquet's (`_metadata.file_path`,
    * `_metadata.row_index`) identity, the identity the vector was
    * recorded from. With no entry for these files the plain read is
    * returned: zero overhead on the common path. Vectors stay small
    * because compaction and `fold_dvs` fold them into data files. */
  private[graft] def readLive(s: SparkSession, files: Seq[String],
                              schema: Option[StructType], dvs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = readData(s, files, schema)
    if (dvs.isEmpty) df
    else DeleteVectors.subtract(df,
      DeleteVectors.positions(s, dvs, files.map(normPath).toSet),
      col("_metadata.file_path"), col("_metadata.row_index"))
  }

  /** Exact multiset row-level delta `from → to`: one row per inserted /
    * deleted occurrence, tagged in a leading `change` column.
    *
    * The manifest layer makes this cost O(changed data), not O(table):
    * data files are immutable, so any file BOTH manifests name
    * contributes nothing and is never opened — only the symmetric
    * file-set difference is read. After an append that is exactly the
    * delta's files; after a logical overwrite every file differs, but the
    * per-side `exceptAll` still nets out rows that merely moved files, so
    * the row-level answer is identical either way. At 100 TB a
    * diff-after-append reads megabytes, not the table (SnapshotsSpec pins
    * `inputFiles ⊆ changed files`).
    *
    * Known limitation: both sides read under the TO-version schema, so
    * across a schema-NARROWING replace (commitReplace that dropped a
    * column) from-side rows differing only in the dropped column read
    * identically and cancel in exceptAll — churn confined to dropped
    * columns under-reports. Additive evolution (the only evolution the
    * append path permits) is unaffected: old rows read added columns as
    * null on both sides. */
  def diff(s: SparkSession, loc: String, fromVersion: Long,
           toVersion: Long): DataFrame = {
    val ms = log(s, loc)
    diff(s, loc, at(s, loc, ms, fromVersion), at(s, loc, ms, toVersion))
  }

  private def diff(s: SparkSession, loc: String, from: Version,
                   to: Version): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fromF, toF, fromDv, toDv) = (from.files, to.files, from.dvs, to.dvs)
    val removedF = fromF.filterNot(toF.toSet)
    val addedF = toF.filterNot(fromF.toSet)
    // a carried file contributes to the delta iff its delete-vector
    // coverage changed between the versions: find the data files the DV
    // delta targets (reading only the tiny DV files), and re-read exactly
    // those on both sides — still O(changed data), never O(table)
    val dvDelta = toDv.filterNot(fromDv.toSet) ++ fromDv.filterNot(toDv.toSet)
    val dvChangedTargets = DeleteVectors.positions(s, dvDelta).keySet
    val commonChanged = fromF.filter(toF.toSet)
      .filter(f => dvChangedTargets.contains(normPath(f)))
    // both sides read under the TO-version schema: the delta is expressed
    // in the destination's shape (added columns null on older files)
    val toSchema = to.schema
    def readState(files: Seq[String], dvs: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readLive(s, files, toSchema, dvs))
    val fromSide = readState(removedF ++ commonChanged, fromDv)
    val toSide = readState(addedF ++ commonChanged, toDv)
    (toSide, fromSide) match {
      case (None, None) =>
        // identical manifests — shape the empty result from the pinned
        // version so downstream schema handling is uniform
        val base = read(s, loc, to.version)
        base.filter(lit(false)).select(
          lit("insert").as("change") +: base.columns.map(col).toIndexedSeq: _*)
      case (a, r) =>
        val schemaSrc = a.orElse(r).get
        val empty = schemaSrc.filter(lit(false))
        val added = a.getOrElse(empty)
        val removed = r.getOrElse(empty)
        def tag(df: DataFrame, t: String) =
          df.select(lit(t).as("change") +: df.columns.map(col): _*)
        tag(added.exceptAll(removed), "insert")
          .unionByName(tag(removed.exceptAll(added), "delete"))
    }
  }

  // ---- row-level operations ----
  // The format stores immutable files, so a row-level DELETE/UPDATE/
  // MERGE either REWRITES the files holding a hit row (copy-on-write)
  // or records the hit rows in a delete vector (merge-on-read). Every
  // verb runs the one kernel, [[rowLevel]]: untouched files are carried
  // by reference — byte-for-byte the same files (spec-pinned via
  // mtimes) — and every historical version stays pinned-readable.

  /** Canonical path spelling for identity compares (manifest lines are
    * written by different paths with/without scheme). Fast path: a
    * clean scheme-less absolute path (no scheme colon, no repeated or
    * relative segments, no %-escapes) IS its own URI path — the
    * `new Path(p).toUri` round-trip costs ~3 µs/line, which at a 32
    * manifests × 1M lines liveness fold (dropBranch/expire on a deep
    * history) is ~100 s of pure object churn; the fast path cuts the
    * fold to the string-hash floor. The slow path stays the single
    * source of truth for every other spelling. */
  private[graft] def normPath(p: String): String =
    if (p.length > 1 && p.charAt(0) == '/' && !p.contains("//") &&
        !p.contains("%") && !p.contains("/./") && !p.contains("/../") &&
        !p.endsWith("/.") && !p.endsWith("/..") && !p.endsWith("/") &&
        p.indexOf(':') < 0)
      p
    else new Path(p).toUri.getPath

  /** [[normPath]] of a file named by URL: parquet's `_metadata.file_path`
    * and a delete vector's `file` column escape a path (a space is
    * `%20`), where a manifest line and a listing do not. The escapes are
    * decoded first, so both spellings of one file get one key. */
  private[graft] def normUrl(u: String): String =
    if (u.indexOf('%') < 0) normPath(u)
    else try normPath(new Path(new java.net.URI(u)).toUri.getPath)
    catch { case _: java.net.URISyntaxException => normPath(u) }

  /** Every file under `root`, depth first in `listStatus` order (the
    * order of a recursive `FileSystem.listFiles`), lazily: a caller that
    * stops early lists no further directories. The engine's one recursive
    * walk. It yields plain `FileStatus`es, never `listFiles`'
    * `LocatedFileStatus`, which reads each file's permission (an `ls -ld`
    * fork on Hadoop's local FS without libhadoop) and block locations —
    * neither of which any walk here uses. */
  private[graft] def filesUnder(f: FileSystem, root: Path): Iterator[FileStatus] =
    f.listStatus(root).iterator.flatMap { st =>
      if (st.isDirectory) filesUnder(f, st.getPath) else Iterator.single(st)
    }

  /** Row-level DELETE as a commit: remove every row matching `pred`,
    * rewriting only the files that contain one ([[rowLevel]]'s
    * copy-on-write rule). Returns the published version (a no-op delete
    * still publishes — an auditable statement that the predicate was
    * applied). Rows where `pred` is NULL survive (SQL DELETE semantics).
    *
    * `pruneBy = (column, lo, hi)` narrows the match scan using the
    * version's zone-map sidecar ([[attachStats]]): only files whose
    * [min, max] intersects the range are scanned for matches, making the
    * scan O(candidate files) instead of O(table) — the standard
    * stats-pruned DML path. CONTRACT: the range must over-approximate
    * `pred` (every row `pred` matches has `column` in [lo, hi]); files
    * outside it are kept unscanned. */
  def commitDelete(s: SparkSession, loc: String,
                   pred: org.apache.spark.sql.Column,
                   pruneBy: Option[(String, String, String)] = None): Long =
    rowLevel(s, loc, mor = false)(tip => Scan(tip.files, DeleteWhere(pred), pruneBy))

  /** RANGE retention DELETE — `DELETE FROM t WHERE column < cutoff` (any
    * one- or two-sided range) in O(straddling files). The stats sidecar
    * already records every file's exact per-column [min, max] and null
    * accounting, so the version's files classify driver-side, without
    * opening one:
    *
    *  - FULLY INSIDE the range (every live row matches, no nulls in the
    *    column): dropped from the manifest — pure metadata, the daily
    *    100 TB "expire data older than N days" costs zero data I/O;
    *  - FULLY OUTSIDE (no row can match — including all-null files,
    *    since NULL never satisfies a comparison): carried BY REFERENCE,
    *    never scanned;
    *  - STRADDLING the cutoff (or unprovable: sidecar gap, unorderable
    *    type): the copy-on-write rule of [[rowLevel]], confined to
    *    exactly those files — usually 0–1 per ingest stream when data
    *    arrives roughly in `column` order.
    *
    * Classification is PROOF-gated: only types whose sidecar string
    * round-trip provably orders (numerics via BigDecimal, UTF-8 strings,
    * date / ntz-timestamp / boolean lexically) ever drop or skip a file;
    * session-zoned timestamps and everything else fall through to the
    * straddler scan, which is always exact. On a bucket-layout table the
    * straddler rewrite ROUTES, so the zero-Exchange layout survives
    * retention. Carried delete vectors are filtered to live files at
    * publish. Reference analog: partition-directory retention via
    * path-by-value outputs (`CORE/mapred/lib/MultipleTextOutputFormat.java`).
    *
    * Bounds are sidecar-rendered strings (Spark `CAST(x AS STRING)`
    * form); the boolean marks the bound inclusive. */
  def commitDeleteRange(s: SparkSession, loc: String, column: String,
                        lo: Option[(String, Boolean)],
                        hi: Option[(String, Boolean)]): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(lo.isDefined || hi.isDefined,
      "a range delete needs at least one bound")
    rowLevel(s, loc, mor = false) { tip =>
      val (inside, _, straddle) =
        classifyRange(s, loc, tip.version, tip.files, column, lo, hi)
      // the predicate for the straddler scan, typed through the table
      // schema (CAST the rendered bound back in the column's own type) —
      // only built when a straddler exists (an empty/fully-classified
      // version never opens a footer)
      lazy val pred = {
        val dt = tip.schema
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(column)))
          .map(_.dataType)
          .getOrElse(s.read.parquet(straddle.head).schema
            .find(_.name.equalsIgnoreCase(column)).map(_.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $column at $loc")))
        def bound(v: String) = lit(v).cast(dt)
        val c = col(column)
        (lo.map { case (v, inc) =>
            if (inc) c >= bound(v) else c > bound(v) } ++
          hi.map { case (v, inc) =>
            if (inc) c <= bound(v) else c < bound(v) }).reduce(_ && _)
      }
      Scan(straddle, DeleteWhere(if (straddle.isEmpty) lit(false) else pred),
        dropped = inside)
    }
  }

  /** Ternary zone-map classification for [[commitDeleteRange]]: files
    * whose every live row provably matches the range (droppable), files
    * no row of which can match (carriable), and the rest (scan). Absent
    * sidecar / uncovered column / unorderable type classify everything
    * as straddling — never wrong, merely unoptimized. */
  private def classifyRange(s: SparkSession, loc: String, version: Long,
                            files: Seq[String], column: String,
                            lo: Option[(String, Boolean)],
                            hi: Option[(String, Boolean)])
      : (Seq[String], Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val sp = statsPath(loc, version)
    if (!fs(s, loc).exists(sp)) return (Nil, Nil, files)
    val lines = manifestLines(s, sp)
    val (cols, types) = statsHeader(lines)
    val ci = cols.indexOf(column)
    if (ci < 0) return (Nil, Nil, files)
    val dt = types.lift(ci)
      .flatMap(t => try Some(DataType.fromDDL(t))
        catch { case _: Exception => None })
      .getOrElse(return (Nil, Nil, files))
    val numeric = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType => true
      case _ => false
    }
    val orderable = numeric || (dt match {
      case _: StringType | _: DateType | _: TimestampNTZType |
           _: BooleanType => true
      case _ => false // session-zoned timestamps shift across zones
    })
    if (!orderable) return (Nil, Nil, files)
    // exact compare in the sidecar's own encoding; None = unprovable
    def cmp(a: String, b: String): Option[Int] =
      if (numeric)
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None } // NaN/Infinity
      else if (dt.isInstanceOf[StringType])
        Some(if (!utf8Leq(a, b)) 1 else if (utf8Leq(b, a)) 0 else -1)
      else Some(a.compare(b))
    // full-width lines only: classification needs row/non-null counts
    val stats = lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
      .filter(_.length == 2 + 3 * cols.length)
      .map(a => a(0) -> a).toMap
    val inside = Seq.newBuilder[String]
    val outside = Seq.newBuilder[String]
    val straddle = Seq.newBuilder[String]
    files.foreach { file =>
      stats.get(normPath(file)) match {
        case None => straddle += file
        case Some(a) =>
          val (mn, mx) = (a(1 + 2 * ci), a(2 + 2 * ci))
          val cnt = a(1 + 2 * cols.length)
          val nn = a(2 + 2 * cols.length + ci)
          if (nn == "0") outside += file // all-null: NULL never matches
          else if (mn.isEmpty || mx.isEmpty) straddle += file
          else {
            // outside: the whole [min,max] sits beyond one bound
            val out =
              hi.exists { case (h, inc) =>
                cmp(mn, h).exists(x => if (inc) x > 0 else x >= 0) } ||
              lo.exists { case (l, inc) =>
                cmp(mx, l).exists(x => if (inc) x < 0 else x <= 0) }
            // inside: [min,max] within BOTH bounds AND no null rows
            // (NULL survives a DELETE, so a null-bearing file must scan)
            val in = !out && nn == cnt &&
              lo.forall { case (l, inc) =>
                cmp(mn, l).exists(x => if (inc) x >= 0 else x > 0) } &&
              hi.forall { case (h, inc) =>
                cmp(mx, h).exists(x => if (inc) x <= 0 else x < 0) }
            if (out) outside += file
            else if (in) inside += file
            else straddle += file
          }
      }
    }
    (inside.result(), outside.result(), straddle.result())
  }

  /** Row-level UPDATE as a commit: `set` maps column name → new value
    * expression, applied to rows matching `pred`; only files containing
    * a match are rewritten. `pruneBy`: same contract as
    * [[commitDelete]]. */
  def commitUpdate(s: SparkSession, loc: String,
                   pred: org.apache.spark.sql.Column,
                   set: Map[String, org.apache.spark.sql.Column],
                   pruneBy: Option[(String, String, String)] = None): Long =
    rowLevel(s, loc, mor = false)(tip => Scan(tip.files, UpdateWhere(pred, set), pruneBy))

  /** Row-level DELETE, merge-on-read: instead of rewriting every file
    * that holds a matching row ([[commitDelete]]'s copy-on-write), commit
    * a DELETE VECTOR — a small parquet of (file path, row index) pairs
    * that readers subtract by row position — and carry every data file
    * untouched. ZERO data-file writes at commit time (SnapshotsSpec pins
    * it), which is what a frequent-small-delete workload needs at 100 TB:
    * a one-row delete costs one tiny sidecar, not a file rewrite. The
    * read-side cost (a driver read of the vector and one per-row probe
    * of its broadcast position map) is bounded because
    * [[commitCompaction]] folds accumulated DVs back into data files
    * (it reads through [[read]], which applies them). The file set is
    * untouched, so a bucket layout carries. `pruneBy` gates the match
    * scan via the zone-map sidecar exactly as in [[commitDelete]].
    * NULL-predicate rows survive (SQL DELETE semantics). */
  def commitDeleteMoR(s: SparkSession, loc: String,
                      pred: org.apache.spark.sql.Column,
                      pruneBy: Option[(String, String, String)] = None): Long =
    rowLevel(s, loc, mor = true)(tip => Scan(tip.files, DeleteWhere(pred), pruneBy))

  /** Write `df` into a fresh commit-local directory and return the data
    * files it produced — the data half of every commit attempt; the
    * caller deletes the directory on a lost race. The one DataFrame
    * entry to the snapshot data writer
    * ([[graft.sources.v2.SnapshotDataWriterFactory]], routed by `layout`
    * when given, the factory every SQL write runs too): Spark executes
    * `df`'s plan inside a SQL execution id, each task writes its rows
    * straight to final `part-` paths (an empty task writes nothing, so an
    * all-empty `df` yields no files and the manifest's schema header
    * alone describes it), and the result is the files named in the
    * committed task messages. No output committer runs — no
    * `_temporary` tree, no rename, no `_SUCCESS`, no listing: the
    * manifest claim is the commit's only atomic step. A failing task
    * aborts its writer (deleting its own files); files of a failed or
    * superseded attempt are orphans `expire`'s grace-window sweep
    * reclaims. */
  private[graft] def writeData(df: DataFrame, dir: Path,
                               layout: Option[BucketLayout.Spec] = None): Seq[String] = {
    val qe = df.queryExecution
    val factory = graft.sources.v2.SnapshotWrite.writerFactory(
      df.sparkSession, df.schema, dir.toString, layout)
    graft.sources.v2.SnapshotWrite.filesOf(
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some(s"snapshot-write $dir")) {
        df.sparkSession.sparkContext.runJob(qe.executedPlan.execute(),
          (ctx: org.apache.spark.TaskContext,
           rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
            val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
            try { rows.foreach(w.write); w.commit() }
            catch { case t: Throwable => w.abort(); throw t }
            finally w.close()
          })
      })
  }

  /** Row-level UPDATE, merge-on-read: under immutable files an update IS
    * delete+insert, and this variant commits it that way — a DELETE
    * VECTOR covering the matched rows plus one small file of their
    * updated images — so the commit writes O(matched rows) and rewrites
    * NOTHING (the copy-on-write [[commitUpdate]] rewrites every file
    * holding a match). Every pre-update data file is carried by
    * reference; the change feed reports the matched rows as this
    * commit's deletes and the updated images as its inserts — the exact
    * multiset delta. Each RHS in `set` is evaluated against the OLD row
    * (SQL UPDATE semantics: `SET a = b, b = a` swaps); rows a prior DV
    * deleted are invisible to `pred` and are never re-recorded.
    * NULL-predicate rows survive untouched. `pruneBy` gates the
    * match scan via the zone-map sidecar exactly as in
    * [[commitDelete]]. */
  def commitUpdateMoR(s: SparkSession, loc: String,
                      pred: org.apache.spark.sql.Column,
                      set: Map[String, org.apache.spark.sql.Column],
                      pruneBy: Option[(String, String, String)] = None): Long =
    rowLevel(s, loc, mor = true)(tip => Scan(tip.files, UpdateWhere(pred, set), pruneBy))

  /** Row-level MERGE (upsert), merge-on-read: matched keys are removed
    * via a DELETE VECTOR and the WHOLE source lands as new files
    * (replacements and inserts alike) — commit cost O(source) plus one
    * tiny sidecar, zero data-file rewrites, against [[commitMerge]]'s
    * rewrite of every matched file. Detection is gated by the source's
    * key envelope against the zone-map sidecar exactly as in
    * [[commitMerge]]; a key a prior DV deleted matches nothing and its
    * source row inserts (no resurrection, no double-record). `source`
    * must be key-unique and carry every table column — the same contract
    * the copy-on-write path imposes. */
  def commitMergeMoR(s: SparkSession, loc: String, source: DataFrame,
                     keyCol: String): Long =
    merge(s, loc, source, keyCol, mor = true)

  /** Row-level MERGE (upsert) as a commit: rows of `source` REPLACE
    * same-key rows of the table and insert where no key matches —
    * latest-wins over the whole row, the [[Merge]] CDC fold's
    * storage-native counterpart. Copy-on-write: a file is rewritten iff
    * it contains a matched key (kept files can hold no source key by
    * construction, so ALL source rows ride in the commit's one write).
    * `source` must be key-unique — one upsert per key per commit, the
    * same contract every MERGE statement imposes. */
  def commitMerge(s: SparkSession, loc: String, source: DataFrame,
                  keyCol: String): Long =
    merge(s, loc, source, keyCol, mor = false)

  private def merge(s: SparkSession, loc: String, source: DataFrame,
                    keyCol: String, mor: Boolean): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val keys = source.select(col(keyCol)).distinct()
    // the source's key envelope, computed ONCE: every matched key lies in
    // [lo, hi] by definition, so the envelope is a valid pruneBy range for
    // the match scan — with a zone-map sidecar on the key column, a
    // narrow upsert scans O(key-range files), not O(table)
    val env = source.agg(min(col(keyCol)).cast("string").as("lo"),
      max(col(keyCol)).cast("string").as("hi")).head()
    val envelope =
      if (env.isNullAt(0) || env.isNullAt(1)) None
      else Some((keyCol, env.getString(0), env.getString(1)))
    rowLevel(s, loc, mor) { tip =>
      // the source lands under the table's column order so every data
      // file shares one shape; an empty or all-NULL-key source can match
      // nothing, so no file is scanned and every row inserts
      Scan(if (envelope.isEmpty) Nil else tip.files,
        MergeKeys(keyCol, keys, tip.schema.fold(source)(sc =>
          source.select(sc.fieldNames.toIndexedSeq.map(col): _*))),
        envelope)
    }
  }

  /** What a row-level verb does to the rows of its scan: which rows it
    * hits, and what takes their place under each publish rule of
    * [[rowLevel]]. */
  private sealed trait RowChange {
    /** The rows of `rows` this change hits. */
    def hits(rows: DataFrame): DataFrame
    /** A hit file's live rows after the change (copy-on-write). */
    def rewrite(live: DataFrame): DataFrame
    /** The rows written beside the vector of `hits` (merge-on-read). */
    def images(hits: DataFrame): Option[DataFrame] = None
    /** Rows the change adds whatever its scan hits. */
    def source: Option[DataFrame] = None
  }

  /** Hits the rows where `pred` is TRUE. A NULL-predicate row is not hit
    * and survives: `!pred` alone would drop it from rewritten files while
    * identical rows in unscanned files survive — layout-dependent silent
    * data loss. */
  private final case class DeleteWhere(pred: org.apache.spark.sql.Column)
      extends RowChange {
    import org.apache.spark.sql.functions.{coalesce, lit}
    private val hit = coalesce(pred, lit(false))
    def hits(rows: DataFrame): DataFrame = rows.filter(hit)
    def rewrite(live: DataFrame): DataFrame = live.filter(!hit)
  }

  /** Hits as [[DeleteWhere]] and sets each column of `set` on a hit row.
    * SQL UPDATE evaluates every RHS against the OLD row, so a swap
    * (`SET a = b, b = a`) works — one select, all assignments computed
    * from the pre-update attributes, never the sequential fold that
    * would let one assignment observe another's result. */
  private final case class UpdateWhere(pred: org.apache.spark.sql.Column,
                                       set: Map[String, org.apache.spark.sql.Column])
      extends RowChange {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    private val hit = coalesce(pred, lit(false))
    def hits(rows: DataFrame): DataFrame = rows.filter(hit)
    def rewrite(live: DataFrame): DataFrame = assign(live, (c, v) => when(hit, v).otherwise(col(c)))
    override def images(hits: DataFrame): Option[DataFrame] = Some(assign(hits, (_, v) => v))
    private def assign(rows: DataFrame,
                       value: (String, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
      val cols = rows.columns.toIndexedSeq.filterNot(Set(FileCol, PosCol))
      require(set.keySet.subsetOf(cols.toSet),
        s"SET names unknown columns: ${set.keySet -- cols.toSet}")
      rows.select(cols.map(c => set.get(c).fold(col(c))(value(c, _)).as(c)): _*)
    }
  }

  /** Hits the rows whose `keyCol` is among `keys`; `rows` land whole. */
  private final case class MergeKeys(keyCol: String, keys: DataFrame, rows: DataFrame)
      extends RowChange {
    def hits(scan: DataFrame): DataFrame = scan.join(keys, Seq(keyCol), "left_semi")
    def rewrite(live: DataFrame): DataFrame = live.join(keys, Seq(keyCol), "left_anti")
    override def source: Option[DataFrame] = Some(rows)
  }

  /** One attempt's scan for [[rowLevel]]: the files a verb classifies
    * (narrowed by `pruneBy`'s zone-map range), what it does to their
    * rows, and the files it drops unread. */
  private final case class Scan(files: Seq[String], change: RowChange,
                                pruneBy: Option[(String, String, String)] = None,
                                dropped: Seq[String] = Nil)

  // a scanned row's identity: the data file as parquet spells it, and
  // the row's position in that file — what a delete vector records
  private val FileCol = "__graft_fp"
  private val PosCol = "__graft_ri"

  /** THE row-level kernel: the one [[commit]] attempt behind every
    * delete, update and merge verb. It scans the candidate files once,
    * tags each row with its (file, pos) identity, and lets the verb's
    * [[RowChange]] classify it as hit or not; rows an earlier vector
    * already deleted never hit (counting one twice is harmless to reads,
    * but the change feed attributes each vector entry to the commit that
    * wrote it). Two rules publish the one tagged frame:
    *
    *  - MERGE-ON-READ (`mor`): a vector of the hit rows, every data file
    *    carried, plus the change's images or source as new files;
    *  - COPY-ON-WRITE: the distinct hit files are rewritten through the
    *    change's projection, plus its source. The rewrite reads
    *    DV-APPLIED content under the TABLE schema (a deleted row is never
    *    resurrected; a file predating an added column rewrites with it
    *    null-filled), and the carried vectors are filtered to the kept
    *    files ([[filterCarriedDvs]]). Untouched files carry by reference,
    *    byte-identical, so the cost is O(hit files), not O(table).
    *
    * An all-empty write publishes no file, so a verb that changed nothing
    * publishes the tip's content as it was — no probe job asks first.
    * Under a live bucket layout every added file is written ROUTED and
    * the layout carries. */
  private def rowLevel(s: SparkSession, loc: String, mor: Boolean)
                      (scan: Tip => Scan): Long = {
    import org.apache.spark.sql.functions.col
    commit(s, loc) { t =>
      val tip = t.committed
      val Scan(files, change, pruneBy, dropped) = scan(tip)
      val candidates = pruneBy.fold(files) { case (c, lo, hi) =>
        statFiles(s, loc, tip.version, files, c, lo, hi)
      }
      lazy val hits = DeleteVectors.subtract(
        change.hits(readData(s, candidates, tip.schema)
          .withColumn(FileCol, col("_metadata.file_path"))
          .withColumn(PosCol, col("_metadata.row_index"))),
        DeleteVectors.positions(s, tip.dvs, candidates.map(normPath).toSet),
        col(FileCol), col(PosCol))
      val dir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
      val (kept, dvs, added) =
        if (mor) {
          // coalesce(1): a vector is tiny by contract — one file keeps the
          // manifest header and the readers' driver-side read cheap. The
          // vector and an update's images are two jobs over `hits`; the
          // files are immutable and the attempt's vectors fixed, so both
          // name the same rows
          val newDvs =
            if (candidates.isEmpty) Nil
            else writeData(hits.select(col(FileCol).as("file"),
              col(PosCol).as("pos")).coalesce(1), new Path(dir, "dv"))
          (tip.files, tip.dvs ++ newDvs,
            (if (candidates.isEmpty) None else change.images(hits)) ++ change.source)
        } else {
          val hit = if (candidates.isEmpty) Set.empty[String] else hitFiles(hits)
          val rewritten = candidates.filter(f => hit(normPath(f)))
          val gone = (rewritten ++ dropped).toSet
          val kept = tip.files.filterNot(gone)
          (kept, if (gone.isEmpty) tip.dvs else filterCarriedDvs(s, tip.dvs, kept, dir),
            Option.when(rewritten.nonEmpty)(
              change.rewrite(readLive(s, rewritten, tip.schema, tip.dvs))) ++ change.source)
        }
      val routed = tip.layout.flatMap(BucketLayout.parse)
      val newFiles = added.reduceOption(_ unionByName _).fold(Seq.empty[String]) { df =>
        routed.fold(writeData(df, dir))(BucketLayout.writeBucketed(df, _, dir))
      }
      tip.carry.copy(files = kept ++ newFiles, dvs = dvs,
        layout = tip.layout.filter(_ => routed.isDefined || newFiles.isEmpty),
        scratch = Seq(dir))
    }
  }

  /** The normalized files `hits` names, in one job: each task reports
    * its partition's distinct files, and the driver merges them — no
    * shuffle for a set of file names. */
  private def hitFiles(hits: DataFrame): Set[String] = {
    import org.apache.spark.sql.Encoders
    hits.select(FileCol).as(Encoders.STRING)
      .mapPartitions((it: Iterator[String]) => it.distinct)(Encoders.STRING)
      .collect().iterator.map(normUrl).toSet
  }

  /** Change data feed: every row-level change from `fromVersion`
    * (exclusive) to `toVersion` (default latest), tagged with the
    * version that introduced it — [[diff]] per STEP, so intermediate
    * states are visible (a row inserted at v2 and deleted at v4 appears
    * twice), which is what a downstream incremental consumer needs.
    * Cost is the union of per-step symmetric file differences — still
    * never a full-table read for append-shaped histories. Output:
    * (change, _commit_version, <row columns...>). */
  def changeFeed(s: SparkSession, loc: String, fromVersion: Long,
                 toVersion: Long = -1L): DataFrame =
    changeFeed(s, loc, log(s, loc), fromVersion, toVersion)

  /** [[changeFeed]] over a [[log]] the caller already listed — one
    * listing for the whole interval, each manifest read once. */
  private[graft] def changeFeed(s: SparkSession, loc: String, ms: Seq[Version],
                                fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, input_file_name,
      lit, regexp_extract, typedLit}
    val to = if (toVersion < 0) ms.lastOption.fold(0L)(_.version) else toVersion
    require(to > fromVersion,
      s"empty feed: toVersion $to must exceed fromVersion $fromVersion")
    val states = (fromVersion to to).map(at(s, loc, ms, _))
    // An append-only step (nothing removed, delete vectors unchanged)
    // contributes exactly its added files' rows as inserts — no exceptAll
    // needed. CONTIGUOUS append-only steps collapse into ONE scan of all
    // their added files, with each row's introducing version recovered
    // from its commit directory's unique name — so a consumer catching up
    // over a 1000-commit append history plans one scan plus one map
    // lookup, not a 1000-deep union (ChangeFeedPlanSpec pins the plan
    // depth). Replace/DML/DV steps fall back to the per-step [[diff]].
    val steps: IndexedSeq[Either[(Long, Seq[String]), (Version, Version)]] =
      states.zip(states.tail).map { case (a, b) =>
        val removed = a.files.filterNot(b.files.toSet)
        val added = b.files.filterNot(a.files.toSet)
        if (removed.isEmpty && a.dvs == b.dvs) Left((b.version, added))
        else Right((a, b))
      }
    def appendRun(run: Seq[(Long, Seq[String])]): Option[DataFrame] = {
      val files = run.flatMap(_._2)
      if (files.isEmpty) None
      else {
        // every commit writes its files under data/<fresh-uuid>/, so the
        // parent directory name identifies the introducing version
        val dirToV: Map[String, Long] = run.flatMap { case (ver, fl) =>
          fl.map(f => new Path(f).getParent.getName -> ver)
        }.toMap
        val df = readData(s, files, states.last.schema)
        Some(df.select(lit("insert").as("change") +:
          element_at(typedLit(dirToV),
            regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1))
            .as("_commit_version") +:
          df.columns.map(col).toIndexedSeq: _*))
      }
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    while (i < steps.length) {
      if (steps(i).isLeft) {
        val j = steps.indexWhere(_.isRight, i) match {
          case -1 => steps.length
          case x => x
        }
        appendRun(steps.slice(i, j).map(_.left.toOption.get)).foreach(parts += _)
        i = j
      } else {
        val (a, b) = steps(i).toOption.get
        val d = diff(s, loc, a, b)
        parts += d.select(col("change") +: lit(b.version).as("_commit_version") +:
          d.columns.filterNot(_ == "change").map(col): _*)
        i += 1
      }
    }
    if (parts.isEmpty) {
      // only no-op steps in the interval — schema-shaped empty feed
      val base = states.last.data
      base.filter(lit(false)).select(lit("insert").as("change") +:
        lit(0L).as("_commit_version") +: base.columns.map(col).toIndexedSeq: _*)
    } else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---- table metadata as data: history / files / time-resolution ----
  // Everything here is manifest-sized driver work (O(versions · files)
  // strings, no data file opened), surfaced as DataFrames so the SQL
  // catalog can expose them as metadata tables (`<cat>.<t>.history`,
  // `<cat>.<t>.files`) the way Iceberg/Delta do.

  /** The newest version published at or before `tsMillis` (SQL
    * `TIMESTAMP AS OF`), or None when the table's first commit is later
    * than the asked instant. */
  def versionAtTime(s: SparkSession, loc: String, tsMillis: Long): Option[Long] =
    log(s, loc).takeWhile(_.mtime <= tsMillis).lastOption.map(_.version)

  /** Commit history as a DataFrame: one row per version with its publish
    * time, file/delete-vector counts, and the file-set delta against the
    * previous version (added/removed counts — a pure append shows
    * (n, 0), a replace (new, old), a merge-on-read delete (0, 0) with
    * n_dvs rising). Manifest-sized: no data file is opened. */
  def history(s: SparkSession, loc: String): DataFrame = {
    val rows = log(s, loc).foldLeft(
      (Seq.empty[(Long, java.sql.Timestamp, Int, Int, Int, Int, Option[String])],
        Set.empty[String])) { case ((acc, prevFiles), e) =>
      // a fresh reader per step: the listed Version would keep every
      // manifest body of the log alive until the fold ends
      val m = new Version(s, e.version, e.path)
      val files = m.files.map(normPath).toSet
      // provenance: rollback/publish/branch/migrate commits record their
      // origin in the #lineage= header — surfaced so "what did commit N
      // do" is answerable from the history table alone
      val row = (m.version, new java.sql.Timestamp(e.mtime),
        files.size, m.dvs.length,
        (files -- prevFiles).size, (prevFiles -- files).size, m.lineage)
      (acc :+ row, files)
    }._1
    s.createDataFrame(rows).toDF(
      "version", "committed_at", "n_files", "n_dvs",
      "added_files", "removed_files", "lineage")
  }

  /** Per-file row counts a version's stats sidecar proved (trailing
    * count field), keyed by normalized path; empty when no counted
    * sidecar exists. */
  private[graft] def sidecarCounts(s: SparkSession, loc: String,
                                   version: Long): Map[String, Long] = {
    val sp = statsPath(loc, version)
    if (!fs(s, loc).exists(sp)) return Map.empty
    val lines = manifestLines(s, sp)
    val nCols = statsHeader(lines)._1.length
    if (nCols == 0) return Map.empty
    lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
      .filter(a => a.length == 2 + 2 * nCols || a.length == 2 + 3 * nCols)
      .flatMap(a => a(1 + 2 * nCols).toLongOption.map(a(0) -> _)).toMap
  }

  /** Sidecar COVERAGE of a version, one row per covered column: which
    * files the stats sidecar proves (and how many rows), and whether a
    * Bloom filter covers the column — the "why didn't my query prune"
    * introspection surface, manifest-sized like everything here. A file
    * counts as covered when its line carries a parseable row count;
    * `proven_rows` is null when any covered file predates counts. */
  def statsMeta(s: SparkSession, loc: String, version: Long = -1L): DataFrame = {
    val m = this.version(s, loc, version)
    val v = m.version
    val total = m.files.length
    val sp = statsPath(loc, v)
    val f = fs(s, loc)
    val (cols, covered, rows): (Seq[String], Map[String, Int], Option[Long]) =
      if (!f.exists(sp)) (Nil, Map.empty, None)
      else {
        val lines = manifestLines(s, sp)
        val cs = statsHeader(lines)._1
        val widths = Set(2 + 2 * cs.length, 2 + 3 * cs.length)
        val data = lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
          .filter(a => widths.contains(a.length))
        val counts = data.flatMap(_.apply(1 + 2 * cs.length).toLongOption)
        (cs, cs.map(_ -> data.length).toMap,
          if (counts.length == data.length) Some(counts.sum) else None)
      }
    val bloomCols: Set[String] = {
      val hp = BloomSidecar.headerPath(loc, v)
      if (!f.exists(hp)) Set.empty
      else statsHeader(manifestLines(s, hp))._1.map(_.trim).toSet
    }
    val all = (cols ++ bloomCols.toSeq.sorted).distinct
    val out = all.map { c =>
      (v, c, covered.getOrElse(c, 0), total,
        if (covered.contains(c)) rows else None, bloomCols.contains(c))
    }
    s.createDataFrame(out).toDF("version", "column", "covered_files",
      "total_files", "proven_rows", "has_bloom")
  }

  /** Per-bucket layout skew (`<cat>.<t>.buckets`): one row per live
    * bucket of a layout version — file count, bytes, and (when the
    * zone-map sidecar covers the version) exact rows — sorted hottest
    * first, so an operator SEES a Zipf-hot bucket before it becomes the
    * straggler of every storage-partitioned join. Driver-only metadata:
    * one manifest read + one listStatus per commit dir + one sidecar
    * header read; no data files open. A table without an active layout
    * answers zero rows (nothing to introspect). The fixed-layout story
    * for skew is operational by design — the salting idiom
    * ([[Skew]]) is unusable under a layout, so the remedy is re-layout
    * at a higher count (`CALL system.bucket`) or accepting the
    * straggler; this surface is what tells the operator which. */
  def bucketsMeta(s: SparkSession, loc: String, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("key", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true)))
    val m = this.version(s, loc, version)
    val v = m.version
    m.layout.flatMap(BucketLayout.parse) match {
      case None =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      case Some(sp) =>
        val files = m.files
        val sizes = fileSizes(s, files)
        // per-file proven rows from the version's stats sidecar, if any
        val rowsByFile: Map[String, Long] = {
          val p = statsPath(loc, v)
          if (!fs(s, loc).exists(p)) Map.empty
          else {
            val lines = manifestLines(s, p)
            val k = statsHeader(lines)._1.length
            val widths = Set(2 + 2 * k, 2 + 3 * k)
            lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
              .filter(a => widths.contains(a.length))
              .flatMap(a => a(1 + 2 * k).toLongOption.map(a(0) -> _)).toMap
          }
        }
        val rows = files.groupBy(f => BucketLayout.bucketOfPath(f).getOrElse(-1))
          .toSeq.map { case (b, fs0) =>
            val key = sp.columns
              .zip(if (b < 0) sp.columns.map(_ => -1) else sp.vectorOf(b).toSeq)
              .map { case (c, i) => s"$c=$i" }.mkString(",")
            val bytes = fs0.map(f => sizes.getOrElse(normPath(f), 0L)).sum
            val cnt = fs0.map(f => rowsByFile.get(normPath(f)))
            org.apache.spark.sql.Row(v, b, key, fs0.length, bytes,
              if (cnt.forall(_.isDefined)) cnt.flatten.sum
              else null.asInstanceOf[Any])
          }.sortBy(r => -r.getLong(4))
        // local rows, zero tasks — the metadata LocalScan stays driver-only
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** Byte sizes of `files` keyed by normalized path — ONE listStatus per
    * commit directory, never a per-file RPC. The single implementation
    * behind the files metadata table, incremental compaction's size
    * partition, and the per-file row scan's partition lengths. */
  private[graft] def fileSizes(s: SparkSession, files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val f = new Path(files.head).getFileSystem(s.sparkContext.hadoopConfiguration)
    files.map(new Path(_)).groupBy(_.getParent)
      .keysIterator.flatMap(dir => f.listStatus(dir).iterator
        .map(st => normPath(st.getPath.toString) -> st.getLen)).toMap
  }

  /** A version's data files as a DataFrame: path, size, and the row
    * count the stats sidecar proved (null without one). Sizes come from
    * one directory listing per commit directory, not per-file RPCs. */
  def filesMeta(s: SparkSession, loc: String, version: Long = -1L): DataFrame = {
    val m = this.version(s, loc, version)
    val (v, files) = (m.version, m.files)
    val counts = sidecarCounts(s, loc, v)
    val sizes = fileSizes(s, files)
    val rows = files.map { file =>
      val n = normPath(file)
      (v, n, sizes.getOrElse(n, 0L), counts.get(n))
    }
    s.createDataFrame(rows).toDF("version", "path", "size_bytes", "row_count")
  }

  // ---- file-level zone maps (data skipping) ----
  // Per-file min/max of chosen columns, written as a sidecar NEXT TO the
  // manifest before it publishes (`v<NNNNN>.stats.txt` — orphan sidecars
  // from lost races are harmless and expire with their version). At
  // 100 TB the win over parquet's own row-group stats is WHERE the
  // pruning happens: the planner drops files from the scan's file list
  // driver-side without opening a single footer — the same reason the
  // manifest itself beats directory listing.

  private def statsPath(loc: String, version: Long) =
    new Path(manifestDir(loc), f"v$version%05d.stats.txt")

  /** A sidecar's header: the `#cols=` list (first line) and the
    * `#types=` list (second line), each empty when absent. */
  private def statsHeader(lines: Seq[String]): (Seq[String], Seq[String]) = {
    def list(i: Int, key: String): Seq[String] =
      lines.lift(i).filter(_.startsWith(s"#$key="))
        .map(_.stripPrefix(s"#$key=").split(',').toSeq).getOrElse(Nil)
    (list(0, "cols"), list(1, "types"))
  }

  /** Compute and attach per-file (min, max, row count) sidecar stats for
    * `cols` to an existing version (typically called right after a
    * commit). INCREMENTAL: files already covered by the PREVIOUS
    * version's sidecar (same column set) inherit their rows — immutable
    * files cannot change their stats — so the scan covers only the
    * commit's new files: stats maintenance is O(delta), not O(table).
    * Values are stored via `CAST AS STRING`; [[readPruned]] compares in
    * the column's own type after casting back. Each line also carries
    * the file's ROW COUNT and per-column NON-NULL counts — they feed
    * [[statAggValues]] (metadata-only COUNT/MIN/MAX/COUNT(col)) and
    * [[statTopFiles]] (top-n file pruning); lines inherited from
    * earlier-format sidecars are rescanned so one attach upgrades the
    * whole version. Line layout:
    * `path  (min max)·cols  rowCount  nonNull·cols`. */
  def attachStats(s: SparkSession, loc: String, version: Long,
                  cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    val m = this.version(s, loc, version)
    val files = m.files
    if (files.isEmpty) return
    val f = fs(s, loc)
    val header = s"#cols=${cols.mkString(",")}"
    // inherit rows from the previous sidecar where the column set matches
    // (only rows that already carry the trailing count — width 2+2·cols)
    val prevSidecar = statsPath(loc, version - 1)
    val prevLines: Seq[String] =
      if (version > 1 && f.exists(prevSidecar)) manifestLines(s, prevSidecar)
      else Nil
    val known: Map[String, String] =
      if (prevLines.headOption.contains(header))
        prevLines.filterNot(_.startsWith("#"))
          .map(l => l.split("\t", -1)).filter(_.length == 2 + 3 * cols.length)
          .map(a => a(0) -> a.mkString("\t")).toMap
      else Map.empty
    // the sidecar records each column's Catalyst type, so pruning-time
    // interval compares never infer schema from a parquet footer — the
    // "planner drops files without opening one" claim holds literally.
    // Inherited from the matching previous sidecar (immutable files keep
    // their types too); one footer open only when starting from scratch.
    val tableSchema = m.schema
    val typesHeader = prevLines.lift(1).filter(_.startsWith("#types="))
      .filter(_ => known.nonEmpty)
      .getOrElse {
        val schema = tableSchema.getOrElse(s.read.parquet(files.head).schema)
        "#types=" + cols.map(c => schema(c).dataType.catalogString).mkString(",")
      }
    val fresh = files.filterNot(x => known.contains(normPath(x)))
    // a value holding the sidecar's own separators would shift every
    // later field on read — store "" (= unknown, never skip) instead
    def clean(v: String): String =
      if (v.exists(c => c == '\t' || c == '\n' || c == '\r')) "" else v
    val scanned: Seq[String] =
      if (fresh.isEmpty) Nil
      else readData(s, fresh, tableSchema)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(cols.head)).cast("string").as("min0"),
          (((max(col(cols.head)).cast("string").as("max0") +:
            cols.tail.zipWithIndex.flatMap { case (c, i) =>
              Seq(min(col(c)).cast("string").as(s"min${i + 1}"),
                max(col(c)).cast("string").as(s"max${i + 1}"))
            }) :+ count(lit(1)).as("cnt")) ++
            cols.zipWithIndex.map { case (c, i) =>
              count(col(c)).as(s"nn$i") }): _*)
        .collect().toSeq.map { r =>
          val path = normUrl(r.getString(0))
          val vals = (0 until cols.length).flatMap(i =>
            Seq(clean(Option(r.getString(1 + 2 * i)).getOrElse("")),
              clean(Option(r.getString(2 + 2 * i)).getOrElse(""))))
          val base = 1 + 2 * cols.length
          val counts = (0 to cols.length).map(i => r.getLong(base + i).toString)
          (path +: (vals ++ counts)).mkString("\t")
        }
    val inherited = files.flatMap(x => known.get(normPath(x)))
    val tmp = new Path(manifestDir(loc),
      s"_tmp_stats_${java.util.UUID.randomUUID()}.txt")
    val out = f.create(tmp, true)
    try out.write((header + "\n" + typesHeader + "\n" +
        (inherited ++ scanned).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, statsPath(loc, version))) f.delete(tmp, false)
    invalidateMeta(s, statsPath(loc, version))
  }

  // DV-cardinality cache for the CBO feed: delete-vector sidecars are
  // immutable per (loc, version), so the count of entries naming a given
  // active-file set is a constant — read once on the driver, then a
  // map hit on every later plan of the same (version, pruned-file-set).
  // Keyed by the FULL digest of the sorted set (BloomSidecar
  // .pathSetDigest): the count is correctness-bearing, so a 32-bit hash
  // collision between two pruned subsets must be impossible, not rare.
  private val dvCountCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, String), java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), java.lang.Long]): Boolean =
        size() > 256
    })

  /** Exact live-row count for `files` of a version, provable from pure
    * metadata: Σ sidecar per-file row counts minus the delete-vector
    * entries naming those files. None when the sidecar cannot prove
    * every file (the caller reports unknown, never a guess). Feeds
    * DSv2 `estimateStatistics().numRows` — what lets Spark's CBO
    * reorder multi-joins over snapshot tables. The DV adjustment counts
    * the vectors' entries for the active set, read on the driver
    * ([[DeleteVectors.positions]], no Spark job), and is cached per
    * (loc, version, active-set): DV sidecars are immutable, so each
    * distinct pruned shape reads them once. */
  private[graft] def sidecarNumRows(s: SparkSession, loc: String,
                                    version: Long, files: Seq[String],
                                    dvs: Seq[String]): Option[Long] =
    statAggValues(s, loc, version, files, Seq(StatCount)) match {
      case Some(Seq((n: Long, _))) =>
        if (dvs.isEmpty) Some(n)
        else try {
          val active = files.map(normPath).sorted
          val key = (normPath(loc), version,
            BloomSidecar.pathSetDigest(active))
          val hit = dvCountCache.get(key)
          val deleted: Long =
            if (hit != null) hit.longValue()
            else {
              val n = DeleteVectors.positions(s, dvs, active.toSet)
                .valuesIterator.map(_.length.toLong).sum
              dvCountCache.put(key, n)
              n
            }
          Some(math.max(0L, n - deleted))
        } catch { case _: Exception => None }
      case _ => None
    }

  /** Per-column (type, min, max, nullCount) for the CBO, provable from
    * the stats sidecar over exactly `files` — the column-statistics
    * companion of [[sidecarNumRows]]: filter-selectivity estimation
    * under `spark.sql.cbo.enabled` needs min/max/nullCount, and the
    * sidecar already holds all three exactly. Columns any piece of
    * which is unprovable (type not order-faithful, coverage gap) are
    * omitted — never guessed; DV-bearing versions return Nil (sidecar
    * counts are physical). Values are Catalyst-internal, the shape the
    * V1 ColumnStat conversion expects. */
  private[graft] def sidecarColumnStats(s: SparkSession, loc: String,
                                        version: Long, files: Seq[String],
                                        dvs: Seq[String])
      : Seq[(String, org.apache.spark.sql.types.DataType, Any, Any, Long)] = {
    if (dvs.nonEmpty || files.isEmpty) return Nil
    val cols = sidecarCols(s, loc, version)
    if (cols.isEmpty) return Nil
    def one(c: String): Option[(String, org.apache.spark.sql.types.DataType,
        Any, Any, Long)] =
      statAggValues(s, loc, version, files,
          Seq(StatCount, StatCountCol(c), StatMin(c), StatMax(c))) match {
        case Some(Seq((rows: Long, _), (nn: Long, _), (mn, dt), (mx, _))) =>
          Some((c, dt, mn, mx, rows - nn))
        case _ => None
      }
    // one sidecar read for the whole column set (statAggValues is
    // all-or-nothing); only a partial-coverage table pays the
    // per-column fallback — planning-path work, kept O(1) file reads
    statAggValues(s, loc, version, files,
        StatCount +: cols.flatMap(c =>
          Seq(StatCountCol(c), StatMin(c), StatMax(c)))) match {
      case Some((rows: Long, _) +: rest) =>
        cols.zipWithIndex.map { case (c, i) =>
          val Seq((nn: Long, _), (mn, dt), (mx, _)) = rest.slice(3 * i, 3 * i + 3)
          (c, dt, mn, mx, rows - nn)
        }
      case _ => cols.flatMap(one)
    }
  }

  /** Columns the version's stats sidecar covers (empty without one) —
    * the attributes a scan can offer for runtime (join-driven) file
    * skipping. One header-line read. */
  private[graft] def sidecarCols(s: SparkSession, loc: String,
                                 version: Long): Seq[String] = {
    val sp = statsPath(loc, version)
    if (!fs(s, loc).exists(sp)) return Nil
    statsHeader(manifestLines(s, sp))._1.map(_.trim).filter(_.nonEmpty)
  }

  /** The subset of `files` whose sidecar range for `column` intersects
    * [lo, hi]. Conservative by construction: no sidecar, an uncovered
    * column, a sidecar without a recorded type, or an unknown/empty bound
    * keeps the file. Pure driver-side metadata work — the column type
    * comes from the sidecar's `#types=` header, so NO parquet footer is
    * opened to make a pruning decision (ZoneMapTypedSpec pins this by
    * pruning over ghost paths no filesystem holds). */
  private[graft] def statFiles(s: SparkSession, loc: String, version: Long,
                               files: Seq[String], column: String,
                               lo: String, hi: String): Seq[String] =
    statFilesBounds(s, loc, version, files, column, Some(lo), Some(hi))

  /** [[statFiles]] with OPTIONAL bounds — `None` = unbounded on that side
    * — so a one-sided SQL predicate (`k > 100`) prunes too. This is what
    * the DSv2 scan's filter pushdown maps onto
    * ([[graft.sources.v2.SnapshotTable]]): the planner drops files from
    * the scan's file list driver-side, before Spark plans a single
    * partition. */
  private[graft] def statFilesBounds(s: SparkSession, loc: String, version: Long,
                                     files: Seq[String], column: String,
                                     lo: Option[String], hi: Option[String]): Seq[String] = {
    val sp = statsPath(loc, version)
    val f = fs(s, loc)
    if (!f.exists(sp)) return files
    val lines = manifestLines(s, sp)
    val (cols, types) = statsHeader(lines)
    val ci = cols.indexOf(column)
    if (ci < 0) return files
    val dtOpt = types.lift(ci).map(org.apache.spark.sql.types.DataType.fromDDL)
    if (dtOpt.isEmpty) return files // legacy/typeless sidecar: never skip
    val dt = dtOpt.get
    // split with a negative limit: a trailing empty field (null max on the
    // last column) must survive as "", not shorten the array
    val stats = lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
      .filter(_.length >= 1 + 2 * cols.length)
      .map(a => a(0) -> (a(1 + 2 * ci), a(2 + 2 * ci))).toMap
    files.filter { file =>
      stats.get(normPath(file)).forall { case (mn, mx) =>
        // an absent/empty bound means "unknown" — never skip on it
        mn.isEmpty || mx.isEmpty || rangesIntersect(dt, mn, mx, lo, hi)
      }
    }
  }

  /** Aggregate shapes [[statAggValues]] can answer from the sidecar. */
  private[graft] sealed trait StatAgg
  private[graft] case object StatCount extends StatAgg
  private[graft] case class StatCountCol(col: String) extends StatAgg
  private[graft] case class StatMin(col: String) extends StatAgg
  private[graft] case class StatMax(col: String) extends StatAgg

  /** Answer a filterless, group-less COUNT(*) / MIN / MAX over `files`
    * ENTIRELY from the stats sidecar — zero tasks, zero file opens: at
    * 100 TB `SELECT count(*)` becomes one manifest-sidecar read. Returns
    * each requested value as a Catalyst-internal (value, type) pair, or
    * None when the sidecar cannot prove the answer: missing sidecar, any
    * file without a counted row (pre-count legacy line, width mismatch
    * from a separator-bearing value), an uncovered column, or a type
    * whose string round-trip does not order correctly (strings can hold
    * the sidecar's own separators; binary/interval never round-trip).
    * Callers must ensure the version carries NO delete vectors — counts
    * are physical. MIN/MAX ignore all-null files (empty bounds) exactly
    * like the SQL semantics; an all-null column yields value null. */
  private[graft] def statAggValues(s: SparkSession, loc: String, version: Long,
                                   files: Seq[String], wants: Seq[StatAgg])
      : Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    val sp = statsPath(loc, version)
    if (files.isEmpty || wants.isEmpty || !fs(s, loc).exists(sp)) return None
    val lines = manifestLines(s, sp)
    val (cols, types) = statsHeader(lines)
    if (cols.isEmpty || types.length != cols.length) return None
    // two provable widths: count-bearing (path, (min,max)·c, rowCount)
    // and the full layout with trailing per-column non-null counts;
    // rowCount sits at the same index in both
    val countIdx = 1 + 2 * cols.length
    val widths = Set(2 + 2 * cols.length, 2 + 3 * cols.length)
    val stats: Map[String, Array[String]] = lines.filterNot(_.startsWith("#"))
      .map(_.split("\t", -1)).filter(a => widths.contains(a.length))
      .map(a => a(0) -> a).toMap
    val rows = files.map(fl => stats.get(normPath(fl)))
    if (rows.exists(_.isEmpty)) return None // an unproven file: no answer
    val proven = rows.flatten
    def numeric(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType => true
      case _ => false
    }
    // same compare semantics as rangesIntersect: numerics via BigDecimal,
    // date/ntz-timestamp/boolean lexically (their CAST-AS-STRING forms
    // order lexically); anything else is not provably orderable as a
    // string. Session-zoned TimestampType is EXCLUDED: the sidecar's
    // strings were rendered in the WRITER's session timezone, so casting
    // them back in a reader with a different zone would shift the
    // metadata answer — that column falls through to the real scan.
    def orderable(dt: DataType): Boolean = numeric(dt) || (dt match {
      case _: DateType | _: TimestampNTZType | _: BooleanType => true
      case _ => false
    })
    def extremum(c: String, wantMin: Boolean): Option[(Any, DataType)] = {
      val ci = cols.indexOf(c)
      if (ci < 0) return None
      val dt = try DataType.fromDDL(types(ci)) catch { case _: Exception => return None }
      if (!orderable(dt)) return None
      val vals = proven.map(a => a(if (wantMin) 1 + 2 * ci else 2 + 2 * ci))
        .filter(_.nonEmpty) // empty bound = all-null file: contributes nothing
      val winner: Option[String] =
        if (vals.isEmpty) None
        else if (numeric(dt))
          // NaN / Infinity in a float column don't parse — decline, the
          // real scan answers (min/max NaN semantics are theirs to honor)
          try Some(vals.minBy(BigDecimal(_))(if (wantMin) Ordering[BigDecimal]
            else Ordering[BigDecimal].reverse))
          catch { case _: NumberFormatException => return None }
        else Some(if (wantMin) vals.min else vals.max)
      Some((winner.map { v =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType),
          dt, Some(s.sessionState.conf.sessionLocalTimeZone)).eval()
      }.orNull, dt))
    }
    val out = wants.map {
      case StatCount =>
        try Some((proven.map(_.apply(countIdx).toLong).sum: Any,
          LongType: DataType))
        catch { case _: NumberFormatException => None }
      case StatCountCol(c) =>
        // non-null count: needs the full layout on EVERY file
        val ci = cols.indexOf(c)
        if (ci < 0 || proven.exists(_.length != 2 + 3 * cols.length)) None
        else try Some((proven.map(_.apply(countIdx + 1 + ci).toLong).sum: Any,
          LongType: DataType))
        catch { case _: NumberFormatException => None }
      case StatMin(c) => extremum(c, wantMin = true)
      case StatMax(c) => extremum(c, wantMin = false)
    }
    if (out.exists(_.isEmpty)) None else Some(out.flatten)
  }

  // ---- declared stat columns: write-path auto-maintenance ----
  // One table-level config file (`_manifests/autostats.cols`, not
  // versioned — it names a POLICY, not a version's content) declares the
  // sidecar columns once; every SQL write through the catalog then
  // refreshes the sidecar for the version it publishes. attachStats is
  // incremental (immutable files inherit their lines), so the per-commit
  // cost is O(new files), and a missed refresh only costs pruning until
  // the next one — never correctness.

  private def autoStatsPath(loc: String) = new Path(manifestDir(loc), "autostats.cols")

  /** Declare the stat (and optionally Bloom) columns a table maintains
    * on every subsequent write — and attach them to the current version
    * now. The policy file's first line holds the stats columns, the
    * second the Bloom columns (possibly empty). */
  def setAutoStats(s: SparkSession, loc: String, cols: Seq[String],
                   bloomCols: Seq[String] = Nil,
                   gramCols: Seq[String] = Nil,
                   ndvCols: Seq[String] = Nil): Unit = {
    require(cols.nonEmpty || bloomCols.nonEmpty || gramCols.nonEmpty ||
      ndvCols.nonEmpty, "auto-stats needs at least one column")
    val f = fs(s, loc)
    f.mkdirs(manifestDir(loc))
    val tmp = new Path(manifestDir(loc),
      s"_tmp_autostats_${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((cols.mkString(",") + "\n" + bloomCols.mkString(",") + "\n" +
      gramCols.mkString(",") + "\n" + ndvCols.mkString(",") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, autoStatsPath(loc))) { // overwrite-by-replace
      f.delete(autoStatsPath(loc), false)
      if (!f.rename(tmp, autoStatsPath(loc))) f.delete(tmp, false)
    }
    invalidateMeta(s, autoStatsPath(loc))
    val tip = version(s, loc)
    if (tip.files.nonEmpty) {
      val v = tip.version
      if (cols.nonEmpty) attachStats(s, loc, v, cols)
      if (bloomCols.nonEmpty) BloomSidecar.attachBlooms(s, loc, v, bloomCols)
      if (gramCols.nonEmpty) BloomSidecar.attachGramBlooms(s, loc, v, gramCols)
      if (ndvCols.nonEmpty) BloomSidecar.attachNdv(s, loc, v, ndvCols)
    }
  }

  private def policyLine(s: SparkSession, loc: String, i: Int): Option[Seq[String]] = {
    val p = autoStatsPath(loc)
    if (!fs(s, loc).exists(p)) None
    else manifestLines(s, p).lift(i)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
  }

  /** The table's declared auto-stats columns, if any. */
  def autoStatsCols(s: SparkSession, loc: String): Option[Seq[String]] =
    policyLine(s, loc, 0)

  /** The table's declared auto-Bloom columns, if any. */
  def autoBloomCols(s: SparkSession, loc: String): Option[Seq[String]] =
    policyLine(s, loc, 1)

  /** The table's declared auto-GRAM columns (substring-search sidecar),
    * if any. */
  def autoGramCols(s: SparkSession, loc: String): Option[Seq[String]] =
    policyLine(s, loc, 2)

  /** The table's declared auto-NDV columns (distinct-sketch sidecar
    * feeding the CBO's distinctCount), if any. */
  def autoNdvCols(s: SparkSession, loc: String): Option[Seq[String]] =
    policyLine(s, loc, 3)

  /** Best-effort post-commit refresh of the declared sidecars: the commit
    * is already published, so a maintenance failure must not fail the
    * statement — queries merely lose pruning until the next refresh
    * (which re-covers everything, since both attach paths rescan any
    * file the previous sidecar didn't prove). */
  def autoStats(s: SparkSession, loc: String): Unit = {
    // one existence probe + one (meta-cached) read for all four policy
    // lines — the per-accessor form paid four exists() round trips per
    // post-commit refresh, which a streaming sink pays PER EPOCH
    val pp = autoStatsPath(loc)
    if (!fs(s, loc).exists(pp)) return
    val lines = manifestLines(s, pp)
    def lineAt(i: Int): Option[Seq[String]] = lines.lift(i)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val stats = lineAt(0)
    val blooms = lineAt(1)
    val grams = lineAt(2)
    val ndvs = lineAt(3)
    if (stats.isEmpty && blooms.isEmpty && grams.isEmpty && ndvs.isEmpty) return
    try {
      val tip = version(s, loc)
      if (tip.files.nonEmpty) {
        val v = tip.version
        stats.foreach(cols => attachStats(s, loc, v, cols))
        blooms.foreach(cols => BloomSidecar.attachBlooms(s, loc, v, cols))
        grams.foreach(cols => BloomSidecar.attachGramBlooms(s, loc, v, cols))
        ndvs.foreach(cols => BloomSidecar.attachNdv(s, loc, v, cols))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"auto-stats refresh failed at $loc (pruning degraded until " +
            s"the next successful refresh): $e")
    }
  }

  /** Top-n file pruning: the subset of `files` that can contain a row of
    * the global top-`n` under `ORDER BY column [ASC|DESC]` — the
    * `ORDER BY ts DESC LIMIT n` ("latest n events") plan reads
    * O(files holding the top-n), not O(table). Sound by a counting
    * argument over the sidecar: walking files best-first by their
    * best-case bound (min for DESC, max for ASC) and accumulating
    * NON-NULL counts until ≥ n proves "at least n non-null rows are ≥ B"
    * (≤ B for ASC), so any row strictly outside B cannot rank in the
    * top n regardless of tie-breaking suffix keys. Files the sidecar
    * cannot prove are always kept. Nulls: only Spark's DEFAULT null
    * orderings are supported (DESC NULLS LAST — nulls can never crack a
    * proven top-n; ASC NULLS FIRST — every null-bearing file is kept);
    * anything else returns None (no pruning). None also when the column
    * is uncovered, not order-provable as a string, or too few counted
    * rows exist to prove a bound. */
  private[graft] def statTopFiles(s: SparkSession, loc: String, version: Long,
                                  files: Seq[String], column: String,
                                  desc: Boolean, nullsFirst: Boolean,
                                  n: Long): Option[Seq[String]] = {
    import org.apache.spark.sql.types._
    if (desc == nullsFirst) return None // non-default null ordering
    val sp = statsPath(loc, version)
    if (n <= 0 || files.isEmpty || !fs(s, loc).exists(sp)) return None
    val lines = manifestLines(s, sp)
    val (cols, types) = statsHeader(lines)
    val ci = cols.indexOf(column)
    if (ci < 0 || types.length != cols.length) return None
    val dt = try DataType.fromDDL(types(ci)) catch { case _: Exception => return None }
    val numeric = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType => true
      case _ => false
    }
    val lexical = dt match {
      case _: DateType | _: TimestampType | _: TimestampNTZType |
           _: BooleanType => true
      case _ => false
    }
    if (!numeric && !lexical) return None
    def cmp(a: String, b: String): Int =
      if (numeric) BigDecimal(a).compare(BigDecimal(b)) else a.compareTo(b)
    val width = 2 + 3 * cols.length // needs the non-null-count layout
    // path -> (min, max, nonNull, hasNulls)
    val info: Map[String, (String, String, Long, Boolean)] =
      lines.filterNot(_.startsWith("#")).map(_.split("\t", -1))
        .filter(_.length == width)
        .flatMap { a =>
          for {
            rows <- a(1 + 2 * cols.length).toLongOption
            nn <- a(2 + 2 * cols.length + ci).toLongOption
          } yield a(0) -> ((a(1 + 2 * ci), a(2 + 2 * ci), nn, rows - nn > 0))
        }.toMap
    try {
      val proven = files.flatMap(f => info.get(normPath(f)))
      val ranked = proven
        .filter(x => x._3 > 0 && x._1.nonEmpty && x._2.nonEmpty)
        .sortWith((a, b) =>
          if (desc) cmp(a._1, b._1) > 0 // best-case first: by min DESC
          else cmp(a._2, b._2) < 0) //                      by max ASC
      var cum = 0L
      var bound: Option[String] = None
      val it = ranked.iterator
      while (bound.isEmpty && it.hasNext) {
        val x = it.next(); cum += x._3
        if (cum >= n) bound = Some(if (desc) x._1 else x._2)
      }
      val b = bound.getOrElse(return None)
      Some(files.filter { f =>
        info.get(normPath(f)).forall { case (mn, mx, nn, hasNulls) =>
          (nullsFirst && hasNulls) ||
            (nn > 0 && mn.nonEmpty && mx.nonEmpty &&
              (if (desc) cmp(mx, b) >= 0 else cmp(mn, b) <= 0))
        }
      })
    } catch { case _: NumberFormatException => None }
  }

  /** Plain-LIMIT file pruning: the shortest file-list prefix whose
    * sidecar row counts PROVE at least `n` rows — any n rows satisfy an
    * unordered LIMIT, Spark's final limit trims. Unproven files stay in
    * the prefix but count zero toward the proof. None when the counts
    * never reach n (no pruning) or nothing would be dropped. */
  private[graft] def statLimitFiles(s: SparkSession, loc: String, version: Long,
                                    files: Seq[String], n: Long): Option[Seq[String]] = {
    if (n <= 0 || files.isEmpty) return None
    val counts = sidecarCounts(s, loc, version)
    var cum = 0L
    val keep = scala.collection.mutable.ListBuffer.empty[String]
    val it = files.iterator
    while (cum < n && it.hasNext) {
      val f = it.next(); keep += f
      cum += counts.getOrElse(normPath(f), 0L)
    }
    if (cum >= n && keep.length < files.length) Some(keep.toList) else None
  }

  /** Read a version with FILE-LEVEL skipping: keep only files whose
    * [min, max] range for `column` intersects [lo, hi] (inclusive).
    * Falls back to the full file list when no sidecar exists or the
    * column is not covered — skipping is an optimization, never a
    * correctness dependency. The residual filter still applies: callers
    * get exactly the rows a plain `read(...).filter(between)` returns,
    * with fewer files opened (spec-pinned via `inputFiles`). */
  def readPruned(s: SparkSession, loc: String, column: String,
                 lo: String, hi: String, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = this.version(s, loc, version)
    val files = m.files
    // an empty version (version 0 / empty table) mirrors read(): there is
    // no schema to infer, and zero-path parquet reads fail obscurely
    if (files.isEmpty) return s.emptyDataFrame
    val keep = statFiles(s, loc, m.version, files, column, lo, hi)
    if (keep.isEmpty)
      readData(s, files, m.schema).filter(org.apache.spark.sql.functions.lit(false))
    else readLive(s, keep, m.schema, m.dvs)
      .filter(col(column).between(lo, hi))
  }

  /** Typed interval intersection on the string-encoded stats: numeric
    * columns compare as BigDecimal, everything else (strings, dates,
    * timestamps — ISO-formatted by CAST AS STRING) lexicographically,
    * which is order-preserving for those encodings. An absent bound is
    * unbounded on that side. */
  private def rangesIntersect(dt: org.apache.spark.sql.types.DataType,
                              mn: String, mx: String,
                              lo: Option[String], hi: Option[String]): Boolean = {
    import org.apache.spark.sql.types._
    try dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType =>
        hi.forall(h => BigDecimal(mn) <= BigDecimal(h)) &&
          lo.forall(l => BigDecimal(mx) >= BigDecimal(l))
      case _: StringType =>
        // Spark computed these min/max in UTF-8 BINARY order; Java's
        // UTF-16 compareTo disagrees past the BMP (supplementary chars
        // sort below U+E000 in UTF-16 but above in UTF-8), which would
        // wrongly SKIP a matching file — compare in the same encoding
        hi.forall(h => utf8Leq(mn, h)) && lo.forall(l => utf8Leq(l, mx))
      case _ => hi.forall(mn <= _) && lo.forall(mx >= _)
    } catch {
      // NaN/Infinity (a float column's stored extreme, or a query
      // literal) don't parse as BigDecimal: pruning must DEGRADE (keep
      // the file), never fail the query at planning
      case _: NumberFormatException => true
    }
  }

  /** a ≤ b under unsigned UTF-8 byte order — the order Spark's
    * UTF8String min/max used when the sidecar was written. */
  private def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** Compaction as a COMMIT — the snapshot-native OPTIMIZE, closing the
    * loop between [[Compaction]] (directory-swap, readers race the
    * rename on object stores) and the manifest layer (no rename race is
    * possible: a new version's files land first, the manifest publishes
    * atomically, pinned readers keep their file lists). Rewrites the
    * LATEST version's content into ~`targetBytes` files via the AQE
    * rebalance hint and publishes it as a new version with identical
    * rows; the superseded small files stay until [[expire]] collects
    * them. Returns the published version.
    *
    * The advisory-size override is scoped to a CLONED session (same
    * SparkContext, copied runtime conf), so concurrent queries on the
    * caller's session never observe the altered value and two concurrent
    * compactions cannot race a set/restore on shared conf. */
  def commitCompaction(s: SparkSession, loc: String,
                       targetBytes: Long = 128L * 1024 * 1024): Long = {
    val cur = latestVersion(s, loc)
    commitReplaceImpl(
      read(scopedAdvisory(s, targetBytes), loc, cur).hint("rebalance"),
      loc, carriedValid = true, derivedFrom = Some(cur))
  }

  /** Carried delete-vector sidecars for a publish that rewrote some
    * files DV-applied and carries `kept` by reference: entries naming
    * kept files must survive (their rows are still subtracted at scan
    * time); entries naming rewritten files are dead weight every later
    * DV read would re-read. The vectors are read once on the driver
    * ([[DeleteVectors.positions]]), the commitFoldDvs named-set logic. Returns the original sidecars when every entry is live, Nil
    * when none is, and otherwise writes ONE consolidated filtered
    * sidecar under `dataDir` (so a lost publish race cleans it up with
    * the data directory). */
  private[graft] def filterCarriedDvs(s: SparkSession, dvs: Seq[String],
                                      kept: Seq[String],
                                      dataDir: Path): Seq[String] = {
    if (dvs.isEmpty || kept.isEmpty) return Nil
    import org.apache.spark.sql.functions.col
    val keptSet = kept.map(normPath).toSet
    val entries = DeleteVectors.positions(s, dvs)
    val dead = entries.filter { case (f, _) => !keptSet(f) }
    if (dead.isEmpty) return dvs
    if (dead.size == entries.size) return Nil
    // the vectors' rows minus the rewritten files' own entries
    writeData(DeleteVectors.subtract(DeleteVectors.read(s, dvs), dead,
      col("file"), col("pos")).coalesce(1), new Path(dataDir, "dv"))
  }

  private def scopedAdvisory(s: SparkSession, targetBytes: Long): SparkSession = {
    val scoped = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try scoped.conf.set(k, v) catch { case _: Exception => () } // static confs
    }
    scoped.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      targetBytes.toString)
    scoped
  }

  /** INCREMENTAL compaction — the only OPTIMIZE a 100 TB table can run
    * on a cadence: rewrite ONLY the latest version's files smaller than
    * `smallerThanBytes` into ~`targetBytes` files, carrying every
    * already-well-sized file BY REFERENCE. Cost is O(small files), not
    * O(table) ([[commitCompaction]]'s full rewrite stays available for
    * the fold-everything maintenance window). The small files read
    * DV-APPLIED, so their delete-vector entries fold away with the
    * rewrite; carried files keep the version's vectors (entries naming
    * rewritten paths go inert, the standard rule). Returns the published
    * version, or the CURRENT version unchanged (no commit at all) when
    * fewer than two files qualify — a no-gain pass costs one directory
    * listing, which is what lets a maintenance job run it blindly on a
    * timer. Same CAS loop as every commit: a lost race recomputes
    * against the new latest, so concurrent appends are never dropped. */
  def commitCompactionPartial(s: SparkSession, loc: String,
                              smallerThanBytes: Long = 32L * 1024 * 1024,
                              targetBytes: Long = 128L * 1024 * 1024): Long =
    commit(s, loc) { t =>
      val tip = t.committed
      val lengths = fileSizes(s, tip.files)
      val (small, kept) = tip.files.partition(x =>
        lengths.get(normPath(x)).exists(_ < smallerThanBytes))
      if (small.length < 2) Done(tip.version) // no bin-packing gain; no commit
      else {
        val scoped = scopedAdvisory(s, targetBytes)
        val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
        val newFiles = writeData(
          readLive(scoped, small, tip.schema, tip.dvs).hint("rebalance"), dataDir)
        // kept files may still be DV-covered — carry the vectors with them,
        // FILTERED to entries naming kept files (entries whose files were
        // just rewritten DV-applied are dead weight every later DV read
        // would re-read)
        Publish(kept ++ newFiles, dvs = filterCarriedDvs(s, tip.dvs, kept, dataDir),
          schemaJson = tip.schemaJson, carriedValid = true, scratch = Seq(dataDir))
      }
    }

  /** Fold the latest version's merge-on-read DELETE VECTORS away by
    * rewriting ONLY the files their entries name — the missing middle
    * between `delete_mor` (O(matched rows) at write time, but readers
    * pay the per-file subtraction forever) and full `optimize`
    * (O(table)). Cost is O(deleted-from files): every other file is
    * carried BY REFERENCE, byte-identical. On a bucket-LAYOUT table the
    * rewrite routes through the layout's own bucket writer, so the
    * zero-Exchange join plan SURVIVES the fold — the GDPR-cleanup
    * lifecycle (delete_mor → fold_dvs) never costs a 100 TB fact its
    * co-partitioned plans or a full rewrite. Entries naming files no
    * longer live fold away as pure metadata. A DV-free version returns
    * unchanged (no commit) — safe on a timer. Same CAS loop as every
    * carry-by-reference verb: a lost race recomputes against the new
    * latest, so concurrent appends are never dropped. */
  def commitFoldDvs(s: SparkSession, loc: String,
                    targetBytes: Long = 128L * 1024 * 1024): Long =
    commit(s, loc) { t =>
      val tip = t.committed
      val (dvs, schema, layout) = (tip.dvs, tip.schema, tip.layout)
      // vectors drop from every publish below — each entry either folds
      // with its file or names a dead one
      lazy val carry = tip.carry.copy(dvs = Nil, carriedValid = true)
      if (dvs.isEmpty) Done(tip.version) // nothing to fold; no commit
      else {
        // the files the vectors actually name — O(distinct deleted-from
        // files) driver strings, the same cardinality class as a manifest
        val named = DeleteVectors.positions(s, dvs).keySet
        val (affected, kept) = tip.files.partition(x => named(normPath(x)))
        // every entry names a gone file: dropping the refs is metadata
        if (affected.isEmpty) carry
        else {
          val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
          val routed = layout.flatMap(BucketLayout.parse)
          val newFiles = routed match {
            case Some(spec) => BucketLayout.writeBucketed(
              readLive(s, affected, schema, dvs), spec, dataDir)
            case None =>
              // the rebalance hint resolves advisoryPartitionSizeInBytes
              // from df.sparkSession, so the READ must be built under the
              // scoped session too — else targetBytes is silently inert
              val scoped = scopedAdvisory(s, targetBytes)
              writeData(
                readLive(scoped, affected, schema, dvs)
                  .hint("rebalance"), dataDir)
          }
          // all kept files were routed (the layout was active) and the
          // rewrite routed too, so the layout carries
          carry.copy(files = kept ++ newFiles,
            layout = layout.filter(_ => routed.isDefined || kept.forall(
              x => BucketLayout.bucketOfPath(x).isDefined)),
            scratch = Seq(dataDir))
        }
      }
    }

  /** Retention GC: keep the newest `retainLast` versions, drop every
    * older manifest, then delete dead data files. Returns (manifests
    * dropped, data files deleted). A data file is dead if either
    *  - an EXPIRED manifest named it and no surviving one does (its
    *    version is gone, so it is unreachable forever), or
    *  - NO manifest names it and it is older than `orphanGraceMs`
    *    (failed-commit garbage). The grace window is what protects an
    *    IN-FLIGHT commit — files written but whose manifest has not
    *    published yet are also named by no manifest, and deleting them
    *    would let the commit publish a manifest of deleted files. Same
    *    rule as Delta/Iceberg vacuum retention. Size the window above
    *    the longest possible write+publish gap (a micro-batch, a big
    *    backfill's write time).
    *
    * Order matters for crash safety: manifests are removed FIRST, so a
    * crash mid-expire leaves orphaned data files (harmless garbage the
    * next expire collects) — never a live manifest naming deleted files.
    * At 100 TB both sides are driver-side metadata work (manifest lines
    * vs a data-directory listing); the deletes themselves are O(dead
    * files). */
  def expire(s: SparkSession, loc: String, retainLast: Int,
             orphanGraceMs: Long = 10L * 60 * 1000): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the latest version")
    val f = fs(s, loc)
    val ms = log(s, loc)
    // a tag is a retention pin: tagged versions survive regardless of
    // age — and a BRANCH's v1 is pinned structurally: it records the
    // fork lineage and the fork state that fastForward and the refs
    // metadata read forever, so expiring it would brick the branch
    val pinned = Refs.tags(s, loc).values.toSet ++
      (if (Refs.parentOf(loc).isDefined) Set(1L) else Set.empty[Long])
    val (dropped, kept) = {
      val tail = ms.takeRight(retainLast)
      val (pin, drop) = ms.dropRight(retainLast).partition(m => pinned(m.version))
      (drop, pin ++ tail)
    }
    // branch manifests carry parent files by reference (the fork), and a
    // fast-forwarded parent carries branch files — both directions pin
    // liveness across the ref boundary, so the sweep consults them. All
    // sets are normPath'd (Version.refs): manifest spellings vary by
    // committing path, listings are scheme-qualified, and a raw-string
    // compare here deletes live files.
    // folded one manifest at a time (mutable set), so peak driver memory
    // is the liveness set + ONE manifest's refs — never the multi-GB
    // concatenation a flatMap(…).toSet would stage on a deep history
    val live = {
      val acc = scala.collection.mutable.HashSet.empty[String]
      kept.foreach(acc ++= _.refs)
      acc ++= Refs.branchRefs(s, loc)
      Refs.parentOf(loc).foreach(pl => log(s, pl).foreach(acc ++= _.refs))
      acc
    }
    val expiredRefs = {
      val acc = scala.collection.mutable.HashSet.empty[String]
      dropped.foreach(_.refs.foreach(r => if (!live.contains(r)) acc += r))
      acc
    }
    // a kept version's bloom header may carry older versions' parquets
    // by reference (#base delta chain) — those stay alive with it
    val keptBloomBases: Set[Long] =
      kept.flatMap(m => BloomSidecar.baseVersions(s, loc, m.version)).toSet
    val keptGramBases: Set[Long] =
      kept.flatMap(m => BloomSidecar.gramBaseVersions(s, loc, m.version)).toSet
    val keptNdvBases: Set[Long] =
      kept.flatMap(m => BloomSidecar.ndvBaseVersions(s, loc, m.version)).toSet
    dropped.foreach { m =>
      val v = m.version
      m.path.foreach(f.delete(_, false))
      f.delete(statsPath(loc, v), false) // zone-map sidecar goes with it
      f.delete(BloomSidecar.headerPath(loc, v), false) // bloom sidecar too
      f.delete(BloomSidecar.gramHeaderPath(loc, v), false)
      f.delete(BloomSidecar.ndvHeaderPath(loc, v), false)
      if (!keptBloomBases.contains(v))
        f.delete(BloomSidecar.dataPath(loc, v), true)
      if (!keptGramBases.contains(v))
        f.delete(BloomSidecar.gramDataPath(loc, v), true)
      if (!keptNdvBases.contains(v))
        f.delete(BloomSidecar.ndvDataPath(loc, v), true)
    }
    val dataRoot = new Path(loc, "data")
    val orphanHorizon = System.currentTimeMillis() - orphanGraceMs
    var deleted = 0
    if (f.exists(dataRoot)) {
      val dead = filesUnder(f, dataRoot).filter { st =>
        val pStr = normPath(st.getPath.toString)
        st.getPath.getName.startsWith("part-") && !live.contains(pStr) &&
          (expiredRefs.contains(pStr) || st.getModificationTime < orphanHorizon)
      }.map(_.getPath).toList
      dead.foreach { p => if (f.delete(p, false)) deleted += 1 }
      // drop commit directories the sweep emptied of data files — but
      // never a young directory that might belong to an in-flight commit
      f.listStatus(dataRoot).foreach { d =>
        def hasData = filesUnder(f, d.getPath).exists(_.getPath.getName.startsWith("part-"))
        if (d.isDirectory && d.getModificationTime < orphanHorizon && !hasData)
          f.delete(d.getPath, true)
      }
    }
    (dropped.size, deleted)
  }
}

package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Named refs over the snapshot manifest log: BRANCHES (divergent
  * writable lines) and TAGS (immutable version pins) — the
  * write-audit-publish workflow every production table format grew
  * (Iceberg branches/tags, Delta shallow clones, lakeFS), built from
  * the same two primitives the rest of the format uses: carry files by
  * reference, publish by atomic manifest rename.
  *
  * A branch IS a snapshot table at `loc/_branches/<name>` whose v1
  * carries the parent's fork-point manifest by reference (files, DVs,
  * schema, bucket layout — zero data movement at any table size, same
  * as [[Snapshots.rollback]]). Every existing verb then works on it
  * unchanged — INSERT/UPDATE/MERGE/DELETE, OPTIMIZE, time travel,
  * sidecars — because they all take a location. The audit step is any
  * read of the branch; PUBLISH is [[fastForward]]: re-publish the
  * branch's latest manifest into the parent log under the parent's CAS
  * loop, refused if the parent advanced past the fork point (the
  * Iceberg fast-forward rule — divergence needs an explicit new fork,
  * never a silent overwrite of someone else's commits).
  *
  * A tag is one header line in `loc/_refs/<name>.tag` naming a version.
  * [[Snapshots.expire]] keeps tagged manifests regardless of
  * `retain_last` (a tag is a retention pin), keeps any file a branch
  * manifest still references (the fork carry means branch manifests
  * name PARENT data files), and a branch's own expire keeps files the
  * parent re-referenced via fast-forward — liveness is always computed
  * over every manifest that can still be read, never age order alone.
  *
  * Reference analog: output-directory versioning by convention
  * (`FileOutputFormat` writes a new dir per job, promotion = renaming
  * the blessed dir into place — `CORE/mapreduce/lib/output/
  * FileOutputCommitter.java`); here promotion is one manifest rename
  * with the full lineage recorded.
  */
object Refs {

  /** `t#branch` → the branch's location; idents without `#` pass
    * through. The one-token form lets every surface that names a table
    * (SQL identifiers, CALL arguments) address a branch with zero new
    * grammar: `INSERT INTO cat.\`t#audit\``, `CALL expire('t#audit', 1)`. */
  def resolve(loc: String): String = {
    val i = loc.indexOf('#')
    if (i < 0) loc
    else {
      val name = loc.substring(i + 1)
      requireRefName(name)
      s"${loc.substring(0, i)}/_branches/$name"
    }
  }

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+, got '$name'")

  private[graft] def branchRoot(loc: String) = new Path(loc, "_branches")
  private[graft] def branchLoc(loc: String, name: String): String = {
    requireRefName(name)
    s"$loc/_branches/$name"
  }
  private def refsDir(loc: String) = new Path(loc, "_refs")
  private def tagPath(loc: String, name: String): Path = {
    requireRefName(name)
    // `VERSION AS OF '<literal>'` tries the literal as a version NUMBER
    // first, so an all-digit tag could be written but never read — it
    // would silently resolve to the version of that number instead
    require(!name.forall(_.isDigit),
      s"tag name must not be all digits ('$name' would be unreadable: " +
        "VERSION AS OF resolves numeric literals as version numbers)")
    new Path(refsDir(loc), s"$name.tag")
  }

  /** The parent location if `loc` is a branch, else None. */
  private[graft] def parentOf(loc: String): Option[String] = {
    val i = loc.lastIndexOf("/_branches/")
    if (i < 0) None else Some(loc.substring(0, i))
  }

  // ---------------------------------------------------------------- branches

  /** Fork a writable branch at the parent's current version (or a
    * pinned historical one — fork-from-tag/time-travel: pass the
    * version a tag names). Metadata-only: the branch's v1 names the
    * fork version's live files by reference (plus DVs/schema/layout),
    * so creating a branch on a 100 TB table writes one manifest.
    * Branching a branch is refused — one level keeps fast-forward's
    * fork-base rule decidable from v1's lineage (and a branch forked
    * from history can only fast-forward after the parent rolls back to
    * that version, the correct publish semantics by construction). */
  def createBranch(s: SparkSession, loc: String, name: String,
                   version: Long = -1L): Long = {
    require(parentOf(loc).isEmpty, s"cannot branch a branch: $loc")
    val ms = Snapshots.log(s, loc)
    require(ms.nonEmpty, s"no committed snapshots at $loc")
    val bl = branchLoc(loc, name)
    require(Snapshots.latestVersion(s, bl) == 0,
      s"branch '$name' already exists at $loc")
    val src =
      if (version < 0) ms.last
      else ms.find(_.version == version).getOrElse(
        throw new NoSuchElementException(
          s"version $version not found at $loc (expired or never committed)"))
    val ok = Snapshots.tryPublish(s, bl, 1L,
      src.carry.copy(
        lineage = Some(s"branch:$loc@v${src.version}"),
        carriedValid = true)) // fork carries validated rows by reference
    if (!ok) throw new IllegalStateException(
      s"branch '$name' concurrently created at $loc")
    src.version
  }

  /** The fork point recorded in the branch's v1 lineage header. */
  private[graft] def forkBase(s: SparkSession, branchLoc: String): Long = {
    val l = Snapshots.lineage(s, branchLoc).getOrElse(
      throw new IllegalStateException(s"$branchLoc has no fork lineage"))
    require(l.startsWith("branch:"), s"$branchLoc is not a branch fork: $l")
    l.substring(l.lastIndexOf("@v") + 2).toLong
  }

  /** PUBLISH: land the branch's latest state on the parent as one new
    * commit. Requires the parent still AT THE FORK STATE — decided by
    * content (file set + DVs vs the branch's v1 carry), not version
    * number, so a parent ROLLED BACK to the fork point accepts the
    * publish (undo-then-land) while any real divergence refuses with a
    * clear error rather than silently dropping concurrent commits.
    * Idempotent on retry (an already-landed publish recognizes its own
    * lineage). The published manifest names the branch's data files by
    * reference — no copy; [[dropBranch]] and the branch's expire both
    * honor parent references when sweeping. */
  def fastForward(s: SparkSession, loc: String, name: String): Long = {
    val bl = branchLoc(loc, name)
    val bms = Snapshots.log(s, bl)
    require(bms.nonEmpty, s"no branch '$name' at $loc")
    val base = forkBase(s, bl)
    val head = bms.last
    val lineage = s"publish:$name@v${head.version}"
    // the fork state rides in the branch's own v1 (carried by
    // reference), so the check never needs the parent's possibly-expired
    // base manifest; normPath'd comparison (Version.refs) so spelling
    // differences between committing paths never fake a divergence
    val forkState = bms.head.refs
    var replay = false
    val v = Snapshots.commit(s, loc) { tip =>
      if (tip.refs == forkState) head.carry.copy(lineage = Some(lineage))
      // idempotent retry: the parent's newest commit IS this publish
      else if (tip.lineage.contains(lineage)) {
        replay = true
        Snapshots.Done(tip.version)
      } else throw new IllegalStateException(
        s"$loc (v${tip.version}) advanced past fork state v$base of '$name'; " +
          "re-branch and re-apply, or roll the parent back first")
    }
    // the parent's sidecars attach per version — without a refresh the
    // first query after a WAP publish loses zone-map/Bloom/gram pruning
    // and the metadata-only aggregates (incremental by file, best-effort,
    // same rule as every other write path)
    if (!replay) Snapshots.autoStats(s, loc)
    v
  }

  /** Fold the refs of many versions into one liveness set ONE
    * MANIFEST AT A TIME — peak driver memory is the result set plus a
    * single manifest's refs, never the concatenation of every
    * manifest's ref list that a `flatMap(…).toSet` would materialize
    * first (multi-GB of transient strings on a deep un-expired history
    * at the 1M-file operating point). */
  private def foldRefs(versions: Iterable[Snapshots.Version]): Set[String] = {
    val live = scala.collection.mutable.HashSet.empty[String]
    versions.foreach(live ++= _.refs)
    live.toSet
  }

  /** Drop a branch: remove its manifests and sweep its data directory,
    * KEEPING any file a parent manifest still references (fast-forward
    * publishes by reference, so the blessed files may live under the
    * branch's data dir) — or that a SIBLING branch's manifests do: a
    * fast-forwarded branch's files can be carried into a sibling's v1
    * fork, and once [[Snapshots.expire]] drops the parent manifests
    * naming them (keeping the files alive via `branchRefs`), the parent
    * log alone no longer proves them live — sweeping on parent refs
    * only would permanently delete files the sibling still reads.
    * Files no surviving manifest anywhere references go with the
    * branch. */
  def dropBranch(s: SparkSession, loc: String, name: String): Int = {
    val bl = branchLoc(loc, name)
    val f = Snapshots.fs(s, bl)
    val blPath = new Path(bl)
    if (!f.exists(blPath)) return 0
    // normPath'd on both sides (Version.refs vs listing): manifest
    // spellings vary by committing path; a raw-string compare here would
    // delete parent-published files — permanent parent data loss.
    // Liveness = parent manifests ∪ every OTHER branch's manifests,
    // mirroring the set expire builds (cross-ref liveness must hold in
    // both directions).
    val parentLive: Set[String] = foldRefs(Snapshots.log(s, loc) ++
      listBranches(s, loc).filterNot(_ == name).flatMap(n =>
        Snapshots.log(s, branchLoc(loc, n))))
    // manifests go first so no reader plans from a half-swept branch
    f.delete(Snapshots.manifestDir(bl), true)
    var kept = 0
    val dataRoot = new Path(bl, "data")
    if (f.exists(dataRoot)) {
      val dead = scala.collection.mutable.ArrayBuffer.empty[Path]
      Snapshots.filesUnder(f, dataRoot).foreach { st =>
        if (st.isFile) {
          if (parentLive.contains(Snapshots.normPath(st.getPath.toString)))
            kept += 1
          else dead += st.getPath
        }
      }
      dead.foreach(p => f.delete(p, false))
    }
    if (kept == 0) f.delete(blPath, true)
    else { // leave only the parent-referenced data; sidecars etc. go
      f.listStatus(blPath).foreach { st =>
        if (st.getPath.getName != "data") f.delete(st.getPath, true)
      }
    }
    kept
  }

  /** Branch names with a live manifest log, for `expire` liveness and
    * the metadata surface. */
  private[graft] def listBranches(s: SparkSession, loc: String): Seq[String] = {
    val f = Snapshots.fs(s, loc)
    val br = branchRoot(loc)
    if (!f.exists(br)) Nil
    else f.listStatus(br).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => Snapshots.latestVersion(s, branchLoc(loc, n)) > 0)
      .sorted
  }

  /** Every file (data + DV) any branch manifest of `loc` references —
    * the fork carry means these include PARENT data files, which the
    * parent's expire must therefore treat as live. */
  private[graft] def branchRefs(s: SparkSession, loc: String): Set[String] =
    foldRefs(listBranches(s, loc).flatMap(n => Snapshots.log(s, branchLoc(loc, n))))

  // -------------------------------------------------------------------- tags

  /** Pin `version` (default: latest) under an immutable name. One tiny
    * file, created atomically (tmp + no-overwrite rename); re-tagging an
    * existing name is refused — drop it first, so a tag read twice never
    * means two versions. */
  def tag(s: SparkSession, loc: String, name: String, version: Long = -1L): Long = {
    val v = if (version < 0) Snapshots.latestVersion(s, loc) else version
    require(v > 0, s"nothing to tag at $loc")
    require(Snapshots.log(s, loc).exists(_.version == v),
      s"version $v not found at $loc (expired or never committed)")
    // the same exactly-once claim as the manifest log
    if (Snapshots.claim(s, tagPath(loc, name), s"$v\n".getBytes("UTF-8"))) v
    else throw new IllegalStateException(
      s"tag '$name' already exists at $loc (tags are immutable; drop it first)")
  }

  /** The version a tag pins, or None. */
  def tagVersion(s: SparkSession, loc: String, name: String): Option[Long] = {
    val f = Snapshots.fs(s, loc)
    val p = tagPath(loc, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next().trim.toLong)
      finally in.close()
    }
  }

  def dropTag(s: SparkSession, loc: String, name: String): Boolean =
    Snapshots.fs(s, loc).delete(tagPath(loc, name), false)

  /** The ref surface AS a table (`<cat>.<t>.refs`): one row per branch
    * (head version + fork base) and per tag (pinned version). */
  def refsMeta(s: SparkSession, loc: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val branches = listBranches(s, loc).map { n =>
      val bl = branchLoc(loc, n)
      ("branch", n, Snapshots.latestVersion(s, bl), Some(forkBase(s, bl)))
    }
    val tagRows = tags(s, loc).toSeq.sortBy(_._1)
      .map { case (n, v) => ("tag", n, v, None: Option[Long]) }
    (branches ++ tagRows).toDF("kind", "name", "version", "fork_base")
  }

  /** All tags of `loc`, name → version — expire keeps these manifests. */
  private[graft] def tags(s: SparkSession, loc: String): Map[String, Long] = {
    val f = Snapshots.fs(s, loc)
    val rd = refsDir(loc)
    if (!f.exists(rd)) Map.empty
    else f.listStatus(rd).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tag") &&
        !st.getPath.getName.startsWith("_tmp_"))
      .flatMap { st =>
        val name = st.getPath.getName.stripSuffix(".tag")
        tagVersion(s, loc, name).map(name -> _)
      }.toMap
  }
}

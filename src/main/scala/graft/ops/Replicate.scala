package graft.ops

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Incremental cross-location replication — the snapshot-native
  * `DistCp -update -diff` (reference:
  * `hadoop-tools/hadoop-distcp/src/main/java/org/apache/hadoop/tools/DistCpSync.java`):
  * make `dstLoc` an exact replica of `srcLoc`'s version chain by
  * shipping ONLY the files each missing version ADDED (manifest diff —
  * data files and delete-vector sidecars), then publishing the same
  * manifests with paths rewritten under the replica root. Carried files
  * are never re-copied: after one append, a `replicate` call moves
  * O(new files), which is the whole DR / cross-region story at 100 TB.
  *
  *  - INCREMENTAL: versions the replica already has are skipped; each
  *    missing version copies exactly `refs(v) − refs(v−1)`.
  *  - IDEMPOTENT / RESUMABLE: copies skip same-length existing targets
  *    (the `-update` heuristic; commit paths are UUID-unique, so a
  *    length match IS identity), and a replayed manifest publish that
  *    finds its version already claimed verifies the content matches
  *    and moves on — a crashed run resumes from wherever it stopped.
  *  - DIVERGENCE-REFUSED (the fast_forward rule): if the replica's tip
  *    manifest differs from the source's same-numbered manifest
  *    (rewritten), the verb throws instead of silently merging two
  *    histories. A replica is read-only by contract; anything else is a
  *    fork and must say so.
  *  - Markers, schema, layout, and lineage headers carry VERBATIM, so
  *    exactly-once streaming markers and co-partitioned plans survive
  *    replication; `#dv=` references rewrite like data paths.
  *  - REFS SHIP WITH THE TABLE: every branch replicates as its own
  *    manifest chain (same diff/idempotency/divergence rules; a
  *    source-side drop+recreate re-seeds the replica's branch), and
  *    tags mirror name-for-name — a DR replica keeps its WAP staging
  *    state and its retention pins. `DistCpSync` copies the whole
  *    snapshotted tree for the same reason.
  *  - The tip's pruning sidecars ship too: the stats text rewrites its
  *    per-line file paths, Bloom/gram parquet sidecars rewrite their
  *    `file` column, headers last (their crash-safety contract), plus
  *    the auto-stats policy file — so the replica prunes like the
  *    source from the first query. Historical versions' sidecars are
  *    skipped by default (pruning is an optimization; the tip is what
  *    queries read); `withHistory = true` ships every version's — the
  *    opt-in for replicas serving pinned time-travel AUDIT reads.
  *
  * Copies distribute across the cluster (foreachPartition, the
  * [[graft.jobs.Programs.distCpLite]] pattern); the driver holds only
  * the O(files) listing — the same cardinality class as the manifest.
  */
object Replicate {

  def replicate(s: SparkSession, srcLoc: String, dstLoc: String,
                numTasks: Int = 32, withHistory: Boolean = false): Long = {
    require(Snapshots.latestVersion(s, srcLoc) > 0,
      s"no committed snapshots at $srcLoc")
    val srcRoot = Snapshots.normPath(srcLoc)
    val dstRoot = Snapshots.normPath(dstLoc)
    require(srcRoot != dstRoot, s"replica location equals the source: $srcRoot")
    shipChain(s, srcLoc, dstLoc, srcRoot, dstRoot, numTasks, withHistory)

    // ---- refs ship with the table (DistCpSync copies the whole tree):
    // each BRANCH is its own manifest chain under the same root rewrite
    // (its v1 fork-carries PARENT files, whose paths rewrite under the
    // parent roots exactly like the main chain's), same diff/idempotency
    // rules per branch. A divergent or expired-past-the-replica branch
    // chain can only mean the source DROPPED AND RE-CREATED the branch
    // (the replica is read-only; its branch state came from a prior
    // replicate), so those re-seed: drop the replica's branch — keeping
    // any file the replica's parent manifests still reference, the
    // dropBranch liveness rule — and ship the new chain fresh.
    val srcBranches = Refs.listBranches(s, srcLoc)
    srcBranches.foreach { b =>
      val sb = Refs.branchLoc(srcLoc, b)
      val db = Refs.branchLoc(dstLoc, b)
      try shipChain(s, sb, db, srcRoot, dstRoot, numTasks, withHistory)
      catch {
        case _: java.util.ConcurrentModificationException |
             _: IllegalStateException =>
          Refs.dropBranch(s, dstLoc, b)
          shipChain(s, sb, db, srcRoot, dstRoot, numTasks, withHistory)
      }
    }
    // branches the source no longer has leave the replica too — a
    // replica that keeps a deleted staging branch isn't a replica
    Refs.listBranches(s, dstLoc).filterNot(srcBranches.contains)
      .foreach(b => Refs.dropBranch(s, dstLoc, b))

    // ---- TAGS mirror verbatim: names + pinned versions (version
    // numbers are identical by construction — the chains are the same).
    // Tags are retention pins, so the mirror runs AFTER the chain ship:
    // a tag never names a version the replica doesn't hold yet. A
    // re-pointed name (source drop+retag) re-points here; a dropped
    // name drops.
    val srcTags = Refs.tags(s, srcLoc)
    val dstTags = Refs.tags(s, dstLoc)
    dstTags.keysIterator.filterNot(srcTags.contains)
      .foreach(n => Refs.dropTag(s, dstLoc, n))
    srcTags.toSeq.sortBy(_._1).foreach { case (n, v) =>
      if (!dstTags.get(n).contains(v)) {
        Refs.dropTag(s, dstLoc, n)
        Refs.tag(s, dstLoc, n, v)
      }
    }
    Snapshots.latestVersion(s, dstLoc)
  }

  /** Ship one manifest chain (the main table's or a branch's) from
    * `srcLoc` to `dstLoc`, rewriting every path under `srcRoot` →
    * `dstRoot` — the PARENT roots even for a branch chain, so
    * fork-carried parent files resolve to the replica parent's copies.
    * Incremental, idempotent, divergence-refused; ships the tip's
    * pruning sidecars last. */
  private def shipChain(s: SparkSession, srcLoc: String, dstLoc: String,
                        srcRoot: String, dstRoot: String,
                        numTasks: Int, withHistory: Boolean = false): Unit = {
    val srcMs = Snapshots.log(s, srcLoc)
    require(srcMs.nonEmpty, s"no committed snapshots at $srcLoc")
    def rewritePath(p: String): String = {
      val n = Snapshots.normPath(p)
      require(n.startsWith(srcRoot + "/"),
        s"manifest names a file outside the source root ($srcRoot): $p")
      dstRoot + n.stripPrefix(srcRoot)
    }
    def rewriteLine(line: String): String =
      if (line.startsWith("#dv=")) "#dv=" + rewritePath(line.stripPrefix("#dv="))
      else if (line.startsWith("#") || line.isEmpty) line
      else rewritePath(line)
    def textOf(p: Path): String = {
      val in = Snapshots.fs(s, p.toString).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    def rewrittenText(p: Path): String =
      textOf(p).linesWithSeparators
        .map { l =>
          val (body, sep) = l.span(c => c != '\n' && c != '\r')
          rewriteLine(body) + sep
        }.mkString

    // ---- divergence gate: the replica's tip must BE the source's ----
    val dstMs = Snapshots.log(s, dstLoc)
    dstMs.lastOption.foreach { dst =>
      val dv = dst.version
      val srcSame = srcMs.find(_.version == dv).getOrElse(
        throw new IllegalStateException(
          s"$dstLoc is at v$dv but $srcLoc no longer has that manifest " +
            "(expired?) — cannot verify the replica's lineage; re-seed it"))
      if (textOf(dst.path.get) != rewrittenText(srcSame.path.get))
        throw new java.util.ConcurrentModificationException(
          s"$dstLoc diverged from $srcLoc at v$dv — a replica is " +
            "read-only by contract; refusing to merge two histories " +
            "(re-seed the replica, or fork it explicitly)")
    }
    val have = dstMs.map(_.version).toSet

    // ---- ship each missing version's ADDED files, then its manifest ----
    val todo = srcMs.filterNot(m => have.contains(m.version))
    var prevRefs: Set[String] =
      dstMs.lastOption.flatMap(dst => srcMs.find(_.version == dst.version))
        .fold(Set.empty[String])(_.refs)
    // versions below the replica tip that the source still carries but
    // the replica never saw can't exist (manifests publish in order and
    // the gate above pinned the tip) — `todo` is a suffix of the chain
    todo.foreach { m =>
      val v = m.version
      val dvRefs = m.dvs.map(Snapshots.normPath).toSet
      val refs = m.refs
      val fresh = (refs -- prevRefs).toSeq
      val (freshDvs, freshData) = fresh.partition(dvRefs)
      copyFiles(s, freshData.map(n => n -> rewritePath(n)), numTasks)
      // delete vectors are CONTENT-rewritten, not byte-copied: their
      // `file` column names source data files — the replica's readers
      // must see ITS OWN files' paths or deleted rows resurrect
      freshDvs.foreach(dv =>
        copyDvRewritten(s, dv, rewritePath(dv), srcRoot, dstRoot))
      val text = rewrittenText(m.path.get)
      val target = new Path(Snapshots.manifestDir(dstLoc), f"v$v%05d.txt")
      if (!Snapshots.claim(s, target, text.getBytes("UTF-8")) &&
          textOf(target) != text)
        throw new java.util.ConcurrentModificationException(
          s"$dstLoc grew a divergent v$v while replicating — refusing")
      prevRefs = refs
    }

    // ---- tip sidecars + the auto-stats policy, so the replica prunes;
    // `withHistory` ships every version's sidecars too — the opt-in for
    // replicas serving pinned time-travel AUDIT reads (without it a
    // historical read at the replica plans full scans; with it, the
    // pruning tier travels with each version). Still O(sidecars), never
    // O(data): every data file already shipped with its version.
    val tip = srcMs.last.version
    val sidecarVersions =
      if (withHistory) srcMs.map(_.version) else Seq(tip)
    sidecarVersions.foreach(v =>
      copySidecars(s, srcLoc, dstLoc, v, rewritePath, srcRoot, dstRoot))
    shipPolicies(s, srcLoc, dstLoc, srcRoot, dstRoot)
  }

  private def copyFiles(s: SparkSession, pairs: Seq[(String, String)],
                        numTasks: Int): Unit = {
    if (pairs.isEmpty) return
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    s.sparkContext
      .parallelize(pairs, math.min(numTasks, math.max(pairs.size, 1)))
      .foreachPartition { it =>
        val c = serConf.value
        it.foreach { case (from, to) =>
          val fromP = new Path(from)
          val toP = new Path(to)
          val sfs = fromP.getFileSystem(c)
          val dfs = toP.getFileSystem(c)
          val len = sfs.getFileStatus(fromP).getLen
          // UUID-unique commit paths: a same-length target IS this file
          // (a half-written crash leftover is shorter — recopied)
          if (!dfs.exists(toP) || dfs.getFileStatus(toP).getLen != len)
            FileUtil.copy(sfs, fromP, dfs, toP, false, true, c)
        }
      }
  }

  /** One delete-vector sidecar, content-rewritten for the replica: each
    * `file` value maps to the SAME relative path under the replica root
    * (`dstRoot` — always the PARENT table's root, so a branch DV naming
    * fork-carried parent files rewrites correctly too), filesystem-
    * qualified, so the replica's readers (which key both the vector and
    * their own files by normalized path) subtract precisely the same
    * rows. Written to the exact target path the rewritten manifest names
    * (atomic rename of the one tiny part file); an existing target is a
    * finished prior attempt — skipped, resume-safe. */
  private def copyDvRewritten(s: SparkSession, from: String, to: String,
                              srcRoot: String, dstRoot: String): Unit = {
    import org.apache.spark.sql.functions.udf
    val toP = new Path(to)
    val dfs = toP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (dfs.exists(toP)) return
    val qualifiedDstRoot =
      dfs.makeQualified(new Path(dstRoot)).toString
    val srcPrefix = srcRoot
    val requalify = udf { p: String =>
      val n = Snapshots.normUrl(p)
      require(n.startsWith(srcPrefix + "/"),
        s"delete vector names a file outside the source root: $p")
      qualifiedDstRoot + n.stripPrefix(srcPrefix)
    }
    val tmp = new Path(toP.getParent,
      s"_tmp_dv_${java.util.UUID.randomUUID()}")
    DeleteVectors.read(s, Seq(from))
      .withColumn("file", requalify(org.apache.spark.sql.functions.col("file")))
      .coalesce(1)
      .write.parquet(tmp.toString)
    val part = dfs.listStatus(tmp).map(_.getPath)
      .find(_.getName.startsWith("part-")).getOrElse(
        throw new IllegalStateException(s"empty delete vector at $from"))
    dfs.mkdirs(toP.getParent)
    if (!dfs.rename(part, toP) && !dfs.exists(toP))
      throw new java.io.IOException(s"could not place replica DV at $to")
    dfs.delete(tmp, true)
  }

  /** Tip pruning sidecars: stats text (per-line leading file path
    * rewritten), Bloom + gram parquet (their `file` column rewritten
    * under the PARENT roots — branch sidecars inherit lines naming
    * fork-carried parent files, `.txt` headers written LAST per the
    * sidecar crash contract), and the auto-stats policy file. All
    * O(sidecar), never O(data). */
  private def copySidecars(s: SparkSession, srcLoc: String, dstLoc: String,
                           version: Long, rewritePath: String => String,
                           srcRoot: String, dstRoot: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, substring, concat}
    val sf = Snapshots.fs(s, srcLoc)
    val df = Snapshots.fs(s, dstLoc)
    val srcMd = Snapshots.manifestDir(srcLoc)
    val dstMd = Snapshots.manifestDir(dstLoc)
    def writeText(target: Path, text: String): Unit = {
      val tmp = new Path(dstMd, s"_tmp_${java.util.UUID.randomUUID()}.txt")
      val out = df.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      df.delete(target, false)
      if (!df.rename(tmp, target)) df.delete(tmp, false)
      Snapshots.invalidateMeta(s, target)
    }
    // stats sidecar: '#' headers verbatim, data lines lead with the path
    val stats = new Path(srcMd, f"v$version%05d.stats.txt")
    if (sf.exists(stats)) {
      val text = Snapshots.manifestLines(s, stats).map { l =>
        if (l.startsWith("#") || l.isEmpty) l
        else {
          val cut = l.indexOf('\t')
          if (cut < 0) l else rewritePath(l.substring(0, cut)) + l.substring(cut)
        }
      }.mkString("", "\n", "\n")
      writeText(new Path(dstMd, f"v$version%05d.stats.txt"), text)
    }
    // Bloom / gram / ndv sidecars: parquet first, header last
    Seq("bloom", "gbloom", "ndv").foreach { kind =>
      val srcHdr = new Path(srcMd, f"v$version%05d.$kind.txt")
      val srcDat = new Path(srcMd, f"v$version%05d.$kind.parquet")
      if (sf.exists(srcHdr) && sf.exists(srcDat)) {
        val dstDat = new Path(dstMd, f"v$version%05d.$kind.parquet")
        df.delete(dstDat, true)
        s.read.parquet(srcDat.toString)
          .withColumn("file",
            concat(lit(dstRoot),
              substring(col("file"), srcRoot.length + 1, Int.MaxValue)))
          .coalesce(1)
          .write.parquet(dstDat.toString)
        writeText(new Path(dstMd, f"v$version%05d.$kind.txt"),
          Snapshots.manifestLines(s, srcHdr).mkString("", "\n", "\n"))
      }
    }
  }

  /** The UNVERSIONED policy/MV metadata — shipped once per chain, not
    * once per version (a 10k-version with_history ship must not rewrite
    * these 10k times). The MV definition and the base-side MV pointers
    * ship with locations REWRITTEN when they live under the same
    * catalog parent (the sibling-table case — both replicate together
    * and the replica refreshes locally); a location outside it keeps
    * its spelling, so the replica's refresh_mv reads the SOURCE base's
    * change feed (cross-region CDC). */
  private def shipPolicies(s: SparkSession, srcLoc: String, dstLoc: String,
                           srcRoot: String, dstRoot: String): Unit = {
    val sf = Snapshots.fs(s, srcLoc)
    val df = Snapshots.fs(s, dstLoc)
    val srcMd = Snapshots.manifestDir(srcLoc)
    val dstMd = Snapshots.manifestDir(dstLoc)
    def writeText(target: Path, text: String): Unit = {
      val tmp = new Path(dstMd, s"_tmp_${java.util.UUID.randomUUID()}.txt")
      val out = df.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      df.delete(target, false)
      if (!df.rename(tmp, target)) df.delete(tmp, false)
      Snapshots.invalidateMeta(s, target)
    }
    val policy = new Path(srcMd, "autostats.cols")
    if (sf.exists(policy))
      writeText(new Path(dstMd, "autostats.cols"),
        Snapshots.manifestLines(s, policy).mkString("", "\n", "\n"))
    val srcParent = new Path(srcRoot).getParent.toString
    val dstParent = new Path(dstRoot).getParent.toString
    def reRoot(line: String): String =
      if (line.startsWith(srcParent + "/")) dstParent + line.stripPrefix(srcParent)
      else line
    val mvDef = new Path(srcMd, "mv.def")
    if (sf.exists(mvDef)) {
      val lines = Snapshots.manifestLines(s, mvDef)
      writeText(new Path(dstMd, "mv.def"),
        (reRoot(lines.head) +: lines.tail).mkString("", "\n", "\n"))
    }
    Mv.usersOf(s, srcLoc).foreach(mvLoc =>
      Mv.registerUser(s, dstLoc, reRoot(mvLoc)))
  }
}

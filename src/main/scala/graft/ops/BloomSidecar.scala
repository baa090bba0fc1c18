package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter sidecars for POINT-lookup file skipping on
  * snapshot tables — the complement of the zone-map sidecar
  * ([[Snapshots.attachStats]]): min/max intervals prune range predicates
  * on CLUSTERED columns, but on a high-cardinality key whose values are
  * scattered across files (a hash layout, an id column uncorrelated with
  * the clustering key) every file's interval spans the whole domain and
  * zone maps keep everything. A per-file Bloom filter answers "might this
  * file contain value v" regardless of layout, so `WHERE k = v` / `IN`
  * plans O(containing files + false positives), not O(table).
  *
  * Layout: `<loc>/_manifests/v<NNNNN>.bloom.parquet` holds one row per
  * (file, column) with the serialized filter (`bits = null` marks a file
  * whose distinct count overflowed the build cap — never skipped); the
  * companion `v<NNNNN>.bloom.txt` header names the covered columns and is
  * written LAST, so a reader that sees the header always finds the
  * filters (crash mid-attach leaves an ignored orphan directory).
  *
  * Hashing contract: filters store `xxhash64(CAST(col AS STRING))`
  * computed by Spark's codegen'd hash on the build side; the probe
  * hashes its literals with the same `functions.xxhash64` inside the
  * probe job, so build and probe can never disagree on a hash
  * implementation. String encoding matches the zone-map sidecar's
  * CAST-AS-STRING convention.
  *
  * Scale notes (100 TB): the build is one scan of the FRESH files only
  * (immutable files inherit their rows from the previous version's
  * sidecar, like [[Snapshots.attachStats]] — maintenance is O(delta));
  * each file's filter is sized to its own observed distinct count
  * (capped), and the per-file distinct-set buffer lives in executor
  * memory behind `maxDistinct`, never on the driver. The probe is a
  * distributed job over the sidecar parquet — the driver receives only
  * the O(files) keep/skip verdict, the same class of driver state as the
  * manifest itself. Bloom filters have NO false negatives, so skipping
  * is an optimization, never a correctness dependency.
  */
object BloomSidecar {

  private[graft] def headerPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.bloom.txt")
  private[graft] def dataPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.bloom.parquet")
  private[graft] def gramHeaderPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.gbloom.txt")
  private[graft] def gramDataPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.gbloom.parquet")
  private[graft] def ndvHeaderPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.ndv.txt")
  private[graft] def ndvDataPath(loc: String, version: Long) =
    new Path(new Path(loc, "_manifests"), f"v$version%05d.ndv.parquet")

  /** Per-group builder: buffers the distinct xxhash64 values (nulls —
    * from NULL column values — are skipped; equality never matches NULL),
    * then sizes one filter to exactly that count. Crossing `maxDistinct`
    * marks the group SATURATED (`finish` returns null = "never skip this
    * file"): the cap bounds executor memory per group, and degrading to
    * no-skip is the only safe failure mode a filter has. */
  private final class BloomAgg(fpp: Double, maxDistinct: Int)
    extends Aggregator[java.lang.Long, java.util.HashSet[java.lang.Long], Array[Byte]] {
    def zero: java.util.HashSet[java.lang.Long] = new java.util.HashSet
    def reduce(b: java.util.HashSet[java.lang.Long], a: java.lang.Long)
        : java.util.HashSet[java.lang.Long] = {
      if (a != null && b.size <= maxDistinct) b.add(a)
      b
    }
    def merge(x: java.util.HashSet[java.lang.Long], y: java.util.HashSet[java.lang.Long])
        : java.util.HashSet[java.lang.Long] = {
      val it = y.iterator()
      while (it.hasNext && x.size <= maxDistinct) x.add(it.next())
      x
    }
    def finish(b: java.util.HashSet[java.lang.Long]): Array[Byte] = {
      if (b.size > maxDistinct) return null
      val bf = BloomFilter.create(math.max(b.size.toLong, 1L), fpp)
      val it = b.iterator()
      while (it.hasNext) bf.putLong(it.next())
      val bos = new ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder = Encoders.kryo[java.util.HashSet[java.lang.Long]]
    def outputEncoder = Encoders.BINARY
  }

  /** Chain length at which an attach folds every referenced delta into
    * one fresh base — bounds both probe fan-in and the growth of
    * dead-file rows riding old deltas. */
  private val CompactChain = 8

  /** Compute and attach per-file Bloom filters for `cols` to an existing
    * version (typically right after a commit, next to `attachStats`).
    * INCREMENTAL in both directions: files already covered by a prior
    * sidecar with the same column set inherit their rows BY REFERENCE —
    * the new version's parquet holds ONLY the fresh files' rows, and its
    * header lists the prior versions' parquets in `#base=` (the
    * manifest's own carry-by-reference idiom). So the per-commit
    * maintenance WRITE is O(new files), not O(all covered files' filter
    * bytes) — at an ~800k-file operating point rewriting every filter
    * through one task per commit would be a multi-GB serial write.
    * Once the chain reaches [[CompactChain]] deltas the attach folds
    * them into one fresh base (a distributed, multi-file write). */
  def attachBlooms(s: SparkSession, loc: String, version: Long,
                   cols: Seq[String], fpp: Double = 0.01,
                   maxDistinct: Int = 1 << 21): Unit = {
    require(cols.nonEmpty, "attachBlooms needs at least one column")
    val bloomU = udaf(new BloomAgg(fpp, maxDistinct), Encoders.LONG)
    val normU = udf((p: String) => Snapshots.normUrl(p))
    attachCore(s, loc, version, cols, fpp,
      headerPath(loc, _), dataPath(loc, _), extraHeader = "",
      build = { fresh =>
        val hashed = fresh.select(
          input_file_name().as("file") +:
            cols.map(c => when(col(c).isNotNull,
              xxhash64(col(c).cast("string"))).as(c)): _*)
        hashed.groupBy(col("file"))
          .agg(bloomU(col(cols.head)).as(cols.head),
            cols.tail.map(c => bloomU(col(c)).as(c)): _*)
          .select(normU(col("file")).as("file"),
            explode(array(cols.map(c =>
              struct(lit(c).as("column"), col(c).as("bits"))): _*)).as("e"))
          .select(col("file"), col("e.column").as("column"), col("e.bits").as("bits"))
      })
  }

  /** Compute and attach per-file SUBSTRING-gram Bloom filters for text
    * columns: each file's filter holds the xxhash64 of every distinct
    * lowercase character `gram`-gram its values contain, so a pushed
    * `col LIKE '%needle%'` / `contains` / prefix / suffix predicate can
    * skip files missing ANY gram of the (lowercased) needle — the
    * trigram-index idea (pg_trgm, Google Code Search) as a file-skipping
    * sidecar. Lowercasing both sides makes the gram set case-insensitive,
    * which OVER-approximates the case-sensitive predicate: a matching
    * file always has every needle gram, a kept file is re-checked by the
    * pushed predicate below — no false negatives by construction. Same
    * delta/carry/compaction lifecycle as [[attachBlooms]], separate
    * sidecar namespace (`v<N>.gbloom.*`), so a table can carry both. At
    * 100 TB this answers "which files mention this contamination probe /
    * error token" with O(containing files) data reads. */
  def attachGramBlooms(s: SparkSession, loc: String, version: Long,
                       cols: Seq[String], fpp: Double = 0.01,
                       maxDistinct: Int = 1 << 21, gram: Int = 4): Unit = {
    require(cols.nonEmpty, "attachGramBlooms needs at least one column")
    require(gram >= 2 && gram <= 16, s"gram length $gram out of range")
    val bloomU = udaf(new BloomAgg(fpp, maxDistinct), Encoders.LONG)
    val normU = udf((p: String) => Snapshots.normUrl(p))
    val gramsU = udf { t: String =>
      if (t == null || t.length < gram) Array.empty[String]
      else t.toLowerCase(java.util.Locale.ROOT)
        .sliding(gram).distinct.toArray
    }
    attachCore(s, loc, version, cols, fpp,
      gramHeaderPath(loc, _), gramDataPath(loc, _),
      extraHeader = s"#gram=$gram\n",
      build = { src =>
        cols.map { c =>
          // per-row distinct bounds the explode; BloomAgg's map-side
          // partial dedups per file before any shuffle
          src.select(input_file_name().as("file"),
              explode(gramsU(col(c).cast("string"))).as("g"))
            .select(col("file"), xxhash64(col("g")).as("h"))
            .groupBy(col("file")).agg(bloomU(col("h")).as("bits"))
            .select(normU(col("file")).as("file"), lit(c).as("column"),
              col("bits"))
        }.reduce(_.unionByName(_))
      })
  }

  /** Compute and attach per-file DISTINCT-COUNT sketches for `cols`
    * (`v<NNNNN>.ndv.parquet`, one [[graft.functions.HllSketch]] summary
    * per (file, column)) — what turns the CBO's ndv into a STORED FACT
    * instead of a guess: registers union losslessly across files
    * ([[ndvCounts]]), so the table-level distinct count is exact while
    * the union stays in the sketch's sparse regime (≤ 2^p/4 distinct
    * keys) and a proven ±1.04/√2^p estimate beyond — never a heuristic,
    * absent when any active file lacks a sketch. Values hash through
    * the sidecar family's shared `xxhash64(CAST(col AS STRING))`
    * convention; NULLs don't count (`count(DISTINCT c)` semantics).
    * Same O(delta) inherit/fold lifecycle as the Bloom sidecars; a
    * precision mismatch refuses inheritance (summaries of different `p`
    * cannot merge). */
  def attachNdv(s: SparkSession, loc: String, version: Long,
                cols: Seq[String], p: Int = 12): Unit = {
    require(cols.nonEmpty, "attachNdv needs at least one column")
    require(p >= 4 && p <= 16, s"HLL precision $p out of [4, 16]")
    graft.functions.GraftFunctions.register(s) // idempotent
    val normU = udf((pth: String) => Snapshots.normUrl(pth))
    attachCore(s, loc, version, cols, fpp = 0.0,
      ndvHeaderPath(loc, _), ndvDataPath(loc, _),
      extraHeader = s"#p=$p\n",
      accept = _.p == p,
      build = { fresh =>
        def sk(c: String) = expr(
          s"graft_hll(CASE WHEN `$c` IS NOT NULL THEN " +
            s"xxhash64(CAST(`$c` AS STRING)) END, $p)")
        fresh
          .groupBy(input_file_name().as("file"))
          .agg(sk(cols.head).as("sk0"),
            cols.tail.zipWithIndex.map { case (c, i) =>
              sk(c).as(s"sk${i + 1}") }: _*)
          .select(normU(col("file")).as("file"),
            explode(array(cols.zipWithIndex.map { case (c, i) =>
              struct(lit(c).as("column"), col(s"sk$i").as("bits")) }: _*)).as("e"))
          .select(col("file"), col("e.column").as("column"), col("e.bits").as("bits"))
      })
    // a same-version re-attach (different column set / precision)
    // rewrote the sidecar — cached counts for this version are stale
    invalidateNdvCache(loc, version)
  }

  /** The versions whose ndv parquets a version's sidecar references —
    * expire's carry-liveness, like [[baseVersions]]. */
  private[graft] def ndvBaseVersions(s: SparkSession, loc: String,
                                     version: Long): Seq[Long] = {
    val hp = ndvHeaderPath(loc, version)
    val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) Nil else readHeader(s, hp).base
  }

  // table-level ndv per (loc, version, active-set): keyed by a FULL
  // 128-bit digest of the sorted active list — the key is
  // correctness-bearing (a colliding pruned subset would serve the
  // other subset's counts), so a 32-bit hash is not enough. A
  // same-version re-attach rewrites the sidecar, so attachNdv
  // invalidates its (loc, version) entries.
  private val ndvCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, String), Map[String, Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), Map[String, Long]]): Boolean =
        size() > 256
    })

  /** 128-bit digest of a sorted path list — the collision-safe cache
    * key for "exactly this active subset". */
  private[graft] def pathSetDigest(sortedPaths: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    sortedPaths.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private[graft] def invalidateNdvCache(loc: String, version: Long): Unit = {
    val norm = Snapshots.normPath(loc)
    ndvCache.synchronized {
      ndvCache.keySet().removeIf(k => k._1 == norm && k._2 == version)
    }
  }

  /** Table-level distinct counts over exactly `files`, provable from the
    * ndv sidecar: a distributed register-union per covered column (the
    * driver receives one summary per column, never per file), reported
    * ONLY for columns where every active file has a sketch — the same
    * exact-or-absent contract as the rest of the CBO feed. Sparse-regime
    * unions are exact; dense ones carry the standard HLL bound. */
  private[graft] def ndvCounts(s: SparkSession, loc: String, version: Long,
                               files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    try {
      val hp = ndvHeaderPath(loc, version)
      val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(hp)) return Map.empty
      val header = readHeader(s, hp)
      if (header.cols.isEmpty || header.p < 4) return Map.empty
      val paths = header.base.map(ndvDataPath(loc, _))
      if (paths.isEmpty || !paths.forall(f.exists)) return Map.empty
      val active = files.map(Snapshots.normPath).sorted
      val key = (Snapshots.normPath(loc), version, pathSetDigest(active))
      val hit = ndvCache.get(key)
      if (hit != null) return hit
      import s.implicits._
      graft.functions.GraftFunctions.register(s) // idempotent
      val mergeSk = expr(s"graft_hll_merge(bits, ${header.p})")
      val rows = s.read.parquet(paths.map(_.toString): _*)
        .join(broadcast(active.toDF("__keep")),
          col("file") === col("__keep"), "left_semi")
        .groupBy(col("column"))
        .agg(mergeSk.as("sk"),
          countDistinct(col("file")).as("nf"),
          (count(lit(1)) - count(col("bits"))).as("nulls"))
        .collect()
      val out: Map[String, Long] = rows.iterator.flatMap { r =>
        // coverage: a sketch for EVERY active file, none of them null
        if (r.getAs[Long]("nf") == active.length && r.getAs[Long]("nulls") == 0L)
          Some(r.getAs[String]("column") ->
            graft.functions.DistinctSketch.Summary
              .fromBytes(r.getAs[Array[Byte]]("sk")).estimate())
        else None
      }.toMap
      ndvCache.put(key, out)
      out
    } catch {
      // a racing re-attach/expire between exists() and read: ndv is an
      // optimizer hint surface — absent beats wrong or thrown
      case scala.util.control.NonFatal(_) => Map.empty
    }
  }

  /** The shared sidecar lifecycle: inherit covered files by reference
    * from the prior chain, build filter rows from the fresh files' rows
    * only, fold the chain when it exceeds [[CompactChain]], publish
    * data-then-header (crash leaves the old complete sidecar or an
    * ignored orphan). */
  private def attachCore(s: SparkSession, loc: String, version: Long,
                         cols: Seq[String], fpp: Double,
                         hp: Long => Path, dp: Long => Path,
                         extraHeader: String,
                         build: DataFrame => DataFrame,
                         accept: Header => Boolean = _ => true): Unit = {
    val m = Snapshots.version(s, loc, version)
    val files = m.files
    if (files.isEmpty) return
    val f = hp(version).getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = files.map(Snapshots.normPath).toSet

    // inherit by reference from this version's own sidecar (idempotent
    // re-attach) or the previous version's, where the column set matches
    val prior: Seq[Long] = Seq(version, version - 1)
      .filter(v => v >= 1 && f.exists(hp(v)))
      .find { v =>
        val h = readHeader(s, hp(v))
        h.cols == cols && accept(h)
      }
      .map(v => readHeader(s, hp(v)).base.filter(b => f.exists(dp(b))))
      .getOrElse(Nil)
    val covered: Set[String] =
      if (prior.isEmpty) Set.empty
      else s.read.parquet(prior.map(dp(_).toString): _*)
        .select("file").distinct().collect().map(_.getString(0)).toSet
        .intersect(live)
    val fresh = files.filterNot(x => covered.contains(Snapshots.normPath(x)))
    val scanned: Option[DataFrame] =
      if (fresh.isEmpty) None else Some(build(Snapshots.readData(s, fresh, m.schema)))

    // which parquets the new header will reference, and what (if
    // anything) this attach writes to its own version's parquet
    // fold when the chain is long — or when a re-attach must add rows to
    // a version whose own parquet is already referenced (overwriting it
    // with just the delta would drop the referenced rows)
    val compact = prior.length + (if (fresh.isEmpty) 0 else 1) > CompactChain ||
      (fresh.nonEmpty && prior.contains(version))
    val (base, toWrite): (Seq[Long], Option[DataFrame]) =
      if (compact) {
        // fold the whole chain into one fresh base — distributed write,
        // no single-task funnel (the chain's rows dwarf one delta's)
        val folded = s.read.parquet(prior.map(dp(_).toString): _*)
          .filter(col("file").isin(live.toSeq: _*))
        (Seq(version), Some(scanned.fold(folded)(folded.unionByName(_))))
      } else if (fresh.isEmpty) (prior, None)
      else (prior :+ version, scanned.map(_.coalesce(1)))
    if (base.isEmpty) return

    // data first (unique tmp dir, then rename over any stale parquet —
    // a crash leaves either the old complete sidecar or an ignored
    // orphan, never a half-written directory a reader could trip on),
    // header LAST: a header always names complete filters
    toWrite.foreach { rows =>
      val out = dp(version)
      val tmp = new Path(out.getParent,
        s"_tmp_${java.util.UUID.randomUUID()}_${out.getName}")
      rows.write.mode(SaveMode.ErrorIfExists).parquet(tmp.toString)
      f.delete(out, true)
      if (!f.rename(tmp, out)) {
        f.delete(tmp, true)
        throw new java.io.IOException(s"could not publish bloom sidecar $out")
      }
    }
    val headerBody = s"#cols=${cols.mkString(",")}\n#fpp=$fpp\n" +
      extraHeader + s"#base=${base.mkString(",")}\n"
    val os = f.create(hp(version), true)
    try os.write(headerBody.getBytes("UTF-8")) finally os.close()
    Snapshots.invalidateMeta(s, hp(version))
  }

  private case class Header(cols: Seq[String], base: Seq[Long], gram: Int,
                            p: Int)

  /** Parse a sidecar header; a legacy header without `#base=` covers its
    * files from its own version's parquet. */
  private def readHeader(s: SparkSession, p: Path): Header = {
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    def tag(t: String): Option[String] =
      lines.find(_.startsWith(s"#$t=")).map(_.stripPrefix(s"#$t="))
    val version = p.getName.stripPrefix("v").takeWhile(_.isDigit)
    Header(
      tag("cols").map(_.split(',').toSeq).getOrElse(Nil),
      tag("base").map(_.split(',').toSeq.flatMap(_.toLongOption))
        .getOrElse(version.toLongOption.toSeq),
      tag("gram").flatMap(_.toIntOption).getOrElse(0),
      tag("p").flatMap(_.toIntOption).getOrElse(0))
  }

  /** The versions whose bloom parquets a version's sidecar references —
    * [[graft.ops.Snapshots.expire]] keeps referenced parquets alive even
    * when their own version expires. */
  private[graft] def baseVersions(s: SparkSession, loc: String,
                                  version: Long): Seq[Long] = {
    val hp = headerPath(loc, version)
    val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) Nil else readHeader(s, hp).base
  }

  /** Columns the version's Bloom sidecar covers (empty without one). */
  private[graft] def coveredCols(s: SparkSession, loc: String,
                                 version: Long): Seq[String] = {
    val hp = headerPath(loc, version)
    val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) Nil else readHeader(s, hp).cols
  }

  /** The subset of `files` that might contain ANY of `values` in
    * `column` — the point-lookup file skip. Files without a filter row,
    * saturated files (null bits), an uncovered column, or a missing
    * sidecar are all kept: no false negatives by construction. The probe
    * is a distributed job over the sidecar; only the per-file verdict
    * reaches the driver. */
  private[graft] def bloomFiles(s: SparkSession, loc: String, version: Long,
                                files: Seq[String], column: String,
                                values: Seq[String]): Seq[String] = {
    if (files.isEmpty || values.isEmpty) return files
    try {
      val hp = headerPath(loc, version)
      val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(hp)) return files
      val header = readHeader(s, hp)
      if (!header.cols.contains(column)) return files
      // an expired/unpublished base breaks coverage — degrade to no-skip
      // (a filter can only be skipped over when EVERY file had a chance
      // to publish one)
      val paths = header.base.map(dataPath(loc, _))
      if (paths.isEmpty || !paths.forall(f.exists)) return files
      import s.implicits._
      // the probe HASHES ride along as one small array: each filter row
      // deserializes its bit array ONCE and tests every probe against it —
      // O(files) deserializations, not O(files × values)
      val hashes: Array[Long] = values.toDF("v")
        .select(xxhash64(col("v")).as("h")).as[Long].collect()
      val mightHitAny = udf { (bits: Array[Byte]) =>
        bits == null || {
          val bf = BloomFilter.readFrom(new ByteArrayInputStream(bits))
          hashes.exists(bf.mightContainLong)
        }
      }
      val verdict: Map[String, Boolean] =
        s.read.parquet(paths.map(_.toString): _*)
          .filter(col("column") === column)
          .select(col("file"), mightHitAny(col("bits")).as("keep"))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      files.filter(x => verdict.getOrElse(Snapshots.normPath(x), true))
    } catch {
      // a racing re-attach/expire between exists() and read lands here:
      // skipping is an optimization, never a correctness dependency
      case scala.util.control.NonFatal(_) => files
    }
  }

  /** The versions whose GRAM-bloom parquets a version's sidecar
    * references — expire's carry-liveness, like [[baseVersions]]. */
  private[graft] def gramBaseVersions(s: SparkSession, loc: String,
                                      version: Long): Seq[Long] = {
    val hp = gramHeaderPath(loc, version)
    val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) Nil else readHeader(s, hp).base
  }

  /** The subset of `files` that might contain `needle` as a SUBSTRING of
    * `column` — the gram-sidecar file skip behind pushed `LIKE
    * '%needle%'` / `contains` / prefix / suffix / `=` predicates. A file
    * can match the predicate only if it holds EVERY lowercase gram of
    * the lowercased needle, so missing any gram skips the file; needles
    * shorter than the gram width, uncovered columns, saturated filters,
    * and missing sidecars all keep everything — no false negatives. */
  private[graft] def gramFiles(s: SparkSession, loc: String, version: Long,
                               files: Seq[String], column: String,
                               needle: String): Seq[String] = {
    if (files.isEmpty || needle == null) return files
    try {
      val hp = gramHeaderPath(loc, version)
      val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(hp)) return files
      val header = readHeader(s, hp)
      if (!header.cols.contains(column) || header.gram < 2) return files
      val lc = needle.toLowerCase(java.util.Locale.ROOT)
      if (lc.length < header.gram) return files
      val paths = header.base.map(gramDataPath(loc, _))
      if (paths.isEmpty || !paths.forall(f.exists)) return files
      import s.implicits._
      // hash the needle's grams through the SAME Spark xxhash64 the
      // build side used — build and probe can never disagree
      val grams = lc.sliding(header.gram).distinct.toSeq
      val hashes: Array[Long] = grams.toDF("v")
        .select(xxhash64(col("v")).as("h")).as[Long].collect()
      val mightHitAll = udf { (bits: Array[Byte]) =>
        bits == null || {
          val bf = BloomFilter.readFrom(new ByteArrayInputStream(bits))
          hashes.forall(bf.mightContainLong)
        }
      }
      val verdict: Map[String, Boolean] =
        s.read.parquet(paths.map(_.toString): _*)
          .filter(col("column") === column)
          .select(col("file"), mightHitAll(col("bits")).as("keep"))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      files.filter(x => verdict.getOrElse(Snapshots.normPath(x), true))
    } catch {
      // a racing re-attach/expire between exists() and read lands here:
      // skipping is an optimization, never a correctness dependency
      case scala.util.control.NonFatal(_) => files
    }
  }

  /** Read a version keeping only files whose Bloom filter might contain
    * one of `values` for `column`, then apply the exact residual filter —
    * callers get exactly the rows a plain `read(...).filter(isin)`
    * returns, with only O(containing files) opened. Falls back to the
    * full list when no sidecar covers the column. */
  def readBloomPruned(s: SparkSession, loc: String, column: String,
                      values: Seq[String], version: Long = -1L): DataFrame = {
    val m = Snapshots.version(s, loc, version)
    val files = m.files
    if (files.isEmpty) return s.emptyDataFrame
    val keep = bloomFiles(s, loc, m.version, files, column, values)
    val residual = (df: DataFrame) =>
      df.filter(col(column).cast("string").isin(values: _*))
    if (keep.isEmpty)
      residual(Snapshots.readData(s, files, m.schema)).filter(lit(false))
    else residual(Snapshots.readLive(s, keep, m.schema, m.dvs))
  }
}

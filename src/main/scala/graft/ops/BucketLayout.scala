package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucket table layout for SHUFFLE-FREE co-clustered joins — the
  * Spark-native form of the reference's map-side join over identically
  * partitioned inputs (CORE/…/lib/join/CompositeInputFormat.java:56,
  * which joins pre-partitioned sorted files partition-by-partition with
  * no shuffle at all).
  *
  * `commitBucketed` rewrites a snapshot table with every row routed by
  * its bucket VECTOR — one `pmod(hash(cᵢ), nᵢ)` per layout column,
  * hashed independently (Spark's SPJ machinery supports only
  * single-reference transforms: a chained multi-column hash could never
  * engage `KeyGroupedPartitioning`) — and each combination written as
  * its own file(s) under a `__graft_bucket=<linear id>/` path segment;
  * the commit records `#layout=bucket,<n1>[*<n2>…],<c1>[,<c2>…]` in the
  * manifest header. The DSv2 scan then reports
  * `KeyGroupedPartitioning(bucket(n1, c1), bucket(n2, c2), …)` with one
  * keyed input partition per live bucket vector, so two tables bucketed
  * with the same (key types, counts) join with ZERO Exchange on either
  * side — Spark's storage-partitioned join. At 100 TB a fact-fact join
  * is the most expensive plan a user runs; this removes both full-table
  * shuffles from it. COMPOSITE keys are first-class (the reference's
  * join DSL composes arbitrary composite keys — `lib/join/Parser.java`,
  * `TupleWritable.java:298`): a multi-tenant `(tenant_id, entity_id)`
  * join key lays out as `bucket,4*8,tenant_id,entity_id`.
  *
  * The hash contract per column: bucket id = `pmod(hash(c), n)` where
  * `hash` is Spark's codegen'd Murmur3 (seed 42; NULL hashes to the
  * bare seed) — the write side computes it with `functions.hash`, and
  * the catalog's `bucket` V2 function
  * ([[graft.sources.v2.BucketFunction]]) reproduces it interpretively,
  * so the two can never disagree. The linear id in the path is the
  * mixed-radix composition `((b1·n2)+b2)·n3+…`, decodable back to the
  * vector from the counts alone.
  *
  * Layout lifecycle is CONSERVATIVE: only `commitBucketed` publishes the
  * layout header, and every other commit carries it ONLY when its new
  * files were routed for exactly this layout ([[appendBucketed]], the
  * DSv2 bucket-routed SQL INSERT, the bucketed streaming sink) — new
  * files without a bucket path would break the co-partitioning
  * guarantee, so such a commit drops the header and the table silently
  * degrades to ordinary shuffled joins until `CALL system.bucket` runs
  * again. Correctness never depends on the layout; it is purely a plan
  * improvement.
  */
object BucketLayout {

  /** A bucket layout: each column hashed independently into its own
    * count; a file belongs to one bucket VECTOR. */
  final case class Spec(columns: Seq[String], counts: Seq[Int]) {
    require(columns.nonEmpty, "bucket layout needs at least one key column")
    require(columns.length == counts.length,
      s"one count per column: $columns vs $counts")
    require(counts.forall(_ >= 1), s"bucket counts must be >= 1: $counts")
    /** Total distinct bucket vectors (files at steady state). */
    def buckets: Int = counts.product
    /** Linear id → per-column vector (mixed-radix decode). */
    def vectorOf(linear: Int): Array[Int] = {
      val out = new Array[Int](counts.length)
      var rest = linear
      var i = counts.length - 1
      while (i >= 0) {
        out(i) = rest % counts(i)
        rest /= counts(i)
        i -= 1
      }
      out
    }
  }
  object Spec {
    def apply(column: String, buckets: Int): Spec =
      Spec(Seq(column), Seq(buckets))
  }

  private val PathRe = """__graft_bucket=(\d+)""".r

  def format(spec: Spec): String =
    s"bucket,${spec.counts.mkString("*")},${spec.columns.mkString(",")}"

  def parse(s: String): Option[Spec] = s.split(",").toSeq match {
    case "bucket" +: ns +: cols
        if cols.nonEmpty && cols.forall(_.nonEmpty) &&
          ns.split('*').forall(p => p.nonEmpty && p.forall(_.isDigit)) =>
      val counts = ns.split('*').map(_.toInt).toSeq
      if (counts.length == cols.length) Some(Spec(cols, counts))
      else if (counts.length == 1) // one count, many columns: same count each
        Some(Spec(cols, Seq.fill(cols.length)(counts.head)))
      else None
    case _ => None
  }

  /** Per-column bucket id the WRITER uses — Spark's codegen'd Murmur3
    * (`functions.hash`, seed 42) mod n; must stay in lockstep with
    * [[graft.sources.v2.BucketFunction]]'s interpreted twin. */
  def bucketId(key: Column, n: Int): Column = pmod(hash(key), lit(n))

  /** The linear (path) bucket id: mixed-radix over the per-column ids. */
  private[graft] def linearId(spec: Spec): Column =
    spec.columns.zip(spec.counts).map { case (c, n) => bucketId(col(c), n) }
      .zip(spec.counts)
      .foldLeft(lit(0)) { case (acc, (b, n)) => acc * lit(n) + b }

  /** The bucket a data file belongs to, parsed from its
    * `__graft_bucket=<k>` path segment — None for a non-bucketed file
    * (which deactivates the layout for the whole version). */
  private[graft] def bucketOfPath(file: String): Option[Int] =
    PathRe.findFirstMatchIn(file).map(_.group(1).toInt)

  /** EXACT task routing for the bucket rewrite: partition k of the
    * shuffle receives exactly linear bucket k. A plain `repartition(n,
    * bucket)` hashes the bucket id again, colliding ids into tasks
    * (~1/e of the n slots idle, some tasks writing 2–3 buckets
    * serially); instead we route through a driver-computed array of
    * PROBE INTS whose Murmur3 hash lands each bucket id on its own
    * partition — the shuffle expression `element_at(probes, bucket+1)`
    * then maps bucket k to partition k bijectively, so the maintenance
    * rewrite uses all n slots. Cost: an O(n·ln n) driver-side search,
    * microseconds at any plausible bucket count. */
  private[graft] def routeProbes(n: Int): Array[Int] = {
    val probes = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var x = 0
    while (remaining > 0) {
      val k = java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
          .hash(x, org.apache.spark.sql.types.IntegerType, 42L).toInt, n)
      if (!found(k)) { found(k) = true; probes(k) = x; remaining -= 1 }
      x += 1
    }
    probes
  }

  /** THE bucket-routed write: rows routed to `spec` bucket vectors, one
    * file per non-empty vector under `__graft_bucket=<linear>/`,
    * key-sorted within. One recipe shared by build/append/fold so the
    * routing contract (hash, sort, dir prefix) can never diverge
    * between them. Routed with [[routeProbes]] so linear bucket k lands
    * on shuffle partition k exactly (all slots busy — the routing
    * writer then sees each bucket in exactly one task → one file per
    * bucket, not one per (task × bucket)). Sorted by (bucket, keys…):
    * the snapshot data writer ([[Snapshots.writeData]] with the layout)
    * rolls a new file whenever the bucket changes, so grouping the
    * buckets keeps one file per bucket, and the key order inside each
    * file is what [[graft.sources.v2.SnapshotRowScan.outputOrdering]]
    * reports. Returns the written files. */
  private[graft] def writeBucketed(df: DataFrame, spec: Spec,
                                   dataDir: Path): Seq[String] = {
    val probes = routeProbes(spec.buckets)
    Snapshots.writeData(df
      .repartition(spec.buckets, element_at(lit(probes), linearId(spec) + 1))
      .sortWithinPartitions((linearId(spec) +: spec.columns.map(col)): _*),
      dataDir, Some(spec))
  }

  /** APPEND under the table's existing bucket layout — continuous
    * co-clustered ingest. The batch is routed with the SAME hash recipe
    * the layout was built with (one batch-sized shuffle, one file per
    * non-empty bucket, key-sorted within), so [[Snapshots.publishAppend]]
    * carries the `#layout=` header and co-partitioned joins stay
    * shuffle-free across ingestion: at 100 TB the fact table keeps its
    * zero-Exchange join plan WITHOUT re-bucketing the table per batch
    * (cost is O(batch), never O(table)). Buckets accumulate one file per
    * append until `CALL system.bucket` folds them back to one (the scan
    * groups same-bucket files for SPJ meanwhile, and stops reporting
    * per-bucket sortedness while any bucket holds several files —
    * merge joins re-insert their Sort, the join stays Exchange-free). */
  def appendBucketed(s: SparkSession, loc: String,
                     df: DataFrame,
                     marker: Option[String] = None): Long = {
    val spec = Snapshots.versionLayout(s, loc,
        Snapshots.latestVersion(s, loc)).flatMap(parse)
      .getOrElse(throw new IllegalStateException(
        s"$loc has no active bucket layout — run commitBucketed " +
          "(CALL <cat>.system.bucket) first, or use a plain append"))
    val table = Snapshots.read(s, loc)
    require(df.columns.sorted.sameElements(table.columns.sorted),
      s"appendBucketed batch columns ${df.columns.mkString(",")} must match " +
        s"the table's ${table.columns.mkString(",")} exactly (additive " +
        "evolution goes through commitAppend, which drops the layout)")
    // the publish carries the table's schema header VERBATIM (its
    // nullability is truth the optimizer plans on), so a batch that
    // could carry nulls into a non-null header column is refused at
    // schema level — cast/assert the batch non-null, or use the SQL
    // INSERT path, which inserts Spark's runtime null check
    table.schema.fields.filterNot(_.nullable).foreach { tf =>
      df.schema.fields.find(_.name.equalsIgnoreCase(tf.name)).foreach { bf =>
        require(!bf.nullable,
          s"appendBucketed batch column ${bf.name} is nullable but the " +
            "table header declares it NOT NULL — a null row would make " +
            "IS NULL predicates silently wrong; assert the batch " +
            "non-null first")
      }
    }
    val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
    val f = dataDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val newFiles = writeBucketed(df, spec, dataDir)
    // marker (if any) rides in the publishing manifest — the same
    // exactly-once contract commitAppend gives streaming epochs.
    // routedLayout = the spec this batch was hashed with: the publish
    // carries the layout only if the table STILL has exactly it (a
    // concurrent re-bucket with a different count drops the carry
    // rather than corrupting co-partitioned plans)
    val v = Snapshots.publishAppend(s, loc, newFiles, marker,
      routedLayout = Some(format(spec)))
    if (v < 0) f.delete(dataDir, true)
    // declared sidecar columns refresh with the committed epoch/batch —
    // incremental (new files only), best-effort, so a bucketed ingest
    // keeps zone-map/Bloom pruning live exactly like the plain paths
    else Snapshots.autoStats(s, loc)
    v
  }

  /** Fold each bucket's accumulated SMALL ingest files into one
    * key-sorted file per bucket, carrying every file at or above
    * `smallerThanBytes` — and every bucket with fewer than two
    * candidates — BY REFERENCE. This is what makes the ingest lifecycle
    * genuinely incremental under UNIFORM hash routing, where every
    * batch touches every bucket: a whole-bucket rewrite would re-read
    * the big base files and cost O(table) per fold, while this reads
    * only the per-epoch small files — O(accumulated ingest). Steady
    * state per bucket: one big base file + one consolidated ingest file
    * (SPJ groups them; per-bucket sortedness stays off until a full
    * [[commitBucketed]] restores single sorted files in a maintenance
    * window). Folded files read DV-APPLIED (their delete-vector entries
    * fold away, same rule as optimize_small); carried files keep the
    * version's vectors. A no-gain pass commits nothing and returns the
    * current version — safe on a timer. Row-preserving, so the
    * CHECK-constraint gate is skipped like every compaction. */
  def compactBuckets(s: SparkSession, loc: String,
                     smallerThanBytes: Long = 32L * 1024 * 1024): Long =
    Snapshots.commit(s, loc) { tip =>
      val spec = tip.layout.flatMap(parse)
        .getOrElse(throw new IllegalStateException(
          s"$loc has no active bucket layout to compact"))
      val files = tip.files
      val lengths = Snapshots.fileSizes(s, files)
      val byBucket = files.groupBy(f => bucketOfPath(f).getOrElse(-1))
      val multi = byBucket.values.flatMap { fs =>
        val small = fs.filter(f =>
          lengths.get(Snapshots.normPath(f)).exists(_ < smallerThanBytes))
        if (small.length >= 2) small else Nil
      }.toSeq
      if (multi.isEmpty) Snapshots.Done(tip.version) // nothing to bin-pack: no gain
      else {
        val kept = files.filterNot(multi.toSet)
        val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
        val newFiles = writeBucketed(
          Snapshots.applyDv(s, Snapshots.readData(s, multi, tip.schema), tip.dvs),
          spec, dataDir)
        // carried files keep their vectors, FILTERED to entries naming
        // kept files — entries for just-folded files are dead weight
        Snapshots.Publish(kept ++ newFiles,
          dvs = Snapshots.filterCarriedDvs(s, tip.dvs, kept, dataDir),
          schemaJson = tip.schemaJson, layout = Some(format(spec)),
          carriedValid = true, scratch = Seq(dataDir))
      }
    }

  /** Rewrite the table hash-bucketed by `columns` (composite keys
    * allowed — `counts(i)` buckets for `columns(i)`, one file per live
    * count-vector combination) and publish it as a new version carrying
    * the layout header. One shuffle exact-routed on the linear bucket id
    * (each bucket lands wholly in its OWN task — all slots busy, exactly
    * one file per non-empty bucket), rows sorted by the keys within each
    * bucket for tight row-group stats. Returns the published version. */
  def commitBucketed(s: SparkSession, loc: String, columns: Seq[String],
                     counts: Seq[Int]): Long = {
    require(columns.nonEmpty && columns.forall(c =>
        c.nonEmpty && !c.contains(",")),
      s"bucket columns must be plain top-level column names: " +
        s"'${columns.mkString(",")}'")
    val spec = Spec(columns, counts)
    val cur = Snapshots.latestVersion(s, loc)
    val df = Snapshots.read(s, loc, cur)
    columns.foreach(c => require(df.columns.contains(c),
      s"bucket column '$c' not in table schema ${df.columns.mkString(",")}"))
    val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = writeBucketed(df, spec, dataDir)
    try Snapshots.publishLayout(s, loc, cur, newFiles, df.schema.json,
      format(spec))
    catch { case e: Throwable =>
      dataDir.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(dataDir, true)
      throw e
    }
  }

  /** `column` may be comma-separated for a composite key, each part
    * optionally carrying its OWN count as `col:k` — `n` is the count for
    * parts without one. `CALL system.bucket('t', 'tenant,ent', 4)` →
    * 4×4 vectors; `CALL system.bucket('t', 'tenant:4,ent:8', 0)` →
    * 4×8 — the full layout algebra through pure SQL. */
  def commitBucketed(s: SparkSession, loc: String, column: String,
                     n: Int): Long = {
    val parts = column.split(',').map(_.trim).toSeq.filter(_.nonEmpty)
    val (cols, counts) = parts.map { p =>
      p.split(':') match {
        case Array(c, k) if k.nonEmpty && k.forall(_.isDigit) =>
          (c.trim, k.toInt)
        case Array(c) =>
          require(n >= 1,
            s"bucket count must be >= 1 for '$c' (got $n and no per-column :k)")
          (c.trim, n)
        case _ => throw new IllegalArgumentException(
          s"bucket key part must be 'col' or 'col:k', got '$p'")
      }
    }.unzip
    commitBucketed(s, loc, cols, counts)
  }

  /** Scale the layout's bucket counts WITHOUT a shuffle: when every new
    * count is a multiple of its old count, `h mod newN` REFINES
    * `h mod oldN` (they agree mod oldN), so each old bucket's rows can
    * only land in the new buckets that refine it — a row never crosses
    * old-bucket boundaries, and the rewrite is per-task local: scan
    * tasks read old-bucket files, compute the new linear id, LOCALLY
    * sort by (new bucket, keys…), and the routing writer rolls
    * one file per (task, new bucket). Zero Exchange anywhere in the plan
    * (pinned in SnapshotSpjSpec with a shuffle-records listener) — at
    * 100 TB this turns "bucket count too small" from a full-table
    * shuffle into an IO-bound embarrassingly-parallel pass, the same
    * cost class as compaction. Files read DV-APPLIED (vectors fold
    * away); within-file key order survives splitting (a stable filter
    * of a sorted run is sorted), so the new files keep the tight
    * row-group stats the routed writers produce. Publishes a replace
    * carrying the NEW layout header. */
  def splitBuckets(s: SparkSession, loc: String,
                   newCounts: Seq[Int]): Long =
    splitBucketsImpl(s, loc, _ => newCounts)

  /** Multiply EVERY count by `factor` — counts resolve against the spec
    * THIS call reads, in the same breath as the split itself, so a
    * concurrent re-layout between "look at the spec" and "split it"
    * cannot make a x2 request silently become a x4 of somebody else's
    * fresh layout (the publish itself still detects any interleaved
    * rewrite — this closes the smaller ambiguity of WHICH spec the
    * factor applied to). */
  def splitBuckets(s: SparkSession, loc: String, factor: Int): Long = {
    require(factor >= 2, s"split factor must be >= 2, got $factor")
    splitBucketsImpl(s, loc, spec => spec.counts.map(_ * factor))
  }

  private def splitBucketsImpl(s: SparkSession, loc: String,
                               countsOf: Spec => Seq[Int]): Long = {
    val latest = Snapshots.latestVersion(s, loc)
    val spec = Snapshots.versionLayout(s, loc, latest).flatMap(parse)
      .getOrElse(throw new IllegalStateException(
        s"$loc has no active bucket layout to split"))
    val newCounts = countsOf(spec)
    require(newCounts.length == spec.counts.length,
      s"one count per layout column: ${spec.columns.mkString(",")} " +
        s"vs $newCounts")
    spec.counts.zip(newCounts).foreach { case (o, n) =>
      require(n >= o && n % o == 0,
        s"each new count must be a multiple of its old count " +
          s"(old $o, new $n): only then does the new hash refine the " +
          "old buckets and the split stay shuffle-free — use " +
          "commitBucketed for an arbitrary re-layout") }
    val newSpec = Spec(spec.columns, newCounts)
    if (newSpec == spec) return latest
    val files = Snapshots.versionFiles(s, loc, latest)
    val dvs = Snapshots.versionDvs(s, loc, latest)
    val schema = Snapshots.versionSchema(s, loc, latest)
    if (files.isEmpty) {
      // birth layout, no rows yet: a pure header commit — but a first
      // INSERT can interleave, its files routed under the OLD spec, and
      // the merged publish then (correctly) keeps the old layout rather
      // than claiming a refinement the rider files don't satisfy. Detect
      // the unapplied header and re-run the split against the new tip,
      // which now has files and takes the real shuffle-free path (counts
      // pinned, so a x2 factor cannot compound). At most one recursion:
      // the retry sees the rider files.
      val v = Snapshots.publishLayout(s, loc, latest, Nil,
        schema.map(_.json).getOrElse(
          throw new IllegalStateException(s"$loc: empty table without a " +
            "schema header cannot carry a layout")), format(newSpec))
      return if (Snapshots.versionLayout(s, loc, v).contains(format(newSpec))) v
             else splitBucketsImpl(s, loc, _ => newCounts)
    }
    // SATURATE the executors without a shuffle: the natural scan
    // parallelism is one task per FILE (≈ old bucket count), which can
    // be far below the cluster's slots — so size maxPartitionBytes in a
    // CLONED session (caller's conf untouched) to split big bucket
    // files into ~2 waves of tasks. A file SPLIT stays correct: every
    // row re-routes by its own hash, the sub-range of a sorted file is
    // sorted, and a split merely yields one file per (task, refined
    // bucket) — the scan groups them, same as post-ingest buckets.
    val scoped = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try scoped.conf.set(k, v) catch { case _: Exception => () } // static confs
    }
    val totalBytes = Snapshots.fileSizes(s, files).values.sum
    val slots = math.max(1, s.sparkContext.defaultParallelism)
    scoped.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(4L * 1024 * 1024, totalBytes / (2L * slots)).toString)
    val df = Snapshots.applyDv(scoped,
      Snapshots.readData(scoped, files, schema), dvs)
    val dataDir = new Path(loc, s"data/${java.util.UUID.randomUUID()}")
    val f = dataDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val newFiles = Snapshots.writeData(df.sortWithinPartitions(
      (linearId(newSpec) +: newSpec.columns.map(col)): _*), dataDir, Some(newSpec))
    try Snapshots.publishLayout(s, loc, latest, newFiles,
      schema.map(_.json).getOrElse(df.schema.json), format(newSpec))
    catch { case e: Throwable => f.delete(dataDir, true); throw e }
  }
}

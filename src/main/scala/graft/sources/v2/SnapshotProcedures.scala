package graft.sources.v2

import java.util.Collections

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Snapshots

/** SQL `CALL` surface for the snapshot table LIFECYCLE — the maintenance
  * operations every production table format exposes as stored procedures
  * (OPTIMIZE / VACUUM / ANALYZE analogs), bound to the DSv2 procedure
  * API so the whole lifecycle is drivable from pure SQL:
  *
  * {{{
  *   CALL snap.system.optimize('orders')             -- compaction commit
  *   CALL snap.system.expire('orders', 3)            -- retention GC
  *   CALL snap.system.attach_stats('orders', 'o_orderkey')  -- zone maps
  *   CALL snap.system.delete_mor('orders', "o_orderstatus = 'F'")
  * }}}
  *
  * Each returns a one-row result describing what the commit did, so
  * callers can assert on the outcome in SQL. The condition argument of
  * `delete_mor` is parsed with `functions.expr` — the same public
  * surface a DataFrame `filter(string)` uses.
  */
object SnapshotProcedures {

  /** Every registered procedure (the `SHOW PROCEDURES` / error-message
    * listing) — derived from the registry so it can't go stale. */
  lazy val names: Seq[String] = all.keys.toSeq.sorted

  private def spark: SparkSession = SparkSession.active

  /** One-row in-memory result — the procedure API returns Scans. */
  private def resultScan(schema: StructType, values: Any*): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(values.toArray))
    }
    Collections.singletonList(scan).iterator()
  }

  private def in(name: String, dt: DataType) = ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, dflt: String) =
    ProcedureParameter.in(name, dt).defaultValue(dflt).build()

  private def str(input: InternalRow, i: Int): String = input.getUTF8String(i).toString

  /** A procedure with fixed parameters and a one-row result. */
  private def procedure(procName: String, params: Seq[ProcedureParameter],
                        out: StructType)(
      run: (String, InternalRow) => Seq[Any]): String => UnboundProcedure =
    (root: String) => new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"snapshot-table $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"snapshot-table $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          // `t#branch` addresses a branch's own manifest log, so the
          // whole maintenance surface works on branches too
          val loc = graft.ops.Refs.resolve(s"$root/${str(input, 0)}")
          resultScan(out, run(loc, input): _*)
        }
      }
    }

  private val optimize = procedure("optimize",
    Seq(in("table", StringType),
      inDefault("target_mb", IntegerType, "128")),
    StructType(Seq(StructField("version", LongType),
      StructField("files", IntegerType)))) { (loc, input) =>
    val v = Snapshots.commitCompaction(spark, loc,
      targetBytes = input.getInt(1).toLong * 1024 * 1024)
    Snapshots.autoStats(spark, loc) // rewritten files re-cover
    Seq[Any](v, Snapshots.read(spark, loc, v).inputFiles.length)
  }

  /** Incremental OPTIMIZE (`Snapshots.commitCompactionPartial`): bin-pack
    * only files under `smaller_than_mb`, carry the rest by reference —
    * O(small files), safe on a timer (a no-gain pass commits nothing). */
  private val optimizeSmall = procedure("optimize_small",
    Seq(in("table", StringType),
      inDefault("smaller_than_mb", IntegerType, "32"),
      inDefault("target_mb", IntegerType, "128")),
    StructType(Seq(StructField("version", LongType),
      StructField("files", IntegerType)))) { (loc, input) =>
    val v = Snapshots.commitCompactionPartial(spark, loc,
      smallerThanBytes = input.getInt(1).toLong * 1024 * 1024,
      targetBytes = input.getInt(2).toLong * 1024 * 1024)
    Snapshots.autoStats(spark, loc)
    Seq[Any](v, Snapshots.read(spark, loc, v).inputFiles.length)
  }

  private val expire = procedure("expire",
    Seq(in("table", StringType), in("retain_last", IntegerType),
      inDefault("grace_ms", LongType, s"${10L * 60 * 1000}")),
    StructType(Seq(StructField("manifests_dropped", IntegerType),
      StructField("files_deleted", IntegerType)))) { (loc, input) =>
    val (m, f) = Snapshots.expire(spark, loc, input.getInt(1), input.getLong(2))
    Seq[Any](m, f)
  }

  private val attachStats = procedure("attach_stats",
    Seq(in("table", StringType), in("columns", StringType)),
    StructType(Seq(StructField("version", LongType),
      StructField("columns", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val v = Snapshots.latestVersion(spark, loc)
    Snapshots.attachStats(spark, loc, v, cols)
    Seq[Any](v, cols.length)
  }

  /** Bloom sidecar for point-lookup file skipping
    * ([[graft.ops.BloomSidecar.attachBlooms]]) — the `attach_stats`
    * sibling for `=` / `IN` predicates on unclustered keys. */
  private val attachBlooms = procedure("attach_blooms",
    Seq(in("table", StringType), in("columns", StringType),
      inDefault("fpp", DoubleType, "0.01")),
    StructType(Seq(StructField("version", LongType),
      StructField("columns", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val v = Snapshots.latestVersion(spark, loc)
    graft.ops.BloomSidecar.attachBlooms(spark, loc, v, cols, input.getDouble(2))
    Seq[Any](v, cols.length)
  }

  /** Substring-gram Bloom sidecar
    * ([[graft.ops.BloomSidecar.attachGramBlooms]]) — file skipping for
    * pushed `LIKE '%needle%'` / `contains` predicates on text columns
    * (the decontamination-probe / grep access pattern). */
  private val attachGrams = procedure("attach_grams",
    Seq(in("table", StringType), in("columns", StringType),
      inDefault("gram", IntegerType, "4")),
    StructType(Seq(StructField("version", LongType),
      StructField("columns", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val v = Snapshots.latestVersion(spark, loc)
    graft.ops.BloomSidecar.attachGramBlooms(spark, loc, v, cols,
      gram = input.getInt(2))
    Seq[Any](v, cols.length)
  }

  /** Distinct-count sketch sidecar ([[graft.ops.BloomSidecar.attachNdv]])
    * — per-file HLL summaries whose register-union feeds the CBO an
    * exact-or-bounded `distinctCount`, unlocking equality-selectivity
    * and join-cardinality estimation without guessed ndv. */
  private val attachNdv = procedure("attach_ndv",
    Seq(in("table", StringType), in("columns", StringType),
      inDefault("p", IntegerType, "12")),
    StructType(Seq(StructField("version", LongType),
      StructField("columns", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val v = Snapshots.latestVersion(spark, loc)
    graft.ops.BloomSidecar.attachNdv(spark, loc, v, cols, input.getInt(2))
    Seq[Any](v, cols.length)
  }

  /** Morton re-cluster + zone-map refresh
    * ([[graft.ops.ZOrder.clusterSnapshot]]) — the `OPTIMIZE … ZORDER BY`
    * analog: after it, multi-column box predicates prune files through
    * the refreshed stats sidecar. `files=0` sizes the output from the
    * table's bytes against `target_mb`. */
  private val clusterTable = procedure("cluster",
    Seq(in("table", StringType), in("columns", StringType),
      inDefault("bits", IntegerType, "8"),
      inDefault("target_mb", IntegerType, "128"),
      inDefault("files", IntegerType, "0")),
    StructType(Seq(StructField("version", LongType),
      StructField("files", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val v = graft.ops.ZOrder.clusterSnapshot(spark, loc, cols,
      bits = input.getInt(2),
      targetBytes = input.getInt(3).toLong * 1024 * 1024,
      numFiles = input.getInt(4))
    Seq[Any](v, Snapshots.read(spark, loc, v).inputFiles.length)
  }

  /** Hash-bucket layout rewrite ([[graft.ops.BucketLayout]]): after
    * `CALL system.bucket(t, k, n)` on BOTH sides, a join on `k` plans
    * with zero Exchange (storage-partitioned join) — the SQL verb for
    * shuffle-free co-clustered joins. Any later append/DML drops the
    * layout (conservatively back to shuffled plans) until re-run. */
  private val bucketTable = procedure("bucket",
    Seq(in("table", StringType), in("column", StringType),
      in("buckets", IntegerType)),
    StructType(Seq(StructField("version", LongType),
      StructField("buckets", IntegerType)))) { (loc, input) =>
    val v = graft.ops.BucketLayout.commitBucketed(spark, loc,
      str(input, 1), input.getInt(2))
    Snapshots.autoStats(spark, loc)
    Seq[Any](v, input.getInt(2))
  }

  /** Shuffle-free bucket-count scaling ([[graft.ops.BucketLayout
    * .splitBuckets]]): multiply every layout count by `factor` — each
    * old bucket's rows can only land in the new buckets refining it
    * (`h mod kn` agrees with `h mod n` mod n), so the rewrite is a
    * per-task local pass with ZERO Exchange: the 100 TB answer to
    * "bucket count too small" at compaction cost, not full-shuffle
    * cost. Arbitrary re-layouts (new key, non-multiple count) stay
    * `CALL bucket`. */
  private val bucketSplit = procedure("bucket_split",
    Seq(in("table", StringType), in("factor", IntegerType)),
    StructType(Seq(StructField("version", LongType),
      StructField("buckets", IntegerType)))) { (loc, input) =>
    // the factor resolves against the spec splitBuckets itself reads —
    // no read-here/act-there window for a concurrent re-layout to slip
    // into (and one fewer manifest header read)
    val v = graft.ops.BucketLayout.splitBuckets(spark, loc, input.getInt(1))
    Snapshots.autoStats(spark, loc)
    Seq[Any](v, Snapshots.version(spark, loc, v).layout
      .flatMap(graft.ops.BucketLayout.parse).map(_.buckets).getOrElse(-1))
  }

  /** Incremental per-bucket fold ([[graft.ops.BucketLayout
    * .compactBuckets]]): each bucket's accumulated SMALL ingest files
    * fold into one sorted file, big base files carry by reference —
    * O(accumulated ingest), never O(table); a no-gain pass commits
    * nothing — safe on a timer. */
  private val optimizeBuckets = procedure("optimize_buckets",
    Seq(in("table", StringType),
      inDefault("smaller_than_mb", IntegerType, "32")),
    StructType(Seq(StructField("version", LongType),
      StructField("files", IntegerType)))) { (loc, input) =>
    val v = graft.ops.BucketLayout.compactBuckets(spark, loc,
      input.getInt(1).toLong * 1024 * 1024)
    Snapshots.autoStats(spark, loc)
    Seq[Any](v, Snapshots.version(spark, loc, v).files.length)
  }

  /** O(deleted-from files) delete-vector fold
    * ([[Snapshots.commitFoldDvs]]): rewrite ONLY the files the version's
    * DVs name (DV-applied, layout-routed on a bucketed table), carry
    * everything else by reference — the delete_mor lifecycle's missing
    * middle between per-read subtraction forever and a full optimize. */
  private val foldDvs = procedure("fold_dvs",
    Seq(in("table", StringType),
      inDefault("target_mb", IntegerType, "128")),
    StructType(Seq(StructField("version", LongType),
      StructField("dvs", IntegerType)))) { (loc, input) =>
    val v = Snapshots.commitFoldDvs(spark, loc,
      targetBytes = input.getInt(1).toLong * 1024 * 1024)
    Snapshots.autoStats(spark, loc)
    Seq[Any](v, Snapshots.version(spark, loc, v).dvs.length)
  }

  /** Layout advisor — the operator verb behind the `t.buckets` skew
    * surface: read the per-bucket byte/row distribution (pure metadata:
    * manifest + stats sidecar, zero data I/O) and recommend the
    * shuffle-free split factor that un-straggles a Zipf-hot bucket.
    * Splitting spreads a bucket whose heat comes from MANY colliding
    * keys (`h mod kn` separates them); a single dominant KEY keeps its
    * rows together under any count — the metadata cannot distinguish
    * the two, so the operator re-reads `t.buckets` after the split (an
    * unmoved hot bucket means key-level skew: salt the join). The
    * straggler measure is ABSOLUTE (a bucket is one SPJ task; wall
    * clock ∝ hot-bucket bytes — an even split leaves hot/mean invariant
    * while cutting every task k-fold): factor = smallest power of two
    * bringing the hot bucket under `target_mb` per task; 1 = stragglers
    * already task-sized, no action. */
  private val adviseLayout = procedure("advise_layout",
    Seq(in("table", StringType),
      inDefault("target_mb", IntegerType, "256")),
    StructType(Seq(
      StructField("columns", StringType),
      StructField("buckets", IntegerType),
      StructField("hot_bucket", IntegerType),
      StructField("hot_bytes", LongType),
      StructField("mean_bytes", LongType),
      StructField("recommended_factor", IntegerType),
      StructField("needed_factor", LongType),
      StructField("target_met", org.apache.spark.sql.types.BooleanType),
      StructField("statement", StringType)))) { (loc, input) =>
    val tbl = str(input, 0)
    val targetBytes = input.getInt(1).toLong * 1024 * 1024
    val tip = Snapshots.version(spark, loc)
    val v = tip.version
    val spec = tip.layout.flatMap(graft.ops.BucketLayout.parse).getOrElse(
        throw new IllegalStateException(
          s"$loc has no active bucket layout to advise on — " +
            "CALL system.bucket first"))
    val perBucket = Snapshots.bucketsMeta(spark, loc, v)
      .collect().filter(_.getInt(1) >= 0)
      .map(r => (r.getInt(1), r.getLong(4))) // (bucket, bytes)
    require(perBucket.nonEmpty, s"$loc: empty layout, nothing to advise")
    val (hotB, hotBytes) = perBucket.maxBy(_._2)
    val mean = math.max(1L, perBucket.map(_._2).sum / spec.buckets)
    // `needed` is the TRUTH (uncapped); the recommendation stays capped
    // at one 64x step — a deeper split should be taken in verified
    // rounds, not one blind 4096x rewrite — and `target_met` says so
    // instead of silently returning a factor that won't meet the target
    val needed = (hotBytes + targetBytes - 1) / targetBytes
    val factor =
      if (needed <= 1L) 1
      else Integer.highestOneBit(math.min(needed, 64L).toInt * 2 - 1)
    val met = factor.toLong >= needed
    val stmt =
      if (factor <= 1) "balanced: no action"
      else s"CALL system.bucket_split('$tbl', $factor)" + (if (met) "" else
        s" -- capped step of a ${needed}x need: re-advise after it lands;" +
          " a bucket still hot after splitting is ONE dominant key —" +
          " join through graft.ops.Skew.hotIsolatedJoin")
    Seq[Any](UTF8String.fromString(spec.columns.mkString(",")),
      spec.buckets, hotB, hotBytes, mean, factor, needed, met,
      UTF8String.fromString(stmt))
  }

  /** Incremental cross-location replication ([[graft.ops.Replicate]]):
    * ship only manifest-diff'd files + delete vectors + tip sidecars to
    * a replica location, publishing the SAME version chain — idempotent
    * on retry, resumable mid-copy, divergent replicas refused the
    * fast_forward way. After one append a second call copies O(new
    * files): the DR / cross-region story at 100 TB. Reference:
    * `hadoop-tools/hadoop-distcp/.../DistCpSync.java` (-diff copy). */
  private val replicateTable = procedure("replicate",
    Seq(in("table", StringType), in("dst_location", StringType),
      inDefault("with_history", org.apache.spark.sql.types.BooleanType, "false")),
    StructType(Seq(StructField("version", LongType)))) { (loc, input) =>
    Seq[Any](graft.ops.Replicate.replicate(spark, loc, str(input, 1),
      withHistory = input.getBoolean(2)))
  }

  private val deleteMor = procedure("delete_mor",
    Seq(in("table", StringType), in("condition", StringType)),
    StructType(Seq(StructField("version", LongType)))) { (loc, input) =>
    val v = Snapshots.commitDeleteMoR(spark, loc, F.expr(str(input, 1)))
    Snapshots.autoStats(spark, loc)
    Seq[Any](v)
  }

  /** Rename/drop/retype as MIGRATION ([[Snapshots.migrate]]) from pure
    * SQL: `CALL <cat>.system.migrate('old', 'new', 'id, v AS label,
    * CAST(ts AS date) AS day')` materializes the projection as version 1
    * of a NEW table whose manifest header records provenance
    * (`#lineage=<old>@v<n>`); the old table and every pinned version of
    * it are untouched. The projection list splits on TOP-LEVEL commas
    * only, so struct()/named_struct() expressions pass through whole. */
  private val migrateTable: String => UnboundProcedure = { root =>
    val params = Seq(in("table", StringType), in("new_table", StringType),
      in("columns", StringType))
    val out = StructType(Seq(StructField("version", LongType),
      StructField("lineage", StringType)))
    new UnboundProcedure {
      override def name(): String = "migrate"
      override def description(): String = "snapshot-table migrate"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = "migrate"
        override def description(): String = "snapshot-table migrate"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val loc = s"$root/${str(input, 0)}"
          val newLoc = s"$root/${str(input, 1)}"
          val exprs = SnapshotProcedures.splitTopLevel(str(input, 2))
          val v = Snapshots.migrate(spark, loc, newLoc, _.selectExpr(exprs: _*))
          resultScan(out, v,
            UTF8String.fromString(Snapshots.lineage(spark, newLoc).getOrElse("")))
        }
      }
    }
  }

  /** CREATE a catalog-level MATERIALIZED VIEW ([[graft.ops.Mv]]): a
    * snapshot table holding `SELECT keys…, count(*), sum(c)… FROM base
    * GROUP BY keys…`, full-built once here and thereafter advanced by
    * `refresh_mv` from the base's CHANGE FEED — O(delta), never a base
    * re-scan. Summed columns must be integral (exact maintenance; the
    * integer-cents stance). The base is named relative to the same
    * catalog root, so the MV follows the base across replication.
    * `buckets => n` lays the MV out hash-bucketed on the first key:
    * refresh then rewrites ONLY the buckets the delta touches (the
    * billions-of-groups scale path), and joins on that key SPJ. */
  private val createMv: String => UnboundProcedure = { root =>
    val params = Seq(in("table", StringType), in("base", StringType),
      in("keys", StringType), inDefault("sums", StringType, "''"),
      inDefault("buckets", IntegerType, "0"))
    val out = StructType(Seq(StructField("version", LongType),
      StructField("base_version", LongType)))
    new UnboundProcedure {
      override def name(): String = "create_mv"
      override def description(): String = "snapshot-table create_mv"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = "create_mv"
        override def description(): String = "snapshot-table create_mv"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val mvLoc = s"$root/${str(input, 0)}"
          val baseLoc = graft.ops.Refs.resolve(s"$root/${str(input, 1)}")
          def cols(i: Int) = str(input, i).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq
          val r = graft.ops.Mv.create(spark, mvLoc, baseLoc,
            cols(2), cols(3), buckets = input.getInt(4))
          resultScan(out, r.mvVersion, r.toBase)
        }
      }
    }
  }

  /** Advance a materialized view to its base's tip — incremental from
    * the change feed by default; `full => true` recomputes (the
    * re-anchor after a rollback on either side). Returns the cursor
    * interval folded and how many groups the delta touched. */
  private val refreshMv = procedure("refresh_mv",
    Seq(in("table", StringType),
      inDefault("full", org.apache.spark.sql.types.BooleanType, "false")),
    StructType(Seq(
      StructField("version", LongType),
      StructField("from_base", LongType),
      StructField("to_base", LongType),
      StructField("groups_touched", LongType)))) { (loc, input) =>
    val r = graft.ops.Mv.refresh(spark, loc, full = input.getBoolean(1))
    Seq[Any](r.mvVersion, r.fromBase, r.toBase, r.groupsTouched)
  }

  /** Comma split at paren depth 0 — `a, struct(b, c) AS s` → 2 items. */
  private[v2] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toList.filter(_.nonEmpty)
  }

  /** Declare stat columns ONCE ([[Snapshots.setAutoStats]]): the sidecar
    * attaches now and refreshes automatically — incrementally, new files
    * only — on every subsequent SQL write or maintenance commit, so
    * pruning, metadata aggregates, and top-n all stay live without
    * per-commit `attach_stats` calls. */
  private val autoStats = procedure("auto_stats",
    Seq(in("table", StringType), in("columns", StringType),
      inDefault("bloom_columns", StringType, "''"),
      inDefault("gram_columns", StringType, "''"),
      inDefault("ndv_columns", StringType, "''")),
    StructType(Seq(StructField("version", LongType),
      StructField("columns", IntegerType)))) { (loc, input) =>
    val cols = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val blooms = str(input, 2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val grams = str(input, 3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val ndvs = str(input, 4).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    Snapshots.setAutoStats(spark, loc, cols, blooms, grams, ndvs)
    Seq[Any](Snapshots.latestVersion(spark, loc),
      cols.length + blooms.length + grams.length + ndvs.length)
  }

  /** Metadata-only undo ([[Snapshots.rollback]]): `CALL
    * <cat>.system.rollback('t', 3)` republishes version 3's manifest as
    * the newest commit — one manifest rename, zero data movement. History
    * stays linear and complete (the bad versions remain time-travelable);
    * the restored version's `#lineage=` header records the provenance. */
  private val rollbackTable = procedure("rollback",
    Seq(in("table", StringType), in("to_version", LongType)),
    StructType(Seq(StructField("version", LongType),
      StructField("restored", LongType)))) { (loc, input) =>
    val to = input.getLong(1)
    val v = Snapshots.rollback(spark, loc, to)
    Seq[Any](v, to)
  }

  /** Write-audit-publish ([[graft.ops.Refs]]): `CALL branch('t','audit')`
    * forks a writable branch at the current version (one manifest, zero
    * data movement); DML lands on `\`t#audit\``; `CALL
    * fast_forward('t','audit')` publishes the audited state back as one
    * parent commit, refused if the parent advanced past the fork. */
  private val branchTable = procedure("branch",
    Seq(in("table", StringType), in("name", StringType),
      inDefault("version", LongType, "-1")),
    StructType(Seq(StructField("fork_version", LongType)))) { (loc, input) =>
    Seq[Any](graft.ops.Refs.createBranch(spark, loc, str(input, 1),
      input.getLong(2)))
  }

  private val fastForward = procedure("fast_forward",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(StructField("version", LongType)))) { (loc, input) =>
    Seq[Any](graft.ops.Refs.fastForward(spark, loc, str(input, 1)))
  }

  private val dropBranch = procedure("drop_branch",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(StructField("files_kept", IntegerType)))) { (loc, input) =>
    Seq[Any](graft.ops.Refs.dropBranch(spark, loc, str(input, 1)))
  }

  /** Immutable named version pin; `VERSION AS OF '<name>'` reads it and
    * [[Snapshots.expire]] retains it regardless of `retain_last`. */
  private val tagTable = procedure("tag",
    Seq(in("table", StringType), in("name", StringType),
      inDefault("version", LongType, "-1")),
    StructType(Seq(StructField("version", LongType)))) { (loc, input) =>
    Seq[Any](graft.ops.Refs.tag(spark, loc, str(input, 1), input.getLong(2)))
  }

  private val dropTag = procedure("drop_tag",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(StructField("dropped", IntegerType)))) { (loc, input) =>
    Seq[Any](if (graft.ops.Refs.dropTag(spark, loc, str(input, 1))) 1 else 0)
  }

  /** CHECK constraints ([[graft.ops.Constraints]]): `CALL
    * add_constraint('t', 'qty_pos', 'quantity > 0')` validates the
    * existing table then gates EVERY subsequent commit path on the
    * predicate — a violating INSERT/UPDATE/MERGE/stream epoch aborts
    * before its manifest publishes. */
  private val addConstraint = procedure("add_constraint",
    Seq(in("table", StringType), in("name", StringType),
      in("predicate", StringType)),
    StructType(Seq(StructField("constraints", IntegerType)))) { (loc, input) =>
    graft.ops.Constraints.add(spark, loc, str(input, 1), str(input, 2))
    Seq[Any](graft.ops.Constraints.list(spark, loc).length)
  }

  private val dropConstraint = procedure("drop_constraint",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(StructField("dropped", IntegerType)))) { (loc, input) =>
    Seq[Any](if (graft.ops.Constraints.drop(spark, loc, str(input, 1))) 1 else 0)
  }

  private val all: Map[String, String => UnboundProcedure] = Map(
    "optimize" -> optimize, "optimize_small" -> optimizeSmall,
    "expire" -> expire, "attach_stats" -> attachStats,
    "attach_blooms" -> attachBlooms, "cluster" -> clusterTable,
    "bucket" -> bucketTable, "bucket_split" -> bucketSplit,
    "auto_stats" -> autoStats,
    "migrate" -> migrateTable, "delete_mor" -> deleteMor,
    "fold_dvs" -> foldDvs,
    "rollback" -> rollbackTable, "attach_grams" -> attachGrams,
    "attach_ndv" -> attachNdv,
    "branch" -> branchTable, "fast_forward" -> fastForward,
    "drop_branch" -> dropBranch, "tag" -> tagTable, "drop_tag" -> dropTag,
    "add_constraint" -> addConstraint, "drop_constraint" -> dropConstraint,
    "optimize_buckets" -> optimizeBuckets, "replicate" -> replicateTable,
    "advise_layout" -> adviseLayout,
    "create_mv" -> createMv, "refresh_mv" -> refreshMv)

  def load(name: String, root: String): Option[UnboundProcedure] =
    all.get(name.toLowerCase(java.util.Locale.ROOT)).map(_(root))
}

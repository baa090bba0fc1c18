package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional data skipping.
  *
  * At 100 TB a table is usually range-clustered on at most one column, so
  * parquet min/max stats prune scans for predicates on that column only.
  * Interleaving the bits of several columns into one Morton key and
  * range-clustering on IT keeps every participating column's per-file
  * (and per-row-group) min/max range tight, so a multi-dimensional box
  * predicate prunes on all of them at once — the layout trick behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`, built here from plain Spark
  * primitives (reference analog: the one-dimensional TotalOrderPartitioner
  * layout, `lib/partition/TotalOrderPartitioner.java:50`, which this
  * generalizes).
  *
  * The key is composed of built-in bit expressions (shifts, masks, OR) —
  * whole-stage-codegen'd, no UDF, and reproducible in any engine with
  * integer bit ops (the DuckDB oracle mirrors it term for term).
  *
  * Scale: [[cluster]] is one range shuffle on the key (sampled range
  * partitioner, same cost shape as any global sort) followed by a
  * map-side sortWithinPartitions; nothing is collected.
  */
object ZOrder {

  /** Morton key: interleave the low `bits` bits of each column —
    * column i contributes bit b to output position `b * n + i`. Inputs
    * must already be non-negative and < 2^bits (callers normalize —
    * see [[normalize]]); the key fits a long as long as
    * `bits * cols.length <= 63`. */
  def zKey(bits: Int, cols: Column*): Column = {
    val n = cols.length
    require(n >= 1 && bits >= 1 && bits * n <= 63,
      s"bits*cols must fit a signed long, got $bits*$n")
    val terms = for {
      (c, i) <- cols.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Min/max-normalize a column onto [0, 2^bits) using precomputed
    * bounds (driver-known or from a stats pass) — the standard prep for
    * [[zKey]] over arbitrary numeric ranges. */
  def normalize(c: Column, min: Long, max: Long, bits: Int): Column = {
    val span = math.max(max - min, 1L)
    val top = (1L << bits) - 1
    // Double math, not a long multiply: (c - min) * (2^bits - 1) wraps
    // silently (ANSI off) once the span exceeds ~2^(63-bits), scrambling
    // keys and defeating the skipping. A double loses at most ulp-level
    // precision — shifting a value by one bucket, harmless for layout.
    // Clamp BOTH ends: stats bounds go stale, and a value below `min`
    // would otherwise produce a negative key input whose two's-
    // complement bits interleave near the TOP of the Morton range —
    // silently widening that file's min/max and defeating the skipping
    greatest(
      least(
        floor((c.cast("double") - lit(min.toDouble)) * lit(top.toDouble)
          / lit(span.toDouble)).cast("long"),
        lit(top)),
      lit(0L))
  }

  /** Cluster `df` into `numFiles` output splits by the Morton key of
    * `cols`: range-repartition on the key (tight per-file key ranges →
    * tight per-file min/max on every participating column), then sort
    * within partitions so parquet row-group stats are tight too. The key
    * itself is not kept — it is a layout device, not data. */
  def cluster(df: DataFrame, bits: Int, numFiles: Int, cols: Column*): DataFrame = {
    val keyed = df.withColumn("__zkey", zKey(bits, cols: _*))
    keyed.repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** Whole-table maintenance rewrite: re-cluster a SNAPSHOT table in
    * Morton order of `cols` and refresh its zone-map sidecar — the
    * `OPTIMIZE ... ZORDER BY` analog, committed as a versioned replace
    * so pinned readers of every prior version are untouched. One small
    * bounds aggregate (driver receives 2·|cols| longs), one range
    * shuffle on the key, one sidecar pass; numFiles derives from the
    * current version's physical size against `targetBytes` unless
    * `numFiles` overrides it. Columns must cast to long (ints, longs,
    * dates-as-days pre-converted by the caller). Returns the published
    * version (or the current one on an empty table). */
  def clusterSnapshot(s: org.apache.spark.sql.SparkSession, loc: String,
                      cols: Seq[String], bits: Int = 8,
                      targetBytes: Long = 128L * 1024 * 1024,
                      numFiles: Int = 0): Long = {
    require(cols.nonEmpty, "clusterSnapshot needs at least one column")
    val tip = Snapshots.version(s, loc)
    val cur = tip.version
    require(cur > 0, s"no committed snapshots at $loc")
    val (df, files) = (tip.data, tip.files)
    if (files.isEmpty) return cur
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")), max(col(c).cast("long"))))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // all-null columns carry no layout information: lay out on the ones
    // that do (an all-null SECOND column must not NPE the whole CALL);
    // zero usable columns = nothing to lay out
    val usable = cols.zipWithIndex.filterNot { case (_, i) => r.isNullAt(2 * i) }
    if (usable.isEmpty) return cur
    val normed = usable.map { case (c, i) =>
      normalize(col(c).cast("long"), r.getLong(2 * i), r.getLong(2 * i + 1), bits)
    }
    val n =
      if (numFiles > 0) numFiles
      else {
        // one listStatus per commit directory, not one RPC per file
        val total = Snapshots.fileSizes(s, files).values.sum
        math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      }
    val v = Snapshots.commitReplaceImpl(cluster(df, bits, n, normed: _*), loc,
      carriedValid = true, // row-preserving cluster rewrite
      derivedFrom = Some(cur)) // derived: append-merge or CME, never drop
    // cover the cluster columns PLUS any declared auto-stats columns —
    // attaching only the cluster key would overwrite the version's
    // sidecar header and silently un-cover the declared ones — and keep
    // declared Bloom filters fresh on the rewritten files
    val declared = Snapshots.autoStatsCols(s, loc).getOrElse(Nil)
    Snapshots.attachStats(s, loc, v, (cols ++ declared).distinct)
    Snapshots.autoBloomCols(s, loc).foreach(bc =>
      BloomSidecar.attachBlooms(s, loc, v, bc))
    v
  }

  /** DuckDB mirror of [[zKey]] for oracle SQL: the same `(x >> b & 1)
    * << (b*n + i)` terms OR'd together. Every term is fully
    * parenthesized — DuckDB gives `<<` and `|` equal precedence with
    * left associativity, so an unparenthesized chain would fold the ORs
    * into ever-larger shifts. */
  def sqlZKey(bits: Int, cols: String*): String = {
    val n = cols.length
    val terms = for {
      (c, i) <- cols.zipWithIndex
      b <- 0 until bits
    } yield s"((($c >> $b) & 1) << ${b * n + i})"
    terms.mkString("(", " | ", ")")
  }
}

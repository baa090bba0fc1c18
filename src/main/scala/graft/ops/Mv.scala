package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Materialized views: a snapshot table whose content is a grouped
  * aggregate of another snapshot table, refreshed INCREMENTALLY from the
  * base's change feed — never by re-scanning the base. The engine's one
  * implementation of the Gupta & Mumick (1995) delta fold: [[aggregate]]
  * builds the view, [[deltaAggregate]] weighs a change feed's inserts +1
  * and deletes −1, and [[merge]] folds one into the other. [[create]] and
  * [[refresh]] run them over stored tables; the same three functions
  * compose in memory for callers without a table (the `mv_incremental`
  * query, a `foreachBatch` stream). The reference's only equivalent is
  * re-running the whole aggregate job on base+delta (MR job chains have
  * no incremental story; SURVEY.md §2.3).
  *
  * Definition (`_manifests/mv.def`, a POLICY file like autostats.cols):
  * base location, grouping keys, summed columns. State (the refresh
  * cursor): every MV commit records the base version its content
  * reflects as a `#mvbase=<v>` manifest header — the cursor advances
  * ATOMICALLY with the content it describes, so a crash between any two
  * steps can never double-fold a delta (the next refresh re-reads the
  * tip's header and replays from there; [[Snapshots.changeFeed]] is a
  * pure function of the immutable manifest chain). Because every
  * version keeps its cursor, [[rewind]] can republish an older version
  * by reference and refresh from there again — the prior state is an
  * immutable version, not a copy.
  *
  * MV schema: keys…, `n` (group row count), and per summed column `c`
  * both `s_<c>` (exact BIGINT sum) and `c_<c>` (non-null count). The
  * non-null count is not decoration — SUM is only self-maintainable
  * under deletes WITH it: a group holding rows {5, NULL} whose 5-row is
  * deleted must report SUM = NULL, not 0, and only `c_<c>` hitting 0
  * can say so. Summed columns must be integral (the repo's integer-cents
  * stance: exact arithmetic or no arithmetic — migrate a scaled column
  * first for money, see `queries/Ops.cents`).
  *
  * 100 TB design: a refresh costs O(delta) + O(MV), never O(base) — the
  * change feed aggregates first (one partial-agg shuffle, map-side
  * combine), then null-safe-merges with the MV on the group key and
  * rewrites the MV (aggregate-sized, typically vocabulary-sized). An MV
  * too big to rewrite per refresh is created bucketed (`buckets > 0`):
  * refresh then reads and rewrites only the buckets the delta touches.
  * Groups whose row count reaches 0 vanish, bit-identical to a full
  * recompute — which is exactly what makes the registered queries
  * oracle-checkable (the oracle recomputes, the engine maintains, the
  * hash gate demands equality).
  */
object Mv {

  /** An MV's stored definition. */
  case class Def(baseLoc: String, keys: Seq[String], sums: Seq[String])

  /** Refresh outcome: cursor interval + touched-group count. */
  case class Refreshed(mvVersion: Long, fromBase: Long, toBase: Long,
                       groupsTouched: Long)

  private def defPath(loc: String) =
    new Path(Snapshots.manifestDir(loc), "mv.def")

  private[graft] def usersDir(baseLoc: String) =
    new Path(Snapshots.manifestDir(baseLoc), "mv.users.d")

  /** MVs registered over `baseLoc` — the REVERSE pointer the
    * transparent-rewrite rule walks. ONE FILE PER MV
    * (`_manifests/mv.users.d/<digest>`, content = the MV location):
    * concurrent `create_mv` calls over one base each write their own
    * entry, so there is no read-modify-write to lose a registration to.
    * Entries are advisory: a dropped MV leaves a dangling file that
    * readers skip (readDef comes back empty), never an error. */
  def usersOf(s: SparkSession, baseLoc: String): Seq[String] = {
    val dir = usersDir(baseLoc)
    val f = Snapshots.fs(s, baseLoc)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filterNot(_.getPath.getName.startsWith("_tmp"))
      .flatMap(st => Snapshots.manifestLines(s, st.getPath).headOption)
      .filter(_.nonEmpty).distinct.sorted
  }

  private def entryName(mvLoc: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(mvLoc.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private[graft] def registerUser(s: SparkSession, baseLoc: String,
                                  mvLoc: String): Unit = {
    // same-MV re-register is idempotent (identical content); the claim
    // failing because the entry already exists is success — and the
    // claim cleans its own tmp either way
    Snapshots.claim(s, new Path(usersDir(baseLoc), entryName(mvLoc)),
      (mvLoc + "\n").getBytes("UTF-8"))
  }

  /** The stored definition, if `loc` is a materialized view. */
  def readDef(s: SparkSession, loc: String): Option[Def] = {
    val p = defPath(loc)
    if (!Snapshots.fs(s, loc).exists(p)) None
    else {
      val lines = Snapshots.manifestLines(s, p)
      def cols(i: Int) = lines.lift(i).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      Some(Def(lines.head, cols(1), cols(2)))
    }
  }

  /** `<base>.mvs` metadata rows: every MV registered over `baseLoc`
    * with its definition and staleness — `fresh` is exactly the
    * transparent-rewrite serving condition (cursor == base tip), and
    * `versions_behind` is how much change feed the next refresh folds.
    * Dangling pointers (dropped MVs) are skipped, same as the rule. */
  def mvsMeta(s: SparkSession, baseLoc: String): DataFrame = {
    import s.implicits._
    val tip = Snapshots.latestVersion(s, baseLoc)
    usersOf(s, baseLoc).flatMap { mvLoc =>
      readDef(s, mvLoc).filter(_.baseLoc == baseLoc).map { d =>
        // version and cursor from ONE manifest: a refresh landing in
        // between must not yield a row that mixes two MV versions
        val mv = Snapshots.version(s, mvLoc)
        val cursor = mv.mvBase
        (mvLoc, d.keys.mkString(","), d.sums.mkString(","), mv.version,
          cursor.getOrElse(-1L), tip,
          cursor.contains(tip),
          cursor.map(c => math.max(0L, tip - c)).getOrElse(-1L))
      }
    }.toDF("mv_location", "keys", "sums", "mv_version",
      "base_cursor", "base_tip", "fresh", "versions_behind")
  }

  // ---- the fold: plain DataFrame functions, stored or in memory ----

  /** The view itself: per group of `keys`, `n` and per summed column
    * `s_<c>`/`c_<c>` (the MV schema above). */
  def aggregate(base: DataFrame, keys: Seq[String],
                sums: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: sums.flatMap(c => Seq(
      sum(col(c).cast(LongType)).as(s"s_$c"),
      count(col(c)).as(s"c_$c")))
    base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The delta of a change feed whose `change` column holds `insert` or
    * `delete` ([[Snapshots.changeFeed]]'s shape): per group `dn`,
    * `ds_<c>` and `dc_<c>`, inserts weighted +1 and deletes −1. Groups
    * whose delta cancels exactly (insert+delete of the same rows) drop
    * out, so the row count is the number of groups the feed CHANGES. */
  def deltaAggregate(feed: DataFrame, keys: Seq[String],
                     sums: Seq[String]): DataFrame = {
    val sign = when(col("change") === "insert", 1L).otherwise(-1L)
    val unchanged = ((col("dn") === 0L) +: sums.flatMap(c => Seq(
      coalesce(col(s"ds_$c"), lit(0L)) === 0L,
      col(s"dc_$c") === 0L))).reduce(_ && _)
    feed.groupBy(keys.map(col): _*).agg(
      sum(sign).as("dn"),
      sums.flatMap(c => Seq(
        sum(sign * col(c).cast(LongType)).as(s"ds_$c"),
        sum(when(col(c).isNotNull, sign).otherwise(0L)).as(s"dc_$c")
      )): _*).filter(!unchanged)
  }

  /** MV ⊕ delta: a null-safe full-outer merge on the keys; groups whose
    * row count reaches 0 vanish. */
  def merge(mv: DataFrame, delta: DataFrame, keys: Seq[String],
            sums: Seq[String]): DataFrame = {
    // the delta's keys renamed apart, so the condition names each side's
    // key unambiguously even when view and feed come from one scan
    val dk = keys.indices.map(i => s"__dk$i")
    val d = delta.select(keys.zip(dk).map { case (k, n) => col(k).as(n) } ++
      delta.columns.filterNot(keys.contains).map(col): _*)
    val on = keys.zip(dk).map { case (k, n) => mv(k) <=> d(n) }.reduce(_ && _)
    mv.join(d, on, "full_outer").select(
      keys.zip(dk).map { case (k, n) => coalesce(mv(k), d(n)).as(k) } ++
        Seq((coalesce(mv("n"), lit(0L)) + coalesce(d("dn"), lit(0L))).as("n")) ++
        sums.flatMap { c =>
          val cnt = coalesce(mv(s"c_$c"), lit(0L)) + coalesce(d(s"dc_$c"), lit(0L))
          // SUM of zero non-null values is NULL, not 0 — the c_<col>
          // count exists exactly for this distinction
          Seq(when(cnt === 0L, lit(null).cast(LongType))
            .otherwise(coalesce(mv(s"s_$c"), lit(0L)) +
              coalesce(d(s"ds_$c"), lit(0L))).as(s"s_$c"),
            cnt.as(s"c_$c"))
        }: _*)
      .filter(col("n") > 0L)
  }

  private def validate(base: DataFrame, keys: Seq[String],
                       sums: Seq[String]): Unit = {
    val fields = base.schema.fields.map(f => f.name -> f.dataType).toMap
    (keys ++ sums).foreach(c => require(fields.contains(c),
      s"column '$c' not in the base table (${fields.keys.mkString(", ")})"))
    sums.foreach { c =>
      val ok = fields(c) match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"sum column '$c' is ${fields(c).simpleString}: exact " +
        "maintenance needs an integral column — migrate a scaled integer " +
        "column first (the integer-cents stance)")
    }
    val out = keys ++ Seq("n") ++ sums.flatMap(c => Seq(s"s_$c", s"c_$c"))
    require(out.distinct.size == out.size,
      s"MV column collision in ${out.mkString(", ")} — rename the key")
    require(keys.nonEmpty, "an MV needs at least one grouping key")
  }

  /** Create the MV: full build from the base tip, published as version 1
    * with the cursor header; the definition lands AFTER the content (a
    * crash in between leaves a readable table that refresh_mv rejects
    * as "not an MV" — recreate; never a cursor without content).
    *
    * `buckets > 0` lays the MV out hash-bucketed on the FIRST key
    * ([[BucketLayout]]) — the scale path for an MV too big to rewrite
    * per refresh (per-user aggregates: billions of groups): refresh
    * then rewrites ONLY the buckets the delta touches and carries every
    * other file by reference, O(delta + touched buckets) instead of
    * O(MV) — and joins against the MV on that key plan shuffle-free
    * (SPJ) as a bonus. */
  def create(s: SparkSession, mvLoc: String, baseLoc: String,
             keys: Seq[String], sums: Seq[String],
             buckets: Int = 0): Refreshed = {
    require(Snapshots.latestVersion(s, mvLoc) == 0L,
      s"$mvLoc already exists — DROP it first")
    val vb = Snapshots.latestVersion(s, baseLoc)
    require(vb > 0, s"base $baseLoc has no committed snapshots")
    val base = Snapshots.read(s, baseLoc, vb)
    validate(base, keys, sums)
    val layout =
      if (buckets > 0) Some(BucketLayout.Spec(keys.head, buckets)) else None
    val f = Snapshots.fs(s, mvLoc)
    val p = written(mvLoc, aggregate(base, keys, sums), vb, layout)
    val won = Snapshots.tryPublish(s, mvLoc, 1L, p)
    if (!won) p.scratch.foreach(f.delete(_, true))
    require(won, s"$mvLoc raced a concurrent create — DROP and retry")
    val tmp = new Path(Snapshots.manifestDir(mvLoc),
      s"_tmp_mvdef_${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((baseLoc + "\n" + keys.mkString(",") + "\n" +
      sums.mkString(",") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, defPath(mvLoc))) {
      f.delete(defPath(mvLoc), false)
      if (!f.rename(tmp, defPath(mvLoc))) f.delete(tmp, false)
    }
    registerUser(s, baseLoc, mvLoc)
    Refreshed(1L, 0L, vb, -1L)
  }

  /** Advance the MV to the base tip. Incremental by default: aggregate
    * the change feed over (cursor, tip], null-safe full-outer merge into
    * the MV, drop zero-count groups, publish with the new cursor — the
    * base is never re-read. `full = true` recomputes from the base tip
    * instead (the re-anchor after a base rollback past the cursor or an
    * MV rollback that shed its header). A no-op refresh (cursor already
    * at the tip) publishes nothing. */
  def refresh(s: SparkSession, mvLoc: String,
              full: Boolean = false): Refreshed = {
    val d = readDef(s, mvLoc).getOrElse(throw new IllegalArgumentException(
      s"$mvLoc is not a materialized view (no mv.def)"))
    // the cursor interval and touched-group count of the round that
    // landed (each round re-derives them from its own tip)
    var from, to, touched = 0L
    val v = Snapshots.commit(s, mvLoc) { tip =>
      // one listing of the base per round: its tip and the feed's versions
      val baseLog = Snapshots.log(s, d.baseLoc)
      val vb = baseLog.lastOption.fold(0L)(_.version)
      to = vb
      val tipLayout = tip.layout.flatMap(BucketLayout.parse)
      if (full) {
        val base = Snapshots.read(s, d.baseLoc, vb)
        validate(base, d.keys, d.sums)
        from = -1L; touched = -1L
        written(mvLoc, aggregate(base, d.keys, d.sums), vb, tipLayout)
      } else {
        val v0 = tip.mvBase.getOrElse(
          throw new IllegalStateException(s"$mvLoc's tip carries no " +
            "#mvbase cursor (rolled back?) — CALL refresh_mv(full => true)"))
        require(vb >= v0, s"base ${d.baseLoc} is at version $vb, behind " +
          s"the MV cursor $v0 (base rolled back?) — " +
          "CALL refresh_mv(full => true)")
        from = v0; touched = 0L
        if (vb == v0) Snapshots.Done(tip.version)
        else {
          // cancelled groups are already out of the delta, so
          // `groups_touched` counts groups CHANGED and pure churn takes
          // the carry path
          val dAgg = deltaAggregate(
            Snapshots.changeFeed(s, d.baseLoc, baseLog, v0, vb),
            d.keys, d.sums).localCheckpoint(true)
          touched = dAgg.count()
          if (touched == 0L)
            // churn that cancels out group-by-group (or a feed of empty
            // commits): content is already right, but the CURSOR must
            // still advance or every future refresh re-reads this span —
            // carry the tip's files BY REFERENCE, zero data I/O
            Snapshots.Publish(tip.files,
              schemaJson = tip.schema.map(_.json),
              layout = tipLayout.map(BucketLayout.format),
              mvBase = Some(vb.toString), carriedValid = true)
          else {
            val tipFiles = tip.files
            // the SCALE path: a bucketed MV merges and rewrites ONLY the
            // buckets the delta touches; every other file carries by
            // reference — O(delta + touched buckets), never O(MV).
            // Requires every live file bucket-addressed (a foreign commit
            // to the MV sheds the layout header, so `tipLayout` already
            // guards that; the path check is belt and braces)
            val bucketed = tipLayout.filter(_ =>
              tipFiles.forall(f => BucketLayout.bucketOfPath(f).nonEmpty))
            val (mvOld, carryFiles) = bucketed match {
              case Some(spec) =>
                val touchedB = dAgg.select(BucketLayout.linearId(spec).as("b"))
                  .distinct().collect().map(_.getInt(0)).toSet
                val (tf, cf) = tipFiles.partition(f =>
                  BucketLayout.bucketOfPath(f).exists(touchedB))
                val schema = tip.schema.getOrElse(
                  throw new IllegalStateException(s"$mvLoc tip has no schema"))
                val df = if (tf.isEmpty) s.createDataFrame(
                    s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
                  else Snapshots.readData(s, tf, Some(schema))
                (df, cf)
              case None => (tip.data, Nil)
            }
            written(mvLoc, merge(mvOld, dAgg, d.keys, d.sums), vb, bucketed,
              carryFiles)
          }
        }
      }
    }
    Refreshed(v, from, to, touched)
  }

  /** Republish MV `version` as the new tip, by reference: its files,
    * schema, layout and its own `#mvbase=` cursor, with no data I/O. The
    * next [[refresh]] folds the base's change feed from that cursor
    * again, so a caller that wants "yesterday's view plus today's delta"
    * every time (a benchmark, a what-if replay) rewinds instead of
    * keeping a copy; whatever was committed to the MV after `version`
    * — refreshes or foreign writes — stays readable by time travel and
    * no longer counts. Only a version an MV create or refresh published
    * carries a cursor; rewinding to any other raises. Returns the
    * published version (`version` itself when it already is the tip). */
  def rewind(s: SparkSession, mvLoc: String, version: Long): Long = {
    val src = Snapshots.version(s, mvLoc, version)
    val cursor = src.mvBase.getOrElse(throw new IllegalArgumentException(
      s"$mvLoc version $version carries no #mvbase cursor — not an MV version"))
    Snapshots.commit(s, mvLoc) { tip =>
      if (tip.version == src.version) Snapshots.Done(src.version)
      else src.carry.copy(mvBase = Some(cursor.toString), carriedValid = true)
    }
  }

  /** `df` written as a fresh data directory of the MV (routed bucketed
    * when `layout` is set), as the [[Snapshots.Publish]] that records it
    * — with `carried` files (untouched buckets) by reference, the layout
    * header and cursor `baseVersion`; the directory is the round's
    * scratch, so a lost claim deletes it and the next round folds the
    * delta again over the new tip, never over a stale one. */
  private def written(mvLoc: String, df: DataFrame, baseVersion: Long,
                      layout: Option[BucketLayout.Spec],
                      carried: Seq[String] = Nil): Snapshots.Publish = {
    val dataDir = new Path(mvLoc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = layout match {
      case Some(spec) => BucketLayout.writeBucketed(df, spec, dataDir)
      case None => Snapshots.writeData(df, dataDir)
    }
    Snapshots.Publish(carried ++ newFiles, schemaJson = Some(df.schema.json),
      layout = layout.map(BucketLayout.format),
      mvBase = Some(baseVersion.toString), scratch = Seq(dataDir))
  }
}

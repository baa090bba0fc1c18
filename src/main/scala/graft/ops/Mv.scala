package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** CATALOG-LEVEL materialized views: a snapshot table whose content is
  * a grouped aggregate of another snapshot table, refreshed
  * INCREMENTALLY from the base's change feed — never by re-scanning the
  * base. This is the warehouse-grade face of [[MaterializedView]]'s
  * delta-fold algebra (Gupta & Mumick 1995): the reference's only
  * equivalent is re-running the whole aggregate job on base+delta
  * (MR job chains have no incremental story; SURVEY.md §2.3).
  *
  * Definition (`_manifests/mv.def`, a POLICY file like autostats.cols):
  * base location, grouping keys, summed columns. State (the refresh
  * cursor): every MV commit records the base version its content
  * reflects as a `#mvbase=<v>` manifest header — the cursor advances
  * ATOMICALLY with the content it describes, so a crash between any two
  * steps can never double-fold a delta (the next refresh re-reads the
  * tip's header and replays from there; [[Snapshots.changeFeed]] is a
  * pure function of the immutable manifest chain).
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
  * rewrites the MV (aggregate-sized, typically vocabulary-sized). For
  * an MV too big to rewrite per refresh, the bucketed ops-level path
  * ([[MaterializedView.refreshBucketed]]) writes only changed buckets.
  * Groups whose row count reaches 0 vanish, bit-identical to a full
  * recompute — which is exactly what makes the registered query
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

  /** The base version the MV's tip content reflects (`#mvbase=` header).
    * Absent on a tip published outside the MV machinery (a rollback
    * re-publish) — refresh then demands `full = true` to re-anchor. */
  def baseVersionOfTip(s: SparkSession, loc: String): Option[Long] = {
    val ms = Snapshots.manifests(s, loc)
    if (ms.isEmpty) None
    else Snapshots.headerLines(s, ms.last._2)
      .find(_.startsWith("#mvbase=")).map(_.stripPrefix("#mvbase=").toLong)
  }

  /** The cursor a SPECIFIC MV version recorded — what the rewrite rule
    * reads, so the freshness verdict and the version it serves come
    * from one immutable manifest (no tip re-read in between). */
  def baseVersionAt(s: SparkSession, loc: String,
                    version: Long): Option[Long] =
    Snapshots.manifests(s, loc).find(_._1 == version)
      .flatMap { case (_, p) => Snapshots.headerLines(s, p)
        .find(_.startsWith("#mvbase=")).map(_.stripPrefix("#mvbase=").toLong) }

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
        val cursor = baseVersionOfTip(s, mvLoc)
        (mvLoc, d.keys.mkString(","), d.sums.mkString(","),
          Snapshots.latestVersion(s, mvLoc),
          cursor.getOrElse(-1L), tip,
          cursor.contains(tip),
          cursor.map(c => math.max(0L, tip - c)).getOrElse(-1L))
      }
    }.toDF("mv_location", "keys", "sums", "mv_version",
      "base_cursor", "base_tip", "fresh", "versions_behind")
  }

  /** The aggregate both build and refresh maintain. */
  private def aggExprs(sums: Seq[String]): Seq[Column] =
    count(lit(1)).as("n") +: sums.flatMap(c => Seq(
      sum(col(c).cast(LongType)).as(s"s_$c"),
      count(col(c)).as(s"c_$c")))

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
    require(Snapshots.manifests(s, mvLoc).isEmpty,
      s"$mvLoc already exists — DROP it first")
    val vb = Snapshots.latestVersion(s, baseLoc)
    require(vb > 0, s"base $baseLoc has no committed snapshots")
    val base = Snapshots.read(s, baseLoc, vb)
    validate(base, keys, sums)
    val mv = base.groupBy(keys.map(col): _*).agg(aggExprs(sums).head,
      aggExprs(sums).tail: _*)
    val layout =
      if (buckets > 0) Some(BucketLayout.Spec(keys.head, buckets)) else None
    val v = publish(s, mvLoc, 1L, mv, vb, layout)
    require(v == 1L, s"$mvLoc raced a concurrent create — DROP and retry")
    val f = Snapshots.fs(s, mvLoc)
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
    Refreshed(v, 0L, vb, -1L)
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
    Snapshots.retry(mvLoc) {
      val tip = Snapshots.latestVersion(s, mvLoc)
      val vb = Snapshots.latestVersion(s, d.baseLoc)
      val tipLayout = if (tip <= 0) None
        else Snapshots.versionLayout(s, mvLoc, tip).flatMap(BucketLayout.parse)
      if (full) {
        val base = Snapshots.read(s, d.baseLoc, vb)
        validate(base, d.keys, d.sums)
        val mv = base.groupBy(d.keys.map(col): _*).agg(aggExprs(d.sums).head,
          aggExprs(d.sums).tail: _*)
        val v = publish(s, mvLoc, tip + 1, mv, vb, tipLayout)
        Option.when(v > 0)(Refreshed(v, -1L, vb, -1L))
      } else {
        val v0 = baseVersionOfTip(s, mvLoc).getOrElse(
          throw new IllegalStateException(s"$mvLoc's tip carries no " +
            "#mvbase cursor (rolled back?) — CALL refresh_mv(full => true)"))
        require(vb >= v0, s"base ${d.baseLoc} is at version $vb, behind " +
          s"the MV cursor $v0 (base rolled back?) — " +
          "CALL refresh_mv(full => true)")
        if (vb == v0) Some(Refreshed(tip, v0, vb, 0L))
        else {
          val feed = Snapshots.changeFeed(s, d.baseLoc, v0, vb)
          val sign = when(col("change") === "insert", 1L).otherwise(-1L)
          // groups whose delta cancels out exactly (insert+delete of the
          // same rows) fold to all-zeros — drop them so `groups_touched`
          // reports groups CHANGED and pure churn takes the carry path
          val unchanged = ((col("dn") === 0L) +: d.sums.flatMap(c => Seq(
            coalesce(col(s"ds_$c"), lit(0L)) === 0L,
            col(s"dc_$c") === 0L))).reduce(_ && _)
          val dAgg = feed.groupBy(d.keys.map(col): _*).agg(
            sum(sign).as("dn"),
            d.sums.flatMap(c => Seq(
              sum(sign * col(c).cast(LongType)).as(s"ds_$c"),
              sum(when(col(c).isNotNull, sign).otherwise(0L)).as(s"dc_$c")
            )): _*).filter(!unchanged).localCheckpoint(true)
          val touched = dAgg.count()
          if (touched == 0L) {
            // churn that cancels out group-by-group (or a feed of empty
            // commits): content is already right, but the CURSOR must
            // still advance or every future refresh re-reads this span —
            // carry the tip's files BY REFERENCE, zero data I/O
            val ok = Snapshots.tryPublish(s, mvLoc, tip + 1, Snapshots.Publish(
              Snapshots.versionFiles(s, mvLoc, tip),
              schemaJson = Snapshots.versionSchema(s, mvLoc, tip).map(_.json),
              layout = tipLayout.map(BucketLayout.format),
              mvBase = Some(vb.toString), carriedValid = true))
            Option.when(ok)(Refreshed(tip + 1, v0, vb, 0L))
          } else {
            val tipFiles = Snapshots.versionFiles(s, mvLoc, tip)
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
                val schema = Snapshots.versionSchema(s, mvLoc, tip).getOrElse(
                  throw new IllegalStateException(s"$mvLoc tip has no schema"))
                val df = if (tf.isEmpty) s.createDataFrame(
                    s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
                  else Snapshots.readData(s, tf, Some(schema))
                (df, cf)
              case None => (Snapshots.read(s, mvLoc, tip), Nil)
            }
            val joinCond = d.keys.map(k => mvOld(k) <=> dAgg(k)).reduce(_ && _)
            val merged = mvOld.join(dAgg, joinCond, "full_outer").select(
              d.keys.map(k => coalesce(mvOld(k), dAgg(k)).as(k)) ++
                Seq((coalesce(mvOld("n"), lit(0L)) +
                  coalesce(dAgg("dn"), lit(0L))).as("n")) ++
                d.sums.flatMap { c =>
                  val cnt = coalesce(mvOld(s"c_$c"), lit(0L)) +
                    coalesce(dAgg(s"dc_$c"), lit(0L))
                  // SUM of zero non-null values is NULL, not 0 — the
                  // c_<col> count exists exactly for this distinction
                  Seq(when(cnt === 0L, lit(null).cast(LongType))
                    .otherwise(coalesce(mvOld(s"s_$c"), lit(0L)) +
                      coalesce(dAgg(s"ds_$c"), lit(0L))).as(s"s_$c"),
                    cnt.as(s"c_$c"))
                }: _*)
              .filter(col("n") > 0L)
            val v = publish(s, mvLoc, tip + 1, merged, vb, bucketed,
              carryFiles)
            Option.when(v > 0)(Refreshed(v, v0, vb, touched))
          }
        }
      }
    }
  }

  /** One replace-publish attempt at an EXPECTED version — a blind retry
    * would fold the same delta over an interleaved refresh's content, so
    * losing the CAS must restart from the new tip, not republish.
    * `layout` routes the write bucketed and records the header;
    * `carried` files (untouched buckets) ride along by reference. */
  private def publish(s: SparkSession, mvLoc: String, version: Long,
                      df: DataFrame, baseVersion: Long,
                      layout: Option[BucketLayout.Spec] = None,
                      carried: Seq[String] = Nil): Long = {
    val f = Snapshots.fs(s, mvLoc)
    val dataDir = new Path(mvLoc, s"data/${java.util.UUID.randomUUID()}")
    val newFiles = layout match {
      case Some(spec) => BucketLayout.writeBucketed(df, spec, dataDir)
      case None => Snapshots.writeData(df, dataDir)
    }
    if (Snapshots.tryPublish(s, mvLoc, version, Snapshots.Publish(
        carried ++ newFiles, schemaJson = Some(df.schema.json),
        layout = layout.map(BucketLayout.format),
        mvBase = Some(baseVersion.toString))))
      version
    else { f.delete(dataDir, true); -1L }
  }
}

package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, not}

/** Declarative CHECK constraints enforced at COMMIT time — the Delta
  * `ALTER TABLE ADD CONSTRAINT` analog for snapshot tables: a named SQL
  * predicate every row of every commit must satisfy, validated against
  * the NEWLY WRITTEN files only (O(new data), never O(table)) in the
  * single publish choke point ([[Snapshots.tryPublish]]), so every
  * write path — API commits, SQL INSERT/UPDATE/MERGE through DSv2,
  * streaming epochs, branch fast-forward — hits the same gate with
  * zero per-path code. A violating commit aborts BEFORE its manifest
  * publishes: readers never see a bad version, and the orphaned data
  * directory is swept by expire's grace-window rule like any crashed
  * commit.
  *
  * [[add]] validates the EXISTING table first (one scan, the price of
  * making "constraint holds" an invariant rather than a hope), so a
  * reader can trust that every version committed after the constraint's
  * add satisfies it. Carried-by-reference publishes (rollback, branch
  * fork, compaction, cluster/bucket layout rewrites) skip re-validation
  * — their rows were validated when first committed; a rollback to a
  * version PREDATING the constraint can therefore resurface old rows,
  * which is the documented semantics (constraints gate writes, not
  * history). Fast-forward does NOT skip: publish is exactly where the
  * parent's gate belongs in write-audit-publish, so the branch's new
  * files validate once, at landing.
  *
  * Reference analog: job-input validation mappers that counted bad
  * records and failed the job past a threshold
  * (`CORE/mapred/lib/RegexMapper` idiom + skip-bad-records machinery,
  * `CORE/mapred/SkipBadRecords.java`); here the gate is declarative,
  * per-table, and atomic with the commit.
  */
object Constraints {

  // the constraint set is a VERSIONED CHAIN of immutable files under
  // this directory (cs00001, cs00002, …; highest wins) published with
  // the same no-overwrite rename CAS the manifest log uses — two
  // concurrent add()s can never silently lose one (the old single-file
  // overwrite-by-replace could), and a failed add's rollback is a
  // re-read-then-remove of ITS OWN entry, never a clobber of a
  // concurrently added gate
  private def dir(loc: String) = new Path(loc, "_manifests/_constraints")

  private def requireName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"constraint name must be [A-Za-z0-9_-]+, got '$name'")

  /** Cheap existence probe — the publish choke point asks this BEFORE
    * computing its fresh-file diff, so a never-constrained table (the
    * common case) pays one FS exists() per commit and nothing else. */
  private[graft] def has(s: SparkSession, loc: String): Boolean =
    Snapshots.fs(s, loc).exists(dir(loc))

  private val FileRe = """cs(\d{5})""".r

  /** (chain version, constraints) — version 0 = never constrained. */
  private def listVersioned(s: SparkSession,
                            loc: String): (Long, Seq[(String, String)]) = {
    val f = Snapshots.fs(s, loc)
    val d = dir(loc)
    if (!f.exists(d)) return (0L, Nil)
    val latest = f.listStatus(d).toSeq.flatMap(st =>
      st.getPath.getName match {
        case FileRe(n) => Some(n.toLong -> st.getPath)
        case _ => None
      }).sortBy(_._1).lastOption
    latest match {
      case None => (0L, Nil)
      case Some((v, p)) =>
        val in = f.open(p)
        val cs =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).map { l =>
              val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
            }.toList
          finally in.close()
        (v, cs)
    }
  }

  /** The table's constraints, name → SQL predicate (insertion order). */
  def list(s: SparkSession, loc: String): Seq[(String, String)] =
    listVersioned(s, loc)._2

  /** Read-modify-write under the shared bounded retry: apply `change`
    * to the current set and claim it as chain version `v + 1` (the same
    * exactly-once claim as the manifest log); a lost race re-reads and
    * re-applies, so concurrent editors compose instead of clobbering. */
  private def update(s: SparkSession, loc: String,
                     change: Seq[(String, String)] => Seq[(String, String)]): Unit =
    Snapshots.retry(loc) {
      val (v, existing) = listVersioned(s, loc)
      val bytes = change(existing).map { case (n, e) => s"$n\t$e\n" }.mkString
        .getBytes("UTF-8")
      if (Snapshots.claim(s, new Path(dir(loc), f"cs${v + 1}%05d"), bytes)) Some(())
      else None
    }

  /** Add a named CHECK, validating the table's contents — rejected (and
    * rolled back by removing exactly this entry from the then-current
    * set) if any existing row violates it. Ordering matters for the
    * invariant "every version committed after a successful add satisfies
    * the constraint": the gate entry is published FIRST, so any commit
    * that starts after this point validates against it, and THEN the
    * existing data is checked, re-checking until the latest version is
    * stable across the scan (a commit that landed mid-scan gets
    * re-validated). The residual window is a writer that probed [[has]]
    * just before the gate landed and renamed its manifest just after the
    * final stability check — micro-seconds of pure FS metadata work, the
    * coordination floor a filesystem manifest log has (a violating row
    * slipping through it is caught by the next CoW rewrite of its
    * file). */
  def add(s: SparkSession, loc: String, name: String, predicate: String): Unit = {
    requireName(name)
    require(!predicate.contains("\n") && !predicate.contains("\r") &&
      !predicate.contains("\t"), "constraint predicate must be a single line")
    update(s, loc, { existing =>
      require(!existing.exists(_._1 == name),
        s"constraint '$name' already exists at $loc (drop it first)")
      existing :+ (name, predicate)
    }) // gate live from here
    try {
      var v = Snapshots.latestVersion(s, loc)
      var stable = false
      while (!stable) {
        if (v > 0) {
          val bad = Snapshots.read(s, loc, v).filter(not(expr(predicate))).take(1)
          if (bad.nonEmpty) throw new IllegalStateException(
            s"cannot add constraint '$name' ($predicate): " +
              s"existing row violates it: ${bad.head}")
        }
        val v2 = Snapshots.latestVersion(s, loc)
        if (v2 == v) stable = true else v = v2
      }
    } catch {
      // roll back OUR entry only — a re-read-then-remove under the same
      // CAS loop, so a constraint added concurrently survives
      case e: Throwable =>
        update(s, loc, _.filterNot(_._1 == name)); throw e
    }
  }

  def drop(s: SparkSession, loc: String, name: String): Boolean = {
    if (!list(s, loc).exists(_._1 == name)) false
    else { update(s, loc, _.filterNot(_._1 == name)); true }
  }

  /** The commit gate: validate `freshFiles` (the commit's newly written
    * data) against every declared constraint, throwing before the
    * manifest can publish. No constraints (the common case) costs one
    * policy-file existence probe; with constraints the cost is ONE read
    * of the fresh files — all predicates checked in a single pass with
    * an early-exit `take(1)`. */
  private[graft] def enforce(s: SparkSession, loc: String,
                             freshFiles: Seq[String],
                             schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    if (freshFiles.isEmpty) return
    val cs = list(s, loc)
    if (cs.isEmpty) return
    val all = cs.map { case (_, e) => expr(e) }.reduce(_ && _)
    val df = Snapshots.readData(s, freshFiles, schema)
    val bad = df.filter(not(all)).take(1)
    if (bad.nonEmpty) {
      // one extra micro-read to NAME the violated constraint in the error
      val row = bad.head
      val which = cs.find { case (_, e) =>
        df.filter(not(expr(e))).take(1).nonEmpty
      }.map(_._1).getOrElse(cs.head._1)
      throw new IllegalStateException(
        s"commit to $loc violates constraint '$which': $row")
    }
  }

  /** The constraint surface AS a table (`<cat>.<t>.constraints`). */
  def meta(s: SparkSession, loc: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    list(s, loc).toDF("name", "predicate")
  }
}

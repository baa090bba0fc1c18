package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Persisted VIEWS in the snapshot catalog — view text as a versioned
  * metadata object, the same two primitives as everything else in the
  * format: one tiny file per definition version, published by the
  * exactly-once atomic claim ([[Snapshots.claim]]), resolved at
  * READ time by re-parsing the stored SQL (late binding: schema
  * evolution of the underlying tables flows through; a view over a
  * `VERSION AS OF` read stays pinned because the pin is IN the text).
  *
  * Layout: `<root>/<ns...>/<name>/_view/v<NNNNN>.txt` — a directory is a
  * view iff it has a `_view` log, a table iff it has `_manifests`; the
  * two refuse to coexist at one identifier, checked on both create
  * paths — and a directory holding anything else (a NAMESPACE's child
  * tables) refuses a view outright. REPLACE publishes the next version
  * (the full definition history stays readable, same as table
  * manifests); DROP removes only the `_view` subtree it owns.
  *
  * Reference analog: the reference era chained jobs where SQL users
  * write views (`CORE/mapreduce/lib/chain/ChainMapper.java` composes
  * stages in code); a warehouse catalog needs the named, persisted
  * form.
  */
object Views {

  private def viewDir(loc: String) = new Path(loc, "_view")

  private def versions(s: SparkSession, loc: String): Seq[(Long, Path)] = {
    val vd = viewDir(loc)
    val f = Snapshots.fs(s, loc)
    if (!f.exists(vd)) Seq.empty
    else f.listStatus(vd).toSeq
      .filter(_.getPath.getName.matches("v\\d+\\.txt"))
      .map(st => (st.getPath.getName.stripPrefix("v").stripSuffix(".txt").toLong,
        st.getPath))
      .sortBy(_._1)
  }

  def exists(s: SparkSession, loc: String): Boolean =
    versions(s, loc).nonEmpty

  private def esc(v: String): String =
    v.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }

  private def unesc(v: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case '\\' => b += '\\'; i += 2
          case o => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** The stored definition at the view's latest version: (sql text,
    * declared column aliases — empty = the query's own names). */
  def definition(s: SparkSession, loc: String): Option[(String, Seq[String])] =
    versions(s, loc).lastOption.map { case (_, p) =>
      val lines = Snapshots.manifestLines(s, p)
      def tag(t: String): Option[String] =
        lines.find(_.startsWith(s"#$t=")).map(_.stripPrefix(s"#$t="))
      (unesc(tag("sql").getOrElse(throw new IllegalStateException(
        s"corrupt view definition at $p: no #sql line"))),
        tag("aliases").map(_.split(',').toSeq.filter(_.nonEmpty).map(unesc))
          .getOrElse(Nil))
    }

  /** Publish a view definition. `replace` = CREATE OR REPLACE (next
    * version); an existing view without `replace` throws unless
    * `ifNotExists`. A TABLE at the same identifier always refuses —
    * one name, one object. */
  def define(s: SparkSession, loc: String, sql: String,
             aliases: Seq[String] = Nil,
             replace: Boolean = false, ifNotExists: Boolean = false): Long = {
    require(Snapshots.latestVersion(s, loc) == 0,
      s"a TABLE already exists at $loc; a view cannot shadow it")
    // an identifier directory holding anything but `_view` is a
    // NAMESPACE (child tables/views live under it) or foreign content —
    // a view must not take the name: its metadata would shadow the
    // namespace, and a later DROP VIEW must never be able to touch
    // children it didn't create
    val dirP = new Path(loc)
    val dirF = Snapshots.fs(s, loc)
    if (dirF.exists(dirP)) {
      val foreign = dirF.listStatus(dirP).map(_.getPath.getName)
        .filterNot(_ == "_view")
      require(foreign.isEmpty,
        s"$loc is a namespace or holds foreign content " +
          s"(${foreign.take(3).mkString(", ")}…); a view cannot shadow it")
    }
    val cur = versions(s, loc)
    if (cur.nonEmpty && !replace) {
      if (ifNotExists) return cur.last._1
      throw new IllegalStateException(
        s"view already exists at $loc (use CREATE OR REPLACE VIEW)")
    }
    val body = (s"#sql=${esc(sql)}\n" +
      (if (aliases.nonEmpty) s"#aliases=${aliases.map(esc).mkString(",")}\n"
       else "")).getBytes("UTF-8")
    var v = cur.lastOption.map(_._1).getOrElse(0L) + 1
    Snapshots.retry(loc) {
      if (Snapshots.claim(s, new Path(viewDir(loc), f"v$v%05d.txt"), body)) Some(v)
      else { v += 1; None } // lost the race: someone else published this version
    }
  }

  /** Drop the view (its whole definition history). False if absent.
    * Deletes ONLY the `_view` subtree it owns — never the identifier
    * directory while anything else lives there (defense in depth with
    * [[define]]'s foreign-content refusal: even a view created next to
    * later-arrived content can't take that content down with it). */
  def drop(s: SparkSession, loc: String): Boolean = {
    if (!exists(s, loc)) return false
    val f = Snapshots.fs(s, loc)
    val ok = f.delete(viewDir(loc), true)
    val p = new Path(loc)
    if (ok && f.exists(p) && f.listStatus(p).isEmpty)
      f.delete(p, false) // leave no empty husk behind
    ok
  }
}

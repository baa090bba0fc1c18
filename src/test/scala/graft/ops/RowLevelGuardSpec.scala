package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Every row-level delete, update and merge runs one kernel
  * ([[Snapshots]]' `rowLevel`): one scan of the candidate files, tagged
  * with each row's (file, pos) identity, and one of two publish rules.
  * A per-verb copy of the scan re-spells the identity and the vector
  * subtraction, and a DataFrame `isEmpty` probe runs the verb's scan
  * once more as its own Spark job — an all-empty write already
  * publishes nothing. */
class RowLevelGuardSpec extends AnyFunSuite {

  private val path = java.nio.file.Paths.get("src/main/scala/graft/ops/Snapshots.scala")

  private lazy val lines: IndexedSeq[String] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isRegularFile(path), s"no $path: run from the repository root")
    java.nio.file.Files.readAllLines(path).asScala.toIndexedSeq
  }

  private val Def = """^\s+(?:private(?:\[\w+\])?\s+)?def (\w+)""".r.unanchored

  /** The name of the def each line sits in (the nearest def above it). */
  private lazy val enclosing: IndexedSeq[Option[String]] =
    lines.scanLeft(Option.empty[String]) {
      case (_, Def(name)) => Some(name)
      case (cur, _) => cur
    }.tail

  /** The row-level verbs, their kernel and its helpers: from the first
    * verb up to the change feed, which follows them. */
  private lazy val rowLevel: Seq[String] = {
    def at(name: String) = {
      val i = lines.indexWhere(l => Def.findFirstMatchIn(l).exists(_.group(1) == name))
      assert(i >= 0, s"no def $name in $path")
      i
    }
    lines.slice(at("commitDelete"), at("changeFeed"))
  }

  test("no row-level verb probes a DataFrame with isEmpty") {
    // the file lists, options and strings the verbs may test; a
    // DataFrame under any other name is a probe job
    val allowed = Set("candidates", "envelope", "straddle", "gone", "newFiles", "mn", "mx")
    val receiver = """(\w+)\s*\.\s*isEmpty""".r
    val probes = rowLevel.flatMap(l =>
      receiver.findAllMatchIn(l).map(_.group(1)).filterNot(allowed).map(r => s"$r.isEmpty"))
    assert(probes.isEmpty, probes.mkString(", "))
  }

  test("_metadata.row_index is named only by readLive and the row-level kernel") {
    def code(l: String) = !Seq("*", "/**", "//").exists(l.trim.startsWith)
    val owners = lines.indices
      .filter(i => code(lines(i)) && lines(i).contains("_metadata.row_index"))
      .map(i => enclosing(i).getOrElse("<object>")).toSet
    assert(owners.nonEmpty)
    assert(owners.subsetOf(Set("readLive", "rowLevel")), owners.mkString(", "))
  }

  test("the per-verb scan helpers are gone") {
    val text = lines.mkString("\n")
    val back = Seq("affectedFiles", "rewriteAffected", "subtractDv").filter(text.contains)
    assert(back.isEmpty, s"back in $path: ${back.mkString(", ")}")
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Every optimistic retry in the engine runs through the one bounded
  * loop of the commit primitive ([[Snapshots.retry]] behind
  * [[Snapshots.commit]]): a hand-rolled `while (attempt …)` loop anywhere
  * else re-spells the read → derive → claim cycle, its bound and its
  * lost-race error. */
class CommitLoopGuardSpec extends AnyFunSuite {
  test("the commit primitive holds the only retry loop in src/main/scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root: run from the repository root")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if l.contains("while (attempt") => s"$p:${i + 1}"
          }
        }
      finally walk.close()
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/ops/Snapshots.scala:"),
      s"retry loops outside the commit primitive: ${hits.mkString(", ")}")
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Every read of a table version goes through the one version reader
  * ([[Snapshots.version]] / [[Snapshots.log]]): one `_manifests` listing
  * per read, every header field parsed in one place. A raw listing or
  * header read anywhere else re-lists the log per field and re-spells
  * the header format. */
class VersionReaderGuardSpec extends AnyFunSuite {
  private val owner = "src/main/scala/graft/ops/Snapshots.scala"
  private val forbidden = Seq("Snapshots.manifests(", "Snapshots.headerLines(",
    "\"#mvbase=", "\"#schema=", "\"#layout=")

  test("manifest listings and header parsing live only in Snapshots.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root: run from the repository root")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.toString != owner).toList
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if forbidden.exists(l.contains) => s"$p:${i + 1}"
          }
        }
      finally walk.close()
    assert(hits.isEmpty,
      s"version reads outside Snapshots.version: ${hits.mkString(", ")}")
  }
}

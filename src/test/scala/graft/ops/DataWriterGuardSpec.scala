package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot data files reach disk through one writer
  * ([[Snapshots.writeData]] over [[graft.sources.v2.SnapshotDataWriterFactory]],
  * which the DSv2 SQL and streaming writes run too). A `DataFrameWriter`
  * save in the table verbs, or Spark's `ParquetWrite` in the DSv2 layer,
  * would bring back the rename-based output committer — `_temporary`
  * trees, task and job renames, `_SUCCESS` markers, a listing to find
  * the parts — that the manifest claim makes redundant. */
class DataWriterGuardSpec extends AnyFunSuite {

  private val main = java.nio.file.Paths.get("src/main/scala/graft")

  /** (file, pattern) hits, matched with whitespace removed so a call
    * split across lines still counts. */
  private def hits(files: Seq[java.nio.file.Path],
                   patterns: Seq[String]): Seq[String] =
    files.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .replaceAll("\\s+", "")
      patterns.filter(text.contains).map(pat => s"$p: $pat")
    }

  test("table verbs write no DataFrame saves") {
    assert(java.nio.file.Files.isDirectory(main), s"no $main: run from the repository root")
    val verbs = Seq("Snapshots.scala", "Mv.scala", "BucketLayout.scala")
      .map(f => main.resolve("ops").resolve(f))
    assert(hits(verbs, Seq(".write.mode(", ".write.parquet(", ".write.partitionBy(")).isEmpty)
  }

  test("the DSv2 layer writes through no ParquetWrite") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(main.resolve("sources/v2"))
    val v2 =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(v2.nonEmpty)
    assert(hits(v2, Seq("ParquetWrite(")).isEmpty)
  }
}

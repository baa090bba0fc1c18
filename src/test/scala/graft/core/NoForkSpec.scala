package graft.core

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.ops.Snapshots
import graft.streaming.SnapshotSink

/** The table verbs start no operating-system process. Hadoop's local
  * filesystem without libhadoop forks `chmod`, `ls -ld` or `readlink` for
  * its POSIX calls; [[LocalFs]] and the listing walk of
  * [[Snapshots.filesUnder]] keep every such call in the JVM.
  *
  * `FileSystem`'s cache key is scheme, authority and user — not the
  * implementation class — so the first `file:` filesystem a JVM makes is
  * the one every later caller gets. The session must come from
  * [[Sessions]] (as `SparkTestBase`'s does) for [[LocalFs]] to be it. */
class NoForkSpec extends SparkTestBase {

  private def forksDuring(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    val out = java.nio.file.Files.createTempFile("noforks", ".jfr")
    try {
      r.start()
      body
      r.stop()
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.take(12)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")).getOrElse(Nil)
        s"${e.getString("command")} at ${frames.mkString(" < ")}"
      }
    } finally {
      r.close()
      java.nio.file.Files.deleteIfExists(out)
    }
  }

  test("append, MoR delete, compaction, expire and a stream micro-batch fork nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = "/tmp/graft-test/noforks"
    val ckpt = "/tmp/graft-test/noforks_ckpt"
    Seq(loc, ckpt).foreach { d =>
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // warm-up: Hadoop's `Shell` forks once in its static initializer
    Snapshots.commitAppend((1L to 20L).toDF("id"), loc)
    val forks = forksDuring {
      Snapshots.commitAppend((21L to 40L).toDF("id"), loc)
      Snapshots.commitDeleteMoR(spark, loc, $"id" % 7 === 0)
      Snapshots.commitCompaction(spark, loc)
      Snapshots.expire(spark, loc, retainLast = 1, orphanGraceMs = 0L)
      val mem = MemoryStream[Long]
      val q = SnapshotSink.snapshotTable(mem.toDF().toDF("id"), loc, ckpt)
      try { mem.addData(41L, 42L); q.processAllAvailable() }
      finally q.stop()
    }
    assert(forks.isEmpty, s"${forks.size} process starts:\n${forks.mkString("\n")}")
    assert(Snapshots.read(spark, loc).as[Long].collect().sorted.toSeq
      == (1L to 40L).filterNot(_ % 7 == 0) ++ Seq(41L, 42L))
  }

  test("no recursive listFiles in src/main/scala: walks go through Snapshots.filesUnder") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root: run from the repository root")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if l.contains(".listFiles(") => s"$p:${i + 1}"
          }
        }
      finally walk.close()
    assert(hits.isEmpty, s"listFiles outside Snapshots.filesUnder: ${hits.mkString(", ")}")
  }
}

package graft.core

import java.io.RandomAccessFile
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

/** [[LocalFs]] is Hadoop's checksummed local filesystem with its POSIX
  * calls made in the JVM: the same permissions read back, the same `.crc`
  * sidecars, the same corruption check. */
class LocalFsSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/localfs"
  private def conf = spark.sparkContext.hadoopConfiguration
  private def engineFs: FileSystem = FileSystem.get(new URI("file:///"), conf)
  private def stockFs: FileSystem = {
    val f = new LocalFileSystem()
    f.initialize(new URI("file:///"), new Configuration())
    f
  }
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Each permission-setting call, run on `f` under `dir`, and the
    * permissions read back through `getFileStatus`. */
  private def permissionsAfterWrites(f: FileSystem, dir: Path): Seq[FsPermission] = {
    f.delete(dir, true)
    val file = new Path(dir, "created")
    f.create(file, perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    val sub = new Path(dir, "made")
    assert(f.mkdirs(sub, perm("750")))
    val chmodded = new Path(dir, "chmodded")
    f.create(chmodded).close()
    f.setPermission(chmodded, perm("755"))
    val sticky = new Path(dir, "sticky")
    assert(f.mkdirs(sticky))
    f.setPermission(sticky, perm("1777"))
    Seq(file, sub, chmodded, sticky).map(f.getFileStatus(_).getPermission)
  }

  test("create, mkdirs and setPermission read back as on Hadoop's local FS, sticky bit included") {
    val got = permissionsAfterWrites(engineFs, new Path(s"$root/engine"))
    assert(got == Seq(perm("640"), perm("750"), perm("755"), perm("1777")))
    assert(got == permissionsAfterWrites(stockFs, new Path(s"$root/stock")))
  }

  test("a written file keeps its .crc sidecar, and a flipped byte fails the read") {
    val f = engineFs
    val p = new Path(s"$root/crc/data.bin")
    f.delete(p.getParent, true)
    val bytes = Array.tabulate[Byte](2048)(i => (i * 31).toByte)
    val out = f.create(p)
    try out.write(bytes) finally out.close()
    assert(new java.io.File(s"$root/crc/.data.bin.crc").isFile)
    def readAll(): Array[Byte] = {
      val in = f.open(p)
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b } finally in.close()
    }
    assert(readAll().sameElements(bytes))
    val raf = new RandomAccessFile(s"$root/crc/data.bin", "rw")
    try { raf.seek(100); raf.write(bytes(100) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readAll())
  }

  test("the Sessions session resolves file: to the engine classes, FileContext too") {
    // `spark` is SparkTestBase's session, built by Sessions.localResilient
    assert(engineFs.getClass == classOf[LocalFs.Checked])
    assert(engineFs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass == classOf[LocalFs.Raw])
    assert(FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem.getClass
      == classOf[LocalFs.Context])
  }

  test("a site configuration that names a file: filesystem is left alone") {
    val bare = new Configuration(false)
    assert(LocalFs.settings(bare).toMap == Map(
      "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checked].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName))
    // Hadoop's own defaults (core-default.xml) name none
    assert(LocalFs.settings(new Configuration()).nonEmpty)
    val site = new Configuration(false)
    site.set("fs.file.impl", "org.example.SiteLocalFileSystem")
    assert(LocalFs.settings(site).isEmpty)
    val siteContext = new Configuration(false)
    siteContext.set("fs.AbstractFileSystem.file.impl", "org.example.SiteLocalFs")
    assert(LocalFs.settings(siteContext).isEmpty)
  }
}

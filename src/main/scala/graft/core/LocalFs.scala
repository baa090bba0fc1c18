package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem.
  *
  * Spark ships no libhadoop, so Hadoop's `RawLocalFileSystem` forks a
  * shell for its POSIX calls: `chmod` after every create and permissioned
  * mkdir (`.crc` sidecars included), `readlink` on every `FileContext`
  * status. Here both go through `java.nio` instead; everything else is
  * the stock local filesystem, and the `.crc` checksum layer over it
  * stays exactly as it is. [[Sessions.withDefaults]] installs [[Checked]]
  * as `fs.file.impl` and [[Context]] as its `FileContext` twin.
  */
object LocalFs {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  private val StockContext = "org.apache.hadoop.fs.local.LocalFs"

  /** `RawLocalFileSystem` without process forks. */
  class Raw extends RawLocalFileSystem {
    // NIO cannot express the sticky bit: those (rare) calls keep Hadoop's path
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!posix || perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))

    // Hadoop reads the link target through `readlink`; only a real link needs it
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: the checksummed local filesystem over [[Raw]]. */
  class Checked extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: `FileContext`'s checksummed local
    * filesystem over [[Raw]] (Structured Streaming checkpoints use it). */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    // as Hadoop's `RawLocalFs`: no default port, local-FS server defaults,
    // and the OS judges names
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The `spark.hadoop.*` settings that install this filesystem, or none
    * when the site configuration (`core-site.xml`) already names a `file:`
    * filesystem: an operator's choice wins. */
  def settings(site: Configuration): Seq[(String, String)] = {
    val named = Option(site.getTrimmed("fs.file.impl")).exists(_.nonEmpty) ||
      site.getTrimmed("fs.AbstractFileSystem.file.impl", StockContext) != StockContext
    if (named) Nil
    else Seq("spark.hadoop.fs.file.impl" -> classOf[Checked].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)
  }
}

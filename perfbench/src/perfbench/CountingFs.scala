package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Counts of `file:` filesystem calls, by kind and by side.
  *
  * A call is on the task side when a Spark `TaskContext` is present on
  * the calling thread, else on the driver side. Driver calls are also
  * timed (`driver_busy_ms`): that is the table-metadata I/O the driver
  * does between jobs. Calls are attributed to the innermost open
  * [[Trace]] span as well, so per-call ratios (files per commit,
  * manifest opens per operation) are measured where the work happens.
  */
object FsCounters {
  val Kinds: IndexedSeq[String] =
    IndexedSeq("stat", "list", "open", "create", "rename", "delete", "mkdirs")
  val Stat = 0; val List = 1; val Open = 2; val Create = 3
  val Rename = 4; val Delete = 5; val Mkdirs = 6
  private val N = Kinds.length

  // [side * N + kind], side 0 = driver, 1 = task
  private val counts = new AtomicLongArray(2 * N)
  private val driverNs = new AtomicLong()
  private val bytesWritten = new AtomicLong()
  private val manifestOpens = new AtomicLong()
  private val manifestTmpCreates = new AtomicLong()
  // per span: the 2 * N counts
  private val bySpan = new ConcurrentHashMap[Int, AtomicLongArray]()

  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  /** Count `body` as one call of `kind` unless it runs inside another
    * counted call (the outer call already stands for it). */
  def call[T](kind: Int, p: Path)(body: => T): T = {
    val d = depth.get()
    if (d(0) > 0) body
    else {
      d(0) += 1
      val task = org.apache.spark.TaskContext.get() != null
      val t0 = if (task) 0L else System.nanoTime()
      try body
      finally {
        d(0) -= 1
        val idx = (if (task) N else 0) + kind
        counts.incrementAndGet(idx)
        if (!task) driverNs.addAndGet(System.nanoTime() - t0)
        bySpan.computeIfAbsent(Trace.current, _ => new AtomicLongArray(2 * N))
          .incrementAndGet(idx)
        if (p != null && p.getParent != null && p.getParent.getName == "_manifests") {
          if (kind == Open) manifestOpens.incrementAndGet()
          if (kind == Create && p.getName.startsWith("_tmp_"))
            manifestTmpCreates.incrementAndGet()
        }
      }
    }
  }

  def wrote(n: Long): Unit = bytesWritten.addAndGet(n)

  def reset(): Unit = {
    for (i <- 0 until counts.length()) counts.set(i, 0L)
    driverNs.set(0); bytesWritten.set(0); manifestOpens.set(0)
    manifestTmpCreates.set(0); bySpan.clear()
  }

  def toJson: String = {
    import scala.jdk.CollectionConverters._
    def side(off: Int) =
      Json.obj(Kinds.indices.map(k => Kinds(k) -> counts.get(off + k).toString))
    val spans = bySpan.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      s"\"$id\":[${(0 until a.length()).map(a.get).mkString(",")}]"
    }.mkString(",")
    Json.obj(Seq(
      "driver" -> side(0), "task" -> side(N),
      "driver_busy_ms" -> Json.num(driverNs.get / 1e6),
      "bytes_written" -> bytesWritten.get.toString,
      "manifest_opens" -> manifestOpens.get.toString,
      "manifest_tmp_creates" -> manifestTmpCreates.get.toString,
      "by_span" -> s"{$spans}"))
  }
}

/** Output stream that counts the bytes callers write through it. */
final class CountingOutputStream(inner: FSDataOutputStream)
    extends FSDataOutputStream(inner, null) {
  override def write(b: Int): Unit = { super.write(b); FsCounters.wrote(1) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    super.write(b, off, len); FsCounters.wrote(len)
  }
}

/** `fs.file.impl` for the traced run: the local filesystem, counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters._

  override def getFileStatus(p: Path): FileStatus = call(Stat, p)(super.getFileStatus(p))
  override def exists(p: Path): Boolean = call(Stat, p)(super.exists(p))
  override def listStatus(p: Path): Array[FileStatus] = call(List, p)(super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    call(List, p)(super.listLocatedStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    call(List, p)(super.listStatusIterator(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    call(Open, p)(super.open(p, bufferSize))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call(Create, p)(new CountingOutputStream(
      super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)))
  override def create(p: Path, perm: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    call(Create, p)(new CountingOutputStream(super.create(p, perm, flags, bufferSize,
      replication, blockSize, progress, checksumOpt)))
  override def createNonRecursive(p: Path, perm: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    call(Create, p)(new CountingOutputStream(super.createNonRecursive(p, perm, flags,
      bufferSize, replication, blockSize, progress)))
  override def rename(src: Path, dst: Path): Boolean = call(Rename, dst)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    call(Delete, p)(super.delete(p, recursive))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    call(Mkdirs, p)(super.mkdirs(p, perm))
  override def mkdirs(p: Path): Boolean = call(Mkdirs, p)(super.mkdirs(p))
}

/** `fs.AbstractFileSystem.file.impl` for the traced run, so FileContext
  * calls (its renames in particular) reach the same counters. */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingLocalFileSystem, conf, "file", false)

package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local-disk FileSystem under its own `faulty:` scheme, for protocol
  * specs: it records every list, open, status, create, mkdirs, delete
  * and rename (by its destination) with the calling thread, can fail
  * the Nth rename, and can run a hook before an open.
  * Register it with [[FaultyFileSystem.register]], which binds both
  * Hadoop seams — `fs.faulty.impl` for FileSystem and
  * `fs.AbstractFileSystem.faulty.impl` for FileContext, which the
  * version-manifest CAS renames through.
  */
class FaultyFileSystem extends FilterFileSystem(new FaultyFileSystem.Local) {
  import FaultyFileSystem._

  override def getScheme: String = Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    record("list", f)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f)
    beforeOpen(f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    record("status", f)
    super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = {
    record("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    record("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    record("delete", f)
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    record("rename", dst)
    if (failAtRename.decrementAndGet() == 0)
      throw new java.io.IOException(s"injected rename failure: $src")
    super.rename(src, dst)
  }
}

object FaultyFileSystem {
  final val Scheme = "faulty"

  final case class Op(kind: String, path: String, thread: Thread)

  private val ops = new ConcurrentLinkedQueue[Op]()

  /** N > 0 fails the Nth rename from now on; 0 never fails. */
  val failAtRename = new AtomicInteger(0)

  @volatile var beforeOpen: Path => Unit = _ => ()

  private def record(kind: String, p: Path): Unit =
    ops.add(Op(kind, p.toUri.getPath, Thread.currentThread()))

  def reset(): Unit = {
    ops.clear()
    failAtRename.set(0)
    beforeOpen = _ => ()
  }

  /** The ops the calling thread made while `f` ran — on a local-mode
    * session that is the driver's planning, not the executors' reads.
    */
  def driverOps[A](f: => A): (A, Seq[Op]) = {
    ops.clear()
    val a = f
    val me = Thread.currentThread()
    (a, ops.asScala.filter(_.thread eq me).toSeq)
  }

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultyFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[FaultyAbstractFileSystem].getName)
  }

  /** A fresh local directory as a `faulty:` URI. */
  def tempDir(prefix: String): String =
    s"$Scheme:${java.nio.file.Files.createTempDirectory(prefix)}"

  /** The local-disk FileSystem behind the scheme. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }
}

/** FileContext binding of [[FaultyFileSystem]]. */
class FaultyAbstractFileSystem(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFileSystem, conf,
      FaultyFileSystem.Scheme, false)

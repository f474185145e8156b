package graft.sources

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem with a pure-Java `setPermission`.
  *
  * Hadoop's `RawLocalFileSystem` applies permissions by calling
  * `NativeIO.POSIX.chmod` when libhadoop is loaded — and by
  * **fork/exec of `chmod`** (`Shell.execCommand`) when it is not.
  * Every local file CREATE calls `setPermission` from the output-stream
  * constructor, and every `mkdirs` level calls it once per directory,
  * so on a JVM without the native library (this harness, most sbt/test
  * environments, many containers) each created file costs a process
  * fork: measured **~4 ms per create on the raw FS and ~8 ms through
  * the checksummed `LocalFileSystem`** (data file + `.crc` sidecar)
  * versus ~0.05 ms for the identical `java.io` create.
  *
  * The sink's write path creates many small files per commit — staged
  * data files, their checksum sidecars, per-leaf stats/bloom manifests,
  * version manifests, table sidecars — so a single 16-leaf corpus
  * create was paying ~0.4 s of pure fork/exec (measured per sink file
  * on a JVM without libhadoop: open 9–12 ms, of which create-stream
  * 7.5–8 ms; write 0.2 ms, close 1 ms).
  *
  * The fix is semantic-preserving: the standard nine rwx bits are set
  * through `java.nio.file.Files.setPosixFilePermissions` (same syscall
  * as chmod, no fork); anything the java API cannot express — setuid /
  * setgid / sticky, a non-POSIX store, or an I/O failure — falls back
  * to Hadoop's own path, so errors surface exactly as Hadoop reports
  * them. Registered via `fs.file.impl` in [[graft.GraftSession]]; a
  * session built without it keeps Hadoop's default behavior (slower,
  * never wrong).
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt & 0xfff
    if ((bits & 0xe00) != 0) super.setPermission(p, permission)
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(mask: Int, perm: PosixFilePermission): Unit =
        if ((bits & mask) != 0) { set.add(perm); () }
      add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
      add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
      add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
      try {
        java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
        ()
      } catch {
        case _: UnsupportedOperationException | _: SecurityException |
             _: java.io.IOException =>
          super.setPermission(p, permission)
      }
    }
  }
}

/** Checksummed local filesystem over [[FastRawLocalFileSystem]] —
  * byte-for-byte the behavior of Hadoop's `LocalFileSystem` (same
  * `.crc` discipline, same rename/availability semantics), minus the
  * per-create fork. Register with
  * `spark.hadoop.fs.file.impl = graft.sources.FastLocalFileSystem`.
  */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

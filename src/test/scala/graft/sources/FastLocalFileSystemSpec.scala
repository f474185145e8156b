package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[FastRawLocalFileSystem.setPermission]]: the nine rwx bits go
  * through `java.nio`, and any failure there is handed to Hadoop's own
  * `setPermission`, so callers see the error Hadoop would have raised.
  */
class FastLocalFileSystemSpec extends AnyFunSuite {

  private def fs(): FastRawLocalFileSystem = {
    val f = new FastRawLocalFileSystem
    f.initialize(java.net.URI.create("file:///"), new Configuration())
    f
  }

  test("the nine rwx bits land on a file through java.nio") {
    val file = Files.createTempFile("fastfs", ".bin")
    try {
      val raw = fs()
      for (mode <- Seq("rwxr-x--x", "rw-r-----", "r--rw-rwx", "---------")) {
        raw.setPermission(new Path(file.toUri),
          FsPermission.valueOf("-" + mode))
        assert(PosixFilePermissions.toString(
          Files.getPosixFilePermissions(file)) === mode)
      }
    } finally Files.deleteIfExists(file)
  }

  test("an I/O failure in java.nio falls back to Hadoop's setPermission") {
    val dir = Files.createTempDirectory("fastfs")
    val missing = dir.resolve("no-such-file")
    // java.nio would throw NoSuchFileException (a FileSystemException);
    // the error must be the one Hadoop's own path raises instead
    val e = intercept[java.io.IOException] {
      fs().setPermission(new Path(missing.toUri),
        new FsPermission(Integer.parseInt("640", 8).toShort))
    }
    assert(!e.isInstanceOf[java.nio.file.FileSystemException],
      s"error came from java.nio, not Hadoop: $e")
    Files.delete(dir)
  }
}

package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scheme-aware filesystem probes via the Hadoop `FileSystem` API — the
  * reference probes the lake through HDFS (extract_flights.py:68-79), and
  * `java.io.File` silently answers "missing" for any non-local URI
  * (hdfs://, s3a://, …), which on a real cluster turns idempotent
  * appends into unconditional ones. Resolving the FS from the path makes
  * file:, hdfs:, s3a: all behave identically.
  */
object Fs {

  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** True when the path exists, whatever its scheme. */
  def exists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(hadoopConf()).exists(p)
  }

  /** A SHA-256 (hex) over the relative path, length and mtime of every
    * data file under `dir`, in path order: it changes whenever a file is
    * added, removed or rewritten. Names Spark's readers skip — starting
    * with `.` or `_`, unless a `_` name is a `col=value` partition — are
    * left out (checksums, commit markers, sidecars), as is everything
    * below them. A missing `dir` digests as empty.
    */
  def filesDigest(dir: String): String = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hadoopConf())
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    val files = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        if (!rel.split('/').exists(hidden)) files += ((rel, f.getLen, f.getModificationTime))
      }
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sorted.foreach { case (rel, len, mtime) =>
      md.update(s"$rel\u0000$len\u0000$mtime\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A local scratch directory registered for recursive deletion at JVM
    * exit — for queries that must materialize a layout as part of their
    * plan (the DSv2 round-trip): repeated plan constructions (bench
    * reps, correctness runs) must not accumulate orphan layouts under
    * /tmp across JVMs. Deletion is deferred to exit because the
    * returned DataFrames read the directory lazily.
    */
  def scratchDir(prefix: String): String = scratch.synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratch += p
    p.toString
  }

  private lazy val scratch = {
    val dirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.synchronized(dirs.foreach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      })))
    dirs
  }
}

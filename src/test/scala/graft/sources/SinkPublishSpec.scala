package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Commit-protocol pins that drive [[SinkCommit.commit]] directly (same
  * package — the protocol internals are package-private): the CAS and
  * conflict checks against hand-built racing manifests, and staged
  * names the public API cannot mint — Spark's task ids restart at 0
  * per APPLICATION, so two batch appends from different driver JVMs
  * can stage files with the SAME `part-<partitionId>-<taskId>-<tuple>`
  * name, and the published name must still be unique.
  */
class SinkPublishSpec extends AnyFunSuite {

  /** Commit manifest v naming `rels` (leaf `p=<value>/...`) and `dels`
    * straight through the CAS, as a racing publisher would.
    */
  private def commitAt(fs: FileSystem, root: String, v: Long,
                       rels: Seq[String], dels: Seq[String] = Nil): Boolean =
    SinkVersions.tryWrite(fs, root, SinkManifest(v, rels.map(entry), dels))

  private def entry(rel: String): SinkFileEntry =
    SinkFileEntry(rel, Seq(rel.takeWhile(_ != '/').stripPrefix("p=")), 1L, 1L)

  private def relsAt(fs: FileSystem, root: String, v: Long): Seq[String] =
    SinkVersions.read(fs, root, v).entries.map(_.rel)

  /** A row-level commit of a versioned table that clears `retired` and
    * publishes `files`, guarded by `read`.
    */
  private def replace(fs: FileSystem, root: String, retired: Seq[String],
                      read: Option[SinkReadSnapshot] = None,
                      files: Seq[StagedFile] = Nil): Unit =
    SinkCommit.commit(fs, root, Seq("p"), versioned = true, "q-replace",
      Replace(retired.toSet), files, readSnapshot = read)

  /** One staged file of `queryId` in tuple (A), holding `content`. */
  private def stagedFile(fs: FileSystem, root: String, queryId: String,
                         content: String): StagedFile = {
    val p = new Path(SinkCommit.stagingDir(root, queryId, None),
      "part-0-0-A.parquet")
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    StagedFile(Seq("A"), p.toString, 1, content.length, 0)
  }

  test("a merge-on-read delete landing after the rewrite's scan aborts the commit") {
    val root = Files.createTempDirectory("sink_mor_conflict").toString
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    assert(commitAt(fs, root, 1L, Seq("p=A/f1.tsv", "p=A/f2.tsv")))
    // our rewrite READ f1 at v1 (no delete manifests active); a
    // concurrent MOR delete then landed positions in f1 as v2
    SinkDeletes.write(fs, root, "del-race.tsv", Seq(("p=A/f1.tsv", 0L)))
    assert(commitAt(fs, root, 2L, Seq("p=A/f1.tsv", "p=A/f2.tsv"),
      dels = Seq("del-race.tsv")))
    // f1 is still live, so the retired-files check alone would pass —
    // the read-snapshot guard must catch the unseen manifest
    val ex = intercept[java.util.ConcurrentModificationException] {
      replace(fs, root, Seq("p=A/f1.tsv"), Some(SinkReadSnapshot(
        scanDels = Set.empty, readRels = Set("p=A/f1.tsv"))))
    }
    assert(ex.getMessage.contains("del-race.tsv"))
    // a rewrite whose SCAN already saw the manifest (and anti-filtered
    // through it) commits fine
    replace(fs, root, Seq("p=A/f1.tsv"), Some(SinkReadSnapshot(
      scanDels = Set("del-race.tsv"), readRels = Set("p=A/f1.tsv"))))
    assert(relsAt(fs, root, 3L) === Seq("p=A/f2.tsv"))
    // and one reading OTHER files than the manifest touches is no
    // conflict either
    SinkDeletes.write(fs, root, "del-other.tsv", Seq(("p=A/f9.tsv", 4L)))
    assert(commitAt(fs, root, 4L, Seq("p=A/f2.tsv", "p=A/f9.tsv"),
      dels = Seq("del-other.tsv")))
    replace(fs, root, Seq("p=A/f2.tsv"), Some(SinkReadSnapshot(
      scanDels = Set.empty, readRels = Set("p=A/f2.tsv"))))
  }

  test("commit-time GC drops position manifests whose every target file retired") {
    val root = Files.createTempDirectory("sink_del_gc").toString
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    SinkDeletes.write(fs, root, "del-f1.tsv", Seq(("p=A/f1.tsv", 0L)))
    SinkDeletes.write(fs, root, "del-f2.tsv", Seq(("p=A/f2.tsv", 7L)))
    assert(commitAt(fs, root, 1L, Seq("p=A/f1.tsv", "p=A/f2.tsv"),
      dels = Seq("del-f1.tsv", "del-f2.tsv")))
    // a COW rewrite retires f1 (folding del-f1's positions in): the
    // carried manifest list must drop del-f1 — nothing it touches
    // survives — and keep del-f2, whose file lives on
    replace(fs, root, Seq("p=A/f1.tsv"), Some(SinkReadSnapshot(
      scanDels = Set("del-f1.tsv", "del-f2.tsv"),
      readRels = Set("p=A/f1.tsv"))),
      files = Seq(stagedFile(fs, root, "q-replace", "f1b")))
    assert(SinkVersions.read(fs, root, 2L).dels === Seq("del-f2.tsv"),
      "fully-folded manifests must GC out of the headers")
    // a commit that retires f2 drops the last manifest with it
    replace(fs, root, Seq("p=A/f2.tsv"))
    assert(SinkVersions.read(fs, root, 3L).dels === Seq.empty,
      "the last manifest retires with its file")
  }

  test("streaming tail carves a giant epoch file into byte ranges, rows exactly once") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("sink_stail").toString
    spark.conf.set("spark.sql.catalog.graft_st_spec",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_st_spec.root", root)
    def batch(ks: Seq[Long]) = ks.map(k => (k, "A")).toDF("k", "p").coalesce(1)
    batch(1L to 10L)
      .writeTo("graft_st_spec.t").partitionedBy(col("p")).create()
    batch(11L to 20L).writeTo("graft_st_spec.t").append()
    batch(21L to 30L).writeTo("graft_st_spec.t").append()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    def ckpt(n: String) = Files.createTempDirectory(n).toString
    // the whole tail plans all three files
    val b2 = new PartitionedSinkScanBuilder(s"$root/t", Seq("p"), schema)
    val s2 = b2.build().toMicroBatchStream(ckpt("stail_ck2"))
    assert(s2.planInputPartitions(s2.initialOffset(), s2.latestOffset())
      .length === 3)
    // a giant epoch file carves into byte ranges on the tail — rows
    // exactly once across the ranges (batch-twin read compares)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
    try {
      val b3 = new PartitionedSinkScanBuilder(s"$root/t", Seq("p"), schema)
      val s3 = b3.build().toMicroBatchStream(ckpt("stail_ck3"))
      val ranges = s3.planInputPartitions(s3.initialOffset(), s3.latestOffset())
      assert(ranges.length > 3,
        s"16-byte threshold must carve the tail's files, got ${ranges.length}")
      val factory = b3.build().toMicroBatchStream(ckpt("stail_ck4"))
        .createReaderFactory()
      val rows = ranges.flatMap { sp =>
        val r = factory.createReader(sp)
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        while (r.next()) buf += r.get().getLong(0)
        r.close(); buf
      }
      assert(rows.sorted.toSeq === (1L to 30L),
        "ranged tail reads every row exactly once")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.sql("DROP TABLE graft_st_spec.t")
  }

  /** A one-partition catalog table with one parquet row, for the
    * retired-TSV rejections below.
    */
  private def freshTable(cat: String): String = {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory(s"sink_$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Seq((1L, "A")).toDF("k", "p").writeTo(s"$cat.t")
      .partitionedBy(org.apache.spark.sql.functions.col("p")).create()
    s"$root/t"
  }

  private def assertTsvRejection(e: Throwable, names: String): Unit = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("TSV data files are no longer readable") &&
      msgs.contains(names), msgs)
  }

  test("a sidecar recording graft.format = 'tsv' fails to load, naming the table") {
    val spark = graft.TestSpark.spark
    val dir = freshTable("graft_tsvsc_spec")
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val (partCols, schema, props) = SinkSidecar.readDir(fs, dir)
    def stamp(format: String): Unit = {
      val out = fs.create(new Path(dir, "_table.json"), true)
      try out.write(SinkSidecar.render(partCols, schema,
        props + (SinkFormat.PropFormat -> format)).getBytes("UTF-8"))
      finally out.close()
    }
    // what CREATE persisted while the key existed: still loads, and
    // the key no longer surfaces as a table property
    stamp("parquet")
    assert(spark.table("graft_tsvsc_spec.t").count() === 1L)
    assert(!spark.sessionState.catalogManager.catalog("graft_tsvsc_spec")
      .asInstanceOf[PartitionedSinkCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "t")).properties().containsKey(SinkFormat.PropFormat))
    stamp("tsv")
    assertTsvRejection(
      intercept[Exception](spark.table("graft_tsvsc_spec.t").count()), "t")
    // the change feed's out-of-band sidecar read names the table dir
    assertTsvRejection(intercept[Exception](SinkSidecar.readDir(fs, dir)), dir)
  }

  test("a file-list stream offset from a pre-generation checkpoint is rejected, naming the table") {
    val spark = graft.TestSpark.spark
    val dir = freshTable("graft_tsvof_spec")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    val stream = new PartitionedSinkScanBuilder(dir, Seq("p"), schema)
      .build().toMicroBatchStream(
        Files.createTempDirectory("tsvof_ck").toString)
    assertTsvRejection(intercept[IllegalStateException](
      stream.deserializeOffset(s"""["$dir/p=A/part-0-0-A.tsv"]""")), dir)
    // the generation encoding still round-trips
    val off = stream.latestOffset()
    assert(stream.deserializeOffset(off.json()) === off)
    assert(spark.table("graft_tsvof_spec.t").count() === 1L)
  }

  private def assertRejection(e: Throwable, phrase: String, names: String): Unit = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains(phrase) && msgs.contains(names), msgs)
  }

  test("a table in the listing layout (leaves, no _versions/) fails scans, writes and read-back loudly, naming it") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = freshTable("graft_listing_spec")
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    fs.delete(new Path(dir, "_versions"), true)
    val phrase = "no _versions/ manifest log"
    assertRejection(intercept[Exception](
      spark.table("graft_listing_spec.t").count()), phrase, dir)
    assertRejection(intercept[Exception](
      Seq((2L, "B")).toDF("k", "p").writeTo("graft_listing_spec.t").append()),
      phrase, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    assertRejection(intercept[Exception](
      PartitionedSink.readBack(spark, dir, schema, "p").count()), phrase, dir)
    // the append published nothing into the rejected table
    assert(!fs.exists(new Path(dir, "p=B")))
  }

  test("a version manifest without per-file facts fails scans and history loudly, naming it") {
    val spark = graft.TestSpark.spark
    val dir = freshTable("graft_oldmf_spec")
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    // the older line shape: path and tuple only, no layout header
    val old = new Path(dir, "_versions/2")
    val out = fs.create(old, true)
    try out.write("#\tts\t1\np=A/part-old.parquet\tA\n".getBytes("UTF-8"))
    finally out.close()
    val phrase = "without per-file sizes, row counts and stats"
    assertRejection(intercept[Exception](
      spark.table("graft_oldmf_spec.t").count()), phrase, old.getName)
    assertRejection(intercept[Exception](
      graft.ops.Compaction.tableHistory(spark, "graft_oldmf_spec", "t")),
      phrase, dir)
  }

  test("graft.format is not an option: path-API writes, CREATE and ALTER reject it") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    freshTable("graft_nofmt_spec")
    val rows = Seq((1L, "A")).toDF("k", "p")
    def rejects(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" | ")
      assert(msgs.contains(SinkFormat.PropFormat), msgs)
    }
    rejects(rows.write.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p").option(SinkFormat.PropFormat, "parquet")
      .mode("append").save(Files.createTempDirectory("nofmt").toString))
    rejects(spark.sql("""CREATE TABLE graft_nofmt_spec.t2 (k BIGINT, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.format' = 'parquet')"""))
    rejects(spark.sql("ALTER TABLE graft_nofmt_spec.t SET TBLPROPERTIES " +
      "('graft.format' = 'parquet')"))
    // the path API writes parquet data files with no option at all
    val path = Files.createTempDirectory("fmt_default").toString
    rows.write.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p").mode("append").save(path)
    val names = new java.io.File(s"$path/p=A").list().toSeq
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(names.nonEmpty && names.forall(_.endsWith(".parquet")), names)
  }

  test("same-named staged files from two driver JVMs both survive publish") {
    val root = Files.createTempDirectory("sink_pub").toString
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

    // both "applications" stage part-0-0-A.parquet (fresh JVM ⇒ taskId 0)
    def publishAs(queryId: String, content: String): String = {
      val f = stagedFile(fs, root, queryId, content)
      SinkCommit.commit(fs, root, Seq("p"), versioned = false, queryId,
        Append, Seq(f))
      SinkCommit.publishedName(queryId, None)(f)
    }
    val names = Set(publishAs("query-one-uuid", "1\t1.0\n"),
      publishAs("query-two-uuid", "2\t2.0\n"))
    assert(names.size === 2, "the query token makes the published names differ")

    val dataFiles = fs.listStatus(new Path(s"$root/p=A"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(dataFiles.map(_.getPath.getName).toSet === names,
      "the second app's same-named staged file must publish alongside " +
        "the first's, not over it")
    val contents = dataFiles.map { s =>
      val in = fs.open(s.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }.toSet
    assert(contents === Set("1\t1.0\n", "2\t2.0\n"),
      "both appends' rows survive byte-exactly")
  }

  test("a guarded dynamic overwrite aborts rather than clear a file appended after its read") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = freshTable("graft_guard_spec") // f1 holds (1, A)
    val t = "graft_guard_spec.t"
    Seq((2L, "A")).toDF("k", "p").writeTo(t).append() // f2
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    // a compaction-style rewrite of tuple A reads {f1, f2} ...
    val read = SinkVersions.readLatest(fs, dir).get
    assert(read.entries.size === 2)
    // ... a racing append then lands f3 in the same tuple ...
    Seq((3L, "A")).toDF("k", "p").writeTo(t).append()
    // ... and the rewrite commits its output — f1's and f2's rows only
    val e = intercept[Exception] {
      SinkGuard.armed(Some(SinkGuard.snapshot(read.dels.toSet,
        read.entries.map(_.rel).toSet))) {
        Seq((1L, "A"), (2L, "A")).toDF("k", "p").coalesce(1)
          .writeTo(t).overwritePartitions()
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]), e)
    assert(spark.table(t).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "the racing append's row survives")
  }

  test("version manifest commit is compare-and-swap: a taken version number is rejected, not replaced") {
    val root = Files.createTempDirectory("sink_cas").toString
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    assert(commitAt(fs, root, 1L, Seq("p=A/f1.tsv")),
      "first writer claims version 1")
    // a racing publisher computed the same next version from the same
    // base — its commit must FAIL (plain FileSystem.rename on a local
    // FS would silently replace the file and lose the first snapshot)
    assert(!commitAt(fs, root, 1L, Seq("p=B/f2.tsv")),
      "second writer's CAS on the taken version must lose")
    assert(SinkVersions.read(fs, root, 1L).entries === Seq(entry("p=A/f1.tsv")),
      "the winning snapshot is untouched")
    assert(commitAt(fs, root, 2L, Seq("p=B/f2.tsv")),
      "the loser retries at the next number and lands")
    assert(SinkVersions.latest(fs, root) === Some(2L))
  }

  test("two concurrent unversioned appends both land: a publisher whose base manifest was retired re-reads and retries") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val root = FaultyFileSystem.tempDir("sink_retire_race")
    spark.conf.set("spark.sql.catalog.graft_race_spec",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_race_spec.root", root)
    val t = "graft_race_spec.t"
    Seq((1L, "A")).toDF("k", "p").writeTo(t)
      .partitionedBy(org.apache.spark.sql.functions.col("p")).create() // v1
    // between this publisher's listing (latest = 1) and its open of
    // manifest 1, a concurrent append commits v2 and retires v1
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    FaultyFileSystem.beforeOpen = p =>
      if (p.toString.endsWith("/t/_versions/1") && fired.compareAndSet(false, true)) {
        val other = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.sql.execution.id", null)
          Seq((2L, "B")).toDF("k", "p").writeTo(t).append()
        })
        other.start()
        other.join()
      }
    try Seq((3L, "A")).toDF("k", "p").writeTo(t).append()
    finally FaultyFileSystem.reset()
    assert(fired.get, "the race window was exercised")
    assert(spark.table(t).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "both appends land")
    val fs = FileSystem.get(new java.net.URI(root), spark.sessionState.newHadoopConf())
    assert(SinkVersions.list(fs, s"$root/t") === Seq(3L),
      "only the latest version is retained")
  }

  test("row-level replace conflict-detects: a retired file already replaced by a concurrent commit aborts") {
    val root = Files.createTempDirectory("sink_rl_conflict").toString
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    // snapshot 1 holds f1; a "concurrent" rewrite replaced it in
    // snapshot 2 with f2 — our rewrite ALSO read f1, so its kept-rows
    // are stale: the commit must abort, not silently co-publish both
    // rewrites' carried-forward copies of f1's rows
    assert(commitAt(fs, root, 1L, Seq("p=A/f1.tsv")))
    assert(commitAt(fs, root, 2L, Seq("p=A/f2.tsv")))
    val ex = intercept[java.util.ConcurrentModificationException] {
      replace(fs, root, Seq("p=A/f1.tsv"))
    }
    assert(ex.getMessage.contains("f1.tsv"))
    // a retire of a file that IS live commits: pure-delete rewrite
    replace(fs, root, Seq("p=A/f2.tsv"))
    assert(SinkVersions.read(fs, root, 3L).entries === Seq.empty)
  }
}

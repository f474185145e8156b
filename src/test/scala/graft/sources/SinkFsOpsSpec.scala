package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Filesystem operations on the driver thread, counted through
  * [[FaultyFileSystem]]. A LATEST scan's planning: the version manifest
  * is the only membership and stats source, so planning costs one
  * `_versions/` listing and one manifest open whatever the leaf count,
  * and never lists a leaf or stats a data file. A commit: one `mkdirs`
  * per leaf it publishes into, none elsewhere once the table exists
  * (CREATE makes `_versions/` once), and no `delete` of a name it
  * renames onto (batch and row-level names are query-unique).
  */
class SinkFsOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def catalog(name: String): String = {
    FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val root = FaultyFileSystem.tempDir(s"sink_ops_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    s"${new java.net.URI(root).getPath}/t"
  }

  private def assertManifestOnly(dir: String, ops: Seq[FaultyFileSystem.Op],
                                 what: String): Unit = {
    val lists = ops.filter(_.kind == "list").map(_.path)
    assert(lists === Seq(s"$dir/_versions"),
      s"$what: one _versions/ listing and no other, got $lists")
    val manifests = ops.filter(o => o.kind == "open" &&
      o.path.startsWith(s"$dir/_versions/"))
    assert(manifests.size === 1, s"$what: one manifest open, got $manifests")
    val perFile = ops.filter(o => o.kind == "status" &&
      o.path.startsWith(dir) && !o.path.endsWith("/_table.json"))
    assert(perFile.isEmpty, s"$what: no per-file exists/status, got $perFile")
  }

  test("a latest scan plans from one _versions/ listing and one manifest open, at 24 leaves") {
    import spark.implicits._
    val dir = catalog("graft_ops_spec")
    (for (y <- 1 to 2; d <- 1 to 12) yield (y * 100L + d, y, d)).toDF("k", "y", "d")
      .repartition(col("y"), col("d"))
      .writeTo("graft_ops_spec.t").partitionedBy(col("y"), col("d")).create()
    val t = "graft_ops_spec.t"
    val (all, fullOps) = FaultyFileSystem.driverOps(spark.table(t).collect())
    assert(all.length === 24)
    assertManifestOnly(dir, fullOps, "full scan")
    val (pruned, prunedOps) = FaultyFileSystem.driverOps(
      spark.table(t).filter(col("y") === 2 && col("d") === 7).collect())
    assert(pruned.map(_.getLong(0)).toSeq === Seq(207L))
    assertManifestOnly(dir, prunedOps, "partition-pruned scan")
    val (n, countOps) = FaultyFileSystem.driverOps(
      spark.sql(s"SELECT count(*) FROM $t").collect())
    assert(n.head.getLong(0) === 24L)
    assertManifestOnly(dir, countOps, "count(*) pushdown")
    assert(spark.sql(s"SELECT count(*) FROM $t").queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .isEmpty, "count(*) must answer from the manifest, planning no scan")
  }

  test("a declined aggregate pushdown and its scan read one snapshot: one listing, one manifest open") {
    import spark.implicits._
    val dir = catalog("graft_opsagg_spec")
    val t = "graft_opsagg_spec.t"
    (for (y <- 1 to 2; d <- 1 to 3) yield (y * 100L + d, y, d)).toDF("k", "y", "d")
      .repartition(col("y"), col("d"))
      .writeTo(t).tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("y"), col("d")).create()
    // an active position delete declines the metadata-only answer
    spark.sql(s"DELETE FROM $t WHERE k = 102").collect()
    val (n, countOps) = FaultyFileSystem.driverOps(
      spark.sql(s"SELECT count(*) FROM $t").collect())
    assert(n.head.getLong(0) === 5L)
    assertManifestOnly(dir, countOps, "declined count(*)")
    val (mx, maxOps) = FaultyFileSystem.driverOps(
      spark.sql(s"SELECT max(k) FROM $t").collect())
    assert(mx.head.getLong(0) === 203L)
    assertManifestOnly(dir, maxOps, "declined max(k)")
  }

  test("a point-predicate scan opens only the bloom blobs its candidate files name") {
    import spark.implicits._
    val dir = catalog("graft_opsbl_spec")
    val t = "graft_opsbl_spec.t"
    def batch(ks: Range, p: String) =
      ks.map(k => (k.toLong, p)).toDF("k", "p").coalesce(1)
    batch(0 until 100, "A").writeTo(t)
      .tableProperty(SinkBloomConf.PropColumns, "k")
      .partitionedBy(col("p")).create()
    batch(1000 until 1100, "A").writeTo(t).append() // min/max excludes k = 31
    batch(0 until 100 by 2, "B").writeTo(t).append() // bloom excludes k = 31
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(s"faulty:$dir"),
      spark.sessionState.newHadoopConf())
    val entries = SinkVersions.readLatest(fs, s"faulty:$dir").get.entries
    assert(entries.flatMap(_.bloom).distinct.size === 3, "one blob per commit")
    val (hit, ops) = FaultyFileSystem.driverOps(
      spark.table(t).filter(col("k") === 31L).collect())
    assert(hit.map(_.getLong(0)).toSeq === Seq(31L))
    val opened = ops.filter(o => o.kind == "open" &&
      o.path.startsWith(s"$dir/_blooms/")).map(_.path.split('/').last).toSet
    val candidates = entries.filterNot(_.cols("k").exists(_._1 == "1000"))
    assert(opened === candidates.flatMap(_.bloom).toSet,
      "only the stats survivors' blobs are opened")
    assert(opened.size === 2)
  }

  /** The driver's publish ops of one commit into `dir`: it renamed
    * `files` data files, deleted none of their targets, and made at
    * most one `mkdirs` per leaf, over `leaves` leaves at most.
    */
  private def assertPublishOps(dir: String, ops: Seq[FaultyFileSystem.Op],
                               files: Int, leaves: Int, what: String): Unit = {
    val targets = ops.filter(o => o.kind == "rename" &&
      o.path.endsWith(".parquet")).map(_.path)
    assert(targets.size === files, s"$what: published files, got $targets")
    val clobbered = ops.filter(o => o.kind == "delete" &&
      targets.contains(o.path))
    assert(clobbered.isEmpty, s"$what: no delete of a rename target, got $clobbered")
    val leafMkdirs = ops.filter(o => o.kind == "mkdirs" &&
      o.path.startsWith(dir) && o.path.split('/').last.contains("="))
      .groupBy(_.path)
    assert(leafMkdirs.values.forall(_.size == 1) && leafMkdirs.size <= leaves,
      s"$what: at most one mkdirs per leaf, got " +
        leafMkdirs.map { case (p, os) => s"$p x${os.size}" })
  }

  test("a 24-leaf create and a COW DELETE publish with one mkdirs per leaf and no delete-before-rename") {
    import spark.implicits._
    val dir = catalog("graft_opsw_spec")
    val t = "graft_opsw_spec.t"
    // 8 rows per leaf, dealt over 4 tasks: several files per leaf
    val rows = for (y <- 1 to 2; d <- 1 to 12; i <- 1 to 8)
      yield (y * 1000L + d * 10 + i, y, d)
    val (_, createOps) = FaultyFileSystem.driverOps(
      rows.toDF("k", "y", "d").repartition(4)
        .writeTo(t).partitionedBy(col("y"), col("d")).create())
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(s"faulty:$dir"),
      spark.sessionState.newHadoopConf())
    val created = SinkVersions.readLatest(fs, s"faulty:$dir").get.entries
    assert(created.size > 24, "several files per leaf")
    assertPublishOps(dir, createOps, files = created.size, leaves = 24, "create")
    // the rewrite of a two-row file publishes its other row
    val victim = created.find(_.rows >= 2).get
    val k = victim.cols("k").get._1
    val (_, deleteOps) = FaultyFileSystem.driverOps(
      spark.sql(s"DELETE FROM $t WHERE k = $k").collect())
    assertPublishOps(dir, deleteOps, files = 1, leaves = 1, "COW DELETE")
    assert(spark.table(t).count() === 191L)
  }

  /** The driver's `mkdirs` of paths under `dir` that are not partition
    * leaves.
    */
  private def nonLeafMkdirs(dir: String, ops: Seq[FaultyFileSystem.Op]): Seq[String] =
    ops.filter(o => o.kind == "mkdirs" && o.path.startsWith(dir) &&
      !o.path.split('/').last.contains("=")).map(_.path)

  test("a 24-leaf create makes _versions/ once; an append and a merge-on-read DELETE mkdirs only their leaves") {
    import spark.implicits._
    val dir = catalog("graft_opsmk_spec")
    val t = "graft_opsmk_spec.t"
    val rows = for (y <- 1 to 2; d <- 1 to 12) yield (y * 100L + d, y, d)
    val (_, createOps) = FaultyFileSystem.driverOps(
      rows.toDF("k", "y", "d").repartition(col("y"), col("d"))
        .writeTo(t).tableProperty("graft.deleteMode", "mor")
        .partitionedBy(col("y"), col("d")).create())
    assert(nonLeafMkdirs(dir, createOps) === Seq(s"$dir/_versions"),
      "create: one mkdirs of _versions/ and none elsewhere outside the leaves")
    assertPublishOps(dir, createOps, files = 24, leaves = 24, "create")
    val (_, appendOps) = FaultyFileSystem.driverOps(
      Seq((999L, 1, 1)).toDF("k", "y", "d").writeTo(t).append())
    assert(nonLeafMkdirs(dir, appendOps).isEmpty, "append: leaves only")
    assertPublishOps(dir, appendOps, files = 1, leaves = 1, "append")
    val (_, deleteOps) = FaultyFileSystem.driverOps(
      spark.sql(s"DELETE FROM $t WHERE k = 107").collect())
    assert(deleteOps.count(_.kind == "mkdirs") === 0,
      s"merge-on-read DELETE: no mkdirs, got ${deleteOps.filter(_.kind == "mkdirs")}")
    assert(spark.table(t).count() === 24L)
  }
}

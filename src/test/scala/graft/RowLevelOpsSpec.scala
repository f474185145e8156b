package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Row-level SQL operations on sink tables — DELETE / UPDATE / MERGE
  * through Spark's group-based (copy-on-write) rewrite against
  * graft.sources.PartitionedSink tables:
  *
  *   - correctness of each command end-to-end (SQL in, layout out);
  *   - SURGICAL rewrites: runtime group filtering means a file with no
  *     matching rows keeps its identity (same physical file, untouched
  *     bytes) even when min/max stats cannot prove it match-free;
  *   - the metadata-only fast path for partition-predicate deletes
  *     (plan-pinned: DeleteFromTable, not ReplaceData);
  *   - versioned tables: a rewrite is one atomic snapshot — time
  *     travel reads the pre-delete rows, the change feed shows the
  *     rewrite as delete+insert of exactly the replaced files;
  *   - the `_file` metadata column the group filter rides on is also
  *     a user-visible SELECT surface.
  */
class RowLevelOpsSpec extends SparkSpec {

  private def freshCatalog(name: String,
                           versioned: Boolean = false): String = {
    val root = tmpDir(s"rl_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    if (versioned) spark.conf.set(s"spark.sql.catalog.$name.versioned", "true")
    root
  }

  private def rows(t: String): Set[(Long, Double, String)] =
    spark.table(t).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[String]("p"))).toSet

  /** One data FILE per append per partition (coalesce(1)) — the specs
    * below reason about file identity, so the fixture must control the
    * file grain.
    */
  private def seed(t: String, data: Seq[(Long, Double, String)]*): Unit = {
    import spark.implicits._
    data.head.toDF("k", "v", "p").coalesce(1)
      .writeTo(t).partitionedBy(col("p")).create()
    data.tail.foreach(_.toDF("k", "v", "p").coalesce(1).writeTo(t).append())
  }

  /** Data files on disk: everything under the partition dirs (the
    * `_`-prefixed metadata dirs — manifests, deletes — excluded).
    */
  private def dataFileNames(root: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory && f.getName.startsWith("_")) Seq.empty
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(root)).map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
  }

  /** LIVE data files: the latest version manifest's names (on a
    * versioned table retired files stay on disk until vacuum).
    */
  private def liveFileNames(root: String, table: String): Set[String] = {
    val dir = s"$root/$table"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.SinkVersions.readLatest(fs, dir).toSeq.flatMap(_.entries)
      .map(e => e.rel.drop(e.rel.lastIndexOf('/') + 1)).toSet
  }

  test("a copy-on-write rewrite writes parquet files with field ids: a later RENAME keeps the rewritten rows") {
    val root = freshCatalog("rlfmt")
    seed("rlfmt.t", Seq((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
    spark.sql("UPDATE rlfmt.t SET v = v + 10 WHERE k = 1")
    assert(liveFileNames(root, "t").forall(_.endsWith(".parquet")),
      liveFileNames(root, "t"))
    spark.sql("ALTER TABLE rlfmt.t RENAME COLUMN v TO w")
    val got = spark.table("rlfmt.t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("w"))).toSet
    assert(got === Set((1L, 11.0), (2L, 2.0), (3L, 3.0)),
      "rewritten files must resolve the renamed column through its field id")
  }

  test("DELETE with a data-column predicate rewrites and keeps the rest") {
    freshCatalog("rl1")
    seed("rl1.t",
      Seq((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B"), (4L, 4.0, "B")))
    spark.sql("DELETE FROM rl1.t WHERE k % 2 = 1")
    assert(rows("rl1.t") === Set((2L, 2.0, "A"), (4L, 4.0, "B")))
    // delete everything left in A the row-level way; the leaf dir must
    // not linger as an empty skeleton
    spark.sql("DELETE FROM rl1.t WHERE v < 3.0")
    assert(rows("rl1.t") === Set((4L, 4.0, "B")))
  }

  test("runtime group filtering leaves matchless files physically untouched") {
    val root = freshCatalog("rl2")
    // two files with OVERLAPPING k ranges in one partition: min/max
    // stats cannot clear either for k = 99, only the runtime matching-
    // rows subquery can — file A must survive byte-identical
    seed("rl2.t",
      Seq((1L, 1.0, "A"), (100L, 2.0, "A")), // file A: range [1, 100]
      Seq((2L, 3.0, "A"), (99L, 4.0, "A"))) // file B: range [2, 99]
    val before = dataFileNames(root)
    assert(before.size === 2)
    spark.sql("DELETE FROM rl2.t WHERE k = 99")
    // LIVE set: the matchless file must keep its identity in the
    // snapshot, the matching one must be replaced
    val after = liveFileNames(root, "t")
    assert((before intersect after).size === 1)
    assert(after.size === 2)
    assert(rows("rl2.t") === Set((1L, 1.0, "A"), (100L, 2.0, "A"),
      (2L, 3.0, "A")))
  }

  test("a copy-on-write DELETE's scan node counts the files its runtime filter drops") {
    import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    freshCatalog("rlskip")
    // four files in one partition whose k ranges all cover 5: the stats
    // keep every one, only the runtime matching-files filter tells them apart
    seed("rlskip.t",
      Seq((1L, 1.0, "A"), (10L, 1.0, "A")),
      Seq((2L, 2.0, "A"), (9L, 2.0, "A")),
      Seq((3L, 3.0, "A"), (8L, 3.0, "A")),
      Seq((5L, 5.0, "A"), (6L, 5.0, "A")))
    val delete = spark.sql("DELETE FROM rlskip.t WHERE k = 5")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val cow = nodes(delete.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.scan.getClass.getSimpleName == "SinkCowScan" => b
    }
    assert(cow.size === 1, delete.queryExecution.executedPlan.toString)
    assert(cow.head.metrics("filesScanned").value === 1L)
    assert(cow.head.metrics("filesSkippedRuntime").value === 3L)
    assert(rows("rlskip.t").map(_._1) === Set(1L, 10L, 2L, 9L, 3L, 8L, 6L))
  }

  test("partition-predicate DELETE takes the metadata-only path") {
    val root = freshCatalog("rl3")
    seed("rl3.t",
      Seq((1L, 1.0, "A"), (2L, 2.0, "B"), (3L, 3.0, "C")))
    val plan = spark.sql("EXPLAIN DELETE FROM rl3.t WHERE p = 'B'")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("DeleteFromTable"),
      s"partition delete should be metadata-only, got:\n$plan")
    assert(!plan.contains("ReplaceData"))
    val before = dataFileNames(root)
    spark.sql("DELETE FROM rl3.t WHERE p = 'B'")
    assert(rows("rl3.t") === Set((1L, 1.0, "A"), (3L, 3.0, "C")))
    // survivors kept their physical files — no rewrite anywhere: no
    // new file names appeared, exactly one (the dropped leaf's) gone
    val after = dataFileNames(root)
    assert(after.subsetOf(before) && after.size === before.size - 1)
    assert(!new File(root, "t/p=B").exists())
    // unconditional DELETE = truncate
    spark.sql("DELETE FROM rl3.t")
    assert(spark.table("rl3.t").count() === 0L)
  }

  test("UPDATE rewrites matching rows in place, including partition moves") {
    freshCatalog("rl4")
    seed("rl4.t",
      Seq((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
    spark.sql("UPDATE rl4.t SET v = v * 10 WHERE k <= 2")
    assert(rows("rl4.t") === Set((1L, 10.0, "A"), (2L, 20.0, "A"),
      (3L, 3.0, "B")))
    // an UPDATE of the partition column MOVES the row to its new leaf
    spark.sql("UPDATE rl4.t SET p = 'B' WHERE k = 1")
    assert(rows("rl4.t") === Set((1L, 10.0, "B"), (2L, 20.0, "A"),
      (3L, 3.0, "B")))
  }

  test("MERGE INTO updates matched rows and inserts unmatched ones") {
    freshCatalog("rl5")
    seed("rl5.t", Seq((1L, 1.0, "A"), (2L, 2.0, "B")))
    import spark.implicits._
    Seq((2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("k", "v", "p").createOrReplaceTempView("rl5_src")
    spark.sql("""
      MERGE INTO rl5.t AS t USING rl5_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""")
    assert(rows("rl5.t") === Set((1L, 1.0, "A"), (2L, 20.0, "B"),
      (3L, 30.0, "C")))
    // MERGE with a DELETE branch
    spark.sql("""
      MERGE INTO rl5.t AS t USING rl5_src AS s ON t.k = s.k
      WHEN MATCHED AND s.k = 2 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.v = t.v + 1""")
    assert(rows("rl5.t") === Set((1L, 1.0, "A"), (3L, 31.0, "C")))
  }

  test("versioned table: a row-level DELETE is one atomic snapshot") {
    freshCatalog("rlv", versioned = true)
    seed("rlv.t",
      Seq((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
    spark.sql("DELETE FROM rlv.t WHERE k = 2")
    assert(rows("rlv.t") === Set((1L, 1.0, "A"), (3L, 3.0, "B")))
    // version 1 (pre-delete) still reads the deleted row
    val v1 = spark.read.option("versionAsOf", "1").table("rlv.t")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[String]("p"))).toSet
    assert(v1 === Set((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
    // the change feed shows the rewrite as delete+insert of exactly
    // the replaced file's rows: partition B's file is in both
    // manifests and never appears
    val changes = graft.ops.Compaction.tableChanges(spark, "rlv", "t", 1L, 2L)
      .select(col("k"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes === Set((1L, "delete"), (2L, "delete"), (1L, "insert")))
  }

  test("DELETE matching nothing changes nothing, including the version") {
    freshCatalog("rlv0", versioned = true)
    seed("rlv0.t", Seq((1L, 1.0, "A")))
    spark.sql("DELETE FROM rlv0.t WHERE k = 999")
    assert(rows("rlv0.t") === Set((1L, 1.0, "A")))
    intercept[IllegalArgumentException] {
      spark.read.option("versionAsOf", "2").table("rlv0.t").collect()
    }
  }

  test("a rewrite clusters on the partition tuple: no fragmentation") {
    import spark.implicits._
    val root = freshCatalog("rl7")
    // partition A holds TWO files; the delete touches both, so both
    // rewrite. The replace write requires a clustered distribution, so
    // the kept rows of the tuple land in one task → ONE file, not one
    // per scan task — at cluster scale the difference between a
    // rewrite that heals fragmentation and one that multiplies it.
    seed("rl7.t",
      (1L to 50L).map(k => (k, k.toDouble, "A")),
      (51L to 100L).map(k => (k, k.toDouble, "A")))
    assert(dataFileNames(root).size === 2)
    spark.sql("DELETE FROM rl7.t WHERE k % 10 = 0")
    assert(spark.table("rl7.t").count() === 90L)
    assert(liveFileNames(root, "t").size === 1,
      "both rewritten files must coalesce into one per tuple")
  }

  test("a row-level op on an unversioned table commits one manifest and deletes the replaced file after it") {
    import spark.implicits._
    val root = freshCatalog("rl9") // NOT versioned
    seed("rl9.t", Seq((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.sources.SinkVersions.list(fs, s"$root/t") === Seq(1L))
    val before = dataFileNames(s"$root/t")
    spark.sql("DELETE FROM rl9.t WHERE k = 2")
    // one atomic commit; only the latest version is retained
    assert(graft.sources.SinkVersions.list(fs, s"$root/t") === Seq(2L))
    assert(rows("rl9.t") === Set((1L, 1.0, "A"), (3L, 3.0, "B")))
    // the replaced file is gone from disk, not just from the manifest
    assert(dataFileNames(s"$root/t") === liveFileNames(root, "t"))
    assert((before -- dataFileNames(s"$root/t")).size === 1)
    intercept[Exception](
      spark.read.option("versionAsOf", "1").table("rl9.t").collect())
    Seq((9L, 9.0, "B")).toDF("k", "v", "p").writeTo("rl9.t").append()
    assert(graft.sources.SinkVersions.list(fs, s"$root/t") === Seq(3L))
    assert(rows("rl9.t") === Set((1L, 1.0, "A"), (3L, 3.0, "B"), (9L, 9.0, "B")))
  }

  test("graft.writeDistribution is rejected: CREATE, ALTER and path API") {
    import spark.implicits._
    val root = freshCatalog("rl8")
    val key = "graft.writeDistribution"
    val one = Seq((1L, 1.0, "A")).toDF("k", "v", "p")
    def rejects(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" | ")
      assert(msgs.contains(s"$key is not"), msgs)
    }
    rejects(one.writeTo("rl8.t").tableProperty(key, "hash")
      .partitionedBy(col("p")).create())
    one.writeTo("rl8.t").partitionedBy(col("p")).create()
    rejects(spark.sql(s"ALTER TABLE rl8.t SET TBLPROPERTIES ('$key' = 'hash')"))
    rejects(one.write.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p").option(key, "hash").mode("append")
      .save(tmpDir("rl8_path")))
    // a value an older sidecar stored is dropped on load
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val dir = s"$root/t"
    val (partCols, schema, props) = graft.sources.SinkSidecar.readDir(fs, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_table.json"), true)
    try out.write(graft.sources.SinkSidecar.render(partCols, schema,
      props + (key -> "hash")).getBytes("UTF-8"))
    finally out.close()
    val loaded = spark.sessionState.catalogManager.catalog("rl8")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "t")).properties()
    assert(!loaded.containsKey(key))
    Seq((2L, 2.0, "A")).toDF("k", "v", "p").writeTo("rl8.t").append()
    assert(rows("rl8.t") === Set((1L, 1.0, "A"), (2L, 2.0, "A")))
  }

  test("merge-on-read DELETE writes O(1) bytes while COW rewrites the " +
    "file; MOR deletes fold on compact; vacuum + time travel stay consistent") {
    import spark.implicits._
    val root = freshCatalog("rlm")
    def mk(t: String, mode: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS rlm.$t")
      (1L to 5000L).map(k => (k, k.toDouble, "A")).toDF("k", "v", "p")
        .coalesce(1).writeTo(s"rlm.$t")
        .tableProperty("graft.deleteMode", mode)
        .partitionedBy(col("p")).create()
    }
    def dataBytes(t: String): Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new File(s"$root/$t"))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .filterNot(_.getPath.contains("/_"))
        .map(f => f.getName -> f.length()).toMap
    }
    mk("mor", "mor"); mk("cow", "cow")
    val morBefore = dataBytes("mor"); val cowBefore = dataBytes("cow")
    spark.sql("DELETE FROM rlm.mor WHERE k = 2500")
    spark.sql("DELETE FROM rlm.cow WHERE k = 2500")
    // MOR: the single data file is byte-identical; only a tiny
    // position manifest appeared. COW: the file was rewritten.
    assert(dataBytes("mor") === morBefore,
      "a MOR 1-row delete must not touch any data file")
    assert(dataBytes("cow") !== cowBefore,
      "the COW rendition rewrites the containing file")
    val delFiles = new File(s"$root/mor/_deletes").listFiles()
      .filter(f => !f.getName.startsWith("."))
    assert(delFiles.length === 1 && delFiles(0).length() < 256,
      s"one O(1)-byte position manifest, got ${delFiles.toSeq}")
    // both agree on WHAT was deleted
    assert(spark.table("rlm.mor").count() === 4999L)
    assert(spark.table("rlm.cow").count() === 4999L)
    assert(spark.table("rlm.mor").filter(col("k") === 2500).count() === 0L)
    // version 1 (pre-delete seed... the delete auto-versioned, so v1
    // IS the delete commit on this table) and current stay consistent
    // through compaction: compact folds the positions into a rewritten
    // file, and the table reads identically before and after
    val beforeCompact = spark.table("rlm.mor")
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
    // the MAINTENANCE SIGNAL: tableFiles surfaces the per-file count of
    // active position deletes (driver metadata only) — the
    // "deletes-per-scan tax, compact me" number a MOR table's operator
    // watches
    val signal = graft.ops.Compaction.tableFiles(spark, "rlm", "mor")
      .select("rel_path", "deleted_positions").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(signal.values.sum === 1L,
      s"one active deleted position must surface in tableFiles, got $signal")
    graft.ops.Compaction.compactSinkTable(spark, "rlm", "mor", 0)
    assert(spark.table("rlm.mor")
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
      === beforeCompact, "compact must fold MOR deletes, not lose/revive rows")
    // commit-time GC: the compacted snapshot retires the folded
    // manifest from its headers (scans stop paying it immediately;
    // vacuum reclaims the file once older snapshots expire)
    val fsm = new org.apache.hadoop.fs.Path(s"$root/mor").getFileSystem(
      spark.sessionState.newHadoopConf())
    val latestV = graft.sources.SinkVersions.latest(fsm, s"$root/mor").get
    assert(graft.sources.SinkVersions.read(fsm, s"$root/mor", latestV)
      .dels.isEmpty, "the folded position manifest must GC out of the new snapshot")
    assert(graft.ops.Compaction.tableFiles(spark, "rlm", "mor")
      .select("deleted_positions").collect().map(_.getLong(0)).sum === 0L,
      "the density signal drops to zero after compaction")
    // vacuum retires the superseded snapshot's delete manifest only
    // once no retained version references it (age-floored here, so the
    // manifest file survives this immediate run — never a torn read)
    graft.ops.Compaction.vacuumVersions(spark, "rlm", "mor", keepLast = 1)
    assert(spark.table("rlm.mor").count() === 4999L,
      "vacuum must not change the live read")
    spark.sql("DROP TABLE rlm.mor"); spark.sql("DROP TABLE rlm.cow")
  }

  test("the _file metadata column is selectable and file-accurate") {
    val root = freshCatalog("rl6")
    seed("rl6.t", Seq((1L, 1.0, "A"), (2L, 2.0, "B")))
    val byFile = spark.table("rl6.t").select(col("k"), col("_file"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byFile.keySet === Set(1L, 2L))
    assert(byFile(1L).contains("p=A") && byFile(2L).contains("p=B"))
    assert(dataFileNames(root).contains(new File(byFile(1L)).getName))
  }
}

package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.PartitionedSink

/** DSv2 write-path contract: the stage-then-publish commit protocol of
  * graft.sources.PartitionedSink — append/truncate/dynamic overwrite
  * end-to-end through Spark's writer, plus the exactly-once and abort
  * guarantees driven at the connector API level (a losing speculative
  * attempt and a job abort are scheduled by Spark, but WHAT they must
  * do to the filesystem is this connector's contract, so the spec
  * drives those transitions directly and asserts the layout).
  */
class PartitionedSinkSpec extends SparkSpec {

  private val dataSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  private def df(rows: (Long, Double, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("k", "v", "s", "p")
  }

  private def write(d: DataFrame, path: String, mode: String): Unit =
    d.write.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p").mode(mode).save(path)

  private def readBack(path: String): Set[(Long, Double, String, String)] =
    PartitionedSink.readBack(spark, path, dataSchema, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getString(2), r.getString(3))).toSet

  test("append round-trips rows, including NULLs and doubles, exactly") {
    val path = tmpDir("sink_append")
    val d = df((1L, 1.5, "a", "A"), (2L, 0.1 + 0.2, "b", "B"),
      (3L, -7.25, null, "A"))
    write(d, path, "append")
    write(df((4L, 4.0, "d", "C")), path, "append")
    assert(readBack(path) === Set(
      (1L, 1.5, "a", "A"), (2L, 0.1 + 0.2, "b", "B"),
      (3L, -7.25, null, "A"), (4L, 4.0, "d", "C")))
    // layout is hive-style, one dir per value, plus the manifest log;
    // no staging residue
    val dirs = new File(path).listFiles().map(_.getName).toSet
    assert(dirs === Set("p=A", "p=B", "p=C", "_versions"))
  }

  test("static overwrite truncates every existing partition first") {
    val path = tmpDir("sink_trunc")
    write(df((1L, 1.0, "x", "A"), (2L, 2.0, "y", "B")), path, "append")
    write(df((9L, 9.0, "z", "C")), path, "overwrite")
    assert(readBack(path) === Set((9L, 9.0, "z", "C")))
    assert(!new File(path).listFiles().map(_.getName).contains("p=A"))
  }

  test("dynamic overwrite replaces only the partitions the job writes") {
    // the V1 `.mode("overwrite").save()` bridge plans
    // OverwriteByExpression(true) → truncate() regardless of
    // partitionOverwriteMode; overwriteDynamicPartitions() is reached
    // through the catalog `writeTo(...).overwritePartitions()` surface,
    // so the dynamic path is driven at the connector API level here
    val path = tmpDir("sink_dyn")
    write(df((1L, 1.0, "x", "A"), (2L, 2.0, "y", "B")), path, "append")
    val bw = batchWriteFor(path, "dynamic")
    val w = bw.createBatchWriterFactory(null).createWriter(0, 300L)
    w.write(internalRow(8L, 8.0, "w", "B"))
    w.write(internalRow(9L, 9.0, "z", "C"))
    bw.commit(Array(w.commit()))
    assert(readBack(path) === Set(
      (1L, 1.0, "x", "A"),              // untouched partition survives
      (8L, 8.0, "w", "B"),              // rewritten partition replaced
      (9L, 9.0, "z", "C")))             // new partition created
  }

  test("readBack of an empty layout is a schema-correct empty frame") {
    val path = tmpDir("sink_empty")
    // a job that writes zero rows publishes nothing
    write(df().limit(0), path, "append")
    val back = PartitionedSink.readBack(spark, path, dataSchema, "p")
    assert(back.columns.toSeq === Seq("k", "v", "s", "p"))
    assert(back.count() === 0)
  }

  test("readBack reads the table: merge-on-read deletes stay deleted, renamed columns keep their values") {
    import spark.implicits._
    val root = tmpDir("sink_rb_table")
    spark.conf.set("spark.sql.catalog.graft_rbt_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rbt_spec.root", root)
    Seq((1L, 1.0, "a", "A"), (2L, 2.0, "b", "A"), (3L, 3.0, "c", "B"))
      .toDF("k", "v", "s", "p").coalesce(1)
      .writeTo("graft_rbt_spec.t").partitionedBy(col("p"))
      .tableProperty("graft.deleteMode", "mor").create()
    spark.sql("DELETE FROM graft_rbt_spec.t WHERE k = 2")
    spark.sql("ALTER TABLE graft_rbt_spec.t RENAME COLUMN s TO label")
    val renamed = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("label", StringType)))
    val back = PartitionedSink.readBack(spark, s"$root/t", renamed, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getString(2), r.getString(3))).toSet
    assert(back === Set((1L, 1.0, "a", "A"), (3L, 3.0, "c", "B")),
      "readBack must agree with a scan of the table")
    assert(back === spark.table("graft_rbt_spec.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSet)
    spark.sql("DROP TABLE graft_rbt_spec.t")
  }

  /** Rewrite a catalog table's sidecar as if CREATE had recorded
    * `graft.format = <format>` (what tables created while the key
    * existed carry).
    */
  private def stampFormat(tableDir: String, format: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val (partCols, schema, props) = graft.sources.SinkSidecar.readDir(fs, tableDir)
    // through the checksummed FS: a raw write would leave a stale .crc
    val out = fs.create(new org.apache.hadoop.fs.Path(tableDir, "_table.json"), true)
    try out.write(graft.sources.SinkSidecar.render(partCols, schema,
      props + (graft.sources.SinkFormat.PropFormat -> format)).getBytes("UTF-8"))
    finally out.close()
  }

  // ---- protocol-level pins: the transitions Spark schedules on real
  // clusters (speculative twin loses the commit race; job aborts) ----

  private def batchWriteFor(path: String, mode: String):
      org.apache.spark.sql.connector.write.BatchWrite = {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val fullSchema = StructType(dataSchema.fields :+ StructField("p", StringType))
    val provider = new graft.sources.PartitionedSink
    val table = provider.getTable(fullSchema, Array.empty,
      Map("path" -> path, "partitionBy" -> "p").asJava)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = new CaseInsensitiveStringMap(java.util.Map.of())
      override def queryId(): String = "spec-query-1"
      override def schema(): StructType = fullSchema
    }
    val builder = table.newWriteBuilder(info)
    val b2 = mode match {
      case "truncate" => builder
        .asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
        .truncate()
      case "dynamic" => builder
        .asInstanceOf[org.apache.spark.sql.connector.write.SupportsDynamicOverwrite]
        .overwriteDynamicPartitions()
      case _ => builder
    }
    b2.build().toBatch
  }

  private def internalRow(k: Long, v: Double, s: String, p: String) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    InternalRow(k, v,
      if (s == null) null else UTF8String.fromString(s),
      UTF8String.fromString(p))
  }

  test("exactly-once: only manifest-listed files publish; the zombie twin's staging is swept") {
    val path = tmpDir("sink_once")
    val bw = batchWriteFor(path, "append")
    val factory = bw.createBatchWriterFactory(null)
    assert(bw.useCommitCoordinator(),
      "the coordinator handshake is half of exactly-once; must be on")
    // partition 0: the winning attempt and a speculative twin BOTH run
    // to completion and stage files; only the winner's message reaches
    // the driver (the coordinator denies the twin, which then aborts —
    // worst case its executor dies first and abort never runs: the
    // orphan file must still never publish)
    val winner = factory.createWriter(0, 100L)
    val zombie = factory.createWriter(0, 101L)
    winner.write(internalRow(1L, 1.0, "w", "A"))
    zombie.write(internalRow(1L, 1.0, "w", "A"))
    zombie.write(internalRow(99L, 9.9, "dup", "B")) // diverged duplicate work
    val winnerMsg = winner.commit()
    val _ = zombie.commit() // committed locally, DENIED by coordinator:
                            // its message never reaches BatchWrite.commit
    bw.commit(Array(winnerMsg))
    assert(readBack(path) === Set((1L, 1.0, "w", "A")),
      "zombie rows must not publish")
    assert(!new File(path, "_staging").exists(),
      "staging (including the zombie's orphan) must be swept at commit")
  }

  // ---- streaming write path ----

  private def streamingWriteFor(path: String, mode: String) = {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val fullSchema = StructType(dataSchema.fields :+ StructField("p", StringType))
    val provider = new graft.sources.PartitionedSink
    val table = provider.getTable(fullSchema, Array.empty,
      Map("path" -> path, "partitionBy" -> "p").asJava)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = new CaseInsensitiveStringMap(java.util.Map.of())
      override def queryId(): String = "spec-stream-1"
      override def schema(): StructType = fullSchema
    }
    val builder = table.newWriteBuilder(info)
    val b2 = mode match {
      case "truncate" => builder
        .asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
        .truncate()
      case _ => builder
    }
    b2.build().toStreaming
  }

  test("streaming append end-to-end: epochs accumulate through the real writer") {
    import spark.implicits._
    val srcDir = tmpDir("sink_stream_src")
    val path = tmpDir("sink_stream")
    def feed(rows: (Long, Double, String, String)*): Unit =
      rows.toSeq.toDF("k", "v", "s", "p")
        .write.mode("append").parquet(srcDir)
    feed((0L, 0.0, "s0", "P0"), (1L, 0.5, "s1", "P1"), (2L, 1.0, "s2", "P0"))
    val fullSchema = StructType(dataSchema.fields :+ StructField("p", StringType))
    val q = spark.readStream.schema(fullSchema).parquet(srcDir)
      .writeStream.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p")
      .option("checkpointLocation", tmpDir("sink_stream_ck"))
      .start(path)
    try {
      q.processAllAvailable()
      feed((3L, 1.5, "s3", "P1"))
      q.processAllAvailable()
    } finally q.stop()
    assert(readBack(path) === Set(
      (0L, 0.0, "s0", "P0"), (1L, 0.5, "s1", "P1"),
      (2L, 1.0, "s2", "P0"), (3L, 1.5, "s3", "P1")))
    assert(!new File(path, "_staging").exists(), "per-epoch staging swept")
  }

  test("streaming restart from checkpoint resumes without duplicating published batches") {
    import spark.implicits._
    val srcDir = tmpDir("sink_restart_src")
    val ckDir = tmpDir("sink_restart_ck")
    val path = tmpDir("sink_restart")
    def feed(rows: (Long, Double, String, String)*): Unit =
      rows.toSeq.toDF("k", "v", "s", "p").write.mode("append").parquet(srcDir)
    val fullSchema = StructType(dataSchema.fields :+ StructField("p", StringType))
    def start() = spark.readStream.schema(fullSchema).parquet(srcDir)
      .writeStream.format("graft.sources.PartitionedSink")
      .option("partitionBy", "p").option("checkpointLocation", ckDir)
      .start(path)
    feed((1L, 1.0, "a", "A"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // restart: a NEW run (fresh runId) over the same checkpoint; the
    // epoch counter continues, earlier epochs' markers stand
    feed((2L, 2.0, "b", "B"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readBack(path) === Set((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B")),
      "restart must resume the epoch sequence, not replay batch 0's rows")
  }

  test("streaming epoch replay is exactly-once: same epoch re-committed publishes one copy") {
    val path = tmpDir("sink_replay")
    val sw = streamingWriteFor(path, "append")
    val factory = sw.createStreamingWriterFactory(null)
    // epoch 7, first run: sink commit lands, but the checkpoint's
    // offset commit doesn't — Spark restarts and REPLAYS epoch 7
    val w1 = factory.createWriter(0, 500L, 7L)
    w1.write(internalRow(1L, 1.0, "a", "A"))
    sw.commit(7L, Array(w1.commit()))
    assert(readBack(path) === Set((1L, 1.0, "a", "A")))
    // replay: same rows, same partitionId, fresh taskId
    val w2 = factory.createWriter(0, 501L, 7L)
    w2.write(internalRow(1L, 1.0, "a", "A"))
    sw.commit(7L, Array(w2.commit()))
    assert(readBack(path) === Set((1L, 1.0, "a", "A")),
      "replayed epoch must not duplicate rows")
    // a later epoch still appends
    val w3 = factory.createWriter(0, 502L, 8L)
    w3.write(internalRow(2L, 2.0, "b", "A"))
    sw.commit(8L, Array(w3.commit()))
    assert(readBack(path) === Set((1L, 1.0, "a", "A"), (2L, 2.0, "b", "A")))
  }

  test("streaming complete mode: each epoch's commit replaces the whole layout") {
    val path = tmpDir("sink_complete")
    val sw = streamingWriteFor(path, "truncate")
    val factory = sw.createStreamingWriterFactory(null)
    val w1 = factory.createWriter(0, 600L, 1L)
    w1.write(internalRow(1L, 1.0, "a", "A"))
    w1.write(internalRow(2L, 2.0, "b", "B"))
    sw.commit(1L, Array(w1.commit()))
    val w2 = factory.createWriter(0, 601L, 2L)
    w2.write(internalRow(9L, 9.0, "z", "C"))
    sw.commit(2L, Array(w2.commit()))
    assert(readBack(path) === Set((9L, 9.0, "z", "C")),
      "complete-mode epoch must replace all prior partitions")
  }

  // ---- catalog surface: dynamic overwrite through the PUBLIC API ----

  test("catalog writeTo().overwritePartitions() replaces only the written partitions — untouched files survive byte-identical") {
    import spark.implicits._
    val root = tmpDir("sink_cat")
    spark.conf.set("spark.sql.catalog.graft_cat_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat_spec.root", root)
    val day1 = Seq((1L, 1.0, "x", "A"), (2L, 2.0, "y", "B"))
      .toDF("k", "v", "s", "p")
    day1.writeTo("graft_cat_spec.t").partitionedBy(col("p")).create()
    assert(readBack(s"$root/t") === Set((1L, 1.0, "x", "A"), (2L, 2.0, "y", "B")))
    // fingerprint partition A's files: name + mtime + length
    def filesOf(p: String) = new File(s"$root/t/p=$p").listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val aBefore = filesOf("A")
    Thread.sleep(5) // mtime resolution guard
    // day 2 recomputes B and adds C; A is NOT in the batch
    Seq((8L, 8.0, "w", "B"), (9L, 9.0, "z", "C")).toDF("k", "v", "s", "p")
      .writeTo("graft_cat_spec.t").overwritePartitions()
    assert(readBack(s"$root/t") === Set(
      (1L, 1.0, "x", "A"),   // untouched partition survives
      (8L, 8.0, "w", "B"),   // rewritten partition replaced
      (9L, 9.0, "z", "C")))  // new partition created
    assert(filesOf("A") === aBefore,
      "dynamic overwrite must not rewrite untouched partitions' files")
    // append also flows through the catalog
    Seq((3L, 3.0, "q", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_cat_spec.t").append()
    assert(readBack(s"$root/t").size === 4)
    // catalog metadata round-trips: loadTable sees schema + partitioning
    val loaded = spark.sessionState.catalogManager.catalog("graft_cat_spec")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "t"))
    assert(loaded.schema().fieldNames.toSeq === Seq("k", "v", "s", "p"))
    assert(loaded.partitioning().map(_.toString).toSeq === Seq("identity(p)"))
    // DROP TABLE removes the layout
    spark.sql("DROP TABLE graft_cat_spec.t")
    assert(!new File(s"$root/t/_table.json").exists())
    assert(spark.sql("SHOW TABLES IN graft_cat_spec").count() === 0)
  }

  test("catalog tables are READABLE: spark.table + SQL scan the layout with partition and column pruning") {
    import spark.implicits._
    val root = tmpDir("sink_read")
    spark.conf.set("spark.sql.catalog.graft_read_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_read_spec.root", root)
    val rows = Seq((1L, 1.0, "x", "A"), (2L, 2.0, "tab\there", "B"),
      (3L, 3.0, null.asInstanceOf[String], "C"), (4L, 4.0, "y", "A"))
    rows.toDF("k", "v", "s", "p")
      .writeTo("graft_read_spec.t").partitionedBy(col("p")).create()
    // full scan round-trips (including escaped strings and NULLs)
    val full = spark.table("graft_read_spec.t")
    assert(full.collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getString(2), r.getString(3))).toSet === rows.toSet)
    // SQL surface
    assert(spark.sql(
      "SELECT sum(k) AS sk FROM graft_read_spec.t WHERE p = 'A'")
      .head().getLong(0) === 5L)
    // PARTITION PRUNING under key-grouped execution: the scan reports
    // KeyGroupedPartitioning, so Spark coalesces each partition
    // VALUE's files into one task — the row-RDD partition count equals
    // the selected VALUES (observable because narrow ops preserve it):
    // p='A' plans exactly one key group; unfiltered plans all three
    val allParts = spark.table("graft_read_spec.t").rdd.getNumPartitions
    val aParts = spark.table("graft_read_spec.t")
      .filter(col("p") === "A").rdd.getNumPartitions
    assert(aParts === 1,
      s"p='A' must plan ONE key group (its files coalesced), got $aParts")
    assert(allParts === 3,
      s"unfiltered scan plans one group per value (A, B, C), got $allParts")
    // COLUMN PRUNING: the scan's read schema carries only what's asked
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    val prunedScan = scanOf(spark.table("graft_read_spec.t").select("k"))
    assert(prunedScan.scan.readSchema().fieldNames.toSeq === Seq("k"))
    // and a data-column predicate is NOT consumed by the scan (no
    // stats to prune with) — it must remain a post-scan Filter
    val resid = spark.table("graft_read_spec.t").filter(col("k") > 1L)
    assert(resid.collect().length === 3)
    spark.sql("DROP TABLE graft_read_spec.t")
  }

  test("a table partitioned by a column whose name needs quoting reads back, filtered") {
    val root = tmpDir("sink_quoted")
    spark.conf.set("spark.sql.catalog.graft_quoted_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_quoted_spec.root", root)
    spark.sql("CREATE TABLE graft_quoted_spec.t (k BIGINT, `ev-day` STRING) " +
      "PARTITIONED BY (`ev-day`)")
    spark.sql("INSERT INTO graft_quoted_spec.t VALUES " +
      "(1, 'd1'), (2, 'd2'), (3, 'd1'), (4, 'd3')")
    val t = spark.table("graft_quoted_spec.t")
    assert(t.filter(col("`ev-day`") === "d1").select("k").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
    assert(t.filter(col("k") > 1L).count() === 3L)
    assert(t.groupBy(col("`ev-day`")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("d1" -> 2L, "d2" -> 1L, "d3" -> 1L))
    spark.sql("DROP TABLE graft_quoted_spec.t")
  }

  test("compactSinkTable rewrites only fragmented partitions, through the table's own dynamic overwrite") {
    import spark.implicits._
    val root = tmpDir("sink_compact")
    spark.conf.set("spark.sql.catalog.graft_cmp_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cmp_spec.root", root)
    // three appends fragment partition A into 3 files; B gets one
    Seq((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B")).toDF("k", "v", "s", "p")
      .coalesce(1).writeTo("graft_cmp_spec.t").partitionedBy(col("p")).create()
    Seq((3L, 3.0, "c", "A")).toDF("k", "v", "s", "p").coalesce(1)
      .writeTo("graft_cmp_spec.t").append()
    Seq((4L, 4.0, "d", "A")).toDF("k", "v", "s", "p").coalesce(1)
      .writeTo("graft_cmp_spec.t").append()
    def files(p: String) = new File(s"$root/t/p=$p").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")) // data files only, not stats manifests
    assert(files("A").length === 3 && files("B").length === 1)
    val bBefore = files("B").map(f => (f.getName, f.lastModified, f.length)).toSet
    val expected = spark.table("graft_cmp_spec.t").collect()
      .map(_.toSeq).sortBy(_.toString)
    val compacted = graft.ops.Compaction.compactSinkTable(
      spark, "graft_cmp_spec", "t")
    assert(compacted === Map(Seq("A") -> 3), "only A was fragmented")
    assert(files("A").length === 1, "A's three files merge into one")
    assert(files("B").map(f => (f.getName, f.lastModified, f.length)).toSet
      === bBefore, "B (already compact) must be byte-untouched")
    assert(spark.table("graft_cmp_spec.t").collect()
      .map(_.toSeq).sortBy(_.toString) === expected,
      "compaction preserves rows exactly")
    // idempotent: a second run finds nothing fragmented
    assert(graft.ops.Compaction.compactSinkTable(
      spark, "graft_cmp_spec", "t") === Map.empty)
    spark.sql("DROP TABLE graft_cmp_spec.t")
  }

  test("scan statistics are post-pruning, and groupBy(partCol) plans zero exchanges") {
    import spark.implicits._
    val root = tmpDir("sink_stats")
    spark.conf.set("spark.sql.catalog.graft_stat_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_stat_spec.root", root)
    // partition A dwarfs B: pruned stats must see the difference.
    // DISTINCT strings per row — under the parquet format a constant
    // string dictionary-compresses A down to B's file-overhead size
    // and the 10× pin below would measure compression, not pruning
    val rows = (1L to 2000L).map(i =>
      (i, i * 0.5, s"payload-$i-${i * 7919}", "A")) ++
      Seq((900L, 9.0, "tiny", "B"))
    rows.toDF("k", "v", "s", "p")
      .writeTo("graft_stat_spec.t").partitionedBy(col("p")).create()
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = statsOf(spark.table("graft_stat_spec.t"))
    val onlyB = statsOf(spark.table("graft_stat_spec.t")
      .filter(col("p") === "B"))
    assert(onlyB < full / 10,
      s"p='B' must report only B's bytes post-pruning ($onlyB vs $full)")
    // storage-partitioned execution: the layout IS clustered on p, so
    // a per-partition-value aggregate needs NO shuffle
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val agg = spark.table("graft_stat_spec.t").groupBy("p")
        .agg(org.apache.spark.sql.functions.sum("k").as("sk"))
      val exchanges = agg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"GROUP BY the partition column must ride the reported " +
          s"KeyGroupedPartitioning — zero exchanges:\n" +
          agg.queryExecution.executedPlan)
      // and the numbers are right
      assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        === Map("A" -> (1L to 2000L).sum, "B" -> 900L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    spark.sql("DROP TABLE graft_stat_spec.t")
  }

  test("storage-partitioned join: two sink tables co-clustered on the partition column join with zero exchanges") {
    import spark.implicits._
    val root = tmpDir("sink_spj")
    spark.conf.set("spark.sql.catalog.graft_spj_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_spj_spec.root", root)
    Seq((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B"), (3L, 3.0, "c", "C"))
      .toDF("k", "v", "s", "p")
      .writeTo("graft_spj_spec.l").partitionedBy(col("p")).create()
    Seq((10L, 1.5, "x", "A"), (20L, 2.5, "y", "B"), (30L, 3.5, "z", "C"))
      .toDF("k", "v", "s", "p")
      .writeTo("graft_spj_spec.r").partitionedBy(col("p")).create()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // force a non-broadcast plan so the co-partitioning is what
      // satisfies the join's distribution, not a broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = spark.table("graft_spj_spec.l").select(col("p"), col("k").as("lk"))
      val r = spark.table("graft_spj_spec.r").select(col("p"), col("k").as("rk"))
      val joined = l.join(r, Seq("p"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"both layouts are clustered on p — the join must be " +
          s"storage-partitioned, zero exchanges:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.collect().map(r0 =>
        (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSet ===
        Set(("A", 1L, 10L), ("B", 2L, 20L), ("C", 3L, 30L)))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBt)
    }
    spark.sql("DROP TABLE graft_spj_spec.l")
    spark.sql("DROP TABLE graft_spj_spec.r")
  }

  test("multi-level partitioning: y/m/d nesting, subset pruning, leaf-grained dynamic overwrite") {
    import spark.implicits._
    val root = tmpDir("sink_multi")
    spark.conf.set("spark.sql.catalog.graft_ml_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ml_spec.root", root)
    // 2 years × 2 months × 2 days = 8 leaves, one row each
    val rows = for (y <- Seq(2024, 2025); m <- Seq(1, 2); dd <- Seq(1, 2))
      yield (y.toLong * 10000 + m * 100 + dd, y, m, dd)
    rows.toDF("k", "y", "m", "dd")
      .writeTo("graft_ml_spec.t")
      .partitionedBy(col("y"), col("m"), col("dd")).create()
    // the layout IS the reference lake's shape: nested hive dirs
    // (extract_flights.py:96-99), outermost column first
    assert(new File(s"$root/t/y=2024/m=1/dd=2").isDirectory,
      "partitionedBy(y, m, dd) must nest directories in declared order")
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val t = spark.table("graft_ml_spec.t")
    assert(splits(t) === 8, "unfiltered scan reads every leaf")
    assert(t.collect().map(_.getLong(0)).toSet === rows.map(_._1).toSet)
    // PREFIX pruning: y=2024 descends one year subtree only
    assert(splits(t.filter(col("y") === 2024)) === 4)
    // SUBSET pruning: a MIDDLE-column filter prunes at its own level
    // in every year — the month=2 subtrees of both years survive,
    // nothing else is even listed
    assert(splits(t.filter(col("m") === 2)) === 4)
    // full-tuple pruning: exactly one leaf
    val one = t.filter(col("y") === 2025 && col("m") === 2 && col("dd") === 1)
    assert(splits(one) === 1)
    assert(one.head().getLong(0) === 20250201L)
    // KeyGroupedPartitioning spans the FULL tuple: grouping by all
    // three partition columns plans zero exchanges
    val grouped = t.groupBy(col("y"), col("m"), col("dd"))
      .agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("Exchange"),
      "groupBy over the partition tuple must plan zero exchanges")
    assert(grouped.collect().forall(_.getLong(3) === 1L))
    // DYNAMIC overwrite at the LEAF grain: recompute one (y, m, dd)
    // tuple; its 7 sibling leaves stay byte-untouched
    def leafFiles(rel: String) =
      Option(new File(s"$root/t/$rel").listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
    val sibling = leafFiles("y=2025/m=2/dd=2")
    Seq((99999999L, 2025, 2, 1)).toDF("k", "y", "m", "dd")
      .writeTo("graft_ml_spec.t").overwritePartitions()
    assert(leafFiles("y=2025/m=2/dd=2") === sibling,
      "dynamic overwrite must not touch sibling leaves")
    assert(spark.table("graft_ml_spec.t")
      .filter(col("y") === 2025 && col("m") === 2 && col("dd") === 1)
      .collect().map(_.getLong(0)).toSeq === Seq(99999999L),
      "the rewritten leaf carries exactly the recomputed rows")
    assert(spark.table("graft_ml_spec.t").count() === 8)
    // SUBSET static overwrite: m=1 clears January of EVERY year (4
    // leaves), replaced by the two rows this write carries — the
    // equality conjunction needn't name every partition column
    Seq((1L, 2024, 1, 1), (2L, 2025, 1, 1)).toDF("k", "y", "m", "dd")
      .writeTo("graft_ml_spec.t").overwrite(col("m") === 1)
    val after = spark.table("graft_ml_spec.t")
    assert(after.filter(col("m") === 1).count() === 2,
      "m=1 subset overwrite replaces all four January leaves")
    assert(after.count() === 6)
    assert(!new File(s"$root/t/y=2024/m=1/dd=2").exists,
      "cleared leaves (and their emptied parents, if any) are gone")
    // multi-col readBack round-trips the manifest's partition values
    val rb = graft.sources.PartitionedSink.readBackParts(spark, s"$root/t",
      StructType(Seq(StructField("k", LongType))),
      Seq("y" -> IntegerType, "m" -> IntegerType, "dd" -> IntegerType))
    assert(rb.collect().map(_.getLong(0)).toSet ===
      after.collect().map(_.getLong(0)).toSet)
    spark.sql("DROP TABLE graft_ml_spec.t")
  }

  test("data-column min/max skipping: a selective range predicate opens strictly fewer files") {
    import spark.implicits._
    val root = tmpDir("sink_skip")
    spark.conf.set("spark.sql.catalog.graft_skip_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_skip_spec.root", root)
    def batch(ks: Seq[Option[Long]]) = ks.zipWithIndex
      .map { case (k, i) => (k, i * 0.5, s"s$i", "A") }
      .toDF("k", "v", "s", "p").coalesce(1)
    // three appends with DISJOINT k ranges (one file each), plus a
    // fourth whose k column is entirely NULL
    batch((1L to 10L).map(Some(_)))
      .writeTo("graft_skip_spec.t").partitionedBy(col("p")).create()
    batch((11L to 20L).map(Some(_))).writeTo("graft_skip_spec.t").append()
    batch((21L to 30L).map(Some(_))).writeTo("graft_skip_spec.t").append()
    batch(Seq(None, None)).writeTo("graft_skip_spec.t").append()
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val all = spark.table("graft_skip_spec.t")
    assert(splits(all) === 4, "unfiltered scan reads every file")
    // k > 25 can only live in the third file: the two low-range files
    // AND the all-NULL file are provably excluded by their stats
    val hi = spark.table("graft_skip_spec.t").filter(col("k") > 25L)
    assert(splits(hi) === 1,
      "a selective range predicate must open exactly the one file " +
        "whose recorded min/max intersects it")
    assert(hi.collect().map(_.getLong(0)).sorted.toSeq === (26L to 30L),
      "skipping must not change results")
    // a straddling predicate keeps both touched files, drops the rest
    val mid = spark.table("graft_skip_spec.t")
      .filter(col("k") >= 8L && col("k") <= 13L)
    assert(splits(mid) === 2, "range straddling two files opens exactly those")
    assert(mid.count() === 6)
    // equality and IN prune the same way
    assert(splits(spark.table("graft_skip_spec.t")
      .filter(col("k") === 15L)) === 1)
    assert(splits(spark.table("graft_skip_spec.t")
      .filter(col("k").isin(2L, 4L))) === 1)
    // the skip is visible in the plan (explain pin)
    assert(hi.queryExecution.executedPlan.toString.contains("FileSkipFilters"),
      "the scan must surface its file-skip filters in explain output")
    // POST-PRUNING EXACT row counts, straight from the publish
    // manifests (each writer counted its rows): the full scan reports
    // all 32, the skipped scan only the surviving file's 10
    def numRows(df: org.apache.spark.sql.DataFrame): java.util.OptionalLong =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[
            org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics().numRows()
      }.head
    assert(numRows(spark.table("graft_skip_spec.t")).getAsLong === 32L)
    assert(numRows(hi).getAsLong === 10L,
      "numRows must reflect the post-skip view")
    // floating-point column skips too; NULL rows never satisfy v>x so
    // the all-null-k file's v values still count (its stats are per
    // column): v ranges overlap across files here, so only prove rows
    val vq = spark.table("graft_skip_spec.t").filter(col("v") > 4.0)
    assert(vq.collect().map(_.getDouble(1)).forall(_ > 4.0))
    spark.sql("DROP TABLE graft_skip_spec.t")
  }

  test("string min/max skipping: prefix bounds prune string-banded files, binary UTF-8 order") {
    import spark.implicits._
    val root = tmpDir("sink_sskip")
    spark.conf.set("spark.sql.catalog.graft_ss_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ss_spec.root", root)
    def batch(ss: Seq[String]) = ss.zipWithIndex
      .map { case (s, i) => (i.toLong, s, "A") }
      .toDF("k", "s", "p").coalesce(1)
    // three appends in DISJOINT string bands (one file each), plus an
    // all-NULL band
    batch(Seq("apple", "apricot", "avocado"))
      .writeTo("graft_ss_spec.t").partitionedBy(col("p")).create()
    batch(Seq("mango", "melon", "nectarine")).writeTo("graft_ss_spec.t").append()
    batch(Seq("tomato", "ugli", "yuzu")).writeTo("graft_ss_spec.t").append()
    batch(Seq(null, null)).writeTo("graft_ss_spec.t").append()
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val t = spark.table("graft_ss_spec.t")
    assert(splits(t) === 4, "unfiltered scan reads every file")
    // s > 'pear' can only live in the third band; the all-NULL file is
    // provably excluded for any comparison
    val hi = t.filter(col("s") > "pear")
    assert(splits(hi) === 1,
      "a string range predicate must open exactly the one file whose " +
        "recorded prefix bounds intersect it")
    assert(hi.collect().map(_.getString(1)).sorted.toSeq ===
      Seq("tomato", "ugli", "yuzu"), "skipping must not change results")
    // straddling, equality and IN prune the same way
    assert(splits(t.filter(col("s") >= "avocado" && col("s") <= "melon")) === 2)
    assert(splits(t.filter(col("s") === "mango")) === 1)
    assert(splits(t.filter(col("s").isin("apple", "apricot"))) === 1)
    spark.sql("DROP TABLE graft_ss_spec.t")
  }

  test("string bound truncation is exclusion-safe: a 16-code-point prefix never proves what it can't") {
    import spark.implicits._
    val root = tmpDir("sink_strunc")
    spark.conf.set("spark.sql.catalog.graft_tr_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tr_spec.root", root)
    // every value shares a 16-char prefix and differs beyond it: the
    // recorded bounds are prefix-truncated, so naive (untruncated) max
    // handling would record "prefix_16_chars_" + tail and equality
    // probes between the true max and the incremented bound would
    // wrongly skip. The writer must widen: min = prefix, max =
    // prefix with last code point incremented.
    val p16 = "prefix_16_chars_" // exactly 16 chars
    Seq((1L, p16 + "aaa", "A"), (2L, p16 + "mmm", "A"), (3L, p16 + "zzz", "A"))
      .toDF("k", "s", "p").coalesce(1)
      .writeTo("graft_tr_spec.t").partitionedBy(col("p")).create()
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val t = spark.table("graft_tr_spec.t")
    // values INSIDE the widened range but absent from the file: must
    // SCAN (the truncated bound cannot prove their absence) and return
    // zero rows post-filter — kept split, correct empty result
    for (probe <- Seq(p16 + "zzzz", p16 + "zz{", p16 + "￿")) {
      val q = t.filter(col("s") === probe)
      assert(splits(q) === 1,
        s"equality on '$probe' (beyond the true max, inside the " +
          "widened bound) must keep the file — a skip here would be " +
          "the truncation proving an exclusion it can't")
      assert(q.count() === 0)
    }
    // a value BELOW the prefix min is provably absent: skip is sound
    assert(splits(t.filter(col("s") === "prefix_15_nope")) === 0)
    // and a value strictly past the INCREMENTED prefix bound
    // ("prefix_16_chars`" — backtick = '_' + 1, which exceeds every
    // value sharing the underscore prefix) is provably absent
    assert(splits(t.filter(col("s") > "prefix_16_chars`")) === 0)
    // exact-equality on present values still matches
    assert(t.filter(col("s") === (p16 + "mmm")).count() === 1)
    spark.sql("DROP TABLE graft_tr_spec.t")
  }

  test("clusterBy before a publish tightens file bounds: sorted publishes skip strictly more") {
    import spark.implicits._
    val root = tmpDir("sink_cluster")
    spark.conf.set("spark.sql.catalog.graft_cl_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cl_spec.root", root)
    val rows = scala.util.Random.shuffle((1L to 3000L).toList)
      .map(k => (k, "A")).toDF("k", "p")
    // UNSORTED publish: round-robin repartition smears k's range
    // across every file — recorded bounds exclude nothing
    rows.repartition(4)
      .writeTo("graft_cl_spec.unsorted").partitionedBy(col("p")).create()
    // CLUSTERED publish of identical data: each task (hence file)
    // covers one narrow k band
    graft.ops.Layout.clusterBy(rows, Seq(col("k")), Some(4))
      .writeTo("graft_cl_spec.sorted").partitionedBy(col("p")).create()
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val pred = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("k") > 2600L)
    val un = splits(pred(spark.table("graft_cl_spec.unsorted")))
    val so = splits(pred(spark.table("graft_cl_spec.sorted")))
    assert(un === 4, s"unsorted files all straddle the predicate, got $un")
    assert(so === 1,
      s"the clustered publish must confine k > 2600 to one file, got $so")
    assert(pred(spark.table("graft_cl_spec.sorted")).count() === 400)
    assert(pred(spark.table("graft_cl_spec.unsorted")).count() === 400)
    spark.sql("DROP TABLE graft_cl_spec.sorted")
    spark.sql("DROP TABLE graft_cl_spec.unsorted")
  }

  test("tableChanges: a dynamic overwrite reads as delete+insert of exactly the rewritten partition") {
    import spark.implicits._
    val root = tmpDir("sink_cdc")
    spark.conf.set("spark.sql.catalog.graft_cdc_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdc_spec.root", root)
    spark.conf.set("spark.sql.catalog.graft_cdc_spec.versioned", "true")
    def df(rows: (Long, Double, String, String)*) =
      rows.toSeq.toDF("k", "v", "s", "p")
    df((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B"), (3L, 3.0, "c", "B"))
      .writeTo("graft_cdc_spec.t").partitionedBy(col("p")).create() // v1
    df((9L, 9.0, "z", "B"))
      .writeTo("graft_cdc_spec.t").overwritePartitions()            // v2
    df((4L, 4.0, "d", "C")).writeTo("graft_cdc_spec.t").append()    // v3
    val feed12 = graft.ops.Compaction
      .tableChanges(spark, "graft_cdc_spec", "t", 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4)))
      .toSet
    assert(feed12 === Set((2L, "B", "delete"), (3L, "B", "delete"),
      (9L, "B", "insert")),
      "the overwrite's feed is delete+insert of partition B ONLY — " +
        "untouched A must not appear")
    // an append's feed is pure inserts
    val feed23 = graft.ops.Compaction
      .tableChanges(spark, "graft_cdc_spec", "t", 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4)))
      .toSet
    assert(feed23 === Set((4L, "C", "insert")))
    // the full span composes: v1 → v3
    val feed13 = graft.ops.Compaction
      .tableChanges(spark, "graft_cdc_spec", "t", 1L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(feed13 === Set((2L, "delete"), (3L, "delete"),
      (9L, "insert"), (4L, "insert")))
    spark.sql("DROP TABLE graft_cdc_spec.t")
  }

  test("byte-range splits: every threshold reads every row exactly once; carving drops key grouping") {
    import spark.implicits._
    val root = tmpDir("sink_ranged")
    spark.conf.set("spark.sql.catalog.graft_rg_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rg_spec.root", root)
    // one file per partition, rows of VARYING byte lengths (strings of
    // growing width) so range boundaries land at every relative offset
    val rows = (1L to 200L).map(k => (k, "x" * (k % 17).toInt, "A")) ++
      (201L to 300L).map(k => (k, "y" * (k % 11).toInt, "B"))
    rows.toDF("k", "s", "p").coalesce(1)
      .writeTo("graft_rg_spec.t").partitionedBy(col("p")).create()
    val expected = rows.map { case (k, s, p) => (k, s, p) }.toSet
    def read() = spark.table("graft_rg_spec.t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    try {
      // the classic boundary sweep: prime-ish thresholds place the
      // range cut at line starts, line ends, and every mid-line offset
      for (threshold <- Seq(7, 23, 64, 301, 999)) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", threshold.toString)
        assert(read() === expected,
          s"threshold=$threshold must read every row exactly once")
        assert(splits(spark.table("graft_rg_spec.t")) > 2,
          s"threshold=$threshold must carve multiple ranges")
      }
      // carved scans must NOT report key-grouped clustering (grouping
      // would re-serialize the ranges into one task per value): the
      // row-RDD partition count exceeds the 2 partition values
      spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
      assert(spark.table("graft_rg_spec.t").rdd.getNumPartitions > 2,
        "carved ranges must execute in parallel, not one task per value")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // default threshold: whole files, key grouping restored
    assert(splits(spark.table("graft_rg_spec.t")) === 2)
    assert(spark.table("graft_rg_spec.t").rdd.getNumPartitions === 2)
    assert(read() === expected)
    spark.sql("DROP TABLE graft_rg_spec.t")
  }

  test("float-column skipping renders bounds at FLOAT precision: equality on an inexact float never mis-skips") {
    import spark.implicits._
    val root = tmpDir("sink_fskip")
    spark.conf.set("spark.sql.catalog.graft_fs_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_fs_spec.root", root)
    // 0.1f is not exactly representable: widened to double it prints
    // "0.10000000149011612" while the float literal prints "0.1" —
    // bounds stored at double precision would make the EqualTo skip
    // "prove" 0.1 < min and drop the very file holding the matches
    Seq((1L, 0.1f, "A"), (2L, 0.1f, "A")).toDF("k", "f", "p")
      .coalesce(1).writeTo("graft_fs_spec.t").partitionedBy(col("p")).create()
    val eq = spark.table("graft_fs_spec.t").filter(col("f") === 0.1f)
    assert(eq.count() === 2L,
      "a file whose every row equals the literal must never be skipped")
    val gt = spark.table("graft_fs_spec.t").filter(col("f") > 0.05f)
    assert(gt.count() === 2L)
    assert(spark.table("graft_fs_spec.t").filter(col("f") > 0.2f).count() === 0L)
    spark.sql("DROP TABLE graft_fs_spec.t")
  }

  test("streaming READ: readStream.table tails the layout, appended batches arrive exactly once") {
    import spark.implicits._
    val root = tmpDir("sink_tail")
    spark.conf.set("spark.sql.catalog.graft_tail_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tail_spec.root", root)
    Seq((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B")).toDF("k", "v", "s", "p")
      .writeTo("graft_tail_spec.t").partitionedBy(col("p")).create()
    val ckpt = tmpDir("sink_tail_ck")
    val q = spark.readStream.table("graft_tail_spec.t")
      .writeStream.format("memory").queryName("sinktail")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .start()
    // a filtered tail: a partition and a data predicate above the stream
    val qf = spark.readStream.table("graft_tail_spec.t")
      .filter(col("p") === "A" && col("v") > 1.5)
      .writeStream.format("memory").queryName("sinktailf")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", tmpDir("sink_tail_ckf"))
      .start()
    try {
      q.processAllAvailable()
      qf.processAllAvailable()
      def got(name: String = "sinktail") = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getString(3))).toSet
      assert(got() === Set((1L, "A"), (2L, "B")), "initial layout arrives")
      assert(got("sinktailf").isEmpty, "no initial row matches the filter")
      // a later append surfaces as a new micro-batch, exactly once
      Seq((3L, 3.0, "c", "A"), (4L, 4.0, "d", "C")).toDF("k", "v", "s", "p")
        .writeTo("graft_tail_spec.t").append()
      q.processAllAvailable()
      qf.processAllAvailable()
      assert(got() === Set((1L, "A"), (2L, "B"), (3L, "A"), (4L, "C")),
        "appended files arrive once — no replays, no misses")
      // (1, A) fails the data predicate, (2, B) and (4, C) the partition one
      assert(spark.table("sinktailf").count() === 1 &&
        got("sinktailf") === Set((3L, "A")),
        "the filtered tail returns exactly the matching row")
      // quiescence: nothing new ⇒ no duplicate emission
      q.processAllAvailable()
      assert(spark.table("sinktail").count() === 4)
      // OFFSET COMPACTION: the checkpointed offset is a generation
      // number, CONSTANT in table file count (the old encoding grew
      // O(files) per trigger) — the file lists live in the source's
      // immutable per-generation log instead
      val offDir = new File(s"$ckpt/offsets")
      val newest = offDir.listFiles()
        .filter(f => f.isFile && f.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      val offLine = scala.io.Source.fromFile(newest, "UTF-8")
        .getLines().toSeq.last
      assert(offLine.matches("""\{"gen":\d+\}"""),
        s"offset must be a compact generation number, got: $offLine")
    } finally { q.stop(); qf.stop() }
    spark.sql("DROP TABLE graft_tail_spec.t")
  }

  test("streaming READ after RENAME COLUMN: pre-rename files serve the new name") {
    import spark.implicits._
    val root = tmpDir("sink_tail_rn")
    spark.conf.set("spark.sql.catalog.graft_tailrn_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tailrn_spec.root", root)
    Seq((1L, "a", "A"), (2L, "b", "B")).toDF("k", "s", "p")
      .writeTo("graft_tailrn_spec.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_tailrn_spec.t RENAME COLUMN s TO label")
    Seq((3L, "c", "A")).toDF("k", "label", "p")
      .writeTo("graft_tailrn_spec.t").append()
    val q = spark.readStream.table("graft_tailrn_spec.t")
      .writeStream.format("memory").queryName("sinktailrn")
      .option("checkpointLocation", tmpDir("sink_tail_rn_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("sinktailrn").select("k", "label", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      Set((1L, "a", "A"), (2L, "b", "B"), (3L, "c", "A")),
      "the tail must resolve the renamed column by field id")
    spark.sql("DROP TABLE graft_tailrn_spec.t")
  }

  test("per-file stats ride the version manifest: no per-leaf stats files, skipping prunes") {
    import spark.implicits._
    val root = tmpDir("sink_statmf")
    spark.conf.set("spark.sql.catalog.graft_sc_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sc_spec.root", root)
    def batch(ks: Seq[Long]) = ks.map(k => (k, "A")).toDF("k", "p").coalesce(1)
    batch(1L to 10L)
      .writeTo("graft_sc_spec.t").partitionedBy(col("p")).create()
    batch(11L to 20L).writeTo("graft_sc_spec.t").append()
    batch(21L to 30L).writeTo("graft_sc_spec.t").append()
    assert(new File(s"$root/t/p=A").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // checksum sidecars
      .forall(_.endsWith(".parquet")), "a leaf holds data files only")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sessionState.newHadoopConf())
    val entries = graft.sources.SinkVersions.readLatest(fs, s"$root/t")
      .get.entries
    assert(entries.map(e => (e.rows, e.cols("k"))).toSet === Set(
      (10L, Some(("1", "10"))), (10L, Some(("11", "20"))),
      (10L, Some(("21", "30")))))
    assert(entries.forall(e =>
      e.size == new File(s"$root/t/${e.rel}").length()))
    // k > 25 opens exactly one file
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.head
    val hi = spark.table("graft_sc_spec.t").filter(col("k") > 25L)
    assert(splits(hi) === 1 && hi.count() === 5)
    spark.sql("DROP TABLE graft_sc_spec.t")
  }

  test("VERSION AS OF: snapshots survive overwrites, SQL + reader-option travel, vacuum reclaims") {
    import spark.implicits._
    val root = tmpDir("sink_tt")
    spark.conf.set("spark.sql.catalog.graft_tt_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt_spec.root", root)
    spark.conf.set("spark.sql.catalog.graft_tt_spec.versioned", "true")
    def df(rows: (Long, Double, String, String)*) =
      rows.toSeq.toDF("k", "v", "s", "p")
    df((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B"))
      .writeTo("graft_tt_spec.t").partitionedBy(col("p")).create() // v1
    df((3L, 3.0, "c", "A")).writeTo("graft_tt_spec.t").append()    // v2
    df((9L, 9.0, "z", "A"))
      .writeTo("graft_tt_spec.t").overwritePartitions()            // v3
    def at(v: Int) = spark.read.option("versionAsOf", v.toString)
      .table("graft_tt_spec.t")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(at(1) === Set((1L, "A"), (2L, "B")), "the creation snapshot")
    assert(at(2) === Set((1L, "A"), (2L, "B"), (3L, "A")), "post-append")
    assert(at(3) === Set((9L, "A"), (2L, "B")),
      "the overwrite snapshot: A replaced, B untouched")
    def latest() = spark.table("graft_tt_spec.t")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(latest() === at(3),
      "the un-travelled read is the latest snapshot — retired files " +
        "stay on disk but must be invisible")
    // SQL surface
    assert(spark.sql("SELECT k FROM graft_tt_spec.t VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // partition pruning composes with travel
    assert(spark.read.option("versionAsOf", "2").table("graft_tt_spec.t")
      .filter(col("p") === "A").count() === 2)
    // vacuum to the latest only: two manifests expire — but the retired
    // data files are YOUNGER than the publish-window age floor, so the
    // first pass must leave them on disk (a publish renames data files
    // BEFORE committing its manifest; deleting young unreferenced files
    // would race that window and tear the incoming snapshot)
    val (manifests, young) = graft.ops.Compaction.vacuumVersions(
      spark, "graft_tt_spec", "t", keepLast = 1)
    assert(manifests === 2 && young === 0,
      s"expected 2 manifests expired and ZERO young files reclaimed, " +
        s"got ($manifests, $young)")
    // simulate the mid-publish window explicitly: a data file renamed
    // into place whose manifest has not landed yet — it must survive
    // every vacuum pass below
    val inFlight = new File(s"$root/t/p=A/part-inflight-0-0-A.tsv")
    java.nio.file.Files.write(inFlight.toPath, "7\t7.0\tw\n".getBytes("UTF-8"))
    // age every OTHER data file past the floor: the two files retired
    // by the overwrite (v1's create + v2's append) become reclaimable
    val aged = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    for (p <- Seq("A", "B");
         f <- Option(new File(s"$root/t/p=$p").listFiles()).toSeq.flatten
         if f.isFile && !f.getName.startsWith(".") &&
           !f.getName.startsWith("_") && f.getName != inFlight.getName)
      assert(f.setLastModified(aged))
    val (m2, reclaimed) = graft.ops.Compaction.vacuumVersions(
      spark, "graft_tt_spec", "t", keepLast = 1)
    assert(m2 === 0 && reclaimed === 2,
      s"expected exactly the two AGED retired files reclaimed, " +
        s"got ($m2, $reclaimed)")
    assert(inFlight.exists(),
      "a young unreferenced file (mid-publish window) must survive vacuum")
    inFlight.delete()
    assert(latest() === Set((9L, "A"), (2L, "B")),
      "vacuum must not touch the retained snapshot's files")
    val e = intercept[Exception](at(1))
    assert(e.getMessage.contains("version"),
      s"travel to a vacuumed version must fail loudly, got: $e")
    spark.sql("DROP TABLE graft_tt_spec.t")
  }

  test("TIMESTAMP AS OF resolves to the newest commit at-or-before the " +
    "instant — SQL and reader-option renditions; pre-history travel fails loudly") {
    import spark.implicits._
    val root = tmpDir("sink_ts_travel")
    spark.conf.set("spark.sql.catalog.graft_ts_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ts_spec.root", root)
    spark.conf.set("spark.sql.catalog.graft_ts_spec.versioned", "true")
    Seq((1L, "A"), (2L, "B")).toDF("k", "p")
      .writeTo("graft_ts_spec.t").partitionedBy(col("p")).create() // v1
    Thread.sleep(5) // distinct wall clocks at millis grain
    Seq((3L, "A")).toDF("k", "p").writeTo("graft_ts_spec.t").append() // v2
    val hist = graft.ops.Compaction.tableHistory(spark, "graft_ts_spec", "t")
      .collect().map(r => r.getLong(0) -> r.getAs[java.lang.Long](3)).toMap
    assert(hist.keySet === Set(1L, 2L))
    val (ts1, ts2) = (hist(1L).longValue, hist(2L).longValue)
    assert(ts1 < ts2, "commit timestamps must be increasing")
    def render(ms: Long): String = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    // exact instant of v1 → v1; exact instant of v2 (and later) → v2
    assert(ks(spark.sql(
      s"SELECT * FROM graft_ts_spec.t TIMESTAMP AS OF '${render(ts1)}'"))
      === Set(1L, 2L))
    assert(ks(spark.sql(
      s"SELECT * FROM graft_ts_spec.t TIMESTAMP AS OF '${render(ts2)}'"))
      === Set(1L, 2L, 3L))
    // reader-option rendition
    assert(ks(spark.read.option("timestampAsOf", render(ts1))
      .table("graft_ts_spec.t")) === Set(1L, 2L))
    // between the two commits → still v1
    if (ts2 - ts1 > 1)
      assert(ks(spark.read.option("timestampAsOf", render(ts1 + 1))
        .table("graft_ts_spec.t")) === Set(1L, 2L))
    // before the first commit → loud failure, not an empty table
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ts_spec.t TIMESTAMP AS OF " +
        s"'${render(ts1 - 1000)}'").collect()
    }
    assert(e.getMessage.contains("at or before"),
      s"pre-history travel must fail loudly: ${e.getMessage}")
    spark.sql("DROP TABLE graft_ts_spec.t")
  }

  test("streaming READ of a VERSIONED table: tail follows the manifest, retired files never re-enter") {
    import spark.implicits._
    val root = tmpDir("sink_vtail")
    spark.conf.set("spark.sql.catalog.graft_vt_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_vt_spec.root", root)
    spark.conf.set("spark.sql.catalog.graft_vt_spec.versioned", "true")
    Seq((1L, 1.0, "a", "A"), (2L, 2.0, "b", "B")).toDF("k", "v", "s", "p")
      .writeTo("graft_vt_spec.t").partitionedBy(col("p")).create() // v1
    val q = spark.readStream.table("graft_vt_spec.t")
      .writeStream.format("memory").queryName("vtail")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", tmpDir("sink_vtail_ck"))
      .start()
    try {
      q.processAllAvailable()
      def got() = spark.table("vtail")
        .collect().map(r => (r.getLong(0), r.getString(3))).toSet
      assert(got() === Set((1L, "A"), (2L, "B")))
      // an append lands as a new batch (v2)
      Seq((3L, 3.0, "c", "A")).toDF("k", "v", "s", "p")
        .writeTo("graft_vt_spec.t").append()
      q.processAllAvailable()
      assert(got() === Set((1L, "A"), (2L, "B"), (3L, "A")))
      // an overwrite (v3) RETIRES A's files — they stay on disk, but
      // the tail must neither re-emit them nor miss the replacement
      Seq((9L, 9.0, "z", "A")).toDF("k", "v", "s", "p")
        .writeTo("graft_vt_spec.t").overwritePartitions()
      q.processAllAvailable()
      assert(got() === Set((1L, "A"), (2L, "B"), (3L, "A"), (9L, "A")),
        "the replacement file arrives once; retired files are not " +
          "re-delivered even though they remain on disk")
      q.processAllAvailable()
      assert(spark.table("vtail").count() === 4, "quiescent: no replays")
    } finally q.stop()
    spark.sql("DROP TABLE graft_vt_spec.t")
  }

  test("a versioned catalog's commit makes a latest-only table keep its history from then on") {
    import spark.implicits._
    val root = tmpDir("sink_boot")
    // same root through two catalog names (catalog instances are
    // cached per session — a conf flip after first use would not
    // reinitialize): boot1 keeps only the latest version, boot2
    // keeps history
    spark.conf.set("spark.sql.catalog.graft_boot1",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_boot1.root", root)
    spark.conf.set("spark.sql.catalog.graft_boot2",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_boot2.root", root)
    spark.conf.set("spark.sql.catalog.graft_boot2.versioned", "true")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sessionState.newHadoopConf())
    def versions() = graft.sources.SinkVersions.list(fs, s"$root/t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(3))).toSet
    Seq((1L, 1.0, "old", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_boot1.t").partitionedBy(col("p")).create()
    Seq((2L, 2.0, "older", "B")).toDF("k", "v", "s", "p")
      .writeTo("graft_boot1.t").append()
    assert(versions() === Seq(2L), "latest-only: version 1 retired")
    // first VERSIONED publish: its snapshot carries the table, and no
    // version is retired from here on
    Seq((3L, 3.0, "new", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_boot2.t").append()
    assert(versions() === Seq(2L, 3L))
    assert(rows(spark.table("graft_boot2.t"))
      === Set((1L, "A"), (2L, "B"), (3L, "A")))
    // overwrites retire logically, through either catalog (sticky)
    Seq((9L, 9.0, "z", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_boot2.t").overwritePartitions()
    Seq((8L, 8.0, "y", "B")).toDF("k", "v", "s", "p")
      .writeTo("graft_boot1.t").overwritePartitions()
    assert(versions() === Seq(2L, 3L, 4L, 5L))
    assert(rows(spark.table("graft_boot2.t")) === Set((9L, "A"), (8L, "B")))
    assert(rows(spark.read.option("versionAsOf", "3").table("graft_boot2.t"))
      === Set((1L, "A"), (2L, "B"), (3L, "A")),
      "the first versioned snapshot survives later overwrites")
    spark.sql("DROP TABLE graft_boot2.t")
  }

  test("ALTER TABLE ADD COLUMNS: old files read the new column as NULL, new appends carry it") {
    import spark.implicits._
    val root = tmpDir("sink_evolve")
    spark.conf.set("spark.sql.catalog.graft_ev_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ev_spec.root", root)
    Seq((1L, 1.0, "a", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_ev_spec.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_ev_spec.t ADD COLUMNS (note STRING)")
    // catalog metadata evolved
    assert(spark.table("graft_ev_spec.t").columns.toSeq ===
      Seq("k", "v", "s", "p", "note"))
    // new append writes the wider row
    Seq((2L, 2.0, "b", "B", "fresh")).toDF("k", "v", "s", "p", "note")
      .writeTo("graft_ev_spec.t").append()
    val got = spark.table("graft_ev_spec.t")
      .collect().map(r => (r.getLong(0), Option(r.getString(4)))).toSet
    assert(got === Set((1L, None), (2L, Some("fresh"))),
      "pre-evolution files read the added column as NULL; no rewrite")
    // DROP works on the (default) parquet format — the column's field
    // id retires and old files' cells for it are simply never requested
    spark.sql("ALTER TABLE graft_ev_spec.t DROP COLUMN s")
    assert(spark.table("graft_ev_spec.t").columns.toSeq ===
      Seq("k", "v", "p", "note"))
    assert(spark.table("graft_ev_spec.t").count() === 2,
      "pre-drop files still read after the drop")
    spark.sql("DROP TABLE graft_ev_spec.t")
  }

  test("TSV-format tables reject RENAME/DROP COLUMN loudly; parquet " +
    "tables resolve renamed columns in pre-rename files by field id") {
    import spark.implicits._
    val root = tmpDir("sink_evolve_fmt")
    spark.conf.set("spark.sql.catalog.graft_evf_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evf_spec.root", root)
    // a table whose sidecar still records the retired TSV format has
    // data files nothing reads: rename/drop must reject, naming why
    Seq((1L, "a", "A")).toDF("k", "s", "p")
      .writeTo("graft_evf_spec.tsv_t").partitionedBy(col("p")).create()
    stampFormat(s"$root/tsv_t", "tsv")
    for (ddl <- Seq("RENAME COLUMN s TO s2", "DROP COLUMN s")) {
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE graft_evf_spec.tsv_t $ddl") }
      assert(e.getMessage.contains("TSV data files are no longer readable"),
        s"$ddl: ${e.getMessage}")
    }
    // rename, then read back PRE-rename files via id
    Seq((1L, "before", 1.0, "A"), (2L, "before2", 2.0, "B"))
      .toDF("k", "s", "v", "p")
      .writeTo("graft_evf_spec.pq_t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_evf_spec.pq_t RENAME COLUMN s TO label")
    Seq((3L, "after", 3.0, "A")).toDF("k", "label", "v", "p")
      .writeTo("graft_evf_spec.pq_t").append()
    val all = spark.table("graft_evf_spec.pq_t")
      .select("k", "label").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(all === Set((1L, "before"), (2L, "before2"), (3L, "after")),
      "pre-rename files must serve the renamed column through its field id")
    // partition columns anchor the directory layout — never renameable
    val eP = intercept[Exception] {
      spark.sql("ALTER TABLE graft_evf_spec.pq_t RENAME COLUMN p TO q") }
    assert(eP.getMessage.contains("partition column"))
    // the engine-managed registry is not a user knob
    val eProp = intercept[Exception] {
      spark.sql("ALTER TABLE graft_evf_spec.pq_t SET TBLPROPERTIES " +
        "('graft.fieldIds' = '1:boom')") }
    assert(eProp.getMessage.contains("not user-settable"))
    spark.sql("DROP TABLE graft_evf_spec.pq_t")
  }

  test("DROP then re-ADD of a column name: old files read NULL, never the retired column's data") {
    import spark.implicits._
    val root = tmpDir("sink_evolve_readd")
    spark.conf.set("spark.sql.catalog.graft_evr_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evr_spec.root", root)
    Seq((1L, "retired", "A")).toDF("k", "s", "p")
      .writeTo("graft_evr_spec.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_evr_spec.t DROP COLUMN s")
    spark.sql("ALTER TABLE graft_evr_spec.t ADD COLUMNS (s STRING)")
    Seq((2L, "A", "fresh")).toDF("k", "p", "s")
      .writeTo("graft_evr_spec.t").append()
    // the old file's `s` cells belong to the RETIRED field id — a
    // by-name fallback would resurrect "retired" into the new column
    val got = spark.table("graft_evr_spec.t")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(got === Set((1L, None), (2L, Some("fresh"))),
      "re-added column must read NULL from pre-drop files (ids differ)")
    // and the row-group skipper must not prove exclusions off the
    // retired column's footer stats: an equality on the OLD value
    // keeps nothing (decode reads NULL), an equality on the new value
    // still finds the fresh row
    assert(spark.table("graft_evr_spec.t")
      .filter(col("s") === "retired").count() === 0L)
    assert(spark.table("graft_evr_spec.t")
      .filter(col("s") === "fresh").collect().map(_.getLong(0)).toSeq
      === Seq(2L))
    // RENAME away, then re-ADD the old name: same rule through the
    // rename path (the old files' `v` id now belongs to `v2`)
    spark.sql("ALTER TABLE graft_evr_spec.t RENAME COLUMN s TO s2")
    spark.sql("ALTER TABLE graft_evr_spec.t ADD COLUMNS (s STRING)")
    val after = spark.table("graft_evr_spec.t")
      .select("k", "s2", "s").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .toSet
    assert(after === Set((1L, None, None), (2L, Some("fresh"), None)),
      "renamed column keeps serving via its id; the re-added name is NULL everywhere")
    spark.sql("DROP TABLE graft_evr_spec.t")
  }

  test("ALTER COLUMN TYPE: safe widens span file generations; narrows, partition cols and TSV reject") {
    import spark.implicits._
    val root = tmpDir("sink_widen")
    spark.conf.set("spark.sql.catalog.graft_wid_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wid_spec.root", root)
    Seq((1, 1.5f, "A"), (2, 2.5f, "B")).toDF("k", "v", "p")
      .writeTo("graft_wid_spec.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_wid_spec.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft_wid_spec.t ALTER COLUMN v TYPE DOUBLE")
    // post-widen files carry INT64/DOUBLE; pre-widen files decode-cast
    Seq((3000000000L, 3.5d, "A")).toDF("k", "v", "p")
      .writeTo("graft_wid_spec.t").append()
    def readAll() = spark.table("graft_wid_spec.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = Set((1L, 1.5), (2L, 2.5), (3000000000L, 3.5))
    assert(readAll() === want, "widened reads span both file generations")
    // a projection and a key probe decode the widened columns alone
    assert(spark.table("graft_wid_spec.t").select("v").collect()
      .map(_.getDouble(0)).toSet === want.map(_._2))
    assert(spark.table("graft_wid_spec.t").filter(col("k") === 2L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((2L, 2.5)))
    // file-skip/row-group stats still prove through the widened type
    assert(spark.table("graft_wid_spec.t")
      .filter(col("k") > 2000000000L).count() === 1L)
    // narrows reject in Catalyst's own upcast gate before reaching the
    // catalog; cross-kind retypes Catalyst allows (double→string is an
    // upcast) reject in the catalog's safe-widen gate
    val eN = intercept[Exception] {
      spark.sql("ALTER TABLE graft_wid_spec.t ALTER COLUMN k TYPE INT") }
    assert(eN.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      eN.getMessage)
    val eX = intercept[Exception] {
      spark.sql("ALTER TABLE graft_wid_spec.t ALTER COLUMN v TYPE STRING") }
    assert(eX.getMessage.contains("safe widening"), eX.getMessage)
    // partition columns anchor the layout (their rendered values name
    // directories and key split planning)
    Seq((1, 7)).toDF("k", "p")
      .writeTo("graft_wid_spec.t2").partitionedBy(col("p")).create()
    val eP = intercept[Exception] {
      spark.sql("ALTER TABLE graft_wid_spec.t2 ALTER COLUMN p TYPE BIGINT") }
    assert(eP.getMessage.contains("partition column"), eP.getMessage)
    spark.sql("DROP TABLE graft_wid_spec.t2")
    // TSV is no longer a table format: CREATE rejects it
    val eT = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_wid_spec.tsv_t (k INT, p STRING)
        PARTITIONED BY (p) TBLPROPERTIES ('graft.format' = 'tsv')""") }
    assert(eT.getMessage.contains("graft.format is not an option"),
      eT.getMessage)
    spark.sql("DROP TABLE graft_wid_spec.t")
  }

  test("BINARY data columns: exact roundtrip on parquet; stats exclude them; TSV and partitioning reject") {
    import spark.implicits._
    val root = tmpDir("sink_binary")
    spark.conf.set("spark.sql.catalog.graft_bin_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bin_spec.root", root)
    // payloads exercise delimiter bytes, zero bytes, empties and NULL
    val payloads: Seq[(Long, Array[Byte], String)] = Seq(
      (1L, Array[Byte](0, 9, 10, 13, 92, -1, 127), "A"),
      (2L, Array.emptyByteArray, "A"),
      (3L, null, "B"),
      (4L, Array.tabulate(4096)(i => (i % 251).toByte), "B"))
    payloads.toDF("k", "payload", "p")
      .writeTo("graft_bin_spec.t").partitionedBy(col("p")).create()
    def readAll() = spark.table("graft_bin_spec.t").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Array[Byte]].toSeq)))
      .toMap
    val want = payloads.map { case (k, b, _) =>
      k -> Option(b).map(_.toSeq) }.toMap
    assert(readAll() === want, "binary payloads roundtrip byte-exactly")
    // the payload column alone, through a partition prune
    assert(spark.table("graft_bin_spec.t").filter(col("p") === "B")
      .select("payload").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Array[Byte]].toSeq))
      .toSet === Set(want(3L), want(4L)))
    // the manifest never records the binary column's bounds (a MB-sized
    // image has no meaningful min/max; k still skips)
    val fsb = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sessionState.newHadoopConf())
    val cols = graft.sources.SinkVersions.readLatest(fsb, s"$root/t").get
      .entries.map(_.cols)
    assert(cols.forall(_.contains("k")), "numeric columns keep their stats")
    assert(!cols.exists(_.contains("payload")),
      s"binary columns must carry no stats, got: $cols")
    // TSV is no longer a table format: CREATE rejects it, loudly
    val eT = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_bin_spec.tsv_t (k BIGINT, b BINARY,
        p STRING) PARTITIONED BY (p)
        TBLPROPERTIES ('graft.format' = 'tsv')""") }
    assert(eT.getMessage.contains("graft.format is not an option"),
      eT.getMessage)
    // binary can never partition (its rendering would name directories)
    val eP = intercept[Exception] {
      Seq((1L, Array[Byte](1))).toDF("k", "pb")
        .writeTo("graft_bin_spec.t2").partitionedBy(col("pb")).create() }
    assert(eP.getMessage.contains("cannot be BINARY"), eP.getMessage)
    spark.sql("DROP TABLE graft_bin_spec.t")
  }

  test("vacuumStaging removes only crashed-driver orphans past the age threshold") {
    import spark.implicits._
    val root = tmpDir("sink_vacuum")
    spark.conf.set("spark.sql.catalog.graft_vac_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_vac_spec.root", root)
    Seq((1L, 1.0, "a", "A")).toDF("k", "v", "s", "p")
      .writeTo("graft_vac_spec.t").partitionedBy(col("p")).create()
    // plant three: an ancient orphan (crashed driver last week — dir
    // AND file old), a fresh dir, and the long-running-job shape: dir
    // created long ago but a file written into it just now (liveness
    // is the NEWEST write anywhere under the dir, not the dir's mtime)
    val staging = new File(s"$root/t/_staging")
    val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    val old = new File(staging, "crashed-query"); old.mkdirs()
    val oldFile = new File(old, "part-0-1-A.tsv"); oldFile.createNewFile()
    oldFile.setLastModified(weekAgo)
    old.setLastModified(weekAgo)
    val fresh = new File(staging, "live-query"); fresh.mkdirs()
    val longRun = new File(staging, "long-running-query"); longRun.mkdirs()
    new File(longRun, "part-0-2-B.tsv").createNewFile() // written NOW
    longRun.setLastModified(weekAgo) // dir itself looks stale
    val removed = graft.ops.Compaction.vacuumStaging(
      spark, "graft_vac_spec", "t")
    assert(removed === Seq("crashed-query"))
    assert(!old.exists(), "the orphan is swept")
    assert(fresh.exists(), "a live job's staging is never swept")
    assert(longRun.exists(),
      "an early-created dir with a FRESH file inside is a live writer")
    // the age floor: olderThanMs=0 must not sweep anything fresh
    assert(graft.ops.Compaction.vacuumStaging(
      spark, "graft_vac_spec", "t", olderThanMs = 0L).isEmpty,
      "a zero threshold is floored, never sweeping recent staging")
    // published data untouched throughout
    assert(readBack(s"$root/t") === Set((1L, 1.0, "a", "A")))
    spark.sql("DROP TABLE graft_vac_spec.t")
  }

  // ---- encoding robustness: the layout's own syntax inside values ----

  test("strings containing delimiters, escapes, quotes and the NULL token round-trip losslessly") {
    val path = tmpDir("sink_esc")
    val hostile = Seq(
      "tab\there", "newline\nhere", "cr\rhere", "crlf\r\nboth",
      "back\\slash", "\\N",         // the literal NULL token as a VALUE
      "\\\\N", "trailing\\", "\"quoted\"", "\"", "lead\ttab\nand\\more",
      "", " ", "  padded  ", "\\t", "\\e", "plain")
    val rows = hostile.zipWithIndex.map { case (s, i) =>
      (i.toLong, i * 0.5, s, if (i % 2 == 0) "A" else "B") }
    write(df(rows: _*), path, "append")
    assert(readBack(path) === rows.toSet,
      "every delimiter/escape/quote/NULL-token string must round-trip " +
        "byte-exactly — and NULL (from the append test) stays distinct " +
        "from the empty string")
  }

  test("partition VALUES with path metacharacters round-trip via hive escaping") {
    val path = tmpDir("sink_escdir")
    val rows = Seq(
      (1L, 1.0, "a", "plain"),
      (2L, 2.0, "b", "has space"),
      (3L, 3.0, "c", "a/b=c%d"),    // '/', '=', '%' all path-hostile
      (4L, 4.0, "d", "colon:star*"))
    write(df(rows: _*), path, "append")
    assert(readBack(path) === rows.toSet)
    // the dirs on disk are hive-escaped (no raw '/' creating sub-dirs)
    val dirs = new File(path).listFiles().map(_.getName).toSet
    assert(dirs.contains("p=plain") && dirs.contains("p=has space"))
    assert(dirs.exists(d => d.startsWith("p=a") && !d.contains("/")),
      s"'/' in a partition value must be %%-escaped, got $dirs")
    // and dynamic overwrite still targets the escaped dir correctly
    val bw = batchWriteFor(path, "dynamic")
    val w = bw.createBatchWriterFactory(null).createWriter(0, 700L)
    w.write(internalRow(9L, 9.0, "z", "a/b=c%d"))
    bw.commit(Array(w.commit()))
    assert(readBack(path) === rows.filterNot(_._1 == 3L).toSet + ((9L, 9.0, "z", "a/b=c%d")),
      "dynamic overwrite must replace exactly the escaped-dir partition")
  }

  test("task abort deletes its staged files; job abort leaves the published layout untouched") {
    val path = tmpDir("sink_abort")
    write(df((1L, 1.0, "x", "A")), path, "append") // pre-existing data
    val bw = batchWriteFor(path, "truncate")
    val factory = bw.createBatchWriterFactory(null)
    val w1 = factory.createWriter(0, 200L)
    val w2 = factory.createWriter(1, 201L)
    w1.write(internalRow(5L, 5.0, "m", "A"))
    val m1 = w1.commit()
    w2.write(internalRow(6L, 6.0, "n", "B"))
    w2.abort() // this task failed mid-write
    assert(m1.isInstanceOf[org.apache.spark.sql.connector.write.WriterCommitMessage])
    bw.abort(Array(m1)) // then the whole job gave up
    assert(readBack(path) === Set((1L, 1.0, "x", "A")),
      "job abort must leave the published layout exactly as before " +
        "(even though the mode was truncate — truncation happens at " +
        "commit time, not submit time)")
    assert(!new File(path, "_staging").exists(), "staging swept on abort")
  }

  // ---- parquet storage tier: the commit protocol over columnar
  // data files ----

  test("parquet format: round-trip (delimiters, NULLs, empty string), " +
    "zombie-twin exactly-once, and job abort — same protocol, columnar files") {
    val path = tmpDir("sink_pq_proto")
    val bw = batchWriteFor(path, "append")
    val factory = bw.createBatchWriterFactory(null)
    val winner = factory.createWriter(0, 300L)
    val zombie = factory.createWriter(0, 301L)
    winner.write(internalRow(1L, 1.0, "tab\there", "A"))
    winner.write(internalRow(2L, 0.1 + 0.2, null, "A"))
    winner.write(internalRow(3L, -7.25, "", "B"))
    zombie.write(internalRow(1L, 1.0, "tab\there", "A"))
    zombie.write(internalRow(99L, 9.9, "dup", "C"))
    val winnerMsg = winner.commit()
    val _ = zombie.commit() // DENIED by the coordinator in real runs
    bw.commit(Array(winnerMsg))
    assert(readBack(path) === Set(
      (1L, 1.0, "tab\there", "A"), (2L, 0.1 + 0.2, null, "A"),
      (3L, -7.25, "", "B")),
      "parquet publish must carry exactly the winner's rows, bytes intact")
    assert(!new File(path, "_staging").exists(), "staging swept at commit")
    val dataFiles = new File(path).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .flatMap(_.listFiles()).map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.endsWith(".parquet")),
      s"data files must be parquet: ${dataFiles.toSeq}")
    // job abort leaves the published layout untouched
    val bw2 = batchWriteFor(path, "truncate")
    val f2 = bw2.createBatchWriterFactory(null)
    val w = f2.createWriter(0, 310L)
    w.write(internalRow(7L, 7.0, "gone", "A"))
    val m = w.commit()
    bw2.abort(Array(m))
    assert(readBack(path).map(_._1) === Set(1L, 2L, 3L),
      "abort must leave the parquet layout exactly as before")
  }

  test("parquet format: a narrow projection reads a fraction of the " +
    "full-width bytes (column-chunk I/O pruning)") {
    import spark.implicits._
    val root = tmpDir("sink_pq_io")
    spark.conf.set("spark.sql.catalog.graft_pqio_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pqio_spec.root", root)
    // wide rows: one narrow key column, several bulky HIGH-ENTROPY
    // payload columns (a repetitive payload dictionary-compresses to
    // ~nothing and the pin would measure compression, not pruning)
    def junk(seed: Long): String = (0 until 8)
      .map(j => java.lang.Long.toHexString(
        (seed * 8 + j + 1) * 0x9E3779B97F4A7C15L)).mkString
    val rows = (1L to 5000L).map { i =>
      (i, junk(i), junk(i + 1000000), junk(i + 2000000),
        i * 1.5, (i % 3).toString)
    }
    val d = rows.toDF("k", "pa", "pb", "pc", "v", "p")
    d.writeTo("graft_pqio_spec.wide").partitionedBy(col("p")).create()
    // Hadoop FileSystem.Statistics cannot see parquet's buffer-level
    // reads — measure the reader's own chunk accounting instead (the
    // compressed column-chunk bytes each scan selects)
    graft.sources.SinkParquetIo.reset()
    spark.table("graft_pqio_spec.wide").select("k")
      .agg(org.apache.spark.sql.functions.sum("k")).collect()
    val narrow = graft.sources.SinkParquetIo.planned
    graft.sources.SinkParquetIo.reset()
    spark.table("graft_pqio_spec.wide")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("pa")) +
          org.apache.spark.sql.functions.length(col("pb")) +
          org.apache.spark.sql.functions.length(col("pc")))).collect()
    val full = graft.sources.SinkParquetIo.planned
    assert(narrow > 0 && full > 0)
    assert(narrow * 2 < full,
      s"narrow projection must read < half the full-width bytes " +
        s"(I/O pruning, not just decode pruning): narrow=$narrow full=$full")
    spark.sql("DROP TABLE graft_pqio_spec.wide")
  }

  test("parquet format: row-group footer stats skip provably-excluded " +
    "groups inside kept files — fewer chunk bytes, identical rows") {
    import spark.implicits._
    val root = tmpDir("sink_pq_rgskip")
    spark.conf.set("spark.sql.catalog.graft_rgs_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rgs_spec.root", root)
    // ONE file, many small row groups, k naturally banded by write
    // order — the manifest-level file skip cannot help (one file spans
    // the whole range); only the row-group grain can
    spark.conf.set("parquet.block.size", "65536")
    try {
      (1L to 60000L).map(i => (i, s"v-$i-${"w" * 20}", "A"))
        .toDF("k", "s", "p").coalesce(1)
        .writeTo("graft_rgs_spec.t").partitionedBy(col("p")).create()
    } finally spark.conf.unset("parquet.block.size")
    // several row groups actually materialized?
    val file = new File(s"$root/t/p=A").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    graft.sources.SinkParquetIo.reset()
    val full = spark.table("graft_rgs_spec.t")
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
    val fullBytes = graft.sources.SinkParquetIo.planned
    graft.sources.SinkParquetIo.reset()
    val band = spark.table("graft_rgs_spec.t")
      .filter(col("k") >= 55000L && col("k") <= 56000L)
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
    val bandBytes = graft.sources.SinkParquetIo.planned
    assert(full === (1L to 60000L).sum)
    assert(band === (55000L to 56000L).sum,
      "row-group skipping must never drop a matching row")
    assert(bandBytes * 2 < fullBytes,
      s"a narrow band over a banded file must skip most row groups " +
        s"(band=$bandBytes full=$fullBytes, file=${file.length()} bytes)")
    // point lookup composes with the same machinery
    graft.sources.SinkParquetIo.reset()
    val one = spark.table("graft_rgs_spec.t").filter(col("k") === 123L)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(one === Seq(s"v-123-${"w" * 20}"))
    assert(graft.sources.SinkParquetIo.planned * 2 < fullBytes)
    spark.sql("DROP TABLE graft_rgs_spec.t")
  }

  test("parquet format: byte-range carving maps to row groups — every " +
    "split threshold reads every row exactly once") {
    import spark.implicits._
    val root = tmpDir("sink_pq_carve")
    spark.conf.set("spark.sql.catalog.graft_pqcv_spec",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pqcv_spec.root", root)
    // small row groups so one file holds several (carvable units)
    val rows = (1L to 20000L).map(i => (i, s"v-$i-${"w" * 30}", "A"))
    rows.toDF("k", "s", "p").coalesce(1)
      .writeTo("graft_pqcv_spec.t").partitionedBy(col("p")).create()
    val expected = rows.map(_._1).sum
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      for (threshold <- Seq(1L << 14, 1L << 16, 1L << 20, Long.MaxValue / 2)) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", threshold.toString)
        val got = spark.table("graft_pqcv_spec.t")
          .agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
        assert(got === expected,
          s"threshold $threshold must read every row exactly once")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
    spark.sql("DROP TABLE graft_pqcv_spec.t")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Streaming CHANGE FEED over a versioned sink table
  * (graft.sources.SinkChangeFeed): offsets are version numbers, each
  * micro-batch is the manifest diff of the versions it spans — so an
  * overwrite or row-level rewrite streams as delete+insert of exactly
  * the changed files, which the append-only file tail cannot express.
  * Pins: full-history replay (startingVersion 0) across create /
  * dynamic overwrite / SQL DELETE, checkpointed resume emitting only
  * the new transition, and startingVersion=latest skipping history.
  */
class SinkChangeFeedSpec extends SparkSpec {

  private def freshTable(cat: String): String = {
    val root = tmpDir(s"cdc_$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.versioned", "true")
    s"$root/t"
  }

  private def collectFeed(dir: String, name: String, ckpt: String,
                          starting: Option[String] = None)
      : Seq[(Long, Double, String, String, Long)] = {
    val reader = spark.readStream
      .format("graft.sources.SinkChangeFeed")
      .option("path", dir)
    val q = starting.foldLeft(reader) { (r, v) =>
      r.option("startingVersion", v) }
      .load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect().map(r => (
      r.getAs[Long]("k"), r.getAs[Double]("v"), r.getAs[String]("p"),
      r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .toSeq
  }

  test("the feed replays create, overwrite and row-level delete as file diffs") {
    import spark.implicits._
    val dir = freshTable("cdcv")
    Seq((1L, 1.0, "A"), (2L, 2.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcv.t").partitionedBy(col("p")).create()       // v1
    Seq((3L, 3.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcv.t").overwritePartitions()                  // v2
    spark.sql("DELETE FROM cdcv.t WHERE k = 1")                 // v3
    val got = collectFeed(dir, "cdc_all", tmpDir("cdc_ck")).toSet
    assert(got === Set(
      (1L, 1.0, "A", "insert", 1L), (2L, 2.0, "B", "insert", 1L),
      (2L, 2.0, "B", "delete", 2L), (3L, 3.0, "B", "insert", 2L),
      (1L, 1.0, "A", "delete", 3L)))
    // the row-level delete of the WHOLE file emits no insert twin —
    // nothing was rewritten, the group just retired
  }

  test("a checkpointed resume emits only the new transition") {
    import spark.implicits._
    val dir = freshTable("cdcr")
    val ckpt = tmpDir("cdcr_ck")
    val out = tmpDir("cdcr_out")
    // the memory sink cannot recover a checkpoint — resume semantics
    // need a durable sink, so this test lands the feed in parquet
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.sources.SinkChangeFeed").option("path", dir)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def landed(): Seq[(Long, String, Long)] =
      spark.read.parquet(out)
        .collect().map(r => (r.getAs[Long]("k"),
          r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"))).toSeq
    Seq((1L, 1.0, "A")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcr.t").partitionedBy(col("p")).create()       // v1
    drain()
    assert(landed() === Seq((1L, "insert", 1L)))
    Seq((2L, 2.0, "A")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcr.t").overwritePartitions()                  // v2
    // SAME checkpoint: only the v1→v2 transition arrives, exactly once
    drain()
    assert(landed().toSet === Set((1L, "insert", 1L),
      (1L, "delete", 2L), (2L, "insert", 2L)))
    assert(landed().size === 3, "no duplicate emission across the resume")
  }

  test("batch read returns the transitions between two pinned versions") {
    import spark.implicits._
    val dir = freshTable("cdcb")
    Seq((1L, 1.0, "A")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcb.t").partitionedBy(col("p")).create()       // v1
    Seq((2L, 2.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcb.t").append()                               // v2
    Seq((3L, 3.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcb.t").overwritePartitions()                  // v3
    def batchFeed(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.SinkChangeFeed")
        .option("path", dir)
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
        .collect().map(x => (x.getAs[Long]("k"),
          x.getAs[String]("_change_type"),
          x.getAs[Long]("_commit_version"))).toSet
    }
    // pinned window (1, 2]: only the v2 transition
    assert(batchFeed("startingVersion" -> "1", "endingVersion" -> "2") ===
      Set((2L, "insert", 2L)))
    // open end: everything after v1
    assert(batchFeed("startingVersion" -> "1") === Set(
      (2L, "insert", 2L), (2L, "delete", 3L), (3L, "insert", 3L)))
    // no options: the full retained history
    assert(batchFeed() === Set((1L, "insert", 1L), (2L, "insert", 2L),
      (2L, "delete", 3L), (3L, "insert", 3L)))
  }

  test("row-grain feed: MOR deletes stream exactly the deleted rows; " +
    "compaction streams as balanced delete+insert (a row-grain wash)") {
    import spark.implicits._
    val dir = freshTable("cdcm")
    spark.sql("""CREATE TABLE cdcm.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.deleteMode' = 'mor')""")
    (1L to 1000L).map(i => (i, i * 1.0, if (i % 2 == 0) "A" else "B"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcm.t").append()   // v1
    spark.sql("DELETE FROM cdcm.t WHERE k IN (3, 14, 159)")          // v2
    val feed = collectFeed(dir, "cdcm_sink",
      java.nio.file.Files.createTempDirectory("cdcm_ck").toString)
    val v2 = feed.filter(_._5 == 2L)
    assert(v2.map(t => (t._1, t._4)).sorted ===
      Seq((3L, "delete"), (14L, "delete"), (159L, "delete")),
      s"a 3-row MOR delete must stream exactly 3 delete rows, got $v2")
    // compaction folds the deletes and rewrites files — at FILE grain
    // that is delete+insert; at ROW grain it must be a wash: the
    // deleted multiset equals the inserted multiset
    graft.ops.Compaction.compactSinkTable(spark, "cdcm", "t", 0)
    val after = collectFeed(dir, "cdcm_sink2",
      java.nio.file.Files.createTempDirectory("cdcm_ck2").toString)
    val v3 = after.filter(_._5 == 3L)
    assert(v3.nonEmpty, "compaction must surface in the feed")
    def multiset(t: String) = v3.filter(_._4 == t)
      .map(x => (x._1, x._2, x._3)).groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(multiset("delete") === multiset("insert"),
      "compaction must be a row-grain no-op: deletes == inserts")
    // and the folded snapshot never revives the MOR-deleted rows
    assert(v3.filter(_._4 == "insert").map(_._1).toSet
      .intersect(Set(3L, 14L, 159L)) === Set.empty)
    spark.sql("DROP TABLE cdcm.t")
  }

  test("COW rowChanges: UPDATE streams update_preimage/update_postimage " +
    "pairs; DELETE streams only its matched rows") {
    import spark.implicits._
    val dir = freshTable("cdcw")
    spark.sql("""CREATE TABLE cdcw.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.rowChanges' = 'true')""")
    (1L to 1000L).map(i => (i, i * 1.0, if (i % 2 == 0) "A" else "B"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcw.t").append()   // v1
    spark.sql("DELETE FROM cdcw.t WHERE k IN (8, 88)")               // v2
    spark.sql("UPDATE cdcw.t SET v = v * -1 WHERE k = 500")          // v3
    val feed = collectFeed(dir, "cdcw_sink",
      java.nio.file.Files.createTempDirectory("cdcw_ck").toString)
    val v2 = feed.filter(_._5 == 2L)
    assert(v2.map(t => (t._1, t._4)).sorted ===
      Seq((8L, "delete"), (88L, "delete")),
      s"the COW delete must stream its 2 matched rows only, got $v2")
    val v3 = feed.filter(_._5 == 3L).map(t => (t._1, t._2, t._4)).sorted
    assert(v3 === Seq((500L, -500.0, "update_postimage"),
      (500L, 500.0, "update_preimage")),
      s"the UPDATE must stream a pre/postimage pair, got $v3")
    spark.sql("DROP TABLE cdcw.t")
  }

  test("rowChanges diff subtracts merge-on-read deletes from the before side (mixed deleteMode)") {
    import spark.implicits._
    val dir = freshTable("cdcmx")
    spark.sql("""CREATE TABLE cdcmx.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.rowChanges' = 'true',
      'graft.deleteMode' = 'mor')""")
    (1L to 100L).map(i => (i, i * 1.0, "A"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcmx.t").append()   // v1
    spark.sql("DELETE FROM cdcmx.t WHERE k IN (5, 6)")                // v2 MOR
    spark.sql("ALTER TABLE cdcmx.t SET TBLPROPERTIES ('graft.deleteMode' = 'cow')")
    spark.sql("UPDATE cdcmx.t SET v = -v WHERE k = 7")                // v3 COW
    val feed = collectFeed(dir, "cdcmx_sink", tmpDir("cdcmx_ck"))
    assert(feed.filter(_._5 == 2L).map(t => (t._1, t._4)).sorted ===
      Seq((5L, "delete"), (6L, "delete")))
    // the COW rewrite folds the MOR positions into its fresh file; its
    // change diff must NOT re-emit rows 5/6 as deletes — the before
    // side anti-filters the scan's position manifests
    val v3 = feed.filter(_._5 == 3L).map(t => (t._1, t._2, t._4)).sorted
    assert(v3 === Seq((7L, -7.0, "update_postimage"),
      (7L, 7.0, "update_preimage")),
      s"mixed-deleteMode rowChanges must stream the exact live delta, got $v3")
    assert(spark.table("cdcmx.t").count() === 98L)
    spark.sql("DROP TABLE cdcmx.t")
  }

  test("rowChanges survive RENAME COLUMN: pre-rename files emit correct values through field ids") {
    import spark.implicits._
    val dir = freshTable("cdcr2")
    spark.sql("""CREATE TABLE cdcr2.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.rowChanges' = 'true')""")
    (1L to 50L).map(i => (i, i * 1.0, "A"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcr2.t").append()  // v1
    spark.sql("ALTER TABLE cdcr2.t RENAME COLUMN v TO w")
    spark.sql("DELETE FROM cdcr2.t WHERE k = 9")                     // v2
    // the deleted row lives in a PRE-rename file: a name-based read of
    // the before side would emit w = NULL — the field-id read must
    // carry the real value into the change row
    val q = spark.readStream
      .format("graft.sources.SinkChangeFeed").option("path", dir)
      .load()
      .writeStream.format("memory").queryName("cdcr2_sink")
      .option("checkpointLocation", tmpDir("cdcr2_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val v2 = spark.table("cdcr2_sink")
      .filter(col("_commit_version") === 2L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("w"),
        r.getAs[String]("_change_type"))).toSeq
    assert(v2 === Seq((9L, 9.0, "delete")),
      s"pre-rename change rows must resolve by field id, got $v2")
    spark.sql("DROP TABLE cdcr2.t")
  }

  test("the batch feed after RENAME COLUMN returns the streaming feed's rows") {
    import spark.implicits._
    val dir = freshTable("cdcrb")
    Seq((1L, 1.0, "A"), (2L, 2.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcrb.t").partitionedBy(col("p")).create()         // v1
    spark.sql("ALTER TABLE cdcrb.t RENAME COLUMN v TO w")
    Seq((3L, 3.0, "A")).toDF("k", "w", "p").coalesce(1)
      .writeTo("cdcrb.t").append()                                  // v2
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("k"), Option(r.getAs[java.lang.Double]("w")),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .toSet
    val batch = rows(spark.read.format("graft.sources.SinkChangeFeed")
      .option("path", dir).load())
    val q = spark.readStream.format("graft.sources.SinkChangeFeed")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("cdcrb_sink")
      .option("checkpointLocation", tmpDir("cdcrb_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batch === rows(spark.table("cdcrb_sink")),
      "batch and streaming feeds must resolve the rename alike")
    assert(batch === Set((1L, Some(1.0), "insert", 1L),
      (2L, Some(2.0), "insert", 1L), (3L, Some(3.0), "insert", 2L)),
      s"pre-rename files must serve the renamed column, got $batch")
    spark.sql("DROP TABLE cdcrb.t")
  }

  test("rowChanges after RENAME and a MOR delete: the diff reads renamed, masked rows") {
    import spark.implicits._
    val dir = freshTable("cdcrm")
    spark.sql("""CREATE TABLE cdcrm.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.rowChanges' = 'true',
      'graft.deleteMode' = 'mor')""")
    (1L to 100L).map(i => (i, i * 1.0, "A"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcrm.t").append()   // v1
    spark.sql("ALTER TABLE cdcrm.t RENAME COLUMN v TO w")
    spark.sql("DELETE FROM cdcrm.t WHERE k IN (5, 6)")                // v2 MOR
    spark.sql("ALTER TABLE cdcrm.t SET TBLPROPERTIES ('graft.deleteMode' = 'cow')")
    spark.sql("UPDATE cdcrm.t SET w = -w WHERE k = 7")                // v3 COW
    // v3's change rows come from SinkSplitsRead over the pre-rename
    // file: `w` resolves by field id and the v2 positions mask rows 5/6
    val q = spark.readStream.format("graft.sources.SinkChangeFeed")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("cdcrm_sink")
      .option("checkpointLocation", tmpDir("cdcrm_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table("cdcrm_sink").collect().map(r =>
      (r.getAs[Long]("_commit_version"), r.getAs[Long]("k"),
        Option(r.getAs[java.lang.Double]("w")).map(_.doubleValue),
        r.getAs[String]("_change_type"))).toSeq
    assert(feed.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).sorted ===
      Seq((5L, Some(5.0), "delete"), (6L, Some(6.0), "delete")))
    assert(feed.filter(_._1 == 3L).map(t => (t._2, t._3, t._4)).sorted ===
      Seq((7L, Some(-7.0), "update_postimage"),
        (7L, Some(7.0), "update_preimage")),
      s"the COW diff must stream the exact renamed live delta, got $feed")
    assert(spark.table("cdcrm.t").filter(col("w").isNull).count() === 0L)
    spark.sql("DROP TABLE cdcrm.t")
  }

  test("MERGE rowChanges label contract: delete/insert rows, exact multiset (updates not separable at the ReplaceData surface — documented)") {
    import spark.implicits._
    val dir = freshTable("cdcg")
    spark.sql("""CREATE TABLE cdcg.t (k BIGINT, v DOUBLE, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('graft.rowChanges' = 'true')""")
    (1L to 10L).map(i => (i, i * 1.0, "A"))
      .toDF("k", "v", "p").coalesce(1).writeTo("cdcg.t").append()  // v1
    Seq((3L, 30.0, "A"), (11L, 11.0, "A")).toDF("k", "v", "p")
      .createOrReplaceTempView("cdcg_src")
    spark.sql("""MERGE INTO cdcg.t t USING cdcg_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")                            // v2
    val feed = collectFeed(dir, "cdcg_sink", tmpDir("cdcg_ck"))
    val v2 = feed.filter(_._5 == 2L).map(t => (t._1, t._2, t._4)).sorted
    // the contract SinkCowChanges documents: a matched UPDATE streams
    // as delete(pre)+insert(post), an unmatched INSERT as insert —
    // Spark's group-based ReplaceData exposes no per-row labels to
    // separate them further
    assert(v2 === Seq((3L, 3.0, "delete"), (3L, 30.0, "insert"),
      (11L, 11.0, "insert")),
      s"MERGE must stream its exact row delta under the documented labels, got $v2")
    spark.sql("DROP TABLE cdcg.t")
  }

  test("the rowChanges diff reads each side exactly once (one job, not exceptAll-per-type)") {
    import spark.implicits._
    // identical parquet tables, rowChanges on vs off: the planned
    // parquet chunk bytes of an UPDATE differ by exactly the diff's
    // reads — one scan of the replaced groups plus one of the fresh
    // files (the old per-type exceptAll paid 2x that on UPDATE)
    val _dir = freshTable("cdcio")
    def mk(t: String, rowChanges: Boolean): Unit = {
      spark.sql(s"""CREATE TABLE cdcio.$t (k BIGINT, v DOUBLE, s STRING,
        p STRING) PARTITIONED BY (p)
        TBLPROPERTIES ('graft.rowChanges' = '$rowChanges')""")
      (1L to 20000L).map(i => (i, i * 1.0, s"s-$i", "A"))
        .toDF("k", "v", "s", "p").coalesce(1).writeTo(s"cdcio.$t").append()
    }
    mk("on", rowChanges = true); mk("off", rowChanges = false)
    def planned(f: => Unit): Long = {
      graft.sources.SinkParquetIo.reset()
      f
      graft.sources.SinkParquetIo.planned
    }
    val fullScan = planned { spark.table("cdcio.on").collect() }
    val dOn = planned {
      spark.sql("UPDATE cdcio.on SET v = -v WHERE k % 100 = 3") }
    val dOff = planned {
      spark.sql("UPDATE cdcio.off SET v = -v WHERE k % 100 = 3") }
    assert(fullScan > 0 && dOn > dOff,
      s"the diff must cost extra reads (on $dOn, off $dOff)")
    // before (≈ the one data file) + after (≈ its rewrite) ≤ ~2 full
    // scans, with compression-variance headroom; the old 4-scan
    // exceptAll shape would land near 4x
    assert(dOn - dOff <= (fullScan * 26) / 10,
      s"rowChanges must add at most one read per side: on $dOn, off " +
        s"$dOff, full scan $fullScan")
    spark.sql("DROP TABLE cdcio.on"); spark.sql("DROP TABLE cdcio.off")
  }

  test("startingVersion=latest skips history; a number replays from it") {
    import spark.implicits._
    val dir = freshTable("cdcl")
    Seq((1L, 1.0, "A")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcl.t").partitionedBy(col("p")).create()       // v1
    Seq((2L, 2.0, "B")).toDF("k", "v", "p").coalesce(1)
      .writeTo("cdcl.t").append()                               // v2
    assert(collectFeed(dir, "cdc_l1", tmpDir("cdcl_ck1"),
      Some("latest")).isEmpty, "latest must not replay history")
    val fromV1 = collectFeed(dir, "cdc_l2", tmpDir("cdcl_ck2"), Some("1"))
    assert(fromV1.map(t => (t._1, t._4, t._5)) === Seq((2L, "insert", 2L)))
  }
}

package graft

import java.io.File

import org.apache.spark.sql.functions._

/** Bloom-filter FILE SKIPPING on sink tables (SinkBloomConf /
  * SinkBlooms): point-lookup pruning on a high-cardinality UNCLUSTERED
  * column, where min/max ranges are useless because every file spans
  * the whole key domain. Opt-in per table via the
  * `graft.bloomColumns = '<col>[,<col>]'` property; a per-file Spark
  * BloomFilter per named column rides the commit into a `_blooms/`
  * blob, and EqualTo/In scan filters probe it after the min/max
  * pass. Pins: fewer splits on interleaved (range-overlapping) files,
  * zero false negatives, IN multi-probe, string columns, the
  * distinct-count overflow degrade (`SinkBloomConf.MaxDistinct`), and
  * off-by-default.
  */
class BloomSkipSpec extends SparkSpec {
  private val Columns = graft.sources.SinkBloomConf.PropColumns

  private def freshCatalog(name: String): String = {
    val root = tmpDir(s"bloom_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def splits(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().length
    }.head

  /** Three one-file appends holding k ≡ 0, 1, 2 (mod 3) — every file's
    * [min, max] spans nearly the whole domain, so range skipping keeps
    * all three and only the blooms can prune a point lookup.
    */
  private def seedInterleaved(t: String, props: (String, String)*): Unit = {
    import spark.implicits._
    def batch(r: Int) = (0 until 300).filter(_ % 3 == r)
      .map(k => (k.toLong, s"id_$k", "A")).toDF("k", "sid", "p").coalesce(1)
    props.foldLeft(batch(0).writeTo(t)) { case (w, (k, v)) =>
      w.tableProperty(k, v)
    }.partitionedBy(col("p")).create()
    batch(1).writeTo(t).append()
    batch(2).writeTo(t).append()
  }

  test("point lookup on an unclustered column opens one file, not three") {
    freshCatalog("bl1")
    seedInterleaved("bl1.t", Columns -> "k")
    val all = spark.table("bl1.t")
    assert(splits(all) === 3, "unfiltered scan reads every file")
    // min/max CANNOT prune this (31 is inside every file's range);
    // only file k≡1's bloom contains it
    val one = spark.table("bl1.t").filter(col("k") === 31L)
    assert(splits(one) === 1,
      "the bloom probe must drop both non-containing files")
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(31L))
    // IN straddling two residue classes opens exactly those two
    val two = spark.table("bl1.t").filter(col("k").isin(31L, 32L))
    assert(splits(two) === 2)
    assert(two.count() === 2)
    // no false negatives: every key finds its row through the probe
    (0 until 30).foreach { k =>
      assert(spark.table("bl1.t").filter(col("k") === k.toLong)
        .count() === 1L, s"bloom skipped the file containing k=$k")
    }
    // the skip is OBSERVABLE: custom driver metrics on the scan node
    val df = spark.table("bl1.t").filter(col("k") === 31L)
    df.collect()
    val metrics = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics
    }.head
    assert(metrics("filesSkippedBloom").value === 2L,
      "both non-containing files report as bloom-skipped")
    assert(metrics("filesScanned").value === 1L)
  }

  test("string columns probe through the same machinery") {
    freshCatalog("bl2")
    seedInterleaved("bl2.t", Columns -> "sid")
    val one = spark.table("bl2.t").filter(col("sid") === "id_40")
    assert(splits(one) === 1)
    assert(one.collect().map(_.getString(1)).toSeq === Seq("id_40"))
  }

  test("distinct-count overflow degrades to a scan, never a wrong skip") {
    import spark.implicits._
    val root = freshCatalog("bl3")
    // one file per table of even keys 0, 2, ...: at the cap (131,072
    // distinct) the file keeps its filter, one past it the filter is
    // dropped. An odd key inside the range is absent from the file:
    // min/max cannot skip it, only a bloom can
    def evens(t: String, distinct: Int): Unit =
      spark.range(0, distinct).select((col("id") * 2).as("k"), lit("A").as("p"))
        .coalesce(1).writeTo(t).tableProperty(Columns, "k")
        .partitionedBy(col("p")).create()
    val cap = graft.sources.SinkBloomConf.MaxDistinct
    evens("bl3.at_cap", cap)
    evens("bl3.over", cap + 1)
    assert(splits(spark.table("bl3.at_cap").filter(col("k") === 31L)) === 0,
      "a file at the cap keeps its bloom and skips an absent key")
    // no filter survived the cap: the file scans, results exact
    val absent = spark.table("bl3.over").filter(col("k") === 31L)
    assert(splits(absent) === 1, "an overflowed bloom must not skip")
    assert(absent.count() === 0L)
    assert(spark.table("bl3.over").filter(col("k") === 2L * cap)
      .collect().map(_.getLong(0)).toSeq === Seq(2L * cap))
    // and no bloom blob of the overflowed table carries a line (the cap
    // dropped its only filter)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def bloomLines(table: String) = walk(new File(root, table))
      .filter(_.getName.startsWith("bloom-"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(bloomLines("at_cap").length === 1)
    assert(bloomLines("over").isEmpty)
    // the cap is a constant, not a table option
    val e = intercept[Exception] {
      Seq((1L, "A")).toDF("k", "p").writeTo("bl3.opt")
        .tableProperty("graft.bloomMaxDistinct", "5")
        .partitionedBy(col("p")).create()
    }
    assert(e.getMessage.contains("graft.bloomMaxDistinct is not a sink table option"),
      e.getMessage)
  }

  test("table-property blooms bind every writer, no session conf needed") {
    freshCatalog("bl5")
    // the property rides the CREATE and persists in the sidecar: the
    // later appends (fresh loads of the table) write blooms because the
    // TABLE says so
    seedInterleaved("bl5.t", Columns -> "k")
    assert(splits(spark.table("bl5.t").filter(col("k") === 31L)) === 1,
      "a sidecar-persisted bloom property must bind conf-less writers")
    // SQL DDL manages the property: UNSET stops new files' blooms
    spark.sql("ALTER TABLE bl5.t UNSET TBLPROPERTIES ('graft.bloomColumns')")
    val props = spark.sessionState.catalogManager.catalog("bl5")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "t")).properties()
    assert(!props.containsKey(Columns))
    // non-graft properties are rejected loudly, not silently dropped
    intercept[Exception] {
      spark.sql("ALTER TABLE bl5.t SET TBLPROPERTIES ('foo' = 'bar')")
    }
  }

  test("tableFiles exposes per-file rows, sizes and skip bounds") {
    freshCatalog("bl6")
    seedInterleaved("bl6.t", Columns -> "k")
    val files = graft.ops.Compaction.tableFiles(spark, "bl6", "t")
      .collect()
    assert(files.length === 3)
    assert(files.forall(_.getAs[String]("partition") === "p=A"))
    assert(files.map(_.getAs[Long]("n_rows")).sum === 300L,
      "exact per-file row counts from the publish manifests")
    assert(files.forall(_.getAs[Long]("size_bytes") > 0L))
    val mins = files.map(_.getAs[Map[String, String]]("min_values"))
    assert(mins.map(_("k")).toSet === Set("0", "1", "2"),
      "per-column min bounds surface per file")
  }

  test("off by default: no bloom manifests, point lookups scan all files") {
    val root = freshCatalog("bl4")
    seedInterleaved("bl4.t")
    assert(splits(spark.table("bl4.t").filter(col("k") === 31L)) === 3)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(!walk(new File(root)).exists(_.getName.startsWith("bloom-")))
  }
}

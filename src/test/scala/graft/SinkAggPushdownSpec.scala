package graft

import org.apache.spark.sql.functions._

/** Metadata-only aggregate pushdown on sink tables: a filterless
  * COUNT(*)/MIN/MAX answers from the publish manifests as a one-row
  * driver-side LocalScan — no input partitions, no data-file reads.
  * Exactness gates pin the fallbacks: residual filters, merge-on-read
  * deletes, string (truncated-bound) columns, NaN-poisoned stats and
  * stats-less files all decline to the ordinary scan and stay correct.
  */
class SinkAggPushdownSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def setupCatalog(name: String): String = {
    val root = tmpDir(s"sink_aggpd_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("BatchScan")
  }

  test("filterless COUNT(*)/MIN/MAX plan a LocalScan off the manifests; results exact incl. widen and all-NULL") {
    import spark.implicits._
    setupCatalog("graft_apd1")
    Seq((5, 2.5f, Some(7L), "A"), (1, -1.5f, None, "A"),
      (9, 0.25f, Some(-3L), "B"))
      .toDF("k", "f", "n", "p")
      .writeTo("graft_apd1.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_apd1.t ALTER COLUMN k TYPE BIGINT")
    Seq((3000000000L, 9.5f, Option.empty[Long], "B"))
      .toDF("k", "f", "n", "p").writeTo("graft_apd1.t").append()
    graft.sources.SinkParquetIo.reset()
    val q = spark.table("graft_apd1.t")
      .agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), min(col("f")).as("min_f"),
        max(col("f")).as("max_f"))
    assert(isLocal(q), s"expected a LocalScan, got\n${q.queryExecution}")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getFloat(3),
      r.getFloat(4)) === ((4L, 1L, 3000000000L, -1.5f, 9.5f)))
    assert(graft.sources.SinkParquetIo.planned === 0L,
      "a manifest-answered aggregate must plan zero data chunk bytes")
    // an entirely-NULL column answers NULL (provable: stats record the
    // all-NULL marker per file)
    val rn = spark.table("graft_apd1.t")
      .agg(min(col("n")).as("mn"), max(col("n")).as("mx"))
    // n is NOT all-null here (7, -3 present) — exact values
    assert(rn.collect().head.toSeq === Seq(-3L, 7L))
    spark.sql("DROP TABLE graft_apd1.t")
  }

  test("exactness gates decline: filters, MOR deletes, string bounds, NaN stats — fallback stays correct") {
    import spark.implicits._
    setupCatalog("graft_apd2")
    Seq((1L, "aa", 1.0, "A"), (2L, "zz", Double.NaN, "A"),
      (3L, "mm", 2.0, "B"))
      .toDF("k", "s", "d", "p")
      .writeTo("graft_apd2.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    // a residual filter declines (count must re-evaluate per row)
    val filtered = spark.table("graft_apd2.t").filter(col("k") > 1)
      .agg(count(lit(1)))
    assert(!isLocal(filtered))
    assert(filtered.collect().head.getLong(0) === 2L)
    // STRING bounds are truncated by design — min(s) must scan
    val strMin = spark.table("graft_apd2.t").agg(min(col("s")))
    assert(!isLocal(strMin))
    assert(strMin.collect().head.getString(0) === "aa")
    // NaN poisons the file's stats for d — min(d) must scan (and agree
    // with Spark's NaN semantics, not guess from partial manifests)
    val dMin = spark.table("graft_apd2.t").agg(min(col("d")))
    assert(!isLocal(dMin))
    // count(*) IS answerable pre-delete…
    assert(isLocal(spark.table("graft_apd2.t").agg(count(lit(1)))))
    // …but an active position delete disqualifies everything
    spark.sql("DELETE FROM graft_apd2.t WHERE k = 2")
    val afterDel = spark.table("graft_apd2.t").agg(count(lit(1)))
    assert(!isLocal(afterDel),
      "active MOR deletes must decline the metadata answer")
    assert(afterDel.collect().head.getLong(0) === 2L)
    // compaction folds the deletes: the metadata answer returns
    graft.ops.Compaction.compactSinkTable(spark, "graft_apd2", "t", 0)
    val afterCompact = spark.table("graft_apd2.t").agg(count(lit(1)))
    assert(isLocal(afterCompact),
      "after compact the manifests are exact again")
    assert(afterCompact.collect().head.getLong(0) === 2L)
    spark.sql("DROP TABLE graft_apd2.t")
  }

  test("LIMIT pushdown plans a file prefix by recorded counts; MOR deletes disable the trim") {
    import spark.implicits._
    setupCatalog("graft_apd4")
    def batch(ks: Range) = ks.map(k => (k.toLong, s"v-$k", "A"))
      .toDF("k", "s", "p").coalesce(1)
    batch(0 until 1000)
      .writeTo("graft_apd4.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    batch(1000 until 2000).writeTo("graft_apd4.t").append()
    batch(2000 until 3000).writeTo("graft_apd4.t").append()
    def planned(f: => Unit): Long = {
      graft.sources.SinkParquetIo.reset(); f
      graft.sources.SinkParquetIo.planned
    }
    val full = planned { spark.table("graft_apd4.t").collect() }
    val limited = planned {
      assert(spark.table("graft_apd4.t").limit(5).collect().length === 5) }
    assert(limited > 0 && limited <= full / 2,
      s"LIMIT 5 must plan a one-file prefix (planned $limited of $full)")
    // a filtered limit never reaches the pushdown (filters stay
    // residual) — and stays correct
    assert(spark.table("graft_apd4.t").filter(col("k") >= 2995)
      .limit(10).collect().length === 5)
    // MOR deletes: recorded counts overstate live rows — the trim must
    // disable, or a limit covering the whole table would undershoot
    spark.sql("DELETE FROM graft_apd4.t WHERE k < 950")
    assert(spark.table("graft_apd4.t").limit(3000).collect().length === 2050,
      "with active deletes the limit must not trim files")
    spark.sql("DROP TABLE graft_apd4.t")
  }

  test("GROUP BY partition columns answers per leaf, data columns decline") {
    import spark.implicits._
    setupCatalog("graft_apd3")
    spark.sql("""CREATE TABLE graft_apd3.t (k BIGINT, p STRING)
      PARTITIONED BY (p)""")
    Seq((10L, "A"), (20L, "B")).toDF("k", "p")
      .writeTo("graft_apd3.t").append()
    // GROUP BY a PARTITION column answers from the manifests too:
    // per-leaf counts/bounds, one output row per live tuple
    val grouped = spark.table("graft_apd3.t")
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn")).orderBy(col("p"))
    assert(isLocal(grouped),
      s"partition-keyed GROUP BY must answer from manifests:\n${grouped.queryExecution}")
    assert(grouped.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("A", 1L, 10L), ("B", 1L, 20L)))
    // GROUP BY a DATA column cannot (per-group stats don't exist)
    val dataGrouped = spark.table("graft_apd3.t")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(!isLocal(dataGrouped), "data-column grouping takes the normal scan")
    assert(dataGrouped.collect().length === 2)
    spark.sql("DROP TABLE graft_apd3.t")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SORT-ORDER CLUSTERING on sink tables (`graft.sortOrder`): writes
  * range-distribute on (partition tuple, sort columns) and sort
  * within tasks, so a partition's files carve the sort domain into
  * DISJOINT ranges — min/max file skipping starts working on a
  * NON-partition column. `compact(recluster => true)` applies a
  * newly-set order to existing interleaved data.
  *
  * The 100 TB rationale: partitioning burns one (low-cardinality)
  * column; every other selective predicate needs clustering to avoid
  * a full-partition scan. This is Iceberg's write sort-order / Delta
  * OPTIMIZE ZORDER's single-column core, on the engine's own stats
  * manifests.
  */
class SinkClusterSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val root = tmpDir(s"clus_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  /** At test scale AQE correctly coalesces the range exchange into
    * one partition (files track data size); pin multiple output files
    * by disabling coalescing around the maintenance pass.
    */
  private def recluster(cat: String): Unit = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(k)
    try {
      spark.conf.set(k, "false")
      spark.sql(s"CALL $cat.compact(table => 't', recluster => true)")
    } finally spark.conf.set(k, prev)
  }

  private def splits(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().length
    }.head

  /** Three appends holding k ≡ 0, 1, 2 (mod 3): every file spans
    * nearly the whole k domain, so min/max skipping is useless until
    * a recluster pass separates the ranges.
    */
  private def seedInterleaved(t: String, n: Int = 300,
                              sorted: Boolean = false): Unit = {
    import spark.implicits._
    def batch(r: Int) = (0 until n).filter(_ % 3 == r)
      .map(k => (k.toLong, s"v_$k", "A")).toDF("k", "s", "p").coalesce(1)
    val c = batch(0).writeTo(t).partitionedBy(col("p"))
    (if (sorted) c.tableProperty("graft.sortOrder", "k") else c).create()
    batch(1).writeTo(t).append()
    batch(2).writeTo(t).append()
  }

  test("recluster turns interleaved files into range-skippable ones") {
    freshCatalog("cl1")
    seedInterleaved("cl1.t", sorted = true)
    val rangeQ = spark.table("cl1.t").filter(col("k") >= 10 && col("k") < 20)
    assert(splits(rangeQ) === 3,
      "interleaved files all span the range — nothing statically skippable")
    val before = spark.table("cl1.t").orderBy(col("k")).collect()
    recluster("cl1")
    val after = spark.table("cl1.t").orderBy(col("k")).collect()
    assert(after === before, "recluster must not change a single row")
    val total = splits(spark.table("cl1.t"))
    assert(total > 1, "the range exchange must produce multiple files")
    val pruned = splits(
      spark.table("cl1.t").filter(col("k") >= 10 && col("k") < 20))
    assert(pruned < total,
      s"clustered min/max must skip files: $pruned of $total opened")
    assert(spark.table("cl1.t").filter(col("k") >= 10 && col("k") < 20)
      .count() === 10L)
  }

  test("reclustered files carve disjoint sort-column ranges") {
    val root = freshCatalog("cl2")
    seedInterleaved("cl2.t", sorted = true)
    recluster("cl2")
    // the manifest now holds one [min,max] per live file — ranges
    // must be pairwise disjoint (that disjointness IS the skipping)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sessionState.newHadoopConf())
    val live = graft.sources.SinkVersions.readLatest(fs, s"$root/t").toSeq
      .flatMap(_.entries).filter(_.values == Seq("A"))
    val ranges = live.flatMap(_.cols.get("k")).flatten
      .map { case (lo, hi) => (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(ranges.size === live.size, "every live file records k bounds")
    assert(ranges.size > 1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $ranges")
      case _ => ()
    }
  }

  test("appends with a sort order are internally sorted (tight row groups)") {
    freshCatalog("cl3")
    import spark.implicits._
    val shuffled = new scala.util.Random(7).shuffle((0 until 200).toList)
    shuffled.map(k => (k.toLong, "A")).toDF("k", "p")
      .coalesce(1)
      .writeTo("cl3.t").tableProperty("graft.sortOrder", "k")
      .partitionedBy(col("p")).create()
    // one batch in, rows must come back sorted within each file: read
    // with _pos and check monotonicity per file
    val rows = spark.table("cl3.t")
      .select(col("k"), col("_file"), col("_pos")).collect()
      .groupBy(_.getString(1))
    rows.values.foreach { inFile =>
      val byPos = inFile.sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
      assert(byPos === byPos.sorted,
        "rows inside a clustered file must be sorted by the sort column")
    }
  }

  test("sort order validation: unknown and partition columns reject loudly") {
    freshCatalog("cl4")
    import spark.implicits._
    def create(order: String) =
      Seq((1L, "A")).toDF("k", "p").writeTo("cl4.bad")
        .tableProperty("graft.sortOrder", order)
        .partitionedBy(col("p")).create()
    val e1 = intercept[Exception] { create("nope") }
    assert(e1.getMessage.contains("not in the table schema"))
    spark.sql("DROP TABLE IF EXISTS cl4.bad")
    val e2 = intercept[Exception] { create("p") }
    assert(e2.getMessage.contains("partition column"))
  }

  test("recluster composes with merge-on-read deletes (folds them in)") {
    freshCatalog("cl5")
    import spark.implicits._
    def batch(r: Int) = (0 until 90).filter(_ % 3 == r)
      .map(k => (k.toLong, "A")).toDF("k", "p").coalesce(1)
    batch(0).writeTo("cl5.t")
      .tableProperty("graft.sortOrder", "k")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    batch(1).writeTo("cl5.t").append()
    batch(2).writeTo("cl5.t").append()
    spark.sql("DELETE FROM cl5.t WHERE k % 10 = 0")
    val expect = (0 until 90).filterNot(_ % 10 == 0).map(_.toLong).sorted
    spark.sql("CALL cl5.compact(table => 't', recluster => true)")
    assert(spark.table("cl5.t").orderBy(col("k"))
      .collect().map(_.getLong(0)).toSeq === expect)
  }
}

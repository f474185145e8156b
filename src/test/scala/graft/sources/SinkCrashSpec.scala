package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Crash safety of the publish on a table that keeps no history: a
  * dynamic overwrite whose publish dies part-way (an injected failure
  * of its second rename, through [[FaultyFileSystem]]) must leave the
  * table reading its previous content, and a retry must land.
  */
class SinkCrashSpec extends AnyFunSuite {

  test("an unversioned dynamic overwrite failing mid-publish keeps the previous content; a retry lands") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val root = FaultyFileSystem.tempDir("sink_crash")
    spark.conf.set("spark.sql.catalog.graft_crash_spec",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_crash_spec.root", root)
    def rows(): Set[(Long, String)] = spark.table("graft_crash_spec.t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("k", "p").coalesce(1)
      .writeTo("graft_crash_spec.t").partitionedBy(col("p")).create()
    val before = rows()
    // one task writes one file per tuple: A and C, two publish renames
    val next = Seq((10L, "A"), (11L, "C")).toDF("k", "p").coalesce(1)
    try {
      FaultyFileSystem.failAtRename.set(2)
      intercept[Exception](next.writeTo("graft_crash_spec.t").overwritePartitions())
    } finally FaultyFileSystem.reset()
    assert(rows() === before,
      "a publish that died before its commit must leave the previous content")
    next.writeTo("graft_crash_spec.t").overwritePartitions()
    assert(rows() === Set((10L, "A"), (11L, "C"), (3L, "B")))
    spark.sql("CALL graft_crash_spec.vacuum_staging(table => 't')").collect()
    val local = new java.io.File(new java.net.URI(root).getPath, "t")
    assert(!new java.io.File(local, "_staging").exists(),
      "no staging survives the failed attempt and the retry")
  }
}

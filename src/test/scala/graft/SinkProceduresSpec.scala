package graft

import java.io.File

import org.apache.spark.sql.functions._

/** SQL `CALL` maintenance procedures on sink catalogs
  * (graft.sources.SinkProcedures via Spark 4's ProcedureCatalog):
  * compact / vacuum_versions / vacuum_staging run
  * from plain SQL with named or positional args and return one-row
  * summaries. The underlying operations are spec-pinned in
  * PartitionedSinkSpec/CompactionSpec — here the pins are the SQL
  * binding: arguments reach the right knobs, defaults apply, results
  * surface, unknown procedures fail loudly.
  */
class SinkProceduresSpec extends SparkSpec {

  private def freshCatalog(name: String, versioned: Boolean = false): String = {
    val root = tmpDir(s"proc_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    if (versioned) spark.conf.set(s"spark.sql.catalog.$name.versioned", "true")
    root
  }

  /** Data files on disk (the `_`-prefixed metadata dirs excluded). */
  private def dataFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory && f.getName.startsWith("_")) Seq.empty
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  test("CALL compact merges fragmented partitions and reports the count") {
    import spark.implicits._
    val root = freshCatalog("proc1")
    def batch = Seq((1L, "A"), (2L, "B")).toDF("k", "p").coalesce(1)
    batch.writeTo("proc1.t").partitionedBy(col("p")).create()
    batch.writeTo("proc1.t").append()
    batch.writeTo("proc1.t").append()
    assert(dataFiles(root).size === 6)
    val out = spark.sql("CALL proc1.compact(table => 't')").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(2),
      "both fragmented partitions compact")
    assert(dataFiles(root).size === 2)
    assert(spark.table("proc1.t").count() === 6L, "no rows lost")
  }

  test("CALL vacuum_versions expires old snapshots per keep_last") {
    import spark.implicits._
    freshCatalog("proc2", versioned = true)
    def batch(k: Long) = Seq((k, "A")).toDF("k", "p").coalesce(1)
    batch(1).writeTo("proc2.t").partitionedBy(col("p")).create() // v1
    batch(2).writeTo("proc2.t").overwritePartitions()            // v2
    batch(3).writeTo("proc2.t").overwritePartitions()            // v3
    val out = spark.sql(
      "CALL proc2.vacuum_versions(table => 't', keep_last => 1)").collect()
    assert(out.head.getInt(0) === 2, "versions 1 and 2 expire")
    // retired data files are younger than the publish-window age floor
    // — the sweep must NOT reclaim them yet (vacuum safety pin)
    assert(out.head.getInt(1) === 0)
    // the latest snapshot still reads; the expired one is gone
    assert(spark.table("proc2.t").collect().map(_.getLong(0)).toSeq ===
      Seq(3L))
    intercept[Exception] {
      spark.read.option("versionAsOf", "1").table("proc2.t").collect()
    }
  }

  test("CALL vacuum_staging reports zero on a clean table; unknown procedures fail loudly") {
    import spark.implicits._
    freshCatalog("proc3")
    Seq((1L, "A")).toDF("k", "p").writeTo("proc3.t")
      .partitionedBy(col("p")).create()
    val out = spark.sql("CALL proc3.vacuum_staging(table => 't')").collect()
    assert(out.head.getInt(0) === 0, "commit protocol leaves no staging")
    val ex = intercept[Exception] {
      spark.sql("CALL proc3.no_such_proc(table => 't')")
    }
    // Spark wraps the catalog's error as FAILED_TO_LOAD_ROUTINE
    assert(ex.getMessage.toLowerCase.contains("no_such_proc"))
    // SHOW PROCEDURES surfaces the registry
    val listed = spark.sql("SHOW PROCEDURES IN proc3").collect()
      .map(_.mkString("|")).mkString("\n")
    graft.sources.SinkProcedures.names.foreach(n =>
      assert(listed.contains(n), s"SHOW PROCEDURES must list $n"))
  }
}

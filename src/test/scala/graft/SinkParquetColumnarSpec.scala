package graft

import org.apache.spark.sql.functions._

/** The vectorized parquet read path ([[graft.sources.SinkParquetColumnarReader]]):
  * plan-level proof that eligible scans really serve ColumnarBatches,
  * equivalence against the row-materialized path on every value
  * surface (nulls, evolution, `_pos`, projections, row-group skips),
  * and the decode-throughput pin the 100 TB posture demands.
  */
class SinkParquetColumnarSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def withColumnar[A](on: Boolean)(f: => A): A = {
    spark.conf.set(graft.sources.SinkParquetColumnar.EnabledKey, on.toString)
    try f finally spark.conf.unset(graft.sources.SinkParquetColumnar.EnabledKey)
  }

  private def scanIsColumnar(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.exists {
      case s: org.apache.spark.sql.execution.ColumnarToRowExec => true
      case _ => false
    } || plan.toString.contains("ColumnarToRow")
  }

  private def setupCatalog(name: String): String = {
    val root = tmpDir(s"sink_colnr_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  test("eligible parquet scans plan ColumnarToRow; the flag forces rows") {
    import spark.implicits._
    setupCatalog("graft_colnr1")
    Seq((1L, 1.5, "a", "A"), (2L, 2.5, "b", "B"))
      .toDF("k", "v", "s", "p")
      .writeTo("graft_colnr1.t").partitionedBy(col("p")).create()
    assert(scanIsColumnar(spark.table("graft_colnr1.t")),
      "default parquet table scan must be columnar")
    withColumnar(false) {
      assert(!scanIsColumnar(spark.table("graft_colnr1.t")),
        "the escape hatch must force the row path")
    }
    spark.sql("DROP TABLE graft_colnr1.t")
  }

  test("columnar and row paths answer identically: nulls, evolution, _pos/_file, projections, skips") {
    import spark.implicits._
    val root = setupCatalog("graft_colnr2")
    // every atomic type incl. nulls, two partitions, plus rename/drop
    // evolution so field-id resolution is exercised through batches
    val df = spark.range(0, 5000).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("l"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(col("id").cast("int")).as("i"),
      (col("id") / 3.0).as("d"),
      col("id").cast("float").as("f"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("s-"), col("id"))).as("s"),
      (col("id") % 2 === 0).as("b"),
      (col("id") % 100).cast("short").as("sh"),
      (col("id") % 100).cast("byte").as("by"),
      (col("id") % 2).cast("string").as("p"))
    df.writeTo("graft_colnr2.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_colnr2.t RENAME COLUMN s TO label")
    spark.sql("ALTER TABLE graft_colnr2.t ADD COLUMNS (note STRING)")
    spark.range(5000, 5100).select(
      col("id").as("k"), (col("id") * 2).as("l"), col("id").cast("int").as("i"),
      (col("id") / 3.0).as("d"), col("id").cast("float").as("f"),
      concat(lit("s-"), col("id")).as("label"), lit(true).as("b"),
      lit(1).cast("short").as("sh"), lit(2).cast("byte").as("by"),
      lit("0").as("p"), lit("fresh").as("note"))
      .writeTo("graft_colnr2.t").append()

    def snapshot(): Seq[String] = {
      val full = spark.table("graft_colnr2.t").orderBy("k")
        .collect().map(_.toString).toSeq
      val proj = spark.table("graft_colnr2.t")
        .select(col("label"), col("_pos"), input_file_name())
        .agg(count(col("label")), sum(col("_pos"))).collect().head.toString
      val meta = spark.table("graft_colnr2.t")
        .select(col("k"), col("_file"), col("_pos"))
        .orderBy("k").collect().map(_.toString).toSeq
      val skipped = spark.table("graft_colnr2.t")
        .filter(col("k") >= 5050).orderBy("k")
        .collect().map(_.toString).toSeq
      (full :+ proj) ++ meta ++ skipped
    }
    val colnr = withColumnar(true)(snapshot())
    val rows = withColumnar(false)(snapshot())
    assert(colnr === rows,
      "columnar and row decode must agree on every surface")
    spark.sql("DROP TABLE graft_colnr2.t")
  }

  test("MOR position deletes stay columnar: the batch-grain keep mask filters, compacts and agrees with the row path") {
    import spark.implicits._
    setupCatalog("graft_colnr3")
    spark.range(0, 10000).select(col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("l"),
      concat(lit("s-"), col("id")).as("s"),
      (col("id") % 3).cast("string").as("p"))
      .writeTo("graft_colnr3.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    assert(scanIsColumnar(spark.table("graft_colnr3.t")),
      "pre-delete the table is all-parquet and batches")
    spark.sql("DELETE FROM graft_colnr3.t WHERE k % 10 = 3")
    assert(scanIsColumnar(spark.table("graft_colnr3.t")),
      "position deletes must NOT demote the scan — the mask filters batches")
    def snap(): Seq[String] = spark.table("graft_colnr3.t")
      .select(col("k"), col("l"), col("s"), col("_pos"))
      .orderBy("k").collect().map(_.toString).toSeq
    val colnr = withColumnar(true)(snap())
    val rows = withColumnar(false)(snap())
    assert(colnr === rows, "masked batches must equal the row-path read")
    assert(colnr.size === 9000)
    assert(spark.table("graft_colnr3.t").filter(col("k") % 10 === 3)
      .count() === 0L)
    // a second delete (two manifests) composes
    spark.sql("DELETE FROM graft_colnr3.t WHERE k % 10 = 4")
    assert(spark.table("graft_colnr3.t").count() === 8000L)
    assert(withColumnar(true)(snap()) === withColumnar(false)(snap()))
    spark.sql("DROP TABLE graft_colnr3.t")
  }

  test("end-to-end wide-scan queries run faster columnar (decode-level 2x pin: SinkParquetDecodeSpec)") {
    import spark.implicits._
    setupCatalog("graft_colnr4")
    // one wide partition, enough rows that decode dominates task setup
    spark.range(0, 2400000).select(
      col("id").as("k"), (col("id") * 31).as("l"),
      col("id").cast("int").as("i"), (col("id") / 7.0).as("d"),
      col("id").cast("float").as("f"),
      concat(lit("v-"), col("id")).as("s"),
      (col("id") % 2 === 0).as("b"), lit("A").as("p"))
      .coalesce(4)
      .writeTo("graft_colnr4.t").partitionedBy(col("p")).create()
    def work(): Long = spark.table("graft_colnr4.t")
      .agg(sum(col("l") + col("i") + col("d") + col("f") +
        length(col("s")) + when(col("b"), 1).otherwise(0)).cast("long"))
      .collect().head.getLong(0)
    def time(on: Boolean): Double = withColumnar(on) {
      work() // warm (code paths, page cache)
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); work(); (System.nanoTime() - t0) / 1e9
      }
      runs.sorted.apply(runs.length / 2) // median
    }
    val rowSec = time(false)
    val colSec = time(true)
    info(f"row path $rowSec%.3f s, columnar $colSec%.3f s, " +
      f"speedup ${rowSec / colSec}%.2fx")
    assert(withColumnar(true)(work()) === withColumnar(false)(work()))
    // query-level time shares the aggregation/eval cost between the two
    // paths, so the bar here is a conservative "clearly faster"; the
    // ≥2x DECODE pin drives the readers directly (SinkParquetDecodeSpec)
    assert(rowSec / colSec >= 1.15,
      f"columnar wide scans must be clearly faster end-to-end, got " +
        f"${rowSec / colSec}%.2fx (row $rowSec%.3f s, columnar $colSec%.3f s)")
    spark.sql("DROP TABLE graft_colnr4.t")
  }

  test("array-of-atomic columns stay columnar and agree with the row path (nulls, page spans, evolution, MOR)") {
    import spark.implicits._
    setupCatalog("graft_colnr5")
    // array<long> with NULL lists / typed-empty lists / NULL elements,
    // array<float> long enough that lists straddle page boundaries
    // (the lookahead walk), array<string> exercising byte appends —
    // all under merge-on-read so the masked fill walks triplets too
    val df = spark.range(0, 20000).select(
      col("id").as("k"),
      when(col("id") % 13 === 0, lit(null))
        .when(col("id") % 7 === 0, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(0L), col("id") % 17),
          x => when(x % 5 === 0, lit(null)).otherwise(x * 3))).as("al"),
      transform(sequence(lit(0L), col("id") % 64),
        x => (x / lit(7.0)).cast("float")).as("af"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(transform(sequence(lit(0L), col("id") % 4),
          x => concat(lit("e-"), x))).as("as"),
      (col("id") % 2).cast("string").as("p"))
    df.writeTo("graft_colnr5.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    assert(scanIsColumnar(spark.table("graft_colnr5.t")),
      "array-of-atomic projections must keep the vectorized path")
    spark.sql("ALTER TABLE graft_colnr5.t ADD COLUMNS (emb ARRAY<DOUBLE>)")
    spark.range(20000, 20050).select(
      col("id").as("k"), array(col("id"), col("id") * 2).as("al"),
      array(lit(1.5f)).as("af"), array(lit("z")).as("as"),
      lit("0").as("p"), array(col("id") / 4.0).as("emb"))
      .writeTo("graft_colnr5.t").append()
    def snap(): Seq[String] = {
      val full = spark.table("graft_colnr5.t").orderBy("k")
        .collect().map(_.toString).toSeq
      // row-group skip on k while arrays project; _pos alongside
      val skipped = spark.table("graft_colnr5.t")
        .filter(col("k") >= 20020)
        .select(col("k"), col("al"), col("af"), col("emb"), col("_pos"))
        .orderBy("k").collect().map(_.toString).toSeq
      full ++ skipped
    }
    assert(withColumnar(true)(snap()) === withColumnar(false)(snap()),
      "array decode must agree with record assembly on every surface")
    spark.sql("DELETE FROM graft_colnr5.t WHERE k % 10 = 3")
    assert(scanIsColumnar(spark.table("graft_colnr5.t")),
      "position deletes must not demote array scans")
    assert(withColumnar(true)(snap()) === withColumnar(false)(snap()),
      "masked array batches must equal the row-path read")
    assert(spark.table("graft_colnr5.t").count() === 18045L)
    // aggregate over elements through the columnar path
    val s1 = spark.table("graft_colnr5.t")
      .agg(sum(aggregate(col("af"), lit(0.0),
        (acc, x) => acc + x.cast("double"))).cast("long")).collect().head
    val s2 = withColumnar(false)(spark.table("graft_colnr5.t")
      .agg(sum(aggregate(col("af"), lit(0.0),
        (acc, x) => acc + x.cast("double"))).cast("long")).collect().head)
    assert(s1 === s2)
    spark.sql("DROP TABLE graft_colnr5.t")
  }
}

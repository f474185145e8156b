package graft

import org.apache.spark.sql.functions._

/** The sink's one read path ([[graft.sources.SinkParquetSplitReader]],
  * Spark's vectorized parquet reader behind graft's field-id
  * resolution): plan-level proof that sink scans serve ColumnarBatches,
  * and every value surface (nulls, evolution, `_pos`, projections,
  * row-group skips, merge-on-read masks, arrays) checked against rows
  * built from the source data.
  */
class SinkParquetColumnarSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

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

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  /** `_pos` is each row's index within its file: per `_file`, the
    * positions are exactly 0 until (rows in the file).
    */
  private def assertDensePositions(df: DataFrame): Unit = {
    val perFile = df.groupBy(col("_file")).agg(count(lit(1)).as("n"),
      countDistinct(col("_pos")).as("d"), min(col("_pos")).as("lo"),
      max(col("_pos")).as("hi")).collect()
    assert(perFile.nonEmpty)
    perFile.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) === n && r.getLong(3) === 0L && r.getLong(4) === n - 1,
        s"positions of ${r.getString(0)} must be 0 until $n: $r")
      assert(new java.io.File(new org.apache.hadoop.fs.Path(r.getString(0))
        .toUri.getPath).isFile, s"_file must name a data file: $r")
    }
  }

  test("parquet sink scans plan ColumnarToRow") {
    import spark.implicits._
    setupCatalog("graft_colnr1")
    Seq((1L, 1.5, "a", "A"), (2L, 2.5, "b", "B"))
      .toDF("k", "v", "s", "p")
      .writeTo("graft_colnr1.t").partitionedBy(col("p")).create()
    assert(scanIsColumnar(spark.table("graft_colnr1.t")),
      "default parquet table scan must be columnar")
    spark.sql("DROP TABLE graft_colnr1.t")
  }

  test("the reader serves source rows: nulls, evolution, _pos/_file, skips") {
    setupCatalog("graft_colnr2")
    // every atomic type incl. nulls, two partitions, plus rename/add
    // evolution so field-id resolution is exercised through batches
    val source = spark.range(0, 5000).select(
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
    source.writeTo("graft_colnr2.t").partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE graft_colnr2.t RENAME COLUMN s TO label")
    spark.sql("ALTER TABLE graft_colnr2.t ADD COLUMNS (note STRING)")
    val fresh = spark.range(5000, 5100).select(
      col("id").as("k"), (col("id") * 2).as("l"), col("id").cast("int").as("i"),
      (col("id") / 3.0).as("d"), col("id").cast("float").as("f"),
      concat(lit("s-"), col("id")).as("label"), lit(true).as("b"),
      lit(1).cast("short").as("sh"), lit(2).cast("byte").as("by"),
      lit("0").as("p"), lit("fresh").as("note"))
    fresh.writeTo("graft_colnr2.t").append()
    val expected = source.withColumnRenamed("s", "label")
      .withColumn("note", lit(null).cast("string"))
      .unionByName(fresh)
    val t = spark.table("graft_colnr2.t")
    assert(scanIsColumnar(t))
    assert(rows(t) === rows(expected.select(t.columns.map(col).toIndexedSeq: _*)),
      "every value, NULL and evolved column must equal the source rows")
    assert(t.select(col("label")).agg(count(col("label"))).collect().head
      .getLong(0) === expected.filter(col("label").isNotNull).count())
    assertDensePositions(t.select(col("k"), col("_file"), col("_pos")))
    // row-group skips never drop a matching row
    assert(rows(t.filter(col("k") >= 5050)) ===
      rows(expected.filter(col("k") >= 5050)
        .select(t.columns.map(col).toIndexedSeq: _*)))
    spark.sql("DROP TABLE graft_colnr2.t")
  }

  test("MOR deletes mask batches: survivors keep their values and _pos") {
    setupCatalog("graft_colnr3")
    val source = spark.range(0, 10000).select(col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("l"),
      concat(lit("s-"), col("id")).as("s"),
      (col("id") % 3).cast("string").as("p"))
    source.writeTo("graft_colnr3.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    def snap(): Seq[String] = rows(spark.table("graft_colnr3.t")
      .select(col("k"), col("l"), col("s"), col("_pos")))
    // (k, _pos) before any delete: a surviving row keeps its position
    val before = spark.table("graft_colnr3.t").select(col("k"), col("_pos"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("DELETE FROM graft_colnr3.t WHERE k % 10 = 3")
    assert(scanIsColumnar(spark.table("graft_colnr3.t")),
      "position deletes must NOT demote the scan — the mask filters batches")
    def expected(gone: Long => Boolean): Seq[String] =
      source.collect().filterNot(r => gone(r.getLong(0))).map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2),
          before(r.getLong(0))).toString).toSeq
    val afterOne = snap()
    assert(afterOne.size === 9000)
    assert(afterOne.toSet === expected(_ % 10 == 3).toSet,
      "masked batches must serve exactly the surviving source rows")
    assert(spark.table("graft_colnr3.t").filter(col("k") % 10 === 3)
      .count() === 0L)
    // a second delete (two manifests) composes
    spark.sql("DELETE FROM graft_colnr3.t WHERE k % 10 = 4")
    assert(spark.table("graft_colnr3.t").count() === 8000L)
    assert(snap().toSet === expected(k => k % 10 == 3 || k % 10 == 4).toSet)
    spark.sql("DROP TABLE graft_colnr3.t")
  }

  test("array columns serve source rows: nulls, page spans, evolution, MOR") {
    setupCatalog("graft_colnr5")
    // array<long> with NULL lists / typed-empty lists / NULL elements,
    // array<float> long enough that lists straddle page boundaries,
    // array<string> — all under merge-on-read
    val source = spark.range(0, 20000).select(
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
    source.writeTo("graft_colnr5.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    assert(scanIsColumnar(spark.table("graft_colnr5.t")),
      "array-of-atomic projections must keep the vectorized path")
    spark.sql("ALTER TABLE graft_colnr5.t ADD COLUMNS (emb ARRAY<DOUBLE>)")
    val fresh = spark.range(20000, 20050).select(
      col("id").as("k"), array(col("id"), col("id") * 2).as("al"),
      array(lit(1.5f)).as("af"), array(lit("z")).as("as"),
      lit("0").as("p"), array(col("id") / 4.0).as("emb"))
    fresh.writeTo("graft_colnr5.t").append()
    val expected = source.withColumn("emb", lit(null).cast("array<double>"))
      .unionByName(fresh)
    def check(exp: DataFrame): Unit = {
      val t = spark.table("graft_colnr5.t")
      assert(rows(t) === rows(exp.select(t.columns.map(col).toIndexedSeq: _*)),
        "array values, NULL lists and NULL elements must equal the source")
      // row-group skip on k while arrays project
      val cols = Seq("k", "al", "af", "emb").map(col)
      assert(rows(t.filter(col("k") >= 20020).select(cols: _*)) ===
        rows(exp.filter(col("k") >= 20020).select(cols: _*)))
    }
    check(expected)
    assertDensePositions(spark.table("graft_colnr5.t"))
    spark.sql("DELETE FROM graft_colnr5.t WHERE k % 10 = 3")
    assert(scanIsColumnar(spark.table("graft_colnr5.t")),
      "position deletes must not demote array scans")
    check(expected.filter(col("k") % 10 =!= 3))
    assert(spark.table("graft_colnr5.t").count() === 18045L)
    spark.sql("DROP TABLE graft_colnr5.t")
  }
}

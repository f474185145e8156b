package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** NESTED column types (struct / array, arbitrarily composed) on
  * parquet sink tables — the payload shapes a training-data lake
  * actually stores (embeddings as array<float>, token lists, typed
  * metadata records) living INSIDE the versioned table format instead
  * of beside it.
  *
  * Shapes follow parquet's standard interop forms (struct = group,
  * array = 3-level LIST), which Spark's vectorized reader decodes
  * for every projection, nested ones included (spec-pinned here). A
  * TSV format, partition columns and MAP types reject loudly at DDL
  * time.
  */
class SinkNestedSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val root = tmpDir(s"nest_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def sinkScans(df: DataFrame) =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.getClass.getName.contains("PartitionedSinkScan") => b
    }

  private def seed(t: String): Unit = {
    import spark.implicits._
    val df = Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("k", "p")
      .withColumn("info", struct(
        concat(lit("s"), col("k")).as("tag"),
        (col("k") * 1.5).as("score")))
      .withColumn("emb", array(col("k") * 2, col("k") * 3))
      .withColumn("hits", array(
        struct(lit("q1").as("q"), col("k").cast("int").as("rank")),
        struct(lit("q2").as("q"), lit(7).as("rank"))))
    df.writeTo(t).partitionedBy(col("p")).create()
  }

  test("struct / array / array-of-struct roundtrip byte-exact") {
    freshCatalog("ns1")
    seed("ns1.t")
    val rows = spark.table("ns1.t").orderBy(col("k")).collect()
    assert(rows.length === 3)
    val r = rows.head
    assert(r.getAs[Row]("info") === Row("s1", 1.5))
    assert(r.getAs[Seq[Long]]("emb") === Seq(2L, 3L))
    assert(r.getAs[Seq[Row]]("hits") === Seq(Row("q1", 1), Row("q2", 7)))
    // nested field access plans and computes
    val agg = spark.table("ns1.t")
      .agg(sum(col("info.score")).as("s"),
        sum(expr("aggregate(emb, 0L, (a, x) -> a + x)")).as("se"))
      .collect()(0)
    assert(agg.getDouble(0) === 9.0) // 1.5 + 3.0 + 4.5
    assert(agg.getLong(1) === 30L)   // (2+3)+(4+6)+(6+9)
  }

  test("nested nulls: null struct, null field, empty/null arrays, null elements") {
    freshCatalog("ns2")
    import spark.implicits._
    val df = Seq(1L, 2L, 3L, 4L).toDF("k")
      .withColumn("p", lit("A"))
      .withColumn("info", when(col("k") === 1, lit(null))
        .otherwise(struct(
          when(col("k") === 2, lit(null).cast("string"))
            .otherwise(lit("x")).as("tag"),
          col("k").cast("double").as("score"))))
      .withColumn("emb",
        when(col("k") === 1, lit(null).cast("array<bigint>"))
          .when(col("k") === 2, array().cast("array<bigint>"))
          .when(col("k") === 3, array(lit(1L), lit(null).cast("bigint")))
          .otherwise(array(lit(9L))))
    df.writeTo("ns2.t").partitionedBy(col("p")).create()
    val rows = spark.table("ns2.t").orderBy(col("k")).collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("info")))
    assert(rows(0).isNullAt(rows(0).fieldIndex("emb")))
    assert(rows(1).getAs[Row]("info") === Row(null, 2.0))
    assert(rows(1).getAs[Seq[Long]]("emb") === Seq.empty)
    assert(rows(2).getAs[Seq[Any]]("emb") === Seq(1L, null))
    assert(rows(3).getAs[Row]("info") === Row("x", 4.0))
    assert(rows(3).getAs[Seq[Long]]("emb") === Seq(9L))
  }

  test("nested and flat projections both scan columnar") {
    freshCatalog("ns3")
    seed("ns3.t")
    val nested = spark.table("ns3.t").select(col("k"), col("info"))
    assert(sinkScans(nested).head.supportsColumnar,
      "a nested projection decodes through the vectorized reader")
    val flat = spark.table("ns3.t").select(col("k"), col("p"))
    assert(sinkScans(flat).head.supportsColumnar,
      "a flat projection keeps the vectorized path")
    assert(nested.orderBy("k").collect().map(_.getAs[Row]("info")).toSeq ===
      Seq(Row("s1", 1.5), Row("s2", 3.0), Row("s3", 4.5)))
    assert(flat.count() === 3)
  }

  test("COW row-level DELETE rewrites nested rows intact") {
    freshCatalog("ns4")
    seed("ns4.t")
    spark.sql("DELETE FROM ns4.t WHERE k = 2")
    val rows = spark.table("ns4.t").orderBy(col("k")).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(rows(1).getAs[Row]("info") === Row("s3", 4.5))
    assert(rows(1).getAs[Seq[Row]]("hits") === Seq(Row("q1", 3), Row("q2", 7)))
  }

  test("a struct pruned to one field on a MOR table after DELETE, with _pos") {
    freshCatalog("ns6")
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L).toDF("k").withColumn("p", lit("A"))
      .withColumn("info", struct(concat(lit("s"), col("k")).as("tag"),
        (col("k") * 1.5).as("score")))
      .coalesce(1).writeTo("ns6.t")
      .tableProperty("graft.deleteMode", "mor")
      .partitionedBy(col("p")).create()
    val pos = spark.table("ns6.t").select(col("k"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos.values.toSet === Set(0L, 1L, 2L, 3L))
    spark.sql("DELETE FROM ns6.t WHERE k = 2")
    val df = spark.table("ns6.t")
      .select(col("k"), col("info.score"), col("_pos"))
    assert(sinkScans(df).head.supportsColumnar)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq.sorted === Seq((1L, 1.5, pos(1L)), (3L, 4.5, pos(3L)), (4L, 6.0, pos(4L))),
      "the pruned struct field and the surviving rows' positions")
  }

  test("schema evolution: a nested column ADDed later reads NULL from old files") {
    freshCatalog("ns5")
    import spark.implicits._
    Seq((1L, "A")).toDF("k", "p").writeTo("ns5.t")
      .partitionedBy(col("p")).create()
    spark.sql("ALTER TABLE ns5.t ADD COLUMNS (meta STRUCT<src: STRING, n: BIGINT>)")
    Seq((2L, "A")).toDF("k", "p")
      .withColumn("meta", struct(lit("web").as("src"), lit(5L).as("n")))
      .writeTo("ns5.t").append()
    val rows = spark.table("ns5.t").orderBy(col("k")).collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("meta")),
      "pre-evolution files must serve NULL for the added struct")
    assert(rows(1).getAs[Row]("meta") === Row("web", 5L))
  }

  test("validation: TSV, partition columns and MAP reject loudly") {
    freshCatalog("ns6")
    import spark.implicits._
    def base = Seq((1L, "A")).toDF("k", "p")
      .withColumn("info", struct(lit("x").as("tag")))
    val e1 = intercept[Exception] {
      base.writeTo("ns6.bad1").tableProperty("graft.format", "tsv")
        .partitionedBy(col("p")).create()
    }
    assert(e1.getMessage.contains("graft.format is not an option"))
    val e2 = intercept[Exception] {
      base.writeTo("ns6.bad2").partitionedBy(col("info")).create()
    }
    assert(e2.getMessage.toLowerCase.contains("partition"))
    val e3 = intercept[Exception] {
      Seq((1L, "A")).toDF("k", "p")
        .withColumn("m", map(lit("a"), lit(1L)))
        .writeTo("ns6.bad3")
        .partitionedBy(col("p")).create()
    }
    assert(e3.getMessage.contains("array<struct<key,value>>"))
  }
}

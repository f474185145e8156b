package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType}
import graft.jobs._

/** The S10-S12 surface: DDL-created managed tables in the session
  * catalog, `insertInto` appends with dynamic partitions, dim
  * overwrites, partition listings — the reference's Hive tier without a
  * metastore daemon (reference: create_hive_tbls.hql:1-48,
  * load_fct_flights.py:112-116, load_dim_airports.py:61-64).
  */
class CatalogWarehouseSpec extends SparkSpec with JobFixtures {

  /** Drop the test database AND its physical directory: the in-memory
    * catalog forgets between JVM runs but the managed-table dirs under
    * spark.sql.warehouse.dir persist, and CREATE TABLE refuses a
    * location that already exists.
    */
  private def freshWarehouse(db: String): CatalogWarehouse = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val root = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val dir = new java.io.File(root, s"$db.db")
    if (dir.exists()) rm(dir)
    new CatalogWarehouse(spark, db)
  }

  test("DDL round-trip: dims overwrite, dates append, fact dynamic-partition append, replay zero") {
    val wh = freshWarehouse("graft_whtest")
    wh.createReferenceTables()
    Seq("dim_airports", "dim_dates", "dim_aircrafts", "fct_flights")
      .foreach(t => assert(wh.exists(t), s"$t missing after DDL"))

    // DDL wins the schema: dim_dates carries SMALLINT/TINYINT as declared
    val dd = wh.table(spark, "dim_dates").schema
    assert(dd("year").dataType == ShortType && dd("month").dataType == ByteType)

    // dims overwrite into the PRE-CREATED (empty) table, then skip when unchanged
    assert(LoadDimAirports.run(spark, wh, airports))
    assert(!LoadDimAirports.run(spark, wh, airports))
    assert(wh.table(spark, "dim_airports").count() == 3)

    assert(LoadDimDates.run(spark, wh, "2024-01-01", "2024-01-05") == 5)
    assert(LoadDimDates.run(spark, wh, "2024-01-01", "2024-01-05") == 0) // idempotent append

    assert(LoadDimAircrafts.run(spark, wh, aircraftsDf, manufacturersDf,
      typesDf, airlinesDf, None))

    // fact: dynamic-partition append against the DDL-partitioned table
    val lake = tmpDir("cat-lake") + "/flights"
    ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    val n1 = LoadFctFlights.run(spark, wh, lake, 2024, 1, 1)
    assert(n1 == 4)
    assert(LoadFctFlights.run(spark, wh, lake, 2024, 1, 1) == 0) // replay appends zero

    // the catalog tracks the hive-style partition
    assert(wh.partitions("fct_flights").contains("flight_date_dim_id=20240101"))
    assert(wh.table(spark, "fct_flights")
      .filter(col("flight_date_dim_id") === 20240101).count() == 4)
  }

  test("insertInto aligns by name: a reordered projection cannot swap columns") {
    val wh = freshWarehouse("graft_whtest2")
    wh.createReferenceTables()
    val reordered = wh.table(spark, "dim_airports").sparkSession
      .createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("XVII", "Somewhere", 7)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("icao_code",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("airport_dim_id",
            org.apache.spark.sql.types.IntegerType))))
      .withColumn("iata_code", lit(null).cast("string"))
      .withColumn("country", lit(null).cast("string"))
      .withColumn("lat", lit(null).cast("float"))
      .withColumn("lon", lit(null).cast("float"))
      .withColumn("alt", lit(null).cast("smallint"))
    wh.append("dim_airports", reordered)
    val row = wh.table(spark, "dim_airports").collect()(0)
    assert(row.getAs[Int]("airport_dim_id") == 7)
    assert(row.getAs[String]("icao_code") == "XVII")
    assert(row.getAs[String]("name") == "Somewhere")
  }

  test("dynamic partition overwrite replaces only the partitions in the batch") {
    val wh = freshWarehouse("graft_whtest3")
    wh.createReferenceTables()
    import spark.implicits._
    def fct(dateKey: Int, n: Int) = (1 to n).map(i =>
      (i, new java.sql.Timestamp(day * 1000), 1, new java.sql.Timestamp(day * 1000), 2, dateKey))
      .toDF("aircraft_dim_id", "depart_ts", "depart_airport_dim_id",
        "arrival_ts", "arrival_airport_dim_id", "flight_date_dim_id")
    wh.append("fct_flights", fct(20240101, 3))
    wh.append("fct_flights", fct(20240102, 2))
    // overwrite ONLY the 0102 partition with one row
    wh.overwrite("fct_flights", fct(20240102, 1))
    val counts = wh.table(spark, "fct_flights").groupBy($"flight_date_dim_id")
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(20240101 -> 3L, 20240102 -> 1L))
  }

  test("DailyPipeline's concurrent branches match the sequential schedule (CatalogWarehouse)") {
    assertSameAsSequential(freshWarehouse("graft_whconc"), freshWarehouse("graft_whseq"))
  }

  test("a same-date DailyPipeline replay stays within its query-execution budget (CatalogWarehouse)") {
    val wh = freshWarehouse("graft_whbudget")
    val in = dailyInputs(DaySource, tmpDir("lake-budget") + "/flights")
    val p = dailyParams(java.time.LocalDate.of(2024, 1, 1))
    DailyPipeline.run(spark, wh, in, p)
    // the extract EXCEPT count, the aircrafts FK probe and the fact delta
    // count; the dims' fingerprints match their stamps
    val budget = 3
    val n = queryExecutions {
      assert(DailyPipeline.run(spark, wh, in, p) == DailyPipeline.Report(0L, false, 0L, false, 0L))
    }
    assert(n <= budget, s"a replay ran $n query executions, budget $budget")
  }

  private val stampDbs = new java.util.concurrent.atomic.AtomicInteger
  private def stampWarehouse(): Warehouse = freshWarehouse(s"graft_stamp${stampDbs.incrementAndGet()}")

  test("an unchanged dim rerun runs no query execution (CatalogWarehouse)") {
    assertUnchangedRerunsRunNothing(() => stampWarehouse())
  }

  test("a changed input file, row or plan rebuilds each dim (CatalogWarehouse)") {
    assertChangedInputsRebuild(() => stampWarehouse())
  }

  test("an outside write or a stale stamp rebuilds each dim (CatalogWarehouse)") {
    assertOutsideWritesAndStaleStampsRebuild(() => stampWarehouse())
  }

  test("an input that is neither a file scan nor a local relation always rebuilds (CatalogWarehouse)") {
    assertOpaqueInputsRebuild(() => stampWarehouse())
  }
}

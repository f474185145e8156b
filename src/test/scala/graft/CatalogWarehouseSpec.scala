package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType}
import graft.jobs._
import graft.schemas.Schemas

/** The S10-S12 surface: DDL-created managed tables in the session
  * catalog, `insertInto` appends with dynamic partitions, dim
  * overwrites, partition listings — the reference's Hive tier without a
  * metastore daemon (reference: create_hive_tbls.hql:1-48,
  * load_fct_flights.py:112-116, load_dim_airports.py:61-64) — plus the
  * daily run's schedule and the dims' build stamps on it.
  */
class CatalogWarehouseSpec extends SparkSpec with JobFixtures {
  import scala.jdk.CollectionConverters._

  test("DDL round-trip: dims overwrite, dates append, fact dynamic-partition append, replay zero") {
    val wh = freshWarehouse()
    Seq("dim_airports", "dim_dates", "dim_aircrafts", "fct_flights")
      .foreach(t => assert(spark.catalog.tableExists(s"${wh.db}.$t"), s"$t missing after DDL"))
    // the constructor ran the DDL; the daily run's DDL step then runs nothing
    assert(queryExecutions(wh.createReferenceTables()) == 0)

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
    val partitions = spark.sql(s"SHOW PARTITIONS ${wh.db}.fct_flights")
      .collect().map(_.getString(0)).toSeq
    assert(partitions.contains("flight_date_dim_id=20240101"))
    assert(wh.table(spark, "fct_flights")
      .filter(col("flight_date_dim_id") === 20240101).count() == 4)
  }

  test("insertInto aligns by name: a reordered projection cannot swap columns") {
    val wh = freshWarehouse()
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
    val wh = freshWarehouse()
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

  /** `DailyPipeline.run`'s five tasks called one by one in the DAG's
    * order: the sequential schedule the concurrent run must match.
    */
  private def sequentialRun(wh: CatalogWarehouse, in: DailyPipeline.Inputs,
                            p: DailyPipeline.Params): DailyPipeline.Report = {
    wh.createReferenceTables()
    val begin = p.dataDate.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val extracted = ExtractFlights.run(spark, in.source, in.lakeDir, p.airportIcao,
      begin, begin + 86399)
    val airportsRewritten = LoadDimAirports.run(spark, wh, in.airports)
    val datesAdded = LoadDimDates.run(spark, wh, p.dimDatesStart, p.dimDatesEnd)
    val lake =
      if (graft.ops.Fs.exists(in.lakeDir)) Some(ExtractFlights.readLake(spark, in.lakeDir))
      else None
    val aircraftsRewritten = LoadDimAircrafts.run(spark, wh,
      in.aircrafts, in.manufacturers, in.types, in.airlines, lake)
    val factRows = LoadFctFlights.run(spark, wh, in.lakeDir,
      p.dataDate.getYear, p.dataDate.getMonthValue, p.dataDate.getDayOfMonth)
    DailyPipeline.Report(extracted, airportsRewritten, datesAdded, aircraftsRewritten, factRows)
  }

  test("DailyPipeline's concurrent branches match the sequential schedule (CatalogWarehouse)") {
    // day 1, its replay and day 2 through `DailyPipeline.run` into one
    // warehouse and through sequentialRun into another: the Reports, the
    // four tables and the lake must all be equal
    val (concurrent, sequential) = (freshWarehouse(), freshWarehouse())
    val lakes = Seq.fill(2)(tmpDir("sched-lake") + "/flights")
    val day1 = java.time.LocalDate.of(2024, 1, 1)
    for ((date, step) <- Seq(day1 -> "day 1", day1 -> "replay", day1.plusDays(1) -> "day 2")) {
      val p = dailyParams(date)
      val got = DailyPipeline.run(spark, concurrent, dailyInputs(DaySource, lakes(0)), p)
      val want = sequentialRun(sequential, dailyInputs(DaySource, lakes(1)), p)
      assert(got == want, s"$step: concurrent $got, sequential $want")
    }
    Seq("dim_airports", "dim_dates", "dim_aircrafts", "fct_flights").foreach { t =>
      assert(graft.ops.IncrementalOps.sameContent(
        concurrent.table(spark, t), sequential.table(spark, t)), s"$t differs")
    }
    assert(graft.ops.IncrementalOps.sameContent(
      ExtractFlights.readLake(spark, lakes(0)), ExtractFlights.readLake(spark, lakes(1))),
      "lake differs")
  }

  test("a same-date DailyPipeline replay stays within its query-execution budget (CatalogWarehouse)") {
    val wh = freshWarehouse()
    val in = dailyInputs(DaySource, tmpDir("lake-budget") + "/flights")
    val p = dailyParams(java.time.LocalDate.of(2024, 1, 1))
    DailyPipeline.run(spark, wh, in, p)
    // the extract EXCEPT count, the aircrafts FK probe and the fact delta
    // count; the dims' fingerprints match their stamps, so no dim
    // rebuilds, compares or counts
    val budget = 3
    val n = queryExecutions {
      assert(DailyPipeline.run(spark, wh, in, p) == DailyPipeline.Report(0L, false, 0L, false, 0L))
    }
    assert(n <= budget, s"a replay ran $n query executions, budget $budget")
  }

  // --- dim build stamps (CatalogWarehouse.skipIfBuilt) ---

  /** The same database as `wh`, but records no build: a crash between a
    * dim's publish and its stamp.
    */
  private final class NoRecordWarehouse(wh: CatalogWarehouse)
      extends CatalogWarehouse(spark, wh.db) {
    override def recordBuild(table: String, fingerprint: String): Unit = ()
  }

  /** The aircrafts fixture (plus `extra` rows) as one CSV file at `file`,
    * read back: a file-scan leaf. NULL is written as the empty field the
    * reader turns back into NULL.
    */
  private def aircraftsCsv(file: String, extra: Seq[Row] = Nil): DataFrame = {
    val lines = (aircraftsDf.collect().toSeq ++ extra).map(
      _.toSeq.map(v => if (v == null) "" else v.toString).mkString(","))
    java.nio.file.Files.write(java.nio.file.Paths.get(file), lines.asJava)
    readAircraftsCsv(file)
  }

  private def readAircraftsCsv(file: String): DataFrame =
    spark.read.schema(Schemas.srcAircrafts).csv(file)

  private val extraAircraft: Row = Row("beef01", "D-ABCD", "BOE", "Boeing", "B737", "B738",
    "200", "7", "L2J", "Lufthansa Raw", "DLH", "DLH", "LH", "Lufthansa", null)

  private def loadAirports(wh: CatalogWarehouse,
                           raw: Seq[LoadDimAirports.RawAirport] = airports): Boolean =
    LoadDimAirports.run(spark, wh, raw)

  private def loadDates(wh: CatalogWarehouse, end: String = "2024-01-31"): Long =
    LoadDimDates.run(spark, wh, "2024-01-01", end)

  private def loadAircrafts(wh: CatalogWarehouse, aircrafts: DataFrame): Boolean =
    LoadDimAircrafts.run(spark, wh, aircrafts, manufacturersDf, typesDf, airlinesDf, None)

  /** `wh` and `fresh` hold the same rows in `table`. */
  private def assertSameDim(wh: CatalogWarehouse, fresh: CatalogWarehouse, table: String): Unit =
    assert(graft.ops.IncrementalOps.sameContent(wh.table(spark, table), fresh.table(spark, table)),
      s"$table differs from a fresh rebuild")

  test("an unchanged dim rerun runs no query execution (CatalogWarehouse)") {
    // the first load of each dim, into an empty warehouse, runs the full path
    val wh = freshWarehouse()
    val csv = tmpDir("stamp-ac") + "/aircrafts.csv"
    aircraftsCsv(csv)
    // every load re-reads the unchanged file: a new file index, the same files
    val loads: Seq[(String, CatalogWarehouse => Any)] = Seq(
      "dim_airports" -> (w => loadAirports(w)),
      "dim_dates" -> (w => loadDates(w)),
      "dim_aircrafts" -> (w => loadAircrafts(w, readAircraftsCsv(csv))))
    loads.foreach { case (t, load) =>
      assert(queryExecutions(load(wh)) > 0, s"$t: first load")
      assert(queryExecutions(load(wh)) == 0, s"$t: an unchanged rerun ran a query")
      assert(queryExecutions(load(wh)) == 0, s"$t: a second unchanged rerun ran a query")
    }
    assert(!loadAirports(wh) && loadDates(wh) == 0L && !loadAircrafts(wh, readAircraftsCsv(csv)))
  }

  test("a changed input file, row or plan rebuilds each dim (CatalogWarehouse)") {
    // each change takes the full path and leaves the dim as a fresh
    // rebuild of the new inputs
    val wh = freshWarehouse()
    val csv = tmpDir("stamp-ac") + "/aircrafts.csv"
    assert(loadAircrafts(wh, aircraftsCsv(csv)))
    // the same bytes with a new mtime: the full path, which finds it equal
    val f = java.nio.file.Paths.get(csv)
    java.nio.file.Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
      java.nio.file.Files.getLastModifiedTime(f).toMillis - 60000))
    val touched = readAircraftsCsv(csv)
    assert(queryExecutions(assert(!loadAircrafts(wh, touched))) > 0)
    assert(queryExecutions(loadAircrafts(wh, touched)) == 0)
    // a new length: one more aircraft
    val grown = aircraftsCsv(csv, Seq(extraAircraft))
    assert(loadAircrafts(wh, grown))
    val fresh1 = freshWarehouse()
    loadAircrafts(fresh1, grown)
    assertSameDim(wh, fresh1, LoadDimAircrafts.table)
    // a changed literal in the plan (a nullWords-style sentinel list)
    val remapped = grown.withColumn("model",
      graft.ops.CleanseOps.nullifyWords(col("model"), Seq("B737")))
    assert(loadAircrafts(wh, remapped))
    val fresh2 = freshWarehouse()
    loadAircrafts(fresh2, remapped)
    assertSameDim(wh, fresh2, LoadDimAircrafts.table)

    // airports: a changed input row
    assert(loadAirports(wh))
    val moved = airports.updated(0, airports.head.copy(alt = 365))
    assert(loadAirports(wh, moved))
    loadAirports(fresh1, moved)
    assertSameDim(wh, fresh1, LoadDimAirports.table)
    assert(queryExecutions(assert(!loadAirports(wh, moved))) == 0)

    // dates: a changed window end appends its new days, and going back
    // to the old window takes the full path again, appending nothing
    assert(loadDates(wh) == 31L)
    assert(loadDates(wh, "2024-02-29") == 29L)
    loadDates(fresh1, "2024-02-29")
    assertSameDim(wh, fresh1, LoadDimDates.table)
    assert(queryExecutions(assert(loadDates(wh) == 0L)) > 0)
    assert(queryExecutions(assert(loadDates(wh) == 0L)) == 0)
  }

  test("an outside write or a stale stamp rebuilds each dim (CatalogWarehouse)") {
    // a dim overwritten or appended to outside its job, or left with a
    // stale stamp by a crash between publish and stamp, takes the full
    // path and is left as a fresh rebuild
    val wh = freshWarehouse()
    val ref = freshWarehouse() // the fresh rebuild: the source of the outside writes
    val csv = tmpDir("stamp-ac") + "/aircrafts.csv"
    val ac = aircraftsCsv(csv)
    val grown = aircraftsCsv(tmpDir("stamp-ac2") + "/aircrafts.csv", Seq(extraAircraft))
    loadAirports(ref); loadDates(ref); loadAircrafts(ref, ac)
    def refRows(t: String) = ref.table(spark, t)

    for ((t, load) <- Seq[(String, CatalogWarehouse => Boolean)](
        LoadDimAirports.table -> (w => loadAirports(w)),
        LoadDimAircrafts.table -> (w => loadAircrafts(w, ac)))) {
      assert(load(wh), s"$t: first load")
      wh.append(t, refRows(t).limit(1))
      assert(load(wh), s"$t: an outside append must be undone")
      assertSameDim(wh, ref, t)
      wh.overwrite(t, refRows(t).limit(1))
      assert(load(wh), s"$t: an outside overwrite must be undone")
      assertSameDim(wh, ref, t)
      assert(!load(wh))
    }
    // a stale stamp: changed content published, the crash before its
    // stamp; the stored fingerprint is the current inputs' again
    assert(loadAirports(new NoRecordWarehouse(wh), airports.take(2)))
    assert(loadAirports(wh), "dim_airports: a stale stamp must not skip")
    assertSameDim(wh, ref, LoadDimAirports.table)
    assert(loadAircrafts(new NoRecordWarehouse(wh), grown))
    assert(loadAircrafts(wh, ac), "dim_aircrafts: a stale stamp must not skip")
    assertSameDim(wh, ref, LoadDimAircrafts.table)

    // dates append only: an outside overwrite that drops days gets them
    // back; an outside append and a stale stamp each take the full path
    val t = LoadDimDates.table
    assert(loadDates(wh) == 31L)
    wh.overwrite(t, refRows(t).filter(col("day") <= 10))
    assert(loadDates(wh) == 21L)
    assertSameDim(wh, ref, t)
    wh.append(t, refRows(t).filter(col("day") === 1))
    assert(queryExecutions(assert(loadDates(wh) == 0L)) > 0)
    assert(graft.ops.IncrementalOps.sameContent(wh.table(spark, t).distinct(), refRows(t)))
    wh.overwrite(t, refRows(t).filter(col("day") <= 10))
    assert(loadDates(new NoRecordWarehouse(wh)) == 21L)
    assert(queryExecutions(assert(loadDates(wh) == 0L)) > 0, "dim_dates: a stale stamp must not skip")
    assertSameDim(wh, ref, t)
    assert(queryExecutions(assert(loadDates(wh) == 0L)) == 0)
  }

  test("an input that is neither a file scan nor a local relation always rebuilds (CatalogWarehouse)") {
    // such an input has no fingerprint: every run takes the full path, and is right
    val wh = freshWarehouse()
    val fromRdd = spark.createDataFrame(aircraftsDf.rdd, Schemas.srcAircrafts)
    assert(graft.ops.IncrementalOps.fingerprint(fromRdd).isEmpty)
    assert(loadAircrafts(wh, fromRdd))
    for (_ <- 1 to 2) assert(queryExecutions(assert(!loadAircrafts(wh, fromRdd))) > 0)
    val fresh = freshWarehouse()
    loadAircrafts(fresh, aircraftsDf)
    assertSameDim(wh, fresh, LoadDimAircrafts.table)
  }
}

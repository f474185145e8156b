package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.jobs._
import graft.schemas.Schemas

/** Canned job fixtures (FIXTURES.md §1-§6), shared by the warehouse
  * round-trip specs (JobsSpec on ParquetWarehouse, CatalogWarehouseSpec
  * on the session catalog).
  */
trait JobFixtures { self: SparkSpec =>
  import scala.jdk.CollectionConverters._

  /** Two flights (one duplicated in-batch), one NULL-firstSeen row. */
  val day: Long = java.time.LocalDate.of(2024, 1, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  def flightRow(icao24: String, first: java.lang.Long, dep: String,
                last: java.lang.Long, arr: String): Row =
    Row(icao24, first, dep, last, arr, "CALL01",
      Integer.valueOf(200), Integer.valueOf(50), Integer.valueOf(300), Integer.valueOf(60),
      java.lang.Short.valueOf(1.toShort), java.lang.Short.valueOf(2.toShort))

  val departures = Seq(
    flightRow("3c6444", day + 3600, "EDDF", day + 7200, "EGLL"),
    flightRow("3c6444", day + 3600, "EDDF", day + 7200, "EGLL"), // in-batch dup
    flightRow("abc123", day + 9000, "EDDF", day + 12000, "LFPG"))

  val arrivals = Seq(
    flightRow("abc123", null, "EGLL", day + 5000, "EDDF"), // NULL firstSeen path
    // overnight arrival: departed Dec 31, landed Jan 1 — partitioned by
    // lastSeen, so its date key must be the RUN date (20240101), not the
    // depart date, or replay re-appends it forever
    flightRow("3c6444", day - 3600, "EGLL", day + 500, "EDDF"))

  object FixtureSource extends FlightSource {
    def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
      if (dir == "departure") departures else arrivals
  }

  /** The fixture flights moved to whatever day the run asks for, so
    * consecutive days each bring their own rows.
    */
  object DaySource extends FlightSource {
    def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
      FixtureSource.fetch(a, b, e, dir).map { r =>
        def shifted(i: Int): java.lang.Long =
          if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i) + b - day)
        Row.fromSeq(r.toSeq.updated(1, shifted(1)).updated(3, shifted(3)))
      }
  }

  val airports = Seq(
    LoadDimAirports.RawAirport("Frankfurt Main", "FRA", "EDDF", "Germany", 50.03, 8.57, 364),
    LoadDimAirports.RawAirport("Heathrow", "LHR", "EGLL", "United Kingdom", 51, 0, "-1"), // int lat + alt sentinel
    LoadDimAirports.RawAirport("Charles de Gaulle", "CDG", "LFPG", "France", 49.0, 2.55, 392))

  def aircraftsDf: DataFrame = {
    val rows = Seq(
      // normal row, operator_icao set
      Row("3c6444", "D-AIMA", "AIRB", "Airbus", "A380", "A388", "038", "12", "L2J",
        "Lufthansa Raw", "DLH", "DLH", "LH", "Lufthansa", null),
      // null-word cleansing + operator_iata fallback + unknown registration
      Row("abc123", "-UNKNOWN-", "BOE", "Boeing", "B777", "B77W", "100", "\tN/A", "L2J",
        "Fallback Air", "FBA", null, "ZZ", "Owner", null),
      // malformed: icao_designator too long -> filtered out
      Row("dead01", "X-BAD", "BAD", "Bad", "Bad", "TOOLONG", "1", "2", "L2J",
        null, null, null, null, null, null),
      // malformed: icao_type wrong length -> filtered out
      Row("dead02", "X-BAD2", "BAD", "Bad", "Bad", "B77W", "1", "2", "XXXX",
        null, null, null, null, null, null),
      // all-null row -> dropped
      Row(null, null, null, null, null, null, null, null, null,
        null, null, null, null, null, null))
    spark.createDataFrame(rows.asJava, Schemas.srcAircrafts)
  }

  def manufacturersDf: DataFrame = {
    val rows = Seq(
      Row("Code", "Name"), // header-ish first row, skipped by offset(1)
      Row("AIRB", "AIRBUS"),
      Row("BOE", "BOEING"))
    spark.createDataFrame(rows.asJava, Schemas.srcManufacturers)
  }

  def typesDf: DataFrame = {
    val rows = Seq(
      Row("LandPlane", "L2J", "A388", java.lang.Byte.valueOf(2.toByte), "Jet", "AIRB", "A-380-800", "H"),
      Row("LandPlane", "L2J", "A388", java.lang.Byte.valueOf(2.toByte), "Jet", "AIRB", "A-380-800", "H"), // dup
      Row("LandPlane", "L2J", "B77W", java.lang.Byte.valueOf(2.toByte), "Jet", "BOE", "B777-300ER", "H"))
    spark.createDataFrame(rows.asJava, Schemas.srcAircraftTypes)
  }

  def airlinesDf: DataFrame = {
    val rows = Seq(
      Row("Lufthansa", "LH", "DLH"),
      Row("NoIcao Air", "ZZ", null),
      Row("NoCode Air", null, "NCA"))
    spark.createDataFrame(rows.asJava, Schemas.srcAirlines)
  }

  def dailyInputs(source: FlightSource, lake: String): DailyPipeline.Inputs =
    DailyPipeline.Inputs(source, lake, airports,
      aircraftsDf, manufacturersDf, typesDf, airlinesDf)

  def dailyParams(date: java.time.LocalDate): DailyPipeline.Params =
    DailyPipeline.Params("EDDF", date,
      dimDatesStart = "2024-01-01", dimDatesEnd = "2024-01-31", retryDelayMs = 0L)

  /** `DailyPipeline.run`'s five tasks called one by one in the DAG's
    * order: the sequential schedule the concurrent run must match.
    */
  def sequentialRun(wh: Warehouse, in: DailyPipeline.Inputs,
                    p: DailyPipeline.Params): DailyPipeline.Report = {
    wh match {
      case cw: CatalogWarehouse => cw.createReferenceTables()
      case _                    => ()
    }
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

  /** Day 1, its replay and day 2 through `DailyPipeline.run` into
    * `concurrent`, and through [[sequentialRun]] into `sequential`: the
    * Reports, the four tables and the lake must all be equal.
    */
  def assertSameAsSequential(concurrent: Warehouse, sequential: Warehouse): Unit = {
    val lakes = Seq(concurrent, sequential).map(_ => tmpDir("sched-lake") + "/flights")
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

  // --- dim build stamps (Warehouse.skipIfBuilt), shared by both warehouses ---

  /** Forwards everything but records no build: a crash between a dim's
    * publish and its stamp.
    */
  final class NoRecordWarehouse(wh: Warehouse) extends Warehouse {
    def exists(t: String): Boolean = wh.exists(t)
    def table(s: org.apache.spark.sql.SparkSession, n: String): DataFrame = wh.table(s, n)
    def overwrite(n: String, df: DataFrame, parts: Seq[String]): Unit = wh.overwrite(n, df, parts)
    def append(n: String, df: DataFrame, parts: Seq[String]): Unit = wh.append(n, df, parts)
    override def builtFrom(t: String): Option[String] = wh.builtFrom(t)
  }

  /** The aircrafts fixture (plus `extra` rows) as one CSV file at `file`,
    * read back: a file-scan leaf. NULL is written as the empty field the
    * reader turns back into NULL.
    */
  def aircraftsCsv(file: String, extra: Seq[Row] = Nil): DataFrame = {
    val lines = (aircraftsDf.collect().toSeq ++ extra).map(
      _.toSeq.map(v => if (v == null) "" else v.toString).mkString(","))
    java.nio.file.Files.write(java.nio.file.Paths.get(file), lines.asJava)
    spark.read.schema(Schemas.srcAircrafts).csv(file)
  }

  val extraAircraft: Row = Row("beef01", "D-ABCD", "BOE", "Boeing", "B737", "B738",
    "200", "7", "L2J", "Lufthansa Raw", "DLH", "DLH", "LH", "Lufthansa", null)

  def loadAirports(wh: Warehouse, raw: Seq[LoadDimAirports.RawAirport] = airports): Boolean =
    LoadDimAirports.run(spark, wh, raw)

  def loadDates(wh: Warehouse, end: String = "2024-01-31"): Long =
    LoadDimDates.run(spark, wh, "2024-01-01", end)

  def loadAircrafts(wh: Warehouse, aircrafts: DataFrame): Boolean =
    LoadDimAircrafts.run(spark, wh, aircrafts, manufacturersDf, typesDf, airlinesDf, None)

  def readAircraftsCsv(file: String): DataFrame =
    spark.read.schema(Schemas.srcAircrafts).csv(file)

  /** `wh` and `fresh` hold the same rows in `table`. */
  def assertSameDim(wh: Warehouse, fresh: Warehouse, table: String): Unit =
    assert(graft.ops.IncrementalOps.sameContent(wh.table(spark, table), fresh.table(spark, table)),
      s"$table differs from a fresh rebuild")

  /** A rerun with nothing changed runs no query execution for any dim;
    * the first load of each, into an empty warehouse, runs the full path.
    */
  def assertUnchangedRerunsRunNothing(newWh: () => Warehouse): Unit = {
    val wh = newWh()
    val csv = tmpDir("stamp-ac") + "/aircrafts.csv"
    aircraftsCsv(csv)
    // every load re-reads the unchanged file: a new file index, the same files
    val loads: Seq[(String, Warehouse => Any)] = Seq(
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

  /** A changed input file, input row or plan literal takes the full path
    * and leaves each dim as a fresh rebuild of the new inputs.
    */
  def assertChangedInputsRebuild(newWh: () => Warehouse): Unit = {
    val wh = newWh()
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
    val fresh1 = newWh()
    loadAircrafts(fresh1, grown)
    assertSameDim(wh, fresh1, LoadDimAircrafts.table)
    // a changed literal in the plan (a nullWords-style sentinel list)
    val remapped = grown.withColumn("model",
      graft.ops.CleanseOps.nullifyWords(col("model"), Seq("B737")))
    assert(loadAircrafts(wh, remapped))
    val fresh2 = newWh()
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

  /** A dim overwritten or appended to outside its job, or left with a
    * stale stamp by a crash between publish and stamp, takes the full
    * path and is left as a fresh rebuild.
    */
  def assertOutsideWritesAndStaleStampsRebuild(newWh: () => Warehouse): Unit = {
    val wh = newWh()
    val ref = newWh() // the fresh rebuild: the source of the outside writes
    val csv = tmpDir("stamp-ac") + "/aircrafts.csv"
    val ac = aircraftsCsv(csv)
    val grown = aircraftsCsv(tmpDir("stamp-ac2") + "/aircrafts.csv", Seq(extraAircraft))
    loadAirports(ref); loadDates(ref); loadAircrafts(ref, ac)
    def refRows(t: String) = ref.table(spark, t)

    for ((t, load) <- Seq[(String, Warehouse => Boolean)](
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

  /** An input with a leaf that is neither a file scan nor a local relation
    * has no fingerprint: every run takes the full path, and is right.
    */
  def assertOpaqueInputsRebuild(newWh: () => Warehouse): Unit = {
    val wh = newWh()
    val fromRdd = spark.createDataFrame(aircraftsDf.rdd, Schemas.srcAircrafts)
    assert(graft.ops.IncrementalOps.fingerprint(fromRdd).isEmpty)
    assert(loadAircrafts(wh, fromRdd))
    for (_ <- 1 to 2) assert(queryExecutions(assert(!loadAircrafts(wh, fromRdd))) > 0)
    val fresh = newWh()
    loadAircrafts(fresh, aircraftsDf)
    assertSameDim(wh, fresh, LoadDimAircrafts.table)
  }

  /** Threads of `DailyPipeline.run`'s branches that are still alive. */
  def liveDailyThreads(): Set[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-daily-"))
      .map(_.getName).toSet
  }
}

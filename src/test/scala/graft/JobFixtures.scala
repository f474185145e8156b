package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.jobs._
import graft.schemas.Schemas

/** Canned job fixtures (FIXTURES.md §1-§6), shared by JobsSpec and
  * CatalogWarehouseSpec.
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

  /** A warehouse in a database of its own, named uniquely in the JVM. */
  def freshWarehouse(): CatalogWarehouse =
    new CatalogWarehouse(spark, s"graft_wh${JobFixtures.databases.incrementAndGet()}")
}

object JobFixtures {
  private val databases = new java.util.concurrent.atomic.AtomicInteger
}

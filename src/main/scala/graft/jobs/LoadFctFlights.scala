package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.IncrementalOps

/** Fact-table build: star joins + incremental partition append
  * (reference: load_fct_flights.py:9-116).
  *
  * One logical date per run: partition-pruned lake scan → renames →
  * derive depart/arrival timestamps + smart date key → three left
  * broadcast joins (airports twice, aliased; aircrafts once) →
  * positional column normalization → EXCEPT DISTINCT against the
  * already-loaded fact partition → dynamic-partition append.
  */
object LoadFctFlights {

  val table = "fct_flights"

  /** Final fact column order — the positional-subtract contract
    * (reference: load_fct_flights.py:92-100).
    */
  val factCols: Seq[String] = Seq(
    "aircraft_dim_id", "depart_ts", "depart_airport_dim_id",
    "arrival_ts", "arrival_airport_dim_id", "flight_date_dim_id")

  def transform(flights: DataFrame, dimAirports: DataFrame,
                dimAircrafts: DataFrame): DataFrame = {
    // flight_date_dim_id comes from the lake PARTITION columns, not from
    // depart_ts (reference: load_fct_flights.py:49-54). Arrival-direction
    // rows are partitioned by lastSeen, so an overnight flight keeps the
    // run-date key — deriving from depart_ts would give it the previous
    // day's key and escape the replay diff filter, re-appending forever.
    // NULL-driver rows sit in the Hive default partition → NULL key.
    val renamed = flights.withColumnsRenamed(Map(
      "icao24" -> "aircraft_icao24",
      "estDepartureAirport" -> "depart_airport_icao",
      "estArrivalAirport" -> "arrival_airport_icao"))
      .withColumn("depart_ts", timestamp_seconds(col("firstSeen")))
      .withColumn("arrival_ts", timestamp_seconds(col("lastSeen")))
      .withColumn("flight_date_dim_id",
        (col("flight_year").cast("int") * 10000
          + col("flight_month").cast("int") * 100
          + col("flight_day").cast("int")).as("flight_date_dim_id"))

    // J1/J2: the same airports dim joined for both flight endpoints —
    // aliased projections avoid ambiguous-column traps
    // (reference: load_fct_flights.py:61-77)
    val dep = dimAirports.select(
      col("icao_code").as("dep_icao"), col("airport_dim_id").as("depart_airport_dim_id"))
    val arr = dimAirports.select(
      col("icao_code").as("arr_icao"), col("airport_dim_id").as("arrival_airport_dim_id"))
    // J3 (reference: load_fct_flights.py:83-90)
    val acd = dimAircrafts.select(
      col("icao24_addr"), col("aircraft_dim_id"))

    renamed
      .join(broadcast(dep), col("depart_airport_icao") === col("dep_icao"), "left")
      .join(broadcast(arr), col("arrival_airport_icao") === col("arr_icao"), "left")
      .join(broadcast(acd), col("aircraft_icao24") === col("icao24_addr"), "left")
      .select(factCols.map(col): _*)
  }

  /** Returns rows appended for the given logical date. */
  def run(spark: SparkSession, wh: CatalogWarehouse, lakeDir: String,
          year: Int, month: Int, day: Int): Long = {
    // partition-pruned scan (reference: load_fct_flights.py:24-29)
    val flights = ExtractFlights.readLake(spark, lakeDir)
      .filter(col("flight_year") === year && col("flight_month") === month
        && col("flight_day") === day)

    val fact = transform(
      flights,
      wh.table(spark, "dim_airports"),
      wh.table(spark, "dim_aircrafts"))

    val dateDimId = year * 10000 + month * 100 + day
    // ALWAYS diff — the fact table pre-exists via DDL, as the reference's
    // does, so even the first load runs subtract-against-empty, whose
    // EXCEPT DISTINCT semantics collapse in-batch duplicates
    // (reference: load_fct_flights.py:102-105).
    // Deviation (documented): the partition filter also admits NULL date
    // keys — rows from the Hive default partition (NULL firstSeen/lastSeen
    // driver) would otherwise escape the diff and re-append every replay.
    val current = wh.table(spark, table)
      .filter(col("flight_date_dim_id") === dateDimId
        || col("flight_date_dim_id").isNull)
      .select(factCols.map(col): _*)
    val delta = IncrementalOps.exceptNew(fact, current)

    // empty-delta short-circuit (reference: load_fct_flights.py:107),
    // one count() instead of isEmpty followed by count()
    val n = delta.count()
    if (n > 0) wh.append(table, delta)
    n
  }
}

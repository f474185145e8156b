package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CleanseOps, IncrementalOps, KeyOps}

/** Aircrafts dimension build (reference: load_dim_aircrafts.py:9-134,
  * cleansing 137-224, FK assert 227-251).
  *
  * Inputs (already read with explicit schemas — Schemas.srcAircrafts /
  * srcManufacturers / srcAircraftTypes / srcAirlines): the OpenSky
  * aircraft DB, doc8643 manufacturers + types, FR24 airlines.
  *
  * Shape: cleanse sentinel words → filter malformed designators → drop
  * all-null rows → left-join manufacturers, types, and the unpivoted
  * airlines identifiers → airline-name fallback → surrogate key →
  * referential-integrity check against the flights lake → overwrite.
  */
object LoadDimAircrafts {

  val table = "dim_aircrafts"

  /** Sentinel words canonicalized to NULL
    * (reference: load_dim_aircrafts.py:167-173).
    */
  val nullWords: Map[String, Seq[String]] = Map(
    "line_num" -> Seq("\tN/A", "-", "n/a"),
    "registration" -> Seq("-UNKNOWN-"))

  /** Cleanse pass — same ORDER as the reference
    * (load_dim_aircrafts.py:157-173): drop the four unused columns, THEN
    * drop all-null rows, THEN the malformed-designator filters, THEN
    * sentinel→NULL. Order matters at the margins: a row whose only
    * content is a sentinel word survives (as not-all-null) because the
    * remap runs last, and a row non-null only in the dropped columns is
    * discarded because the column drop runs first.
    */
  def cleanse(aircrafts: DataFrame): DataFrame = {
    val trimmed = aircrafts
      .drop("manufacturer_name", "operator_callsign", "owner", "note")
      .na.drop("all")
      .where("length(icao_designator) <= 4 OR icao_designator IS NULL")
      .where("length(icao_type) = 3 OR icao_type IS NULL")
    nullWords.foldLeft(trimmed) { case (df, (c, words)) =>
      df.withColumn(c, CleanseOps.nullifyWords(col(c), words))
    }
  }

  /** Wide→long airline identifiers (reference: load_dim_aircrafts.py:
    * 209-224): (Name, Code, ICAO) → (operating_airline, identifier),
    * deduplicated.
    */
  def unpivotAirlines(airlines: DataFrame): DataFrame =
    airlines
      .withColumnRenamed("Name", "operating_airline")
      .unpivot(
        Array(col("operating_airline")),
        Array(col("Code"), col("ICAO")),
        "code_type", "identifier")
      .drop("code_type")
      .dropDuplicates()

  /** Aircraft-types projection + dedup (reference: load_dim_aircrafts.py:
    * 189-206 — note the join key is the `Description` column, e.g.
    * "L2J", renamed icao_type_code; `Designator` is unused).
    */
  def prepareTypes(types: DataFrame): DataFrame =
    types.select(
      col("Description").as("icao_type_code"),
      col("AircraftDescription").as("aircraft_type"),
      col("EngineCount").as("engine_cnt"),
      col("EngineType").as("engine_type"))
      .dropDuplicates()

  /** Manufacturers with the header-ish first row skipped
    * (reference: load_dim_aircrafts.py:184-187 `.offset(1)`). Callers
    * pass the CSV in file order.
    */
  def prepareManufacturers(manufacturers: DataFrame): DataFrame =
    manufacturers.offset(1)
      .withColumnsRenamed(Map("Code" -> "mfr_code", "Name" -> "manufacturer"))

  def build(aircrafts: DataFrame, manufacturers: DataFrame,
            types: DataFrame, airlines: DataFrame): DataFrame = {
    val base = cleanse(aircrafts)
      // J4 (reference: load_dim_aircrafts.py:77-84)
      .join(broadcast(prepareManufacturers(manufacturers)),
        col("manufacturer_code") === col("mfr_code"), "left")
      // J5 (reference: load_dim_aircrafts.py:86-93)
      .join(broadcast(prepareTypes(types)),
        col("icao_type") === col("icao_type_code"), "left")

    // operator identifier priority pick (reference: :176-179), then J6 +
    // name fallback when the airline lookup missed (reference: :95-115)
    val withAirline = base
      .withColumn("operator_identifier",
        CleanseOps.firstNonNull(col("operator_icao"), col("operator_iata")))
      .join(broadcast(unpivotAirlines(airlines)),
        col("operator_identifier") === col("identifier"), "left")
      .withColumn("operating_airline",
        CleanseOps.lookupOrFallback(
          col("identifier"), col("operating_airline"), col("operator_name")))

    KeyOps.surrogateKey(withAirline, "aircraft_dim_id", "icao24_addr")
      .select(
        col("aircraft_dim_id"), col("icao24_addr"), col("registration"),
        col("operating_airline"), col("manufacturer"), col("model"),
        col("serial_num"), col("line_num"), col("icao_designator"),
        col("icao_type"), col("aircraft_type"), col("engine_cnt"),
        col("engine_type"))
  }

  /** FK-integrity probe (reference: load_dim_aircrafts.py:227-251 — left
    * join + NULL count; idiomatically a left-anti join): flights whose
    * icao24 has no dim row. Empty ⇒ safe to publish.
    */
  def fkViolations(flights: DataFrame, dim: DataFrame): DataFrame =
    flights.select(col("icao24")).na.drop()
      .join(dim, col("icao24") === col("icao24_addr"), "left_anti")

  /** Returns true when the dim was (re)written.
    *
    * Check order: rebuild, compare with the stored dim, FK-probe the dim
    * that will be published, and only then overwrite. When the content is
    * unchanged the probe runs on the stored table, which the exact
    * [[IncrementalOps.sameContent]] check has just shown equal to the
    * rebuild; when it changed, the probe runs on the rebuild. A failed
    * probe aborts before any write either way.
    *
    * A run whose rebuild has the fingerprint recorded with the stored
    * dim, its files unwritten since, skips the rebuild and the compare
    * ([[CatalogWarehouse.skipIfBuilt]]): the probe runs on the stored dim, the
    * run's one Spark action, and nothing is written.
    * @param flightsLake current flights (for the FK assert); None skips
    *                    the check (first load, empty lake). Taken by name
    *                    and evaluated once, only after the compare, so a
    *                    caller can overlap the rebuild and compare with
    *                    the extract that feeds the lake.
    */
  def run(spark: SparkSession, wh: CatalogWarehouse,
          aircrafts: DataFrame, manufacturers: DataFrame,
          types: DataFrame, airlines: DataFrame,
          flightsLake: => Option[DataFrame]): Boolean = {
    def probe(published: DataFrame): Unit =
      flightsLake.foreach { fl => // the one evaluation of the by-name lake
        val violations = fkViolations(fl, published)
        require(violations.isEmpty,
          s"dim_aircrafts FK check failed: ${violations.count()} flight icao24s missing from dim")
      }

    val dim = build(aircrafts, manufacturers, types, airlines)
    val stored = wh.table(spark, table)
    CatalogWarehouse.skipIfBuilt(wh, table, dim)(unchanged = { probe(stored); false }) {
      val changed = !IncrementalOps.sameContent(dim, stored)
      probe(if (changed) dim else stored)
      if (changed) wh.overwrite(table, dim)
      changed
    }
  }
}

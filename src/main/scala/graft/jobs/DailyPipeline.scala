package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The composed daily run — the Spark-native rendition of the
  * reference's Airflow DAG (reference: flights_daily.py:148-150):
  *
  * {{{
  *   [upload_local, create_hive_tbls] >> load_dim_tables >> load_fct_flights
  *   extract_flights                  >>                    load_fct_flights
  * }}}
  *
  * One driver invocation per logical date, tasks in dependency order.
  * Airflow task semantics map to plain library behavior:
  *
  *   - '''skip-if-done''': every task is idempotent against its own
  *     store (the extract diffs against the lake partition, the dims
  *     skip unchanged content, dim_dates appends only missing days, the
  *     fact load replays to zero rows) — re-invoking the whole pipeline
  *     for the same date writes nothing anywhere, which is exactly the
  *     reference's AirflowSkipException / count-short-circuit behavior
  *     without a scheduler in the loop.
  *   - '''retries''': the reference puts retries=5, 10 s apart, on the
  *     one task with an external dependency — the API extract
  *     (flights_daily.py:57-58). [[retry]] wraps exactly that seam;
  *     everything downstream is deterministic and fails fast.
  *   - '''DDL''': create_hive_tbls.hql maps to
  *     [[CatalogWarehouse.createReferenceTables]] (idempotent CREATE
  *     TABLE IF NOT EXISTS); warehouses that create tables on first
  *     write need no DDL step.
  *
  * At the daily sizes the run's cost is per-action overhead, not data,
  * so each decision costs one Spark action: the extract counts its
  * fetched rows on the driver, each dim compares rebuild and stored
  * content in one pass ([[graft.ops.IncrementalOps.sameContent]]), the
  * aircrafts FK probe runs on whichever dim will be published, the fact
  * load decides on one `count()`, and every lake read pins its schema
  * ([[ExtractFlights.readLake]]) so no read launches an inference job.
  */
object DailyPipeline {

  /** Static inputs of one logical date: the flight source seam plus the
    * reference's five local reference files, already parsed
    * (flights_daily.py:62-99 uploads them verbatim; parsing them is the
    * dim jobs' first step either way).
    */
  final case class Inputs(
      source: FlightSource,
      lakeDir: String,
      airports: Seq[LoadDimAirports.RawAirport],
      aircrafts: DataFrame,
      manufacturers: DataFrame,
      types: DataFrame,
      airlines: DataFrame)

  /** Run parameters: the DAG's template fields (airport_icao Variable,
    * data_interval date) plus the dim_dates prepopulation window
    * (flights_daily.py:131 pins 2018-01-01..2028-01-01).
    */
  final case class Params(
      airportIcao: String,
      dataDate: java.time.LocalDate,
      dimDatesStart: String = "2018-01-01",
      dimDatesEnd: String = "2028-01-01",
      extractRetries: Int = 5,
      retryDelayMs: Long = 10000L)

  /** Per-task outcome of one run. Each field is that task's own
    * "did anything change" signal, so a same-date replay asserts
    * all-zero/false across the board.
    */
  final case class Report(
      extractedRows: Long,
      airportsRewritten: Boolean,
      datesAdded: Long,
      aircraftsRewritten: Boolean,
      factRows: Long)

  /** Re-run `f` up to `retries` extra times (Airflow counts retries on
    * top of the first attempt), sleeping `delayMs` between attempts.
    */
  private[jobs] def retry[T](retries: Int, delayMs: Long)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case t: Throwable =>
          attempt += 1
          if (attempt > retries) throw t
          System.err.println(
            s"[daily] extract attempt $attempt/${retries + 1} failed: ${t.getMessage}; retrying")
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    sys.error("unreachable")
  }

  def run(spark: SparkSession, wh: Warehouse, in: Inputs, p: Params): Report = {
    // DDL before any dim load (the DAG's create_hive_tbls edge)
    wh match {
      case cw: CatalogWarehouse => cw.createReferenceTables()
      case _                    => ()
    }
    val begin = p.dataDate.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val end = begin + 86399
    // the extract branch — the only retried task (external API seam)
    val extractedRows = retry(p.extractRetries, p.retryDelayMs) {
      ExtractFlights.run(spark, in.source, in.lakeDir, p.airportIcao, begin, end)
    }
    // the dim task group (parallel in the DAG; sequential here — same
    // cluster either way, Spark schedules within each job)
    val airportsRewritten = LoadDimAirports.run(spark, wh, in.airports)
    val datesAdded = LoadDimDates.run(spark, wh, p.dimDatesStart, p.dimDatesEnd)
    // the aircrafts dim FK-checks against the lake the extract just fed —
    // the DAG's extract→fact edge starts binding here
    val flightsLake =
      if (graft.ops.Fs.exists(in.lakeDir)) Some(ExtractFlights.readLake(spark, in.lakeDir))
      else None
    val aircraftsRewritten = LoadDimAircrafts.run(spark, wh,
      in.aircrafts, in.manufacturers, in.types, in.airlines, flightsLake)
    // fact last: depends on BOTH branches (dims for the FK joins, the
    // extract for the day's partition)
    val factRows = LoadFctFlights.run(spark, wh, in.lakeDir,
      p.dataDate.getYear, p.dataDate.getMonthValue, p.dataDate.getDayOfMonth)
    Report(extractedRows, airportsRewritten, datesAdded, aircraftsRewritten, factRows)
  }
}

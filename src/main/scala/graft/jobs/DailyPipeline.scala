package graft.jobs

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The composed daily run — the Spark-native rendition of the
  * reference's Airflow DAG (reference: flights_daily.py:148-150):
  *
  * {{{
  *   [upload_local, create_hive_tbls] >> load_dim_tables >> load_fct_flights
  *   extract_flights                  >>                    load_fct_flights
  * }}}
  *
  * One driver invocation per logical date, run as the DAG declares it:
  * the extract, dim_airports and dim_dates each run on a thread of the
  * run's own while dim_aircrafts runs on the calling thread, and the fact
  * load runs last, once every branch has succeeded. The aircrafts dim
  * rebuilds and compares while the extract runs; only its FK probe waits
  * for the extract, because it reads the lake the extract feeds — the one
  * edge graft adds to the reference DAG. The run joins every branch
  * before it returns or throws, so no write is in flight once it exits,
  * and then rethrows the first failure in DAG order (extract, airports,
  * dates, aircrafts) as thrown. An interrupt of the calling thread does
  * not cut the joins short: they wait for the branches, then set the
  * thread's interrupt flag again. A failed extract keeps the
  * aircrafts dim and the fact table unwritten, while airports and dates
  * may still publish, as load_dim_tables does in the reference.
  *
  * Airflow task semantics map to plain library behavior:
  *
  *   - '''skip-if-done''': every task is idempotent against its own
  *     store (the extract diffs against the lake partitions its batch
  *     touches, the dims skip unchanged content, dim_dates appends only
  *     missing days, the fact load replays to zero rows) — re-invoking
  *     the whole pipeline for the same date writes nothing anywhere,
  *     which is exactly the reference's AirflowSkipException /
  *     count-short-circuit behavior without a scheduler in the loop.
  *     A dim runs no Spark action at all when its build's fingerprint
  *     (inputs, their files and the plan) is the one recorded with the
  *     stored table and no file of the table was written since
  *     ([[CatalogWarehouse.skipIfBuilt]]): airports and dates then only report
  *     "unchanged", and aircrafts runs just its FK probe, on the stored
  *     dim. Any mismatch takes the dim's full path below.
  *   - '''retries''': the reference puts retries=5, 10 s apart, on the
  *     one task with an external dependency — the API extract
  *     (flights_daily.py:57-58). [[retry]] wraps exactly that seam;
  *     everything downstream is deterministic and fails fast.
  *   - '''DDL''': create_hive_tbls.hql maps to
  *     [[CatalogWarehouse.createReferenceTables]] (idempotent CREATE
  *     TABLE IF NOT EXISTS), the only way the warehouse's tables are
  *     created.
  *
  * At the daily sizes the run's cost is per-action overhead, not data,
  * so each decision costs one Spark action at most: the extract counts
  * its fetched rows on the driver, a dim whose stamp does not match
  * compares rebuild and stored content in one pass
  * ([[graft.ops.IncrementalOps.sameContent]]), the
  * aircrafts FK probe runs on whichever dim will be published, the fact
  * load decides on one `count()`, and every lake read pins its schema
  * ([[ExtractFlights.readLake]]) so no read launches an inference job.
  * For the same reason the branches overlap: one branch's driver-side
  * planning and job launches fill the time another waits on its jobs.
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
    * Only non-fatal failures are retried: a VM error, an interrupt or any
    * other fatal throwable is rethrown at once.
    */
  private[jobs] def retry[T](retries: Int, delayMs: Long)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case NonFatal(t) =>
          attempt += 1
          if (attempt > retries) throw t
          System.err.println(
            s"[daily] extract attempt $attempt/${retries + 1} failed: ${t.getMessage}; retrying")
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    sys.error("unreachable")
  }

  /** Catches every throwable, fatal ones too: a branch's outcome must
    * reach the join whatever it is.
    */
  private def outcomeOf[T](f: => T): Try[T] =
    try Success(f) catch { case t: Throwable => Failure(t) }

  /** One DAG branch on its own daemon thread, `graft-daily-<name>`. The
    * thread is created by the caller, so it inherits the caller's Spark
    * local properties (job group, description, scheduler pool).
    */
  private final class Branch[T](name: String)(f: => T) {
    @volatile private var outcome: Try[T] = _
    private val thread = new Thread(() => outcome = outcomeOf(f), s"graft-daily-$name")
    thread.setDaemon(true)
    thread.start()

    /** Waits for the branch to finish; joining again returns at once. An
      * interrupt does not cut the wait short: it is kept for the caller
      * and raised again once the branch is done.
      */
    def join(): Try[T] = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join()
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      outcome
    }
  }

  def run(spark: SparkSession, wh: CatalogWarehouse, in: Inputs, p: Params): Report = {
    // DDL before any dim load (the DAG's create_hive_tbls edge)
    wh.createReferenceTables()
    val begin = p.dataDate.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val end = begin + 86399
    // the extract branch — the only retried task (external API seam) —
    // beside the dim task group
    val extract = new Branch("extract")(retry(p.extractRetries, p.retryDelayMs) {
      ExtractFlights.run(spark, in.source, in.lakeDir, p.airportIcao, begin, end)
    })
    val airports = new Branch("dim-airports")(LoadDimAirports.run(spark, wh, in.airports))
    val dates = new Branch("dim-dates")(LoadDimDates.run(spark, wh, p.dimDatesStart, p.dimDatesEnd))
    val aircrafts = outcomeOf {
      LoadDimAircrafts.run(spark, wh,
        in.aircrafts, in.manufacturers, in.types, in.airlines, {
          // evaluated after the aircrafts compare: the FK probe reads the
          // lake the extract feeds, so it waits for the extract
          extract.join().get
          if (graft.ops.Fs.exists(in.lakeDir)) Some(ExtractFlights.readLake(spark, in.lakeDir))
          else None
        })
    }
    Seq(extract, airports, dates).foreach(_.join())
    // every branch has finished: rethrow the first failure in DAG order
    val extractedRows = extract.join().get
    val airportsRewritten = airports.join().get
    val datesAdded = dates.join().get
    val aircraftsRewritten = aircrafts.get
    // fact last: depends on BOTH branches (dims for the FK joins, the
    // extract for the day's partition)
    val factRows = LoadFctFlights.run(spark, wh, in.lakeDir,
      p.dataDate.getYear, p.dataDate.getMonthValue, p.dataDate.getDayOfMonth)
    Report(extractedRows, airportsRewritten, datesAdded, aircraftsRewritten, factRows)
  }
}

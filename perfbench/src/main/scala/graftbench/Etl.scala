package graftbench

import java.time.{LocalDate, ZoneOffset}

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.jobs._
import graft.schemas.Schemas

/** The paper's `@daily` DAG: `DailyPipeline.run` over consecutive
  * logical dates for one airport into a `CatalogWarehouse`, each day
  * followed by a same-date replay.
  */
object Etl {
  val Airport = "EDDF"
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)

  /** Flight feed from the generated `flights.csv`: rows of one direction
    * whose partition-driving column (firstSeen for departures, lastSeen
    * for arrivals) falls in the requested window.
    */
  final class FileFlightSource(path: String) extends FlightSource {
    private val byDir: Map[String, Seq[(Long, Row)]] = {
      val src = Source.fromFile(path, "UTF-8")
      try src.getLines().map(_.split(",", -1)).toSeq.map { f =>
        def str(i: Int): String = if (f(i).isEmpty) null else f(i)
        val row = Row(str(2), f(3).toLong, str(4), f(5).toLong, str(6), str(7),
          f(8).toInt, f(9).toInt, f(10).toInt, f(11).toInt,
          f(12).toShort, f(13).toShort)
        val driver = if (f(1) == "departure") f(3).toLong else f(5).toLong
        f(1) -> (driver, row)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      finally src.close()
    }

    def fetch(airportIcao: String, beginTs: Long, endTs: Long,
              direction: String): Seq[Row] = {
      require(airportIcao == Airport, s"the feed covers $Airport only")
      byDir.getOrElse(direction, Nil).collect {
        case (t, r) if t >= beginTs && t <= endTs => r
      }
    }
  }

  /** Airports as the FR24 JSON delivers them: int-or-float coordinates
    * and the "-1" altitude sentinel, left for the job to normalise.
    */
  def airports(path: String): Seq[LoadDimAirports.RawAirport] = {
    def num(s: String): Any = if (s.contains('.')) s.toDouble else s.toInt
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split(",", -1)).map { f =>
      LoadDimAirports.RawAirport(f(0), f(1), f(2), f(3), num(f(4)), num(f(5)),
        if (f(6) == "-1") "-1" else f(6).toInt)
    }.toIndexedSeq
    finally src.close()
  }

  /** The pipeline's inputs over the generated files in `dir`. The CSVs
    * are read, not cached: the job re-reads its reference files every day,
    * as the reference DAG does.
    */
  def inputs(spark: SparkSession, dir: String, lakeDir: String): DailyPipeline.Inputs = {
    def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).csv(s"$dir/$name.csv")
    DailyPipeline.Inputs(
      source = new FileFlightSource(s"$dir/flights.csv"),
      lakeDir = lakeDir,
      airports = airports(s"$dir/airports.csv"),
      aircrafts = csv("aircrafts", Schemas.srcAircrafts),
      manufacturers = csv("manufacturers", Schemas.srcManufacturers),
      types = csv("types", Schemas.srcAircraftTypes),
      airlines = csv("airlines", Schemas.srcAirlines))
  }

  def params(day: Int): DailyPipeline.Params =
    DailyPipeline.Params(Airport, FirstDay.plusDays(day), retryDelayMs = 0L)

  /** `DailyPipeline.run`'s five tasks, called one by one in its order,
    * each inside a span of the `jobs` layer. Yields the same Report.
    */
  def tracedRun(spark: SparkSession, wh: CatalogWarehouse,
                in: DailyPipeline.Inputs, p: DailyPipeline.Params,
                t: Tracer): DailyPipeline.Report = {
    wh.createReferenceTables()
    val begin = p.dataDate.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val extracted = t.span("jobs.extract") {
      ExtractFlights.run(spark, in.source, in.lakeDir, p.airportIcao, begin, begin + 86399)
    }
    val airports = t.span("jobs.dim_airports")(LoadDimAirports.run(spark, wh, in.airports))
    val dates = t.span("jobs.dim_dates") {
      LoadDimDates.run(spark, wh, p.dimDatesStart, p.dimDatesEnd)
    }
    val lake =
      if (graft.ops.Fs.exists(in.lakeDir)) Some(spark.read.parquet(in.lakeDir))
      else None
    val aircrafts = t.span("jobs.dim_aircrafts") {
      LoadDimAircrafts.run(spark, wh, in.aircrafts, in.manufacturers,
        in.types, in.airlines, lake)
    }
    val facts = t.span("jobs.fct_flights") {
      LoadFctFlights.run(spark, wh, in.lakeDir, p.dataDate.getYear,
        p.dataDate.getMonthValue, p.dataDate.getDayOfMonth)
    }
    DailyPipeline.Report(extracted, airports, dates, aircrafts, facts)
  }

  def reportJson(day: Int, replay: Boolean, r: DailyPipeline.Report): String =
    s"""{"day":$day,"replay":$replay,"extracted":${r.extractedRows},""" +
      s""""airports_rewritten":${r.airportsRewritten},"dates_added":${r.datesAdded},""" +
      s""""aircrafts_rewritten":${r.aircraftsRewritten},"fact_rows":${r.factRows}}"""
}

/** One daily ETL store: a fresh warehouse database and flights lake. */
final class EtlState(spark: SparkSession, inputDir: String, workDir: String, tag: String) {
  val wh = new CatalogWarehouse(spark, s"etl_$tag")
  val in: DailyPipeline.Inputs = Etl.inputs(spark, inputDir, s"$workDir/lake_$tag")
  /** Next logical day (0 = Etl.FirstDay). */
  var nextDay = 0
  /** (day, replay, report) of every run, in order. */
  val reportsOf = scala.collection.mutable.ArrayBuffer[(Int, Boolean, DailyPipeline.Report)]()
  var dimRebuilds, dimRewrites = 0

  def reports: Seq[String] = reportsOf.map { case (d, r, rep) => Etl.reportJson(d, r, rep) }.toSeq

  /** One pipeline run for `day`, traced or not. */
  def run(day: Int, replay: Boolean, t: Tracer): DailyPipeline.Report = {
    val p = Etl.params(day)
    val r =
      if (t.isEnabled) Etl.tracedRun(spark, wh, in, p, t)
      else DailyPipeline.run(spark, wh, in, p)
    reportsOf += ((day, replay, r))
    dimRebuilds += 2
    dimRewrites += Seq(r.airportsRewritten, r.aircraftsRewritten).count(identity)
    r
  }

  def database: String = s"etl_$tag"
}

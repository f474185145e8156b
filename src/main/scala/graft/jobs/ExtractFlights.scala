package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType}
import graft.ops.IncrementalOps
import graft.schemas.Schemas

/** Flight-record source seam. The reference fetches from the OpenSky
  * REST API on the driver (reference: extract_flights.py:103-117) —
  * driver-side I/O either way, so a trait keeps semantics identical
  * while letting tests inject fixtures.
  */
trait FlightSource {
  /** Raw rows shaped like Schemas.srcFlights MINUS the three derived
    * partition columns (they are computed by the job).
    */
  def fetch(airportIcao: String, beginTs: Long, endTs: Long, direction: String): Seq[Row]
}

/** Daily flight extract → partitioned parquet lake, idempotent append
  * (reference: extract_flights.py:14-100).
  *
  * Pipeline: per direction fetch → explicit-schema DataFrame → NULL
  * check on the partition-driving column → derive flight_ts + y/m/d →
  * unionByName accumulate → diff against the lake partitions the batch
  * touches → append only the delta. Re-running a day appends zero rows.
  *
  * Diff scope: the partitions are derived from each row's own driver
  * timestamp, so a batch may touch more than the run date — the Hive
  * default partition for NULL-driver rows, or a neighbouring day. The
  * run works out that set on the driver from the fetched rows and the
  * EXCEPT DISTINCT reads exactly those lake partitions, so every row of
  * a replayed batch meets its stored copy.
  *
  * The reference's count-equality short-circuit (extract_flights.py:82-84)
  * is left out: a partition can hold other days' rows (the NULL
  * partition always does), so an equal count proves nothing about which
  * rows are stored and would skip new ones silently. The EXCEPT's own
  * count decides instead — one Spark action on a replay, as the count
  * was, and one rather than two on a new day.
  */
object ExtractFlights {

  val directions = Seq("departure", "arrival")

  /** Column driving partition derivation per direction
    * (reference: extract_flights.py:45-46 — firstSeen for departures,
    * lastSeen for arrivals).
    */
  def partitionDriver(direction: String): String =
    if (direction == "departure") "firstSeen" else "lastSeen"

  /** The API payload shape: srcFlights minus the derived partition cols. */
  val apiSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Schemas.srcFlights.fields.dropRight(3))

  /** The flights lake as stored, read with the schema pinned to
    * Schemas.srcFlights: no Parquet schema-inference job per read, and
    * the partition columns come back as the SMALLINT/TINYINT the extract
    * writes rather than as inferred INT.
    */
  def readLake(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.schema(Schemas.srcFlights).parquet(lakeDir)

  def derivePartitionCols(df: DataFrame, driver: String): DataFrame =
    df.withColumn("__ts", timestamp_seconds(col(driver)))
      .withColumn("flight_year", year(col("__ts")).cast(ShortType))
      .withColumn("flight_month", month(col("__ts")).cast(ByteType))
      .withColumn("flight_day", dayofmonth(col("__ts")).cast(ByteType))
      .drop("__ts")

  /** Selects the lake rows in `parts`, each (year, month, day); None is
    * the Hive default partition that rows with a NULL driver land in.
    */
  private def inPartitions(parts: Iterable[Option[(Int, Int, Int)]]): Column =
    parts.map {
      case Some((y, m, d)) =>
        col("flight_year") === y && col("flight_month") === m && col("flight_day") === d
      case None => col("flight_year").isNull
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Runs the extract; returns the number of rows appended. */
  def run(spark: SparkSession, source: FlightSource, lakeDir: String,
          airportIcao: String, beginTs: Long, endTs: Long): Long = {
    import scala.jdk.CollectionConverters._

    // empty-seed accumulator with the full schema
    // (reference: extract_flights.py:29, 66 — unionByName into empty DF)
    var acc = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Schemas.srcFlights)

    // the fetched rows are already on the driver: count them and find the
    // partitions they touch there, in the session time zone
    // derivePartitionCols uses
    val zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    var batchSize = 0L
    val batchParts = directions.flatMap { dir =>
      val rows = source.fetch(airportIcao, beginTs, endTs, dir)
      val driver = partitionDriver(dir)
      val driverIdx = apiSchema.fieldIndex(driver)
      val nullCnt = rows.count(_.isNullAt(driverIdx))
      if (nullCnt > 0)
        System.err.println(
          s"[extract] WARN: $nullCnt $dir rows have NULL $driver; they land in the null partition")
      batchSize += rows.size
      acc = acc.unionByName(
        derivePartitionCols(spark.createDataFrame(rows.asJava, apiSchema), driver))
      rows.map { r =>
        if (r.isNullAt(driverIdx)) None
        else {
          val t = java.time.Instant.ofEpochSecond(r.getLong(driverIdx)).atZone(zone)
          Some((t.getYear, t.getMonthValue, t.getDayOfMonth))
        }
      }
    }.toSet

    // Hadoop-FS probe, not java.io.File — the lake may be hdfs://, s3a://
    // (reference: extract_flights.py:68-79)
    val lakeExists = graft.ops.Fs.exists(lakeDir)
    val (delta, n) =
      if (!lakeExists) (acc, batchSize)
      else {
        val fresh = IncrementalOps.exceptNew(acc,
          readLake(spark, lakeDir).filter(inPartitions(batchParts)))
        (fresh, fresh.count())
      }

    if (n > 0)
      delta.write.mode("append")
        .partitionBy("flight_year", "flight_month", "flight_day")
        .parquet(lakeDir)
    n
  }
}

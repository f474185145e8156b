package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The warehouse: managed `USING PARQUET` tables in session-catalog
  * database `db`, the daemon-free rendition of the reference's Hive tier.
  * Its four tables come only from [[createReferenceTables]], which
  * mirrors the reference DDL (reference: create_hive_tbls.hql:1-48) and
  * which the constructor runs, so every load writes into a table whose
  * column types and partitioning the DDL fixed. The write paths mirror
  * `format("hive").saveAsTable` append/overwrite on those existing
  * tables (reference: load_fct_flights.py:112-116,
  * load_dim_airports.py:61-64).
  *
  * Partitioned appends route rows to partitions dynamically (the insert
  * carries the partition column), and partitioned overwrites replace only
  * the partitions present in the batch because GraftSession pins
  * `spark.sql.sources.partitionOverwriteMode=dynamic` — a full-table
  * truncate on a 100 TB fact table is never on the write path.
  *
  * Deviation (documented): the reference DDL's `PRIMARY KEY/REFERENCES …
  * DISABLE NOVALIDATE` clauses are Hive metadata-only (never enforced);
  * Spark's built-in catalog has no syntax for them, so they are elided —
  * the engine's FK probe ([[LoadDimAircrafts.fkViolations]]) is the real
  * check either way.
  */
class CatalogWarehouse(spark: SparkSession, val db: String = "graft") {
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
  createReferenceTables()

  private def q(name: String) = s"$db.$name"

  /** DDL for the reference's four warehouse tables
    * (reference: create_hive_tbls.hql:1-48). CHAR/VARCHAR become STRING —
    * Spark would silently pad/truncate, the reference's Hive tables do
    * not enforce length either. A table that already exists is left
    * alone without running its DDL, so a daily run's DDL step runs no
    * Spark command once the tables are there.
    */
  def createReferenceTables(): Unit = Seq(
    "dim_airports" -> """(airport_dim_id INT, icao_code STRING, iata_code STRING, name STRING,
      country STRING, lat FLOAT, lon FLOAT, alt SMALLINT) USING PARQUET""",
    "dim_dates" -> """(date_dim_id INT, date_date DATE, year SMALLINT, month TINYINT,
      day TINYINT, week_of_year TINYINT, day_of_week TINYINT) USING PARQUET""",
    "dim_aircrafts" -> """(aircraft_dim_id INT, icao24_addr STRING, registration STRING,
      operating_airline STRING, manufacturer STRING, model STRING,
      serial_num STRING, line_num STRING, icao_designator STRING,
      icao_type STRING, aircraft_type STRING, engine_cnt TINYINT,
      engine_type STRING) USING PARQUET""",
    "fct_flights" -> """(aircraft_dim_id INT, depart_ts TIMESTAMP, depart_airport_dim_id INT,
      arrival_ts TIMESTAMP, arrival_airport_dim_id INT)
      USING PARQUET PARTITIONED BY (flight_date_dim_id INT)"""
  ).foreach { case (table, definition) =>
    if (!spark.catalog.tableExists(q(table)))
      spark.sql(s"CREATE TABLE IF NOT EXISTS ${q(table)} $definition")
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(q(name))

  /** `insertInto` resolves columns by POSITION; align by NAME first (the
    * reference's `saveAsTable` on an existing table is by-name too), so
    * a reordered upstream projection can never silently swap columns.
    */
  private def write(mode: SaveMode)(name: String, df: DataFrame): Unit =
    df.select(spark.table(q(name)).schema.fieldNames.map(df.col(_)).toIndexedSeq: _*)
      .write.mode(mode).insertInto(q(name))

  /** Dim snapshot replace (reference: load_dim_airports.py:61-64). */
  def overwrite(name: String, df: DataFrame): Unit = write(SaveMode.Overwrite)(name, df)

  /** Incremental append (reference: load_fct_flights.py:112-116). */
  def append(name: String, df: DataFrame): Unit = write(SaveMode.Append)(name, df)

  /** The build stamp is the table property `graft.build`; an insert
    * keeps it, and the file digest inside it tells it stale.
    */
  private val StampKey = "graft.build"

  private def metadata(name: String) = spark.sessionState.catalog.getTableMetadata(
    org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db)))

  /** The fingerprint [[recordBuild]] last recorded with `table`, while
    * the table still holds exactly the data files it was recorded with;
    * None when none was recorded or any file was written since, by
    * anyone.
    */
  def builtFrom(table: String): Option[String] = {
    val m = metadata(table)
    m.properties.get(StampKey).flatMap(CatalogWarehouse.fingerprintOf(_, m.location.toString))
  }

  /** Records that `table`'s current data files hold what a build with
    * this [[graft.ops.IncrementalOps.fingerprint]] produces. The stored
    * stamp is the fingerprint, a colon, and the
    * [[graft.ops.Fs.filesDigest]] of the table's directory.
    */
  def recordBuild(table: String, fingerprint: String): Unit = {
    val stamp = CatalogWarehouse.stamp(fingerprint, metadata(table).location.toString)
    spark.sql(s"ALTER TABLE ${q(table)} SET TBLPROPERTIES ('$StampKey' = '$stamp')")
  }
}

object CatalogWarehouse {

  /** The dims' one skip-if-unchanged check. When `dim` has a fingerprint
    * and `table` was recorded as built from it, with no file written
    * since, returns `unchanged` and runs no Spark action. Otherwise runs
    * `rebuild`, the dim's full path, and then records the fingerprint
    * with the files the table now holds; a `rebuild` that throws records
    * nothing. A crash between publish and record leaves the old stamp,
    * whose file digest no longer matches, so the next run takes the full
    * path too.
    */
  private[jobs] def skipIfBuilt[T](wh: CatalogWarehouse, table: String, dim: DataFrame)(
      unchanged: => T)(rebuild: => T): T = {
    val fingerprint = graft.ops.IncrementalOps.fingerprint(dim)
    if (fingerprint.isDefined && wh.builtFrom(table) == fingerprint) unchanged
    else {
      val out = rebuild
      fingerprint.foreach(wh.recordBuild(table, _))
      out
    }
  }

  /** The stamp recorded for `fingerprint` over the files in `dir`. */
  private[jobs] def stamp(fingerprint: String, dir: String): String =
    fingerprint + ":" + graft.ops.Fs.filesDigest(dir)

  /** The fingerprint of `stamp` while `dir` holds the files it names. */
  private[jobs] def fingerprintOf(stamp: String, dir: String): Option[String] = {
    val at = stamp.lastIndexOf(':')
    if (at > 0 && stamp.substring(at + 1) == graft.ops.Fs.filesDigest(dir)) Some(stamp.take(at))
    else None
  }
}

package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Warehouse seam — the reference writes Hive managed tables
  * (reference: load_fct_flights.py:112-116 `format("hive").saveAsTable`).
  * The storage tier is pluggable: [[CatalogWarehouse]] binds the session
  * catalog (managed `USING PARQUET` tables created by DDL, no metastore
  * daemon needed); [[ParquetWarehouse]] binds bare parquet directories.
  * Query semantics are identical either way — only the sink/scan
  * bindings differ.
  */
trait Warehouse {
  def exists(table: String): Boolean
  def table(spark: SparkSession, name: String): DataFrame
  /** Dim snapshot replace (reference: load_dim_airports.py:61-64). */
  def overwrite(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit
  /** Incremental append (reference: load_fct_flights.py:112-116). */
  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit

  /** The fingerprint [[recordBuild]] last recorded with `table`, while
    * the table still holds exactly the data files it was recorded with;
    * None when none was recorded or any file was written since, by
    * anyone. A warehouse that keeps no record answers None, and every
    * dim load on it takes its full path.
    */
  def builtFrom(table: String): Option[String] = None

  /** Records that `table`'s current data files hold what a build with
    * this [[graft.ops.IncrementalOps.fingerprint]] produces. The stored
    * stamp is the fingerprint, a colon, and the
    * [[graft.ops.Fs.filesDigest]] of the table's directory.
    */
  def recordBuild(table: String, fingerprint: String): Unit = ()
}

object Warehouse {

  /** The dims' one skip-if-unchanged check. When `dim` has a fingerprint
    * and `table` was recorded as built from it, with no file written
    * since, returns `unchanged` and runs no Spark action. Otherwise runs
    * `rebuild`, the dim's full path, and then records the fingerprint
    * with the files the table now holds; a `rebuild` that throws records
    * nothing. A crash between publish and record leaves the old stamp,
    * whose file digest no longer matches, so the next run takes the full
    * path too.
    */
  private[jobs] def skipIfBuilt[T](wh: Warehouse, table: String, dim: DataFrame)(
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

/** Parquet-directory warehouse: one partitioned parquet dataset per
  * table under `root`. Dynamic-partition append comes free from
  * `partitionBy` on the writer — the same layout Hive dynamic
  * partitioning produces.
  */
final class ParquetWarehouse(root: String) extends Warehouse {
  private def path(name: String) = s"$root/$name"

  def exists(table: String): Boolean =
    graft.ops.Fs.exists(path(table))

  def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(path(name))

  private def write(mode: SaveMode)(name: String, df: DataFrame, parts: Seq[String]): Unit = {
    val w = df.write.mode(mode)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path(name))
  }

  def overwrite(name: String, df: DataFrame, partitionBy: Seq[String]): Unit =
    write(SaveMode.Overwrite)(name, df, partitionBy)

  def append(name: String, df: DataFrame, partitionBy: Seq[String]): Unit =
    write(SaveMode.Append)(name, df, partitionBy)

  /** The build stamp lives in a `_`-prefixed sidecar in the table's
    * directory: Spark's reader skips it and an overwrite deletes it.
    */
  private def stampFile(name: String) = s"${path(name)}/_graft_build"

  override def builtFrom(table: String): Option[String] =
    graft.ops.Fs.readText(stampFile(table)).flatMap(Warehouse.fingerprintOf(_, path(table)))

  override def recordBuild(table: String, fingerprint: String): Unit =
    graft.ops.Fs.writeText(stampFile(table), Warehouse.stamp(fingerprint, path(table)))
}

/** Session-catalog warehouse: managed `USING PARQUET` tables in database
  * `db`, the daemon-free rendition of the reference's Hive tier —
  * [[createReferenceTables]] mirrors its DDL
  * (reference: create_hive_tbls.hql:1-48) and the write paths mirror
  * `format("hive").saveAsTable` append/overwrite
  * (reference: load_fct_flights.py:112-116, load_dim_airports.py:61-64).
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
final class CatalogWarehouse(spark: SparkSession, db: String = "graft") extends Warehouse {
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

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
    if (!exists(table)) spark.sql(s"CREATE TABLE IF NOT EXISTS ${q(table)} $definition")
  }

  def exists(table: String): Boolean = spark.catalog.tableExists(q(table))

  def table(spark: SparkSession, name: String): DataFrame = spark.table(q(name))

  /** `insertInto` resolves columns by POSITION; align by NAME first (the
    * reference's `saveAsTable` on an existing table is by-name too), so
    * a reordered upstream projection can never silently swap columns.
    */
  private def aligned(name: String, df: DataFrame): DataFrame =
    df.select(spark.table(q(name)).schema.fieldNames.map(df.col(_)).toIndexedSeq: _*)

  private def write(mode: SaveMode)(name: String, df: DataFrame, parts: Seq[String]): Unit =
    if (exists(name)) aligned(name, df).write.mode(mode).insertInto(q(name))
    else { // create-on-demand, as format("hive").saveAsTable does
      val w = df.write.mode(mode)
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(q(name))
    }

  def overwrite(name: String, df: DataFrame, partitionBy: Seq[String]): Unit =
    write(SaveMode.Overwrite)(name, df, partitionBy)

  def append(name: String, df: DataFrame, partitionBy: Seq[String]): Unit =
    write(SaveMode.Append)(name, df, partitionBy)

  /** The build stamp is the table property `graft.build`; an insert
    * keeps it, and the file digest inside it tells it stale.
    */
  private val StampKey = "graft.build"

  private def metadata(name: String) = spark.sessionState.catalog.getTableMetadata(
    org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db)))

  override def builtFrom(table: String): Option[String] =
    if (!exists(table)) None
    else {
      val m = metadata(table)
      m.properties.get(StampKey).flatMap(Warehouse.fingerprintOf(_, m.location.toString))
    }

  override def recordBuild(table: String, fingerprint: String): Unit = {
    val stamp = Warehouse.stamp(fingerprint, metadata(table).location.toString)
    spark.sql(s"ALTER TABLE ${q(table)} SET TBLPROPERTIES ('$StampKey' = '$stamp')")
  }

  /** Hive-style partition listing, e.g. `flight_date_dim_id=20240101`. */
  def partitions(name: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS ${q(name)}").collect().map(_.getString(0)).toIndexedSeq
}

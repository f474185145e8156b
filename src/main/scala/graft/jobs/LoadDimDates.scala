package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.{DateDim, IncrementalOps}

/** Calendar-dimension load (reference: load_dim_dates.py:9-42).
  *
  * Generates [start, end] inclusive, diffs against the already-loaded
  * rows in that range (EXCEPT DISTINCT — the U2 primitive), appends the
  * delta. Cardinality check mirrors the reference's expected-rows
  * assert (reference: load_dim_dates.py:24-29).
  *
  * A run whose generator has the fingerprint recorded with the stored
  * dim, its files unwritten since, runs no Spark action and appends 0
  * rows ([[CatalogWarehouse.skipIfBuilt]]): that generator passed the
  * cardinality check, and its rows were all stored, when it was
  * recorded.
  */
object LoadDimDates {

  val table = "dim_dates"

  /** Returns the number of rows appended. */
  def run(spark: SparkSession, wh: CatalogWarehouse, startDate: String, endDate: String): Long = {
    val gen = DateDim.dateDimension(spark, startDate, endDate)

    CatalogWarehouse.skipIfBuilt(wh, table, gen)(unchanged = 0L) {
      val expected = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(startDate), java.time.LocalDate.parse(endDate)) + 1
      val genCnt = gen.count()
      require(genCnt == expected, s"dim_dates generator produced $genCnt rows, expected $expected")

      val current = wh.table(spark, table)
        .filter(col("date_date").between(startDate, endDate))
      val delta = IncrementalOps.exceptNew(gen, current)
      val n = delta.count()
      if (n > 0) wh.append(table, delta)
      n
    }
  }
}

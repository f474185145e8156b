package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-dimensional data-layout operators: Z-order (Morton) clustering
  * so ONE sort order serves range predicates on SEVERAL columns.
  *
  * Why this matters at 100 TB: parquet/file pruning works off per-file
  * min/max bounds. A single-column sort gives tight bounds on that
  * column only — every other dimension spans its full range in every
  * file, so a predicate on it prunes nothing. Interleaving the bits of
  * two dimensions into one sort key tiles the (x, y) plane with
  * near-square cells: each written chunk gets a bounded extent in BOTH
  * dimensions, and a range query on either one touches O(√chunks)
  * instead of all of them. This is the OPTIMIZE ZORDER layout step of
  * lakehouse engines, as a plain deterministic column + sort.
  *
  * Everything is integer bit arithmetic on the Column DSL — codegen'd,
  * engine-portable (the oracle recomputes z-values bit-for-bit), no UDF.
  */
object Layout {

  /** Morton/Z-value of two nonnegative integral columns: bit i of `x`
    * lands at position 2i, bit i of `y` at 2i+1. Monotone within each
    * dimension when the other is fixed; `bits` bounds the domain
    * (values must sit in [0, 2^bits)) and 2·bits ≤ 62 keeps the result
    * in a positive long. The bit planes are disjoint, so summing the
    * shifted bits IS their union.
    */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val xl = x.cast(LongType)
    val yl = y.cast(LongType)
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Cluster a relation by the Z-value of two dimensions for writing:
    * range-repartition on the z key (sampled range exchange — a global
    * order WITHOUT a single-partition sort) plus an in-partition sort,
    * so each output task writes one tight z-contiguous tile. Follow
    * with a partitioned/bucketed write; downstream scans prune on both
    * dimensions' min/max (LayoutSpec reads the scan metrics of a
    * banded query over the written files to prove the row groups are
    * actually skipped). `numPartitions` sizes the output files — the
    * knob that matches tiles to the target row-group size in a real
    * write; default leaves it to spark.sql.shuffle.partitions.
    */
  def zOrderBy(df: DataFrame, x: Column, y: Column, bits: Int,
               zCol: String = "z_value",
               numPartitions: Option[Int] = None): DataFrame = {
    val z = df.withColumn(zCol, zValue2(x, y, bits))
    numPartitions.fold(z.repartitionByRange(col(zCol)))(
        n => z.repartitionByRange(n, col(zCol)))
      .sortWithinPartitions(col(zCol))
  }

  /** CLUSTER-ON-WRITE for the sink's file-skipping stats: file skipping
    * only bites when values CLUSTER into files, and a publish inherits
    * whatever task-partitioning the query had — an unsorted append
    * smears every column's range across every file, recording min/max
    * bounds that exclude nothing. Route the frame through this before
    * `.writeTo(...).append()` (or any sink write): a sampled
    * range-exchange on `cols` (a total order across tasks WITHOUT a
    * single-partition sort — the same scale shape as [[zOrderBy]])
    * plus an in-partition sort, so each task — hence each staged
    * file — covers one narrow band of `cols` and the published
    * version manifests carry bounds worth skipping on. One-column
    * clusterBy is the single-dimension analogue of [[zOrderBy]]; the
    * strictly-fewer-splits effect of sorted vs unsorted publishes of
    * identical data is pinned in PartitionedSinkSpec.
    */
  def clusterBy(df: DataFrame, cols: Seq[Column],
                numPartitions: Option[Int] = None): DataFrame = {
    require(cols.nonEmpty, "clusterBy needs at least one column")
    numPartitions.fold(df.repartitionByRange(cols: _*))(
        n => df.repartitionByRange(n, cols: _*))
      .sortWithinPartitions(cols: _*)
  }
}

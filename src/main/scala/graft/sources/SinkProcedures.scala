package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable MAINTENANCE procedures for sink catalogs — Spark 4's
  * stored-procedure API ([[org.apache.spark.sql.connector.catalog.ProcedureCatalog]],
  * the `CALL` statement Iceberg pioneered), so the standing jobs of a
  * versioned warehouse run from plain SQL:
  *
  * {{{
  *   CALL cat.vacuum_versions(table => 't', keep_last => 3)
  *   CALL cat.vacuum_staging(table => 't')
  *   CALL cat.compact(table => 't')
  * }}}
  *
  * Each returns a one-row summary (what was reclaimed/rewritten), via
  * a driver-side [[LocalScan]] — maintenance planning is manifest
  * metadata, not a distributed read. The procedures delegate to
  * [[graft.ops.Compaction]], so every safety property documented
  * there (the publish-window age floor, the CAS-snapshot retention
  * contract, the orphan-only staging sweep) holds identically under
  * SQL. Arguments bind by position or name; `table` is required.
  */
private[graft] object SinkProcedures {

  val names: Seq[String] =
    Seq("vacuum_versions", "vacuum_staging", "compact")

  def load(catalogName: String, proc: String): UnboundProcedure =
    proc match {
      case "vacuum_versions" => unbound(proc,
        Seq(required("table"), optionalInt("keep_last", 2)),
        StructType(Seq(StructField("expired_manifests", IntegerType),
          StructField("removed_files", IntegerType))),
        (spark, args) => {
          val (e, r) = graft.ops.Compaction.vacuumVersions(spark,
            catalogName, argString(args, 0), argInt(args, 1, 2))
          Array(InternalRow(e, r))
        })
      case "vacuum_staging" => unbound(proc,
        Seq(required("table"),
          optionalLong("older_than_ms", 24L * 3600 * 1000)),
        StructType(Seq(StructField("removed_query_dirs", IntegerType))),
        (spark, args) => {
          val removed = graft.ops.Compaction.vacuumStaging(spark,
            catalogName, argString(args, 0),
            argLong(args, 1, 24L * 3600 * 1000))
          Array(InternalRow(removed.size))
        })
      case "compact" => unbound(proc,
        Seq(required("table"), optionalInt("max_files_per_partition", 1),
          optionalBool("recluster", false)),
        StructType(Seq(StructField("partitions_compacted", IntegerType))),
        (spark, args) => {
          val byPart = graft.ops.Compaction.compactSinkTable(spark,
            catalogName, argString(args, 0), argInt(args, 1, 1),
            recluster = argBool(args, 2, dflt = false))
          Array(InternalRow(byPart.size))
        })
      case other => throw new IllegalArgumentException(
        s"procedure $other is not defined by this catalog; available: " +
          names.mkString(", "))
    }

  private def required(name: String): ProcedureParameter =
    ProcedureParameter.in(name, StringType).build()
  private def optionalInt(name: String, dflt: Int): ProcedureParameter =
    ProcedureParameter.in(name, IntegerType)
      .defaultValue(dflt.toString).build()
  private def optionalLong(name: String, dflt: Long): ProcedureParameter =
    ProcedureParameter.in(name, LongType)
      .defaultValue(dflt.toString).build()
  private def optionalBool(name: String, dflt: Boolean): ProcedureParameter =
    ProcedureParameter.in(name, BooleanType)
      .defaultValue(dflt.toString).build()

  private def argString(args: InternalRow, i: Int): String = {
    require(!args.isNullAt(i), s"procedure argument $i must not be NULL")
    args.getUTF8String(i).toString
  }
  private def argInt(args: InternalRow, i: Int, dflt: Int): Int =
    if (args.numFields <= i || args.isNullAt(i)) dflt else args.getInt(i)
  private def argLong(args: InternalRow, i: Int, dflt: Long): Long =
    if (args.numFields <= i || args.isNullAt(i)) dflt else args.getLong(i)
  private def argBool(args: InternalRow, i: Int, dflt: Boolean): Boolean =
    if (args.numFields <= i || args.isNullAt(i)) dflt else args.getBoolean(i)

  private def unbound(procName: String, params: Seq[ProcedureParameter],
                      outSchema: StructType,
                      run: (SparkSession, InternalRow) => Array[InternalRow])
      : UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"sink table maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def description(): String =
          s"sink table maintenance: $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          // run eagerly; the local name must NOT be `rows` — inside
          // the anonymous LocalScan that identifier resolves to the
          // member being defined, and `def rows = rows` compiles to a
          // self tail-call, i.e. an infinite spin
          val result = run(SparkSession.active, input)
          java.util.List.of(new LocalScan {
            override def rows(): Array[InternalRow] = result
            override def readSchema(): StructType = outSchema
          }: Scan).iterator()
        }
      }
  }

  /** UTF8String helper for procedures that return paths/names. */
  private[sources] def utf8(s: String): UTF8String = UTF8String.fromString(s)
}

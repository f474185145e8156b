package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Dictionary
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PARQUET data files for the sink table format — the storage tier
  * under the format-agnostic commit protocol (staging, publish
  * renames, CAS version manifests, stats/bloom manifests, partition
  * layout, row-level replace and the change feed all key on FILE
  * NAMES and never look inside a data file; this layer is the only
  * part that does). Every data file is parquet: there is no format
  * option (see [[SinkFormat.userProps]]).
  *
  * Why hand-rolled read/write support instead of Spark's internal
  * ParquetWriteSupport/VectorizedParquetRecordReader: the sink's type
  * surface is deliberately small — the atomic set (string/boolean/
  * int/long/float/double/short/byte), opaque BINARY, and NESTED
  * struct/array compositions of those (parquet's standard group and
  * 3-level LIST shapes) — which the public parquet-mr API covers
  * compactly with no dependency on Spark internals that move between
  * releases; and owning the materializer
  * is what makes FIELD-ID column resolution (rename/drop evolution)
  * and row-index tracking (merge-on-read positions) possible.
  *
  * What this buys at 100 TB: a narrow projection reads only its
  * columns' chunks (I/O pruning, not just decode pruning), values are dictionary/RLE-encoded and snappy-compressed
  * (5–10× fewer bytes on disk and over the wire), and byte-range
  * split carving maps onto row groups (the classic midpoint rule via
  * ParquetReadOptions.withRange).
  */
private[graft] object SinkFormat {
  /** The retired data-file format switch. Not an option: every sink
    * data file is parquet. Kept only to reject it.
    */
  final val PropFormat = "graft.format"
  final val PropFieldIds = "graft.fieldIds"
  final val PropNextFieldId = "graft.nextFieldId"
  /** Row-level rewrite strategy: 'cow' (default — rewrite the file
    * groups containing matches) or 'mor' (merge-on-read: commit
    * position-delete manifests, anti-filtered at scan time, folded in
    * by compact/COW rewrites).
    */
  final val PropDeleteMode = "graft.deleteMode"
  /** 'true' = row-level commits also persist row-grain change files
    * (`_changes/<dir>`), which the change feed emits instead of the
    * file-grain manifest diff.
    */
  final val PropRowChanges = "graft.rowChanges"
  /** Comma-separated DATA columns to cluster writes on (Iceberg's
    * write sort-order shape): every batch write range-distributes on
    * (partition tuple, sort columns) and sorts within tasks, so files
    * within a partition carve the sort columns' domain into DISJOINT
    * ranges — min/max file skipping starts working on a non-partition
    * column, and parquet row groups inside each file get tight
    * bounds. `Compaction.compactSinkTable(recluster = true)` applies
    * a newly-set order to existing data.
    */
  final val PropSortOrder = "graft.sortOrder"

  def deleteMode(props: Map[String, String]): String =
    props.getOrElse(PropDeleteMode, "cow") match {
      case "cow" => "cow"
      case "mor" => "mor"
      case other => throw new IllegalArgumentException(
        s"$PropDeleteMode must be 'cow' or 'mor', got '$other'")
    }

  def rowChanges(props: Map[String, String]): Boolean =
    props.get(PropRowChanges).exists(_.toBoolean)

  /** Parsed + validated sort order: data columns only (a partition
    * column is constant within its leaf — "sorting" on it is a
    * misconfiguration worth failing loudly on).
    */
  def sortOrder(props: Map[String, String], partCols: Seq[String],
                schema: org.apache.spark.sql.types.StructType)
      : Seq[String] =
    props.get(PropSortOrder).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map { c =>
        require(schema.fieldNames.contains(c),
          s"$PropSortOrder column '$c' is not in the table schema " +
            s"[${schema.fieldNames.mkString(", ")}]")
        require(!partCols.contains(c),
          s"$PropSortOrder column '$c' is a partition column — " +
            "partition values are constant within a leaf; cluster on " +
            "data columns")
        c
      }

  /** User-supplied `graft.*` properties (path-API options, CREATE
    * TBLPROPERTIES), unchanged: `graft.format` is rejected — the sink
    * has one data-file format.
    */
  def userProps(where: String,
                props: Map[String, String]): Map[String, String] = {
    require(!props.contains(PropFormat),
      s"$where: $PropFormat is not an option (sink data files are " +
        "always parquet)")
    props
  }

  /** Properties persisted in a table's sidecar, minus the retired
    * format key. Tables created while the key existed recorded
    * 'parquet' (fine) or 'tsv', whose data files nothing reads now.
    */
  def storedProps(table: String,
                  props: Map[String, String]): Map[String, String] = {
    props.get(PropFormat).foreach(f => require(f == "parquet",
      s"table $table is '$f'-format: TSV data files are no longer " +
        "readable (the sink reads and writes parquet only) — rewrite " +
        "the table from its source"))
    props - PropFormat
  }

  /** Iceberg-legal type WIDENING: every old file's physical values
    * embed exactly into the new type, so readers only need a decode
    * cast (resolved through the field-id registry — which is why the
    * evolution requires a column with a field id). Everything else —
    * narrows, integral↔floating, string↔anything — is rejected.
    */
  def safeWiden(from: org.apache.spark.sql.types.DataType,
                to: org.apache.spark.sql.types.DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** Create/evolve-time type gate: BINARY and NESTED (struct / array)
    * columns are never partition columns (partition values name
    * directories), and MAP columns are rejected. Loud at DDL time, not
    * first-row write time. Nested element types recurse — a struct of
    * decimals is as unsupported as a top-level decimal.
    */
  def validateColumnType(name: String,
                         dt: org.apache.spark.sql.types.DataType,
                         isPartition: Boolean): Unit = dt match {
    case BinaryType =>
      require(!isPartition,
        s"partition column $name cannot be BINARY (its rendered values " +
          "name the directory layout)")
    case _: StructType | _: ArrayType =>
      require(!isPartition,
        s"partition column $name cannot be nested (its rendered values " +
          "name the directory layout)")
      def walk(n: String, t: org.apache.spark.sql.types.DataType): Unit =
        t match {
          case s: StructType =>
            s.fields.foreach(f => walk(s"$n.${f.name}", f.dataType))
          case a: ArrayType => walk(s"$n.element", a.elementType)
          case StringType | LongType | IntegerType | DoubleType |
               FloatType | BooleanType | ShortType | ByteType |
               BinaryType => ()
          case other => throw new IllegalArgumentException(
            s"nested field $n has unsupported type $other (atomic " +
              "types, binary, struct and array only)")
        }
      walk(name, dt)
    case m: MapType => throw new IllegalArgumentException(
      s"column $name: MAP columns are not supported — model the " +
        s"${m.keyType.simpleString}→${m.valueType.simpleString} pairs " +
        "as array<struct<key,value>>")
    case _ => ()
  }

  /** Field-id registry rendering: `<id>:<name>` pairs, comma-joined.
    * Only assigned to names free of the two delimiters (idSafe) — a
    * column named with ',' or ':' simply gets no id and resolves by
    * name, exactly like a file written before ids existed.
    */
  def idSafe(name: String): Boolean =
    !name.contains(',') && !name.contains(':')

  def renderIds(ids: Seq[(String, Int)]): String =
    ids.map { case (n, i) => s"$i:$n" }.mkString(",")

  def fieldIds(props: Map[String, String]): Map[String, Int] =
    props.get(PropFieldIds).map { s =>
      s.split(",").toSeq.filter(_.nonEmpty).flatMap { pair =>
        pair.split(":", 2) match {
          case Array(i, n) if i.nonEmpty && i.forall(_.isDigit) =>
            Some(n -> i.toInt)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** Mint the id properties for a fresh table: ids 1..n in schema
    * order over the DATA columns (partition columns live in directory
    * names, never in data files — they need no ids).
    */
  def initialIdProps(schema: StructType,
                     partCols: Seq[String]): Map[String, String] = {
    val dataCols = schema.fields.map(_.name).filterNot(partCols.contains)
    if (!dataCols.forall(idSafe)) Map.empty
    else Map(
      PropFieldIds -> renderIds(dataCols.zipWithIndex.map {
        case (n, i) => n -> (i + 1) }.toSeq),
      PropNextFieldId -> (dataCols.length + 1).toString)
  }
}

/** Write half: a [[WriteSupport]] over [[InternalRow]] for the sink's
  * atomic type set. One writer per (task, partition tuple); stats/bloom
  * accumulation stays in [[PartitionedSinkWriter]].
  */
private[graft] object SinkParquetWrite {

  /** Parquet field for one Catalyst column; `id` < 0 = no id (ids
    * attach to TOP-LEVEL fields only — nested fields are not
    * independently renameable). Nested types use the standard
    * shapes readers interoperate on: struct = plain group, array =
    * 3-level LIST (`group (LIST) { repeated group list { <element> } }`),
    * map = `group (MAP) { repeated group key_value { required key; value } }`.
    */
  private[sources] def field(name: String, dt: DataType, id: Int): Type = {
    val t: Type = dt match {
      case StringType => Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case LongType => Types.optional(PrimitiveTypeName.INT64).named(name)
      case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(name)
      case ShortType => Types.optional(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(16, true)).named(name)
      case ByteType => Types.optional(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(8, true)).named(name)
      case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(name)
      case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(name)
      case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
      // opaque bytes — the multimodal payload column: parquet BINARY
      // with NO string annotation (stats/bloom manifests never record
      // it; skipping a 1 MB image by min/max is meaningless)
      case BinaryType => Types.optional(PrimitiveTypeName.BINARY).named(name)
      case s: StructType =>
        s.fields.foldLeft(Types.optionalGroup()) {
          (g, f) => g.addField(field(f.name, f.dataType, -1))
        }.named(name)
      case a: ArrayType =>
        Types.optionalGroup()
          .as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(field("element", a.elementType, -1))
            .named("list"))
          .named(name)
      case other => throw new UnsupportedOperationException(
        s"PartitionedSink supports atomic, binary and nested " +
          s"(struct/array) column types only, got $other")
    }
    if (id >= 0) t.withId(id) else t
  }

  def messageType(dataFields: Seq[StructField],
                  fieldIds: Map[String, Int]): MessageType =
    new MessageType("graft_sink",
      dataFields.map(f =>
        field(f.name, f.dataType, fieldIds.getOrElse(f.name, -1))).asJava)

  /** dataFields carry (field, ordinal in the FULL write schema). */
  private class RowWriteSupport(schema: MessageType,
                                dataFields: Seq[(StructField, Int)])
      extends WriteSupport[InternalRow] {
    private var consumer: RecordConsumer = _
    private val plan = dataFields.toArray

    override def init(configuration: Configuration)
        : WriteSupport.WriteContext =
      new WriteSupport.WriteContext(schema,
        java.util.Collections.emptyMap[String, String]())

    override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

    /** One NON-NULL value from any row-shaped container (InternalRow
      * and ArrayData share SpecializedGetters), recursing into
      * struct/array groups with the standard start/end protocol.
      */
    private def writeValue(
        g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
        ord: Int, dt: DataType): Unit = dt match {
      case StringType => consumer.addBinary(
        Binary.fromConstantByteArray(g.getUTF8String(ord).getBytes))
      case LongType => consumer.addLong(g.getLong(ord))
      case IntegerType => consumer.addInteger(g.getInt(ord))
      case ShortType => consumer.addInteger(g.getShort(ord).toInt)
      case ByteType => consumer.addInteger(g.getByte(ord).toInt)
      case DoubleType => consumer.addDouble(g.getDouble(ord))
      case FloatType => consumer.addFloat(g.getFloat(ord))
      case BooleanType => consumer.addBoolean(g.getBoolean(ord))
      case BinaryType => consumer.addBinary(
        Binary.fromConstantByteArray(g.getBinary(ord)))
      case s: StructType =>
        val nested = g.getStruct(ord, s.fields.length)
        consumer.startGroup()
        var j = 0
        while (j < s.fields.length) {
          if (!nested.isNullAt(j)) {
            consumer.startField(s.fields(j).name, j)
            writeValue(nested, j, s.fields(j).dataType)
            consumer.endField(s.fields(j).name, j)
          }
          j += 1
        }
        consumer.endGroup()
      case a: ArrayType =>
        val arr = g.getArray(ord)
        consumer.startGroup()
        if (arr.numElements() > 0) {
          consumer.startField("list", 0)
          var j = 0
          while (j < arr.numElements()) {
            consumer.startGroup()
            if (!arr.isNullAt(j)) {
              consumer.startField("element", 0)
              writeValue(arr, j, a.elementType)
              consumer.endField("element", 0)
            }
            consumer.endGroup()
            j += 1
          }
          consumer.endField("list", 0)
        }
        consumer.endGroup()
      case other => throw new UnsupportedOperationException(
        s"PartitionedSink supports atomic, binary and nested " +
          s"(struct/array) column types only, got $other")
    }

    override def write(row: InternalRow): Unit = {
      consumer.startMessage()
      var i = 0
      while (i < plan.length) {
        val (fld, ord) = plan(i)
        if (!row.isNullAt(ord)) {
          consumer.startField(fld.name, i)
          writeValue(row, ord, fld.dataType)
          consumer.endField(fld.name, i)
        }
        i += 1
      }
      consumer.endMessage()
    }
  }

  private class Builder(out: HadoopOutputFile, ws: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, Builder](out) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = ws
  }

  /** Row-group size knob (session conf, driver-resolved): smaller
    * groups = finer row-group skipping and lower task memory, larger
    * = better scan throughput. Parquet's 128 MB default otherwise.
    */
  final val RowGroupBytesKey = "spark.graft.sink.parquet.rowGroupBytes"

  def rowGroupBytesFromSession(): Long = {
    val v = org.apache.spark.sql.SparkSession.active.conf
      .getOption(RowGroupBytesKey).map(_.toLong)
      .getOrElse(ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
    require(v > 0, s"$RowGroupBytesKey must be positive, got $v")
    v
  }

  def open(conf: Configuration, path: Path,
           dataFields: Seq[(StructField, Int)],
           fieldIds: Map[String, Int],
           rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
      : ParquetWriter[InternalRow] = {
    val schema = messageType(dataFields.map(_._1), fieldIds)
    new Builder(HadoopOutputFile.fromPath(path, conf),
      new RowWriteSupport(schema, dataFields))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(rowGroupBytes)
      .build()
  }
}

/** Process-wide accounting of the parquet column-chunk bytes scans
  * PLAN to read (selected row groups × requested columns — the
  * compressed on-disk sizes from the footer). This is the number
  * column pruning changes: a narrow projection selects a fraction of
  * the chunk bytes a full-width read selects. Hadoop's
  * FileSystem.Statistics cannot see parquet's buffer-level reads, so
  * the I/O-pruning pin (and any ops question shaped like "how many
  * bytes did that projection touch?") reads this instead.
  */
private[graft] object SinkParquetIo {
  val chunkBytesPlanned = new java.util.concurrent.atomic.LongAdder
  def reset(): Unit = chunkBytesPlanned.reset()
  def planned: Long = chunkBytesPlanned.sum()
}

/** Read half: one split = one parquet file or a byte range of one
  * (row groups selected by the standard midpoint rule —
  * ParquetReadOptions.withRange — so contiguous ranges partition the
  * file's row groups exactly). Projection is pushed to the parquet
  * column chunks: only the REQUIRED data columns' pages are read and
  * decoded; partition columns, `_file`/`_pos` metadata and
  * change-feed extras are split-level constants
  * ([[SinkParquetResolve.castValue]]).
  *
  * Column resolution: by FIELD ID when both the table (via
  * `graft.fieldIds`) and the file field carry one — which is what
  * makes rename/drop evolution safe on parquet tables (a renamed
  * column keeps its id; files written before the rename resolve
  * through it) — by NAME otherwise (files written before ids existed,
  * and Spark-written change files). A required column absent from the
  * file reads as NULL (the ADD COLUMNS evolution).
  */
/** ROW-GROUP skipping for the parquet tier: evaluate the scan's
  * pushed data-column comparisons against each selected row group's
  * footer statistics and skip groups PROVABLY free of matches — the
  * grain below the manifest-level file skipping (a 1 GB file holds ~8
  * row groups; banded data skips 7 of them). Sound by the same
  * residual contract as every other skip tier: Spark re-evaluates all
  * filters post-scan, so a wrong KEEP costs decode time, and a skip
  * needs proof. Conservative on every doubt — absent column (resolved
  * by field id first, so a renamed column's old files still prove),
  * empty/truncation-adjusted stats (parquet guarantees adjusted
  * bounds remain valid bounds), non-finite doubles, unknown types all
  * answer "keep". Comparison semantics mirror [[SinkFileSkip]]:
  * BigDecimal for numerics, binary UTF-8 for strings. Never applied
  * to row-level (COW group) scans — a group-based rewrite must read
  * its files WHOLE or carried-forward rows would be lost.
  */
private[sources] object SinkParquetGroupSkip {
  import org.apache.parquet.hadoop.metadata.BlockMetaData
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}

  private def big(v: Any): Option[java.math.BigDecimal] = v match {
    case n: java.lang.Integer => Some(java.math.BigDecimal.valueOf(n.longValue))
    case n: java.lang.Long => Some(java.math.BigDecimal.valueOf(n))
    case n: java.lang.Float =>
      if (n.isNaN || n.isInfinite) None
      else Some(new java.math.BigDecimal(n.toString))
    case n: java.lang.Double =>
      if (n.isNaN || n.isInfinite) None
      else Some(new java.math.BigDecimal(n.toString))
    case n: java.lang.Number => Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  /** (cmp(min, lit), cmp(max, lit)); None = incomparable → keep. */
  private def rel(min: Any, max: Any, lit: Any): Option[(Int, Int)] =
    (min, max, lit) match {
      case (bMin: Binary, bMax: Binary, _) =>
        val l = lit match {
          case s: String => Some(UTF8String.fromString(s))
          case u: UTF8String => Some(u)
          case _ => None
        }
        l.map { u =>
          (UTF8String.fromBytes(bMin.getBytes).compareTo(u),
            UTF8String.fromBytes(bMax.getBytes).compareTo(u))
        }
      case _ =>
        for (mn <- big(min); mx <- big(max); l <- big(lit))
          yield (mn.compareTo(l), mx.compareTo(l))
    }

  /** May any row of the block match the filter? Column names resolve
    * through `resolve` (current name → the FILE's field name).
    */
  private def mayMatch(block: BlockMetaData, f: Filter,
                       resolve: String => Option[String]): Boolean = {
    def stats(col: String): Option[(Any, Any)] =
      resolve(col).flatMap { fileName =>
        import scala.jdk.CollectionConverters._
        block.getColumns.asScala
          .find(_.getPath.toDotString == fileName)
          .flatMap { c =>
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else Some((st.genericGetMin, st.genericGetMax))
          }
      }
    def cmp(col: String, lit: Any)(sat: (Int, Int) => Boolean): Boolean =
      stats(col) match {
        case None => true // no usable stats: keep
        case Some((mn, mx)) =>
          Option(lit).flatMap(rel(mn, mx, _)) match {
            case Some((cMn, cMx)) => sat(cMn, cMx)
            case None => true
          }
      }
    f match {
      case GreaterThan(c, v) => cmp(c, v)((_, cMx) => cMx > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v)((_, cMx) => cMx >= 0)
      case LessThan(c, v) => cmp(c, v)((cMn, _) => cMn < 0)
      case LessThanOrEqual(c, v) => cmp(c, v)((cMn, _) => cMn <= 0)
      case EqualTo(c, v) => cmp(c, v)((cMn, cMx) => cMn <= 0 && cMx >= 0)
      case In(c, vs) =>
        if (vs == null) true
        else vs.exists(v => cmp(c, v)((cMn, cMx) => cMn <= 0 && cMx >= 0))
      case _ => true
    }
  }

  /** true = the block may contain matches (read it). */
  def keep(block: BlockMetaData, filters: Seq[Filter],
           resolve: String => Option[String]): Boolean =
    filters.forall(mayMatch(block, _, resolve))
}

/** Column resolution against one parquet FILE's schema, shared by the
  * value decode and the row-group-skip stats lookup so both see the
  * same column (or the same absence). The rule is Iceberg's:
  *
  *   - When the table column carries a field id, resolve by ID; fall
  *     back to NAME only against file fields that carry NO id (files
  *     written before ids existed). A file field whose id DIFFERS from
  *     the table column's is a retired column that happens to share
  *     the name (DROP then re-ADD, or RENAME then re-ADD of the old
  *     name) — matching it by name would silently serve the retired
  *     column's data; it must read as absent (NULL, and no stats).
  *   - When the REGISTRY knows ids but this column has none (a
  *     non-idSafe name), match by name against id-less file fields
  *     only, for the same reason: within an id-carrying table, every
  *     id-carrying file field belongs to some id-carrying column.
  *   - A reader with NO registry at all (a raw path/feed read of files
  *     that happen to carry ids) resolves purely by name — it has no
  *     id authority to contradict.
  */
private[sources] object SinkParquetResolve {
  import org.apache.parquet.schema.{MessageType, Type}

  private def idOf(t: Type): Option[Int] = Option(t.getId).map(_.intValue)

  /** Rendered split constant (partition value, change-feed extra) →
    * Catalyst value, for the atomic types a partition column can have.
    */
  def castValue(s: String, dt: DataType): Any = dt match {
    case StringType  => UTF8String.fromString(s)
    case LongType    => s.toLong
    case IntegerType => s.toInt
    case DoubleType  => s.toDouble
    case FloatType   => s.toFloat
    case BooleanType => s.toBoolean
    case ShortType   => s.toShort
    case ByteType    => s.toByte
    case other => throw new UnsupportedOperationException(
      s"PartitionedSink read supports atomic column types only, got $other")
  }

  def field(fileSchema: MessageType, fieldIds: Map[String, Int],
            name: String): Option[Type] = {
    val fields = fileSchema.getFields.asScala
    fieldIds.get(name) match {
      case Some(id) =>
        fields.find(t => idOf(t).contains(id))
          .orElse(fields.find(t => t.getName == name && idOf(t).isEmpty))
      case None if fieldIds.isEmpty =>
        fields.find(_.getName == name)
      case None =>
        fields.find(t => t.getName == name && idOf(t).isEmpty)
    }
  }
}

private[sources] class SinkParquetReader(
    split: SinkFileSplit, fullSchema: StructType, required: StructType,
    partCols: Seq[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    fieldIds: Map[String, Int] = Map.empty,
    skipFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow]
    with HasRowPos {

  /** `_pos` of the current row: its row index within the FILE. */
  private var lastPos: Long = -1L
  override def currentRowPos: Long = lastPos

  private val filePath = new Path(split.file)
  private val inputFile = HadoopInputFile.fromPath(filePath, conf.value)

  private val reader: ParquetFileReader = {
    val b = org.apache.parquet.ParquetReadOptions.builder()
    // MaxValue length = whole file; otherwise the carved byte range
    val opts =
      (if (split.length == Long.MaxValue) b
       else b.withRange(split.start, split.start + split.length)).build()
    new ParquetFileReader(inputFile, opts)
  }

  private val fileSchema: MessageType =
    reader.getFooter.getFileMetaData.getSchema

  // required ordinal -> value source: Left(slot into the materializer
  // buffer) for file columns, Right(constant) for partition values /
  // extras / `_file` / `_pos` (pos handled separately — it is the one
  // per-row non-file value)
  private val partValues: Map[String, Any] =
    partCols.zip(split.partValues).map { case (c, v) =>
      c -> SinkParquetResolve.castValue(v,
        if (split.inlineParts) StringType else fullSchema(c).dataType)
    }.toMap

  /** (file field resolved for this required column, its Catalyst type,
    * buffer slot) — in required order, file columns only.
    */
  private val resolved = scala.collection.mutable.ArrayBuffer[(Type, DataType)]()

  private sealed trait Source
  private case class FromFile(slot: Int) extends Source
  private case class Const(v: Any) extends Source
  private case object RowPos extends Source

  private val plan: Array[Source] = required.fields.map { f =>
    if (!split.inlineParts && partCols.contains(f.name))
      Const(partValues(f.name))
    else {
      lazy val extra = split.extras.find(_._1 == f.name)
      val fileField = SinkParquetResolve.field(fileSchema, fieldIds, f.name)
      if (fileField.isDefined) {
        resolved += ((fileField.get, f.dataType))
        FromFile(resolved.length - 1)
      }
      else if (extra.isDefined)
        Const(SinkParquetResolve.castValue(extra.get._2, f.dataType))
      else if (f.name == SinkMeta.FileCol)
        Const(UTF8String.fromString(split.file))
      else if (f.name == SinkMeta.PosCol) RowPos
      else Const(null) // evolution: column newer than the file
    }
  }

  private val nSlots = resolved.length
  private val buffer = new Array[Any](nSlots)

  /** Converter writing one file column into its buffer slot, with
    * dictionary support for strings (decode each dictionary entry to
    * a UTF8String ONCE per page, not once per row). `dt` is the
    * TABLE's current type, which may be WIDER than the file's physical
    * type after an `ALTER COLUMN ... TYPE` evolution — the decode
    * casts (int→long, float→double) so old files serve the widened
    * column directly.
    */
  private final class Slot(set: Any => Unit, dt: DataType,
                           phys: PrimitiveTypeName) extends PrimitiveConverter {
    private var dict: Array[Any] = _
    override def hasDictionarySupport: Boolean = true
    override def setDictionary(dictionary: Dictionary): Unit = {
      dict = new Array[Any](dictionary.getMaxId + 1)
      var i = 0
      while (i < dict.length) {
        // decode by the FILE's physical type, then widen to the
        // table's — a dictionary written as INT32 must not be read
        // through decodeToLong
        dict(i) = (phys, dt) match {
          case (PrimitiveTypeName.BINARY, StringType) =>
            UTF8String.fromBytes(dictionary.decodeToBinary(i).getBytes)
          case (PrimitiveTypeName.BINARY, BinaryType) =>
            dictionary.decodeToBinary(i).getBytes
          case (PrimitiveTypeName.INT64, LongType) => dictionary.decodeToLong(i)
          case (PrimitiveTypeName.INT32, LongType) =>
            dictionary.decodeToInt(i).toLong
          case (PrimitiveTypeName.INT32, IntegerType) => dictionary.decodeToInt(i)
          case (PrimitiveTypeName.INT32, ShortType) =>
            dictionary.decodeToInt(i).toShort
          case (PrimitiveTypeName.INT32, ByteType) =>
            dictionary.decodeToInt(i).toByte
          case (PrimitiveTypeName.DOUBLE, DoubleType) =>
            dictionary.decodeToDouble(i)
          case (PrimitiveTypeName.FLOAT, DoubleType) =>
            dictionary.decodeToFloat(i).toDouble
          case (PrimitiveTypeName.FLOAT, FloatType) => dictionary.decodeToFloat(i)
          case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
            dictionary.decodeToBoolean(i)
          case _ => null
        }
        i += 1
      }
    }
    override def addValueFromDictionary(id: Int): Unit = set(dict(id))
    override def addBinary(v: Binary): Unit = set(dt match {
      case BinaryType => v.getBytes
      case _ => UTF8String.fromBytes(v.getBytes)
    })
    override def addLong(v: Long): Unit = set(v)
    override def addInt(v: Int): Unit = set(dt match {
      case ShortType => v.toShort
      case ByteType => v.toByte
      case LongType => v.toLong // widened int → long
      case _ => v
    })
    override def addDouble(v: Double): Unit = set(v)
    override def addFloat(v: Float): Unit = set(dt match {
      case DoubleType => v.toDouble // widened float → double
      case _ => v
    })
    override def addBoolean(v: Boolean): Unit = set(v)
  }

  /** Converter for any supported type writing its finished Catalyst
    * value through `setV`: primitives get [[Slot]] (dictionary-aware,
    * widening-aware), structs assemble a [[GenericInternalRow]],
    * arrays a [[GenericArrayData]] — recursion mirrors the writer's
    * group shapes exactly. `req` is the REQUESTED parquet type (for
    * nested columns: derived from the table's Catalyst type, so a
    * nested-pruned projection builds exactly the requested subset).
    */
  private def converterFor(dt: DataType, req: Type,
                           setV: Any => Unit): Converter = dt match {
    case s: StructType =>
      val group = req.asGroupType()
      new GroupConverter {
        private var values: Array[Any] = _
        private val children: Array[Converter] =
          s.fields.zipWithIndex.map { case (f, i) =>
            converterFor(f.dataType, group.getType(i), v => values(i) = v)
          }
        override def getConverter(i: Int): Converter = children(i)
        override def start(): Unit =
          values = new Array[Any](s.fields.length)
        override def end(): Unit = setV(new GenericInternalRow(values))
      }
    case a: ArrayType =>
      val listGroup = req.asGroupType() // name (LIST) { repeated list { element } }
      val elemType = listGroup.getType(0).asGroupType().getType(0)
      new GroupConverter {
        private val buf = scala.collection.mutable.ArrayBuffer[Any]()
        private var elem: Any = _
        private val repeated: Converter = new GroupConverter {
          private val inner =
            converterFor(a.elementType, elemType, v => elem = v)
          override def getConverter(i: Int): Converter = inner
          override def start(): Unit = elem = null
          override def end(): Unit = buf += elem
        }
        override def getConverter(i: Int): Converter = repeated
        override def start(): Unit = buf.clear()
        override def end(): Unit =
          setV(new GenericArrayData(buf.toArray))
      }
    case prim =>
      new Slot(setV, prim, req.asPrimitiveType().getPrimitiveTypeName)
  }

  /** Requested schema, one entry per resolved column: PRIMITIVES keep
    * the file field verbatim (file name, file PHYSICAL type — the
    * widening decode resolves through it); NESTED columns derive the
    * requested group from the table's Catalyst type under the file
    * field's name, so Spark's nested-schema pruning (a struct
    * projected to a subset of its fields) requests exactly that
    * subset of the file's group — a valid projection, which is what
    * ColumnIOFactory requires. Materializer fills the buffer slots in
    * the same order.
    */
  private val requestedFields: Seq[Type] = resolved.toSeq.map {
    case (ff, dt) =>
      if (ff.isPrimitive) ff
      else SinkParquetWrite.field(ff.getName, dt, -1)
  }
  private val requestedSchema: MessageType =
    new MessageType("graft_sink", requestedFields.asJava)

  private val materializer = new RecordMaterializer[Array[Any]] {
    private val converters: Array[Converter] =
      resolved.toArray.zipWithIndex.map { case ((_, dt), slot) =>
        converterFor(dt, requestedFields(slot), v => buffer(slot) = v)
      }
    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit = java.util.Arrays.fill(
        buffer.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit = ()
    }
    override def getCurrentRecord: Array[Any] = buffer
    override def getRootConverter: GroupConverter = root
  }

  private val columnIO =
    if (nSlots > 0) {
      reader.setRequestedSchema(requestedSchema)
      new ColumnIOFactory().getColumnIO(requestedSchema, fileSchema, false)
    } else null

  // selected row groups (post range filter), for row counting and the
  // `_pos` offsets; COUNT-style scans (zero file columns needed) never
  // touch a data page — the footer row counts drive the loop
  private val rowGroups = reader.getRowGroups.asScala.toSeq

  /** Row-group skip verdicts against the pushed data-column
    * comparisons (see [[SinkParquetGroupSkip]]); filter columns
    * resolve by field id first, so renamed columns' old files prove.
    */
  private val keepGroup: Array[Boolean] = {
    if (skipFilters.isEmpty) Array.fill(rowGroups.length)(true)
    else {
      val resolve: String => Option[String] = name =>
        SinkParquetResolve.field(fileSchema, fieldIds, name).map(_.getName)
      rowGroups.map(b =>
        SinkParquetGroupSkip.keep(b, skipFilters, resolve)).toArray
    }
  }

  // account the chunk bytes this split selects (see SinkParquetIo) —
  // KEPT groups only, so the counter also observes row-group skipping
  locally {
    val wanted = requestedSchema.getFields.asScala.map(_.getName).toSet
    if (wanted.nonEmpty) {
      val bytes = rowGroups.zipWithIndex.iterator
        .filter { case (_, i) => keepGroup(i) }
        .flatMap(_._1.getColumns.asScala)
        .filter(c => wanted.contains(c.getPath.toDotString.split("\\.")(0)))
        .map(_.getTotalSize).sum
      SinkParquetIo.chunkBytesPlanned.add(bytes)
    }
  }

  private var groupIdx = -1
  private var inGroupRemaining = 0L
  private var recordReader: org.apache.parquet.io.RecordReader[Array[Any]] = _
  /** Global row index (within the FILE) of the NEXT row. */
  private var rowIndex: Long = 0L

  private def advanceGroup(): Boolean = {
    groupIdx += 1
    if (groupIdx >= rowGroups.length) return false
    if (!keepGroup(groupIdx)) {
      // provably match-free: skip the group's pages wholesale. `_pos`
      // stays correct because every kept group's offset comes from
      // its own footer metadata, never from a running count.
      if (nSlots > 0) reader.skipNextRowGroup()
      inGroupRemaining = 0L
      return advanceGroup()
    }
    if (nSlots > 0) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      inGroupRemaining = pages.getRowCount
      rowIndex = pages.getRowIndexOffset.orElse(
        rowGroups(groupIdx).getRowIndexOffset)
      recordReader = columnIO.getRecordReader(pages, materializer)
    } else {
      val block = rowGroups(groupIdx)
      inGroupRemaining = block.getRowCount
      // row-index offsets come from the footer (absolute within the
      // FILE, range filtering notwithstanding)
      rowIndex = block.getRowIndexOffset
    }
    true
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inGroupRemaining == 0L) {
      if (!advanceGroup()) return false
    }
    if (nSlots > 0) recordReader.read() // fills buffer
    val pos = rowIndex
    lastPos = pos
    val values = plan.map {
      case FromFile(slot) => buffer(slot)
      case Const(v) => v
      case RowPos => pos
    }
    current = InternalRow.fromSeq(values.toIndexedSeq)
    inGroupRemaining -= 1
    rowIndex += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
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
  * One encoder, one decoder, both Spark's own. WRITES go through
  * Spark's parquet output path ([[PartitionedSinkWriterFactory]]
  * prepares `ParquetFileFormat.prepareWrite` once per write): the
  * codec is Spark's `spark.sql.parquet.compression.codec` (snappy),
  * the row-group size parquet's `parquet.block.size` (128 MB), and
  * each top-level data column carries the table's FIELD ID as
  * `parquet.field.id` metadata, which Spark stamps into the file
  * (`spark.sql.parquet.fieldId.write.enabled`, on by default) — what
  * rename/drop evolution resolves by. READS decode through Spark's
  * vectorized reader ([[SinkParquetSplitReader]]); graft adds only
  * the field-id column resolution, split constants, row-group skip
  * predicate and merge-on-read mask in front of it. The sink's type
  * surface stays deliberately small (see [[SinkFormat.validateColumnType]]):
  * the atomic set, opaque BINARY, and nested struct/array compositions
  * of those (parquet's standard group and 3-level LIST shapes).
  *
  * What this buys at 100 TB: a narrow projection reads only its
  * columns' chunks (I/O pruning, not just decode pruning), values are dictionary/RLE-encoded and snappy-compressed
  * (5–10× fewer bytes on disk and over the wire), and byte-range
  * split carving maps onto row groups (the classic midpoint rule via
  * ParquetMetadataConverter.range).
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

  /** Every `graft.*` table option. The field-id registry is engine
    * state: it rides CREATE but is not user-settable afterwards.
    */
  final val Options: Set[String] = Set(SinkBloomConf.PropColumns,
    PropDeleteMode, PropRowChanges, PropSortOrder, PropFieldIds,
    PropNextFieldId)

  /** User-supplied `graft.*` properties (path-API options, CREATE
    * TBLPROPERTIES), unchanged: any other key is rejected, naming it —
    * `graft.format` among them (the sink has one data-file format).
    */
  def userProps(where: String,
                props: Map[String, String]): Map[String, String] = {
    require(!props.contains(PropFormat),
      s"$where: $PropFormat is not an option (sink data files are " +
        "always parquet)")
    props.keys.filterNot(Options).foreach(k =>
      throw new IllegalArgumentException(s"$where: $k is not a sink table " +
        s"option (options: ${Options.toSeq.sorted.mkString(", ")})"))
    props
  }

  /** Properties persisted in a table's sidecar, minus keys that are no
    * longer options. Tables created while the format key existed
    * recorded 'parquet' (fine) or 'tsv', whose data files nothing reads
    * now.
    */
  def storedProps(table: String,
                  props: Map[String, String]): Map[String, String] = {
    props.get(PropFormat).foreach(f => require(f == "parquet",
      s"table $table is '$f'-format: TSV data files are no longer " +
        "readable (the sink reads and writes parquet only) — rewrite " +
        "the table from its source"))
    props.filter { case (k, _) => Options(k) }
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

  /** Create/evolve/write-time type gate, at plan time (not at the
    * first row a task writes): every column, at every nesting level,
    * is atomic (string/boolean/byte/short/int/long/float/double),
    * BINARY, a struct or an array of those — decimal, date, timestamp
    * and map are rejected, naming the column. BINARY and nested
    * columns are never partition columns (partition values name
    * directories).
    */
  def validateColumnType(name: String, dt: DataType,
                         isPartition: Boolean): Unit = {
    def walk(n: String, t: DataType): Unit = t match {
      case s: StructType =>
        s.fields.foreach(f => walk(s"$n.${f.name}", f.dataType))
      case a: ArrayType => walk(s"$n.element", a.elementType)
      case m: MapType => throw new IllegalArgumentException(
        s"column $n: MAP columns are not supported — model the " +
          s"${m.keyType.simpleString}→${m.valueType.simpleString} pairs " +
          "as array<struct<key,value>>")
      case StringType | LongType | IntegerType | DoubleType | FloatType |
           BooleanType | ShortType | ByteType | BinaryType => ()
      case other => throw new IllegalArgumentException(
        s"column $n has unsupported type ${other.simpleString} (sink " +
          "columns are string, boolean, byte, short, int, long, float, " +
          "double, binary, struct or array)")
    }
    walk(name, dt)
    if (isPartition) dt match {
      case BinaryType => throw new IllegalArgumentException(
        s"partition column $name cannot be BINARY (its rendered values " +
          "name the directory layout)")
      case _: StructType | _: ArrayType => throw new IllegalArgumentException(
        s"partition column $name cannot be nested (its rendered values " +
          "name the directory layout)")
      case _ => ()
    }
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

/** Column resolution against one parquet FILE's schema, shared by the
  * value decode and the row-group-skip predicate so both see the
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

/** THE sink decoder: every sink read (batch and copy-on-write scans,
  * the micro-batch tail, the change feed, [[SinkSplitsRead]]) decodes
  * one split — a file or a byte range of one — through Spark's own
  * [[VectorizedParquetRecordReader]]. Graft keeps only what Spark's
  * name-based reader cannot know, in front of it:
  *
  *   - COLUMN RESOLUTION by the table's field-id registry
  *     ([[SinkParquetResolve.field]]). Each resolved column is
  *     requested under the FILE's own field name with the TABLE's type,
  *     so a renamed column's old files serve it, and Spark's decode
  *     widens int→long / float→double in its vector updaters. A column
  *     the file does not carry (ADD COLUMNS, or a retired column that
  *     shares its name) is never requested by name: it is a NULL
  *     constant.
  *   - SPLIT CONSTANTS: partition values, `_file` and the change feed's
  *     extras ride `initBatch` as constant vectors; `_pos` is Spark's
  *     row-index column (absolute within the file, row-group and page
  *     skipping notwithstanding).
  *   - ROW-GROUP SKIPPING: the scan's data-column comparisons, renamed
  *     to the file's field names, become the parquet filter predicate
  *     (Spark's [[ParquetFilters]]), so groups and pages whose footer
  *     statistics exclude them are never decoded. Sound because every
  *     filter stays residual; copy-on-write scans pass none (a group
  *     rewrite must read its files whole).
  *   - MERGE-ON-READ deletes (and the feed's `invertDeletes`): a
  *     per-batch row mask over the row-index column; a batch that
  *     loses rows is served as a selection view over the decoded
  *     vectors, never copied.
  */
private[sources] class SinkParquetSplitReader(
    split: SinkFileSplit, required: StructType, partCols: Seq[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    fieldIds: Map[String, Int],
    skipFilters: Seq[org.apache.spark.sql.sources.Filter])
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.parquet.filter2.predicate.FilterApi
  import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader, ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val path = new Path(split.file)
  private val inputFile = HadoopInputFile.fromPath(path, conf.value)
  private val end =
    if (split.length == Long.MaxValue) Long.MaxValue
    else split.start + split.length
  // the footer is read once, carved to the split's row groups by the
  // midpoint rule, and handed to Spark's reader as is
  private val footer = ParquetFooterReader.readFooter(inputFile,
    if (end == Long.MaxValue) ParquetMetadataConverter.NO_FILTER
    else ParquetMetadataConverter.range(split.start, end))
  private val fileSchema: MessageType = footer.getFileMetaData.getSchema

  private val masking = split.delManifests.nonEmpty || split.invertDeletes
  private val RowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  // per required column: Left(ordinal among the decoded columns) or
  // Right(ordinal among the initBatch constants)
  private val decoded = scala.collection.mutable.ArrayBuffer[StructField]()
  private val constants = scala.collection.mutable.ArrayBuffer[(DataType, Any)]()
  private val slots: Array[Either[Int, Int]] = required.fields.map { f =>
    def decode(sf: StructField) = { decoded += sf; Left(decoded.length - 1) }
    def constant(v: Any) = { constants += ((f.dataType, v)); Right(constants.length - 1) }
    if (!split.inlineParts && partCols.contains(f.name))
      constant(SinkParquetResolve.castValue(
        split.partValues(partCols.indexOf(f.name)), f.dataType))
    else SinkParquetResolve.field(fileSchema, fieldIds, f.name) match {
      case Some(ff) => decode(StructField(ff.getName, f.dataType))
      case None => split.extras.find(_._1 == f.name) match {
        case Some((_, v)) => constant(SinkParquetResolve.castValue(v, f.dataType))
        case None if f.name == SinkMeta.FileCol =>
          constant(UTF8String.fromString(split.file))
        case None if f.name == SinkMeta.PosCol =>
          decode(StructField(RowIndex, LongType))
        case None => constant(null) // evolution: column newer than the file
      }
    }
  }
  if (masking && !decoded.exists(_.name == RowIndex))
    decoded += StructField(RowIndex, LongType)
  private val rowIndexOrdinal = decoded.indexWhere(_.name == RowIndex)

  /** Skip filters on the file's own field names (resolved like the
    * decode, so a renamed column's old files still prove and a retired
    * one never does), as a parquet predicate.
    */
  private val pushed = {
    def onFile(c: String): Option[String] =
      SinkParquetResolve.field(fileSchema, fieldIds, c)
        .filter(_.isPrimitive)
        .map(t => org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIfNeeded(t.getName))
    val renamed = skipFilters.flatMap {
      case EqualTo(c, v) => onFile(c).map(EqualTo(_, v))
      case GreaterThan(c, v) => onFile(c).map(GreaterThan(_, v))
      case GreaterThanOrEqual(c, v) => onFile(c).map(GreaterThanOrEqual(_, v))
      case LessThan(c, v) => onFile(c).map(LessThan(_, v))
      case LessThanOrEqual(c, v) => onFile(c).map(LessThanOrEqual(_, v))
      case In(c, vs) => onFile(c).map(In(_, vs))
      case _ => None
    }
    if (renamed.isEmpty) None
    else {
      val pf = new ParquetFilters(fileSchema, false, false, false, true,
        SQLConf.PARQUET_FILTER_PUSHDOWN_INFILTERTHRESHOLD.defaultValue.get,
        true, org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      renamed.flatMap(pf.createFilter).reduceOption(FilterApi.and)
    }
  }

  // account the chunk bytes this split selects (see SinkParquetIo):
  // requested columns of the row groups the footer stats keep
  locally {
    val names = decoded.map(_.name).toSet - RowIndex
    if (names.nonEmpty) {
      SinkParquetIo.chunkBytesPlanned.add(footer.getBlocks.asScala.iterator
        .filterNot(b => pushed.exists(StatisticsFilter.canDrop(_, b.getColumns)))
        .flatMap(_.getColumns.asScala)
        .filter(c => names.contains(c.getPath.toArray()(0)))
        .map(_.getTotalSize).sum)
    }
  }

  private val reader = {
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val c = ctx.getConfiguration
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(decoded.toSeq).json)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, true)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    c.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, false)
    pushed.foreach(
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(c, _))
    val r = new VectorizedParquetRecordReader(false,
      SinkParquetSplitReader.BatchRows)
    val stream = inputFile.newStream()
    try {
      r.initialize(new org.apache.hadoop.mapred.FileSplit(path, split.start,
        end - split.start, Array.empty[String]), ctx, Some(inputFile),
        Some(stream), Some(footer))
      r.initBatch(StructType(constants.toSeq.zipWithIndex.map {
        case ((dt, _), i) => StructField(s"c$i", dt) }),
        InternalRow.fromSeq(constants.toSeq.map(_._2)))
    } catch { case e: Throwable => stream.close(); r.close(); throw e }
    r
  }

  private val vectors: Array[ColumnVector] = {
    val b = reader.resultBatch()
    slots.map {
      case Left(k) => b.column(k)
      case Right(j) => b.column(decoded.length + j)
    }
  }
  private val whole = new ColumnarBatch(vectors)
  private val selection = new SinkRowSelection(SinkParquetSplitReader.BatchRows)
  private val masked = new ColumnarBatch(
    vectors.map(v => new SinkSelectedVector(v, selection): ColumnVector))
  private var current: ColumnarBatch = _

  /** Active merge-on-read positions for this file, loaded once per
    * split, executor-side.
    */
  private lazy val deletePositions: java.util.HashSet[java.lang.Long] =
    SinkDeletes.positionsFor(
      org.apache.hadoop.fs.FileSystem.get(path.toUri, conf.value),
      split.delManifests, split.relPath)

  override def next(): Boolean = {
    while (reader.nextBatch()) {
      val n = reader.resultBatch().numRows()
      var kept = n
      if (masking) {
        val pos = reader.resultBatch().column(rowIndexOrdinal)
        kept = 0
        var i = 0
        while (i < n) {
          if (deletePositions.contains(pos.getLong(i)) == split.invertDeletes) {
            selection.rows(kept) = i
            kept += 1
          }
          i += 1
        }
      }
      if (kept == n) {
        whole.setNumRows(n)
        current = whole
        return true
      }
      if (kept > 0) {
        selection.size = kept
        masked.setNumRows(kept)
        current = masked
        return true
      }
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
  override def close(): Unit = reader.close()
}

private[sources] object SinkParquetSplitReader {
  /** Rows per batch: Spark's own parquet default. */
  final val BatchRows = 4096
}

/** The kept rows of one masked batch: `rows(0 until size)`. */
private[sources] final class SinkRowSelection(capacity: Int) {
  val rows = new Array[Int](capacity)
  var size = 0
}

/** Row `i` of this vector is row `selection.rows(i)` of `inner`: the
  * merge-on-read mask as a view over the decoded batch. Children
  * (struct fields) select the same rows; arrays and maps keep their
  * element storage.
  */
private[sources] final class SinkSelectedVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector,
    selection: SinkRowSelection)
    extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType()) {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
  private def at(i: Int) = selection.rows(i)
  private lazy val children: Array[ColumnVector] = dataType match {
    case s: StructType => s.fields.indices.map(k =>
      new SinkSelectedVector(inner.getChild(k), selection): ColumnVector).toArray
    case _ => Array.empty
  }
  override def close(): Unit = ()
  override def hasNull(): Boolean = inner.hasNull
  override def numNulls(): Int =
    (0 until selection.size).count(i => inner.isNullAt(at(i)))
  override def isNullAt(i: Int): Boolean = inner.isNullAt(at(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(at(i))
  override def getByte(i: Int): Byte = inner.getByte(at(i))
  override def getShort(i: Int): Short = inner.getShort(at(i))
  override def getInt(i: Int): Int = inner.getInt(at(i))
  override def getLong(i: Int): Long = inner.getLong(at(i))
  override def getFloat(i: Int): Float = inner.getFloat(at(i))
  override def getDouble(i: Int): Double = inner.getDouble(at(i))
  override def getArray(i: Int): ColumnarArray = inner.getArray(at(i))
  override def getMap(i: Int): ColumnarMap = inner.getMap(at(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(at(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(at(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(at(i))
  override def getChild(ordinal: Int): ColumnVector = children(ordinal)
}

package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader, Dictionary, Encoding, ValuesType}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2, PageReader}
import org.apache.parquet.column.values.ValuesReader
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED read path for the sink's parquet tier: one
  * [[ColumnarBatch]] per `next()` instead of one boxed [[InternalRow]]
  * per row. Same public parquet-mr surface as [[SinkParquetReader]],
  * one level lower: instead of record assembly (ColumnIO →
  * RecordMaterializer → per-row converter calls), each column's PAGES
  * decode straight into a primitive-slotted [[OnHeapColumnVector]] —
  * definition levels from the page's RLE reader, values from the
  * page's [[ValuesReader]], dictionary entries pre-decoded ONCE per
  * chunk for strings — in a per-column monomorphic loop with no per-row
  * `Array[Any]`, no boxing, no `InternalRow.fromSeq`. Spark's
  * ColumnarToRow bridge (whole-stage codegen) consumes the batches.
  * At the 100 TB posture this is the decode-CPU fix on the tier that
  * carries every byte the skip layers keep.
  *
  * SEMANTICS ARE IDENTICAL to the row reader by construction: both
  * resolve columns through [[SinkParquetResolve]] (field-id evolution),
  * both skip row groups through [[SinkParquetGroupSkip]], both anchor
  * `_pos` on footer row-index offsets. Equivalence is spec-pinned over
  * nulls, evolution, metadata columns, projections and skips
  * (SinkParquetColumnarSpec).
  *
  * A column chunk whose encodings fall outside the expected set
  * (PLAIN / RLE / BIT_PACKED / dictionary — everything the sink writer
  * emits) falls back to the triplet API ([[ColumnReadStoreImpl]]) for
  * that chunk: slower, never wrong, and foreign files keep reading.
  *
  * Chosen per SCAN, not per split: Spark requires every partition of
  * a scan to agree on columnar-vs-row, so the scan enables this path
  * only when every split is a parquet file. Merge-on-read position
  * deletes apply at BATCH grain: a per-batch keep mask compacts kept
  * rows to the vector front while dropped rows' values are skipped
  * in-stream (never decoded) — a MOR table keeps the vectorized
  * decode, paying only the mask walk on batches that contain deletes.
  */
private[graft] object SinkParquetColumnar {
  /** Escape hatch + bench A/B: `false` forces the row-materialized
    * parquet path. Read driver-side at factory construction.
    */
  final val EnabledKey = "spark.graft.sink.parquet.columnar"

  def enabledInSession(): Boolean =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption(EnabledKey).forall(_.toBoolean)

  /** Rows per batch: big enough to amortize per-batch bookkeeping,
    * small enough that a wide batch of strings stays cache-friendly
    * (Spark's own parquet reader defaults to 4096).
    */
  final val BatchRows = 4096

  /** The vectorized decode handles FLAT columns and ARRAYS OF
    * ATOMICS (one parquet leaf per field either way — the embedding /
    * token-list shapes decode straight into an offsets-plus-child
    * vector pair, repetition levels walked page-side). A projection
    * containing a struct or an array of non-atomics demotes the scan
    * to the row-materialized path, whose record-assembly converters
    * recurse naturally. Partition/metadata constants are always fine.
    */
  def schemaEligible(required: StructType): Boolean =
    required.fields.forall(f => f.dataType match {
      case ArrayType(et, _) => et match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | BooleanType | StringType | BinaryType => true
        case _ => false
      }
      case _: StructType | _: MapType => false
      case _ => true
    })

  /** Encodings the page-level decode understands; anything else (e.g.
    * DELTA_*) falls back to the triplet API per column chunk.
    */
  private[sources] val FastEncodings: Set[Encoding] = Set(
    Encoding.PLAIN, Encoding.RLE, Encoding.BIT_PACKED,
    Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)
}

private[sources] class SinkParquetColumnarReader(
    split: SinkFileSplit, fullSchema: StructType, required: StructType,
    partCols: Seq[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    fieldIds: Map[String, Int] = Map.empty,
    skipFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private val filePath = new Path(split.file)
  private val inputFile = HadoopInputFile.fromPath(filePath, conf.value)

  private val reader: ParquetFileReader = {
    val b = org.apache.parquet.ParquetReadOptions.builder()
    val opts =
      (if (split.length == Long.MaxValue) b
       else b.withRange(split.start, split.start + split.length)).build()
    new ParquetFileReader(inputFile, opts)
  }

  private val fileSchema: MessageType =
    reader.getFooter.getFileMetaData.getSchema
  private val createdBy: String =
    reader.getFooter.getFileMetaData.getCreatedBy

  private val partValues: Map[String, Any] =
    partCols.zip(split.partValues).map { case (c, v) =>
      c -> SinkParquetResolve.castValue(v,
        if (split.inlineParts) StringType else fullSchema(c).dataType)
    }.toMap

  /** One constant vector, set from a Catalyst-typed value. */
  private def constVector(dt: DataType, v: Any): ConstantColumnVector = {
    val cv = new ConstantColumnVector(SinkParquetColumnar.BatchRows, dt)
    if (v == null) cv.setNull()
    else dt match {
      case StringType  => cv.setUtf8String(v.asInstanceOf[UTF8String])
      case LongType    => cv.setLong(v.asInstanceOf[Long])
      case IntegerType => cv.setInt(v.asInstanceOf[Int])
      case DoubleType  => cv.setDouble(v.asInstanceOf[Double])
      case FloatType   => cv.setFloat(v.asInstanceOf[Float])
      case BooleanType => cv.setBoolean(v.asInstanceOf[Boolean])
      case ShortType   => cv.setShort(v.asInstanceOf[Short])
      case ByteType    => cv.setByte(v.asInstanceOf[Byte])
      case BinaryType  => cv.setBinary(v.asInstanceOf[Array[Byte]])
      case other => throw new UnsupportedOperationException(
        s"PartitionedSink supports atomic column types only, got $other")
    }
    cv
  }

  // Per required column: either a resolved FILE field (decoded per
  // batch) or a constant / per-row-position vector. Built once.
  private sealed trait Src
  private case class FromFile(fileField: Type, dt: DataType,
                              vec: OnHeapColumnVector) extends Src
  private case class Const(vec: ConstantColumnVector) extends Src
  private case class RowPos(vec: OnHeapColumnVector) extends Src

  private val plan: Array[Src] = required.fields.map { f =>
    if (!split.inlineParts && partCols.contains(f.name))
      Const(constVector(f.dataType, partValues(f.name)))
    else {
      lazy val extra = split.extras.find(_._1 == f.name)
      SinkParquetResolve.field(fileSchema, fieldIds, f.name) match {
        case Some(ff) =>
          FromFile(ff, f.dataType,
            new OnHeapColumnVector(SinkParquetColumnar.BatchRows, f.dataType))
        case None if extra.isDefined =>
          Const(constVector(f.dataType,
            SinkParquetResolve.castValue(extra.get._2, f.dataType)))
        case None if f.name == SinkMeta.FileCol =>
          Const(constVector(StringType, UTF8String.fromString(split.file)))
        case None if f.name == SinkMeta.PosCol =>
          RowPos(new OnHeapColumnVector(SinkParquetColumnar.BatchRows, LongType))
        case None => Const(constVector(f.dataType, null)) // evolution: NULL
      }
    }
  }

  private val fileCols: Array[(Type, DataType, OnHeapColumnVector)] =
    plan.collect { case FromFile(ff, dt, vec) => (ff, dt, vec) }

  private val requestedSchema: MessageType =
    new MessageType("graft_sink", fileCols.map(_._1).toSeq.asJava)
  private val nSlots = fileCols.length

  private val vectors: Array[ColumnVector] = plan.map {
    case FromFile(_, _, vec) => vec: ColumnVector
    case Const(vec) => vec: ColumnVector
    case RowPos(vec) => vec: ColumnVector
  }
  private val posVec: Option[OnHeapColumnVector] =
    plan.collectFirst { case RowPos(vec) => vec }
  private val batch = new ColumnarBatch(vectors)

  /** The dummy converter tree the FALLBACK triplet path's
    * [[ColumnReadStoreImpl]] navigates; no dictionary binding = its
    * column readers decode dictionary ids on `getX`.
    */
  private object DummyRoot extends GroupConverter {
    private val prim = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = prim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  private val rowGroups = reader.getRowGroups.asScala.toSeq

  private val keepGroup: Array[Boolean] = {
    if (skipFilters.isEmpty) Array.fill(rowGroups.length)(true)
    else {
      val resolve: String => Option[String] = name =>
        SinkParquetResolve.field(fileSchema, fieldIds, name).map(_.getName)
      rowGroups.map(b =>
        SinkParquetGroupSkip.keep(b, skipFilters, resolve)).toArray
    }
  }

  // same planned-chunk-bytes accounting as the row reader — the I/O
  // pruning pins and ops visibility see both paths identically
  locally {
    if (nSlots > 0) reader.setRequestedSchema(requestedSchema)
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

  private val descriptors: Array[ColumnDescriptor] =
    requestedSchema.getColumns.asScala.toArray

  /** Fills from one column of the current row group: `fill(n)` decodes
    * the next n rows into `vec[0, n)`; `fillMasked(n, keep)` decodes n
    * rows but lands only the kept ones, COMPACTED to the front of the
    * vector (deleted rows' values are skipped in-stream, never
    * materialized) — the merge-on-read anti-filter at batch grain.
    */
  private abstract class ColFiller {
    val vec: OnHeapColumnVector
    def fill(n: Int): Unit
    def fillMasked(n: Int, keep: Array[Boolean]): Unit
  }

  // ------------------------------------------------------------------
  // FAST PATH: page-level decode. One page at a time: definition
  // levels through the page's own RLE reader, values through the
  // page's ValuesReader (dictionary ids resolved against a per-chunk
  // pre-decoded table for strings). The put() body is chosen once per
  // column from the (file physical type, Catalyst type) pair — type
  // WIDENING (int→long, float→double, …) happens there, so old files
  // decode straight into the widened vector.
  // ------------------------------------------------------------------
  private abstract class PageFiller(pages: PageReader,
                                    desc: ColumnDescriptor)
      extends ColFiller {
    private val maxDef = desc.getMaxDefinitionLevel
    protected val dict: Dictionary = {
      val dp = pages.readDictionaryPage()
      if (dp == null) null else dp.getEncoding.initDictionary(desc, dp)
    }

    private var remaining = 0 // triplets left in the current page
    private var defs: ValuesReader = _
    protected var values: ValuesReader = _
    /** Current page is dictionary-encoded AND the subclass wants ids. */
    protected var dictIds = false

    /** Does this filler consume dictionary pages by ID? (strings). */
    protected def wantsDictIds: Boolean = false
    protected def put(i: Int): Unit
    protected def putFromDict(i: Int, id: Int): Unit = ()

    private def advancePage(): Unit = {
      val page: DataPage = pages.readPage()
      if (page == null) throw new IllegalStateException(
        s"premature end of column ${desc.getPath.mkString(".")} in ${split.file}")
      page match {
        case p: DataPageV1 =>
          val n = p.getValueCount
          val in = p.getBytes.toInputStream
          // V1 packs rep levels, def levels and values in one stream,
          // in that order — init all three against it
          val reps = p.getRlEncoding.getValuesReader(desc,
            ValuesType.REPETITION_LEVEL)
          reps.initFromPage(n, in)
          defs = p.getDlEncoding.getValuesReader(desc,
            ValuesType.DEFINITION_LEVEL)
          defs.initFromPage(n, in)
          if (p.getValueEncoding.usesDictionary) {
            if (dict == null) throw new IllegalStateException(
              s"dictionary-encoded page without a dictionary page in ${split.file}")
            values = p.getValueEncoding.getDictionaryBasedValuesReader(
              desc, ValuesType.VALUES, dict)
            dictIds = wantsDictIds
          } else {
            values = p.getValueEncoding.getValuesReader(desc, ValuesType.VALUES)
            dictIds = false
          }
          values.initFromPage(n, in)
          remaining = n
        case p: DataPageV2 =>
          // the sink writer emits V1; V2 carries def levels as
          // headerless RLE in their own stream
          val n = p.getValueCount
          defs = new SinkRleDefReader(maxDef,
            p.getDefinitionLevels.toInputStream, n)
          if (p.getDataEncoding.usesDictionary) {
            if (dict == null) throw new IllegalStateException(
              s"dictionary-encoded page without a dictionary page in ${split.file}")
            values = p.getDataEncoding.getDictionaryBasedValuesReader(
              desc, ValuesType.VALUES, dict)
            dictIds = wantsDictIds
          } else {
            values = p.getDataEncoding.getValuesReader(desc, ValuesType.VALUES)
            dictIds = false
          }
          values.initFromPage(n, p.getData.toInputStream)
          remaining = n
      }
    }

    final def fill(n: Int): Unit = {
      var i = 0
      while (i < n) {
        if (remaining == 0) advancePage()
        val end = i + math.min(n - i, remaining)
        val took = end - i
        if (maxDef == 0) {
          if (dictIds) {
            while (i < end) { putFromDict(i, values.readValueDictionaryId()); i += 1 }
          } else {
            while (i < end) { put(i); i += 1 }
          }
        } else if (dictIds) {
          while (i < end) {
            if (defs.readInteger() == maxDef)
              putFromDict(i, values.readValueDictionaryId())
            else vec.putNull(i)
            i += 1
          }
        } else {
          while (i < end) {
            if (defs.readInteger() == maxDef) put(i) else vec.putNull(i)
            i += 1
          }
        }
        remaining -= took
      }
    }

    final def fillMasked(n: Int, keep: Array[Boolean]): Unit = {
      var i = 0
      var out = 0
      while (i < n) {
        if (remaining == 0) advancePage()
        val end = i + math.min(n - i, remaining)
        val took = end - i
        while (i < end) {
          val present = maxDef == 0 || defs.readInteger() == maxDef
          if (keep(i)) {
            if (!present) vec.putNull(out)
            else if (dictIds) putFromDict(out, values.readValueDictionaryId())
            else put(out)
            out += 1
          } else if (present) values.skip() // dropped value: never decode
          i += 1
        }
        remaining -= took
      }
    }
  }

  /** Headerless-RLE definition-level reader for DataPageV2 (exposed
    * through the ValuesReader contract so the fill loop is uniform).
    */
  private final class SinkRleDefReader(maxDef: Int,
      in: org.apache.parquet.bytes.ByteBufferInputStream, n: Int)
      extends ValuesReader {
    private val dec = new org.apache.parquet.column.values.rle
      .RunLengthBitPackingHybridDecoder(
        org.apache.parquet.bytes.BytesUtils.getWidthFromMaxInt(maxDef), in)
    override def initFromPage(valueCount: Int,
        stream: org.apache.parquet.bytes.ByteBufferInputStream): Unit = ()
    override def readInteger(): Int = dec.readInt()
    override def skip(): Unit = dec.readInt()
  }

  // ------------------------------------------------------------------
  // ARRAYS OF ATOMICS: still one parquet leaf per field, now with
  // repetition levels. The sink writer's canonical list shape is
  // `optional group (LIST) { repeated group list { optional element } }`
  // (maxRep 1), so for a top-level array field: def 0 = NULL list,
  // def 1 = empty list, def maxDef-1 = NULL element (when the element
  // is optional), def maxDef = value. Rows are walked by repetition
  // level (rep 0 starts a row, rep 1 continues its list) with a
  // one-triplet lookahead, so lists spanning page boundaries decode
  // correctly; elements append into the vector's child (offsets into
  // the parent via putArray) — no per-row boxing, no record assembly.
  // ------------------------------------------------------------------
  private def elemAppender(child: org.apache.spark.sql.execution.vectorized
                             .WritableColumnVector,
                           phys: PrimitiveTypeName, et: DataType,
                           rd: () => ValuesReader): () => Unit =
    (phys, et) match {
      case (PrimitiveTypeName.INT64, LongType) =>
        () => child.appendLong(rd().readLong())
      case (PrimitiveTypeName.INT32, IntegerType) =>
        () => child.appendInt(rd().readInteger())
      case (PrimitiveTypeName.INT32, LongType) => // widened int → long
        () => child.appendLong(rd().readInteger().toLong)
      case (PrimitiveTypeName.INT32, ShortType) =>
        () => child.appendShort(rd().readInteger().toShort)
      case (PrimitiveTypeName.INT32, ByteType) =>
        () => child.appendByte(rd().readInteger().toByte)
      case (PrimitiveTypeName.DOUBLE, DoubleType) =>
        () => child.appendDouble(rd().readDouble())
      case (PrimitiveTypeName.FLOAT, DoubleType) => // widened float → double
        () => child.appendDouble(rd().readFloat().toDouble)
      case (PrimitiveTypeName.FLOAT, FloatType) =>
        () => child.appendFloat(rd().readFloat())
      case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
        () => child.appendBoolean(rd().readBoolean())
      case (PrimitiveTypeName.BINARY, StringType | BinaryType) =>
        () => {
          val b = rd().readBytes().getBytesUnsafe
          child.appendByteArray(b, 0, b.length)
          ()
        }
      case other => throw new UnsupportedOperationException(
        s"sink parquet reader cannot decode array element $other " +
          s"(file ${split.file})")
    }

  private final class ArrayPageFiller(pages: PageReader,
      desc: ColumnDescriptor, totalTriplets: Long, et: DataType,
      val vec: OnHeapColumnVector) extends ColFiller {
    private val maxDef = desc.getMaxDefinitionLevel
    private val maxRep = desc.getMaxRepetitionLevel
    require(maxRep == 1, s"expected a flat list column, got maxRep=$maxRep " +
      s"for ${desc.getPath.mkString(".")} in ${split.file}")
    private val child = vec.arrayData()
    private val dict: Dictionary = {
      val dp = pages.readDictionaryPage()
      if (dp == null) null else dp.getEncoding.initDictionary(desc, dp)
    }
    private var remaining = 0 // triplets left in the current page
    private var reps: ValuesReader = _
    private var defs: ValuesReader = _
    private var values: ValuesReader = _
    private var tripletsLeft = totalTriplets
    private var hasPending = false
    private var curRep = 0
    private var curDef = 0

    private val appendElem =
      elemAppender(child, desc.getPrimitiveType.getPrimitiveTypeName,
        et, () => values)

    private def advancePage(): Unit = {
      val page: DataPage = pages.readPage()
      if (page == null) throw new IllegalStateException(
        s"premature end of column ${desc.getPath.mkString(".")} in ${split.file}")
      page match {
        case p: DataPageV1 =>
          val n = p.getValueCount
          val in = p.getBytes.toInputStream
          reps = p.getRlEncoding.getValuesReader(desc,
            ValuesType.REPETITION_LEVEL)
          reps.initFromPage(n, in)
          defs = p.getDlEncoding.getValuesReader(desc,
            ValuesType.DEFINITION_LEVEL)
          defs.initFromPage(n, in)
          values =
            if (p.getValueEncoding.usesDictionary) {
              if (dict == null) throw new IllegalStateException(
                s"dictionary-encoded page without a dictionary page in ${split.file}")
              p.getValueEncoding.getDictionaryBasedValuesReader(
                desc, ValuesType.VALUES, dict)
            } else p.getValueEncoding.getValuesReader(desc, ValuesType.VALUES)
          values.initFromPage(n, in)
          remaining = n
        case p: DataPageV2 =>
          val n = p.getValueCount
          reps = new SinkRleDefReader(maxRep,
            p.getRepetitionLevels.toInputStream, n)
          defs = new SinkRleDefReader(maxDef,
            p.getDefinitionLevels.toInputStream, n)
          values =
            if (p.getDataEncoding.usesDictionary) {
              if (dict == null) throw new IllegalStateException(
                s"dictionary-encoded page without a dictionary page in ${split.file}")
              p.getDataEncoding.getDictionaryBasedValuesReader(
                desc, ValuesType.VALUES, dict)
            } else p.getDataEncoding.getValuesReader(desc, ValuesType.VALUES)
          values.initFromPage(n, p.getData.toInputStream)
          remaining = n
      }
    }

    private def readTriplet(): Unit = {
      if (remaining == 0) advancePage()
      curRep = reps.readInteger()
      curDef = defs.readInteger()
      remaining -= 1
      tripletsLeft -= 1
    }

    /** Appends one element for a triplet at def `d` (value or NULL). */
    private def appendOne(d: Int): Unit =
      if (d == maxDef) appendElem() else child.appendNull()

    /** Skips one element's value for a dropped row's triplet. */
    private def skipOne(d: Int): Unit = if (d == maxDef) values.skip()

    final def fill(n: Int): Unit = {
      var i = 0
      while (i < n) {
        if (hasPending) hasPending = false else readTriplet()
        if (curDef == 0) vec.putNull(i)
        else if (curDef == 1 && maxDef > 1)
          vec.putArray(i, child.getElementsAppended, 0)
        else {
          val start = child.getElementsAppended
          appendOne(curDef)
          var done = tripletsLeft == 0
          while (!done) {
            readTriplet()
            if (curRep == 0) { hasPending = true; done = true }
            else { appendOne(curDef); done = tripletsLeft == 0 }
          }
          vec.putArray(i, start, child.getElementsAppended - start)
        }
        i += 1
      }
    }

    final def fillMasked(n: Int, keep: Array[Boolean]): Unit = {
      var i = 0
      var out = 0
      while (i < n) {
        val k = keep(i)
        if (hasPending) hasPending = false else readTriplet()
        if (curDef == 0) { if (k) { vec.putNull(out); out += 1 } }
        else if (curDef == 1 && maxDef > 1) {
          if (k) { vec.putArray(out, child.getElementsAppended, 0); out += 1 }
        } else {
          val start = child.getElementsAppended
          if (k) appendOne(curDef) else skipOne(curDef)
          var done = tripletsLeft == 0
          while (!done) {
            readTriplet()
            if (curRep == 0) { hasPending = true; done = true }
            else {
              if (k) appendOne(curDef) else skipOne(curDef)
              done = tripletsLeft == 0
            }
          }
          if (k) {
            vec.putArray(out, start, child.getElementsAppended - start)
            out += 1
          }
        }
        i += 1
      }
    }
  }

  /** Triplet-API twin for chunks with exotic encodings: same walk,
    * rep/def peeked through the ColumnReader without a pending slot.
    */
  private final class ArrayTripletFiller(cr: ColumnReader,
      desc: ColumnDescriptor, et: DataType,
      val vec: OnHeapColumnVector) extends ColFiller {
    private val maxDef = desc.getMaxDefinitionLevel
    private val child = vec.arrayData()
    private var consumed = 0L
    private val total = cr.getTotalValueCount

    private val getElem: () => Unit =
      (desc.getPrimitiveType.getPrimitiveTypeName, et) match {
        case (PrimitiveTypeName.INT64, LongType) =>
          () => child.appendLong(cr.getLong)
        case (PrimitiveTypeName.INT32, IntegerType) =>
          () => child.appendInt(cr.getInteger)
        case (PrimitiveTypeName.INT32, LongType) =>
          () => child.appendLong(cr.getInteger.toLong)
        case (PrimitiveTypeName.INT32, ShortType) =>
          () => child.appendShort(cr.getInteger.toShort)
        case (PrimitiveTypeName.INT32, ByteType) =>
          () => child.appendByte(cr.getInteger.toByte)
        case (PrimitiveTypeName.DOUBLE, DoubleType) =>
          () => child.appendDouble(cr.getDouble)
        case (PrimitiveTypeName.FLOAT, DoubleType) =>
          () => child.appendDouble(cr.getFloat.toDouble)
        case (PrimitiveTypeName.FLOAT, FloatType) =>
          () => child.appendFloat(cr.getFloat)
        case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
          () => child.appendBoolean(cr.getBoolean)
        case (PrimitiveTypeName.BINARY, StringType | BinaryType) =>
          () => {
            val b = cr.getBinary.getBytesUnsafe
            child.appendByteArray(b, 0, b.length)
            ()
          }
        case other => throw new UnsupportedOperationException(
          s"sink parquet reader cannot decode array element $other " +
            s"(file ${split.file})")
      }

    private def appendOne(keep: Boolean): Unit = {
      if (keep) {
        if (cr.getCurrentDefinitionLevel == maxDef) getElem()
        else child.appendNull()
      }
      cr.consume()
      consumed += 1
    }

    private def fillRows(n: Int, keep: Array[Boolean]): Unit = {
      var i = 0
      var out = 0
      while (i < n) {
        val k = keep == null || keep(i)
        val d = cr.getCurrentDefinitionLevel
        if (d == 0) {
          if (k) { vec.putNull(out); out += 1 }
          cr.consume(); consumed += 1
        } else if (d == 1 && maxDef > 1) {
          if (k) { vec.putArray(out, child.getElementsAppended, 0); out += 1 }
          cr.consume(); consumed += 1
        } else {
          val start = child.getElementsAppended
          appendOne(k)
          while (consumed < total && cr.getCurrentRepetitionLevel == 1)
            appendOne(k)
          if (k) {
            vec.putArray(out, start, child.getElementsAppended - start)
            out += 1
          }
        }
        i += 1
      }
    }

    final def fill(n: Int): Unit = fillRows(n, null)
    final def fillMasked(n: Int, keep: Array[Boolean]): Unit = fillRows(n, keep)
  }

  private def newPageFiller(pages: PageReader, desc: ColumnDescriptor,
                            ff: Type, dt: DataType,
                            v: OnHeapColumnVector): ColFiller = {
    val phys = ff.asPrimitiveType().getPrimitiveTypeName
    (phys, dt) match {
      case (PrimitiveTypeName.INT64, LongType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putLong(i, values.readLong()) }
      case (PrimitiveTypeName.INT32, IntegerType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putInt(i, values.readInteger()) }
      case (PrimitiveTypeName.INT32, LongType) => // widened int → long
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putLong(i, values.readInteger().toLong) }
      case (PrimitiveTypeName.INT32, ShortType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putShort(i, values.readInteger().toShort) }
      case (PrimitiveTypeName.INT32, ByteType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putByte(i, values.readInteger().toByte) }
      case (PrimitiveTypeName.DOUBLE, DoubleType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putDouble(i, values.readDouble()) }
      case (PrimitiveTypeName.FLOAT, DoubleType) => // widened float → double
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putDouble(i, values.readFloat().toDouble) }
      case (PrimitiveTypeName.FLOAT, FloatType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putFloat(i, values.readFloat()) }
      case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
        new PageFiller(pages, desc) { val vec = v
          def put(i: Int): Unit = vec.putBoolean(i, values.readBoolean()) }
      case (PrimitiveTypeName.BINARY, StringType | BinaryType) =>
        new PageFiller(pages, desc) { val vec = v
          // dictionary entries decode to byte arrays ONCE per chunk;
          // plain pages copy straight from the page buffer
          private lazy val dictBytes: Array[Array[Byte]] = {
            val a = new Array[Array[Byte]](dict.getMaxId + 1)
            var k = 0
            while (k < a.length) { a(k) = dict.decodeToBinary(k).getBytes; k += 1 }
            a
          }
          override protected def wantsDictIds: Boolean = true
          override def putFromDict(i: Int, id: Int): Unit = {
            val b = dictBytes(id)
            vec.putByteArray(i, b, 0, b.length)
          }
          def put(i: Int): Unit = {
            val b = values.readBytes().getBytesUnsafe
            vec.putByteArray(i, b, 0, b.length)
          } }
      case other => throw new UnsupportedOperationException(
        s"sink parquet reader cannot decode $other (file ${split.file})")
    }
  }

  // ------------------------------------------------------------------
  // FALLBACK: triplet decode through ColumnReadStoreImpl — per-value
  // virtual calls, still vectorized output. Used for column chunks
  // whose encodings the page decoder doesn't know.
  // ------------------------------------------------------------------
  private def newTripletFiller(cr: ColumnReader, maxDef: Int, ff: Type,
                               dt: DataType, v: OnHeapColumnVector): ColFiller = {
    abstract class TF extends ColFiller {
      protected def put(i: Int): Unit
      final def fill(n: Int): Unit = {
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) vec.putNull(i)
          else put(i)
          cr.consume()
          i += 1
        }
      }
      final def fillMasked(n: Int, keep: Array[Boolean]): Unit = {
        var i = 0
        var out = 0
        while (i < n) {
          if (keep(i)) {
            if (cr.getCurrentDefinitionLevel < maxDef) vec.putNull(out)
            else put(out)
            out += 1
          } // dropped row: consume() skips without materializing
          cr.consume()
          i += 1
        }
      }
    }
    val phys = ff.asPrimitiveType().getPrimitiveTypeName
    (phys, dt) match {
      case (PrimitiveTypeName.INT64, LongType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putLong(i, cr.getLong) }
      case (PrimitiveTypeName.INT32, IntegerType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putInt(i, cr.getInteger) }
      case (PrimitiveTypeName.INT32, LongType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putLong(i, cr.getInteger.toLong) }
      case (PrimitiveTypeName.INT32, ShortType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putShort(i, cr.getInteger.toShort) }
      case (PrimitiveTypeName.INT32, ByteType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putByte(i, cr.getInteger.toByte) }
      case (PrimitiveTypeName.DOUBLE, DoubleType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putDouble(i, cr.getDouble) }
      case (PrimitiveTypeName.FLOAT, DoubleType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putDouble(i, cr.getFloat.toDouble) }
      case (PrimitiveTypeName.FLOAT, FloatType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putFloat(i, cr.getFloat) }
      case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
        new TF { val vec = v; def put(i: Int): Unit = vec.putBoolean(i, cr.getBoolean) }
      case (PrimitiveTypeName.BINARY, StringType | BinaryType) =>
        new TF { val vec = v
          def put(i: Int): Unit = {
            val b = cr.getBinary.getBytesUnsafe
            vec.putByteArray(i, b, 0, b.length)
          } }
      case other => throw new UnsupportedOperationException(
        s"sink parquet reader cannot decode $other (file ${split.file})")
    }
  }

  private var groupIdx = -1
  private var inGroupRemaining = 0L
  private var fillers: Array[ColFiller] = _
  /** Row index (within the FILE) of the next row — the `_pos` base. */
  private var rowIndex: Long = 0L

  private def advanceGroup(): Boolean = {
    groupIdx += 1
    if (groupIdx >= rowGroups.length) return false
    if (!keepGroup(groupIdx)) {
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
      val block = rowGroups(groupIdx)
      lazy val store = new ColumnReadStoreImpl(pages, DummyRoot,
        requestedSchema, createdBy)
      fillers = descriptors.indices.toArray.map { j =>
        val desc = descriptors(j)
        val (ff, dt, vec) = fileCols(j)
        val chunk = block.getColumns.asScala
          .find(_.getPath.toDotString == desc.getPath.mkString("."))
        val fast = chunk.map(_.getEncodings.asScala.toSet)
          .exists(_.subsetOf(SinkParquetColumnar.FastEncodings))
        dt match {
          case ArrayType(et, _) =>
            if (fast)
              new ArrayPageFiller(pages.getPageReader(desc), desc,
                chunk.map(_.getValueCount).getOrElse(0L), et, vec)
            else
              new ArrayTripletFiller(store.getColumnReader(desc), desc, et, vec)
          case _ =>
            if (fast)
              newPageFiller(pages.getPageReader(desc), desc, ff, dt, vec)
            else
              newTripletFiller(store.getColumnReader(desc),
                desc.getMaxDefinitionLevel, ff, dt, vec)
        }
      }
    } else {
      val block = rowGroups(groupIdx)
      inGroupRemaining = block.getRowCount
      rowIndex = block.getRowIndexOffset
    }
    true
  }

  /** Active MERGE-ON-READ positions for this file (or the feed's
    * invert mode): loaded once per split, executor-side.
    */
  private lazy val deletePositions: java.util.HashSet[java.lang.Long] =
    if (split.delManifests.isEmpty) new java.util.HashSet[java.lang.Long]()
    else SinkDeletes.positionsFor(
      org.apache.hadoop.fs.FileSystem.get(filePath.toUri, conf.value),
      split.delManifests, split.relPath)

  private val filtering: Boolean =
    split.delManifests.nonEmpty || split.invertDeletes

  // reused keep mask (one flag per batch row)
  private val keepMask: Array[Boolean] =
    if (filtering) new Array[Boolean](SinkParquetColumnar.BatchRows) else null

  override def next(): Boolean = {
    while (inGroupRemaining == 0L) {
      if (!advanceGroup()) return false
    }
    val n = math.min(SinkParquetColumnar.BatchRows.toLong,
      inGroupRemaining).toInt
    // merge-on-read anti-filter at BATCH grain: a row is kept when its
    // (file, pos) identity is absent from the active delete manifests
    // (or present, in the feed's invertDeletes mode); kept rows
    // compact to the batch front, dropped values are skipped in-stream
    var kept = n
    if (filtering) {
      kept = 0
      var i = 0
      while (i < n) {
        val k = deletePositions.contains(rowIndex + i) == split.invertDeletes
        keepMask(i) = k
        if (k) kept += 1
        i += 1
      }
    }
    val masked = kept != n
    var j = 0
    while (j < nSlots) {
      fillers(j).vec.reset()
      if (masked) fillers(j).fillMasked(n, keepMask)
      else fillers(j).fill(n)
      j += 1
    }
    posVec.foreach { pv =>
      pv.reset()
      var i = 0
      var out = 0
      while (i < n) {
        if (!masked || keepMask(i)) { pv.putLong(out, rowIndex + i); out += 1 }
        i += 1
      }
    }
    batch.setNumRows(kept)
    inGroupRemaining -= n
    rowIndex += n
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    batch.close()
    reader.close()
  }
}

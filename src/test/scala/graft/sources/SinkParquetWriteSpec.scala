package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The sink's one ENCODER is Spark's own parquet writer: what a data
  * file looks like (Spark's footer metadata, field ids on top-level
  * columns only, the physical shapes every sink file has had), that
  * files written by the earlier hand-rolled encoder stay readable, and
  * that column types the writer must not see are rejected at plan time.
  */
class SinkParquetWriteSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshCatalog(name: String): String = {
    val root = tmpDir(s"sink_write_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles().toSeq
      .filterNot(_.getName.startsWith("_")).flatMap(dataFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Seq.empty

  test("a data file is Spark-encoded: footer metadata, top-level field ids, sink shapes") {
    val root = freshCatalog("sw1")
    Seq((1L, "a", 1.toByte, 2.toShort, Array[Byte](9), 5, "x", Seq(7L), "A"))
      .toDF("k", "s", "b", "sh", "bin", "x", "y", "arr", "p")
      .select(col("k"), col("s"), col("b"), col("sh"), col("bin"),
        struct(col("x"), col("y")).as("st"), col("arr"), col("p"))
      .writeTo("sw1.t").partitionedBy(col("p")).create()
    val (_, _, props) = SinkSidecar.readDir(
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root), conf),
      s"$root/t")
    val ids = SinkFormat.fieldIds(props)
    assert(ids.keySet === Set("k", "s", "b", "sh", "bin", "st", "arr"))

    val files = dataFiles(new File(root, "t"))
    assert(files.length === 1)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(files.head.getPath), conf))
    val meta = try reader.getFileMetaData finally reader.close()
    assert(meta.getKeyValueMetaData.asScala.get("org.apache.spark.version")
      .contains(org.apache.spark.SPARK_VERSION_SHORT),
      s"Spark's writer stamps its version: ${meta.getKeyValueMetaData}")

    val schema: GroupType = meta.getSchema
    assert(schema.getFields.asScala.map(_.getName).toSeq ===
      Seq("k", "s", "b", "sh", "bin", "st", "arr"),
      "data columns only: the partition column lives in the directory")
    schema.getFields.asScala.foreach { f =>
      assert(Option(f.getId).map(_.intValue) === ids.get(f.getName),
        s"top-level ${f.getName} carries the table's field id")
    }
    // every level optional; nested fields carry no id
    def nested(t: Type): Seq[Type] =
      if (t.isPrimitive) Seq.empty
      else t.asGroupType.getFields.asScala.toSeq.flatMap(c => c +: nested(c))
    schema.getFields.asScala.foreach { f =>
      assert(f.getRepetition === Type.Repetition.OPTIONAL, f.toString)
      nested(f).foreach { c =>
        assert(c.getId === null, s"nested field carries an id: $c")
      }
    }
    def prim(n: String) = schema.getType(n).asPrimitiveType
    assert(prim("k").getPrimitiveTypeName === PrimitiveTypeName.INT64)
    assert(prim("s").getPrimitiveTypeName === PrimitiveTypeName.BINARY)
    assert(prim("s").getLogicalTypeAnnotation ===
      LogicalTypeAnnotation.stringType())
    assert(prim("b").getPrimitiveTypeName === PrimitiveTypeName.INT32)
    assert(prim("b").getLogicalTypeAnnotation ===
      LogicalTypeAnnotation.intType(8, true))
    assert(prim("sh").getPrimitiveTypeName === PrimitiveTypeName.INT32)
    assert(prim("sh").getLogicalTypeAnnotation ===
      LogicalTypeAnnotation.intType(16, true))
    assert(prim("bin").getPrimitiveTypeName === PrimitiveTypeName.BINARY)
    assert(prim("bin").getLogicalTypeAnnotation === null,
      "opaque bytes: BINARY with no string annotation")
    val st = schema.getType("st").asGroupType
    assert(st.getLogicalTypeAnnotation === null)
    assert(st.getFields.asScala.map(_.getName).toSeq === Seq("x", "y"))
    // 3-level LIST: group (LIST) { repeated group list { optional element } }
    val arr = schema.getType("arr").asGroupType
    assert(arr.getLogicalTypeAnnotation === LogicalTypeAnnotation.listType())
    val list: GroupType = arr.getType(0).asGroupType
    assert(list.getName === "list" &&
      list.getRepetition === Type.Repetition.REPEATED)
    val element = list.getType(0)
    assert(element.getName === "element" &&
      element.getRepetition === Type.Repetition.OPTIONAL &&
      element.asPrimitiveType.getPrimitiveTypeName === PrimitiveTypeName.INT64)
    spark.sql("DROP TABLE sw1.t")
  }

  test("a file written by the earlier hand-rolled encoder decodes, renamed column by id") {
    // sink_v1.parquet: 4 rows over atomic, binary, struct and array
    // columns with top-level field ids 1..11 (k, name, b, sh, i, f, d,
    // flag, payload, st, arr), written before sink files were
    // Spark-encoded. The table has since renamed `name` to `label`
    // (same id) and widened `i` to BIGINT.
    val file = new File(tmpDir("sink_v1"), "sink_v1.parquet")
    val in = getClass.getResourceAsStream("/fixtures/sink_v1.parquet")
    assert(in != null, "missing test resource fixtures/sink_v1.parquet")
    try java.nio.file.Files.copy(in, file.toPath) finally in.close()
    val required = StructType(Seq(
      StructField("k", LongType), StructField("label", StringType),
      StructField("b", ByteType), StructField("sh", ShortType),
      StructField("i", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("flag", BooleanType),
      StructField("payload", BinaryType),
      StructField("st", StructType(Seq(StructField("x", IntegerType),
        StructField("y", StringType)))),
      StructField("arr", ArrayType(LongType))))
    val fieldIds = required.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val reader = new SinkParquetSplitReader(
      SinkFileSplit(file.getAbsolutePath, Seq.empty, Seq.empty), required,
      Seq.empty, new org.apache.spark.util.SerializableConfiguration(conf),
      fieldIds, Seq.empty)
    def value(r: InternalRow, i: Int, dt: DataType): Any =
      if (r.isNullAt(i)) null
      else dt match {
        case LongType => r.getLong(i)
        case StringType => r.getUTF8String(i).toString
        case ByteType => r.getByte(i)
        case ShortType => r.getShort(i)
        case IntegerType => r.getInt(i)
        case FloatType => r.getFloat(i)
        case DoubleType => r.getDouble(i)
        case BooleanType => r.getBoolean(i)
        case BinaryType => r.getBinary(i).toList
        case s: StructType =>
          val g = r.getStruct(i, s.length)
          s.fields.indices.map(j => value(g, j, s(j).dataType)).toList
        case a: ArrayType =>
          val g = r.getArray(i)
          (0 until g.numElements()).map(j =>
            if (g.isNullAt(j)) null else g.getLong(j)).toList
      }
    val got = scala.collection.mutable.ArrayBuffer[List[Any]]()
    try {
      while (reader.next()) {
        val b = reader.get()
        (0 until b.numRows()).foreach { i =>
          val r = b.getRow(i)
          got += required.fields.indices
            .map(c => value(r, c, required(c).dataType)).toList
        }
      }
    } finally reader.close()
    val want = Seq(
      List(1L, "alpha", 1.toByte, 100.toShort, 10L, 1.5f, 2.25, true,
        Seq[Byte](1, 2, 3), List(7, "x1"), List(10L, 11L)),
      List(2L, "beta", (-2).toByte, (-200).toShort, -20L, -0.5f, 1e10, false,
        Seq[Byte](), List(null, "x2"), List(20L, null, 22L)),
      List(3L, null, null, null, null, null, null, null, null, null, null),
      List(4L, "δέλτα", 127.toByte, 32767.toShort, Int.MaxValue.toLong,
        Float.NaN, Double.NegativeInfinity, true, Seq[Byte](-1, 0, 127),
        List(-1, null), List()))
    // rendered: NaN never equals itself
    assert(got.map(_.toString) === want.map(_.toString))
  }

  test("decimal, date and timestamp data columns fail at plan time, naming the column") {
    // path API: a TIMESTAMP data column
    val path = tmpDir("sink_write_ts")
    val eTs = intercept[IllegalArgumentException] {
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), "A"))
        .toDF("k", "ts", "p")
        .write.format("graft.sources.PartitionedSink")
        .option("partitionBy", "p").mode("append").save(path)
    }
    assert(eTs.getMessage.contains("column ts has unsupported type timestamp"),
      eTs.getMessage)
    assert(dataFiles(new File(path)).isEmpty, "no task wrote a file")
    // catalog CREATE: DECIMAL and DATE
    freshCatalog("sw3")
    val eDec = intercept[IllegalArgumentException] {
      spark.sql("""CREATE TABLE sw3.dec (k BIGINT, amt DECIMAL(10,2),
        p STRING) PARTITIONED BY (p)""")
    }
    assert(eDec.getMessage.contains(
      "column amt has unsupported type decimal(10,2)"), eDec.getMessage)
    val eDate = intercept[IllegalArgumentException] {
      Seq((1L, java.sql.Date.valueOf("2024-01-02"), "A")).toDF("k", "day", "p")
        .writeTo("sw3.dt").partitionedBy(col("p")).create()
    }
    assert(eDate.getMessage.contains("column day has unsupported type date"),
      eDate.getMessage)
    assert(!spark.catalog.tableExists("sw3.dec") &&
      !spark.catalog.tableExists("sw3.dt"))
    // ALTER: an added DATE column is rejected the same way
    Seq((1L, "A")).toDF("k", "p").writeTo("sw3.t").partitionedBy(col("p")).create()
    // (Spark reports a rejected table change wrapping the catalog's error)
    val eAdd = intercept[Exception] {
      spark.sql("ALTER TABLE sw3.t ADD COLUMNS (d DATE)")
    }
    assert(Iterator.iterate[Throwable](eAdd)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("column d has unsupported type date")),
      eAdd.getMessage)
    spark.sql("DROP TABLE sw3.t")
  }
}

package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DECODE value check for the sink's one reader
  * ([[SinkParquetSplitReader]]), driven DIRECTLY on a table's files —
  * no Spark job, no aggregation, no task scheduling: a 1.5M-row
  * wide scan over every atomic type, with NULLs, must serve exactly
  * the values the source rows hold. (Query-level values and plan
  * shape are pinned in SinkParquetColumnarSpec.)
  */
class SinkParquetDecodeSpec extends graft.SparkSpec {

  test("wide-scan decode: every value of 1.5M rows x 8 columns") {
    val root = tmpDir("sink_decode_pin")
    spark.conf.set("spark.sql.catalog.graft_dec_spec",
      classOf[PartitionedSinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dec_spec.root", root)
    val n = 1500000L
    spark.range(0, n).select(
      col("id").as("k"), (col("id") * 31).as("l"),
      col("id").cast("int").as("i"), (col("id") / 7.0).as("d"),
      col("id").cast("float").as("f"),
      concat(lit("v-"), col("id")).as("s"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(col("id") % 97).cast("int").as("n"),
      lit("A").as("p"))
      .coalesce(2)
      .writeTo("graft_dec_spec.t").partitionedBy(col("p")).create()

    val (partCols, fullSchema, props) = SinkSidecar.readDir(
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
        spark.sessionState.newHadoopConf()), s"$root/t")
    val fieldIds = SinkFormat.fieldIds(props)
    val required = StructType(
      fullSchema.fields.filterNot(f => partCols.contains(f.name)))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val files = new java.io.File(s"$root/t/p=A").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    assert(files.nonEmpty)
    val keyTypes = partCols.map(c => fullSchema(c).dataType)

    // consume every value through the accessor surface codegen uses
    // (getLong/getUTF8String/... on the vectors), folded per column so
    // a wrong column cannot cancel out against another
    val got = new Array[Long](8)
    var rows = 0L
    files.foreach { f =>
      val r = new SinkParquetSplitReader(SinkFileSplit(f, Seq("A"), keyTypes),
        required, partCols, conf, fieldIds, Seq.empty)
      try {
        while (r.next()) {
          val batch = r.get()
          var i = 0
          while (i < batch.numRows()) {
            got(0) += batch.column(0).getLong(i)
            got(1) += batch.column(1).getLong(i)
            got(2) += batch.column(2).getInt(i)
            got(3) += batch.column(3).getDouble(i).toLong
            got(4) += batch.column(4).getFloat(i).toLong
            got(5) += batch.column(5).getUTF8String(i).numBytes()
            got(6) += (if (batch.column(6).getBoolean(i)) 1L else 0L)
            got(7) += (if (batch.column(7).isNullAt(i)) 0L
                       else batch.column(7).getInt(i))
            i += 1
          }
          rows += batch.numRows()
        }
      } finally r.close()
    }

    val want = new Array[Long](8)
    var id = 0L
    while (id < n) {
      want(0) += id
      want(1) += id * 31
      want(2) += id.toInt
      want(3) += (id / 7.0).toLong
      want(4) += id.toFloat.toLong
      want(5) += 2 + id.toString.length
      want(6) += (if (id % 2 == 0) 1L else 0L)
      want(7) += (if (id % 13 == 0) 0L else id % 97)
      id += 1
    }
    assert(rows === n)
    assert(got.toSeq === want.toSeq,
      "every decoded column must sum to its source values")
    spark.sql("DROP TABLE graft_dec_spec.t")
  }
}

package graft.sources

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Driver-assembled DataFrame over EXPLICIT sink splits, for internal
  * jobs ([[PartitionedSink.readBack]], the row-grain change diff) that
  * need the resolution graft puts in front of Spark's parquet decoder,
  * which a plain name-based `spark.read.parquet` does not have:
  *
  *   - FIELD-ID column resolution, so a table that RENAMEd a column
  *     reads its pre-rename files correctly (a name-based read would
  *     serve NULL — wrong row-grain CDC rows after a rename);
  *   - the merge-on-read POSITION-DELETE mask, so a diff's "before"
  *     side sees exactly the rows a table scan of that snapshot saw
  *     (rows already MOR-deleted must not re-delete).
  *
  * One RDD partition per split; each runs the same
  * [[SinkParquetSplitReader]] the DSv2 scans use and iterates its
  * batches' rows ([[PartitionedSinkReaderFactory]]'s row view), so the
  * two paths can never disagree on a value.
  */
private[graft] object SinkSplitsRead {
  def dataFrame(spark: SparkSession, splits: Seq[SinkFileSplit],
                fullSchema: StructType, partCols: Seq[String],
                fieldIds: Map[String, Int]): DataFrame = {
    val rdd = new SinkSplitsRDD(spark.sparkContext, splits, fullSchema,
      partCols, new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), fieldIds)
    org.apache.spark.sql.GraftRowShim.internalCreateDataFrame(
      spark, rdd, fullSchema)
  }
}

private case class SinkSplitPartition(index: Int, split: SinkFileSplit)
    extends Partition

private class SinkSplitsRDD(
    sc: SparkContext, splits: Seq[SinkFileSplit], fullSchema: StructType,
    partCols: Seq[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    fieldIds: Map[String, Int])
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    splits.zipWithIndex.map { case (s, i) =>
      SinkSplitPartition(i, s): Partition }.toArray

  override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val reader = new PartitionedSinkReaderFactory(fullSchema, partCols, conf,
      fieldIds, Seq.empty)
      .createReader(p.asInstanceOf[SinkSplitPartition].split)
    ctx.addTaskCompletionListener[Unit](_ => reader.close())
    Iterator.continually(reader).takeWhile(_.next()).map(_.get())
  }
}

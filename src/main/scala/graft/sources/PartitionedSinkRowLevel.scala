package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** ROW-LEVEL operations on sink tables — SQL `DELETE FROM`, `UPDATE`
  * and `MERGE INTO` through Spark's group-based (copy-on-write)
  * row-level API ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]];
  * the rewrite machinery is Catalyst's own `RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` → `ReplaceData`
  * plans — the engine supplies only the two connector halves those
  * rules need, which is the whole point of doing this Spark-first):
  *
  *   - a COW SCAN over the table whose job is to read ALL rows of the
  *     file GROUPS that may contain matches (Catalyst puts the
  *     keep/transform logic ON TOP — the pushed condition must prune
  *     whole groups only, never rows, or rewritten files would lose
  *     their non-matching rows). The sink's existing pushdown already
  *     has exactly that shape: partition pruning and min/max file
  *     skipping drop only files PROVABLY free of matches, and every
  *     filter stays residual. On top of the static pruning, the scan
  *     implements runtime group filtering
  *     ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
  *     on the `_file` metadata column): Catalyst runs the matching-row
  *     subquery first and hands the scan the distinct files that
  *     actually contain matches, so at 100 TB a DELETE touching one
  *     hour of one day rewrites exactly that hour's files — the
  *     difference between a surgical commit and rewriting a partition.
  *   - a REPLACE write: the kept/updated/inserted rows stage and
  *     publish through the sink's normal stage-then-publish protocol,
  *     and the commit retires EXACTLY the files the scan planned —
  *     atomically, via the version-manifest CAS like every publish
  *     (next manifest = previous minus replaced plus fresh; time
  *     travel and [[graft.ops.Compaction.tableChanges]] see the
  *     rewrite as delete+insert of those files). On a table that
  *     keeps no history the replaced files are deleted right after
  *     the commit.
  *
  * Partition-grain deletes never reach this path: the table also
  * implements [[org.apache.spark.sql.connector.catalog.SupportsDelete]],
  * and Catalyst's `OptimizeMetadataOnlyDeleteFromTable` turns a
  * DELETE whose predicates are partition-column equalities into a
  * metadata-only leaf drop (no data read, no rewrite).
  *
  * The reference has no row-level surface at all (its warehouse
  * corrections are whole-partition `INSERT OVERWRITE`,
  * load_fct_flights.py:112-116) — this is extension surface, the
  * operation a real lake user hits the first week ("GDPR-delete these
  * doc_ids", "backfill this column for March").
  */
private[graft] object SinkMeta {
  /** Name of the file-path metadata column (Iceberg's `_file` shape). */
  final val FileCol = "_file"

  /** Name of the row-position metadata column (Iceberg's `_pos`
    * shape): the row's STABLE position within its data file — its
    * file-level row index. (file, pos) is the row identity
    * merge-on-read deletes key on; stability holds because published
    * files are immutable.
    */
  final val PosCol = "_pos"

  object FileMetaCol extends MetadataColumn {
    override def name(): String = FileCol
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "path of the data file the row was read from"
  }

  object PosMetaCol extends MetadataColumn {
    override def name(): String = PosCol
    override def dataType(): DataType = org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "stable position of the row within its data file"
  }
}

/** One row-level operation instance: Catalyst calls `newScanBuilder`
  * and `newWriteBuilder` on the SAME instance, which is the designed
  * coordination channel — the scan records the file groups it planned
  * (post static pruning AND post runtime group filtering), the write's
  * commit replaces exactly those files.
  */
private[sources] class SinkRowLevelOperation(
    path: String, partCols: Seq[String], fullSchema: StructType,
    versioned: Boolean, cmd: RowLevelOperation.Command,
    props: Map[String, String] = Map.empty)
    extends RowLevelOperation {

  /** (relative path, leaf values, absolute path) of every file group
    * the COW scan planned — "last planning wins", matching the plan
    * that actually executes.
    */
  @volatile private[sources] var plannedGroups
      : Seq[(String, Seq[String], String)] = Seq.empty

  /** Position-delete manifest NAMES active in the snapshot the scan
    * read (None until planning ran): the commit compares the base
    * snapshot's manifests against these — a manifest that landed
    * in between and touches a file this operation read is a
    * write-write conflict the retired-files check cannot see (MOR
    * commits retire nothing).
    */
  @volatile private[sources] var scanDeleteManifests: Option[Set[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"SinkRowLevelOperation($cmd on $path)"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(SinkMeta.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new SinkCowScanBuilder(path, partCols, fullSchema, this,
      SinkFormat.fieldIds(props))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new PartitionedSinkWriteBuilder(path, partCols, info, versioned, props,
      Some(this))

  /** The scan's read snapshot over `readRels` (None until planning ran). */
  protected def readSnapshot(readRels: Set[String]): Option[SinkReadSnapshot] =
    scanDeleteManifests.map(SinkReadSnapshot(_, readRels))

  /** The copy-on-write commit: clear exactly the planned groups (each
    * must still be live), guarded by the scan's read snapshot. With
    * `graft.rowChanges`, the one-job net diff between the replaced
    * groups' rows and the published ones — exactly what the rewrite
    * changed; carried-forward rows cancel — is written before the CAS
    * and linked by the manifest's `#\tchanges` header, so a feed sees
    * the commit with its change rows or not at all. Labels come from
    * the command — see [[SinkCowChanges]] for the MERGE caveat.
    */
  private[sources] def commit(queryId: String, schema: StructType,
                              files: Seq[StagedFile],
                              deletes: Seq[(String, Long)]): Unit = {
    val groups = plannedGroups
    val rels = groups.map(_._1).toSet
    SinkCommit.commit(SinkCommit.fsFor(path), path, partCols, versioned,
      queryId, Replace(rels), files, readSnapshot = readSnapshot(rels),
      changes = fresh =>
        if (!SinkFormat.rowChanges(props)) None
        else SinkCowChanges.write(path, partCols, schema, groups, fresh, cmd,
          SinkCommit.queryToken(queryId), SinkFormat.fieldIds(props),
          scanDeleteManifests.getOrElse(Set.empty).toSeq.sorted
            .map(n => new Path(path, s"_deletes/$n").toString)))
  }
}

private[sources] class SinkCowScanBuilder(
    path: String, partCols: Seq[String], fullSchema: StructType,
    op: SinkRowLevelOperation, fieldIds: Map[String, Int] = Map.empty)
    extends PartitionedSinkScanBuilder(path, partCols, fullSchema,
      fieldIds = fieldIds) {
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new SinkCowScan(path, snapshot, partCols, fullSchema, requiredSchema,
      pushedPartitionFilters, pushedSkipFilters, op, fieldIds)
}

/** The COW scan: the base class contributes static group pruning
  * (partition subtrees + min/max file skipping — both prune only
  * provably-match-free files, which is the exact soundness a
  * group-pruning scan needs) and the runtime filter; this subclass
  * declares `_file` as its one runtime filter attribute and records
  * the final planned groups into the operation. Catalyst delivers the
  * matching files as an `IN` over `_file`; an unknown shape is
  * ignored (rewrite more groups than strictly needed — never fewer: a
  * group wrongly dropped here would resurrect its deleted rows).
  * Output partitioning is NOT declared (a runtime-filtered subset's
  * key grouping claim would mis-size the key-grouped plan, and a
  * rewrite query gains nothing from it).
  */
private[sources] class SinkCowScan(
    path: String, snapshot: => Option[SinkManifest], partCols: Seq[String],
    fullSchema: StructType, required: StructType,
    partitionFilters: Array[Filter], skipFilters: Array[Filter],
    op: SinkRowLevelOperation, fieldIds: Map[String, Int] = Map.empty)
    extends PartitionedSinkScan(path, snapshot, partCols, fullSchema,
      required, partitionFilters, skipFilters, asOfVersion = None, fieldIds) {

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(SinkMeta.FileCol))

  override def planInputPartitions(): Array[InputPartition] = {
    val groups = holding(runtimeFilters, prunedFilesWithStats)
    // the base class reports `filesScanned` net of these, so the
    // ReplaceData scan node shows what actually rewrites
    skippedByRuntime = (prunedFilesWithStats.size - groups.size).toLong
    op.plannedGroups = groups.map(e => (e.rel, e.values, abs(e)))
    op.scanDeleteManifests = Some(activeDeleteManifests
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet)
    // whole files, never byte-carved: a group must be read and
    // replaced as a unit, and carving would double-record it. The
    // splits carry the snapshot's position-delete manifests: a COW
    // rewrite of a file with MOR deletes FOLDS them in (the rewritten
    // file omits those rows; the stale positions retire with it).
    val keyTypes = partCols.map(c => fullSchema(c).dataType)
    groups.map(e => SinkFileSplit(abs(e), e.values, keyTypes,
      relPath = e.rel, delManifests = activeDeleteManifests): InputPartition)
      .toArray
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
      prunedFilesWithStats.size)

  /** NO row-group skipping on a group-based rewrite scan: the files it
    * plans must be read WHOLE — a skipped row group's non-matching
    * rows would silently vanish from the rewritten file. Merge-on-read
    * positions fold via the reader's batch-grain mask.
    */
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new PartitionedSinkReaderFactory(required, partCols,
      PartitionedSinkWriterFactory.sessionConf(), fieldIds, Seq.empty)
}

/** Row-grain change files for COW rewrites (`graft.rowChanges`):
  * `_changes/<dir>/<change_type>/part-*.parquet`, each file carrying
  * FULL table rows (partition columns inline — change files are not
  * partitioned). Computed as ONE Spark job between the replace's
  * rename and CAS halves: the replaced groups (tag +1) union the
  * fresh files (tag −1), hash-aggregate on the full row, and the NET
  * count per distinct row is the multiset difference both ways at
  * once — net>0 rows left (preimage/delete, with multiplicity), net<0
  * rows arrived (postimage/insert). Each side is read EXACTLY ONCE
  * (the old exceptAll-per-type rendition re-read both sides per
  * change type — up to 4 scans of the rewritten data on an UPDATE;
  * spec-pinned via SinkParquetIo). Reads go through the engine's own
  * split readers ([[SinkSplitsRead]]), so the before side resolves
  * renamed columns by FIELD ID and anti-filters the snapshot's
  * merge-on-read position deletes — a table mixing deleteMode streams
  * the exact live-row delta, and a post-rename table streams correct
  * values for pre-rename files.
  *
  * MERGE labels stay 'delete'/'insert' at this grain: Spark's
  * group-based ReplaceData hands the connector only the final rows of
  * each group — no per-row operation labels reach the write path (a
  * matched-update and an unmatched-insert are indistinguishable
  * without the MERGE key, which the connector never sees). Delta CDF
  * separates them because its own rewrite job plans the labels; the
  * documented contract here is: DELETE → 'delete', UPDATE →
  * 'update_preimage'/'update_postimage', MERGE → 'delete'/'insert'.
  */
private[sources] object SinkCowChanges {
  def write(path: String, partCols: Seq[String], schema: StructType,
            oldGroups: Seq[(String, Seq[String], String)],
            fresh: Seq[SinkFileEntry],
            cmd: RowLevelOperation.Command,
            qTok: String,
            fieldIds: Map[String, Int],
            scanDelManifests: Seq[String]): Option[String] = {
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.active
    val keyTypes = partCols.map(c => schema(c).dataType)
    // before = the replaced groups as the SCAN saw them: whole files,
    // anti-filtered through the snapshot's position-delete manifests
    val beforeSplits = oldGroups.map { case (rel, values, abs) =>
      SinkFileSplit(abs, values, keyTypes, relPath = rel,
        delManifests = scanDelManifests)
    }
    val afterSplits = fresh.map(e =>
      SinkFileSplit(new Path(path, e.rel).toString, e.values, keyTypes,
        relPath = e.rel))
    def side(splits: Seq[SinkFileSplit], tag: Int) =
      SinkSplitsRead.dataFrame(spark, splits, schema, partCols, fieldIds)
        .withColumn("_side", lit(tag.toLong))
    val cols = schema.fieldNames.toSeq
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
    val (goneLabel, arrivedLabel) = cmd match {
      case UPDATE => ("update_preimage", "update_postimage")
      case _ => ("delete", "insert")
    }
    val changes = side(beforeSplits, 1).unionAll(side(afterSplits, -1))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_side")).as("_net"))
      .filter(col("_net") =!= 0L) // carried-forward rows cancel here
      .withColumn(SinkChangeFeed.ChangeTypeCol,
        when(col("_net") > 0, lit(goneLabel)).otherwise(lit(arrivedLabel)))
      // |net| > 1 = the row appeared with multiplicity; re-expand
      .withColumn("_dup",
        explode(sequence(lit(1L), abs(col("_net")))))
      .select(cols.map(col) :+ col(SinkChangeFeed.ChangeTypeCol): _*)
    val dirName = s"chg-$qTok-${java.util.UUID.randomUUID()}"
    val tmp = new Path(path, s"_changes/.tmp-$dirName")
    // ONE write, partitioned by change type; the hive-style
    // `_change_type=<t>` dirs rename to the feed's plain `<t>` layout
    changes.write.mode("overwrite")
      .partitionBy(SinkChangeFeed.ChangeTypeCol).parquet(tmp.toString)
    val fs = SinkCommit.fsFor(path)
    Option(fs.listStatus(tmp)).toSeq.flatten
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(SinkChangeFeed.ChangeTypeCol + "="))
      .foreach { st =>
        val plain = st.getPath.getName
          .stripPrefix(SinkChangeFeed.ChangeTypeCol + "=")
        if (!fs.rename(st.getPath, new Path(tmp, plain)))
          throw new java.io.IOException(
            s"change-type dir rename failed: ${st.getPath}")
      }
    val dest = new Path(path, s"_changes/$dirName")
    fs.mkdirs(dest.getParent)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"change-dir publish failed: $dest")
    Some(dirName)
  }
}

/** MERGE-ON-READ rendition of the row-level operation
  * (`graft.deleteMode = 'mor'`), through Spark's delta-based API
  * ([[SupportsDelta]] → Catalyst plans WriteDelta instead of
  * ReplaceData): matching rows arrive at the writer as per-row DELETE
  * operations carrying their (`_file`, `_pos`) identity; the commit
  * writes a POSITION-DELETE manifest instead of rewriting any group.
  * Updates are represented as delete+insert
  * (representUpdateAsDeleteAndInsert), so MERGE/UPDATE compose from
  * the same two primitives: inserts stage through the normal writer,
  * deletes accumulate as positions. The scale trade vs COW: a 1-row
  * delete writes O(1) bytes (the hot-file rewrite churn of a daily
  * GDPR trickle disappears), paid for by a small per-split manifest
  * read at scan time until `compact` folds the deletes in.
  */
private[sources] class SinkRowLevelDeltaOperation(
    path: String, partCols: Seq[String], fullSchema: StructType,
    versioned: Boolean, cmd: RowLevelOperation.Command,
    props: Map[String, String] = Map.empty)
    extends SinkRowLevelOperation(path, partCols, fullSchema, versioned,
      cmd, props)
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def description(): String =
    s"SinkRowLevelDeltaOperation($cmd on $path, merge-on-read)"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(SinkMeta.FileCol),
    Expressions.column(SinkMeta.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] = Array(
    Expressions.column(SinkMeta.FileCol),
    Expressions.column(SinkMeta.PosCol))

  /** A pure DELETE projects no row schema (positions only); anything
    * carrying inserts/updates must match the table layout exactly.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val names = info.schema().fields.map(_.name).toSeq
    val expected = fullSchema.fields.map(_.name).toSeq
    require(names.isEmpty || names == expected,
      s"row-level write schema $names must match table schema $expected")
    super.newWriteBuilder(info)
  }

  /** The merge-on-read commit: clears nothing and links the position-
    * delete manifest. Conflict guard: an UPDATE/MERGE (carries inserts)
    * derived its post-image rows from reading the deleted positions'
    * files — a delete manifest that landed since the scan and touches
    * them means a concurrent update of the same rows (duplicate
    * post-image hazard). A pure DELETE commits without the guard:
    * concurrent position deletes are idempotent by construction.
    */
  override private[sources] def commit(queryId: String, schema: StructType,
                                       files: Seq[StagedFile],
                                       deletes: Seq[(String, Long)]): Unit =
    SinkCommit.commit(SinkCommit.fsFor(path), path, partCols, versioned,
      queryId, Replace(Set.empty), files, deletes,
      readSnapshot =
        if (files.isEmpty) None else readSnapshot(deletes.map(_._1).toSet))
}

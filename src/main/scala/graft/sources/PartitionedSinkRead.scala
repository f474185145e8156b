package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** READ half of the partitioned sink's catalog tables: `SELECT ... FROM
  * cat.t` / `spark.table("cat.t")` scan the hive-style parquet layout
  * directly, with the pushdowns that matter for this layout shape:
  *
  *   - PARTITION PRUNING ([[SupportsPushDownFilters]]): `pCol = v`,
  *     `pCol IN (...)` and `IsNotNull(pCol)` on ANY of the partition
  *     columns are consumed at planning time against the version
  *     manifest's tuples — pruned partitions contribute ZERO input
  *     splits, and a predicate on any SUBSET of a multi-level layout's
  *     columns prunes (a `month = 3` filter on a year/month/day table
  *     skips eleven twelfths of every year).
  *     Data-column comparisons stay post-scan filters, and also skip
  *     files (manifest stats, bloom blobs) and row groups (parquet
  *     footers). Runtime (DPP) filters arrive later, on the built
  *     scan; every file decision, static or runtime, is
  *     [[SinkFileSkip.mayHold]].
  *   - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): only the
  *     requested columns' chunks are read and decoded; partition
  *     columns cost nothing (they come from the dir names, one
  *     constant tuple per split).
  *
  * The builder reads ONE snapshot manifest (the requested `VERSION AS
  * OF`, else the latest), lazily: the aggregate pushdown decision and
  * the built scan both use it, so a declined aggregate costs no second
  * read and both see the same version.
  *
  * One [[InputPartition]] per data FILE — the natural split grain of
  * the layout (files are per-(task, partition-tuple) from the write
  * side, so sizes track write parallelism). Executors get the session
  * Hadoop conf the same way the writer does. Spark never pushes a
  * filter into a streaming read, so the micro-batch tail
  * (`toMicroBatchStream`) takes none.
  */
private[sources] class PartitionedSinkScanBuilder(
    path: String, partCols: Seq[String], fullSchema: StructType,
    asOfVersion: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var partitionFilters: Array[Filter] = Array.empty
  private var skipFilters: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var pushedAgg: Option[(StructType, Array[InternalRow], String)] = None
  private var limitHint: Option[Int] = None

  /** The snapshot this builder's pushdown and scan read. */
  protected lazy val snapshot: Option[SinkManifest] = SinkVersions.snapshot(
    FileSystem.get(new java.net.URI(path),
      SparkSession.active.sessionState.newHadoopConf()),
    path, asOfVersion)

  /** LIMIT pushdown, PARTIAL by contract (Spark keeps its own limit on
    * top, so serving extra rows is fine; serving fewer than
    * min(limit, total) would not be): Spark only plans this pushdown
    * when the limit sits DIRECTLY on the scan — every filter of this
    * sink stays residual as a Filter node, so a filtered query never
    * reaches here — and the scan uses the hint to plan a file PREFIX
    * whose manifest-recorded row counts already cover the limit: a
    * `LIMIT 10` over a million-file table plans one split. The hint is
    * ignored (all files planned) whenever exactness of the trim cannot
    * be proven: a file without a recorded count, or active
    * merge-on-read deletes (recorded counts overstate live rows —
    * trimming could undershoot).
    */
  override def pushLimit(limit: Int): Boolean = {
    limitHint = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** METADATA-ONLY aggregates: a filterless `COUNT(*)` / `MIN(col)` /
    * `MAX(col)` answers from the publish manifests (exact per-file row
    * counts; exact numeric bounds) without planning a single data
    * split — at warehouse scale the difference between a driver-side
    * manifest read and a full-table scan. COMPLETE pushdown only (the
    * answer is final), and only when it is provably exact: no residual
    * filters (this sink keeps every filter residual, so Spark only
    * attempts the pushdown on filterless plans; double-checked here),
    * no active merge-on-read deletes (a deleted row may be the min, and
    * counts would overstate), every live file carrying the needed
    * stats, numeric columns only (string bounds are TRUNCATED by
    * design — a prefix is not the true min). Anything else declines
    * and the normal scan runs.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (pushedAgg.isEmpty)
      pushedAgg = SinkAggPushdown.compute(path, snapshot, partCols,
        fullSchema, agg,
        noFilters = partitionFilters.isEmpty && skipFilters.isEmpty)
    pushedAgg.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = supportCompletePushDown(agg)

  // subclass hooks (the COW row-level scan builder reuses this
  // builder's pushdown verbatim and only swaps the built Scan)
  protected def requiredSchema: StructType = required
  protected def pushedPartitionFilters: Array[Filter] = partitionFilters
  protected def pushedSkipFilters: Array[Filter] = skipFilters

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a NULL inside the comparison (isin(lit(null), ...) / === null)
    // never matches a partition dir and its rendering is undefined —
    // decline pushdown and leave such filters entirely to Spark
    val pushable = filters.filter {
      case EqualTo(c, v) => partCols.contains(c) && v != null
      case In(c, vs) =>
        partCols.contains(c) && vs != null && !vs.contains(null)
      case IsNotNull(c) => partCols.contains(c) // never null by contract
      case _ => false
    }
    partitionFilters = pushable
    // DATA-column comparisons become FILE-SKIP candidates against the
    // per-file min/max the version manifest records: a file whose
    // recorded range provably excludes the predicate contributes zero
    // splits
    skipFilters = filters.filter {
      case GreaterThan(c, _) => !partCols.contains(c)
      case GreaterThanOrEqual(c, _) => !partCols.contains(c)
      case LessThan(c, _) => !partCols.contains(c)
      case LessThanOrEqual(c, _) => !partCols.contains(c)
      case EqualTo(c, v) => !partCols.contains(c) && v != null
      case In(c, vs) =>
        !partCols.contains(c) && vs != null && !vs.contains(null)
      case _ => false
    }
    // ALL filters stay residual: pruning only SKIPS dirs/files whose
    // rendered value or recorded range provably fails the predicate —
    // Spark re-evaluates post-scan, so a value whose Catalyst string
    // form differs from the writer's raw rendering can at worst read
    // extra files, never return wrong rows
    filters
  }
  override def pushedFilters(): Array[Filter] =
    partitionFilters ++ skipFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the table's field order; METADATA columns (`_file` — not
    // in the table schema) append at the end in requested order
    required = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name))
        ++ requiredSchema.fields.filterNot(f =>
          fullSchema.fieldNames.contains(f.name)))

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows, desc)) => new SinkLocalAggScan(schema, rows, desc)
    case None =>
      new PartitionedSinkScan(path, snapshot, partCols, fullSchema, required,
        partitionFilters, skipFilters, asOfVersion, fieldIds, limitHint)
  }
}

/** The one-row driver-side scan a complete aggregate pushdown plans —
  * no input partitions, no executors, no data files.
  */
private[sources] class SinkLocalAggScan(schema: StructType,
                                        aggRows: Array[InternalRow],
                                        desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = aggRows
  override def description(): String = desc
}

/** Driver-side evaluation of a pushed aggregation against the sink's
  * manifests. Returns None whenever exactness cannot be PROVEN —
  * the caller then falls back to the ordinary scan.
  */
private[sources] object SinkAggPushdown {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}

  private def colOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  private def numeric(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType => true
    case _ => false
  }

  /** `snap` is read only once the aggregate is known answerable. */
  def compute(path: String, snap: => Option[SinkManifest],
              partCols: Seq[String], fullSchema: StructType,
              agg: Aggregation, noFilters: Boolean)
      : Option[(StructType, Array[InternalRow], String)] = {
    if (!noFilters || agg.aggregateExpressions.isEmpty) return None
    // GROUP BY is answerable when every group key is a PARTITION
    // column (any subset, any order): the manifests carry the full
    // tuple per file, so groups aggregate per key driver-side —
    // `count(*) GROUP BY p` over a petabyte as a metadata read
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map { e =>
      colOf(e) match {
        case Some(c) if partCols.contains(c) => c
        case _ => return None
      }
    }
    // every requested function must be answerable before any IO beyond
    // the (small, driver-side) manifest reads below
    val wanted: Seq[Either[Unit, (String, Boolean)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Left(())
        case m: Min => colOf(m.column) match {
          case Some(c) if fullSchema.fieldNames.contains(c) &&
            !partCols.contains(c) &&
            numeric(fullSchema(c).dataType) => Right((c, false))
          case _ => return None
        }
        case m: Max => colOf(m.column) match {
          case Some(c) if fullSchema.fieldNames.contains(c) &&
            !partCols.contains(c) &&
            numeric(fullSchema(c).dataType) => Right((c, true))
          case _ => return None
        }
        case _ => return None
      }
    // the pinned or latest snapshot's entries carry every needed fact;
    // ACTIVE POSITION DELETES disqualify (a deleted row may hold the
    // min; counts would overstate)
    if (snap.exists(_.dels.nonEmpty)) return None
    val perFile = snap.toSeq.flatMap(_.entries)
    val groupIdx = groupCols.map(partCols.indexOf)

    def aggValues(files: Seq[SinkFileEntry]): Option[Seq[Any]] = Some(wanted.map {
      case Left(()) => files.map(_.rows).sum
      case Right((c, wantMax)) =>
        val dt = fullSchema(c).dataType
        // every file must CARRY an entry for the column (Some(None) =
        // provably all-NULL contributes nothing; a MISSING entry —
        // poisoned NaN/Inf stats, or a column the file predates — is
        // unprovable)
        val bounds = files.map { st =>
          st.cols.get(c) match {
            case Some(b) => b
            case None => return None
          }
        }
        val picked = bounds.flatten.map { case (mn, mx) =>
          SinkParquetResolve.castValue(if (wantMax) mx else mn, dt)
        }
        if (picked.isEmpty) null // zero rows / all NULL: SQL min = NULL
        else dt match {
          // exact for the sink's numeric renderings: integrals fit a
          // double only to 2^53 — compare longs as longs instead
          case LongType | IntegerType | ShortType | ByteType =>
            val ls = picked.map(_.asInstanceOf[java.lang.Number].longValue)
            val win = if (wantMax) ls.max else ls.min
            SinkParquetResolve.castValue(win.toString, dt)
          case _ => // Double/Float only (the numeric() gate above)
            val sel = picked.map(v =>
              (v, v.asInstanceOf[java.lang.Number].doubleValue))
              .sortBy(_._2)
            if (wantMax) sel.last._1 else sel.head._1
        }
    })

    val rows: Array[InternalRow] =
      if (groupCols.isEmpty)
        Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          aggValues(perFile).getOrElse(return None).toIndexedSeq))
      else perFile.groupBy(e => groupIdx.map(e.values))
        .toSeq.sortBy(_._1.mkString("\u0000"))
        .map { case (key, files) =>
          val keyVals = groupCols.zip(key).map { case (c, raw) =>
            SinkParquetResolve.castValue(raw, fullSchema(c).dataType)
          }
          org.apache.spark.sql.catalyst.InternalRow.fromSeq(
            (keyVals ++ aggValues(files).getOrElse(return None))
              .toIndexedSeq)
        }.toArray
    val schema = StructType(
      groupCols.map(c => StructField(c, fullSchema(c).dataType,
        nullable = false)) ++
      wanted.zipWithIndex.map {
        case (Left(()), i) => StructField(s"count_star_$i", LongType,
          nullable = false)
        case (Right((c, wantMax)), i) =>
          StructField(s"${if (wantMax) "max" else "min"}_${c}_$i",
            fullSchema(c).dataType, nullable = true)
      })
    Some((schema, rows,
      s"SinkLocalAggScan($path, ${agg.aggregateExpressions.toSeq
        .mkString(", ")}${if (groupCols.isEmpty) ""
        else groupCols.mkString(" GROUP BY ", ", ", "")})"))
  }
}

private[sources] class PartitionedSinkScan(
    path: String, snapshot: => Option[SinkManifest], partCols: Seq[String],
    fullSchema: StructType, required: StructType,
    partitionFilters: Array[Filter], skipFilters: Array[Filter],
    asOfVersion: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    limitHint: Option[Int] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PartitionedSinkScan($path)" +
      asOfVersion.map(v => s" VERSION AS OF $v").getOrElse("") +
      " PushedPartitionFilters: " +
      partitionFilters.mkString("[", ", ", "]") +
      " FileSkipFilters: " + skipFilters.mkString("[", ", ", "]")

  // driver-side skip accounting, surfaced as CUSTOM METRICS in the SQL
  // UI node ("why didn't this skip?" without a debugger): filled when
  // the lazy pruning below runs, reported by reportDriverMetrics
  @volatile private var skippedByStats = 0L
  @volatile private var skippedByBloom = 0L
  @volatile private var filesScanned = 0L
  @volatile protected var skippedByRuntime = 0L

  /** RUNTIME pruning (DPP through
    * [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]):
    * when a join's key is one of [[filterAttributes]], Catalyst plans a
    * DynamicPruning subquery on the other side (the classic star shape
    * — a filtered dim, usually an already-built broadcast, decides
    * which fact partitions matter at all) and delivers the surviving
    * keys here as an `IN` predicate between physical planning and
    * execution. At warehouse scale this is the difference between
    * scanning a 100 TB fact table's every partition and scanning the
    * three the dim filter actually joins; on a CLUSTERED (or naturally
    * ordered) data column the same keys skip whole files by their
    * manifest stats.
    *
    * Spark's own V2 → V1 conversion turns the predicates into the
    * filters [[SinkFileSkip.mayHold]] takes, applied in
    * [[planInputPartitions]] ON TOP of the cached static plan —
    * planning may have forced the lazy pruning pass long before the
    * runtime filter arrives, and re-planning would race the snapshot.
    * Runtime pruning only ever DROPS splits, so every static guarantee
    * (manifest snapshot, delete manifests, key-grouped output — Spark
    * backfills empty groups for dropped keys) still holds. Runtime
    * skipping is by tuple and stats only (blooms are a static-pass
    * step). A shape the conversion cannot express is IGNORED: scan
    * more than strictly needed, never less. A data-column IN-set
    * beyond [[SinkFileSkip.MaxSkipValues]] is ignored too (the
    * per-file probe is values × files driver work, and a join wide
    * enough to carry 10k+ distinct keys rarely skips anything);
    * partition and `_file` sets are never bounded.
    */
  @volatile protected var runtimeFilters: Seq[Filter] = Seq.empty

  /** A LIMIT-trimmed scan must not runtime-filter: the trimmed file
    * prefix covers the limit by ROW COUNT, and dropping any of its
    * files afterwards could undershoot the limit. Declaring no filter
    * attributes keeps Catalyst from planning the subquery at all.
    *
    * Only columns SURVIVING column pruning are declared: Spark's
    * PartitionPruning rule resolves the declared attributes against
    * the scan relation's (pruned) output and THROWS on a miss — e.g.
    * the matching-files subquery a MERGE plans projects just
    * (join key, `_file`), and declaring a projected-away partition
    * column there kills the whole statement at analysis. Declared:
    * the partition columns (whole-partition pruning) plus every
    * atomic non-binary data column (file-grain min/max pruning;
    * binary columns carry no stats by design, and the metadata
    * `_file`/`_pos` never describe row content).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (limitHint.isDefined) Array.empty
    else required.fields
      .filter(f => partCols.contains(f.name) ||
        (SinkFileSkip.statsEligible(f.dataType) &&
          f.name != SinkMeta.FileCol && f.name != SinkMeta.PosCol))
      .map(f => org.apache.spark.sql.GraftColumnShim.fieldRef(f.name)).toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit =
    runtimeFilters = org.apache.spark.sql.GraftColumnShim.toV1(predicates)
      .toSeq.filter {
        case In(c, vs) if !partCols.contains(c) && c != SinkMeta.FileCol =>
          vs.length <= SinkFileSkip.MaxSkipValues
        case _ => true
      }

  /** Active position-delete manifests (absolute paths) of the snapshot
    * being read — every split anti-filters its rows through them.
    * Filled by the pruning pass.
    */
  @volatile protected var activeDeleteManifests: Seq[String] = Seq.empty

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    SinkScanMetrics.all

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    prunedFilesWithStats // force the pruning if nothing else has
    SinkScanMetrics.report(
      // post-runtime-filter view: what actually scanned
      "filesScanned" -> (filesScanned - skippedByRuntime),
      "filesSkippedStats" -> skippedByStats,
      "filesSkippedBloom" -> skippedByBloom,
      "filesSkippedRuntime" -> skippedByRuntime)
  }

  private lazy val fs: FileSystem = FileSystem.get(
    new java.net.URI(path), SparkSession.active.sessionState.newHadoopConf())
  private lazy val root: Path = fs.makeQualified(new Path(path))
  /** Absolute path of a manifest entry's data file. */
  protected def abs(e: SinkFileEntry): String = new Path(root, e.rel).toString

  /** The entries of `files` that may hold a row matching every filter. */
  protected def holding(filters: Seq[Filter],
                        files: Seq[SinkFileEntry]): Seq[SinkFileEntry] =
    files.filter(SinkFileSkip.mayHold(filters, partCols, root))

  /** Every file SURVIVING the pushed filters, with its manifest facts —
    * shared by split planning and statistics, so both see the same
    * pruned view. Membership and facts come from the builder's ONE
    * snapshot manifest: partition pruning on its tuples, min/max
    * skipping on its stats, bloom skipping on the blobs the surviving
    * files name. Nothing is listed or opened per leaf or per file.
    */
  protected lazy val prunedFilesWithStats: Seq[SinkFileEntry] = {
    val snap = snapshot
    activeDeleteManifests = snap.toSeq.flatMap(_.dels)
      .map(n => new Path(root, s"_deletes/$n").toString)
    // partition pruning, then FILE SKIPPING: drop every file whose
    // recorded min/max provably excludes a skip filter (a column
    // without stats is always kept)
    val inTuples =
      holding(partitionFilters.toSeq, snap.toSeq.flatMap(_.entries))
    val afterStats = holding(skipFilters.toSeq, inTuples)
    skippedByStats = inTuples.size - afterStats.size
    // bloom blobs load only for scans with point predicates, and only
    // the blobs the surviving files name
    val out =
      if (!SinkFileSkip.wantsBloom(skipFilters)) afterStats
      else {
        val blobs = afterStats.flatMap(_.bloom).distinct
          .map(b => b -> SinkBlooms.read(fs, path, b)).toMap
        afterStats.filter { e =>
          val keep = e.bloom.flatMap(blobs(_).get(e.rel)).forall(bm =>
            skipFilters.forall(SinkFileSkip.mayMatchBloom(_, bm)))
          if (!keep) skippedByBloom += 1
          keep
        }
      }
    filesScanned = out.size
    out
  }

  private lazy val keyTypes: Seq[DataType] =
    partCols.map(c => fullSchema(c).dataType)

  /** LIMIT-driven file trimming: the shortest deterministic PREFIX of
    * files whose recorded rows cover the pushed limit. Only when
    * provable: no position deletes are active (they make counts
    * overstate live rows).
    */
  private lazy val limitedFiles: Seq[SinkFileEntry] =
    limitHint match {
      case Some(n) if activeDeleteManifests.isEmpty =>
        var acc = 0L
        prunedFilesWithStats.sortBy(abs).takeWhile { e =>
          val need = acc < n
          acc += e.rows
          need
        }
      case _ => prunedFilesWithStats
    }

  private lazy val inputSplits: Array[InputPartition] =
    SinkFileSplit.carve(limitedFiles.map(e => SinkFileSplit(abs(e), e.values,
      keyTypes, relPath = e.rel, delManifests = activeDeleteManifests) -> e.size))

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeFilters.isEmpty) inputSplits
    else {
      // count FILES, not splits (giant files may be byte-carved)
      val kept = holding(runtimeFilters, limitedFiles).map(abs).toSet
      skippedByRuntime = (limitedFiles.size - kept.size).toLong
      inputSplits.filter(p => kept(p.asInstanceOf[SinkFileSplit].file))
    }

  private lazy val carved: Boolean = inputSplits.length > limitedFiles.size

  /** POST-PRUNING statistics: `pCol = v` reports only v's bytes,
    * so a query over one partition of a huge table is
    * auto-broadcastable even though the whole table is not — exactly
    * the estimate Catalyst's join planning consumes
    * (V2ScanRelationPushDown folds it into the relation stats). Row
    * counts come EXACT from the publish manifests (each writer counted
    * its rows); reported only when every surviving file recorded one —
    * a partial sum would mislead the CBO worse than no estimate.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(prunedFilesWithStats.map(_.size).sum)
      override def numRows(): java.util.OptionalLong =
        // exact only while no position deletes are active (recorded
        // per-file counts would overestimate — worse for the CBO than
        // no estimate)
        if (activeDeleteManifests.isEmpty)
          java.util.OptionalLong.of(prunedFilesWithStats.map(_.rows).sum)
        else java.util.OptionalLong.empty()
    }

  /** STORAGE-PARTITIONED execution: the layout IS hash-free clustered
    * on the partition tuple, and saying so (KeyGroupedPartitioning +
    * per-split [[SinkFileSplit.partitionKey]]) lets Catalyst satisfy a
    * ClusteredDistribution over the partition columns straight from
    * the files — a `GROUP BY p1, p2` or a storage-partitioned join on
    * the tuple plans ZERO exchanges (requires
    * `spark.sql.sources.v2.bucketing.enabled`, on in GraftSession). At
    * warehouse scale that removes the shuffle from exactly the queries
    * a partitioned table exists to serve.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    // key-grouped execution collapses each TUPLE's splits into one
    // task — exactly right when a tuple is a handful of files (zero-
    // exchange GROUP BY / joins), exactly wrong once a file was carved
    // into byte ranges for parallelism: grouping would re-serialize
    // the ranges. Report the clustering only when nothing was carved.
    if (carved)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        inputSplits.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partCols.map(c => org.apache.spark.sql.GraftColumnShim.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression).toArray,
        limitedFiles.map(_.values).distinct.size)

  override def createReaderFactory(): PartitionReaderFactory =
    // the pushed data-column comparisons ride to the parquet reader
    // for ROW-GROUP footer-stats skipping (the grain below the
    // manifest-level file skip); sound because every filter stays
    // residual. The COW row-level scan overrides this with NO skip
    // filters — group rewrites read their files whole.
    new PartitionedSinkReaderFactory(required, partCols,
      PartitionedSinkWriterFactory.sessionConf(), fieldIds, skipFilters.toSeq)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // mirror the write-side guard in PartitionedSinkTable: a streaming
    // read of a pinned snapshot would otherwise silently tail LATEST
    require(asOfVersion.isEmpty,
      "cannot stream-read a time-travel (VERSION AS OF) table reference")
    new PartitionedSinkMicroBatchStream(path, partCols, fullSchema, required,
      checkpointLocation, fieldIds)
  }
}

/** Custom scan metrics: per-mechanism file-skip counts, shown on the
  * BatchScan node in the SQL UI (and readable from the executed plan's
  * metrics in tests). Driver metrics — the pruning is driver-side.
  */
private[sources] object SinkScanMetrics {
  val all: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesScannedMetric, new FilesSkippedStatsMetric,
      new FilesSkippedBloomMetric, new FilesSkippedRuntimeMetric)

  def report(values: (String, Long)*)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    values.map { case (n, v) =>
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    }.toArray
}

/** Top-level, zero-arg-constructible metric classes: Spark's SQL
  * status listener re-instantiates CustomMetric classes reflectively
  * when aggregating, and rejects nested/parameterized constructors.
  */
private[sources] sealed abstract class SinkSumMetric(
    metricName: String, desc: String)
    extends org.apache.spark.sql.connector.metric.CustomMetric {
  override def name(): String = metricName
  override def description(): String = desc
  override def aggregateTaskMetrics(values: Array[Long]): String =
    values.sum.toString
}
private[sources] final class FilesScannedMetric
    extends SinkSumMetric("filesScanned", "files surviving all pruning")
private[sources] final class FilesSkippedStatsMetric
    extends SinkSumMetric("filesSkippedStats", "files skipped by min/max stats")
private[sources] final class FilesSkippedBloomMetric
    extends SinkSumMetric("filesSkippedBloom", "files skipped by bloom filters")
private[sources] final class FilesSkippedRuntimeMetric
    extends SinkSumMetric("filesSkippedRuntime",
      "files skipped by runtime (dynamic) partition pruning")

/** Streaming READ of a sink table — `spark.readStream.table("cat.t")`
  * tails the layout with the seen-map + batch-log design of Spark's
  * own FileStreamSource: the OFFSET is a single generation number
  * (constant-size JSON, independent of table file count), and the
  * files of each generation live in an immutable per-generation log
  * under the source's checkpoint directory. `latestOffset` reads the
  * latest version manifest (publication is atomic, so it never names
  * a half-written file), diffs against the seen
  * set, and — when new files exist — writes them as log entry
  * `<gen+1>` (atomic tmp+rename). A micro-batch (s, e] is the union of
  * log entries s+1..e — deterministic under replay: the same offsets
  * always read the same immutable logs, across restarts too (the seen
  * set and max generation are rebuilt from the logs on construction).
  * An array-form (file-list) offset comes from a checkpoint written
  * before generations existed, over TSV data files nothing reads now:
  * it is rejected, not migrated.
  * Append-only semantics — files retired by an overwrite or rewrite
  * after being logged are skipped at planning, which takes sizes from
  * the latest manifest (already-emitted rows are NOT retracted; a
  * reader of a table being rewritten wants a CDC log, not a file tail
  * — [[graft.ops.Compaction.tableChanges]] is that log).
  * The tail takes no filters and skips no file: Spark's streaming
  * planner never pushes a filter into a streaming read (it calls
  * `newScanBuilder` and builds the scan, nothing more), so a `.filter`
  * above `readStream.table` is evaluated on the rows, as Spark plans
  * it.
  */
private class PartitionedSinkMicroBatchStream(
    path: String, partCols: Seq[String], fullSchema: StructType,
    required: StructType, checkpointLocation: String,
    fieldIds: Map[String, Int] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class GenOffset(gen: Long) extends Offset {
    override def json(): String = s"""{"gen":$gen}"""
  }

  private def fs: FileSystem = FileSystem.get(new java.net.URI(path),
    SparkSession.active.sessionState.newHadoopConf())

  private val logDir = new Path(checkpointLocation, "graft-file-log")

  // rebuilt from the immutable logs on (re)construction — a restart
  // resumes with the exact seen set the previous run had logged
  private lazy val state: (scala.collection.mutable.Set[String],
                           java.util.concurrent.atomic.AtomicLong) = {
    val f = fs
    val seen = scala.collection.mutable.Set[String]()
    var maxGen = 0L
    if (f.exists(logDir)) {
      Option(f.listStatus(logDir)).toSeq.flatten
        .filter(s => s.isFile && s.getPath.getName.forall(_.isDigit))
        .foreach { s =>
          maxGen = math.max(maxGen, s.getPath.getName.toLong)
          readLog(f, s.getPath).foreach { case (file, _) => seen += file }
        }
    }
    (seen, new java.util.concurrent.atomic.AtomicLong(maxGen))
  }

  private def readLog(f: FileSystem, p: Path): Seq[(String, Seq[String])] = {
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      val fields = line.split("\t", -1)
      if (fields.length < 2) None
      else Some((
        TsvCodec.unescape(UTF8String.fromString(fields.head)).toString,
        fields.tail.toSeq.map(s =>
          TsvCodec.unescape(UTF8String.fromString(s)).toString)))
    }
  }

  private def writeLog(f: FileSystem, gen: Long,
                       files: Seq[(String, Seq[String])]): Unit = {
    f.mkdirs(logDir)
    val tmp = new Path(logDir, s".tmp-$gen-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(files.map { case (file, values) =>
      (TsvCodec.escape(file) +: values.map(TsvCodec.escape)).mkString("\t")
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new Path(logDir, gen.toString)))
      throw new java.io.IOException(s"file-log commit failed for gen $gen")
  }

  /** The latest snapshot's files, by absolute path. */
  private def liveFiles(f: FileSystem): Map[String, SinkFileEntry] =
    SinkVersions.readLatest(f, path).toSeq.flatMap(_.entries)
      .map(e => new Path(path, e.rel).toString -> e).toMap

  override def initialOffset(): Offset = GenOffset(0L)

  override def latestOffset(): Offset = {
    val (seen, maxGen) = state
    val fresh = liveFiles(fs).toSeq.sortBy(_._1)
      .collect { case (file, e) if !seen(file) => file -> e.values }
    if (fresh.nonEmpty) {
      val gen = maxGen.incrementAndGet()
      writeLog(fs, gen, fresh)
      fresh.foreach { case (file, _) => seen += file }
    }
    GenOffset(maxGen.get())
  }

  override def deserializeOffset(json: String): Offset = {
    val m = """\{\s*"gen"\s*:\s*(\d+)\s*\}""".r
    json.trim match {
      case m(g) => GenOffset(g.toLong)
      case t if t.startsWith("[") => throw new IllegalStateException(
        s"sink-stream offset of $path is a file list from a checkpoint " +
          "written before generation offsets, over TSV data files: TSV " +
          "data files are no longer readable — restart the stream from " +
          "a fresh checkpoint")
      case _ => throw new IllegalStateException(
        s"unreadable sink-stream offset '$json'")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val f = fs
    // (start, end] = the files of logs s+1..e
    val (s, e) = (start, end) match {
      case (GenOffset(s), GenOffset(e)) => (s, e)
      case o => throw new IllegalStateException(s"unexpected offsets $o")
    }
    val live: Seq[(String, Seq[String])] = (s + 1 to e).flatMap { g =>
      val p = new Path(logDir, g.toString)
      if (!f.exists(p)) Seq.empty else readLog(f, p)
    }
    // the logged files still live in the latest snapshot, with their
    // sizes: a file retired since it was logged is skipped
    val latest = liveFiles(f)
    val present = live.flatMap { case (file, _) => latest.get(file).map(file -> _) }
    val keyTypes = partCols.map(c => fullSchema(c).dataType)
    SinkFileSplit.carve(present.sortBy(_._1).map { case (file, e) =>
      SinkFileSplit(file, e.values, keyTypes) -> e.size })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionedSinkReaderFactory(required, partCols,
      PartitionedSinkWriterFactory.sessionConf(), fieldIds, Seq.empty)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One scan task: a whole file (default) or a byte range of one.
  * `length = Long.MaxValue` means "through end of file" — the reader
  * clamps to the actual file length with saturating arithmetic.
  * `extras` are split-level CONSTANT columns beyond the partition
  * tuple (raw string renderings, cast by the reader like partition
  * values) — the change-feed source rides them for `_change_type` /
  * `_commit_version`.
  */
private[sources] case class SinkFileSplit(file: String, partValues: Seq[String],
                                 keyTypes: Seq[DataType],
                                 start: Long = 0L,
                                 length: Long = Long.MaxValue,
                                 extras: Seq[(String, String)] = Seq.empty,
                                 inlineParts: Boolean = false,
                                 relPath: String = "",
                                 delManifests: Seq[String] = Seq.empty,
                                 invertDeletes: Boolean = false)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow.fromSeq(partValues.zip(keyTypes).map { case (v, t) =>
      SinkParquetResolve.castValue(v, t) })
}

/** Byte-range split carving, shared by the batch scan, the micro-batch
  * tail and the change feed: a scan that cannot split a 10 GB file is
  * one task at 100 TB. A range reads the row groups whose midpoint lies
  * inside it (ParquetReadOptions.withRange), so contiguous ranges
  * partition a file's row groups exactly, and the same file always
  * carves into the same ranges (deterministic under streaming replay).
  * Files at or under Spark's own `spark.sql.files.maxPartitionBytes`
  * stay whole.
  */
private[sources] object SinkFileSplit {
  /** Each whole-file split with its file's byte size, carved. */
  def carve(files: Seq[(SinkFileSplit, Long)]): Array[InputPartition] = {
    val max = SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    // reject instead of clamp: a non-positive threshold would carve one
    // split per byte — task-count and driver-memory blowup on any real
    // file
    require(max > 0,
      s"spark.sql.files.maxPartitionBytes must be positive, got $max")
    files.flatMap { case (whole, size) =>
      if (size <= max) Seq(whole)
      else (0L until size by max).map(s =>
        whole.copy(start = s, length = math.min(max, size - s)))
    }.toArray
  }
}

/** Every sink split decodes through the one columnar reader
  * ([[SinkParquetSplitReader]]), so each scan — batch, copy-on-write,
  * micro-batch tail, change feed — is columnar and Spark's
  * ColumnarToRow (whole-stage codegen) consumes the batches; the row
  * reader is a view over the same batches for row-only consumers
  * ([[SinkSplitsRead]]). `fieldIds` is the table's registry: a reader
  * without it would resolve renamed columns' old files by name and
  * serve NULL.
  */
private class PartitionedSinkReaderFactory(
    required: StructType, partCols: Seq[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    fieldIds: Map[String, Int], skipFilters: Seq[Filter])
    extends PartitionReaderFactory {
  override def supportColumnarReads(split: InputPartition): Boolean = true

  override def createColumnarReader(split: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new SinkParquetSplitReader(split.asInstanceOf[SinkFileSplit], required,
      partCols, conf, fieldIds, skipFilters)

  override def createReader(split: InputPartition): PartitionReader[InternalRow] = {
    val batches = createColumnarReader(split)
    new PartitionReader[InternalRow] {
      private var rows = java.util.Collections.emptyIterator[InternalRow]()
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!batches.next()) return false
          rows = batches.get().rowIterator()
        }
        row = rows.next()
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = batches.close()
    }
  }
}

/** The sink's one file-pruning decision, [[mayHold]]: may a manifest
  * entry hold a row matching every filter? The batch scan's static
  * pass, its runtime (DPP) filter and the copy-on-write scan's `_file`
  * filter all ask it.
  *
  * Range evaluation for data columns decides whether a file MAY
  * contain a row matching a comparison filter, given the file's
  * per-column min/max (over non-null values). Conservative in every
  * uncertain direction — missing stats, unparseable bounds, or a
  * literal of an unhandled type all answer "may match" (scan the
  * file). The aggressive-but-sound cases: a column recorded ALL-NULL
  * can never satisfy a comparison, and neither can a NULL literal
  * (SQL: NULL cmp x is not true), so the file skips for any of the
  * handled predicates.
  * NUMERIC comparison is BigDecimal (exact for every Long and for the
  * round-tripped Double/Float renderings the writer emits — no 2^53
  * float-widening trap). STRING comparison is binary UTF-8
  * (UTF8String — the engine's own ordering; Java's UTF-16 char order
  * disagrees above the BMP) against the truncated prefix bounds of
  * [[SinkStrBounds]], whose widening makes every decision here sound:
  * the recorded min ≤ true min and recorded max ≥ true max, so a
  * proof of exclusion against the recorded range is a proof against
  * the true one.
  */
private[sources] object SinkFileSkip {
  /** Runtime data-column IN-sets larger than this skip nothing (values
    * × files of driver probing for a join already too wide to prune
    * much).
    */
  final val MaxSkipValues = 1000

  /** Types the stats manifests record bounds for — the data columns
    * worth declaring as runtime-filterable.
    */
  def statsEligible(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | FloatType |
         BooleanType | ShortType | ByteType => true
    case _ => false
  }

  /** The entries that may hold a row matching every one of `filters`
    * (false = provably none). An `=`/`IN` on a partition column tests
    * the entry's rendered tuple (each literal rendered via `toString`,
    * which mirrors the writer's `rawStr`: strings raw, numerics and
    * booleans via toString), one on `_file` tests the entry's absolute
    * path under `root`, and every other filter tests the entry's
    * recorded stats ([[mayMatch]]). A NULL literal matches nothing; an
    * unknown shape matches everything. The point sets render once per
    * call, so an entry costs one lookup per filter.
    */
  def mayHold(filters: Seq[Filter], partCols: Seq[String],
              root: Path): SinkFileEntry => Boolean = {
    def rendered(vs: Array[Any]) = vs.filter(_ != null).map(_.toString).toSet
    val tests: Seq[SinkFileEntry => Boolean] = filters.map { f =>
      val point = f match {
        case EqualTo(c, v) => Some((c, rendered(Array(v))))
        case In(c, vs) if vs != null => Some((c, rendered(vs)))
        case _ => None
      }
      point match {
        case Some((SinkMeta.FileCol, set)) =>
          (e: SinkFileEntry) => set(new Path(root, e.rel).toString)
        case Some((c, set)) if partCols.contains(c) =>
          val i = partCols.indexOf(c)
          (e: SinkFileEntry) => set(e.values(i))
        case _ => (e: SinkFileEntry) => mayMatch(f, e.cols)
      }
    }
    e => tests.forall(_(e))
  }

  private def big(s: String): Option[java.math.BigDecimal] =
    try Some(new java.math.BigDecimal(s))
    catch { case _: NumberFormatException => None }

  /** compareTo results of (recorded min vs literal, recorded max vs
    * literal), in the literal's type system; None = incomparable
    * (scan).
    */
  private def rel(mnS: String, mxS: String, v: Any): Option[(Int, Int)] =
    v match {
      case n: java.lang.Number =>
        (big(mnS), big(mxS), big(n.toString)) match {
          case (Some(mn), Some(mx), Some(b)) =>
            Some((mn.compareTo(b), mx.compareTo(b)))
          case _ => None
        }
      case s: String =>
        val b = UTF8String.fromString(s)
        Some((UTF8String.fromString(mnS).compareTo(b),
          UTF8String.fromString(mxS).compareTo(b)))
      case u: UTF8String =>
        Some((UTF8String.fromString(mnS).compareTo(u),
          UTF8String.fromString(mxS).compareTo(u)))
      case _ => None
    }

  private def cmp(stats: Map[String, Option[(String, String)]], c: String,
                  v: Any)(sat: (Int, Int) => Boolean): Boolean =
    if (v == null) false // NULL cmp x is never true
    else stats.get(c) match {
      case None => true // no stats for the column: must scan
      case Some(None) => false // all values NULL: no comparison matches
      case Some(Some((mnS, mxS))) =>
        rel(mnS, mxS, v) match {
          case Some((cMn, cMx)) => sat(cMn, cMx)
          case None => true
        }
    }

  /** Do any of the skip filters need a bloom probe? (Blooms answer
    * only point predicates — load bloom blobs for exactly
    * the scans that can use them.)
    */
  def wantsBloom(filters: Array[Filter]): Boolean = filters.exists {
    case _: EqualTo | _: In => true
    case _ => false
  }

  /** Bloom-filter rendition of [[mayMatch]] for point predicates:
    * false = the column's per-file filter proves the value(s) absent
    * (no false negatives by Bloom construction — a "maybe" scans).
    * Columns without a filter, non-point predicates, and literal
    * types the writer never hashed all answer true (scan).
    */
  def mayMatchBloom(f: Filter,
                    blooms: Map[String, org.apache.spark.util.sketch.BloomFilter])
      : Boolean = {
    def probe(bf: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean =
      v match {
        case null => true
        case n: java.lang.Long => bf.mightContainLong(n)
        case n: java.lang.Integer => bf.mightContainLong(n.longValue)
        case n: java.lang.Short => bf.mightContainLong(n.longValue)
        case n: java.lang.Byte => bf.mightContainLong(n.longValue)
        case s: String => bf.mightContainString(s)
        case u: UTF8String => bf.mightContainString(u.toString)
        case _ => true
      }
    f match {
      case EqualTo(c, v) => blooms.get(c).forall(probe(_, v))
      case In(c, vs) => blooms.get(c) match {
        case None => true
        case Some(bf) =>
          vs == null || vs.isEmpty || vs.exists(probe(bf, _))
      }
      case _ => true
    }
  }

  /** false = the file provably contains no matching row. */
  def mayMatch(f: Filter,
               stats: Map[String, Option[(String, String)]]): Boolean =
    f match {
      case GreaterThan(c, v) => cmp(stats, c, v)((_, cMx) => cMx > 0)
      case GreaterThanOrEqual(c, v) => cmp(stats, c, v)((_, cMx) => cMx >= 0)
      case LessThan(c, v) => cmp(stats, c, v)((cMn, _) => cMn < 0)
      case LessThanOrEqual(c, v) => cmp(stats, c, v)((cMn, _) => cMn <= 0)
      case EqualTo(c, v) => cmp(stats, c, v)(
        (cMn, cMx) => cMn <= 0 && cMx >= 0)
      case In(c, vs) =>
        if (vs == null) true
        else vs.exists(v => cmp(stats, c, v)(
          (cMn, cMx) => cMn <= 0 && cMx >= 0))
      case _ => true
    }
}

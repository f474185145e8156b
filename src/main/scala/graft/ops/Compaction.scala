package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction and table maintenance for sink tables — the
  * standing jobs of any long-lived lake. Streaming micro-batches and
  * daily incremental appends (the reference's write pattern)
  * accumulate files far below the scan-efficient size; at scale the
  * file count, not the byte count, becomes the bottleneck (driver
  * listing time, task-per-file scheduling, parquet footer overhead).
  *
  * Compaction is a write like any other: [[compactSinkTable]] rewrites
  * fragmented partitions through the table's own dynamic overwrite,
  * so it publishes with the same all-or-nothing version-manifest
  * commit every sink write uses — readers see the old or the new
  * files, never a mix, on any filesystem. Alongside it: the per-file
  * view ([[tableFiles]]) and the staging/vacuum sweeps.
  */
object Compaction {

  /** Floor on [[vacuumStaging]]'s age threshold: whatever the caller
    * passes, staging younger than this is never swept — a typo'd or
    * zero `olderThanMs` must not race a commit that is seconds away.
    */
  final val MinVacuumAgeMs: Long = 10L * 60 * 1000

  /** Compact a [[graft.sources.PartitionedSinkCatalog]] table's
    * fragmented partitions THROUGH THE TABLE'S OWN COMMIT PROTOCOL —
    * compaction is literally a dynamic partition overwrite of the
    * partitions being compacted: read the fragmented partitions via
    * `spark.table`, cluster rows by the partition column (one task per
    * value ⇒ one file per value), and publish with
    * `writeTo(...).overwritePartitions()`. Readers never race, even on
    * object stores: the publish is the same all-or-nothing manifest
    * commit every sink write uses, and untouched partitions are
    * untouched files.
    *
    * Only partitions with more than `maxFilesPerPartition` data files
    * are rewritten. Returns (partitionValue → filesBefore) for the
    * compacted set; empty when nothing was fragmented.
    *
    * `recluster = true` rewrites EVERY partition regardless of file
    * count — the pass that applies a newly-set `graft.sortOrder` to
    * existing data (interleaved historical files come out as disjoint
    * sort-column ranges the min/max manifests can skip on). With a
    * sort order in effect the rewrite also skips the explicit
    * tuple-repartition: the write's own required (ordered)
    * distribution range-clusters on (tuple, sort columns), and a hash
    * exchange in front of it would just be a second, wasted shuffle.
    */
  def compactSinkTable(spark: SparkSession, catalog: String, table: String,
                       maxFilesPerPartition: Int = 1,
                       recluster: Boolean = false): Map[Seq[String], Int] = {
    import org.apache.spark.sql.functions.{col, lit}
    import scala.jdk.CollectionConverters._
    val catalogPlugin = spark.sessionState.catalogManager.catalog(catalog)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty, table)
    val t = catalogPlugin.loadTable(ident)
    val partCols = t.partitioning().toSeq
      .map(_.references()(0).fieldNames.mkString("."))
    // table dir = the catalog root + escaped name (mirror the catalog's
    // layout contract); live file counts per partition tuple come from
    // the latest snapshot manifest (a retired-but-unvacuumed file is
    // not fragmentation)
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dir = new Path(s"$root/${graft.sources.TsvCodec.escapeDir(table)}")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = graft.sources.SinkVersions.readLatest(fs, dir.toString)
    val fragmented: Map[Seq[String], Int] = snap.toSeq.flatMap(_.entries)
      .groupBy(_.values).map { case (v, fsOfV) => v -> fsOfV.size }
      .filter { case (_, n) => recluster || n > maxFilesPerPartition }
    if (fragmented.nonEmpty) {
      // predicate = OR over the fragmented tuples of per-column ANDs —
      // dimension-sized (one term per fragmented partition), never a
      // row-wise computation
      val cond = fragmented.keys.map { values =>
        partCols.zip(values)
          .map { case (c, v) => col(c) === lit(v) }
          .reduce(_ && _)
      }.reduce(_ || _)
      // ARM the read-snapshot guard around the rewrite: compaction's
      // output is DERIVED from reading the fragmented partitions, so a
      // merge-on-read delete that lands on those files after this
      // point (and before the commit) must abort the commit — the
      // compacted files were computed without it and would resurrect
      // the deleted rows — and so must a file appended to those
      // partitions meanwhile, which the dynamic overwrite would clear
      // without its rows. The commit runs driver-side on this thread
      // (V2 write exec), which is what makes the thread-local sound.
      val guard = snap.map(m => graft.sources.SinkGuard.snapshot(m.dels.toSet,
        m.entries.filter(e => fragmented.contains(e.values)).map(_.rel).toSet))
      val sorted = t.properties().asScala
        .get(graft.sources.SinkFormat.PropSortOrder).exists(_.nonEmpty)
      graft.sources.SinkGuard.armed(guard) {
        val base = spark.table(s"$catalog.$table").filter(cond)
        // with a sort order the WRITE range-clusters on (tuple, sort
        // cols) itself; a hash exchange here would be a second shuffle
        (if (sorted) base
         else base.repartition(partCols.map(col): _*)) // one tuple per task
          .writeTo(s"$catalog.$table").overwritePartitions()
      }
    }
    fragmented
  }

  /** Every descendant PARTITION directory (`col=value` segments, any
    * nesting depth) of a sink table root — the multi-level layout's
    * replacement for the old one-level `listStatus` walk.
    */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
                            root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => s +: walk(s.getPath))
    walk(root)
  }

  /** Reclaim expired SNAPSHOTS of a versioned sink table: keep the
    * newest `keepLast` version manifests, delete the older ones, then
    * delete every data file no retained manifest references (files
    * logically retired by overwrites live on disk until this runs —
    * that retention is what `VERSION AS OF` reads). Returns
    * (manifests deleted, data files deleted). Single-admin maintenance
    * like [[compactSinkTable]] — but with one liveness guard baked in:
    * the publish protocol renames data files BEFORE committing the
    * version manifest (manifest-last is what makes crashes safe), so a
    * vacuum racing a publish would see the about-to-be-referenced
    * files as orphans. Files younger than [[MinVacuumAgeMs]] are
    * therefore never deleted, whatever the manifests say — the same
    * age-floor discipline as [[vacuumStaging]]; a genuine orphan is
    * reclaimed by the next vacuum run once it ages past the floor.
    */
  def vacuumVersions(spark: SparkSession, catalog: String, table: String,
                     keepLast: Int = 2): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the latest version")
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dir = new Path(s"$root/${graft.sources.TsvCodec.escapeDir(table)}")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val vDir = graft.sources.SinkVersions.dir(dir.toString)
    val versions = graft.sources.SinkVersions.list(fs, dir.toString)
    if (versions.isEmpty) return (0, 0)
    val (expired, keptVs) = versions.splitAt(math.max(0, versions.size - keepLast))
    val kept = keptVs.map(graft.sources.SinkVersions.read(fs, dir.toString, _))
    val referenced = kept.flatMap(_.entries.map(_.rel)).toSet
    expired.foreach(v => fs.delete(new Path(vDir, v.toString), false))
    // unreferenced data files under the partition dirs are unreachable
    // from every retained snapshot — delete them, EXCEPT files still
    // inside the publish window (see the age floor in the scaladoc)
    val ageCutoff = System.currentTimeMillis() - MinVacuumAgeMs
    val rootUri = dir.toUri.getPath.stripSuffix("/")
    val removed = partitionDirs(fs, dir)
      .flatMap { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
          .filter { f =>
            val rel = f.getPath.toUri.getPath
              .stripPrefix(rootUri).stripPrefix("/")
            !referenced(rel) && f.getModificationTime < ageCutoff
          }
          .map { f => fs.delete(f.getPath, false); f.getPath.toString }
      }
    // position-delete manifests, row-grain change dirs and bloom blobs
    // retire with the last snapshot referencing them (same age floor)
    val keptDels = kept.flatMap(_.dels).toSet
    val keptChanges = kept.flatMap(_.changesDir).toSet
    val keptBlooms = kept.flatMap(_.entries.flatMap(_.bloom)).toSet
    def sweepAux(sub: String, keep: Set[String]): Unit = {
      val d = new Path(dir, sub)
      if (fs.exists(d)) fs.listStatus(d).toSeq
        .filter(st => !keep(st.getPath.getName) &&
          st.getModificationTime < ageCutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
    sweepAux("_deletes", keptDels)
    sweepAux("_changes", keptChanges)
    sweepAux("_blooms", keptBlooms)
    (expired.size, removed.size)
  }

  /** FILES metadata table for a sink table (Iceberg's `t.files`
    * shape): one row per LIVE data file — relative path, partition
    * leaf, size, the exact row count the publish recorded, and the
    * per-column min/max bounds (string renderings; absent columns had
    * no stats or were all-NULL in the file). Every value comes from
    * one version manifest — the latest, or `asOfVersion` — the ops
    * surface for "why didn't this skip?" / "how fragmented is this
    * partition?" questions; no data file is listed or opened.
    */
  def tableFiles(spark: SparkSession, catalog: String, table: String,
                 asOfVersion: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dir = new Path(s"$root/${graft.sources.TsvCodec.escapeDir(table)}")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = graft.sources.SinkVersions.snapshot(fs, dir.toString, asOfVersion)
    // MERGE-ON-READ density signal: active position deletes per file,
    // from the snapshot's manifests (driver-side metadata only). Every
    // scan of a file pays its delete set until `compactSinkTable`
    // folds the positions in — so `deleted_positions / n_rows` is the
    // "compact me" signal a MOR-heavy table's operator watches.
    val deletedByRel: Map[String, Long] = snap.toSeq.flatMap(_.dels)
      .flatMap(m => graft.sources.SinkDeletes.read(fs,
        new Path(dir, s"_deletes/$m")))
      .groupBy(_._1).map { case (rel, es) =>
        // distinct positions: the same row deleted by two manifests
        // (idempotent concurrent deletes) counts once
        rel -> es.map(_._2).distinct.size.toLong
      }
    val rows = snap.toSeq.flatMap(_.entries).sortBy(_.rel).map { e =>
      (e.rel, e.rel.take(e.rel.lastIndexOf('/').max(0)), e.size, e.rows,
        e.cols.collect { case (c, Some((mn, _))) => c -> mn },
        e.cols.collect { case (c, Some((_, mx))) => c -> mx },
        deletedByRel.getOrElse(e.rel, 0L))
    }
    import spark.implicits._
    rows.toDF("rel_path", "partition", "size_bytes", "n_rows",
      "min_values", "max_values", "deleted_positions")
  }

  /** DESCRIBE HISTORY for a sink table: one row per retained
    * snapshot — (version, n_files, n_rows, commit_ts_millis), rows
    * summed EXACTLY from the per-file counts each manifest records.
    * One read per retained manifest; no data file is listed or opened.
    */
  def tableHistory(spark: SparkSession, catalog: String,
                   table: String): org.apache.spark.sql.DataFrame = {
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dir = new Path(s"$root/${graft.sources.TsvCodec.escapeDir(table)}")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = graft.sources.SinkVersions.list(fs, dir.toString).flatMap(v =>
      graft.sources.SinkVersions.find(fs, dir.toString, v)).map { m =>
      org.apache.spark.sql.Row(m.version, m.entries.size.toLong,
        m.entries.map(_.rows).sum,
        // commit wall clock (epoch millis)
        m.ts.map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("commit_ts_millis",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** CHANGE FEED between two snapshots of a VERSIONED sink table: the
    * row-level difference of manifests `fromVersion` → `toVersion`, as
    * a DataFrame in table-schema column order plus a `_change_type`
    * column (`insert` | `delete`). Published files are IMMUTABLE and
    * overwrites retire them logically, so the file-level manifest diff
    * IS the row-level delta: files in `to` but not `from` contribute
    * their rows as inserts, files in `from` but not `to` as deletes —
    * a dynamic overwrite therefore reads as delete+insert of exactly
    * the rewritten partition, which closes the streaming tail's
    * documented append-only caveat (a reader of a table being
    * rewritten wants this CDC log, not a file tail).
    *
    * GRAIN NOTE (semantic change in r17): the diff is PER TRANSITION
    * (Delta CDF's grain — one manifest diff per version s+1..e, via
    * the change-feed source), not the two-point NET diff of earlier
    * rounds. A file added then removed strictly inside (fromVersion,
    * toVersion] therefore emits both its insert and its delete rows,
    * where the old net diff emitted nothing; consumers folding the
    * feed into state are unaffected (the rows cancel), consumers
    * counting transitions see the true history.
    *
    * Both manifests
    * must still be retained (vacuumVersions keeps the retired files on
    * disk for exactly as long as a manifest references them). Scales
    * as a scan of the CHANGED files only — the manifest diff is
    * driver-side metadata, never a data-file read of the unchanged
    * table.
    */
  def tableChanges(spark: SparkSession, catalog: String, table: String,
                   fromVersion: Long, toVersion: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    require(fromVersion < toVersion,
      s"change feed needs fromVersion < toVersion, got $fromVersion → $toVersion")
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val dir = new Path(s"$root/${graft.sources.TsvCodec.escapeDir(table)}")
    // delegate to the change-feed source's batch rendition: one
    // manifest diff per VERSION transition (Delta CDF grain), emitting
    // ROW-GRAIN deltas where the commit recorded them (merge-on-read
    // position deletes; graft.rowChanges change files) and the
    // file-grain diff otherwise — then drop the version stamp to keep
    // this API's two-point shape
    val schemaCols = spark.read
      .format("graft.sources.SinkChangeFeed")
      .option("path", dir.toString)
      .option("startingVersion", fromVersion.toString)
      .option("endingVersion", toVersion.toString)
      .load()
    val ordered = schemaCols.columns.toSeq
      .filterNot(_ == graft.sources.SinkChangeFeed.CommitVersionCol)
      .map(col)
    schemaCols.select(ordered: _*)
  }

  /** Sweep ORPHANED staging from a sink table: the commit protocol
    * cleans `_staging/<queryId>` on every commit and abort, so the only
    * way residue survives is a DRIVER crash between staging and
    * commit — whose query, by definition, will never publish. Deleting
    * its staging can therefore never lose published data; the age
    * threshold exists solely so a LIVE job's staging (written minutes
    * ago, commit still coming) is never swept from under it. Returns
    * the removed query dirs.
    *
    * `olderThanMs` is FLOORED at [[MinVacuumAgeMs]] (10 minutes): a
    * smaller value is not honored — it is raised to the floor, with a
    * warning logged, so a typo'd or zero threshold can never race a
    * commit that is seconds away.
    */
  def vacuumStaging(spark: SparkSession, catalog: String, table: String,
                    olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val root = spark.conf.get(s"spark.sql.catalog.$catalog.root")
    val staging = new Path(
      s"$root/${graft.sources.TsvCodec.escapeDir(table)}/_staging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(staging)) return Seq.empty
    // floor the age threshold: a caller passing olderThanMs=0 (or any
    // tiny value) must not sweep a query that staged a file seconds
    // ago — and must be TOLD the explicit threshold was overridden
    if (olderThanMs < MinVacuumAgeMs)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"vacuumStaging olderThanMs=${olderThanMs}ms is below the " +
          s"${MinVacuumAgeMs}ms safety floor; using the floor instead")
    val cutoff = System.currentTimeMillis() -
      math.max(olderThanMs, MinVacuumAgeMs)
    // liveness = the NEWEST write anywhere under the query dir, not the
    // dir's own mtime: a long-running job creates its staging dir early
    // and keeps writing files into it — the dir mtime only tracks
    // direct-child creation, so a still-active writer could look stale
    def newestMtime(p: Path): Long = {
      val self = fs.getFileStatus(p).getModificationTime
      val kids = fs.listStatus(p)
      if (kids.isEmpty) self
      else math.max(self, kids.map(s =>
        if (s.isDirectory) newestMtime(s.getPath)
        else s.getModificationTime).max)
    }
    val removed = fs.listStatus(staging).toSeq
      .filter(s => s.isDirectory && newestMtime(s.getPath) < cutoff)
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
    if (fs.exists(staging) && fs.listStatus(staging).isEmpty)
      fs.delete(staging, true)
    removed
  }
}

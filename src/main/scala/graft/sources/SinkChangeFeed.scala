package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING CHANGE FEED over a versioned sink table — the consumer
  * half of the CDC story ([[graft.ops.Compaction.tableChanges]] is the
  * two-point batch rendition; this source TAILS the commit log):
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.SinkChangeFeed")
  *     .option("path", "<table dir>")        // a catalog table's dir
  *     .option("startingVersion", "0")       // or "latest"
  *     .load()
  * }}}
  *
  * emits every committed snapshot transition as rows of the changed
  * FILES only, with `_change_type` (insert | delete) and
  * `_commit_version` columns appended to the table schema. The offset
  * is the VERSION NUMBER — constant-size, and deterministic under
  * replay because version manifests are immutable: batch (s, e]
  * re-derives the same per-version manifest diffs forever (the
  * append-only file tail cannot express overwrites; this source closes
  * that gap — a dynamic overwrite arrives as delete+insert of exactly
  * the rewritten partition, a row-level rewrite as delete+insert of
  * exactly the replaced files).
  *
  * Schema comes from the table's `_table.json` sidecar (written by
  * [[PartitionedSinkCatalog]]), so the stream needs no user-declared
  * schema. Semantics notes: 'delete' rows carry the full OLD row (the
  * retired file is still on disk — versioned tables retire logically;
  * [[graft.ops.Compaction.vacuumVersions]] retention therefore bounds
  * how far back a feed may start, exactly Delta CDF's contract — a
  * vacuumed-away version fails loudly at planning, never silently
  * skips). Compactions rewrite files without changing rows; like
  * Delta CDF, they surface as delete+insert — a consumer needing
  * row-level idempotence should key on the row, not the file.
  */
class SinkChangeFeed extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SinkChangeFeed.cdcSchema(SinkChangeFeed.readSidecar(options)._2)

  override def supportsExternalMetadata(): Boolean = false

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (partCols, tableSchema, fieldIds) = SinkChangeFeed.readSidecar(opts)
    new SinkChangeFeedTable(opts.get("path"), partCols, tableSchema,
      Option(opts.get("startingVersion")),
      Option(opts.get("endingVersion")), fieldIds)
  }
}

private[graft] object SinkChangeFeed {
  final val ChangeTypeCol = "_change_type"
  final val CommitVersionCol = "_commit_version"

  def cdcSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  /** (partition columns, table schema, field-id registry) from the
    * table dir's sidecar — the same parser the catalog uses
    * ([[SinkSidecar]]), so a property-bearing sidecar (lines 3+) never
    * leaks trailing text into the schema-JSON parse. The registry
    * rides to the feed's readers so a RENAMEd column's pre-rename
    * files emit correct change rows (name-based reads would serve
    * NULL for them).
    */
  def readSidecar(options: CaseInsensitiveStringMap)
      : (Seq[String], StructType, Map[String, Int]) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "SinkChangeFeed needs option path=<table dir>"))
    val fs = FileSystem.get(new java.net.URI(path),
      SparkSession.active.sessionState.newHadoopConf())
    val (partCols, schema, props) = SinkSidecar.readDir(fs, path)
    // the feed's offsets are VERSION numbers: a table that keeps only
    // its latest version has no commit log to tail. Fail at
    // construction, pointing at the fix.
    require(SinkVersions.latest(fs, path).flatMap(v => SinkVersions.find(
      fs, path, v, headersOnly = true)).forall(_.keepHistory),
      s"$path is not versioned — the change feed tails the version " +
        "manifest log; create the table through a catalog with " +
        "spark.sql.catalog.<name>.versioned=true")
    (partCols, schema, SinkFormat.fieldIds(props))
  }
}

private class SinkChangeFeedTable(path: String, partCols: Seq[String],
                                  tableSchema: StructType,
                                  startingVersion: Option[String],
                                  endingVersion: Option[String] = None,
                                  fieldIds: Map[String, Int] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"sink_change_feed($path)"
  override def schema(): StructType = SinkChangeFeed.cdcSchema(tableSchema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new SinkChangeFeedScan(path, partCols, tableSchema,
      startingVersion.orElse(Option(options.get("startingVersion"))),
      endingVersion.orElse(Option(options.get("endingVersion"))), fieldIds)
}

/** Batch rendition: `spark.read.format(...).option("startingVersion",
  * s)[.option("endingVersion", e)].load()` returns the transitions of
  * versions (s, e] in one DataFrame (e defaults to latest) — the
  * between-two-points answer [[graft.ops.Compaction.tableChanges]]
  * gives for catalog tables, here straight off the table dir with the
  * same split planning as the stream.
  */
private class SinkChangeFeedScan(path: String, partCols: Seq[String],
                                 tableSchema: StructType,
                                 startingVersion: Option[String],
                                 endingVersion: Option[String] = None,
                                 fieldIds: Map[String, Int] = Map.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = SinkChangeFeed.cdcSchema(tableSchema)
  override def description(): String = s"SinkChangeFeedScan($path)"
  // the batch rendition plans and reads exactly like the stream
  private lazy val stream = new SinkChangeFeedStream(path, partCols,
    tableSchema, startingVersion, fieldIds)

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = stream

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val start = stream.initialOffset()
    val end = endingVersion.map(e => stream.versionOffset(e.toLong))
      .getOrElse(stream.latestOffset())
    stream.planInputPartitions(start, end)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    stream.createReaderFactory()
}

/** Offsets are version numbers; batch (s, e] = the manifest diffs of
  * versions s+1..e, one insert/delete split per changed file per
  * version. All planning is driver-side manifest metadata — the
  * unchanged table is never listed, let alone read.
  */
private class SinkChangeFeedStream(path: String, partCols: Seq[String],
                                   tableSchema: StructType,
                                   startingVersion: Option[String],
                                   fieldIds: Map[String, Int] = Map.empty)
    extends MicroBatchStream {

  private case class VersionOffset(v: Long) extends Offset {
    override def json(): String = s"""{"version":$v}"""
  }

  /** Pinned-version offset for the batch rendition's endingVersion. */
  private[sources] def versionOffset(v: Long): Offset = VersionOffset(v)

  private def fs: FileSystem = FileSystem.get(new java.net.URI(path),
    SparkSession.active.sessionState.newHadoopConf())

  /** The stream starts AFTER this version (exclusive): "latest" skips
    * history and emits only commits that land once the stream runs;
    * a number v replays from transition v→v+1 onward; default 0 =
    * the whole retained history. Resolved once at stream start — the
    * checkpointed offset owns it from then on.
    */
  override def initialOffset(): Offset = VersionOffset(
    startingVersion match {
      case Some("latest") => SinkVersions.latest(fs, path).getOrElse(0L)
      case Some(s) =>
        val v = try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be a version number or 'latest', got '$s'")
        }
        require(v >= 0, s"startingVersion must be >= 0, got $v")
        v
      case None => 0L
    })

  override def latestOffset(): Offset = {
    val latest = SinkVersions.latest(fs, path).getOrElse(0L)
    VersionOffset(latest)
  }

  override def deserializeOffset(json: String): Offset = {
    val m = """\{\s*"version"\s*:\s*(\d+)\s*\}""".r
    json.trim match {
      case m(v) => VersionOffset(v.toLong)
      case _ => throw new IllegalStateException(
        s"unreadable change-feed offset '$json'")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[VersionOffset].v,
      end.asInstanceOf[VersionOffset].v)
    val f = fs
    val keyTypes = partCols.map(c => tableSchema(c).dataType)
    // each version's manifest is read once; version 0 is the empty
    // table before the first commit
    def manifest(v: Long): SinkManifest =
      if (v == 0L) SinkManifest(0L, Seq.empty)
      else SinkVersions.read(f, path, v)
    def files(m: SinkManifest) = m.entries.map(x => x.rel -> x).toMap
    val first = manifest(s)
    var prev = files(first)
    var prevDels = first.dels.toSet
    val whole = (s + 1 to e).flatMap { v =>
      val m = manifest(v)
      val cur = files(m)
      val curDels = m.dels.toSet
      val extras = (t: String) => Seq(
        SinkChangeFeed.ChangeTypeCol -> t,
        SinkChangeFeed.CommitVersionCol -> v.toString)
      val out: Seq[(SinkFileSplit, Long)] =
        m.changesDir match {
          case Some(dirName) =>
            // ROW-GRAIN: the commit persisted its exact change rows
            // (graft.rowChanges) — emit those INSTEAD of the
            // file-grain manifest diff. Change files carry full table
            // rows with partition columns inline; the type is the
            // subdirectory name.
            val base = new Path(path, s"_changes/$dirName")
            Option(f.listStatus(base)).toSeq.flatten
              .filter(_.isDirectory)
              .flatMap { typeDir =>
                val changeType = typeDir.getPath.getName
                Option(f.listStatus(typeDir.getPath)).toSeq.flatten
                  .filter(st => st.isFile &&
                    st.getPath.getName.endsWith(".parquet"))
                  .sortBy(_.getPath.getName)
                  .map(st => SinkFileSplit(st.getPath.toString, Seq.empty,
                    Seq.empty, extras = extras(changeType),
                    inlineParts = true) -> st.getLen)
              }
          case None =>
            // FILE-GRAIN manifest diff, plus — for merge-on-read
            // commits — the rows of any NEW position-delete manifests
            // (a MOR delete changes no file membership; its deleted
            // rows surface by reading the affected files in
            // invertDeletes mode: emit EXACTLY the deleted positions)
            // file-grain rows are the rows VISIBLE at the relevant
            // snapshot: a retired file's emitted deletes anti-filter
            // through the v-1 active position manifests (rows already
            // MOR-deleted were never visible and must not re-delete),
            // an inserted file's rows through v's
            def manifestPaths(names: Set[String]): Seq[String] =
              names.toSeq.sorted.map(n =>
                new Path(path, s"_deletes/$n").toString)
            val changed =
              cur.keySet.diff(prev.keySet).toSeq.sorted
                .map(r => (r, cur(r), "insert", manifestPaths(curDels))) ++
                prev.keySet.diff(cur.keySet).toSeq.sorted
                  .map(r => (r, prev(r), "delete", manifestPaths(prevDels)))
            val fileGrain = changed.map { case (rel, x, t, dm) =>
              SinkFileSplit(new Path(path, rel).toString, x.values, keyTypes,
                extras = extras(t), relPath = rel, delManifests = dm) -> x.size
            }
            val newDels = curDels.diff(prevDels).toSeq.sorted
            val posGrain = newDels.flatMap { m =>
              val abs = new Path(path, s"_deletes/$m")
              // a delete manifest names only files live at v
              SinkDeletes.read(f, abs).map(_._1).distinct.sorted
                .flatMap(cur.get).map { x =>
                  SinkFileSplit(new Path(path, x.rel).toString, x.values,
                    keyTypes, extras = extras("delete"), relPath = x.rel,
                    delManifests = Seq(abs.toString),
                    invertDeletes = true) -> x.size
                }
            }
            fileGrain ++ posGrain
        }
      prev = cur
      prevDels = curDels
      out
    }
    SinkFileSplit.carve(whole)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionedSinkReaderFactory(SinkChangeFeed.cdcSchema(tableSchema),
      partCols, PartitionedSinkWriterFactory.sessionConf(), fieldIds, Seq.empty)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Partitioned DataSource V2 SINK — the write half of the engine's
  * connector surface (the read half, with 4-way pushdown, is
  * [[DocGenSource]]; the reference's write surface is the
  * append/overwrite warehouse in reference src/jobs/load_*.py, which
  * delegates the commit problem to Hive — this connector owns it).
  *
  * Layout: hive-style `<root>/<p1>=<v1>/<p2>=<v2>/.../part-*.parquet`
  * — MULTI-LEVEL nested partition directories, one LEAF directory per
  * partition-value TUPLE (the reference's own lake is three-level
  * `flight_year/flight_month/flight_day`, extract_flights.py:96-99),
  * parquet data files holding the data columns (written by Spark's own
  * parquet writer, see [[SinkFormat]]),
  * and a version manifest per commit (`_versions/<v>`, see
  * [[SinkVersions]]) naming the live files with their facts.
  * Readable back through [[PartitionedSink.readBack]] (the manifest's
  * files through the engine's own split reader).
  *
  * The part that matters at 100 TB is the COMMIT PROTOCOL — a job
  * that writes for an hour from 1000 executors must publish all-or-
  * nothing, under task retry, speculative duplicates, and job abort.
  * Every write — append, overwrite, a streaming epoch, a copy-on-write
  * rewrite, a merge-on-read delta — takes ONE path: one [[SinkWrite]],
  * one [[PartitionedSinkWriterFactory]] and one [[SinkCommit.commit]]:
  *
  *   - Every task writes only under `_staging/<queryId>/` (a streaming
  *     epoch under `_staging/<queryId>/epoch-<e>/`), one file per
  *     (task, partition-tuple), named by (partitionId, taskId) — task
  *     attempts NEVER touch the published layout.
  *   - A task's [[DataWriter.commit]] returns a manifest (its staged
  *     files + row counts, plus a merge-on-read write's deleted
  *     positions) as the WriterCommitMessage. Spark's
  *     OutputCommitCoordinator (useCommitCoordinator=true) guarantees
  *     at most ONE attempt per partition commits; a speculative twin
  *     that loses the race gets abort() and deletes its files.
  *   - The driver-side commit publishes EXACTLY the files named in the
  *     commit messages — a zombie attempt's orphan staging file (its
  *     executor died before abort could run) is swept with the staging
  *     dir, never published. Exactly-once is therefore a property of
  *     the manifest, not of task scheduling.
  *   - What a commit CLEARS is one decision ([[SinkMode]]):
  *     TRUNCATE/OverwriteByExpression(true) clears the whole table,
  *     filter overwrite clears the leaves matching the equality
  *     conjunction (ANY SUBSET of the partition columns — `month = 3`
  *     on a y/m/d table clears March of every year), dynamic overwrite
  *     clears exactly the partition TUPLES present in the commit
  *     messages, and a row-level rewrite clears exactly the files its
  *     scan planned. The cleared files drop out of the next version
  *     manifest, which is committed LAST by a compare-and-swap rename:
  *     readers see the old or the new version, never a mix, and a
  *     commit that dies before its CAS leaves the old version intact.
  *   - Abort deletes the staging dir; the published layout is
  *     untouched (all-or-nothing).
  *
  * All FS traffic goes through the Hadoop FileSystem API (task-side
  * writers get the SESSION's Hadoop configuration, serialized into the
  * DataWriterFactory — credentials/defaultFS overrides reach the
  * executors), so the same protocol runs on file:/, hdfs:/ or any FS
  * with an atomic no-overwrite rename for the manifest commit.
  *
  * Types: the atomic set plus BINARY and nested struct/array data
  * columns ([[SinkFormat.validateColumnType]]). Partition columns must
  * be non-null atomics; their VALUES are hive-escaped in directory
  * names (`ExternalCatalogUtils.escapePathName` — `/`, `=`, `%`,
  * control chars); readers take the raw values from the manifest.
  */
/** Lossless string codec for the sink's text METADATA — version,
  * position-delete manifests, bloom blobs, catalog sidecars and
  * stream file logs (data files are parquet). The escape set is
  * exactly the characters those line formats give meaning to: `\t`
  * (field separator), `\n`/`\r` (line separator), `\` (the escape
  * itself — which also neutralizes the `\N` NULL token: a literal
  * "\N" value writes as `\\N`), plus `\e` for the wholly-empty
  * string. Directory names use hive escaping ([[escapeDir]]).
  */
object TsvCodec {
  def escape(s: String): String = {
    if (s.isEmpty) return "\\e"
    val sb = new java.lang.StringBuilder(s.length + 4)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Inverse of [[escape]], on plain strings. */
  def unescape(s: String): String =
    unescape(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  /** Inverse of [[escape]]. */
  def unescape(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (str.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '\\' && i + 1 < str.length) {
        str.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't'  => sb.append('\t')
          case 'n'  => sb.append('\n')
          case 'r'  => sb.append('\r')
          case 'e'  => () // empty-string marker: expands to nothing
          case o    => sb.append('\\').append(o) // unknown: keep verbatim
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Hive-style escaping for partition directory names (`/`, `=`, `%`,
    * control chars → `%xx`); Spark's partition discovery unescapes.
    */
  def escapeDir(value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(value)
  def unescapeDir(name: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(name)
}

/** Shared geometry of the multi-level hive layout: tuple → leaf-dir
  * mapping and the injective file-name encoding of a tuple. Hive
  * escaping always percent-encodes a literal `=` inside a VALUE
  * (`%3D`), so joining ESCAPED values with `=` is collision-free — two
  * distinct tuples can never render to one name.
  */
private[graft] object SinkLayout {
  /** Relative leaf dir for a partition tuple: `p1=v1/p2=v2/...`. */
  def leafRel(partCols: Seq[String], values: Seq[String]): String =
    partCols.zip(values)
      .map { case (c, v) => s"$c=${TsvCodec.escapeDir(v)}" }.mkString("/")

  /** Injective single-segment encoding of a tuple for FILE names. */
  def valueTag(values: Seq[String]): String =
    values.map(TsvCodec.escapeDir).mkString("=")

  /** Remove `dir`, then each ancestor below the table root, while
    * empty — retiring a leaf's last file must not leave empty
    * `year=.../month=...` skeletons behind.
    */
  def pruneEmpty(fs: FileSystem, root: Path, dir: Path): Unit = {
    def empty(p: Path) =
      try fs.listStatus(p).isEmpty
      catch { case _: java.io.FileNotFoundException => false }
    var p = dir
    while (p != null && p.depth > root.depth && empty(p)) {
      fs.delete(p, false)
      p = p.getParent
    }
  }
}

class PartitionedSink extends TableProvider {
  // the sink infers nothing; schema comes from the written DataFrame
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Nil)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PartitionedSinkTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("PartitionedSink needs a path")),
      Option(properties.get("partitionBy")).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          "PartitionedSink needs option partitionBy=<col>[,<col>...]")),
      schema,
      // graft.* write options ride as table properties on the path API
      // (`.option("graft.bloomColumns", "k")`)
      props = SinkFormat.userProps(s"path ${properties.get("path")}",
        properties.asScala.toMap.filter { case (k, _) => k.startsWith("graft.") }))
}

object PartitionedSink {
  final val NullToken = "\\N"

  /** Read a sink layout back as a DataFrame: the latest version
    * manifest's files through the engine's own split reader
    * ([[SinkSplitsRead]]), with an explicit data schema (no inference —
    * deterministic types). The read is the table's: the snapshot's
    * merge-on-read position deletes apply, and a catalog table's field
    * ids (its `_table.json` sidecar) resolve renamed columns in older
    * files. A table with no commit (e.g. the job wrote zero rows)
    * returns a schema-correct empty frame.
    */
  def readBack(spark: SparkSession, root: String, dataSchema: StructType,
               partCol: String, partType: DataType = StringType): DataFrame =
    readBackParts(spark, root, dataSchema, Seq(partCol -> partType))

  /** Multi-level variant: `partCols` in layout order (outermost
    * first), each with its read-back type.
    */
  def readBackParts(spark: SparkSession, root: String,
                    dataSchema: StructType,
                    partCols: Seq[(String, DataType)]): DataFrame = {
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val fieldIds =
      if (!fs.exists(new Path(root, "_table.json"))) Map.empty[String, Int]
      else SinkFormat.fieldIds(SinkSidecar.readDir(fs, root)._3)
    val keyTypes = partCols.map(_._2)
    val splits = SinkVersions.readLatest(fs, root).toSeq.flatMap { m =>
      val dels = m.dels.map(n => new Path(SinkDeletes.dir(root), n).toString)
      m.entries.map(e => SinkFileSplit(new Path(root, e.rel).toString,
        e.values, keyTypes, relPath = e.rel, delManifests = dels))
    }
    SinkSplitsRead.dataFrame(spark, splits,
      StructType(dataSchema.fields ++
        partCols.map { case (c, t) => StructField(c, t) }),
      partCols.map(_._1), fieldIds)
  }
}

private[sources] class PartitionedSinkTable(path: String,
                                            val partCols: Seq[String],
                                            schema0: StructType,
                                            versioned: Boolean = false,
                                            asOfVersion: Option[Long] = None,
                                            val props: Map[String, String] =
                                              Map.empty)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  require(partCols.nonEmpty, "PartitionedSink needs at least one partition column")
  override def name(): String =
    s"partitioned_sink($path by ${partCols.mkString(",")})" +
      asOfVersion.map(v => s" VERSION AS OF $v").getOrElse("")
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] =
    partCols.map(c => GraftColumnShim.identity(c): Transform).toArray
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_READ,
    TableCapability.MICRO_BATCH_READ,
    TableCapability.BATCH_WRITE,
    TableCapability.STREAMING_WRITE,
    TableCapability.TRUNCATE,
    TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.OVERWRITE_DYNAMIC).asJava

  override def properties(): util.Map[String, String] = props.asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfVersion.isEmpty,
      "cannot write to a time-travel (VERSION AS OF) table reference")
    new PartitionedSinkWriteBuilder(path, partCols, info, versioned, props)
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new PartitionedSinkScanBuilder(path, partCols, schema0, asOfVersion,
      SinkFormat.fieldIds(props))

  /** Metadata columns: `_file` — the row's data-file path, a per-split
    * constant (the row-level rewrites use it for runtime group
    * filtering) — and `_pos`, the row's stable position within its
    * file (its row index; the merge-on-read delete identity). A DATA
    * column with the same name shadows either (Spark's standard
    * conflict rule).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(SinkMeta.FileMetaCol, SinkMeta.PosMetaCol)

  /** SQL row-level surface: DELETE / UPDATE / MERGE rewrite the file
    * groups containing matches (copy-on-write) — see
    * [[SinkRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOfVersion.isEmpty,
      s"cannot ${info.command} a time-travel (VERSION AS OF) table reference")
    SinkFormat.deleteMode(props) match {
      case "mor" => () => new SinkRowLevelDeltaOperation(path, partCols,
        schema0, versioned, info.command, props)
      case _ => () => new SinkRowLevelOperation(path, partCols, schema0,
        versioned, info.command, props)
    }
  }

  /** METADATA-ONLY deletes: a DELETE whose predicates are equality
    * conjunctions over partition columns (or an unconditional DELETE)
    * drops whole leaves without reading a row — Catalyst's
    * OptimizeMetadataOnlyDeleteFromTable prefers this path and falls
    * back to the copy-on-write rewrite for anything canDeleteWhere
    * declines. The leaves retire through a new manifest without them,
    * matching every other overwrite mode.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOfVersion.isEmpty && filters.forall {
      case _: AlwaysTrue => true
      case EqualTo(c, v) => partCols.contains(c) && v != null
      case _ => false
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOfVersion.isEmpty,
      "cannot DELETE from a time-travel (VERSION AS OF) table reference")
    val mode: SinkMode =
      if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
        Truncate
      else {
        // AlwaysTrue conjuncts are redundant (TRUE AND p=v is p=v) —
        // drop them before the equality check, or a mixed array that
        // canDeleteWhere accepted would fail here at runtime
        val nonTrivial = filters.filterNot(_.isInstanceOf[AlwaysTrue])
        val eqs = nonTrivial.collect { case EqualTo(c, v) => c -> v.toString }
        require(eqs.length == nonTrivial.length,
          s"deleteWhere got non-partition filters: ${filters.mkString(", ")}")
        // contradictory equalities on one column (`p = 1 AND p = 2`)
        // match no rows — a no-op delete, not an error
        if (eqs.groupBy(_._1).exists(_._2.map(_._2).distinct.length > 1))
          return
        OverwriteEq(eqs.toMap)
      }
    SinkCommit.commit(SinkCommit.fsFor(path), path, partCols, versioned,
      java.util.UUID.randomUUID().toString, mode, Seq.empty)
  }
}

/** The one write builder of every sink write. The overwrite mode is
  * resolved at build time from which mix-in Spark calls: none =
  * append, truncate()/overwrite(AlwaysTrue) = full replace,
  * overwrite(p1 = v1 [, p2 = v2 ...]) = replace the leaf partitions
  * matching the conjunction (any SUBSET of the partition columns),
  * overwriteDynamicPartitions() = replace the partition tuples the job
  * writes. A row-level operation passes itself as `op`; its commit
  * decides what is cleared.
  */
private class PartitionedSinkWriteBuilder(path: String, partCols: Seq[String],
                                          info: LogicalWriteInfo,
                                          versioned: Boolean = false,
                                          props: Map[String, String] =
                                            Map.empty,
                                          op: Option[SinkRowLevelOperation] =
                                            None)
    extends DeltaWriteBuilder with SupportsOverwrite
    with SupportsDynamicOverwrite {

  private var mode: SinkMode = Append
  // a delete-only merge-on-read write projects no row columns
  if (op.isEmpty || info.schema().nonEmpty) {
    partCols.foreach(pc => require(info.schema().fieldNames.contains(pc),
      s"partition column $pc not in written schema ${info.schema().sql}"))
    // loud at plan time: binary and nested columns can never partition,
    // and MAP columns are not supported
    info.schema().fields.foreach(f => SinkFormat.validateColumnType(
      f.name, f.dataType, partCols.contains(f.name)))
  }

  override def truncate(): WriteBuilder = { mode = Truncate; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
        Truncate
      else {
        val eqs = filters.map {
          case EqualTo(c, v) if partCols.contains(c) => c -> v.toString
          case f => throw new UnsupportedOperationException(
            s"PartitionedSink overwrite supports only <partitionCol> = " +
              s"<value> conjunctions over [${partCols.mkString(", ")}], got $f")
        }
        require(eqs.map(_._1).distinct.length == eqs.length,
          s"duplicate partition column in overwrite filter: ${filters.mkString(", ")}")
        OverwriteEq(eqs.toMap)
      }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = Dynamic; this
  }

  override def build(): DeltaWrite =
    new SinkWrite(path, partCols, info, mode, versioned, props, op)
}

/** What a commit clears from its base snapshot. */
private sealed trait SinkMode extends Serializable
private case object Append extends SinkMode
private case object Truncate extends SinkMode
/** Equality conjunction over a SUBSET of the partition columns. */
private case class OverwriteEq(eqs: Map[String, String]) extends SinkMode
/** The partition tuples the commit publishes. */
private case object Dynamic extends SinkMode
/** A row-level commit: exactly the files `rels`, each of which must
  * still be live (merge-on-read clears none).
  */
private case class Replace(rels: Set[String]) extends SinkMode

/** Truncated STRING bounds for the skipping manifests, Iceberg-style:
  * a string column's recorded min is the 16-code-point PREFIX of the
  * true minimum (a prefix never exceeds its source, so it stays a
  * valid lower bound), and its recorded max is the 16-code-point
  * prefix of the true maximum with the last code point INCREMENTED
  * when anything was cut — strictly greater than every value that
  * shares the prefix, so it stays a valid upper bound. All ordering is
  * binary UTF-8 ([[org.apache.spark.unsafe.types.UTF8String]] — the
  * engine's own string comparison), never Java's UTF-16 char order,
  * which disagrees above the BMP. The bbee179 lesson applies verbatim:
  * a truncated bound must never prove an exclusion it can't prove —
  * prefixes only ever WIDEN the recorded range, and values whose
  * 16-cp prefix contains a lone surrogate poison the column (their
  * UTF-8 rendering is not order-faithful), trading skips for safety.
  */
private[graft] object SinkStrBounds {
  final val MaxLen = 16 // code points

  def cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** (≤16-code-point prefix, anything cut?); None = poisoned (a lone
    * surrogate inside the prefix).
    */
  def truncate(s: String): Option[(String, Boolean)] = {
    val n = s.codePointCount(0, s.length)
    val cut = n > MaxLen
    val prefix =
      if (cut) s.substring(0, s.offsetByCodePoints(0, MaxLen)) else s
    var i = 0
    while (i < prefix.length) {
      val c = prefix.charAt(i)
      val high = Character.isHighSurrogate(c)
      if (Character.isLowSurrogate(c)) return None // lone low surrogate
      if (high && (i + 1 >= prefix.length ||
        !Character.isLowSurrogate(prefix.charAt(i + 1)))) return None
      i += (if (high) 2 else 1)
    }
    Some((prefix, cut))
  }

  /** Upper bound for a (possibly truncated) max prefix: untruncated is
    * its own exact max; truncated increments the LAST code point
    * (skipping the surrogate gap U+D800–U+DFFF), dropping trailing
    * maxed-out points. None when no representable bound exists (every
    * code point is U+10FFFF) — the column then carries no stats.
    */
  def upperBound(prefix: String, truncated: Boolean): Option[String] = {
    if (!truncated) return Some(prefix)
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val c = cps(i)
      if (c < 0x10FFFF) {
        val next = if (c == 0xD7FF) 0xE000 else c + 1
        val out = cps.take(i) :+ next
        return Some(new String(out, 0, out.length))
      }
      i -= 1
    }
    None
  }
}

/** One staged file, as named by the task that wrote it: its size, row
  * count and per-column min/max over the NON-NULL values (`None` =
  * every value NULL; a column without an entry carries no stats), and
  * `blooms` = (column, serialized
  * [[org.apache.spark.util.sketch.BloomFilter]]) for each bloom-enabled
  * column whose per-file distinct count stayed under the cap.
  */
private case class StagedFile(partValues: Seq[String], stagedPath: String,
                              rows: Long, size: Long, partitionId: Int,
                              cols: Map[String, Option[(String, String)]] =
                                Map.empty,
                              blooms: Seq[(String, Array[Byte])] = Seq.empty)
/** One task's report: its staged files and, for a merge-on-read write,
  * the (relative path, position) of every row it deleted.
  */
private case class SinkCommitMessage(files: Seq[StagedFile],
                                     deletes: Seq[(String, Long)] = Seq.empty)
    extends WriterCommitMessage

/** BLOOM-FILTER file skipping for POINT lookups — the pruning min/max
  * ranges cannot give: on a high-cardinality UNCLUSTERED column
  * (an id column not sorted into the layout), every file's [min, max]
  * spans the whole key domain and range skipping keeps everything,
  * while a per-file Bloom filter answers `key = x` with "definitely
  * absent" for ~99 % of non-containing files (fpp-bounded false
  * POSITIVES only — a false positive scans a file needlessly, never
  * returns a wrong row; false negatives are impossible by
  * construction, so no matching row is ever skipped). Parquet solves
  * the same problem with column bloom filters in the footer; the
  * filter here is Spark's own [[org.apache.spark.util.sketch.BloomFilter]]
  * (the sketch behind Spark's runtime bloom-join pruning).
  *
  * Opt-in per table: the `graft.bloomColumns = 'c1,c2'` table property
  * names the columns (integral and string types; others are silently
  * ineligible — float equality is a precision trap, bbee179). It is
  * persisted in the catalog sidecar (or set as a path-API option), so
  * it binds every writer of the table. Writers accumulate each file's
  * DISTINCT values (bounded: [[SinkBloomConf.MaxDistinct]] values,
  * strings additionally capped at 8 MB cumulative — overflow drops the
  * filter for that file-column: degraded to a scan, never wrong) and
  * serialize a right-sized filter at task commit (1 % false positives).
  * The commit writes them to one [[SinkBlooms]] blob, named by each
  * file's manifest line; the scan probes them for EqualTo/In skip
  * filters after the min/max pass.
  */
private[graft] object SinkBloomConf {
  final val PropColumns = "graft.bloomColumns"
  /** Distinct values per file-column past which the filter is dropped:
    * a 1 % filter over 131,072 keys is ~160 KB.
    */
  final val MaxDistinct = 131072
  final val Fpp = 0.01
  final val MaxStringBytes = 8L << 20

  def eligible(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** The bloom columns named by the table's properties. */
  def columns(props: Map[String, String]): Seq[String] =
    props.get(PropColumns)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
}

/** Bloom BLOBS: `_blooms/<name>`, one per commit that wrote filters,
  * one line per (file, column): `file \t col \t base64(filter)`. The
  * version manifest line of each file names its blob, so a scan opens
  * exactly the blobs its candidate files name. Blobs are written once
  * and never copied forward (a live file keeps naming the blob of the
  * commit that wrote it); vacuum reclaims blobs no retained manifest
  * names. A file without a filter is scanned, never skipped.
  */
private[graft] object SinkBlooms {
  def dir(root: String): Path = new Path(root, "_blooms")

  /** Write one commit's filters as blob `name`; false = nothing to
    * write (no file carried a filter).
    */
  def write(fs: FileSystem, root: String, name: String,
            entries: Seq[(String, Seq[(String, Array[Byte])])]): Boolean = {
    val lines = entries.flatMap { case (file, blooms) =>
      blooms.map { case (col, bytes) =>
        s"${TsvCodec.escape(file)}\t${TsvCodec.escape(col)}\t" +
          java.util.Base64.getEncoder.encodeToString(bytes)
      }
    }
    if (lines.nonEmpty) {
      val out = fs.create(new Path(dir(root), name), true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    lines.nonEmpty
  }

  /** Blob `name`: file rel path → (column → filter). Unreadable entries
    * are dropped (scanned, never wrong).
    */
  def read(fs: FileSystem, root: String, name: String)
      : Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    val in = fs.open(new Path(dir(root), name))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      line.split("\t", -1) match {
        case Array(f, c, b64) =>
          try Some((TsvCodec.unescape(f), TsvCodec.unescape(c),
            org.apache.spark.util.sketch.BloomFilter
              .readFrom(java.util.Base64.getDecoder.decode(b64))))
          catch { case _: Exception => None }
        case _ => None
      }
    }.groupBy(_._1).map { case (f, es) =>
      f -> es.map { case (_, c, bf) => c -> bf }.toMap
    }
  }
}

/** One live data file as its version manifest records it: relative
  * path, raw partition tuple, size in bytes, exact row count, per-column
  * min/max over non-null values (inner None = the column is entirely
  * NULL in the file; a column without an entry carries no stats) and
  * the bloom blob naming its filters.
  */
private[graft] case class SinkFileEntry(
    rel: String, values: Seq[String], size: Long, rows: Long,
    cols: Map[String, Option[(String, String)]] = Map.empty,
    bloom: Option[String] = None)

/** One parsed version manifest: the live files, the ACTIVE
  * position-delete manifests, the commit's row-grain change dir, the
  * retention flag and the commit wall clock.
  */
private[graft] case class SinkManifest(
    version: Long, entries: Seq[SinkFileEntry],
    dels: Seq[String] = Seq.empty, changesDir: Option[String] = None,
    keepHistory: Boolean = false, ts: Option[Long] = None)

/** Version manifests — `_versions/<v>` at the table root, each an
  * immutable FULL SNAPSHOT of the live data files after publish v. They
  * are the only membership source: every read (latest, `VERSION AS OF`,
  * `TIMESTAMP AS OF`, the stream tail, the change feed, `readBack`,
  * the metadata tables) plans from one manifest and opens nothing per
  * leaf or per file, because each line carries the file's facts:
  *
  *   `relPath \t size \t rows \t bloomBlob \t stats \t v1 [\t v2 ...]`
  *
  * (TsvCodec-escaped fields; `\N` = no bloom blob; `stats` is ONE
  * escaped field holding `col \t min \t max` triples, themselves
  * escaped, `\N` min/max for an all-NULL column; the partition TUPLE
  * trails, one field per partition column). Header lines start with a
  * bare `#` FIELD (a data line's first field is a relative path, which
  * always contains '/'): `#\tlayout\t2` marks this line shape, `#\tts`
  * the commit wall clock, `#\thistory\tall` a table that keeps its
  * history, `#\tdel`/`#\tchanges` the delete and change linkage.
  *
  * Every publish writes a manifest. A table that keeps history (its
  * catalog sets `versioned=true`; sticky through the header flag)
  * retires files LOGICALLY — they drop out of the next manifest, so
  * `VERSION AS OF v` replans exactly manifest v's files, and
  * [[graft.ops.Compaction.vacuumVersions]] reclaims. Any other table
  * retains only the latest version: right after its commit, the
  * publisher deletes the older manifests and every file they name that
  * the new one does not. Tables in the older listing layout (partition
  * dirs without `_versions/`, or manifests without the `layout`
  * header) fail loudly, naming the path.
  */
private[graft] object SinkVersions {
  def dir(root: String): Path = new Path(root, "_versions")

  private final val Layout = "#\tlayout\t2"
  private final val History = "#\thistory\tall"

  /** Retained version numbers, ascending — one listing of `_versions/`.
    * A table dir without `_versions/` that holds partition dirs is the
    * older listing layout: rejected loudly (the check costs a root
    * listing only when `_versions/` is absent).
    */
  def list(fs: FileSystem, root: String): Seq[Long] = {
    val names =
      try fs.listStatus(dir(root)).toSeq.map(_.getPath.getName)
      catch {
        case _: java.io.FileNotFoundException =>
          val leaves =
            try fs.listStatus(new Path(root)).toSeq
              .filter(s => s.isDirectory && s.getPath.getName.contains("="))
            catch { case _: java.io.FileNotFoundException => Seq.empty }
          if (leaves.nonEmpty) throw new IllegalStateException(
            s"$root holds partition directories but no _versions/ manifest " +
              "log: tables in the listing layout are no longer readable " +
              "(every sink table reads through its version manifest) — " +
              "rewrite the table from its source")
          Seq.empty
      }
    names.filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
  }

  def latest(fs: FileSystem, root: String): Option[Long] =
    list(fs, root).lastOption

  /** Manifest v, parsed once; None when it does not exist (never
    * published, or retired). `headersOnly` stops at the first data
    * line — the `TIMESTAMP AS OF` resolution reads nothing else.
    */
  def find(fs: FileSystem, root: String, v: Long,
           headersOnly: Boolean = false): Option[SinkManifest] = {
    val p = new Path(dir(root), v.toString)
    val in = try fs.open(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    try {
      val lines = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).lines().iterator().asScala
        .filter(_.nonEmpty).buffered
      val headers = Iterator.continually(lines)
        .takeWhile(l => l.hasNext && l.head.startsWith("#\t"))
        .map(_.next()).toSeq
      if (!headers.contains(Layout)) legacy(p)
      val fields = headers.map(_.split("\t", -1).map(TsvCodec.unescape))
      def all(key: String) = fields.collect { case Array("#", `key`, x) => x }
      Some(SinkManifest(v,
        if (headersOnly) Seq.empty else lines.map(entry(p, _)).toSeq,
        all("del"), all("changes").headOption, all("history").nonEmpty,
        all("ts").headOption.filter(t => t.nonEmpty && t.forall(_.isDigit))
          .map(_.toLong)))
    } finally in.close()
  }

  private def legacy(p: Path): Nothing = throw new IllegalStateException(
    s"$p is a version manifest without per-file sizes, row counts and " +
      "stats (the older table layout): the table is no longer readable " +
      "— rewrite it from its source")

  private def entry(p: Path, line: String): SinkFileEntry = {
    val f = line.split("\t", -1)
    if (f.length < 6) throw new IllegalStateException(
      s"malformed version manifest line in $p: $line")
    val triples = TsvCodec.unescape(f(4))
    val cols =
      if (triples.isEmpty) Map.empty[String, Option[(String, String)]]
      else triples.split("\t", -1).grouped(3).map {
        case Array(c, mn, mx) => TsvCodec.unescape(c) ->
          (if (mn == PartitionedSink.NullToken) None
           else Some((TsvCodec.unescape(mn), TsvCodec.unescape(mx))))
        case other => throw new IllegalStateException(
          s"malformed stats field in $p: ${other.mkString("\t")}")
      }.toMap
    SinkFileEntry(TsvCodec.unescape(f(0)), f.drop(5).toSeq.map(TsvCodec.unescape),
      f(1).toLong, f(2).toLong, cols,
      if (f(3) == PartitionedSink.NullToken) None
      else Some(TsvCodec.unescape(f(3))))
  }

  private def render(e: SinkFileEntry): String = {
    val triples = e.cols.toSeq.sortBy(_._1).map { case (c, mm) =>
      // bounds are ESCAPED; the all-NULL marker stays the raw token — a
      // real bound "\N" escapes to "\\N", never colliding
      val (mn, mx) = mm.map { case (a, b) =>
        (TsvCodec.escape(a), TsvCodec.escape(b))
      }.getOrElse((PartitionedSink.NullToken, PartitionedSink.NullToken))
      s"${TsvCodec.escape(c)}\t$mn\t$mx"
    }.mkString("\t")
    (Seq(TsvCodec.escape(e.rel), e.size.toString, e.rows.toString,
      e.bloom.map(TsvCodec.escape).getOrElse(PartitionedSink.NullToken),
      TsvCodec.escape(triples)) ++ e.values.map(TsvCodec.escape))
      .mkString("\t")
  }

  /** Manifest v, which must exist. */
  def read(fs: FileSystem, root: String, v: Long): SinkManifest =
    find(fs, root, v).getOrElse(throw new IllegalArgumentException(
      s"version $v of $root does not exist (expired by vacuum, or never " +
        "published)"))

  /** The newest manifest: one `_versions/` listing and one manifest
    * open. A manifest retired between the listing and the open (a
    * latest-only table's next commit) re-lists and reads the newer one.
    */
  @annotation.tailrec
  def readLatest(fs: FileSystem, root: String,
                 attempt: Int = 1): Option[SinkManifest] =
    latest(fs, root) match {
      case None => None
      case Some(v) => find(fs, root, v) match {
        case found @ Some(_) => found
        case None if attempt < 100 => readLatest(fs, root, attempt + 1)
        case None => throw new java.io.IOException(
          s"latest manifest of $root retired under 100 reads in a row")
      }
    }

  /** The snapshot a read plans from: manifest `asOf` when pinned (it
    * must exist), else the newest (None before the first commit).
    */
  def snapshot(fs: FileSystem, root: String,
               asOf: Option[Long]): Option[SinkManifest] =
    asOf match {
      case Some(v) => Some(read(fs, root, v))
      case None => readLatest(fs, root)
    }

  /** Newest version whose commit timestamp is ≤ `tsMillis` — the
    * `TIMESTAMP AS OF` resolution (Delta's contract), reading only
    * manifest header lines. Fails loudly when the table has no commit
    * at or before the asked instant (travel before the first commit).
    */
  def resolveTimestamp(fs: FileSystem, root: String, tsMillis: Long): Long = {
    val stamped = list(fs, root).flatMap(v =>
      find(fs, root, v, headersOnly = true).flatMap(_.ts).map(v -> _))
    stamped.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse {
      throw new IllegalArgumentException(
        s"no version of $root committed at or before epoch-millis " +
          s"$tsMillis (earliest timestamped commit: " +
          s"${stamped.headOption.map(_._2).getOrElse("none")})")
    }
  }

  /** Attempt to commit `m` as manifest `m.version`. Returns false when
    * that version was taken by a concurrent publisher — the CAS signal
    * for the retry loop in [[SinkCommit]]. The commit is a no-overwrite
    * rename through [[org.apache.hadoop.fs.FileContext]] (whose
    * Rename.NONE contract REJECTS an existing destination — plain
    * `FileSystem.rename` on a local FS silently replaces it, which
    * would lose the racing publisher's snapshot).
    */
  def tryWrite(fs: FileSystem, root: String, m: SinkManifest): Boolean = {
    // `_versions/` exists: the catalog's CREATE or the first commit's
    // base made it
    val d = dir(root)
    val tmp = new Path(d, s".tmp-${m.version}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    // commit wall clock + retention + delete/changes linkage ride the
    // SAME CAS-renamed file as the entries (a sibling written after the
    // rename could be torn off by a crash)
    val header = Seq(Layout, s"#\tts\t${System.currentTimeMillis()}") ++
      (if (m.keepHistory) Seq(History) else Nil) ++
      m.dels.map(n => s"#\tdel\t${TsvCodec.escape(n)}") ++
      m.changesDir.map(n => s"#\tchanges\t${TsvCodec.escape(n)}")
    try out.write((header ++ m.entries.map(render))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      d.toUri, fs.getConf)
    try { fc.rename(tmp, new Path(d, m.version.toString)); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.ParentNotDirectoryException =>
        fs.delete(tmp, false); false
    }
  }
}

/** POSITION-DELETE manifests (Iceberg v2's merge-on-read shape): one
  * file per MOR commit under `_deletes/`, one line per deleted row —
  * `escaped(relPath) \t pos` (pos = the `_pos` row identity, the
  * row's index within its parquet file). A snapshot's
  * ACTIVE manifests are the `#\tdel` headers of its version manifest;
  * scans anti-filter through them, `compact` folds them into
  * rewritten files, vacuum reclaims manifests no retained snapshot
  * references. The 100 TB posture: a 1-row GDPR delete writes O(1)
  * bytes instead of rewriting its file; readers pay one small
  * manifest read per split (manifests are per-commit, bounded by the
  * compaction cadence).
  */
private[graft] object SinkDeletes {
  def dir(root: String): Path = new Path(root, "_deletes")

  def write(fs: FileSystem, root: String, name: String,
            entries: Seq[(String, Long)]): Unit = {
    // `create` makes a missing `_deletes/`
    val d = dir(root)
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(entries.sortBy(e => (e._1, e._2)).map { case (rel, pos) =>
      s"${TsvCodec.escape(rel)}\t$pos"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(s"delete-manifest commit failed: $name")
  }

  /** Process-level cache of parsed manifests: they are IMMUTABLE
    * (uuid-named, written once, only ever deleted by vacuum), so on an
    * executor running many splits of one table the manifest is read
    * once, not once per split. Bounded LRU-ish (insertion-ordered,
    * oldest evicted) — delete manifests are per-commit and small, but
    * a long-lived executor must not accumulate every table's history.
    */
  private val cache =
    new java.util.LinkedHashMap[String, Seq[(String, Long)]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[(String, Long)]]): Boolean =
        size() > 64
    }

  def read(fs: FileSystem, p: Path): Seq[(String, Long)] = {
    val key = p.toString
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    if (!fs.exists(p)) throw new IllegalStateException(
      s"position-delete manifest $p no longer exists — vacuumed beyond " +
        "retention?")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed = text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      line.split("\t", -1) match {
        case Array(rel, pos) if pos.nonEmpty && pos.forall(_.isDigit) =>
          Some((TsvCodec.unescape(org.apache.spark.unsafe.types.UTF8String
            .fromString(rel)).toString, pos.toLong))
        case _ => None
      }
    }
    cache.synchronized { cache.put(key, parsed) }
    parsed
  }

  /** The positions deleted from ONE file, across the given manifests
    * (absolute paths) — the executor-side load behind a split's
    * anti-filter.
    */
  def positionsFor(fs: FileSystem, manifests: Seq[String],
                   rel: String): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    manifests.foreach { m =>
      read(fs, new Path(m)).foreach { case (r, pos) =>
        if (r == rel) set.add(pos)
      }
    }
    set
  }
}

/** Read-snapshot guard for commits whose CONTENT was derived from
  * reading the table (row-level rewrites, compaction): `scanDels` =
  * the position-delete manifest names active when the operation READ,
  * `readRels` = the rel paths it read. A commit must abort when the
  * base snapshot has since gained a delete manifest touching any file
  * the operation read — MOR commits never retire files, so the
  * retired-files-live check cannot see them, and committing anyway
  * would resurrect the newly-deleted rows in the rewritten files (or
  * duplicate a concurrently-updated row's post-image). It must also
  * abort when it would clear a live file outside `readRels` (one
  * committed after the read): that file's rows are not in its output.
  */
private[graft] case class SinkReadSnapshot(scanDels: Set[String],
                                           readRels: Set[String])

/** Thread-local carrier for derived commits that flow through the
  * PUBLIC write API (compaction = a dynamic partition overwrite driven
  * by a read of the same table): the V2 write exec commits driver-side
  * on the calling thread, so the maintenance op arms the guard around
  * its action. Row-level commits pass their snapshot explicitly.
  */
private[graft] object SinkGuard {
  private[sources] val current = new ThreadLocal[Option[SinkReadSnapshot]] {
    override def initialValue(): Option[SinkReadSnapshot] = None
  }

  def snapshot(scanDels: Set[String], readRels: Set[String]): SinkReadSnapshot =
    SinkReadSnapshot(scanDels, readRels)

  def armed[A](snap: Option[SinkReadSnapshot])(f: => A): A = {
    current.set(snap)
    try f finally current.set(None)
  }
}

private object SinkCommit {
  def fsFor(path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration)

  /** Throw when `baseDels` gained a manifest (vs the operation's scan
    * snapshot) that deletes positions in any file the operation read.
    */
  private def checkDeleteConflicts(fs: FileSystem, path: String,
                                   baseDels: Seq[String],
                                   snap: SinkReadSnapshot): Unit = {
    if (snap.readRels.isEmpty) return
    val conflicting = baseDels.filterNot(snap.scanDels).filter { m =>
      SinkDeletes.read(fs, new Path(path, s"_deletes/$m"))
        .exists { case (rel, _) => snap.readRels(rel) }
    }
    if (conflicting.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"rewrite of $path conflicts with a concurrent merge-on-read " +
          s"commit: position-delete manifest(s) " +
          s"${conflicting.take(3).mkString(", ")} landed after this " +
          "operation read — its output was computed without those " +
          "deletes; retry against current data")
  }

  /** Position-delete manifest GC at commit time: a carried-forward
    * manifest none of whose rel paths survive in the NEXT snapshot's
    * file set can no longer affect any scan of that snapshot — drop it
    * from the headers so per-split manifest lists stay bounded and
    * vacuum can reclaim the file once older snapshots expire.
    */
  private def liveDeleteManifests(fs: FileSystem, path: String,
                                  dels: Seq[String],
                                  nextRels: Set[String]): Seq[String] =
    dels.filter { m =>
      SinkDeletes.read(fs, new Path(path, s"_deletes/$m"))
        .exists { case (rel, _) => nextRels(rel) }
    }

  /** The commit base: the latest manifest, read BEFORE anything is
    * renamed into the layout (so the older-layout check never sees this
    * commit's own leaves). A table's first commit creates `_versions/`
    * first, for the same reason, unless the catalog's CREATE already did.
    */
  private def base(fs: FileSystem, path: String): Option[SinkManifest] = {
    val b = SinkVersions.readLatest(fs, path)
    val d = SinkVersions.dir(path)
    if (b.isEmpty && !fs.exists(d)) fs.mkdirs(d)
    b
  }

  /** A query's short token: it prefixes the query's published file
    * names and names its delete manifest and change dir.
    */
  def queryToken(queryId: String): String =
    queryId.replaceAll("[^0-9a-zA-Z]", "").take(8)

  /** The one published-name rule. A batch or row-level commit prefixes
    * the staged name (`part-<partitionId>-<taskId>-<tuple>.parquet`,
    * unique within its query) with the query token: Spark's task ids
    * restart at 0 per APPLICATION, so two appends from different driver
    * JVMs could otherwise mint one name. Such a name never exists yet.
    * A streaming epoch's names are (epoch, partition, tuple)-
    * deterministic instead, so a REPLAYED epoch (the checkpoint
    * committed the sink write but crashed before the offset commit)
    * publishes onto its own earlier files rather than duplicating
    * them — a replay recomputes the same rows into the same partition
    * layout from the same checkpointed offsets.
    */
  def publishedName(queryId: String, epoch: Option[Long])(f: StagedFile): String =
    epoch match {
      case None => s"part-${queryToken(queryId)}-" +
        new Path(f.stagedPath).getName.stripPrefix("part-")
      case Some(e) =>
        s"part-e$e-p${f.partitionId}-${SinkLayout.valueTag(f.partValues)}.parquet"
    }

  /** Where a query's tasks (or one streaming epoch's) stage files. */
  def stagingDir(path: String, queryId: String, epoch: Option[Long]): Path =
    new Path(path, s"_staging/$queryId" + epoch.map(e => s"/epoch-$e").getOrElse(""))

  /** Rename the staged files to their published names (one `mkdirs` per
    * leaf) and write this commit's bloom blob; returns the files'
    * manifest entries. Only a streaming epoch (`replay`) can find its
    * target already there, so only it deletes before renaming. A crash
    * after this leaves renamed-but-unreferenced files — invisible to
    * every reader, reclaimed by vacuum.
    */
  private def stage(fs: FileSystem, path: String, partCols: Seq[String],
                    files: Seq[StagedFile], name: StagedFile => String,
                    replay: Boolean): Seq[SinkFileEntry] = {
    val leaves = files.map(f => f -> SinkLayout.leafRel(partCols, f.partValues))
    leaves.map(_._2).distinct.foreach(leaf => fs.mkdirs(new Path(path, leaf)))
    val rels = leaves.map { case (f, leaf) => f -> s"$leaf/${name(f)}" }
    rels.foreach { case (f, rel) =>
      val src = new Path(f.stagedPath)
      val target = new Path(path, rel)
      if (replay) fs.delete(target, false)
      if (!fs.rename(src, target))
        throw new java.io.IOException(s"publish rename failed for $src")
    }
    val blob = s"bloom-${java.util.UUID.randomUUID()}.tsv"
    val wrote = SinkBlooms.write(fs, path, blob,
      rels.map { case (f, rel) => rel -> f.blooms })
    rels.map { case (f, rel) =>
      SinkFileEntry(rel, f.partValues, f.size, f.rows, f.cols,
        if (wrote && f.blooms.nonEmpty) Some(blob) else None)
    }
  }

  /** The CAS loop: compute the next snapshot from the base, try to
    * claim the next version number, and on a lost race recompute from
    * the winner's snapshot (so neither committer's files are lost). A
    * table that does not keep history then retires what the committed
    * snapshot no longer references.
    */
  @annotation.tailrec
  private def cas(fs: FileSystem, path: String, versioned: Boolean,
                  b: Option[SinkManifest], attempt: Int = 1)
                 (next: Option[SinkManifest] => SinkManifest): Unit = {
    val keep = versioned || b.exists(_.keepHistory)
    val m = next(b).copy(version = b.map(_.version).getOrElse(0L) + 1,
      keepHistory = keep)
    if (SinkVersions.tryWrite(fs, path, m)) {
      if (!keep) retire(fs, path, m, b)
    } else if (attempt >= 100) throw new java.io.IOException(
      s"version manifest commit lost the CAS race 100 times: $path")
    else cas(fs, path, versioned, SinkVersions.readLatest(fs, path),
      attempt + 1)(next)
  }

  /** Latest-only retention: after committing `m`, delete every older
    * manifest, then the data files, delete manifests, change dirs and
    * bloom blobs they name that `m` does not (manifest first — a crash
    * part-way leaves only unreferenced files, which vacuum reclaims),
    * and the leaf dirs that empties. A manifest another committer
    * already retired is skipped.
    */
  private def retire(fs: FileSystem, path: String, m: SinkManifest,
                     base: Option[SinkManifest]): Unit = {
    val root = new Path(path)
    val live = m.entries.map(_.rel).toSet
    val liveBlooms = m.entries.flatMap(_.bloom).toSet
    SinkVersions.list(fs, path).filter(_ < m.version).foreach { u =>
      base.filter(_.version == u).orElse(SinkVersions.find(fs, path, u))
        .foreach { old =>
          fs.delete(new Path(SinkVersions.dir(path), u.toString), false)
          val gone = old.entries.filterNot(e => live(e.rel))
          gone.foreach(e => fs.delete(new Path(root, e.rel), false))
          gone.map(e => new Path(root, e.rel).getParent).distinct
            .foreach(SinkLayout.pruneEmpty(fs, root, _))
          old.dels.filterNot(m.dels.contains).foreach(n =>
            fs.delete(new Path(SinkDeletes.dir(path), n), false))
          old.changesDir.filterNot(m.changesDir.contains).foreach(n =>
            fs.delete(new Path(root, s"_changes/$n"), true))
          old.entries.flatMap(_.bloom).distinct.filterNot(liveBlooms)
            .foreach(n => fs.delete(new Path(SinkBlooms.dir(path), n), false))
        }
    }
  }

  /** The one driver-side commit of every sink write:
    *
    *   1. read the base snapshot;
    *   2. rename exactly the staged `files` to their published names;
    *   3. write the merge-on-read `deletes` (relative path, position) as
    *      a position-delete manifest, and `changes` — a row-grain
    *      change dir computed from the published files; both stay
    *      unreferenced until the CAS;
    *   4. CAS the next snapshot = base − what `clear` clears + the
    *      published files, after the conflict checks, recomputing from
    *      the winner's snapshot on a lost race;
    *   5. on a table that keeps no history, retire what that snapshot
    *      no longer references;
    *   6. sweep the query's (or the streaming `epoch`'s) staging dir.
    *
    * Manifest LAST: a crash before the CAS leaves the data renamed but
    * unreferenced — the table still reads its previous version. A
    * row-level commit that changes nothing commits nothing.
    * `readSnapshot` is what a derived commit's content was computed
    * from (a row-level op's scan, compaction's read): the commit
    * aborts when it would clear a live file outside that read, or when
    * a position-delete manifest landed since on a file it read.
    */
  def commit(fs: FileSystem, path: String, partCols: Seq[String],
             versioned: Boolean, queryId: String, clear: SinkMode,
             files: Seq[StagedFile],
             deletes: Seq[(String, Long)] = Seq.empty,
             readSnapshot: Option[SinkReadSnapshot] = None,
             changes: Seq[SinkFileEntry] => Option[String] = _ => None,
             epoch: Option[Long] = None): Unit = {
    val noop = clear == Replace(Set.empty) && files.isEmpty && deletes.isEmpty
    if (!noop) {
      val b0 = base(fs, path)
      val fresh = stage(fs, path, partCols, files,
        publishedName(queryId, epoch), replay = epoch.nonEmpty)
      val freshRels = fresh.map(_.rel).toSet
      val delManifest = Option.when(deletes.nonEmpty) {
        val name = s"del-${queryToken(queryId)}-${java.util.UUID.randomUUID()}.tsv"
        SinkDeletes.write(fs, path, name, deletes)
        name
      }
      val changesDir = changes(fresh)
      val clears: SinkFileEntry => Boolean = clear match {
        case Append => _ => false
        case Truncate => _ => true
        case OverwriteEq(eqs) => e =>
          eqs.forall { case (c, want) => e.values(partCols.indexOf(c)) == want }
        case Dynamic =>
          val tuples = files.map(_.partValues).toSet
          e => tuples(e.values)
        case Replace(rels) => e => rels(e.rel)
      }
      val mustBeLive = (clear match {
        case Replace(rels) => rels
        case _ => Set.empty[String]
      }) ++ deletes.map(_._1)
      cas(fs, path, versioned, b0) { b =>
        val prev = b.toSeq.flatMap(_.entries)
        // WRITE-WRITE CONFLICT CHECK (the serializable guard Delta and
        // Iceberg apply): every file a rewrite replaces, and every file
        // a delete manifest positions into, must still be live — a
        // concurrent commit that already replaced one means the kept
        // rows (or the positions) were computed from stale data;
        // committing anyway would duplicate the rows both rewrites
        // carried forward and drop the winner's edits.
        val live = prev.map(_.rel).toSet
        val gone = mustBeLive.filterNot(live)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"row-level rewrite of $path conflicts with a concurrent commit: " +
            s"${gone.take(3).mkString(", ")} no longer in the latest snapshot" +
            " — retry the operation against current data")
        // position-delete manifests CARRY FORWARD (their rows stay
        // deleted); a truncate clears them with everything else
        val carried = if (clear == Truncate) Seq.empty else b.toSeq.flatMap(_.dels)
        readSnapshot.foreach { snap =>
          // a derived commit must not clear a file it never read (one
          // appended after its read): that file's rows are not in its
          // output, and clearing it would drop them
          val unread = prev.filter(clears).map(_.rel).filterNot(snap.readRels)
          if (unread.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"commit to $path would clear ${unread.take(3).mkString(", ")}, " +
              "committed after this operation read the table — its output " +
              "lacks those rows; retry against current data")
          // the merge-on-read half: a concurrent MOR commit retires no
          // files, so `gone` cannot see it
          checkDeleteConflicts(fs, path, carried, snap)
        }
        val next = (prev.filterNot(e => clears(e) || freshRels(e.rel)) ++ fresh)
          .sortBy(_.rel)
        // manifests whose every target file left with this commit (a
        // COW rewrite FOLDS their deletes into the fresh files) GC out
        SinkManifest(0L, next,
          liveDeleteManifests(fs, path, carried, next.map(_.rel).toSet) ++
            delManifest, changesDir)
      }
    }
    sweep(fs, path, stagingDir(path, queryId, epoch))
  }

  /** The one staging cleanup, for commit and abort alike: delete `dir`,
    * then each ancestor up to `_staging` while empty — keeps `_staging`
    * from accumulating empty query/epoch skeletons.
    */
  def sweep(fs: FileSystem, path: String, dir: Path): Unit = {
    fs.delete(dir, true)
    SinkLayout.pruneEmpty(fs, new Path(path), dir.getParent)
  }
}

/** The one Write of every sink write — append, overwrite, streaming,
  * copy-on-write and merge-on-read alike — and its own batch and
  * streaming write. The distribution it requires follows from what it
  * can observe: ORDERED on (partition tuple, sort columns) when the
  * table has a `graft.sortOrder` (files in a partition then carve the
  * sort domain into DISJOINT ranges, so min/max skips files on a
  * non-partition column and parquet row groups carry tight bounds);
  * CLUSTERED on the partition tuple for a row-level write (a rewrite
  * then leaves the layout no more fragmented than it found it, instead
  * of one file per (task, tuple)); otherwise — and for a delete-only
  * merge-on-read write, which projects no row columns — UNSPECIFIED:
  * appends take no extra shuffle, and `CALL compact` repairs the
  * fragmentation. Never strictly required: on a single-partition input
  * Spark may skip the exchange.
  *
  * Streaming is per-epoch exactly-once on top of the same commit. Two
  * mechanisms compose: deterministic published names (see
  * [[SinkCommit.publishedName]]) make a replayed epoch re-publish onto
  * its own files, and a COMMIT MARKER `_commits/epoch-<e>`, written
  * after the commit, makes a replay that finds it skip the commit
  * entirely (cheap, and it keeps a complete-mode replay from
  * re-clearing newer data). Modes map to output modes: Append =
  * append, Truncate = complete (each epoch replaces the whole layout),
  * Dynamic = per-partition replace (the update-mode rendition for a
  * partition-grained sink).
  */
private class SinkWrite(path: String, partCols: Seq[String],
                        info: LogicalWriteInfo, mode: SinkMode,
                        versioned: Boolean, props: Map[String, String],
                        op: Option[SinkRowLevelOperation])
    extends DeltaWrite with RequiresDistributionAndOrdering
    with DeltaBatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.{expressions => x}
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val schema = info.schema()
  private val queryId = info.queryId()
  private val sortCols =
    if (schema.isEmpty) Seq.empty else SinkFormat.sortOrder(props, partCols, schema)

  override def requiredDistribution(): Distribution =
    if (sortCols.nonEmpty) Distributions.ordered(requiredOrdering())
    else if (op.nonEmpty && schema.nonEmpty) Distributions.clustered(
      partCols.map(c => GraftColumnShim.identity(c): x.Expression).toArray)
    else Distributions.unspecified()
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[x.SortOrder] =
    if (sortCols.isEmpty) Array.empty
    else (partCols ++ sortCols).map(c => x.Expressions.sort(
      GraftColumnShim.fieldRef(c), x.SortDirection.ASCENDING): x.SortOrder).toArray

  override def toBatch: DeltaBatchWrite = this
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = this

  // a merge-on-read write's row identity: the (`_file`, `_pos`) ordinals
  // (only a row-level write has a row-id schema to ask for)
  private val rowId = op.flatMap { _ =>
    import scala.jdk.OptionConverters._
    info.rowIdSchema().toScala.map(_.fieldNames)
      .filter(n => n.contains(SinkMeta.FileCol) && n.contains(SinkMeta.PosCol))
      .map(n => (n.indexOf(SinkMeta.FileCol), n.indexOf(SinkMeta.PosCol)))
  }

  private def factory() = new PartitionedSinkWriterFactory(path, partCols,
    schema, queryId, props, rowId)
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = factory()
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory()

  // at most one committed attempt per task partition — the scheduler
  // half of exactly-once; the commit's manifest is the other half
  override def useCommitCoordinator(): Boolean = true

  private def staged(messages: Array[WriterCommitMessage]) = {
    val ms = messages.toSeq.collect { case m: SinkCommitMessage => m }
    (ms.flatMap(_.files), ms.flatMap(_.deletes))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (files, deletes) = staged(messages)
    op match {
      case Some(o) => o.commit(queryId, schema, files, deletes)
      // a derived commit (compaction) arms the thread-local guard: the
      // V2 write exec commits driver-side on the calling thread
      case None => SinkCommit.commit(SinkCommit.fsFor(path), path, partCols,
        versioned, queryId, mode, files, readSnapshot = SinkGuard.current.get())
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SinkCommit.sweep(SinkCommit.fsFor(path), path,
      SinkCommit.stagingDir(path, queryId, None))

  private def marker(epochId: Long) = new Path(path, s"_commits/epoch-$epochId")

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val fs = SinkCommit.fsFor(path)
    // a replay of an epoch whose commit landed only sweeps its staging
    if (fs.exists(marker(epochId))) abort(epochId, messages)
    else {
      SinkCommit.commit(fs, path, partCols, versioned, queryId, mode,
        staged(messages)._1, epoch = Some(epochId))
      fs.create(marker(epochId), true).close()
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    SinkCommit.sweep(SinkCommit.fsFor(path), path,
      SinkCommit.stagingDir(path, queryId, Some(epochId)))
}

private object PartitionedSinkWriterFactory {
  /** The SESSION's Hadoop configuration, serialized for the executors:
    * a task-side `new Configuration()` would drop per-session FS
    * settings (s3a credentials, defaultFS overrides) that the
    * driver-side commit sees. Called on the driver.
    */
  def sessionConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())

  /** The data columns as Spark's parquet writer sees them: every level
    * nullable (optional fields, as every sink file has always had) and
    * the table's field id as `parquet.field.id` metadata on top-level
    * columns only (nested fields are not independently renameable).
    */
  def dataSchema(fields: Seq[StructField],
                 fieldIds: Map[String, Int]): StructType = {
    def optional(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, optional(f.dataType))))
      case a: ArrayType => ArrayType(optional(a.elementType))
      case other => other
    }
    StructType(fields.map { f =>
      StructField(f.name, optional(f.dataType), nullable = true,
        fieldIds.get(f.name).fold(Metadata.empty)(id =>
          new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()))
    })
  }

  /** Spark's own parquet output path for `dataSchema`, prepared on the
    * driver: the writer factory plus the session's Hadoop configuration
    * with the writer's settings (codec, schema, field-id writing) set.
    * The row-group size is parquet's `parquet.block.size`.
    */
  def prepareParquet(dataSchema: StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
    val spark = SparkSession.active
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val rowGroupBytes = job.getConfiguration.getLong(
      ParquetOutputFormat.BLOCK_SIZE, ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
    require(rowGroupBytes > 0,
      s"${ParquetOutputFormat.BLOCK_SIZE} must be positive, got $rowGroupBytes")
    val out = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    (out, new org.apache.spark.util.SerializableConfiguration(
      job.getConfiguration))
  }
}

/** The one writer factory, for batch and streaming tasks alike: they
  * differ only in their staging sub-directory. Spark's parquet writer
  * (with the session's Hadoop configuration, see
  * [[PartitionedSinkWriterFactory.prepareParquet]]) and the table's
  * bloom columns resolve once, on the driver, and ship with it.
  * `rowId` = the (`_file`, `_pos`) ordinals of a merge-on-read write's
  * row identity.
  */
private class PartitionedSinkWriterFactory(
    path: String, partCols: Seq[String], schema: StructType, queryId: String,
    props: Map[String, String], rowId: Option[(Int, Int)])
    extends DeltaWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private val dataSchema = PartitionedSinkWriterFactory.dataSchema(
    schema.fields.filterNot(f => partCols.contains(f.name)).toSeq,
    SinkFormat.fieldIds(props))
  private val (parquetOut, conf) =
    PartitionedSinkWriterFactory.prepareParquet(dataSchema)
  private val bloomCols = SinkBloomConf.columns(props)

  private def writer(partitionId: Int, taskId: Long, epoch: Option[Long]) =
    new PartitionedSinkWriter(path, partCols, schema, dataSchema,
      SinkCommit.stagingDir(path, queryId, epoch), partitionId, taskId,
      parquetOut, conf, bloomCols, rowId)

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = writer(partitionId, taskId, None)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, Some(epochId))
}

/** Task-side writer: buffers one open staged file per partition TUPLE
  * seen (the incoming rows need not be clustered by the partition
  * columns), stages under `staging` (the query's dir for batch, its
  * epoch's for streaming), and reports its files — and a merge-on-read
  * write's deleted positions — in the commit message. abort() deletes
  * everything it staged.
  */
private class PartitionedSinkWriter(path: String, partCols: Seq[String],
                                    schema: StructType, dataSchema: StructType,
                                    staging: Path,
                                    partitionId: Int, taskId: Long,
                                    parquetOut: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                                    conf: org.apache.spark.util.SerializableConfiguration,
                                    bloomCols: Seq[String],
                                    rowId: Option[(Int, Int)])
    extends DeltaWriter[InternalRow] {

  private val fs = FileSystem.get(new java.net.URI(path), conf.value)
  // lazy: a delete-only merge-on-read write has no row columns
  private lazy val partIdxs: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val dataFields = schema.fields.zipWithIndex
    .filterNot { case (f, _) => partCols.contains(f.name) }
  /** The data columns of the incoming row, as the parquet writer's row. */
  private val dataRow = org.apache.spark.sql.catalyst.ProjectingInternalRow(
    dataSchema, dataFields.map(_._2).toIndexedSeq)
  private lazy val taskContext =
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf.value,
      new org.apache.hadoop.mapreduce.TaskAttemptID())
  /** (column name, schema ordinal, string?) per bloom-enabled column
    * present in the data fields with an eligible type.
    */
  private val bloomPlan: Array[(String, Int, Boolean)] =
    dataFields.collect {
      case (fld, i) if bloomCols.contains(fld.name) &&
        SinkBloomConf.eligible(fld.dataType) =>
        (fld.name, i, fld.dataType == StringType)
    }

  /** Distinct values of one bloom column within one file, bounded by
    * count (and cumulative bytes for strings). Overflow drops the
    * filter — a file-column without a bloom is scanned, never wrong.
    */
  private final class BloomAcc(isString: Boolean) {
    private val seen = new java.util.HashSet[Any]()
    private var strBytes = 0L
    var over = false
    def add(row: InternalRow, i: Int): Unit = if (!over) {
      val v: Any =
        if (isString) row.getUTF8String(i).toString
        else schema.fields(i).dataType match {
          case LongType    => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case ShortType   => row.getShort(i).toLong
          case ByteType    => row.getByte(i).toLong
          case _           => return
        }
      if (seen.add(v)) {
        if (isString) strBytes += v.asInstanceOf[String].length
        if (seen.size > SinkBloomConf.MaxDistinct ||
          strBytes > SinkBloomConf.MaxStringBytes) { over = true; seen.clear() }
      }
    }
    def render: Option[Array[Byte]] =
      if (over || seen.isEmpty) None
      else {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(seen.size.toLong, SinkBloomConf.Fpp)
        seen.forEach {
          case l: java.lang.Long => bf.putLong(l)
          case s: String => bf.putString(s)
          case _ => ()
        }
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        Some(out.toByteArray)
      }
  }

  /** Running min/max over one file's non-null values of one column.
    * `addFrom` pulls the typed value straight off the row; `render`
    * answers None = no stats (poisoned), Some(None) = all values NULL,
    * Some(Some(bounds)) = a usable range.
    */
  private sealed abstract class ColAcc {
    def addFrom(row: InternalRow, i: Int): Unit
    def render: Option[Option[(String, String)]]
  }

  /** NUMERIC accumulator. Integrals accumulate as Long (exact),
    * floatings as Double; a NaN/±Inf poisons the column for the file
    * (no stats emitted — non-finite values have no usable ordering for
    * range skipping).
    *
    * Rendering precision matters for CORRECTNESS, not cosmetics: the
    * skip side compares these strings as BigDecimals against the
    * pushed filter literal's toString, which for a Float renders at
    * FLOAT precision ("0.1"), while the same value widened to Double
    * renders at double precision ("0.10000000149011612"). Mixing the
    * two reprs of one float makes `0.1 < 0.100000001…` "provable" and
    * wrongly skips a file whose every row EQUALS the literal — so a
    * float column's bounds are rendered back at float precision
    * (widening is exact; `.toFloat` restores the original bits).
    */
  private final class NumStat(dt: DataType) extends ColAcc {
    private val floating = dt == DoubleType || dt == FloatType
    private val isFloat = dt == FloatType
    var any = false; var poisoned = false
    var minL = Long.MaxValue; var maxL = Long.MinValue
    var minD = Double.PositiveInfinity; var maxD = Double.NegativeInfinity
    def addL(v: Long): Unit = {
      any = true; if (v < minL) minL = v; if (v > maxL) maxL = v }
    def addD(v: Double): Unit =
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
        poisoned = true
      else { any = true; if (v < minD) minD = v; if (v > maxD) maxD = v }
    override def addFrom(row: InternalRow, i: Int): Unit = dt match {
      case LongType    => addL(row.getLong(i))
      case IntegerType => addL(row.getInt(i).toLong)
      case ShortType   => addL(row.getShort(i).toLong)
      case ByteType    => addL(row.getByte(i).toLong)
      case DoubleType  => addD(row.getDouble(i))
      case FloatType   => addD(row.getFloat(i).toDouble)
      case _           => ()
    }
    override def render: Option[Option[(String, String)]] =
      if (poisoned) None
      else if (!any) Some(None)
      else Some(Some(
        if (isFloat) (minD.toFloat.toString, maxD.toFloat.toString)
        else if (floating) (minD.toString, maxD.toString)
        else (minL.toString, maxL.toString)))
  }

  /** STRING accumulator: truncated prefix bounds ([[SinkStrBounds]]).
    * Tracks ONLY the 16-code-point prefixes (a document-sized value
    * never parks megabytes in writer state — prefix truncation is
    * monotone under binary order, so min/max of prefixes ARE the
    * prefixes of min/max), plus whether the current max holder was
    * cut (the increment decision). A prefix containing a lone
    * surrogate poisons the column for the file.
    */
  private final class StrStat extends ColAcc {
    var any = false; var poisoned = false
    private var minT: String = _
    private var maxT: String = _
    private var maxCut = false
    override def addFrom(row: InternalRow, i: Int): Unit =
      if (!poisoned) SinkStrBounds.truncate(row.getUTF8String(i).toString) match {
        case None => poisoned = true
        case Some((t, cut)) =>
          if (!any) { any = true; minT = t; maxT = t; maxCut = cut }
          else {
            if (SinkStrBounds.cmp(t, minT) < 0) minT = t
            val c = SinkStrBounds.cmp(t, maxT)
            if (c > 0) { maxT = t; maxCut = cut }
            // a prefix TIE with a cut value: the longer value is the
            // real max — the bound must increment
            else if (c == 0 && cut) maxCut = true
          }
      }
    override def render: Option[Option[(String, String)]] =
      if (poisoned) None
      else if (!any) Some(None)
      else SinkStrBounds.upperBound(maxT, maxCut).map(up => Some((minT, up)))
  }

  /** Aligned with dataFields; null for unsupported types (no stats). */
  private def newStats(): Array[ColAcc] = dataFields.map { case (fld, _) =>
    fld.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType => new NumStat(fld.dataType)
      case StringType => new StrStat
      case _ => null
    }
  }

  private final class OpenOut(
      val w: org.apache.spark.sql.execution.datasources.OutputWriter,
      val p: Path, var rows: Long, val stats: Array[ColAcc],
      val blooms: Array[BloomAcc])

  private val open = scala.collection.mutable.Map[Seq[String], OpenOut]()
  private val deletes = scala.collection.mutable.ArrayBuffer[(String, Long)]()

  /** Partition-value rendering: the raw string the manifest carries
    * and the directory name escapes (partition columns are non-null
    * atomics).
    */
  private def rawStr(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case StringType  => row.getUTF8String(i).toString
    case LongType    => row.getLong(i).toString
    case IntegerType => row.getInt(i).toString
    case DoubleType  => row.getDouble(i).toString
    case FloatType   => row.getFloat(i).toString
    case BooleanType => row.getBoolean(i).toString
    case ShortType   => row.getShort(i).toString
    case ByteType    => row.getByte(i).toString
    case other => throw new UnsupportedOperationException(
      s"PartitionedSink partition columns must be atomic, got $other")
  }

  override def insert(row: InternalRow): Unit = {
    val pvs: Seq[String] = partIdxs.toSeq.map { i =>
      require(!row.isNullAt(i),
        s"NULL partition value in ${schema.fields(i).name}")
      rawStr(row, i, schema.fields(i).dataType)
    }
    val o = open.getOrElseUpdate(pvs, {
      val f = new Path(staging,
        s"part-$partitionId-$taskId-${SinkLayout.valueTag(pvs)}.parquet")
      fs.mkdirs(f.getParent)
      new OpenOut(parquetOut.newInstance(f.toString, dataSchema, taskContext),
        f, 0L, newStats(),
        bloomPlan.map { case (_, _, isStr) => new BloomAcc(isStr) })
    })
    dataRow.project(row)
    o.w.write(dataRow)
    o.rows += 1
    var j = 0
    while (j < dataFields.length) {
      val st = o.stats(j)
      if (st != null) {
        val i = dataFields(j)._2
        if (!row.isNullAt(i)) st.addFrom(row, i)
      }
      j += 1
    }
    var b = 0
    while (b < bloomPlan.length) {
      val i = bloomPlan(b)._2
      if (!row.isNullAt(i)) o.blooms(b).add(row, i)
      b += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    val files = open.map { case (pvs, o) =>
      o.w.close()
      val colStats = dataFields.zip(o.stats).flatMap { case ((fld, _), st) =>
        if (st == null) None else st.render.map(fld.name -> _)
      }.toMap
      val colBlooms = bloomPlan.zip(o.blooms).flatMap {
        case ((name, _, _), acc) => acc.render.map(name -> _)
      }.toSeq
      StagedFile(pvs, o.p.toString, o.rows, fs.getFileStatus(o.p).getLen,
        partitionId, colStats, colBlooms)
    }.toSeq
    open.clear()
    SinkCommitMessage(files, deletes.toSeq)
  }

  /** A merge-on-read delete: the row's (`_file`, `_pos`) identity, its
    * absolute path made table-relative (the leaf layout is exactly
    * `partCols.length` directories plus the file name).
    */
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val (fileOrd, posOrd) = rowId.getOrElse(
      throw new IllegalStateException("delete on a write without a row id"))
    val rel = id.getUTF8String(fileOrd).toString.split("/").filter(_.nonEmpty)
      .takeRight(partCols.length + 1).mkString("/")
    deletes += ((rel, id.getLong(posOrd)))
  }

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates are represented as delete+insert")

  override def abort(): Unit = {
    open.values.foreach { o =>
      try o.w.close() catch { case _: Throwable => () }
      try fs.delete(o.p, false) catch { case _: Throwable => () }
    }
    open.clear()
  }

  override def close(): Unit =
    open.values.foreach { o =>
      try o.w.close() catch { case _: Throwable => () }
    }
}

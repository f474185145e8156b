package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, IdentityTransform, Transform}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing [[PartitionedSink]] layouts as V2 tables —
  * the missing piece that makes DYNAMIC partition overwrite reachable
  * through the PUBLIC write API: the V1 `.mode("overwrite").save()`
  * bridge can only plan truncate/filter overwrites, while
  * `df.writeTo("cat.t").overwritePartitions()` resolves the table
  * through a catalog and drives `overwriteDynamicPartitions()` — the
  * daily-job primitive of a partitioned warehouse ("replace exactly
  * the partitions this batch recomputed, touch nothing else"; the
  * reference gets the same from Hive dynamic partitioning in
  * load_fct_flights.py:112-116).
  *
  * Register with
  * {{{
  *   spark.sql.catalog.<name>      = graft.sources.PartitionedSinkCatalog
  *   spark.sql.catalog.<name>.root = <warehouse dir>
  * }}}
  * after which `CREATE/DROP TABLE <name>.t`, `df.writeTo(...)
  * .partitionedBy(col).create()`, `.append()`, and
  * `.overwritePartitions()` all work. Tables live at
  * `<root>/<namespace...>/<table>`, with the schema and partition
  * column persisted in a `_table.json` sidecar (written atomically via
  * the same stage-then-rename discipline as the sink's data commit),
  * so a table survives session restarts and is shared by any session
  * pointing a catalog at the same root — the catalog itself keeps NO
  * in-memory state beyond its conf, which is what makes it safe on a
  * 1000-executor cluster with many concurrent drivers.
  */
/** The `_table.json` sidecar codec, shared by the catalog and every
  * out-of-band reader of a table dir (the change feed's schema
  * inference). Layout: line 1 = partition columns (tab-separated; a
  * pre-multi-level sidecar is the single-column special case), line 2
  * = schema JSON (StructType.json is compact — always one line),
  * lines 3+ (optional) = persisted TABLE PROPERTIES, one
  * TsvCodec-escaped `key \t value` per line. Two-line sidecars (every
  * pre-r16 table) parse with empty properties — backward compatible.
  */
private[graft] object SinkSidecar {
  def render(partCols: Seq[String], schema: StructType,
             props: Map[String, String]): String =
    partCols.mkString("\t") + "\n" + schema.json +
      props.toSeq.sorted.map { case (k, v) =>
        "\n" + TsvCodec.escape(k) + "\t" + TsvCodec.escape(v)
      }.mkString

  def parse(text: String): (Seq[String], StructType, Map[String, String]) = {
    val lines = text.split("\n", -1)
    val u = (s: String) => TsvCodec.unescape(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    val props = lines.drop(2).filter(_.nonEmpty).flatMap { line =>
      line.split("\t", 2) match {
        case Array(k, v) => Some(u(k) -> u(v))
        case _ => None
      }
    }.toMap
    (lines(0).split("\t").toSeq,
      DataType.fromJson(lines(1).trim).asInstanceOf[StructType], props)
  }

  /** Parse the sidecar of a table DIR (the change feed's entry point —
    * it has a path, not a catalog identifier).
    */
  def readDir(fs: FileSystem, tableDir: String)
      : (Seq[String], StructType, Map[String, String]) = {
    val meta = new Path(tableDir, "_table.json")
    require(fs.exists(meta),
      s"$tableDir is not a sink catalog table (no _table.json sidecar)")
    val in = fs.open(meta)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val (partCols, schema, props) = parse(text)
    (partCols, schema, SinkFormat.storedProps(tableDir, props))
  }
}

class PartitionedSinkCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var versioned: Boolean = false

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<dir>"))
    // history retention: every publish writes a version manifest; with
    // `versioned=true` retired files stay until vacuumVersions reclaims
    // them (VERSION AS OF reads every retained version), otherwise each
    // commit deletes what the latest version no longer references.
    // Sticky per table once a versioned catalog has committed to it.
    versioned = Option(options.get("versioned")).exists(_.toBoolean)
  }

  override def name(): String = catalogName

  private def fs: FileSystem =
    FileSystem.get(new java.net.URI(root),
      SparkSession.active.sessionState.newHadoopConf())

  // namespace/name segments are hive-escaped; the root is a path/URI
  // and stays intact
  private def tableDir(ident: Identifier): Path =
    new Path((Seq(root) ++ ident.namespace().toSeq.map(TsvCodec.escapeDir)
      :+ TsvCodec.escapeDir(ident.name())).mkString("/"))

  private def metaFile(ident: Identifier): Path =
    new Path(tableDir(ident), "_table.json")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((Seq(root) ++ namespace.map(TsvCodec.escapeDir))
      .mkString("/"))
    if (!fs.exists(nsDir)) Array.empty
    else fs.listStatus(nsDir)
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_table.json")))
      .map(s => Identifier.of(namespace, TsvCodec.unescapeDir(s.getPath.getName)))
  }

  private def renderSidecar(partCols: Seq[String], schema: StructType,
                            props: Map[String, String]): String =
    SinkSidecar.render(partCols, schema, props)

  private def parseSidecar(text: String)
      : (Seq[String], StructType, Map[String, String]) =
    SinkSidecar.parse(text)

  private def writeSidecar(ident: Identifier, partCols: Seq[String],
                           schema: StructType,
                           props: Map[String, String]): Unit = {
    val dir = tableDir(ident)
    val staged = new Path(dir, s"_table.json.tmp-${util.UUID.randomUUID()}")
    val out = fs.create(staged, true)
    try out.write(renderSidecar(partCols, schema, props).getBytes("UTF-8"))
    finally out.close()
    fs.delete(metaFile(ident), false)
    if (!fs.rename(staged, metaFile(ident)))
      throw new IllegalStateException(s"sidecar update failed for $ident")
  }

  override def loadTable(ident: Identifier): Table = {
    val meta = metaFile(ident)
    if (!fs.exists(meta)) throw new NoSuchTableException(ident)
    val in = fs.open(meta)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val (partCols, schema, props) = parseSidecar(json)
    new PartitionedSinkTable(tableDir(ident).toString, partCols, schema,
      versioned, props = SinkFormat.storedProps(ident.toString, props))
  }

  /** Time travel: `VERSION AS OF v` / `spark.read.option("versionAsOf",
    * v).table(...)` — plans exactly snapshot v's files.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = loadTable(ident).asInstanceOf[PartitionedSinkTable]
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$catalogName tables are versioned by number, got '$version'")
    }
    val vDir = new Path(tableDir(ident), "_versions")
    if (!fs.exists(new Path(vDir, v.toString)))
      throw new IllegalArgumentException(
        s"version $v of $ident does not exist (expired by vacuum, or " +
          "never published — is the catalog versioned?)")
    new PartitionedSinkTable(tableDir(ident).toString, base.partCols,
      base.schema(), versioned, asOfVersion = Some(v),
      props = base.props)
  }

  /** `TIMESTAMP AS OF t` / `spark.read.option("timestampAsOf", t)` —
    * resolves to the NEWEST version whose commit wall clock (the
    * `#\tts` manifest header every publish records) is ≤ t, then
    * plans exactly that snapshot. Spark hands the instant in
    * MICROseconds since the epoch. Travel before the first commit —
    * or on a table whose retained manifests predate timestamps —
    * fails loudly rather than serving a snapshot it can't prove.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val base = loadTable(ident).asInstanceOf[PartitionedSinkTable]
    val dirStr = tableDir(ident).toString
    val v = SinkVersions.resolveTimestamp(fs, dirStr,
      Math.floorDiv(timestampMicros, 1000L))
    new PartitionedSinkTable(dirStr, base.partCols, base.schema(),
      versioned, asOfVersion = Some(v), props = base.props)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // one or more identity transforms, in DECLARED order — the order IS
    // the directory nesting (`partitionedBy(year, month, day)` lays out
    // year=.../month=.../day=..., the reference lake's own 3-level
    // shape, extract_flights.py:96-99)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"PartitionedSinkCatalog tables take identity partition " +
          s"transforms only, got $other")
    }
    require(partCols.nonEmpty,
      "PartitionedSinkCatalog tables need at least one partition column")
    require(partCols.distinct.length == partCols.length,
      s"duplicate partition column in [${partCols.mkString(", ")}]")
    partCols.foreach(pc => require(schema.fieldNames.contains(pc),
      s"partition column $pc not in schema ${schema.sql}"))
    if (fs.exists(metaFile(ident))) throw new TableAlreadyExistsException(ident)
    // TABLE PROPERTIES: the engine's own (`graft.`-namespaced) keys
    // persist in the sidecar — `TBLPROPERTIES ('graft.bloomColumns' =
    // 'k')` survives restarts and applies to every writer of the
    // table. Spark's bookkeeping properties (provider, owner,
    // location...) are not ours to store.
    val declared = SinkFormat.userProps(s"CREATE TABLE $ident",
      Option(properties).map(_.asScala.toMap).getOrElse(Map.empty)
        .filter { case (k, _) => k.startsWith("graft.") })
    // FIELD IDS: tables carry a name→id registry so columns resolve by
    // id across rename/drop evolution; minted once here, extended by
    // ADD COLUMNS, never reused after a drop
    val persisted =
      if (declared.contains(SinkFormat.PropFieldIds)) declared
      else declared ++ SinkFormat.initialIdProps(schema, partCols)
    // loud at CREATE, not at first-row write: binary and nested
    // columns can never partition
    schema.fields.foreach(f => SinkFormat.validateColumnType(
      f.name, f.dataType, partCols.contains(f.name)))
    // atomic publish of the sidecar: concurrent CREATEs race on the
    // rename, not on a half-written file
    val dir = tableDir(ident)
    fs.mkdirs(SinkVersions.dir(dir.toString))
    val staged = new Path(dir, s"_table.json.tmp-${util.UUID.randomUUID()}")
    val out = fs.create(staged, true)
    try out.write(renderSidecar(partCols, schema, persisted)
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(staged, metaFile(ident))) {
      fs.delete(staged, false)
      throw new TableAlreadyExistsException(ident)
    }
    new PartitionedSinkTable(dir.toString, partCols, schema, versioned,
      props = persisted)
  }

  /** Schema evolution. ADD COLUMNS (nullable, appended at the end):
    * files written before the change simply lack the column and read
    * it as NULL. RENAME/DROP COLUMN and safe type widening go through
    * the field-id registry (`graft.fieldIds`): a renamed column keeps
    * its id, so files written before the rename still resolve; a
    * dropped column's id is retired and never reused, so its data in
    * old files is simply never requested. A column without an id (a
    * name containing ',' or ':') resolves by name, so renaming or
    * dropping it is rejected. Reorder is rejected. (After a rename,
    * per-column skip stats recorded under the old name no longer
    * match — affected files are scanned instead of skipped until
    * rewritten: degraded, never wrong.)
    *
    * The sidecar update is last-writer-wins (staged write + delete +
    * rename): DDL here is a single-admin operation, not a concurrent
    * write path — the DATA commit protocol is where concurrency lives.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val current = loadTable(ident).asInstanceOf[PartitionedSinkTable]
    var props = current.props
    var schema = current.schema()
    var ids = SinkFormat.fieldIds(props)
    val ids0 = ids
    var nextId = props.get(SinkFormat.PropNextFieldId).map(_.toInt)
      .getOrElse(ids.values.maxOption.getOrElse(0) + 1)
    // the field-id registry is engine-managed state, not a user knob:
    // hand-editing it would silently transpose columns
    val settable = SinkFormat.Options -- Set(SinkFormat.PropFieldIds,
      SinkFormat.PropNextFieldId)
    def oneLevel(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        "PartitionedSinkCatalog supports top-level columns only")
      fieldNames(0)
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        val name = oneLevel(a.fieldNames())
        require(a.isNullable,
          "added columns must be nullable (existing files read them as NULL)")
        require(!schema.fieldNames.contains(name),
          s"column $name already exists")
        SinkFormat.validateColumnType(name, a.dataType(), isPartition = false)
        schema = StructType(schema.fields :+
          StructField(name, a.dataType(), nullable = true))
        if (ids.nonEmpty && SinkFormat.idSafe(name)) {
          ids = ids + (name -> nextId); nextId += 1
        }
      case r: TableChange.RenameColumn =>
        val from = oneLevel(r.fieldNames())
        val to = r.newName()
        require(!current.partCols.contains(from),
          s"cannot rename partition column $from (it names the directory layout)")
        require(ids.contains(from),
          s"RENAME COLUMN needs a field id for $from (it resolves by " +
            "name — existing files would lose its data)")
        require(schema.fieldNames.contains(from), s"no such column $from")
        require(!schema.fieldNames.contains(to), s"column $to already exists")
        require(SinkFormat.idSafe(to),
          s"column name '$to' cannot carry a field id (',' or ':')")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        ids = ids - from + (to -> ids(from))
      case u: TableChange.UpdateColumnType =>
        val name = oneLevel(u.fieldNames())
        require(schema.fieldNames.contains(name), s"no such column $name")
        require(!current.partCols.contains(name),
          s"cannot retype partition column $name (its rendered values " +
            "name the directory layout and key the split planning)")
        require(ids.contains(name),
          s"ALTER COLUMN ... TYPE needs a field id for $name (old files " +
            "decode-cast through the id registry)")
        val from = schema(name).dataType
        require(SinkFormat.safeWiden(from, u.newDataType()),
          s"only safe widenings are supported " +
            s"(byte/short/int→wider integral, float→double); " +
            s"got ${from.simpleString} → ${u.newDataType().simpleString} " +
            s"on $name")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = u.newDataType()) else f))
      case d: TableChange.DeleteColumn =>
        val name = oneLevel(d.fieldNames())
        require(!current.partCols.contains(name),
          s"cannot drop partition column $name (it names the directory layout)")
        if (!schema.fieldNames.contains(name)) {
          require(d.ifExists(), s"no such column $name")
        } else {
          require(ids.contains(name),
            s"DROP COLUMN needs a field id for $name (it resolves by " +
              "name — a later column of that name would read its data)")
          schema = StructType(schema.fields.filterNot(_.name == name))
          ids = ids - name // id retired, never reused (nextId unchanged)
        }
      // engine-namespaced properties are settable/unsettable DDL:
      // `ALTER TABLE t SET TBLPROPERTIES ('graft.bloomColumns' = 'k')`
      case p: TableChange.SetProperty =>
        require(settable(p.property),
          s"table property ${p.property} is not user-settable " +
            s"(options: ${settable.toSeq.sorted.mkString(", ")})")
        props = props + (p.property -> p.value)
      case p: TableChange.RemoveProperty =>
        require(settable(p.property),
          s"table property ${p.property} is not user-removable " +
            s"(options: ${settable.toSeq.sorted.mkString(", ")})")
        props = props - p.property
      case other => throw new UnsupportedOperationException(
        s"PartitionedSinkCatalog tables support ADD COLUMNS " +
          s"(append-at-end, nullable), RENAME/DROP COLUMN and safe " +
          s"type widening (columns with field ids) and graft.* SET/UNSET " +
          s"TBLPROPERTIES; got $other")
    }
    if (ids != ids0)
      props = props +
        (SinkFormat.PropFieldIds -> SinkFormat.renderIds(ids.toSeq.sortBy(_._2))) +
        (SinkFormat.PropNextFieldId -> nextId.toString)
    writeSidecar(ident, current.partCols, schema, props)
    new PartitionedSinkTable(tableDir(ident).toString, current.partCols,
      schema, versioned, props = props)
  }

  /** SQL maintenance: `CALL <cat>.vacuum_versions(table => 't', ...)`
    * etc. — see [[SinkProcedures]].
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SinkProcedures.load(catalogName, ident.name())

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SinkProcedures.names.map(Identifier.of(namespace, _)).toArray

  override def dropTable(ident: Identifier): Boolean =
    fs.exists(metaFile(ident)) && fs.delete(tableDir(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!fs.exists(metaFile(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (fs.exists(metaFile(newIdent))) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(tableDir(newIdent).getParent)
    if (!fs.rename(tableDir(oldIdent), tableDir(newIdent)))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }
}

package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One row of the lake table, and of the benchmark's model of it. */
final case class LakeRow(id: Long, day: String, cust: Long, amount: Double,
                         status: String, note: String) {
  def toRow: Row = Row(id, day, cust, amount, status, note)
  def logicalBytes: Long = Stats.logicalBytes(Seq(id, day, cust, amount, status, note))
}

object LakeRow {
  def apply(r: Row): LakeRow = LakeRow(r.getLong(0), r.getString(1),
    r.getLong(2), r.getDouble(3), r.getString(4), r.getString(5))
}

object Lake {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("day", StringType),
    StructField("cust", LongType), StructField("amount", DoubleType),
    StructField("status", StringType), StructField("note", StringType)))
  val Statuses: IndexedSeq[String] = IndexedSeq("new", "paid", "shipped", "void")
  /** Rows per appended day, and per MERGE source (half updates). */
  val AppendRows = 2000
  val MergeRows = 400
  /** Days loaded by set-up; the retention window keeps as many, so every
    * step's append is matched by one retired day.
    */
  val KeepDays = 8
  val KeepVersions = 4
  /** A step runs these ops in this order, then maintenance. */
  val StepOps: Seq[String] = Seq("append", "point_read", "delete",
    "agg_read", "update", "version_read", "merge")
  val Commits: Set[String] = Set("append", "delete", "update", "merge",
    "retention", "compact")
  val Reads: Set[String] = Set("point_read", "agg_read", "version_read")
  val RowLevel: Set[String] = Set("delete", "update", "merge")
  /** The day of the retention window (0 = oldest) each op targets. The
    * window slides one day per step, so an op always meets a day of the
    * same age and history, and its cost does not hinge on a random pick.
    */
  val TargetDay: Map[String, Int] =
    Map("delete" -> 1, "update" -> 3, "merge" -> 5, "agg_read" -> 6)

  /** Files a version manifest keeps alive, relative to the table root:
    * its data files, and the position-delete files and change directory
    * its `#` headers name. Fields are escaped by graft's TSV codec.
    */
  def manifestFiles(manifest: String): Seq[String] = {
    def field(s: String) = graft.sources.TsvCodec.unescape(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    manifest.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      line.split("\t", -1).toSeq.map(field) match {
        case Seq("#", "del", name, _*) => Seq(s"_deletes/$name")
        case Seq("#", "changes", dir, _*) => Seq(s"_changes/$dir")
        case Seq("#", _*) => Nil
        case path +: _ => Seq(path)
      }
    }
  }

  /** Bytes of a file, or of every file under a directory. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** A seeded stream of operations on one versioned sink table partitioned
  * by day, checked against an in-memory model of the same stream: every
  * read, every `VERSION AS OF` read and the final table must equal the
  * model.
  */
final class LakeState(spark: SparkSession, root: String, catalog: String, seed: Long,
                      record: (String, Double) => Unit) {
  import Lake._

  spark.conf.set(s"spark.sql.catalog.$catalog",
    classOf[graft.sources.PartitionedSinkCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
  spark.conf.set(s"spark.sql.catalog.$catalog.versioned", "true")

  val table = s"$catalog.t"
  val tableDir: Path = Paths.get(root, "t")
  private val rnd = new scala.util.Random(seed)

  private var model = Map.empty[Long, LakeRow]
  private val snapshots = mutable.Map[Long, Map[Long, LakeRow]]()
  private var days = Vector.empty[String]
  private var dayIndex = 0
  private var nextId = 0L

  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var logicalChanged = 0L
  /** Rows the DELETE, UPDATE and MERGE commits changed. */
  var rowLevelChanged = 0L
  var bytesWritten = 0L
  var steps = 0

  private def newRows(day: String, n: Int): Seq[LakeRow] = (0 until n).map { _ =>
    nextId += 1
    LakeRow(nextId, day, rnd.nextInt(1000).toLong, rnd.nextInt(1000000) / 100.0,
      Statuses(rnd.nextInt(Statuses.size)), "n" + rnd.nextInt(100000))
  }

  private def frame(rows: Seq[LakeRow]) =
    spark.createDataFrame(rows.map(_.toRow).asJava, Schema)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def versionsOnDisk: Seq[Long] = {
    val d = tableDir.resolve("_versions")
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSeq.sorted
      finally s.close()
    }
  }

  /** Model checks made so far. */
  var checks = 0L

  private def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) mismatches += what
  }

  private def rowsEqual(what: String, got: Seq[Row], want: Iterable[LakeRow]): Unit = {
    val g = got.map(LakeRow(_)).sortBy(_.id)
    val w = want.toSeq.sortBy(_.id)
    check(s"$what: ${g.size} rows vs ${w.size} in the model", g == w)
  }

  /** A commit: runs `action`, then moves the model to `next` and
    * remembers it as the snapshot of the version the commit published.
    */
  private def commit(kind: String, next: Map[Long, LakeRow], logical: Long,
                     changed: Long)(action: => Unit): Unit = {
    val (_, w0) = FsCounters()
    val t0 = System.nanoTime()
    action
    record(kind, (System.nanoTime() - t0) / 1e9)
    bytesWritten += FsCounters()._2 - w0
    logicalChanged += logical
    if (RowLevel(kind)) rowLevelChanged += changed
    model = next
    versionsOnDisk.lastOption.foreach(v => snapshots(v) = model)
  }

  private def timed[T](kind: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val out = f
    record(kind, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** Set-up: create the table and load the first days. */
  def create(): Unit = {
    val day = nextDay()
    val rows = newRows(day, AppendRows)
    commit("create", model ++ rows.map(r => r.id -> r), 0L, 0L) {
      frame(rows).writeTo(table).partitionedBy(col("day")).create()
    }
    (1 until KeepDays).foreach { _ =>
      val d = nextDay()
      val more = newRows(d, AppendRows)
      commit("create", model ++ more.map(r => r.id -> r), 0L, 0L) {
        frame(more).writeTo(table).append()
      }
    }
  }

  private def nextDay(): String = {
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(dayIndex).toString
    dayIndex += 1
    days :+= d
    d
  }

  def run(op: String): Unit = op match {
    case "append" =>
      val rows = newRows(nextDay(), AppendRows)
      commit(op, model ++ rows.map(r => r.id -> r),
        rows.map(_.logicalBytes).sum, rows.size) {
        frame(rows).writeTo(table).append()
      }
    case "delete" =>
      val day = days(TargetDay(op))
      val k = rnd.nextInt(13)
      val gone = model.values.filter(r => r.day == day && r.cust % 13 == k).toSeq
      commit(op, model -- gone.map(_.id), gone.map(_.logicalBytes).sum, gone.size) {
        spark.sql(s"DELETE FROM $table WHERE day = '$day' AND cust % 13 = $k")
      }
    case "update" =>
      val day = days(TargetDay(op))
      val k = rnd.nextInt(11)
      val status = pick(Statuses)
      val changed = model.values.filter(r => r.day == day && r.cust % 11 == k)
        .map(r => r.copy(status = status, amount = r.amount + 1.0)).toSeq
      commit(op, model ++ changed.map(r => r.id -> r),
        changed.map(_.logicalBytes).sum, changed.size) {
        spark.sql(s"UPDATE $table SET status = '$status', amount = amount + 1.0 " +
          s"WHERE day = '$day' AND cust % 11 = $k")
      }
    case "merge" =>
      val day = days(TargetDay(op))
      val existing = model.values.filter(_.day == day).toIndexedSeq.sortBy(_.id)
      val updates = rnd.shuffle(existing).take(MergeRows / 2).map(r =>
        r.copy(amount = rnd.nextInt(1000000) / 100.0, status = pick(Statuses)))
      val source = updates ++ newRows(day, MergeRows / 2)
      frame(source).createOrReplaceTempView("lake_merge_source")
      commit(op, model ++ source.map(r => r.id -> r),
        source.map(_.logicalBytes).sum, source.size) {
        spark.sql(s"""MERGE INTO $table AS t USING lake_merge_source AS s
          ON t.day = s.day AND t.id = s.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
      }
    case "point_read" =>
      val id = 1L + rnd.nextInt(nextId.toInt)
      val got = timed(op)(spark.sql(s"SELECT * FROM $table WHERE id = $id").collect())
      rowsEqual(s"point read of id $id", got.toSeq, model.get(id))
    case "agg_read" =>
      val day = days(TargetDay(op))
      val got = timed(op)(spark.sql(
        s"SELECT status, count(*) AS n, sum(amount) AS s FROM $table " +
          s"WHERE day = '$day' GROUP BY status").collect())
      val want = model.values.filter(_.day == day).groupBy(_.status)
        .map { case (s, rs) => s -> (rs.size.toLong, rs.map(_.amount).sum) }
      val ok = got.length == want.size && got.forall { r =>
        want.get(r.getString(0)).exists { case (n, s) =>
          n == r.getLong(1) && math.abs(s - r.getDouble(2)) <= 1e-6 * math.max(1.0, math.abs(s))
        }
      }
      check(s"aggregate of day $day", ok)
    case "version_read" =>
      val live = versionsOnDisk.filter(snapshots.contains).toIndexedSeq
      require(live.nonEmpty, "no retained version has a model snapshot")
      // the oldest retained snapshot, its middle day
      val v = live.head
      val snap = snapshots(v)
      val snapDays = snap.values.map(_.day).toSeq.distinct.sorted.toIndexedSeq
      val day = snapDays(snapDays.size / 2)
      val got = timed(op)(spark.sql(
        s"SELECT * FROM $table VERSION AS OF $v WHERE day = '$day'").collect())
      rowsEqual(s"version $v, day $day", got.toSeq, snap.values.filter(_.day == day))
    case other => throw new IllegalArgumentException(s"unknown lake op $other")
  }

  /** Retention (drop the oldest days past the window), compaction and
    * version vacuum: the table's standing jobs.
    */
  def maintain(): Unit = {
    while (days.size > KeepDays) {
      val oldest = days.head
      days = days.tail
      val gone = model.values.filter(_.day == oldest).toSeq
      commit("retention", model -- gone.map(_.id), gone.map(_.logicalBytes).sum, gone.size) {
        spark.sql(s"DELETE FROM $table WHERE day = '$oldest'")
      }
    }
    commit("compact", model, 0L, 0L) {
      spark.sql(s"CALL $catalog.compact(table => 't')").collect()
    }
    timed("vacuum") {
      spark.sql(s"CALL $catalog.vacuum_versions(table => 't', " +
        s"keep_last => $KeepVersions)").collect()
    }
    val kept = versionsOnDisk.toSet
    snapshots.keys.filterNot(kept).toSeq.foreach(snapshots.remove)
  }

  /** One step of the stream: the ops, then maintenance. `traced` is
    * called after each op and after maintenance.
    */
  def step(t: Tracer, traced: String => Unit = _ => ()): Unit = {
    StepOps.foreach { op =>
      t.span(s"sources.$op")(run(op))
      traced(op)
    }
    t.span("sources.maintain")(maintain())
    traced("maintain")
    steps += 1
  }

  /** Starts write accounting afresh, so it covers the measured ops only. */
  def resetWriteAccounting(): Unit = {
    bytesWritten = 0L
    logicalChanged = 0L
    rowLevelChanged = 0L
  }

  /** Untimed gate: the whole table equals the model. */
  def verifyTable(): Unit =
    rowsEqual("final table", spark.table(table).collect().toSeq, model.values)

  def liveLogicalBytes: Long = model.values.iterator.map(_.logicalBytes).sum
  def versions: Int = versionsOnDisk.size
  /** Bytes of the retained version manifests and of the files they keep
    * alive: what the table holds once `vacuum_versions` has reclaimed
    * the rest. Within a run the vacuum's age floor keeps every retired
    * file on disk, so the bytes under the root would grow with the
    * number of steps run; these do not.
    */
  def reachableBytes: Long = {
    val manifests = versionsOnDisk.map(v => tableDir.resolve("_versions").resolve(v.toString))
    manifests.map(Files.size).sum +
      manifests.flatMap(m => manifestFiles(Files.readString(m))).distinct
        .map(f => dirBytes(tableDir.resolve(f))).sum
  }
  def bytesUnderRoot: Long = dirBytes(tableDir)
  def liveFiles: Long =
    spark.sql(s"SELECT count(DISTINCT _file) FROM $table").head().getLong(0)
}

package graft

import java.io.File

import org.apache.spark.sql.functions.{col, lit}

/** Model-based history spec for the sink table format: seeded random
  * operation sequences run against a table in a VERSIONED catalog and
  * a table in an UNVERSIONED one, and against an in-memory model of
  * each (rows keyed by `k`).
  *
  * Ops: append, dynamic and truncate overwrite, partition DELETE,
  * row-level DELETE/UPDATE/MERGE in copy-on-write and merge-on-read
  * modes (the table's `graft.deleteMode` is set before each one),
  * `CALL compact` and `CALL vacuum_versions`. After every step both
  * tables must read as their model; the versioned table must also
  * read every retained version through `VERSION AS OF`, and the batch
  * change feed of the step's commit, folded onto the previous
  * snapshot, must give the new one.
  *
  * Reproduce one history with `-Dgraft.history.seed=<seed>`; every
  * failure names its seed and the ops that ran.
  */
class LakeHistorySpec extends SparkSpec {
  import LakeHistorySpec._

  private val histories = 30
  private val maxSteps = 8

  private def catalog(name: String, versioned: Boolean): String = {
    val root = tmpDir(s"hist_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.versioned", versioned.toString)
    root
  }

  private lazy val vRoot = catalog("histv", versioned = true)
  private lazy val uRoot = catalog("histu", versioned = false)

  private def versionsOnDisk(dir: String): Seq[Long] =
    Option(new File(dir, "_versions").listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).sorted

  private def frame(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "p")
  }

  private def sqlValues(rows: Seq[(Long, Long, String)]): String =
    rows.map { case (k, v, p) => s"(${k}L, ${v}L, '$p')" }.mkString(", ")

  /** One history on one table. Throws with the seed and op log on the
    * first mismatch.
    */
  private def runHistory(seed: Long, table: String, dir: String,
                         versioned: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val log = scala.collection.mutable.ArrayBuffer[String]()
    def fail(msg: String): Nothing =
      throw new AssertionError(
        s"history seed=$seed table=$table (versioned=$versioned) " +
          s"ops=[${log.mkString("; ")}]: $msg")

    spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    var model = Model.empty
    var nextK = 1L
    val snapshots = scala.collection.mutable.Map[Long, Model](0L -> Model.empty)
    var lastVersion = 0L

    def freshRows(n: Int): Seq[(Long, Long, String)] = (0 until n).map { _ =>
      nextK += 1
      (nextK, rnd.nextInt(50).toLong, Parts(rnd.nextInt(Parts.size)))
    }
    def setMode(): String = {
      val mode = if (rnd.nextBoolean()) "cow" else "mor"
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.deleteMode' = '$mode')")
      mode
    }

    val steps = 1 + rnd.nextInt(maxSteps)
    (0 until steps).foreach { step =>
      val op = if (step == 0) "append" else Ops(rnd.nextInt(Ops.size))
      op match {
        case "append" =>
          val rows = freshRows(1 + rnd.nextInt(6))
          log += s"append ${rows.size}"
          spark.sql(s"INSERT INTO $table VALUES ${sqlValues(rows)}")
          model = model ++ rows
        case "overwrite_dynamic" =>
          val rows = freshRows(1 + rnd.nextInt(4))
          log += s"overwrite_dynamic ${rows.map(_._3).distinct.sorted.mkString(",")}"
          frame(rows).coalesce(1).writeTo(table).overwritePartitions()
          val touched = rows.map(_._3).toSet
          model = model.filterNot(r => touched(r._3)) ++ rows
        case "overwrite_truncate" =>
          val rows = freshRows(1 + rnd.nextInt(4))
          log += s"overwrite_truncate ${rows.size}"
          frame(rows).coalesce(1).writeTo(table).overwrite(lit(true))
          model = Model.empty ++ rows
        case "delete_partition" =>
          val p = Parts(rnd.nextInt(Parts.size))
          log += s"delete_partition $p"
          spark.sql(s"DELETE FROM $table WHERE p = '$p'")
          model = model.filterNot(_._3 == p)
        case "delete_rows" =>
          val r = rnd.nextInt(3)
          log += s"delete_rows ${setMode()} k%3=$r"
          spark.sql(s"DELETE FROM $table WHERE k % 3 = $r")
          model = model.filterNot(_._1 % 3 == r)
        case "update" =>
          val r = rnd.nextInt(3)
          log += s"update ${setMode()} k%3=$r"
          spark.sql(s"UPDATE $table SET v = v + 100 WHERE k % 3 = $r")
          model = model.map(x => if (x._1 % 3 == r) x.copy(_2 = x._2 + 100) else x)
        case "merge" =>
          val existing = model.rows.keys.toSeq.sorted
          val matched = rnd.shuffle(existing).take(1 + rnd.nextInt(3))
            .map(k => (k, 1000L + rnd.nextInt(50), model.rows(k)._2))
          val inserted = freshRows(rnd.nextInt(3))
          log += s"merge ${setMode()} matched=${matched.size} new=${inserted.size}"
          val src = matched ++ inserted
          if (src.nonEmpty) {
            spark.sql(s"MERGE INTO $table AS t USING (SELECT * FROM VALUES " +
              s"${sqlValues(src)} AS s(k, v, p)) AS s ON t.k = s.k " +
              "WHEN MATCHED THEN UPDATE SET v = s.v " +
              "WHEN NOT MATCHED THEN INSERT *")
            model = model ++ src
          }
        case "compact" =>
          log += "compact"
          spark.sql(s"CALL ${table.takeWhile(_ != '.')}.compact(table => " +
            s"'${table.dropWhile(_ != '.').drop(1)}')").collect()
        case "vacuum_versions" =>
          log += "vacuum_versions keep_last=2"
          spark.sql(s"CALL ${table.takeWhile(_ != '.')}.vacuum_versions(" +
            s"table => '${table.dropWhile(_ != '.').drop(1)}', keep_last => 2)")
            .collect()
      }

      def toModel(rs: Seq[(Long, Long, String)], what: String): Model = {
        if (rs.map(_._1).distinct.size != rs.size)
          fail(s"after step $step $what holds duplicate keys: ${rs.sortBy(_._1)}")
        Model.empty ++ rs
      }
      val got = toModel(spark.table(table).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))), "SELECT *")
      if (got != model) fail(s"after step $step SELECT * = ${got.sorted} " +
        s"but the model holds ${model.sorted}")

      if (versioned) {
        val retained = versionsOnDisk(dir)
        val latest = retained.lastOption.getOrElse(0L)
        if (latest != lastVersion) {
          if (latest != lastVersion + 1)
            fail(s"step $step moved the table from version $lastVersion " +
              s"to $latest; one op commits at most one version")
          snapshots(latest) = model
          // the step's change feed, folded onto the previous snapshot
          val feed = spark.read.format("graft.sources.SinkChangeFeed")
            .option("path", dir)
            .option("startingVersion", lastVersion.toString)
            .option("endingVersion", latest.toString)
            .load()
            .select(col("k"), col("v"), col("p"), col("_change_type"))
            .collect().toSeq
            .map(r => (r.getString(3), (r.getLong(0), r.getLong(1), r.getString(2))))
          val removed = feed.collect {
            case (t, row) if t == "delete" || t == "update_preimage" => row }
          val added = feed.collect {
            case (t, row) if t == "insert" || t == "update_postimage" => row }
          val folded = snapshots(lastVersion).applyFeed(removed, added)
            .getOrElse(fail(s"step $step: the change feed of version " +
              s"$latest deletes rows version $lastVersion does not hold: " +
              s"${removed.sorted}"))
          if (folded != model) fail(s"step $step: version $lastVersion plus " +
            s"the change feed of $latest = ${folded.sorted}, but the model " +
            s"holds ${model.sorted}")
          lastVersion = latest
        }
        // every retained version in one query
        if (retained.nonEmpty) {
          val asOf = retained.map(u =>
            spark.sql(s"SELECT ${u}L AS ver, k, v, p FROM $table VERSION AS OF $u"))
            .reduce(_ unionAll _).collect().toSeq
            .groupBy(_.getLong(0)).map { case (u, rs) =>
              u -> toModel(rs.map(r => (r.getLong(1), r.getLong(2),
                r.getString(3))), s"VERSION AS OF $u")
            }
          retained.foreach { u =>
            val want = snapshots.getOrElse(u,
              fail(s"step $step: version $u is on disk but was never " +
                "observed as the latest"))
            val read = asOf.getOrElse(u, Model.empty)
            if (read != want) fail(s"after step $step VERSION AS OF $u = " +
              s"${read.sorted} but the model snapshot holds ${want.sorted}")
          }
        }
      }
    }
  }

  test("random histories: versioned and unversioned tables read as their model after every step") {
    val base = sys.props.get("graft.history.seed").map(_.toLong)
    val seeds = base.map(Seq(_)).getOrElse((1 to histories).map(i => 7919L * i))
    (vRoot, uRoot) // session start-up stays out of the timing
    val t0 = System.nanoTime()
    // the two catalog modes run side by side, each on its own thread
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val modes = Seq(("histv", vRoot, true), ("histu", uRoot, false)).map {
      case (cat, root, versioned) => Future {
        seeds.zipWithIndex.foreach { case (seed, i) =>
          runHistory(seed, s"$cat.t$i", s"$root/t$i", versioned)
        }
      }
    }
    modes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    info(f"${seeds.size} histories per catalog mode in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

object LakeHistorySpec {
  val Parts: IndexedSeq[String] = IndexedSeq("a", "b", "c")
  val Ops: IndexedSeq[String] = IndexedSeq("append", "append",
    "overwrite_dynamic", "overwrite_truncate", "delete_partition",
    "delete_rows", "update", "merge", "compact", "vacuum_versions")

  /** The table's rows keyed by `k` (every op keeps `k` unique). */
  final case class Model(rows: Map[Long, (Long, String)]) {
    def ++(rs: Seq[(Long, Long, String)]): Model =
      Model(rows ++ rs.map { case (k, v, p) => k -> (v, p) })
    def filterNot(f: ((Long, Long, String)) => Boolean): Model =
      Model(rows.filterNot { case (k, (v, p)) => f((k, v, p)) })
    def map(f: ((Long, Long, String)) => (Long, Long, String)): Model =
      Model.empty ++ rows.toSeq.map { case (k, (v, p)) => f((k, v, p)) }
    def sorted: Seq[(Long, Long, String)] =
      rows.toSeq.sortBy(_._1).map { case (k, (v, p)) => (k, v, p) }

    /** Remove `removed` (each must be present), then add `added`; None
      * when a removed row is absent.
      */
    def applyFeed(removed: Seq[(Long, Long, String)],
                  added: Seq[(Long, Long, String)]): Option[Model] = {
      val after = removed.foldLeft(Option(rows)) {
        case (Some(m), (k, v, p)) if m.get(k).contains((v, p)) => Some(m - k)
        case _ => None
      }
      after.map(m => Model(m) ++ added)
    }
  }

  object Model {
    val empty: Model = Model(Map.empty)
  }
}

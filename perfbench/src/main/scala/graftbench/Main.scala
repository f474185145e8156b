package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Command line of one benchmark run (see perfbench/run.py, which builds,
  * generates the inputs, launches this main and runs the gates).
  */
final case class Options(workload: String, seed: Long, seconds: Double,
                         trace: Boolean, inputs: String, work: String, out: String)

object Options {
  val Workloads = Seq("daily_etl", "analyst_sweep", "lake_dml")

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Options(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("inputs"), get("work"), get("out"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** One run of one workload: set-up (repeated, timed), an untimed
  * warm-up unit, a closed loop of units for the run's seconds, then the
  * gates. An untraced run reports the end-to-end metrics; a traced run
  * alternates traced and untraced units and reports the per-layer
  * metrics of the traced ones.
  */
object Main {
  /** Set-ups of an untraced run; set-up time is their median. The first
    * also loads classes; the others take about 2 s together. The count is
    * fixed, because set-ups speed up as the JIT warms.
    */
  val SetupReps = Map("daily_etl" -> 5, "analyst_sweep" -> 9, "lake_dml" -> 3)
  /** Units the measured loop runs at least, however short the run; a
    * traced run completes one U T T U round (see `traced`).
    */
  val MinUnits = 1
  val MinTracedUnits = 4
  /** Lake steps are short; it takes several to warm the JIT up. */
  val LakeWarmUpSteps = 3

  def main(args: Array[String]): Unit = {
    val o = Options.parse(args)
    val run = new Run(o)
    val out = try run.execute() finally run.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), out)
  }
}

final class Run(o: Options) {
  import Main._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val analystDir = s"${o.inputs}/analyst"
  private val etlDir = s"${o.inputs}/etl"
  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  private val named = mutable.LinkedHashMap[String, (Double, String)]()
  private val detail = mutable.LinkedHashMap[String, String]()
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer[String]()

  // workload state
  private var etl: EtlState = _
  private var lake: LakeState = _
  /** Timed op latencies by kind, measured phase only, net of steal. */
  private val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Op latencies of the unit in progress, wall time. */
  private val pending = mutable.ArrayBuffer[(String, Double)]()
  private val lastFrame = mutable.LinkedHashMap[String, DataFrame]()

  def stop(): Unit = if (spark != null) spark.stop()

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def record(kind: String, s: Double): Unit = pending += kind -> s

  /** Time of `f`: wall seconds, and wall seconds net of the CPU time the
    * hypervisor stole meanwhile (`Stats.netOfSteal`).
    */
  private def clocked(f: => Unit): (Double, Double) = {
    val (c0, s0) = (CpuClock.processSeconds, CpuClock.stealSeconds)
    val wall = secondsOf(f)
    (wall, Stats.netOfSteal(wall, CpuClock.processSeconds - c0, CpuClock.stealSeconds - s0))
  }

  /** Files the ops of a finished unit under their kinds, each scaled by
    * the unit's share of its wall time that was not stolen.
    */
  private def closeUnit(wall: Double, net: Double): Unit = {
    val share = if (wall > 0) net / wall else 1.0
    pending.foreach { case (k, s) => latencies.getOrElseUpdate(k, mutable.ArrayBuffer()) += s * share }
    pending.clear()
  }

  /** Runs one operation; a throw is a failed operation. */
  private def attempt(what: String)(f: => Unit): Boolean = {
    attempted += 1
    try { f; true }
    catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      false
    }
  }

  // ---- set-up: a fresh session and the workload's inputs and stores ------
  private def setup(tag: String): Unit = {
    if (spark != null) spark.stop()
    spark = GraftSession.local()
    tracer = new Tracer(spark)
    o.workload match {
      case "daily_etl" =>
        etl = new EtlState(spark, etlDir, o.work, tag)
        etl.wh.createReferenceTables()
      case "analyst_sweep" =>
        graft.Tables.names.foreach(n => graft.Tables.load(spark, analystDir, n).schema)
      case "lake_dml" =>
        lake = new LakeState(spark, s"${o.work}/lake_$tag", s"lake_$tag", o.seed, record)
        lake.create()
    }
  }

  // ---- units ----------------------------------------------------------
  /** daily_etl unit: a new day, then its same-date replay. */
  private def etlUnit(): Unit = {
    val day = etl.nextDay
    etl.nextDay += 1
    attempt(s"etl day $day")(record("day", secondsOf(etl.run(day, replay = false, tracer)))) &&
      attempt(s"etl replay $day")(record("replay", secondsOf(etl.run(day, replay = true, tracer))))
  }

  /** analyst_sweep unit: one pass over the headliners, cache cleared
    * between queries.
    */
  private def sweepUnit(): Unit = Sweep.headliners.foreach { q =>
    attempt(s"query ${q.name}") {
      record(q.name, secondsOf {
        lastFrame(q.name) = tracer.span("sweep.query")(Sweep.execute(spark, q, analystDir, tracer))
      })
    }
    spark.catalog.clearCache()
  }

  /** lake_dml unit: one step of the op stream, maintenance included. */
  private def lakeUnit(onOp: String => Unit): Unit =
    attempt(s"lake step ${lake.steps + 1}")(lake.step(tracer, onOp))

  private def unit(onOp: String => Unit = _ => ()): Unit = o.workload match {
    case "daily_etl" => etlUnit()
    case "analyst_sweep" => sweepUnit()
    case "lake_dml" => lakeUnit(onOp)
  }

  private def opLatencies: Map[String, Seq[Double]] =
    latencies.map { case (k, v) => k -> v.toSeq }.toMap

  // ---- run ------------------------------------------------------------
  def execute(): String = {
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val setups = phase("setup") {
      (1 to (if (o.trace) 1 else SetupReps(o.workload))).map(i => clocked(setup(s"s$i")))
    }
    val setupTimes = setups.map(_._2)
    detail("setup_times_s") = Json.arr(setupTimes.map(Json.num))
    detail("setup_wall_s") = Json.arr(setups.map(t => Json.num(t._1)))
    // warm-up, untimed: the ETL store's first day builds every dimension;
    // the sweep's correctness dump runs every headliner once
    phase("warm_up") {
      o.workload match {
        case "daily_etl" =>
          attempt("etl bootstrap day")(etl.run(etl.nextDay, replay = false, tracer))
          etl.nextDay += 1
        case "analyst_sweep" => verifyDump()
        case "lake_dml" => (1 to LakeWarmUpSteps).foreach(_ => unit())
      }
    }
    pending.clear()
    if (lake != null) lake.resetWriteAccounting()

    val unitTimes = phase("measure")(if (o.trace) traced() else untraced())
    detail("unit_times_s") = Json.arr(unitTimes.map(Json.num))
    if (!o.trace) {
      endToEnd(setupTimes, unitTimes)
      namedMetrics()
    }
    phase("gates")(gates())
    detail("phases_s") = Json.obj(phases.map { case (k, v) => k -> Json.num(v) })
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "named" -> Json.obj(named.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "detail" -> Json.obj(detail)))
  }

  /** Dumps every timed headliner's result for the DuckDB oracle gate
    * (run.py). The queries are deterministic, so a dump made before the
    * timed passes checks what they compute.
    */
  private def verifyDump(): Unit = {
    val dir = s"${o.work}/verify"
    val errors = graft.Verify.run(spark, analystDir, dir, Some(Sweep.Names.toSet))
    attempted += Sweep.Names.size
    failures ++= errors.map { case (k, v) => s"verify $k: $v" }
    detail("verify_dir") = Json.str(dir)
  }

  private def untraced(): Seq[Double] = {
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val times = mutable.ArrayBuffer[(Double, Double)]()
    while (times.size < MinUnits || System.nanoTime() < deadline) {
      val (wall, net) = clocked(unit())
      closeUnit(wall, net)
      times += wall -> net
    }
    detail("unit_wall_s") = Json.arr(times.map(t => Json.num(t._1)))
    times.map(_._2).toSeq
  }

  private def endToEnd(setupTimes: Seq[Double], unitTimes: Seq[Double]): Unit = {
    e2e("setup_s") = Stats.median(setupTimes)
    e2e("unit_p50_s") = Stats.median(unitTimes)
    val byKind = opLatencies.filter(_._2.nonEmpty)
    e2e("op_gmean_s") = Stats.geometricMean(byKind.values.map(Stats.median).toSeq)
    val all = byKind.values.flatten.toSeq
    // the tail the sample supports, with its sample count
    detail("op_tail") = Json.obj(Seq("samples" -> all.size.toString) ++
      Stats.supportedPercentile(all.size).toSeq.flatMap(p => Seq(
        "percentile" -> Json.num(p), "value_s" -> Json.num(Stats.quantile(all, p)))))
    detail("op_medians_s") = Json.obj(byKind.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Json.num(Stats.median(v)) })
  }

  /** The workload's own named metrics: per-kind latencies, sweep totals
    * and the lake's amplification. Printed with the run's result; the
    * gated end-to-end metrics aggregate them.
    */
  private def namedMetrics(): Unit = {
    val lat = opLatencies
    def p50(k: String) = lat.get(k).filter(_.nonEmpty).map(Stats.median).getOrElse(Double.NaN)
    o.workload match {
      case "daily_etl" =>
        named("etl_day_p50_s") = (p50("day"), "s")
        named("etl_replay_p50_s") = (p50("replay"), "s")
      case "analyst_sweep" =>
        val all = lat.values.flatten.toSeq
        named("sweep_s") = (lat.values.map(Stats.median).sum, "s")
        named("query_p50_s") = (Stats.median(all), "s")
        named("query_p90_s") = (Stats.quantile(all, 0.9), "s")
      case "lake_dml" =>
        Seq("append", "delete", "update", "merge").foreach { k =>
          named(s"lake_${k}_p50_s") = (p50(k), "s")
        }
        named("lake_read_p50_s") =
          (Stats.median(Lake.Reads.toSeq.flatMap(lat.getOrElse(_, Nil))), "s")
        val commits = Lake.Commits.toSeq.flatMap(lat.getOrElse(_, Nil))
        named("lake_commit_p90_s") = (Stats.quantile(commits, 0.9), "s")
        named("lake_write_amp") =
          (Stats.amplification(lake.bytesWritten, lake.logicalChanged), "ratio")
        // every step ends with maintenance, so the table is as the final
        // maintenance step left it
        val reachable = lake.reachableBytes
        named("lake_space_amp") =
          (Stats.amplification(reachable, lake.liveLogicalBytes), "ratio")
        detail("lake_bytes") = Json.obj(Seq(
          "reachable" -> reachable.toString,
          "under_root" -> lake.bytesUnderRoot.toString,
          "live_logical" -> lake.liveLogicalBytes.toString))
    }
  }

  // ---- traced run -------------------------------------------------------
  private final class UnitTrace(val tasks: TaskTotals, val plans: PlanTotals,
                                val driverOnlyMs: Long, val fsRead: Long, val fsWritten: Long)

  private def traced(): Seq[Double] = {
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val units = mutable.ArrayBuffer[UnitTrace]()
    val plainTimes, tracedTimes = mutable.ArrayBuffer[Double]()
    val readPlans, dmlPlans = new PlanTotals
    var dmlRowsChanged = 0L
    val etlRunsBefore = if (etl != null) etl.reports.size else 0
    var n = 0
    while (n < MinTracedUnits || System.nanoTime() < deadline) {
      // units alternate untraced, traced, traced, untraced, ... so a trend
      // over the run (the JIT warming up) falls on both sides alike
      val on = n % 4 == 1 || n % 4 == 2
      tracer.setEnabled(on)
      val (r0, w0) = FsCounters()
      val before = tracer.closedSpans.size
      val changedBefore = if (lake != null) lake.rowLevelChanged else 0L
      val plans = new PlanTotals
      val onOp: String => Unit = op => if (on) {
        tracer.drain()
        val qs = tracer.takeQueries().map(PlanWalk.totals)
        qs.foreach(plans.add)
        if (Lake.Reads(op)) qs.foreach(readPlans.add)
        if (Lake.RowLevel(op)) qs.foreach(dmlPlans.add)
      }
      val (wall, s) = clocked(tracer.span(s"unit.${o.workload}")(unit(onOp)))
      closeUnit(wall, s)
      val (r1, w1) = FsCounters()
      if (on) {
        tracer.drain()
        tracedTimes += s
        // the unit's span and every span inside it
        val spans = tracer.closedSpans.drop(before)
        val ids = spans.map(_.id).toSet
        tracer.takeQueries().map(PlanWalk.totals).foreach(plans.add)
        if (lake != null) dmlRowsChanged += lake.rowLevelChanged - changedBefore
        units += new UnitTrace(tracer.tasksUnder(ids), plans,
          Spans.driverOnlyMs(spans, tracer.jobIntervals(ids)), r1 - r0, w1 - w0)
      } else plainTimes += s
      n += 1
    }
    tracer.setEnabled(false)
    val k = units.size.toDouble
    detail("traced_units") = units.size.toString
    layer("trace.overhead_ratio") = Stats.median(tracedTimes.toSeq) / Stats.median(plainTimes.toSeq)

    // jobs: self time of each task's span, per pipeline run
    val spans = tracer.closedSpans
    val self = Spans.selfSeconds(spans)
    val runs = spans.count(_.name == "jobs.extract").max(1).toDouble
    Seq("extract", "dim_airports", "dim_dates", "dim_aircrafts", "fct_flights").foreach { j =>
      layer(s"jobs.${j}_s") = spans.filter(_.name == s"jobs.$j").map(s => self(s.id)).sum / runs
    }
    val newDays = if (etl == null) Nil
      else etl.reportsOf.drop(etlRunsBefore).filterNot(_._2).map(_._3)
    layer("jobs.rows_extracted") = newDays.map(_.extractedRows).sum.toDouble / newDays.size.max(1)
    layer("jobs.fact_rows") = newDays.map(_.factRows).sum.toDouble / newDays.size.max(1)
    layer("jobs.dim_rebuild_useful_ratio") =
      if (etl == null) 0.0 else etl.dimRewrites.toDouble / etl.dimRebuilds.max(1)

    // queries: building the DataFrame, and the jobs that launches eagerly
    val builds = spans.filter(_.name == "queries.build")
    layer("queries.build_s") = builds.map(s => self(s.id)).sum / k
    layer("queries.build_jobs") = tracer.tasksUnder(builds.map(_.id).toSet).jobs / k

    // plans: planner phases and graft's optimizer rules
    val plans = new PlanTotals
    units.foreach(u => plans.add(u.plans))
    layer("plans.analysis_s") = plans.analysisMs / 1e3 / k
    layer("plans.optimization_s") = plans.optimizationMs / 1e3 / k
    layer("plans.planning_s") = plans.planningMs / 1e3 / k
    layer("plans.graft_rules_s") = plans.graftRulesNs / 1e9 / k

    // exec: what the executor ran for the traced units
    val t = new TaskTotals
    units.foreach(u => t.add(u.tasks))
    layer("exec.jobs") = t.jobs / k
    layer("exec.stages") = t.stages / k
    layer("exec.tasks") = t.tasks / k
    layer("exec.run_s") = t.runMs / 1e3 / k
    layer("exec.cpu_s") = t.cpuNs / 1e9 / k
    layer("exec.gc_s") = t.gcMs / 1e3 / k
    layer("exec.task_overhead_s") = t.overheadMs / 1e3 / k
    layer("exec.driver_only_s") = units.map(_.driverOnlyMs).sum / 1e3 / k
    layer("exec.scan_mb") = t.scanBytes / 1e6 / k
    layer("exec.scan_rows") = t.scanRows / k
    layer("exec.shuffle_write_mb") = t.shuffleWrite / 1e6 / k
    layer("exec.shuffle_read_mb") = t.shuffleRead / 1e6 / k
    layer("exec.fetch_wait_s") = t.fetchWaitMs / 1e3 / k
    layer("exec.spill_mb") = t.spillBytes / 1e6 / k
    layer("exec.peak_mem_mb") = t.peakMem / 1e6
    layer("exec.output_rows") = plans.outputRows / k

    // sources: file skipping on lake reads, rewrites on lake DML and the
    // table's footprint as the last maintenance step left it
    layer("sources.files_scanned") = readPlans.filesScanned / k
    layer("sources.files_skipped") = readPlans.filesSkipped / k
    val seen = readPlans.filesScanned + readPlans.filesSkipped
    layer("sources.skip_ratio") = if (seen == 0) 0.0 else readPlans.filesSkipped.toDouble / seen
    layer("sources.rows_rewritten_per_change") =
      if (dmlRowsChanged == 0) 0.0 else dmlPlans.outputRows.toDouble / dmlRowsChanged
    val lakeOn = lake != null
    layer("sources.files_live") = if (lakeOn) lake.liveFiles.toDouble else 0.0
    layer("sources.versions") = if (lakeOn) lake.versions.toDouble else 0.0
    layer("sources.bytes_on_disk_mb") = if (lakeOn) lake.reachableBytes / 1e6 else 0.0

    // fs: local filesystem bytes
    layer("fs.read_mb") = units.map(_.fsRead).sum / 1e6 / k
    layer("fs.written_mb") = units.map(_.fsWritten).sum / 1e6 / k
    (plainTimes ++ tracedTimes).toSeq
  }

  // ---- gates --------------------------------------------------------------
  /** In-process gates and run facts; run.py adds the DuckDB gates. */
  private def gates(): Unit = {
    if (etl != null) {
      detail("etl_reports") = Json.arr(etl.reports)
      detail("etl_fact_dir") = Json.str(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"${etl.database}.db/fct_flights").getPath)
    }
    if (lake != null) {
      attempt("lake final table")(lake.verifyTable())
      failures ++= lake.mismatches.map("lake model mismatch: " + _)
      detail("lake_checks") = lake.checks.toString
    }
    if (o.workload == "analyst_sweep") {
      detail("plan_fingerprints") = Json.obj(lastFrame.map { case (k, df) =>
        k -> Json.str(Sweep.planFingerprint(df)) })
    }
    detail("spark_version") = Json.str(spark.version)
    detail("jvm") = Json.str(System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    detail("master") = Json.str(spark.sparkContext.master)
  }
}

/** CPU time of this process, and CPU time the hypervisor gave to other
  * machines while this one's CPUs had work: the `steal` column of
  * /proc/stat, in clock ticks of 1/100 s, over all CPUs; 0 where the file
  * does not exist.
  */
object CpuClock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processSeconds: Double = os.getProcessCpuTime / 1e9

  def stealSeconds: Double = {
    val stat = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(stat)) 0.0
    else {
      val cpu = java.nio.file.Files.readAllLines(stat).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100 else 0.0
    }
  }
}

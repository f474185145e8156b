package graft

import graft.queries.Q
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what a query's Spark jobs did: jobs, completed stages and
  * tasks, executor CPU and GC seconds, shuffle-read bytes, spill bytes,
  * peak task memory, classes compiled by Spark's code generator, and
  * one line per job (id, seconds, tasks, call site). Shuffle volume is
  * what scales to 100 TB (wall time at sf0.1
  * mostly measures fixed overheads), spill marks a partition-sizing
  * failure (the sf10 "superlinear" slopes were partition spill at the
  * 4-partition default, established only by a manual rerun while the
  * artifact recorded no spill), peak task memory is the executor-sizing
  * input, and CPU beside wall time tells compute from waiting. A job
  * line's call site is its SQL execution's (the action that ran it,
  * also for the stages adaptive execution submits from its own
  * threads), else its last stage's name, so a multi-job query
  * decomposes phase by phase without the Spark UI.
  *
  * Events arrive on the listener bus thread; [[reset]] and [[counts]]
  * bracket one query on the caller's, after [[Bench.drainListenerBus]].
  * The compile count is no listener event: it is the change, between
  * the two calls, of [[JobTally.codegenCompiles]], so it counts every
  * compile in the JVM and needs one query at a time.
  */
private[graft] final class JobTally extends SparkListener {
  import JobTally.Counts
  private var c = Counts()
  private val jobs = scala.collection.mutable.Map[Int, (Long, String)]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private val jobTasks = scala.collection.mutable.Map[Int, Int]()
  private val execSites = scala.collection.mutable.Map[Long, String]()
  private var compiles0 = JobTally.codegenCompiles

  def reset(): Unit = synchronized {
    c = Counts(); jobs.clear(); stageJob.clear(); jobTasks.clear()
    execSites.clear()
    compiles0 = JobTally.codegenCompiles
  }

  def counts: Counts =
    synchronized(c.copy(codegenCompiles = JobTally.codegenCompiles - compiles0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => execSites.get(id.toLong))
      .orElse(e.stageInfos.lastOption.map(_.name))
    jobs(e.jobId) = (e.time, site.getOrElse("?"))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (t0, site) =>
      val tasks = jobTasks.getOrElse(e.jobId, 0)
      c = c.copy(jobLines = c.jobLines :+
        f"[job ${e.jobId}%3d] ${(e.time - t0) / 1e3}%6.3f s tasks=$tasks%3d  $site")
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.description }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach(j =>
      jobTasks(j) = jobTasks.getOrElse(j, 0) + 1)
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
      else c.copy(tasks = c.tasks + 1,
        cpuNanos = c.cpuNanos + m.executorCpuTime,
        gcMillis = c.gcMillis + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spilled = c.spilled + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakMem = math.max(c.peakMem, m.peakExecutionMemory))
  }
}

private[graft] object JobTally {
  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                          cpuNanos: Long = 0L, gcMillis: Long = 0L,
                          shuffleRead: Long = 0L, spilled: Long = 0L,
                          peakMem: Long = 0L, codegenCompiles: Long = 0L,
                          jobLines: Vector[String] = Vector.empty)

  /** Classes Spark's code generator has compiled in this JVM: one sample
    * of its compile-time histogram per miss of its compiled-class cache.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** The bench artifact's self-adjudication tier, factored out so the
  * decision is unit-testable against synthetic load traces. The r15
  * lesson: the driver's sweep reported `status: ok / ambient_ok: true`
  * off the PRE-sweep sample (0.85) while its own `load_per_rep`
  * recorded 3.7–7.4 mid-sweep — the artifact self-described the
  * pollution but the status field contradicted it. The tier therefore
  * also reads the per-rep loads: their MEDIAN minus the bench's own
  * steady-state contribution is the mid-sweep ambient estimate, held
  * to the same 1.5 threshold as the before-sample.
  */
private[graft] object BenchStatus {
  /** The bench's own steady-state contribution to the 1-minute
    * loadavg, calibrated from clean solo sweeps (bench_r15_builder:
    * ambient 0.89 before, per-rep median 2.12, max 2.39 — the sweep
    * itself sustains ≈1.2–2.4 of load at sf0.1; 2.5 is the
    * conservative ceiling so only load clearly NOT ours flips the
    * tier). Larger sfs sustain more self-load (sf1 clean median 3.55),
    * which this constant absorbs by staying below their clean medians
    * plus threshold.
    */
  final val SelfLoad = 2.5
  final val AmbientThreshold = 1.5

  private def r2(v: Double): Double = math.round(v * 100) / 100.0

  def medianRepLoad(perRepLoads: Seq[Double]): Double =
    if (perRepLoads.isEmpty) 0.0
    else perRepLoads.sorted.apply(perRepLoads.size / 2)

  def ambientOk(loadBefore: Double, perRepLoads: Seq[Double]): Boolean =
    loadBefore <= AmbientThreshold &&
      medianRepLoad(perRepLoads) - SelfLoad <= AmbientThreshold

  /** PER-QUERY ambient verdict (the r16 adjudication gap: a sweep's
    * MEDIAN rep load was clean while individual tail queries ran at
    * load 5.6–6.0, and the artifact said "ok" — only a sibling sweep
    * could adjudicate them). A query is ambient-clean when its WORST
    * rep load stays within the threshold of the sweep's OWN baseline —
    * the larger of the calibrated self-load constant and the sweep's
    * median rep load. Self-calibrating across scale factors: an sf1
    * sweep sustains ~3.5–4.0 of its own load, which a fixed 2.5
    * constant would mass-flag, while its median absorbs it; a sweep
    * polluted THROUGHOUT has a high median and flags nothing here, but
    * the sweep-level tier (median − SelfLoad) catches exactly that
    * case — the two verdicts compose.
    */
  def queryAmbientOk(repLoads: Seq[Double],
                     sweepMedianLoad: Double = 0.0): Boolean =
    repLoads.isEmpty ||
      repLoads.max - math.max(SelfLoad, sweepMedianLoad) <= AmbientThreshold

  /** The aggregate `cpu` line of /proc/stat; empty where the file does
    * not exist.
    */
  def procStatCpu(): String = {
    val stat = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(stat)) ""
    else java.nio.file.Files.readAllLines(stat).get(0)
  }

  /** The host's CPU steal share between two `cpu` lines of /proc/stat:
    * the ticks the hypervisor gave to other machines while this one's
    * CPUs had work, over all ticks (user, nice, system, idle, iowait,
    * irq, softirq, steal; guest time is already inside user). 0 when
    * either line is missing or no tick passed.
    */
  def stealShare(before: String, after: String): Double = {
    def ticks(line: String): Array[Long] = {
      val f = line.trim.split("\\s+")
      if (f.headOption.contains("cpu") && f.length > 8) f.slice(1, 9).map(_.toLong)
      else Array.empty
    }
    val (b, a) = (ticks(before), ticks(after))
    if (b.isEmpty || a.isEmpty) 0.0
    else {
      val total = a.sum - b.sum
      if (total <= 0) 0.0 else (a(7) - b(7)).toDouble / total
    }
  }

  /** The status string (unquoted). */
  def tier(invalid: Boolean, nFailed: Int, loadBefore: Double,
           perRepLoads: Seq[Double]): String = {
    val medRep = medianRepLoad(perRepLoads)
    if (invalid) "INVALID: load_avg>2"
    else if (nFailed > 0) s"FAILED: $nFailed queries"
    else if (loadBefore > AmbientThreshold)
      s"degraded: ambient load ${r2(loadBefore)}"
    else if (medRep - SelfLoad > AmbientThreshold)
      s"degraded: mid-sweep load ${r2(medRep)} " +
        s"(~${r2(medRep - SelfLoad)} ambient over self-load)"
    else "ok"
  }
}

object Bench {
  /** Times each headline query on SPARK_GRAFT_SF_DIR (default sf0.1) and
    * prints ONE JSON line {"metric","value","unit","queries","sf"}.
    * An untimed warm-up pass over EVERY query absorbs one-off JVM/codegen
    * cost so the numbers reflect steady-state execution.
    */

  /** Materialize the complete result through a noop sink. `.count()`
    * would let Catalyst drop the final orderBy/projection, undertiming
    * the query the oracle actually checks; the noop writer consumes every
    * row of the exact plan at zero sink cost. Returns the seconds
    * `q.run` took (build_s: plan construction plus any job it runs
    * eagerly).
    */
  private def exec(q: Q, spark: org.apache.spark.sql.SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    val df = q.run(spark, sfDir)
    val built = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    built
  }

  /** Milliseconds precision; a negative time is the -1.0 failure
    * sentinel. Double.toString is locale-independent ('.' always),
    * unlike f"%.3f".
    */
  private def ms(v: Double): Double = if (v < 0) -1.0 else math.round(v * 1000) / 1e3

  /** One headliner's `query_counts` entry: the cold pass's jobs, stages,
    * tasks, executor CPU and GC seconds, wall seconds (`cold_s`, -1.0
    * when it failed) and compiled classes (`codegen_compiles`), the
    * classes the timed reps compiled (`codegen_compiles_timed`), and the
    * timed reps' median build_s.
    */
  private[graft] def queryCountsEntry(c: JobTally.Counts, coldS: Double,
                                      compilesTimed: Long,
                                      builds: Seq[Double]): String = {
    val b = builds.sorted
    "{\"jobs\":" + c.jobs + ",\"stages\":" + c.stages +
      ",\"tasks\":" + c.tasks + ",\"executor_cpu_s\":" + ms(c.cpuNanos / 1e9) +
      ",\"gc_s\":" + ms(c.gcMillis / 1e3) + ",\"cold_s\":" + ms(coldS) +
      ",\"codegen_compiles\":" + c.codegenCompiles +
      ",\"codegen_compiles_timed\":" + compilesTimed +
      ",\"build_s\":" + (if (b.isEmpty) -1.0 else ms(b(b.size / 2))) + "}"
  }

  private def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Block until the async listener bus has delivered every queued event
    * (shuffle-byte attribution between sequential queries). The method is
    * private[spark], so it is reached reflectively; a bounded sleep is
    * the fallback if the internals ever move.
    */
  private[graft] def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(100) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Ambient-load gate, measured BEFORE any Spark work: twice (r5, r6)
    // a recorded bench was invalidated by co-running load that the
    // end-of-run sentinel could only report after the fact. Sample the
    // 1-minute load while the machine should be idle; if it is loud,
    // sleep once (a just-exited sbt/test JVM decays out of the 1-min
    // average) and re-sample. Still loud ⇒ the run executes anyway but
    // the JSON line carries a loud INVALID marker — the artifact
    // labels itself instead of needing a judge re-run to interpret.
    var loadBefore = loadAvg()
    if (loadBefore > 2.0) {
      System.err.println(
        f"[bench] ambient load $loadBefore%.2f > 2 before start; sleeping 60s and re-sampling")
      Thread.sleep(60000)
      loadBefore = loadAvg()
    }
    val invalid = loadBefore > 2.0
    if (invalid)
      System.err.println(
        f"[bench] INVALID: load_avg $loadBefore%.2f > 2 at start — numbers are ambient-load noise")
    // session sized to the DATA: shuffle partitions scale with the sf
    // dir's bytes (spill prevention at sf1/sf10), AQE coalesces them
    // back down at small sfs — see GraftSession.localForData
    val spark = GraftSession.localForData(sfDir)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b — subset filter for local diagnosis
    // runs; the driver never sets it, so recorded rounds are unaffected
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val headline = SparkEntry.registry.filter(_.headline)
      .filter(q => only.forall(_.contains(q.name)))
    // untimed warm-up pass, doubling as the execution measurement:
    // metering the FIRST (cold) execution is what captures the
    // exchanges that build cached relations — a warmed re-run would
    // read those from cache and report ~0 for exactly the
    // shuffle-heaviest queries. Sequential execution attributes the
    // counts to the right query once the listener bus is drained. Its
    // wall time is kept as cold_s: a query that persists relations runs
    // its timed reps warm, so the medians alone hide the first run's
    // cost. A diagnostic run (SPARK_GRAFT_BENCH_ONLY) keeps the listener
    // for the timed reps and prints their job lines; a full sweep
    // removes it first.
    val tally = new JobTally
    spark.sparkContext.addSparkListener(tally)
    val coldMetrics = headline.map { q =>
      tally.reset()
      val t0 = System.nanoTime()
      val coldS =
        try { exec(q, spark, sfDir); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      drainListenerBus(spark.sparkContext)
      spark.catalog.clearCache() // see timed-loop comment
      q.name -> (tally.counts, coldS)
    }.toMap
    if (only.isEmpty) spark.sparkContext.removeSparkListener(tally)
    // n timed runs per query, report the MEDIAN: single-shot numbers have
    // twice been re-adjudicated as ambient-load noise (a one-off GC or a
    // background process lands entirely in one sample; the median of 3
    // discards it). A crashing query records the -1.0 sentinel, never its
    // time-to-failure — failures must be visible in the JSON line.
    // SPARK_GRAFT_BENCH_REPS widens the sample for solo adjudication runs
    // (bimodality diagnosis needs more than 3 draws); the driver never
    // sets it, so recorded rounds stay at 3.
    // guarded parse: a malformed value must not crash a full sweep after
    // session startup — warn and fall back to the recorded-round default
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap { v =>
        val p = scala.util.Try(v.toInt).toOption.filter(_ > 0)
        if (p.isEmpty) System.err.println(
          s"[bench] ignoring malformed SPARK_GRAFT_BENCH_REPS='$v'; using 3")
        p
      }.getOrElse(3)
    // per-rep ambient sample: a single polluted rep (background process,
    // another build) shows up as ONE load spike next to ONE slow time —
    // adjudicable from the artifact alone, instead of cross-referencing
    // a same-HEAD builder sweep (the r14 q_tpch_q5 episode: reps
    // 4.7–6.7 s under load 0.90→4.33, builder 0.85 s)
    // — and the host's CPU steal share over each rep, read from
    // /proc/stat as perfbench does: loadavg does not see a neighbour
    // machine taking this one's CPUs
    val repLoads = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val repSteal = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val buildTimes = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val timedCompiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val repTimes = headline.map { q =>
      val loads = scala.collection.mutable.ArrayBuffer[Double]()
      val steal = scala.collection.mutable.ArrayBuffer[Double]()
      val builds = scala.collection.mutable.ArrayBuffer[Double]()
      var compiles = 0L
      val times = (1 to reps).map { rep =>
        loads += loadAvg()
        val stat0 = BenchStatus.procStatCpu()
        tally.reset()
        val t0 = System.nanoTime()
        val rt =
          try { builds += exec(q, spark, sfDir); (System.nanoTime() - t0) / 1e9 }
          catch { case t: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${t.getMessage}")
            -1.0
          }
        steal += BenchStatus.stealShare(stat0, BenchStatus.procStatCpu())
        compiles += tally.counts.codegenCompiles
        if (only.isDefined) {
          drainListenerBus(spark.sparkContext)
          if (rt >= 0) System.err.println(f"[bench] ${q.name} rep $rep: " +
            f"build_s ${builds.last}%.3f exec_s ${rt - builds.last}%.3f")
          tally.counts.jobLines.foreach(l => System.err.println("    " + l))
        }
        rt
      }
      buildTimes(q.name) = builds.toSeq
      repLoads(q.name) = loads.toSeq
      repSteal(q.name) = steal.toSeq
      timedCompiles(q.name) = compiles
      // Drop this query's cached relations BEFORE the next query runs.
      // cachedOnce registers entries in the session CacheManager, whose
      // per-persist canonicalized-plan lookup is linear in LIVE entries
      // — across a bench sweep the entries accumulate with every query,
      // so later-registered queries pay a lookup tax that GROWS as the
      // registry grows (q_dedup_clusters drifted 0.94→1.40→1.65 s over
      // three rounds with identical shuffle bytes and rounds — that
      // drift, not the operator). Clearing BETWEEN queries keeps
      // intra-query reuse across reps (each rep re-persists cheaply)
      // while making per-query numbers independent of registry size.
      spark.catalog.clearCache()
      q.name -> times
    }
    // ms precision everywhere below: full-precision doubles made the
    // final line > the driver's 2000-char tail window — ten straight
    // rounds of parsed:null and 4 truncated wall times.
    val results = repTimes.map { case (k, times) =>
      val ok = times.filter(_ >= 0).sorted
      k -> (if (ok.isEmpty) -1.0 else ok(ok.size / 2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // total sums the ROUNDED medians (then re-rounds to kill binary
    // residue of the decimal ms values) so the summary line is
    // internally consistent: a tool adding up the printed per-query
    // numbers reproduces the printed total exactly
    val total = ms(results.map(r => ms(r._2)).filter(_ >= 0).sum)
    // OUTPUT-BOUND headliners measured separately: q_interval_overlap's
    // exact form is deliberately kept as a timed headliner (its cost IS
    // its ×100 output growth, and the capped scale rendition runs
    // alongside), but at sf1 it is ~40% of the sweep total — a core
    // regression elsewhere hides inside its output-size noise unless
    // the artifact also reports the total without it
    val outputBound = Set("q_interval_overlap")
    val totalCore = ms(results.filterNot(r => outputBound(r._1))
      .map(r => ms(r._2)).filter(_ >= 0).sum)
    // end-of-run load is kept for continuity but is dominated by this
    // bench's own 32-thread work; load_avg_before is the ambient signal
    // and load_ok the verdict
    val load = loadAvg()
    // convergence observability for the one iterative operator
    val ccRounds = graft.dedup.Dedup.lastClusterRounds
    // locale-independent 2-dp rendering (an f"%.2f" would emit comma
    // decimals — malformed JSON — under a comma-decimal default locale)
    def mbMap(get: JobTally.Counts => Long): String = results.map { case (k, _) =>
      "\"" + k + "\":" + coldMetrics.get(k)
        .map(c => math.round(get(c._1) / 1e4) / 100.0).getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val sh = mbMap(_.shuffleRead)
    val sp = mbMap(_.spilled)
    val pm = mbMap(_.peakMem)
    val countsJson = results.map { case (k, _) =>
      val (c, coldS) = coldMetrics.getOrElse(k, (JobTally.Counts(), -1.0))
      "\"" + k + "\":" + queryCountsEntry(c, coldS, timedCompiles.getOrElse(k, 0L),
        buildTimes.getOrElse(k, Seq.empty))
    }.mkString("{", ",", "}")
    // a run with ANY -1.0 sentinel must not read as "ok": automation
    // keying on status treated r8's 4 broken queries as a clean bench
    val nFailed = results.count(_._2 < 0)
    // three ambient tiers so the summary line adjudicates itself (r12:
    // the driver's official sweep ran under load 0.95→7.31 and its
    // total read as a regression until the per-rep detail was mined):
    // >2 at start = INVALID (numbers are noise), >1.5 = degraded
    // (directionally usable, not comparable round-over-round), else ok
    // — and since r16 the tier also reads the PER-REP loads, so a
    // sweep that started clean but ran polluted (the r15 driver sweep)
    // labels itself degraded instead of ok (see BenchStatus).
    val allRepLoads = repLoads.values.flatten.toSeq
    val ambientOk = BenchStatus.ambientOk(loadBefore, allRepLoads)
    // per-query verdicts: the summary line carries only the FLAGGED
    // names (usually none — 52 `true`s would blow the 2000-char tail
    // window); the durable artifact carries the full map
    val sweepMedianLoad = BenchStatus.medianRepLoad(allRepLoads)
    val ambientFlagged = repLoads.collect {
      case (k, loads)
        if !BenchStatus.queryAmbientOk(loads, sweepMedianLoad) => k
    }.toSeq
    val flaggedJson = ambientFlagged.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val ambientPerQueryJson = repLoads.map { case (k, loads) =>
      "\"" + k + "\":" + BenchStatus.queryAmbientOk(loads, sweepMedianLoad)
    }.mkString("{", ",", "}")
    val status =
      "\"" + BenchStatus.tier(invalid, nFailed, loadBefore, allRepLoads) + "\""
    // Three lines, bulky detail FIRST: the driver records only the last
    // ~2000 chars of stdout, so per-rep times and shuffle bytes go on
    // their own earlier lines (no length budget; these are what make
    // ambient-load vs regression adjudicable from the artifact alone)
    // and the LAST line is a compact summary — total/status first,
    // per-query medians at ms precision — that fits the tail window
    // whole. Detail lines deliberately avoid the "metric" key so tools
    // grepping for the summary line can't match them.
    val repsJson = repTimes.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(ms).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // loadavg sampled at the START of each rep, aligned with
    // rep_times_sec — round to 2 dp, locale-independent
    val loadsJson = repTimes.map { case (k, _) =>
      "\"" + k + "\":" + repLoads.getOrElse(k, Seq.empty)
        .map(l => math.round(l * 100) / 100.0).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // steal share of each rep, aligned with rep_times_sec, 3 dp
    val stealJson = repTimes.map { case (k, _) =>
      "\"" + k + "\":" + repSteal.getOrElse(k, Seq.empty)
        .map(v => math.round(v * 1000) / 1000.0).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // origin marks WHO launched the run (r12: a builder artifact and the
    // driver's run collided on one filename — "which run is this?" was
    // forensic). Builder-initiated runs export SPARK_GRAFT_BENCH_ORIGIN=
    // builder and land on a _builder-suffixed artifact; the driver sets
    // nothing and keeps the canonical name.
    val origin = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORIGIN", "driver")
    println(s"""{"detail":"rep_times_sec","reps":$reps,"times":$repsJson,"steal_share":$stealJson}""")
    println(s"""{"detail":"load_per_rep","loads":$loadsJson}""")
    println(s"""{"detail":"shuffle_read_mb","queries":$sh,"load_avg_before":$loadBefore,"load_avg":$load}""")
    println(s"""{"detail":"spill_mb","queries":$sp}""")
    println(s"""{"detail":"peak_task_mem_mb","queries":$pm}""")
    println(s"""{"detail":"query_counts","queries":$countsJson}""")
    println(s"""{"total":$total,"status":$status,"ambient_ok":$ambientOk,"ambient_flagged":$flaggedJson,"origin":"$origin","total_core":$totalCore,"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"cc_rounds":$ccRounds}""")
    // Durable artifact: the driver records only the last ~2000 chars of
    // stdout, so the per-rep times and shuffle bytes that make
    // ambient-load vs regression adjudicable have been lost every round
    // (BENCH_r*.json: parsed null, detail lines outside the window).
    // Write the COMPLETE bench JSON — per-rep times, shuffle MB, loads,
    // medians — to bench_out/, committed alongside the round. Full
    // default runs land at bench_r<N>.json (N inferred from the recorded
    // BENCH_r*.json artifacts in cwd: this run feeds round max+1);
    // diagnostic runs (subset filter or custom reps) go to
    // bench_latest.json so they can never clobber a round artifact.
    val full =
      s"""{"total":$total,"total_core":$totalCore,"status":$status,"ambient_ok":$ambientOk,
         |"ambient_flagged":$flaggedJson,
         |"ambient_ok_per_query":$ambientPerQueryJson,
         |"origin":"$origin","sf":"$sfDir","reps":$reps,
         |"load_avg_before":$loadBefore,"load_avg_after":$load,
         |"cc_rounds":$ccRounds,
         |"medians_sec":$qs,
         |"rep_times_sec":$repsJson,
         |"load_per_rep":$loadsJson,
         |"steal_share_per_rep":$stealJson,
         |"shuffle_read_mb":$sh,
         |"spill_mb":$sp,
         |"peak_task_mem_mb":$pm,
         |"query_counts":$countsJson,
         |"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")}}""".stripMargin
    val diagnostic = only.isDefined || reps != 3
    // Round inference: max over the recorded BENCH_r*.json (driver-
    // written, repo root) AND our own bench_out/bench_r*.json — a run
    // launched from a different cwd used to see neither and silently
    // clobber bench_r1.json. Resolve both against the repo root when
    // the cwd isn't it (bench_out's presence marks the root).
    def roundsIn(dir: java.io.File, re: scala.util.matching.Regex): Seq[Int] =
      Option(dir.listFiles()).toSeq.flatten
        .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
    val repoRoot =
      if (new java.io.File("BENCH_r1.json").exists() ||
          new java.io.File("bench_out").isDirectory) new java.io.File(".")
      else new java.io.File("/root/repo")
    val round = (roundsIn(repoRoot, "^BENCH_r(\\d+)\\.json$".r) ++
      roundsIn(new java.io.File(repoRoot, "bench_out"),
        "^bench_r(\\d+)\\w*\\.json$".r).map(_ - 1)).foldLeft(0)(math.max) + 1
    val base =
      if (diagnostic) "bench_latest.json"
      else if (origin == "driver") s"bench_r$round.json"
      else s"bench_r${round}_$origin.json"
    // never silently overwrite a round artifact: a re-run within the
    // same round lands on the first free _N-suffixed sibling
    val benchDir = new java.io.File(repoRoot, "bench_out")
    val outPath = {
      val first = new java.io.File(benchDir, base)
      if (diagnostic || !first.exists()) first.toPath
      else Iterator.from(2)
        .map(i => new java.io.File(benchDir,
          base.stripSuffix(".json") + s"_$i.json"))
        .find(!_.exists()).get.toPath
    }
    try {
      java.nio.file.Files.createDirectories(outPath.getParent)
      java.nio.file.Files.write(outPath,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch { case t: Throwable =>
      System.err.println(s"[bench] artifact write failed (stdout is complete): $t")
    }
    spark.stop()
  }
}

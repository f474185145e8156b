package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `name` is `<layer>.<call>`. */
final case class Span(id: Int, name: String, parent: Option[Int],
                      startNs: Long, endNs: Long,
                      startMs: Long = 0L, endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Spans {
  /** Self time of every span: its duration minus the durations of its
    * direct children, so time is counted once, in the innermost layer
    * that spent it.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).collect {
      case (Some(p), kids) => p -> kids.map(_.seconds).sum
    }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Time inside `[start, end]` (ms) that no interval covers. */
  def uncoveredMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start) - covered
  }

  /** The one span of `spans` whose parent is not among them: the call
    * that opened all the others.
    */
  def root(spans: Seq[Span]): Span = {
    val ids = spans.map(_.id).toSet
    spans.filterNot(_.parent.exists(ids)) match {
      case Seq(r) => r
      case rs => throw new IllegalArgumentException(s"${rs.size} roots among ${spans.size} spans")
    }
  }

  /** Driver-only time of a tree of spans: the time inside its root's
    * window (ms) in which none of `jobs` runs.
    */
  def driverOnlyMs(spans: Seq[Span], jobs: Seq[(Long, Long)]): Long = {
    val r = root(spans)
    uncoveredMs(r.startMs, r.endMs, jobs)
  }
}

/** Nesting of spans on one thread. A span's id is given when it opens,
  * so ids follow the order of opening and an outer span has a lower id
  * than every span inside it.
  */
final class SpanStack(nanos: () => Long = () => System.nanoTime(),
                      millis: () => Long = () => System.currentTimeMillis()) {
  private val closed = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, Long, Long)] = Nil

  /** Opens a span inside the innermost open one; returns its id. */
  def push(): Int = {
    val id = closed.size + open.size
    open = (id, nanos(), millis()) :: open
    id
  }

  /** Closes the innermost open span under `name`. */
  def pop(name: String): Unit = {
    val (id, startNs, startMs) = open.head
    open = open.tail
    closed += Span(id, name, open.headOption.map(_._1), startNs, nanos(), startMs, millis())
  }

  /** Closed spans so far, in order of their ids. */
  def spans: Seq[Span] = closed.sortBy(_.id).toSeq
}

/** Executor-side totals of the tasks attributed to one span. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, overheadMs = 0L
  var scanBytes, scanRows, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillBytes, peakMem = 0L

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    overheadMs += o.overheadMs; scanBytes += o.scanBytes
    scanRows += o.scanRows; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** What the planner and the executed plans report for one traced op. */
final class PlanTotals {
  var analysisMs, optimizationMs, planningMs = 0L
  var graftRulesNs = 0L
  var outputRows = 0L
  var filesScanned, filesSkipped = 0L

  def add(o: PlanTotals): Unit = {
    analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    graftRulesNs += o.graftRulesNs; outputRows += o.outputRows
    filesScanned += o.filesScanned; filesSkipped += o.filesSkipped
  }
}

object PlanWalk {
  /** Every node of an executed plan, including the plans AQE stages,
    * command results and subqueries hold outside `children`.
    */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    val queue = mutable.Queue[SparkPlan](root)
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => queue += a.executedPlan
        case s: QueryStageExec => queue += s.plan
        case c: CommandResultExec => queue += c.commandPhysicalPlan
        case _ => queue ++= p.children
      }
      queue ++= p.subqueries
    }
    out.toSeq
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def totals(qe: QueryExecution): PlanTotals = {
    val t = new PlanTotals
    val phases = qe.tracker.phases
    def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
    t.analysisMs = ms("analysis")
    t.optimizationMs = ms("optimization")
    t.planningMs = ms("planning")
    t.graftRulesNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.plans.") => s.totalTimeNs
    }.sum
    val all = nodes(qe.executedPlan)
    // rows out: the top-most operator that counts its output rows
    t.outputRows = all.find(_.metrics.contains("numOutputRows"))
      .map(metric(_, "numOutputRows")).getOrElse(0L)
    all.filter(_.metrics.contains("filesScanned")).foreach { p =>
      t.filesScanned += metric(p, "filesScanned")
      t.filesSkipped += metric(p, "filesSkippedStats") +
        metric(p, "filesSkippedBloom") + metric(p, "filesSkippedRuntime")
    }
    t
  }
}

/** Records spans around calls into the program's layers and attributes
  * Spark jobs, tasks and query executions to them. Jobs are tagged with
  * the innermost open span through a local property, so a task's
  * metrics land on the span that launched its job.
  *
  * Disabled, `span` is a plain call: no property is set, no listener is
  * installed and nothing is recorded.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer.SpanProperty

  private val sc = spark.sparkContext
  private val stack = new SpanStack
  private var enabled = false

  // listener-side state (written on the listener bus thread)
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]()
  private val queries = new ConcurrentLinkedQueue[QueryExecution]()

  /** Installs the listeners while on and removes them while off, so
    * untraced calls pay nothing for tracing.
    */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      sc.addSparkListener(this)
      spark.listenerManager.register(this)
    } else {
      drain()
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    enabled = on
  }

  def isEnabled: Boolean = enabled

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, stack.push().toString)
      try f
      finally {
        stack.pop(name)
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Closed spans so far, in order of their ids. */
  def closedSpans: Seq[Span] = stack.spans

  /** Block until the listener bus has delivered every queued event, so
    * the totals of a finished op are complete. The method is private to
    * Spark and is reached reflectively.
    */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Task totals of span `id` and all its descendants. */
  def tasksUnder(ids: Set[Int]): TaskTotals = {
    val t = new TaskTotals
    ids.foreach(i => Option(bySpan.get(i)).foreach(t.add))
    t
  }

  /** Wall-clock intervals (epoch ms) of the jobs launched by `ids`. */
  def jobIntervals(ids: Set[Int]): Seq[(Long, Long)] =
    jobSpan.asScala.collect { case (job, s) if ids(s) => job }
      .flatMap(j => Option(jobTimes.get(j))).filter(_._2 > 0).toSeq

  /** Query executions finished since the last call. */
  def takeQueries(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer[QueryExecution]()
    var q = queries.poll()
    while (q != null) { out += q; q = queries.poll() }
    out.toSeq
  }

  private def totalsOf(span: Int): TaskTotals =
    bySpan.computeIfAbsent(span, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .foreach { s =>
        val span = s.toInt
        jobSpan.put(e.jobId, span)
        jobTimes.put(e.jobId, (e.time, 0L))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        totalsOf(span).synchronized { totalsOf(span).jobs += 1 }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTimes.get(e.jobId)).foreach { case (start, _) =>
      jobTimes.put(e.jobId, (start, e.time))
    }

  private def spanOfStage(stage: Int): Option[Int] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobSpan.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    spanOfStage(e.stageInfo.stageId).foreach { s =>
      val t = totalsOf(s)
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) spanOfStage(e.stageId).foreach { s =>
      val t = totalsOf(s)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        t.scanBytes += m.inputMetrics.bytesRead
        t.scanRows += m.inputMetrics.recordsRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) queries.add(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (enabled) queries.add(qe)
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Cumulative `file` scheme byte counters of Hadoop's FileSystem
  * statistics: every read and write the engine makes through the local
  * filesystem, driver and (in local mode) executors alike.
  */
object FsCounters {
  def apply(): (Long, Long) = {
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}

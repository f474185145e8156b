package graft

import org.apache.spark.sql.functions.{col, sum}

/** The bench's one job listener, under a query that shuffles: it counts
  * the query's jobs, completed stages and tasks, executor CPU and
  * shuffle-read bytes, and writes one line per job naming its call site.
  */
class JobTallySpec extends SparkSpec {

  test("one shuffling query: jobs, stages, tasks, CPU, shuffle read and a job line with its call site") {
    val sc = spark.sparkContext
    val tally = new JobTally
    Bench.drainListenerBus(sc)
    sc.addSparkListener(tally)
    try {
      spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 97).as("g")).agg(sum(col("id")).as("s"))
        .collect()
      Bench.drainListenerBus(sc)
    } finally sc.removeSparkListener(tally)
    val c = tally.counts
    assert(c.jobs >= 1, c)
    assert(c.stages >= 2, s"a map and a reduce stage, got $c")
    assert(c.tasks >= c.stages, c)
    assert(c.cpuNanos > 0L, c)
    assert(c.shuffleRead > 0L, c)
    assert(c.jobLines.size === c.jobs, c.jobLines)
    assert(c.jobLines.exists(_.contains("JobTallySpec.scala")),
      s"a job line names its call site, got ${c.jobLines}")
    tally.reset()
    assert(tally.counts === JobTally.Counts())
  }
}

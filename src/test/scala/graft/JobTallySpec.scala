package graft

import org.apache.spark.sql.functions.{col, sum}

/** The bench's one job listener, under a query that shuffles: it counts
  * the query's jobs, completed stages and tasks, executor CPU and
  * shuffle-read bytes, and writes one line per job naming its call site;
  * the bench's per-query entry also carries codegen compile counts.
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

  test("a query_counts entry carries the cold pass's and the timed reps' codegen compiles") {
    val tally = new JobTally
    // literals no other spec uses inline into this query's generated
    // class, so its first run compiles it
    def run(): Unit = spark.range(0, 1000, 1, 2)
      .selectExpr("id * 7919 + 104729 AS v").filter("v % 13 = 5").collect()
    tally.reset(); run()
    val cold = tally.counts
    tally.reset(); run()
    val timed = tally.counts.codegenCompiles
    assert(cold.codegenCompiles > 0L, cold)
    val entry = Bench.queryCountsEntry(cold, 0.5, timed, Seq(0.2, 0.1, 0.3))
    Seq("codegen_compiles", "codegen_compiles_timed").foreach { k =>
      val v = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(entry).map(_.group(1).toLong)
      assert(v.exists(_ >= 0L), s"$k missing or negative in $entry")
    }
    assert(entry.contains("\"cold_s\":0.5,"), entry)
    assert(entry.contains("\"build_s\":0.2}"), entry)
  }
}

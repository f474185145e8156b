package graft

import org.apache.spark.sql.DataFrame

/** The session's compiled-class cache holds a whole pass over more
  * generated classes than Spark's default of 100. Under that default,
  * evicted least-recently-used, a second pass over more than 100 classes
  * recompiles the ones the pass itself evicted; `GraftSession` sizes the
  * cache so a repeated pass compiles nothing. Compiles are counted as
  * changes of [[JobTally.codegenCompiles]], one per cache miss.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second pass over 160 distinct generated classes compiles none") {
    // the inlined integer literals make each query's generated code
    // distinct, and distinct from every other spec's
    val frames: Seq[DataFrame] = (1 to 160).map { k =>
      spark.range(0, 64, 1, 1)
        .selectExpr(s"id * ${k + 3001} + ${k * 37 + 5} AS v")
        .filter(s"v % 11 != ${k % 11}")
    }
    def pass(): Long = {
      val c0 = JobTally.codegenCompiles
      frames.foreach(_.collect())
      JobTally.codegenCompiles - c0
    }
    val first = pass()
    val second = pass()
    assert(first > 100L,
      s"the first pass must go past Spark's default of 100 classes, compiled $first")
    assert(second === 0L,
      s"the second pass recompiled $second of the $first classes of the first")
  }
}

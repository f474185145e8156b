package graft

import org.apache.spark.sql.functions._

/** q_pagerank runs its iterations on persisted RDDs; once its result is
  * collected, none of them may stay cached in the session.
  */
class PagerankPersistSpec extends SparkSpec {
  test("q_pagerank releases every RDD it persists once its result is collected") {
    // 21 (user, type) pairs of ~19 events each: every pair is an edge
    val dir = tmpDir("pagerank")
    spark.range(0, 400).select((col("id") % 7).as("user_id"),
      concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
      current_timestamp().as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = graft.queries.EventQueries.qPagerank.run(spark, dir).collect()
    assert(rows.length === 10, "7 user nodes and 3 type nodes")
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.isEmpty,
      s"persisted RDDs left behind: ${added.values.mkString(", ")}")
  }
}

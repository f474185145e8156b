package graft

import org.apache.spark.sql.functions._
import graft.ops.Bucketing

/** Pins the bucketed-layout contract: a join and an aggregation keyed on
  * the bucket key run with ZERO exchanges (the write-time shuffle is the
  * only one that ever happens), and results equal the plain unbucketed
  * plans.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private val db = "graft_buckets"

  private def freshDb(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("co-bucketed join and bucket-key aggregation run with zero exchanges") {
    freshDb()
    val facts = (1L to 10000L).map(i => (i, i % 500, (i % 97).toDouble))
      .toDF("order_id", "custkey", "amount")
    val dim = (0L until 500L).map(i => (i, s"c$i")).toDF("custkey", "name")
    Bucketing.writeBucketed(facts, s"$db.b_facts", "custkey", buckets = 8)
    Bucketing.writeBucketed(dim, s"$db.b_dim", "custkey", buckets = 8)

    // broadcast would hide the exchange question entirely — force the
    // shuffle-or-not decision onto the bucketed partitioning
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val joined = spark.table(s"$db.b_facts")
        .join(spark.table(s"$db.b_dim"), "custkey")
      val totalJoined = joined.agg(sum(col("amount")).cast("decimal(20,2)")).collect()(0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")

      val agg = spark.table(s"$db.b_facts")
        .groupBy(col("custkey")).agg(count(lit(1)).as("n"), sum(col("amount")).as("t"))
      agg.collect()
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$aplan")

      // same answers as the plain unbucketed plans
      val plainTotal = facts.join(dim, "custkey")
        .agg(sum(col("amount")).cast("decimal(20,2)")).collect()(0)
      assert(totalJoined == plainTotal)
      val got = agg.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val exp = facts.groupBy(col("custkey")).agg(count(lit(1)), sum(col("amount")))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == exp)
    }
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ops.JoinAdvisor

/** [[graft.ops.JoinAdvisor]] — the measured broadcast-vs-shuffle
  * decision rule, the hint actually landing the advised physical
  * family, and the loop-closure with Catalyst: on clear-cut shapes the
  * optimizer's UNHINTED choice equals the advisor's.
  */
class JoinAdvisorSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("decide: threshold, smaller-side pick, tie to the right") {
    assert(JoinAdvisor.decide(10, 20, 100) == "broadcast_left")
    assert(JoinAdvisor.decide(20, 10, 100) == "broadcast_right")
    assert(JoinAdvisor.decide(10, 10, 100) == "broadcast_right")
    assert(JoinAdvisor.decide(100, 500, 100) == "broadcast_left",
      "exactly-at-threshold still broadcasts")
    assert(JoinAdvisor.decide(101, 500, 100) == "shuffle")
    assert(JoinAdvisor.decide(500, 101, 100) == "shuffle")
  }

  test("the hint lands the advised physical family, and the join result is unchanged") {
    val l = (1 to 50).map(i => (i.toLong, s"l$i")).toDF("key", "lv")
    val r = (1 to 30).map(i => (i.toLong, s"r$i")).toDF("key", "rv")
    val (bj, bdec, _, _) = JoinAdvisor.advisedJoin(l, r, Seq("key"))
    assert(bdec == "broadcast_right")
    assert(JoinAdvisor.planMatches(bj, bdec), "broadcast hint must land BroadcastHashJoin")
    // maxBroadcastRows = 0 forces the shuffle arm on the same data
    val (sj, sdec, _, _) = JoinAdvisor.advisedJoin(l, r, Seq("key"), maxBroadcastRows = 0)
    assert(sdec == "shuffle")
    assert(JoinAdvisor.planMatches(sj, sdec), "merge hint must land SortMergeJoin")
    val expected = l.join(r, Seq("key")).orderBy(col("key")).collect().toSeq
    assert(bj.orderBy(col("key")).collect().toSeq == expected)
    assert(sj.orderBy(col("key")).collect().toSeq == expected)
  }

  test("loop closure: Catalyst's unhinted choice matches the advisor on clear-cut TPC-H edges") {
    // dimension edges — far from any threshold on both metrics
    // (row-count rule here, byte-size stats in Catalyst)
    for ((lt, lk, rt, rk) <- Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"))) {
      val l = Tables.load(spark, sf, lt).select(col(lk).as("key"))
      val r = Tables.load(spark, sf, rt).select(col(rk).as("key"))
      val advised = JoinAdvisor.decide(l.count(), r.count())
      assert(advised.startsWith("broadcast"),
        s"$lt⋈$rt should be clear-cut broadcastable: $advised")
      val unhinted = l.join(r, Seq("key"))
      assert(JoinAdvisor.planMatches(unhinted, advised),
        s"Catalyst's unhinted $lt⋈$rt plan disagrees with the advisor:\n" +
          unhinted.queryExecution.executedPlan.toString.take(600))
    }
  }
}

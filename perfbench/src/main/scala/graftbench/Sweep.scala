package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.Q

/** The analyst sweep: registry headliners over the generated star
  * schema, each result consumed whole through the noop sink, the cache
  * cleared between queries as `graft.Bench` does.
  */
object Sweep {
  /** The headliners a run times, in order: a fixed subset covering scans,
    * shuffles, broadcast and shuffled joins, window and exact-percentile
    * aggregation, the native as-of join operator, and a DSv2 sink table
    * that `Q.run` writes eagerly before the query reads it back with
    * dynamic partition pruning. A pass over all headliners takes about a
    * minute on four cores, too long for one run; `graft.Bench` remains
    * the full sweep.
    */
  val Names: Seq[String] = Seq(
    "q1_agg", "q_star_join", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6",
    "q_tpch_q9", "q_exact_median", "q_events_sessionize", "q_asof_native",
    "q_dsv2_dpp")

  def headliners: Seq[Q] = {
    val byName = SparkEntry.registry.filter(_.headline).map(q => q.name -> q).toMap
    val missing = Names.filterNot(byName.contains)
    require(missing.isEmpty, s"not registry headliners: ${missing.mkString(", ")}")
    Names.map(byName)
  }

  /** One execution: build the DataFrame (the `queries` layer, including
    * any job `Q.run` launches eagerly), then run it to the noop sink.
    */
  def execute(spark: SparkSession, q: Q, dataDir: String, t: Tracer): DataFrame = {
    val df = t.span("queries.build")(q.run(spark, dataDir))
    t.span("exec.execute")(df.write.format("noop").mode("overwrite").save())
    df
  }

  /** A hash of a query's physical plan operator tree, without expression
    * ids, so it changes only when the plan's shape does.
    */
  def planFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def shape(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => shape(a.executedPlan)
      case s: QueryStageExec => shape(s.plan)
      case _ => p.nodeName + p.children.map(shape).mkString("(", ",", ")")
    }
    val plan = df.queryExecution.executedPlan
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(shape(plan).getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM — Test/fork). Its
  * catalog's managed tables live in a temporary directory of the JVM's
  * own, so no run sees another's tables or leaves any behind in the
  * working directory.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Query executions (successful or failed) that `f` runs on the shared
    * session. Listener events arrive asynchronously, so the bus is drained
    * before and after.
    */
  def queryExecutions(f: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def drain(): Unit = Bench.drainListenerBus(spark.sparkContext)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        n.incrementAndGet()
    }
    drain()
    spark.listenerManager.register(listener)
    try { f; drain() }
    finally spark.listenerManager.unregister(listener)
    n.get
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression conversions so the
  * engine's custom Catalyst expressions (graft.functions) can surface
  * as Columns. Standard extension-library shim: lives in the
  * org.apache.spark.sql package purely for access, adds no behavior.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The `private[sql]` Dataset↔LogicalPlan endpoints custom logical
    * operators need: wrap a constructed plan as a DataFrame, and get
    * the analyzed plan a DataFrame stands for.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def planOf(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Spark's own V2 → V1 predicate conversion (`PredicateUtils.toV1`):
    * literals arrive in the external value space (String, boxed
    * numerics); a predicate it cannot convert is dropped.
    */
  def toV1(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)

  /** A V2 reference to the column named `name`, built from its one name
    * part: the name is never parsed as SQL, so one that needs quoting
    * (`ev-day`) stays a single column. The public `Expressions.column`
    * and `Expressions.identity` parse their argument.
    */
  def fieldRef(name: String): org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference.column(name)

  /** The identity transform over [[fieldRef]]`(name)`. */
  def identity(name: String): org.apache.spark.sql.connector.expressions.Transform =
    org.apache.spark.sql.connector.expressions.LogicalExpressions.identity(fieldRef(name))
}

/** Bridge to the `private[sql]` InternalRow-RDD → DataFrame endpoint,
  * for engine-internal reads that already produce Catalyst rows
  * (graft.sources.SinkSplitsRead). Same access-only pattern as
  * [[GraftColumnShim]].
  */
object GraftRowShim {
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * Spark 4 removed the public `new Column(expr)` constructor, and custom
  * Catalyst expressions ([[graft.functions.VectorExpressions]]) need a
  * Column surface. Lives under `org.apache.spark.sql` solely to satisfy the
  * `private[sql]` scope; uses only stable internal entry points. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) custom LogicalPlan — `Dataset.ofRows` is
    * private[sql]; custom operators ([[graft.plans.AsOfJoin]]) need it to
    * surface as DataFrames. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The cached RDD behind a `localCheckpoint`ed DataFrame (its analyzed
    * plan is a `LogicalRDD` over the persisted internal-row RDD). Lets
    * iterative algorithms free a superseded round's checkpoint storage —
    * `Dataset.unpersist` can't: localCheckpoint persists at the RDD layer,
    * not through the cache manager. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    analyzedPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Runtime planner-strategy injection on a live session (mirrors
    * `SparkSessionExtensions.injectPlannerStrategy` for built sessions). */
  def injectStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraStrategies.contains(strategy))
      classic.experimental.extraStrategies =
        strategy +: classic.experimental.extraStrategies
  }

  /** The function builder of a typed UDAF (`functions.udaf(aggregator)`)
    * under `name`, as `spark.udf.register` builds it; unlike that call it
    * needs no session, so the extensions path can inject it too. */
  def aggregator(name: String, udf: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = {
    val named = udf.withName(name)
      .asInstanceOf[org.apache.spark.sql.expressions.UserDefinedAggregator[_, _, _]]
    children => org.apache.spark.sql.execution.aggregate.ScalaAggregator(named, children)
  }

  /** Runtime function registration on a live session (the extensions path
    * only applies at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}

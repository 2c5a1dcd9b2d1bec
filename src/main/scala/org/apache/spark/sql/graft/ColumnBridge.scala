package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge to Spark 4's classic Column ⇄ catalyst Expression conversion
  * (ExpressionUtils is private[sql]; this object lives under
  * org.apache.spark.sql so it may call it — the standard extension-point
  * technique for libraries that define custom Catalyst expressions).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A column that calls the static method `owner.method(args)`, where
    * `owner` is a Scala object — Spark's `StaticInvoke`, which runs the
    * same JVM method from interpreted eval and from generated code, so
    * the call stays inside whole-stage codegen. Each argument carries
    * its input type (the analyzer casts an argument to it implicitly).
    * A null argument yields null without the call; the method's own
    * null return counts only when `returnNullable`. */
  def staticCall(owner: AnyRef, method: String, dataType: DataType,
      args: Seq[(Column, DataType)], returnNullable: Boolean = true): Column =
    column(StaticInvoke(owner.getClass, dataType, method,
      args.map(a => expression(a._1)), args.map(_._2),
      propagateNull = true, returnNullable = returnNullable))

  /** DataFrame from a custom LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — needed to hand a hand-built logical node (e.g.
    * [[graft.plans]] ShardedProbe) back to the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for embedding as a child
    * of a custom logical node). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
}

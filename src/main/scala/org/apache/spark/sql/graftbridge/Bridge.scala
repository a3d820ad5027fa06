package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column <-> catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]`, so library-defined native expressions need a shim in a
  * subpackage of org.apache.spark.sql — the same pattern Spark-ecosystem
  * libraries use to register custom expressions without a session
  * extension (which would break sessions the harness builds itself).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression as a session-scoped SQL function, so
    * the SQL entry path (spark.sql) can call library kernels by name. */
  def registerFunction(spark: org.apache.spark.sql.classic.SparkSession,
                       name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** DataFrame over an already-built logical plan (`Dataset.ofRows` is
    * `private[sql]`): how [[graft.operators.Iterates.keyed]] exposes a
    * checkpoint under the layout it declares. */
  def dataFrame(spark: org.apache.spark.sql.classic.SparkSession,
                plan: LogicalPlan): DataFrame = Dataset.ofRows(spark, plan)
}

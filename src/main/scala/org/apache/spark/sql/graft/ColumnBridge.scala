package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Expression converters, so
  * graft's native Catalyst expressions can be used as `Column`s from
  * the public DataFrame API. Lives under org.apache.spark.sql for
  * visibility only; contains no Spark modifications. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Same visibility bridge for `private[sql] Dataset.ofRows`: lets the
  * plan auditor re-materialize a logical subtree (a window's input) as
  * a queryable DataFrame to measure its key cardinality. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Same visibility bridge for `private[spark] StructType.asNullable`
  * (nested fields included): how Spark's file sources present a file
  * schema, mirrored by the store's library reads. */
object SchemaBridge {
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}

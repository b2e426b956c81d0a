package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression <-> Column bridge. Spark 4 made the Column/Expression
  * conversion utilities private[sql]; custom Catalyst expressions still
  * need them to surface as Columns, so this object lives in an
  * org.apache.spark.sql subpackage — the standard extension-library
  * pattern for planner-level integrations.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on an ALREADY-RUNNING session (the
    * extensions path only applies at session construction).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Block until the listener bus has delivered every posted event, so
    * listener counters read after an action are complete (`listenerBus`
    * is private[spark]).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}

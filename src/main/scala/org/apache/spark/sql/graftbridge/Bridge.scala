package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, TypeCollection}

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Connect refactor); an extension library reaches them
  * from a subpackage of org.apache.spark.sql — the standard pattern used
  * by Spark-native libraries. No Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An `ExpectsInputTypes` input type that accepts any of `types`;
    * `TypeCollection` is `private[sql]`. */
  def anyOf(types: DataType*) = TypeCollection(types: _*)

  /** Blocks until every listener event posted so far has been delivered;
    * the listener bus is `private[spark]`. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

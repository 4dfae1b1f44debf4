package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor (Spark Connect
  * split); the classic converter is `private[sql]`. This bridge lives inside
  * the `org.apache.spark.sql` namespace to expose the two conversions the
  * engine's native expressions need. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType`/`TypeCollection` are `private[sql]`; expressions in
    * graft.plans declare `ExpectsInputTypes` contracts through these
    * aliases.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(ts: org.apache.spark.sql.types.DataType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)
}

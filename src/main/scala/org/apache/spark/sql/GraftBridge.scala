package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils

/** Every `private[sql]` call the engine makes, in the one file to re-check
  * on a Spark upgrade: Spark's distributed sequence column
  * (`classic.Dataset.withSequenceColumn`, the logical
  * `AttachDistributedSequence`) and the Column ⇄ Expression conversions of
  * `classic.ExpressionUtils`, which build Columns straight from the
  * engine's native expressions (a broadcast probe cannot be a SQL call). */
object GraftBridge {

  /** `df` with a leading 0-based LONG column `name` numbering its rows in
    * partition order, then row order within each partition. */
  def withSequenceColumn(df: DataFrame, name: String): DataFrame =
    castToImpl(df).withSequenceColumn(name)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

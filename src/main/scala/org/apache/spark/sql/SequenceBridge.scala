package org.apache.spark.sql

import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** The one `private[sql]` call the engine makes: Spark's distributed
  * sequence column (the logical `AttachDistributedSequence`, the operator
  * behind pandas-on-Spark's default index). Lives in Spark's package because
  * `classic.Dataset.withSequenceColumn` is `private[sql]`. Re-check its
  * signature and semantics on every Spark upgrade. */
object SequenceBridge {

  /** `df` with a leading 0-based LONG column `name` numbering its rows in
    * partition order, then row order within each partition. */
  def withSequenceColumn(df: DataFrame, name: String): DataFrame =
    castToImpl(df).withSequenceColumn(name)
}

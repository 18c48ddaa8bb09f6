package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard extension-point pattern for libraries that register custom
  * Catalyst expressions without going through SparkSessionExtensions.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The block-storage RDDs backing a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist()` only clears CacheManager entries, so the blocks
    * a local checkpoint writes are otherwise freed only when the driver
    * GCs the RDD reference — far too lazy for iterative algorithms that
    * checkpoint every round. Callers unpersist these once a newer
    * checkpoint supersedes the data (never before: checkpointing truncates
    * lineage, so the blocks are the ONLY copy).
    */
  def checkpointRdds(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** `explain("formatted")` as a string (Dataset.explain only prints),
    * for the committed plan-evidence artifacts (`graft.Dev plan`).
    */
  def explainString(df: Dataset[_]): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
}

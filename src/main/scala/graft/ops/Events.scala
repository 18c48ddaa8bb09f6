package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dimension build over an attribute change log such as the
  * synthetic `events` table (user, ts, type, value): [[scd2]] turns the
  * feed into the validity-interval table that the batch and stream
  * as-of joins ([[graft.ops.Joins]],
  * [[graft.streaming.StatefulOps.streamAsofScd2]]) probe for "value as
  * of t".
  */
object Events {

  /** Slowly-changing-dimension type-2 build from a change log: per key,
    * collapse CONSECUTIVE identical values (ordered by `tsCol`, ties by
    * `tieCol` so the history is total-ordered and deterministic) and
    * emit one validity interval per surviving transition —
    * (key, version 1-based, value, effective_from, effective_to,
    * is_current), with `effective_to` = the next transition's
    * `effective_from` (null on the open current row). This is the
    * standard warehouse dimension-history op: an attribute feed with
    * redundant re-sends becomes a compact interval table an as-of /
    * range join ([[graft.ops.Joins]]) can probe for "value as of t".
    *
    * Scale shape: two windows over the SAME (key, ts, tie) sort order —
    * Catalyst plans one Exchange + one Sort for both (lag to detect
    * transitions, lead/row_number over the filtered transitions) — and
    * only (key, ts, tie, value) projections shuffle. No driver state.
    */
  def scd2(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val byTime = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val transitions = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(valueCol))
      .withColumn("__prev", lag(col(valueCol), 1).over(byTime))
      // null-safe: the first row per key always opens an interval
      .filter(col("__prev").isNull || !(col("__prev") <=> col(valueCol)))
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    transitions
      .withColumn("version", row_number().over(byFrom).cast("long"))
      .withColumn("effective_to", lead(col(tsCol), 1).over(byFrom))
      .select(col(keyCol), col("version"), col(valueCol),
        col(tsCol).as("effective_from"), col("effective_to"),
        col("effective_to").isNull.as("is_current"))
  }
}

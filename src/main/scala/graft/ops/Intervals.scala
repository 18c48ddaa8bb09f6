package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval algebra over (key, start, end) relations — the classic
  * warehouse trio the event ops lack: COALESCE overlapping/adjacent
  * half-open intervals into maximal spans (ad exposure windows,
  * machine-uptime stitching, validity-interval repair), the GAPS
  * between those spans (downtime / silence reports), and per-key
  * COVERAGE rollups. Distinct from gap-based sessionization: inputs
  * here carry their own DURATIONS, so a long-running interval bridges
  * a quiet stretch no inter-event gap rule can see.
  *
  * Semantics: intervals are half-open `[start, end)`; `end >= start`
  * is enforced in-plan (a reversed interval raises, it does not
  * silently vanish or invert a span). Two intervals merge when
  * `next.start <= running_max(end) + gap` — with the default `gap = 0`
  * touching intervals (`end == next.start`) merge, which is exactly
  * the half-open union. Ties in (start, end) are island-stable by
  * construction (equal starts always overlap each other).
  *
  * Axis types: `timestamp` (internally exact epoch MICROS; `gap` is in
  * SECONDS; span bounds return as timestamps and widths as `_us`
  * longs) or integral (raw units throughout). Any other type fails
  * at plan build rather than being cast silently (`date`, `string` and
  * fractional axes must be cast explicitly first).
  *
  * Scale shape: ONE exchange on the key (the per-key window sort),
  * then the island aggregation reuses that partitioning (map-side
  * partial agg). State per key is zero — this is a plain window chain,
  * streaming-ineligible but replayable in any engine, and the oracle
  * replays it window-for-window.
  */
object Intervals {

  /** (to-long-axis converter, from-long back-converter, gap multiplier). */
  private def axisOf(df: DataFrame, colName: String, fn: String)
      : (Column => Column, Column => Column, Long) = {
    import org.apache.spark.sql.types._
    Ids.fieldOf(df, colName, fn).dataType match {
      case TimestampType =>
        ((c: Column) => unix_micros(c), (c: Column) => timestamp_micros(c),
          1000000L)
      case t if Ids.isIntegral(t) =>
        ((c: Column) => c.cast("long"), (c: Column) => c, 1L)
      case other => throw new IllegalArgumentException(
        s"$fn: unsupported interval axis type ${other.simpleString} — " +
          "start/end must be timestamp or integral; cast explicitly first")
    }
  }

  /** The shared island chain: input → (key g, s, e, island) on the long
    * axis, with the end-before-start guard applied to `s`.
    */
  private def islands(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, gap: Long, fn: String): (DataFrame, Column => Column) = {
    require(gap >= 0, s"$fn: negative gap $gap")
    val (toUs, fromUs, mult) = axisOf(df, startCol, fn)
    val (toUsE, _, _) = axisOf(df, endCol, fn)
    require(Ids.fieldOf(df, startCol, fn).dataType ==
      Ids.fieldOf(df, endCol, fn).dataType,
      s"$fn: start/end type mismatch — cast one side first")
    require(gap <= Long.MaxValue / mult, s"$fn: gap overflows the axis")
    val gapUs = gap * mult
    val base = df.select(col(keyCol).as("g"), toUs(col(startCol)).as("__s0"),
        toUsE(col(endCol)).as("e"))
      .select(col("g"),
        when(col("e") >= col("__s0"), col("__s0"))
          .otherwise(raise_error(lit(s"$fn: interval end before start — " +
            "reversed intervals are data corruption, not empty spans")))
          .as("s"),
        col("e"))
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s"), col("e"))
      .rowsBetween(Long.MinValue, -1)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s"), col("e"))
      .rowsBetween(Long.MinValue, 0)
    (base
      .withColumn("__pm", max(col("e")).over(wPrev))
      .withColumn("__brk",
        when(col("__pm").isNull || col("s") > col("__pm") + lit(gapUs), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("__brk")).over(wCum)), fromUs)
  }

  /** Maximal merged spans: one row per island —
    * `(keyCol, span_start, span_end, n_merged, covered[_us])`.
    * `covered` is the span width on the axis (`span_end − span_start`,
    * exact long — micros for a timestamp axis, raw units otherwise).
    */
  def coalesceIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, gap: Long = 0L): DataFrame = {
    val (isl, fromUs) = islands(df, keyCol, startCol, endCol, gap,
      "coalesceIntervals")
    val covName =
      if (Ids.fieldOf(df, startCol, "coalesceIntervals").dataType ==
        org.apache.spark.sql.types.TimestampType) "covered_us" else "covered"
    isl.groupBy(col("g"), col("island"))
      .agg(min(col("s")).as("__ss"), max(col("e")).as("__se"),
        count(lit(1)).as("n_merged"))
      .select(col("g").as(keyCol), fromUs(col("__ss")).as("span_start"),
        fromUs(col("__se")).as("span_end"), col("n_merged"),
        (col("__se") - col("__ss")).as(covName))
  }

  /** Per-key coverage rollup:
    * `(keyCol, n_intervals, n_spans, covered[_us], first_start, last_end)`
    * — total time covered by the UNION of the key's intervals (double
    * counting collapsed by the island merge), how fragmented it is,
    * and its extent.
    */
  def intervalCoverage(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, gap: Long = 0L): DataFrame = {
    val (isl, fromUs) = islands(df, keyCol, startCol, endCol, gap,
      "intervalCoverage")
    val covName =
      if (Ids.fieldOf(df, startCol, "intervalCoverage").dataType ==
        org.apache.spark.sql.types.TimestampType) "covered_us" else "covered"
    isl.groupBy(col("g"), col("island"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"),
        count(lit(1)).as("n"))
      .groupBy(col("g"))
      .agg(sum(col("n")).as("n_intervals"),
        count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss")).as(covName),
        min(col("ss")).as("__fs"), max(col("se")).as("__le"))
      .select(col("g").as(keyCol), col("n_intervals"), col("n_spans"),
        col(covName), fromUs(col("__fs")).as("first_start"),
        fromUs(col("__le")).as("last_end"))
  }

  /** The INTERIOR gaps between a key's merged spans — the downtime
    * report: `(keyCol, gap_start, gap_end, gap[_us])`, one row per
    * silence strictly between two consecutive spans (nothing before
    * the first or after the last span; a key with one span emits no
    * rows). `gap_start` = previous span's end, `gap_end` = next span's
    * start.
    */
  def intervalGaps(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, gap: Long = 0L): DataFrame = {
    val (isl, fromUs) = islands(df, keyCol, startCol, endCol, gap,
      "intervalGaps")
    val gapName =
      if (Ids.fieldOf(df, startCol, "intervalGaps").dataType ==
        org.apache.spark.sql.types.TimestampType) "gap_us" else "gap"
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("ss"))
    isl.groupBy(col("g"), col("island"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
      .withColumn("__pe", lag(col("se"), 1).over(wLag))
      .filter(col("__pe").isNotNull)
      .select(col("g").as(keyCol), fromUs(col("__pe")).as("gap_start"),
        fromUs(col("ss")).as("gap_end"),
        (col("ss") - col("__pe")).as(gapName))
  }
}

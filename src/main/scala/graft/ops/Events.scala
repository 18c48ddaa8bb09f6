package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over user streams — the funnel primitive
  * every product/ops corpus query eventually needs: how many users
  * completed step 1, then step 2 STRICTLY after it, then step 3 after
  * that. Complements the gap sessionization (`SparkEntry.qSessions`,
  * `streaming/StatefulOps.sessionize`) with ordered-subsequence
  * matching.
  *
  * Semantics: a user's `reached` is the longest prefix of `steps`
  * matchable as a subsequence of their events with STRICTLY increasing
  * timestamps between consecutive steps (equal-timestamp events cannot
  * chain — which also makes the result independent of how ties order).
  * Greedy earliest-match is optimal for subsequences, so the fold is
  * exact, and the cascade-of-min-timestamps oracle (q_funnel) computes
  * the identical number relationally.
  *
  * Scale shape: one shuffle of (user, ts, type) projections; the fold
  * runs over each user's SORTED event list inside the aggregation —
  * state is (step index, last-match ts), per-user cost linear in their
  * events. Event payloads never move.
  */
object Events {

  /** The funnel kernels read the event type with `getUTF8String`: any
    * other type must fail at plan build, not be misread per row. */
  private def requireStringType(df: DataFrame, typeCol: String, fn: String): Unit = {
    val t = Ids.fieldOf(df, typeCol, fn).dataType
    require(t == org.apache.spark.sql.types.StringType,
      s"$fn: type column `$typeCol` is ${t.simpleString} — the step " +
        "match needs STRING; cast explicitly")
  }

  /** Per-user funnel depth: (userCol, reached) with reached in
    * [0, steps.length]. */
  def funnelSteps(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps: no steps")
    Ids.fieldOf(df, tsCol, "funnelSteps") // column-presence check
    requireStringType(df, typeCol, "funnelSteps")
    val evs = sort_array(collect_list(
      struct(col(tsCol).as("ts"), col(typeCol).as("t"))))
    // the fold is the graft_funnel_reach kernel (r19 opt round): the
    // previous aggregate(...) HOF formulation — whose exact advance
    // rule, SQL null corners included, the kernel replicates and
    // OpsSpec pins kernel ≡ HOF — evaluated interpreted
    // (ArrayAggregate is CodegenFallback, ~8 boxed expression
    // evaluations per EVENT); the kernel is one call per user
    val reached = org.apache.spark.sql.GraftBridge.column(
      graft.spark.FunnelReachExpression(
        org.apache.spark.sql.GraftBridge.expression(evs), steps))
    df.groupBy(col(userCol))
      .agg(reached.as("reached"))
  }

  /** [[funnelSteps]] with a per-transition DEADLINE and the matched
    * timestamps kept: step k+1 must occur STRICTLY after the matched
    * step-k event and within `maxGapSec` seconds of it ("click within
    * 24h of signup"). Output per user: `(userCol, reached,
    * step_ts)` where `step_ts` is the array of matched event
    * timestamps (length = reached) — the raw material for
    * time-to-convert distributions ([[funnelTimes]]).
    *
    * Semantics — greedy earliest-match, the anchored cascade: step 1
    * binds to the user's FIRST step-1 event, each later step to the
    * first qualifying event after the previous match. This equals the
    * cascade-of-min-timestamps a SQL replay computes (each step's
    * predicate depends only on the previous matched timestamp), which
    * is what makes the op oracle-checkable. It is deliberately NOT
    * max-reach matching: with deadlines, greedy is no longer optimal
    * (events A@0s, A@10s, B@11s with gap 5s reach depth 1 here — the
    * A@10s anchor would reach 2), and max-reach requires trying every
    * anchor (quadratic, and no longer replayable as a min cascade).
    * Product-analytics funnels conventionally anchor at first touch;
    * documenting the choice beats silently computing either.
    *
    * `tsCol` must be TIMESTAMP — the deadline is wall-clock arithmetic
    * (micros grain), and an implicit cast would shift naive types
    * through the session zone. Null-timestamp events DROP before the
    * fold (a null instant cannot anchor a deadline — left in, it would
    * match step 1 and then NULL-freeze every later comparison); a user
    * left with no events is absent, matching
    * [[graft.streaming.StatefulOps.streamFunnel]].
    *
    * Scale shape: identical to [[funnelSteps]] — one shuffle of
    * (user, ts, type) projections, per-user linear fold; the state
    * adds only the ≤|steps| matched timestamps.
    */
  def funnelStepsWithin(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxGapSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnelStepsWithin: no steps")
    require(maxGapSec > 0, s"funnelStepsWithin: bad deadline $maxGapSec")
    val tsType = Ids.fieldOf(df, tsCol, "funnelStepsWithin").dataType
    require(tsType == org.apache.spark.sql.types.TimestampType,
      s"funnelStepsWithin: ts column `$tsCol` is ${tsType.simpleString} — " +
        "the deadline needs TIMESTAMP; cast explicitly to choose the " +
        "instant semantics")
    requireStringType(df, typeCol, "funnelStepsWithin")
    val gapUs = maxGapSec * 1000000L
    val evs = sort_array(collect_list(
      struct(col(tsCol).as("ts"), col(typeCol).as("t"))))
    // the fold is the graft_funnel_within kernel (r19 opt round): the
    // previous aggregate(...) HOF formulation — whose advance rule the
    // kernel replicates exactly, with OpsSpec pinning kernel ≡ HOF —
    // evaluated interpreted per event; the kernel is one call per user
    val folded = org.apache.spark.sql.GraftBridge.column(
      graft.spark.FunnelWithinExpression(
        org.apache.spark.sql.GraftBridge.expression(evs), steps, gapUs))
    df.filter(col(tsCol).isNotNull)
      .groupBy(col(userCol))
      .agg(folded.getField("reached").as("reached"),
        folded.getField("step_ts").as("step_ts"))
  }

  /** Per-step time-to-reach rows from [[funnelStepsWithin]]: one row
    * per (user, matched step) — `(userCol, step_idx 1-based, step,
    * step_ts, gap_us)` where `gap_us` is the exact epoch-micros gap
    * from the previous matched step (null for step 1 — there is no
    * previous transition). This is the feed for the quantile
    * machinery: time-to-convert distributions are quantiles of
    * `gap_us` per `step_idx`.
    */
  def funnelTimes(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxGapSec: Long): DataFrame =
    funnelStepsWithin(df, userCol, tsCol, typeCol, steps, maxGapSec)
      .select(col(userCol), col("step_ts").as("__all"),
        posexplode(col("step_ts")).as(Seq("__pos", "__ts")))
      .select(col(userCol),
        (col("__pos") + 1).cast("long").as("step_idx"),
        element_at(typedLit(steps), (col("__pos") + 1).cast("int"))
          .as("step"),
        col("__ts").as("step_ts"),
        when(col("__pos") > 0, unix_micros(col("__ts")) -
          unix_micros(element_at(col("__all"), col("__pos"))))
          .as("gap_us"))

  /** The deadline funnel chart: one row per step — `(step_idx, step,
    * n_users, p50_gap_us)` where `n_users` counts users whose greedy
    * match reached at least the step under the `maxGapSec` deadline
    * and `p50_gap_us` is the median time-to-reach from the previous
    * step (exact interpolating `percentile` over the exact micro
    * gaps — the q_quantiles contract; null for step 1 and for steps
    * nobody reached). Steps with zero users keep their row.
    *
    * Scale note: the median rides exact `percentile` — O(distinct
    * gaps) buffer per step. At per-domain 100 TB grain use
    * [[funnelReportSketch]], the bounded-state swap (bucket-count
    * quantile bands, no value buffer); the exact form here stays the
    * oracle contract.
    */
  def funnelReportWithin(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxGapSec: Long): DataFrame = {
    val times = funnelTimes(df, userCol, tsCol, typeCol, steps, maxGapSec)
    // a user reaching depth r emits match rows 1..r, so the per-step
    // row count IS "reached at least this step"
    val agg = times.groupBy(col("step_idx"))
      .agg(count(lit(1)).as("n_users"),
        round(percentile(col("gap_us"), lit(0.5)), 6).as("p50_gap_us"))
    df.sparkSession.range(1, steps.length + 1L)
      .select(col("id").as("step_idx"))
      .join(agg, Seq("step_idx"), "left")
      .select(col("step_idx"),
        element_at(typedLit(steps), col("step_idx").cast("int")).as("step"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("p50_gap_us"))
  }

  /** [[funnelReportWithin]]'s bounded-state variant — the median
    * time-to-convert at SKETCH grain: the per-step gap median comes
    * from [[Profile.groupQuantileSketch]] over the [[funnelTimes]]
    * rows instead of the exact interpolating `percentile`, so no
    * per-step O(distinct gaps) buffer exists anywhere in the plan
    * (PlanSpec pins it percentile-free). Output per step: `(step_idx,
    * step, n_users, p50_lo_us, p50_hi_us)` — the DISCRETE median gap
    * (the value at rank ceil(n/2) of the step's sorted gaps) lies in
    * `[p50_lo_us, p50_hi_us]` and the band is exactly one bucket width
    * `(hi−lo)/buckets` inside the sketched range (the
    * [[Profile.groupQuantileSketch]] contract; a median outside
    * `[lo, hi)` saturates that edge to null). Note the contract names
    * the DISCRETE median, not [[funnelReportWithin]]'s interpolating
    * one — with an even gap count the interpolated value can sit
    * between two buckets, so only the discrete statistic is
    * band-bracketable. Step 1 keeps null bounds (no previous
    * transition), zero-user steps keep their row, and `n_users`
    * matches [[funnelReportWithin]] exactly.
    *
    * Scale shape: the funnel fold runs ONCE — the [[funnelTimes]]
    * relation persists across its two tiny consumers (the ≤|steps|-row
    * count and the (step, bucket) sketch, the [[Retrieval.invertedIndex]]
    * cache convention, released after the caller's first action) — and
    * only (step, bucket) counts aggregate; gap values never buffer.
    */
  def funnelReportSketch(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxGapSec: Long,
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    val times = funnelTimes(df, userCol, tsCol, typeCol, steps, maxGapSec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = times.groupBy(col("step_idx"))
      .agg(count(lit(1)).as("n_users"))
    val qs = Profile.groupQuantileSketch(times, "step_idx", "gap_us",
        Seq(0.5), lo, hi, buckets)
      .select(col("step_idx"), col("q_lo").as("p50_lo_us"),
        col("q_hi").as("p50_hi_us"))
    val out = df.sparkSession.range(1, steps.length + 1L)
      .select(col("id").as("step_idx"))
      .join(agg, Seq("step_idx"), "left")
      .join(qs, Seq("step_idx"), "left")
      .select(col("step_idx"),
        element_at(typedLit(steps), col("step_idx").cast("int")).as("step"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("p50_lo_us"), col("p50_hi_us"))
    graft.spark.CacheRelease.afterFirstAction(out, Seq(times))
  }

  /** The funnel chart table: one row per step,
    * (step_idx 1-based, step, n_users who reached at least it). */
  def funnelReport(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    val per = funnelSteps(df, userCol, tsCol, typeCol, steps)
    per.select(explode(sequence(lit(1), lit(steps.length)))
        .as("step_idx"), col("reached"))
      .groupBy(col("step_idx"))
      .agg(count(when(col("reached") >= col("step_idx"), lit(1)))
        .as("n_users"))
      .withColumn("step", element_at(typedLit(steps), col("step_idx")))
      .select(col("step_idx").cast("long").as("step_idx"), col("step"),
        col("n_users"))
  }

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

  /** Exponentially time-decayed per-key score with a half-life in whole
    * days: sum over events of `value * 0.5^floor(age_days)`, age taken
    * against the corpus max timestamp (or an explicit `asOfEpochSec`).
    * The freshness-weighting primitive for engagement/popularity
    * features: yesterday's purchase counts ~2× one from `halfLifeDays`
    * ago.
    *
    * Determinism at scale: the exponent is the INTEGER
    * floor(age/halfLife·days) so `0.5^n` is an exact power of two, each
    * term is floored to a fixed 1e-6 grain and summed as a BIGINT —
    * float-sum partition-order nondeterminism cannot perturb the
    * result, and an ANSI-SQL oracle replays it bit-for-bit. One
    * aggregation; only (key, grain-term) shuffles.
    */
  def decayedScore(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Int,
      asOfEpochSec: Option[Long] = None): DataFrame = {
    require(halfLifeDays >= 1, s"decayedScore: bad half-life $halfLifeDays")
    val asOf: Long = asOfEpochSec.getOrElse {
      val row = df.agg(max(unix_timestamp(col(tsCol)))).head()
      require(!row.isNullAt(0),
        "decayedScore: empty input (or all-null timestamps) and no " +
          "asOfEpochSec — pass an explicit as-of instant")
      row.getLong(0)
    }
    val n = floor((lit(asOf) - unix_timestamp(col(tsCol))) /
      lit(halfLifeDays * 86400L)).cast("int")
    val term6 = floor(col(valueCol).cast("double") *
      pow(lit(0.5), n) * 1e6).cast("long")
    df.groupBy(col(keyCol))
      .agg((sum(term6) / 1e6).as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  /** Time-weighted average — the step-function aggregate telemetry and
    * pricing need where a plain AVG lies: each sample's value holds
    * until the key's NEXT sample, so sparse-but-stable stretches weigh
    * by their true duration instead of their sample count. Per key:
    * twa = Σ vᵢ·(tsᵢ₊₁ − tsᵢ) / (ts_last − ts_first) over the samples
    * ordered by (ts, tieCol). Output `(keyCol, n_samples, from_ts,
    * to_ts, twa)`; a key whose samples span zero time (one sample, or
    * all at one instant) reports a null twa — there is no duration to
    * weight, and inventing the plain mean there would silently change
    * semantics. Null values are dropped up front (a null sample has no
    * step value to hold).
    *
    * Determinism/oracle contract: durations are exact epoch-micros
    * longs; values enter as 1e-6-grain longs and each term
    * v₆·Δus accumulates in DECIMAL(38,0) — exact, partition-order-proof
    * (a double sum would be order-sensitive), and replayable in any
    * engine with decimal arithmetic. The factors are cast to
    * DECIMAL(20,0) — ANY long fits (19 digits), so the cast can never
    * overflow and the term product (≤ 1.7e38) stays inside the 38-digit
    * product type; DECIMAL(18,0) would overflow for |value| ≳ 1e12
    * while the HUGEINT oracle stayed exact (ADVICE r16). The one float
    * step is the final division, round-6.
    *
    * Scale shape: one exchange on the key for the lead() window; the
    * aggregation reuses that partitioning with map-side partials.
    * Payloads never move — only (key, us, value) projections.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("us"), col("__tie"))
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("g"), unix_micros(col(tsCol)).as("us"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("v6"),
        col(tieCol).as("__tie"))
      .withColumn("__nxt", lead(col("us"), 1).over(w))
      .withColumn("__term",
        col("v6").cast("decimal(20,0)") *
          (col("__nxt") - col("us")).cast("decimal(20,0)"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_samples"), min(col("us")).as("__f"),
        max(col("us")).as("__l"), sum(col("__term")).as("__st"))
      .select(col("g").as(keyCol), col("n_samples"),
        timestamp_micros(col("__f")).as("from_ts"),
        timestamp_micros(col("__l")).as("to_ts"),
        when(col("__l") > col("__f"),
          round(col("__st").cast("double") / 1e6 /
            (col("__l") - col("__f")), 6)).as("twa"))
  }

  /** OHLC bucket resampling — the candlestick read of any sampled
    * series (prices, queue depths, temperatures): per key per aligned
    * time bucket, the first (open), max (high), min (low) and last
    * (close) value, with first/last decided by `(ts, tieCol)` so
    * equal-timestamp samples resolve deterministically. Null values
    * drop (no sample). Values pass through untouched — no arithmetic,
    * so the output is bit-identical to any engine's replay.
    *
    * Output: `(keyCol, bucket_start, open, high, low, close,
    * n_samples)`. `bucket` is a Spark window duration (e.g. "1 hour");
    * buckets align to the epoch, so whole-unit durations match
    * `date_trunc` replays.
    *
    * Scale shape: one aggregation exchange on (key, bucket) — min_by/
    * max_by/min/max all partial map-side; no window sort anywhere.
    */
  def ohlcResample(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String, bucket: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol), window(col(tsCol), bucket))
      .agg(
        min_by(col(valueCol), struct(col(tsCol), col(tieCol))).as("open"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col(tsCol), col(tieCol))).as("close"),
        count(lit(1)).as("n_samples"))
      .select(col(keyCol), col("window.start").as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_samples"))

  /** Retention cohort matrix: users grouped by first-activity ISO week
    * (their cohort), each later week counting how many of them came
    * back — (cohort_week, week_offset, n_users, cohort_size,
    * retention round-6). The product-analytics staple, and the
    * engagement-decay read on a corpus contribution stream.
    *
    * Scale shape: reduce to DISTINCT (user, week) first (the only
    * all-events scan), derive per-user cohort with a min-aggregation,
    * and the matrix is a count-distinct over (cohort, offset) keys —
    * users never re-shuffle with payloads. Weeks are date_trunc ISO
    * weeks (Monday), offset = day-difference / 7 (exact: both are
    * week-aligned dates).
    */
  def retentionCohorts(df: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val active = df.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).cast("date").as("w")).distinct()
    val cohort = active.groupBy(col("u")).agg(min(col("w")).as("c"))
    val sizes = cohort.groupBy(col("c")).agg(count(lit(1)).as("cohort_size"))
    active.join(cohort, Seq("u"))
      .select(col("c"), (datediff(col("w"), col("c")) / 7).cast("long")
        .as("week_offset"), col("u"))
      .groupBy(col("c"), col("week_offset"))
      .agg(count(lit(1)).as("n_users")) // (u, week) distinct already
      .join(sizes, Seq("c"))
      .select(col("c").as("cohort_week"), col("week_offset"),
        col("n_users"), col("cohort_size"),
        round(col("n_users") / col("cohort_size"), 6).as("retention"))
  }

  /** Daily resample with forward fill: one row per (key, day) over each
    * key's own [first, last] activity span — the gap-filling step every
    * time-series feature pipeline needs before windowed models (a
    * day with no events must exist as an explicit zero row, and
    * categorical state must carry forward). Output per row:
    * (key, day, n_events, sum_value, last_type) where `last_type` is
    * the day's latest `typeCol` (deterministic: latest (ts, tie))
    * forward-filled across silent days.
    *
    * Determinism: `sum_value` accumulates 1e-6-grain integer terms
    * (partition-order-proof, oracle-replayable); the in-day "latest"
    * picks by lexicographic struct max over the unique (epoch, tie)
    * pair — no packed ordinal, so no overflow at any id scale.
    *
    * Scale shape: one aggregation to (key, day) — map-side combine
    * collapses each day before the wire — then the span explode works
    * on (key, 2 dates) rows only, and the forward-fill window sorts
    * (key, day) rows, never raw events. Span length is bounded by the
    * key's own activity range; a sleeping key costs its span, not the
    * corpus's.
    */
  def resampleDailyFfill(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, typeCol: String, tieCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol).cast("double") * 1e6).cast("long")).as("__s6"),
        // lexicographic struct max: the (epoch, tie)-latest row's type,
        // with no packed-ordinal overflow at any id scale
        max(struct(unix_timestamp(col(tsCol)).as("e"), col(tieCol).as("t"),
          col(typeCol).as("v"))).getField("v").as("__day_type"))
    val span = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col(keyCol),
        explode(sequence(col("__d0"), col("__d1"),
          expr("INTERVAL 1 DAY"))).as("day"))
    val ffill = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("__s6"), lit(0L)) / 1e6).as("sum_value"),
        last(col("__day_type"), ignoreNulls = true).over(ffill)
          .as("last_type"))
  }
}

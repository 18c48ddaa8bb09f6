package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range and skew-aware join operators.
  *
  * A theta join (point in interval, interval overlaps interval) has no
  * equi-key, so Spark plans it as a cross join plus filter.
  * [[Joins.rangeJoin]] and [[Joins.intervalOverlapJoin]] bin both sides
  * on a fixed width and equi-join on the bin, then apply the exact
  * predicate. [[Joins.saltedJoin]] spreads a skewed key over salt
  * buckets, and [[Joins.bloomPrunedJoin]] drops big-side rows that a
  * Bloom filter of the small side's keys rules out before the shuffle.
  */
object Joins {

  /** Monotonic suffix for `observe()` metric names — Spark rejects a
    * reused observation name within one query, so composed invocations
    * (e.g. two range joins unioned into one action) each get a
    * distinct name; consumers match on the documented prefix.
    */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** One-time (per JVM) heads-up that the default `observeSkew = true`
    * inserts a CollectMetrics node: Catalyst deliberately does NOT push
    * caller-side filters through it (that would change the observed
    * values), so filtering the interval relation BEFORE the join is
    * load-bearing for interval-scan pruning — a caller that filters
    * AFTER the join reads the full scan. Logged once, not per call:
    * the behavior is documented at both operators and a per-plan-build
    * warning would drown real logs at 100-query scale.
    */
  private lazy val warnedObserveSkew: Unit =
    org.slf4j.LoggerFactory.getLogger("graft.ops.Joins").warn(
      "rangeJoin/intervalOverlapJoin carry observe() bin-skew metrics " +
        "(observeSkew=true, default): Catalyst does not push filters " +
        "through the CollectMetrics node, so filter inputs BEFORE the " +
        "join for scan pruning; pass observeSkew=false to opt a " +
        "proven-stable hot path out. [logged once per JVM]")

  /** Output-name collision guard shared by the prefixing joins: when
    * the LEFT side already carries a column named like a prefixed
    * right column (left has `r_v`, right has `v`), the output would
    * silently hold two identically-named columns — legal to construct,
    * broken on first reference ("ambiguous column") or, worse, quietly
    * resolved to the wrong one by positional consumers. Fail at plan
    * build with the rename named. (Prefixing is injective over the
    * right side itself, so intra-right collisions cannot happen.)
    */
  private def requireNoPrefixCollision(fn: String, leftCols: Seq[String],
      rightCols: Seq[String], rightPrefix: String): Unit = {
    val clash = leftCols.toSet.intersect(rightCols.map(rightPrefix + _).toSet)
    require(clash.isEmpty,
      s"$fn: left column(s) ${clash.mkString(", ")} collide with the " +
        s"prefixed right columns — pass a different rightPrefix or " +
        "rename the left column(s) first")
  }

  /** Internal temp-column reservation guard: the binned/salted joins
    * stage their routing state in `withColumn`s (`__bin`, `__nbins`,
    * `__salt`) that are dropped before returning — a user column with
    * one of those literal names is silently OVERWRITTEN and then
    * dropped from the output (silent column loss), or, for
    * `rangeJoin`'s interval side, mis-renamed into a broken plan. Fail
    * at plan build with the rename named.
    */
  private def requireNoReservedNames(fn: String, side: String,
      df: DataFrame, cols: Seq[String], reserved: Set[String]): Unit =
    Ids.requireNoReservedNames(fn, side, cols, reserved,
      Some(df.sparkSession))

  /** Guard for the native-comparison exactness contract of
    * [[rangeJoin]]/[[intervalOverlapJoin]]: Spark's numeric coercion is
    * exact within the integral/decimal family (int vs long → long,
    * long vs decimal → decimal) and within the fractional family
    * (float vs double → double), but a MIXED comparison (e.g. long
    * point vs double bounds) coerces BOTH sides to double — silently
    * reintroducing the >2^53 ulp admission the native filter exists to
    * avoid. Fail at plan-build time with the cast named rather than
    * admit phantom matches at nanos-since-epoch magnitudes.
    */
  private def requireOneNumericFamily(fn: String,
      cols: (String, org.apache.spark.sql.types.DataType)*): Unit = {
    import org.apache.spark.sql.types._
    def isFractional(dt: DataType) = dt == DoubleType || dt == FloatType
    def isExact(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    }
    cols.foreach { case (n, dt) =>
      require(isFractional(dt) || isExact(dt),
        s"$fn: column '$n' must be numeric, got ${dt.simpleString} — " +
          "convert timestamps to epoch numerics first")
    }
    val (frac, exact) = (cols.filter(c => isFractional(c._2)),
      cols.filter(c => isExact(c._2)))
    require(frac.isEmpty || exact.isEmpty,
      s"$fn: mixed exact/fractional comparison columns (" +
        cols.map { case (n, dt) => s"$n: ${dt.simpleString}" }.mkString(", ") +
        ") — Spark coerces the comparison to double, which is inexact " +
        "past 2^53 (e.g. nanos-since-epoch). Cast all sides to one " +
        "family (long/decimal, or double) explicitly first.")
  }

  /** Range join: pair each point row with every interval row whose
    * `[startCol, endCol]` contains its `pointCol` (inclusive). The naive
    * formulation is a cross join + theta filter — quadratic and
    * unshuffleable. Instead both sides are binned at `binWidth`: a point
    * lands in exactly one bin, an interval explodes into the bins it
    * overlaps, and the join becomes an equi-join on the bin key followed
    * by the exact containment filter. With binWidth ≥ the typical
    * interval width each interval lands in ≤2 bins, so the join input
    * grows ~2×, not |L|×|R|; the bin key shuffles like any equi-join and
    * AQE handles residual bin skew. Point and interval columns must be
    * numeric AND in one numeric family (all integral/decimal, or all
    * float/double — validated at plan build): the containment filter
    * compares them NATIVELY, which is exact within a family at any
    * magnitude, but a mixed long-vs-double comparison would coerce to
    * double and readmit the >2^53 ulp matches. Only the bin routing
    * uses a double axis, which is a monotonic candidate superset.
    * Convert timestamps to epoch numerics first.
    *
    * Observability (the 100 TB hot-bin failure mode): the plan carries
    * an `observe` metric named `graft_range_join_<n>` (counter-suffixed
    * — match on the `graft_range_join` PREFIX) with columns
    * `(intervals, exploded_rows, max_bins_per_interval)`, aggregated
    * during the existing pass (zero extra jobs). When
    * `max_bins_per_interval` reaches the thousands, one wide interval
    * is fanning out across that many bins and its replicated payload
    * dominates the shuffle — raise `binWidth` toward the WIDEST
    * interval (at the cost of more candidate pairs per bin), or split
    * outlier intervals upstream. Read it with a
    * `QueryExecutionListener` or `df.queryExecution.observedMetrics`.
    * Measured cost ~6–13% on a sub-second join (the CollectMetrics
    * node breaks the scan's codegen pipeline once per side — the
    * interleaved A/Bs in BENCH_AB_r11 §2 bound one metric at ~6.5% and
    * two at ≤13%); `observeSkew = false` opts a proven-stable hot path
    * out.
    * Catalyst deliberately does not push caller-side filters THROUGH a
    * CollectMetrics node (it would change the observed values), so
    * filter the interval relation BEFORE the join — the repo-wide
    * pattern anyway — or the scan reads unfiltered.
    *
    * Output: all point columns + all interval columns prefixed
    * `rightPrefix`.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pointCol: String,
      startCol: String, endCol: String, binWidth: Double,
      rightPrefix: String = "r_", observeSkew: Boolean = true): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // native comparison is only exact when point and bounds stay in one
    // numeric family — a long point vs double bounds coerces the filter
    // to double and readmits the >2^53 ulp matches
    requireOneNumericFamily("rangeJoin",
      pointCol -> Ids.fieldOf(points, pointCol, "rangeJoin").dataType,
      startCol -> Ids.fieldOf(intervals, startCol, "rangeJoin").dataType,
      endCol -> Ids.fieldOf(intervals, endCol, "rangeJoin").dataType)
    requireNoPrefixCollision("rangeJoin", points.columns.toSeq,
      intervals.columns.toSeq, rightPrefix)
    // `withColumn("__bin", …)` on the points side silently OVERWRITES a
    // user column of that name and then drops it from the output; the
    // interval side's `__bin`/`__nbins` staging would mis-rename
    requireNoReservedNames("rangeJoin", "points", points,
      points.columns.toSeq, Set("__bin"))
    requireNoReservedNames("rangeJoin", "intervals", intervals,
      intervals.columns.toSeq, Set("__bin", "__nbins"))
    // the interval side is renamed AFTER its __bin staging, so the
    // PREFIXED names must also stay clear: with a non-default prefix
    // like "__" an intervals column 'bin' renames onto the staged
    // __bin — a duplicate column and a confusing AnalysisException on
    // the USING join instead of this named plan-build error (same
    // post-prefix check intervalOverlapJoin makes). Only __bin here:
    // unlike intervalOverlapJoin, rangeJoin drops __nbins BEFORE the
    // rename fold, so a prefixed name equal to __nbins is safe
    // (ADVICE r13 — reserving it was an over-strict false positive)
    requireNoReservedNames("rangeJoin", "intervals (prefixed)", intervals,
      intervals.columns.map(rightPrefix + _).toSeq, Set("__bin"))
    val p = points.withColumn("__bin",
      floor(col(pointCol).cast("double") / binWidth).cast("long"))
    // bin-skew observability (docstring contract): bins-per-interval
    // measured BEFORE the explode, projected once in codegen so the
    // per-row metric accumulator evaluates a plain column reference
    val nBins = floor(col(endCol).cast("double") / binWidth).cast("long") -
      floor(col(startCol).cast("double") / binWidth).cast("long") + lit(1L)
    if (observeSkew) warnedObserveSkew
    val observed = if (!observeSkew) intervals else intervals
      .withColumn("__nbins", nBins)
      .observe(s"graft_range_join_${obsCounter.incrementAndGet()}",
        count(lit(1)).as("intervals"),
        coalesce(sum(col("__nbins")), lit(0L)).as("exploded_rows"),
        coalesce(max(col("__nbins")), lit(0L)).as("max_bins_per_interval"))
      .drop("__nbins")
    val i = observed
      .withColumn("__bin",
        explode(sequence(
          floor(col(startCol).cast("double") / binWidth).cast("long"),
          floor(col(endCol).cast("double") / binWidth).cast("long"))))
    val renamed = intervals.columns.foldLeft(i) { (df, c) =>
      df.withColumnRenamed(c, s"$rightPrefix$c")
    }
    // Bin math may round on the double axis — harmless, the cast is
    // monotonic so a point's bin always lies inside its interval's bin
    // range (candidates are a superset). The containment FILTER is the
    // correctness line and compares NATIVE values: a double-cast filter
    // admitted points one ulp past a long boundary at >2^53 magnitudes
    // (nanos-since-epoch), where 2^53 and 2^53+1 collapse to one double.
    p.join(renamed, Seq("__bin"))
      .filter(col(pointCol).between(
        col(s"$rightPrefix$startCol"), col(s"$rightPrefix$endCol")))
      .drop("__bin")
  }

  /** Interval-OVERLAP join — the interval×interval generalization of
    * [[rangeJoin]] (point-in-interval): emit every (left, right) pair
    * whose closed intervals intersect (`lStart ≤ rEnd ∧ rStart ≤
    * lEnd`), without a cross join. Both sides explode to the bins
    * their interval covers and equi-join on the bin; a pair sharing
    * k bins would surface k times, so it is emitted ONLY at its
    * canonical bin — the bin containing the LATER of the two starts,
    * which every overlapping pair covers on both sides exactly once.
    * Exactly-once is structural, not a post-hoc distinct (no wide
    * dedup shuffle).
    *
    * Scale shape: shuffle volume is rows × (interval length /
    * `binWidth`) per side — pick `binWidth` near the typical interval
    * length so the explode factor stays O(1) and no bin becomes a hot
    * key. Bounds must be numeric and in ONE numeric family (all
    * integral/decimal, or all float/double — same plan-build guard as
    * [[rangeJoin]]): the overlap filter compares natively, exact
    * within a family at any magnitude. Typical use is integral epochs
    * (micros, days); bin routing runs on the rounded double axis,
    * which is a monotonic candidate superset, so the plan stays
    * deterministic and SQL-replayable either way.
    *
    * Observability (the 100 TB hot-bin failure mode): the plan carries
    * TWO `observe` metrics, `graft_overlap_join_l_<n>` and
    * `graft_overlap_join_r_<n>` (counter-suffixed — match on the
    * prefixes), each `(intervals, exploded_rows,
    * max_bins_per_interval)` for its side, aggregated during the
    * existing pass. A `max_bins_per_interval` in the thousands means
    * one wide interval is replicating across that many bins and
    * dominating the shuffle — raise `binWidth` toward the widest
    * interval or split outliers upstream. Same measured ~6–13% cost
    * and `observeSkew = false` opt-out as [[rangeJoin]].
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long, rightPrefix: String = "r_",
      observeSkew: Boolean = true): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // same native-comparison exactness contract as rangeJoin: the
    // overlap filter compares lStart/rEnd (and rStart/lEnd) natively
    requireOneNumericFamily("intervalOverlapJoin",
      lStart -> Ids.fieldOf(left, lStart, "intervalOverlapJoin").dataType,
      lEnd -> Ids.fieldOf(left, lEnd, "intervalOverlapJoin").dataType,
      rStart -> Ids.fieldOf(right, rStart, "intervalOverlapJoin").dataType,
      rEnd -> Ids.fieldOf(right, rEnd, "intervalOverlapJoin").dataType)
    requireNoPrefixCollision("intervalOverlapJoin", left.columns.toSeq,
      right.columns.toSeq, rightPrefix)
    // left side stages `__bin`/`__nbins` on the raw names; the right
    // side stages them AFTER prefixing, so check the prefixed names
    // (with the default "r_" prefix a right `__bin` is safe, but an
    // empty prefix would re-expose the collision)
    requireNoReservedNames("intervalOverlapJoin", "left", left,
      left.columns.toSeq, Set("__bin", "__nbins"))
    requireNoReservedNames("intervalOverlapJoin", "right (prefixed)", right,
      right.columns.map(rightPrefix + _).toSeq, Set("__bin", "__nbins"))
    def bin(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") / binWidth).cast("long")
    // bin-skew observability (docstring contract), one metric per side.
    // The bins-per-interval expression is projected ONCE in codegen
    // before the observe so the per-row metric accumulator evaluates a
    // plain column reference, not interpreted floor-divisions.
    if (observeSkew) warnedObserveSkew
    def skewObs(df: DataFrame, name: String, s: String, e: String) =
      if (!observeSkew) df else df
        .withColumn("__nbins", bin(col(e)) - bin(col(s)) + lit(1L))
        .observe(s"graft_overlap_join_${name}_${obsCounter.incrementAndGet()}",
          count(lit(1)).as("intervals"),
          coalesce(sum(col("__nbins")), lit(0L)).as("exploded_rows"),
          coalesce(max(col("__nbins")), lit(0L)).as("max_bins_per_interval"))
        .drop("__nbins")
    val l = skewObs(left, "l", lStart, lEnd).withColumn("__bin",
      explode(sequence(bin(col(lStart)), bin(col(lEnd)))))
    val renamed = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"$rightPrefix$c")
    }
    val r = skewObs(renamed, "r", s"$rightPrefix$rStart", s"$rightPrefix$rEnd")
      .withColumn("__bin",
        explode(sequence(bin(col(s"$rightPrefix$rStart")),
          bin(col(s"$rightPrefix$rEnd")))))
    l.join(r, Seq("__bin"))
      .filter(col(lStart) <= col(s"$rightPrefix$rEnd") &&
        col(s"$rightPrefix$rStart") <= col(lEnd))
      .filter(col("__bin") ===
        bin(greatest(col(lStart), col(s"$rightPrefix$rStart"))))
      .drop("__bin")
  }

  /** Skew-resilient inner equi-join: the left (large, possibly skewed)
    * side's rows are salted into `buckets` sub-keys and the right side is
    * replicated once per bucket, so a hot key's rows spread over `buckets`
    * reducers instead of one straggler. Result is exactly
    * `left.join(right, keys, "inner")`. AQE's skew-join handles most cases
    * at runtime; explicit salting remains the tool when a single key
    * exceeds what one task can hold or the join is written by a framework
    * that must not depend on AQE heuristics.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      buckets: Int = 16): DataFrame = {
    // same silent-overwrite class as rangeJoin's __bin: a user __salt
    // on either side would be replaced and then dropped
    requireNoReservedNames("saltedJoin", "left", left, left.columns.toSeq,
      Set("__salt"))
    requireNoReservedNames("saltedJoin", "right", right, right.columns.toSeq,
      Set("__salt"))
    // Salt must be uniform per-row regardless of partition layout;
    // rand(seed) draws per-row from a seeded stream (layout-independent in
    // distribution), unlike salting off monotonically_increasing_id whose
    // low bits encode the partition index.
    val salted = left.withColumn("__salt",
      floor(rand(42L) * buckets).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "__salt", "inner").drop("__salt")
  }

  /** Bloom-pruned inner equi-join: when the small side is selective but
    * too big (or a shuffled-hash plan is forced anyway), build a Bloom
    * filter over its join keys and drop non-matching BIG-side rows at
    * the SCAN, before their payloads ever reach the exchange — the
    * runtime row-group/shuffle-volume reduction AQE's own runtime
    * filters target, as an explicit operator. EXACT: a Bloom filter
    * has no false negatives, so every matching row survives the
    * prefilter and the join itself removes the ~`fpp` false
    * positives — output == the plain join (q_bloom_join shares a plain
    * relational oracle). The filter ships as ONE broadcast handle per
    * executor and the probe is a codegen'd expression
    * ([[graft.spark.BloomProbeExpression]]), so the big-side scan
    * stays in whole-stage codegen. Integral join keys (the fact-table
    * norm); the small side should fit a count() + bloomFilter build —
    * its keys, not its rows, bound the filter size.
    */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, key: String,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"bloomPrunedJoin: bad fpp $fpp")
    val keyType = graft.ops.Ids.fieldOf(big, key, "bloomPrunedJoin").dataType
    require(keyType == org.apache.spark.sql.types.LongType ||
      keyType == org.apache.spark.sql.types.IntegerType,
      s"bloomPrunedJoin needs an integral key (got $keyType)")
    val spark = big.sparkSession
    val nKeys = math.max(1L, small.select(col(key)).distinct().count())
    val bloom = small.select(col(key).cast("long").as(key))
      .stat.bloomFilter(key, nKeys, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val probe = org.apache.spark.sql.GraftBridge.column(
      graft.spark.BloomProbeExpression(
        org.apache.spark.sql.GraftBridge.expression(col(key).cast("long")),
        bc))
    big.filter(probe).join(small, Seq(key))
  }
}

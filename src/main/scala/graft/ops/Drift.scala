package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two corpus snapshots — the
  * daily-pipeline monitoring primitive: "did today's crawl's
  * length/quality/score distribution move away from yesterday's
  * (or from the reference corpus the filters were tuned on)?"
  * Population Stability Index (the banking-scorecard drift measure:
  * Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over buckets — conventional read: <0.1 stable,
  * 0.1–0.25 moderate, >0.25 major drift) and the two-sample
  * Kolmogorov–Smirnov statistic (max |cdf_a − cdf_b|) over a shared
  * equi-width bucketing; the categorical twin ([[driftCategorical]])
  * reads PSI over category shares plus the two-sample χ² statistic.
  *
  * Scale shape: each side reduces to its [[Sketch.histTable]] bucket
  * relation (≤ buckets+2 rows — the only shuffled key space; values
  * never shuffle), then one tiny outer join of the two bucket tables.
  * Works unchanged on 100 TB a side because everything after the two
  * scans is O(buckets). The bucket tables are also exactly what you'd
  * persist per day, so day-over-day drift needs no rescan of
  * yesterday — and [[driftSeries]] turns an N-day stack of persisted
  * bucket tables into the full "when did it start drifting" series in
  * one query.
  *
  * Weighted mode: [[driftStats]]/[[driftByGroup]]/[[driftCategorical]]
  * /[[catTable]] (and [[Profile.groupQuantileSketch]] on the quantile
  * side) take a `weightCol` — the mixture-monitoring read where each record
  * carries an importance weight (q_dsir/q_imp_sample outputs) or a
  * token count and the watched distribution is Σ weight, not record
  * count. Counters become exact-long 1e6-grain weight sums
  * ([[Sketch.countOrWeight]]); the PSI/KS/χ² cores consume them
  * UNCHANGED (they only ever see counts), and integer weights are
  * provably identical to row replication (shares scale by exactly
  * 10⁶, which cancels). Null weights drop; negative weights raise.
  *
  * Null contract: [[driftStats]]/[[driftByGroup]] DROP null values
  * before bucketing (a null has no position in a numeric
  * distribution); [[catTable]] instead keeps nulls as the `__null__`
  * sentinel level — for categories the null share IS part of the mix
  * being monitored. The PERSISTED-table entry points raise on a NULL
  * bucket row: two null buckets never equi-join (null != null), so
  * identical null-bearing inputs would read as drifted, and the null
  * bucket's sort position differs between Spark and SQL replays — a
  * silently wrong KS (ADVICE r16).
  *
  * Determinism/oracle contract: bucket counts are exact longs; the
  * per-bucket PSI terms are floored to a 1e-9 grain and summed as
  * exact BIGINTs (partition-order-proof, SQL-replayable), then
  * divided back once; the KS statistic is a MAX over per-bucket
  * doubles (no accumulation — IEEE-exact cross-engine). Empty buckets substitute share `eps` inside the
  * PSI log (the standard finite-PSI convention; KS uses the true
  * zero). Both stats round to 6dp.
  */
object Drift {

  /** One-row drift report `(n_a, n_b, psi, ks)` between the
    * distributions of `valueCol` in `a` and `b` over the equi-width
    * bucketing `[lo, hi) / buckets` (under/overflow kept as their own
    * ordered buckets, exactly as [[Sketch.histTable]] emits them).
    * Null values are dropped on both sides before bucketing (a null
    * has no position in the distribution; the sibling ops'
    * convention — see the object doc for why a null BUCKET would
    * corrupt both stats). Raises on an empty side — drift against
    * nothing is a pipeline bug, not a zero.
    */
  def driftStats(a: DataFrame, b: DataFrame, valueCol: String,
      lo: Double, hi: Double, buckets: Int,
      eps: Double = 1e-6, weightCol: Option[String] = None): DataFrame =
    driftFromHistTables(
      Sketch.histTable(a.filter(col(valueCol).isNotNull), valueCol,
        lo, hi, buckets, weightCol),
      Sketch.histTable(b.filter(col(valueCol).isNotNull), valueCol,
        lo, hi, buckets, weightCol), eps)

  /** [[driftStats]] over two ALREADY-BUILT `(bucket, c)` histogram
    * tables (the [[Sketch.histTable]] shape — same lo/hi/buckets on
    * both sides is the caller's contract, as for [[Sketch.histMerge]]).
    * This is the day-over-day path: persist each day's ≤buckets+2-row
    * bucket table and diff today against yesterday without rescanning
    * yesterday's corpus. Also accepts a streaming sink's complete-mode
    * histogram output batch-side. A NULL bucket row on either side
    * raises (see the object doc); an empty side raises too — including
    * BOTH sides empty (the final aggregation is global, so the guard
    * row exists even over zero input rows).
    */
  def driftFromHistTables(histA: DataFrame, histB: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"driftStats: eps out of (0,1): $eps")
    val ha = requireKeyNotNull(histA, "bucket", "A")
      .withColumnRenamed("c", "c_a")
    val hb = requireKeyNotNull(histB, "bucket", "B")
      .withColumnRenamed("c", "c_b")
    val joined = ha.join(hb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    psiKsOverBuckets(joined, Nil, eps)
      .select(
        when(col("n_a").isNull || col("n_a") === 0,
          raise_error(lit("driftStats: empty side A"))).otherwise(col("n_a"))
          .as("n_a"),
        when(col("n_b").isNull || col("n_b") === 0,
          raise_error(lit("driftStats: empty side B"))).otherwise(col("n_b"))
          .as("n_b"),
        col("psi"), col("ks"))
  }

  /** Per-group drift: [[driftStats]] stratified by `groupCol` — one
    * `(group, n_a, n_b, psi, ks)` row per group present on EITHER side
    * (a group with an empty opposite side reports null psi/ks rather
    * than raising: at per-language grain, a language appearing or
    * vanishing IS the finding, and the n_a/n_b zeros carry it).
    * Null values drop before bucketing, as in [[driftStats]].
    * Same O(groups × buckets) post-scan cost.
    */
  def driftByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String, lo: Double, hi: Double, buckets: Int,
      eps: Double = 1e-6, weightCol: Option[String] = None): DataFrame = {
    require(eps > 0 && eps < 1, s"driftByGroup: eps out of (0,1): $eps")
    require(buckets >= 1 && hi > lo,
      s"driftByGroup: bad range/buckets $lo/$hi/$buckets")
    val width = (hi - lo) / buckets
    def hist(df: DataFrame, cName: String) = {
      val v = col(valueCol).cast("double")
      Sketch.weightDropNull(df.filter(col(valueCol).isNotNull), weightCol)
        .select(Seq(col(groupCol).as("g"),
          when(v < lo, lit(-1)).when(v >= hi, lit(buckets))
            .otherwise(floor((v - lit(lo)) / lit(width)).cast("int"))
            .as("bucket")) ++ weightCol.map(col): _*)
        .groupBy(col("g"), col("bucket"))
        .agg(Sketch.countOrWeight(weightCol).as(cName))
    }
    val joined = hist(a, "c_a").join(hist(b, "c_b"),
        Seq("g", "bucket"), "full_outer")
      .select(col("g"), col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    psiKsOverBuckets(joined, Seq("g"), eps)
      .select(col("g").as(groupCol), col("n_a"), col("n_b"),
        col("psi"), col("ks"))
  }

  /** Day-over-day drift SERIES over a persisted bucket-table stack —
    * the "when did it start drifting" read. Input: one relation
    * `(dayCol, bucket, c)` (each day's [[Sketch.histTable]] output,
    * same lo/hi/buckets every day, stacked — exactly what the
    * persisted-table convention accumulates). Output: one
    * `(dayCol, prev_<dayCol>, n_a, n_b, psi, ks)` row per CONSECUTIVE
    * pair of distinct days present (a = the earlier day), ordered
    * pairing by `dayCol`'s natural order; the first day has no
    * predecessor and emits nothing. Null buckets raise, as in
    * [[driftFromHistTables]].
    *
    * Scale shape: the day-pairing lag window runs over the DISTINCT
    * days only (one row per day — a single task over N rows, like the
    * accepted `partitionBy(lit(1))` windows here, because the input is
    * already the reduced bucket relation, never the corpus); the
    * per-pair stats are O(days × buckets) with per-day parallelism.
    */
  def driftSeries(hists: DataFrame, dayCol: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"driftSeries: eps out of (0,1): $eps")
    // a NULL day would silently vanish from the lag pairing (null never
    // equi-joins and sorts engine-dependently) — raise, like null buckets
    // Deliberately NOT persisted (r18 opt round, measured): the three
    // consumers below (day list + both join sides) reference identical
    // aggregation/exchange subtrees of the day-stack, which Spark's
    // exchange reuse dedupes within the caller's single action — the
    // pass-1 persist replaced that free reuse with a cache round-trip
    // and measured a paired-interleaved 1.30x REGRESSION on
    // q_drift_series (reverted; see OPTIMIZATION_r18.md).
    val h = requireKeyNotNull(
      requireKeyNotNull(hists, "bucket", "series"), dayCol, "series")
    val days = h.select(col(dayCol).as("__d")).distinct()
    val pairs = days
      .withColumn("__p", lag(col("__d"), 1).over(Window.orderBy(col("__d"))))
      .filter(col("__p").isNotNull)
    val ha = pairs.join(
      h.select(col(dayCol).as("__p"), col("bucket"), col("c").as("c_a")),
      Seq("__p"))
    val hb = pairs.join(
      h.select(col(dayCol).as("__d"), col("bucket"), col("c").as("c_b")),
      Seq("__d"))
    val joined = ha.join(hb, Seq("__d", "__p", "bucket"), "full_outer")
      .select(col("__d"), col("__p"), col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    psiKsOverBuckets(joined, Seq("__d", "__p"), eps)
      .select(col("__d").as(dayCol), col("__p").as(s"prev_$dayCol"),
        col("n_a"), col("n_b"), col("psi"), col("ks"))
  }

  /** Category share table `(cat, c)` — the categorical analogue of
    * [[Sketch.histTable]], and the per-day relation the
    * [[driftFromCatTables]] day-over-day path persists. Null
    * categories become the `__null__` sentinel level (the
    * [[graft.ops]] convention, as in [[Profile.cramersV]]): for a
    * categorical mix the null share is part of what drift monitoring
    * watches, unlike a null VALUE which has no distribution position.
    */
  def catTable(df: DataFrame, catCol: String,
      weightCol: Option[String] = None): DataFrame =
    Sketch.weightDropNull(df, weightCol)
      .select(coalesce(col(catCol).cast("string"), lit("__null__"))
        .as("cat") +: weightCol.map(col).toSeq: _*)
      .groupBy(col("cat"))
      .agg(Sketch.countOrWeight(weightCol).as("c"))

  /** Categorical drift — the language/source/license-mix twin of
    * [[driftStats]]: one row `(n_a, n_b, k, psi, chi2)` between the
    * category mixes of `catCol` in `a` and `b`, where `k` is the
    * number of distinct categories across both sides, `psi` is the
    * PSI over category shares (eps-substituted for a category absent
    * on one side — the one-sided category contributes a finite
    * penalty), and `chi2` the two-sample χ² statistic over the FULL
    * 2×k grid on the [[Profile.cramersV]] convention: an absent
    * category's cell contributes its expected count — dropping it
    * biases χ² low. There is no KS here: categories have no order, so
    * a cdf statistic would be an artifact of the sort.
    * Raises on an empty side.
    */
  def driftCategorical(a: DataFrame, b: DataFrame, catCol: String,
      eps: Double = 1e-6, weightCol: Option[String] = None): DataFrame =
    driftFromCatTables(catTable(a, catCol, weightCol),
      catTable(b, catCol, weightCol), eps)

  /** [[driftCategorical]] over two ALREADY-BUILT `(cat, c)` category
    * tables (the [[catTable]] shape) — the persisted day-over-day
    * path: keep each day's k-row category table and diff today
    * against yesterday without rescanning yesterday's corpus. A NULL
    * cat row raises (build the tables with [[catTable]], whose
    * sentinel keeps nulls representable); an empty side raises —
    * including both-empty (global final aggregation, so the guard row
    * exists even over zero input rows).
    *
    * Determinism: category counts are exact longs; the per-category
    * PSI term and each side's χ² cell term (o−e)²/e are floored to a
    * 1e-9 grain and summed as exact BIGINTs — partition-order-proof
    * and SQL-replayable. Output rounds to 6dp.
    *
    * Scale shape: each 100 TB side reduces to its k-row category
    * table before the (full-outer, tiny) join; everything after the
    * two scans is O(k).
    */
  def driftFromCatTables(catA: DataFrame, catB: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"driftCategorical: eps out of (0,1): $eps")
    val ha = requireKeyNotNull(catA, "cat", "A").withColumnRenamed("c", "c_a")
    val hb = requireKeyNotNull(catB, "cat", "B").withColumnRenamed("c", "c_b")
    val joined = ha.join(hb, Seq("cat"), "full_outer")
      .select(col("cat"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    psiChiOverCats(joined, Nil, eps)
      .select(
        when(col("n_a").isNull || col("n_a") === 0,
          raise_error(lit("driftCategorical: empty side A")))
          .otherwise(col("n_a")).as("n_a"),
        when(col("n_b").isNull || col("n_b") === 0,
          raise_error(lit("driftCategorical: empty side B")))
          .otherwise(col("n_b")).as("n_b"),
        col("k"), col("psi"), col("chi2"))
  }

  /** Day-over-day CATEGORICAL drift series — [[driftSeries]]'s mix
    * twin over a persisted [[catTable]] stack `(dayCol, cat, c)`: one
    * `(dayCol, prev_<dayCol>, n_a, n_b, k, psi, chi2)` row per
    * consecutive pair of distinct days (a = the earlier day), the
    * "when did the language/source mix start moving" read. Null cats
    * and null days raise, as everywhere in the persisted-table family;
    * a one-sided day cannot occur (days come from the stack itself).
    * Same shape as [[driftSeries]]: the day pairing lags over the
    * distinct days only, then O(days × k) arithmetic.
    */
  def driftCatSeries(cats: DataFrame, dayCol: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"driftCatSeries: eps out of (0,1): $eps")
    // unpersisted for the same exchange-reuse reason as [[driftSeries]]
    val h = requireKeyNotNull(
      requireKeyNotNull(cats, "cat", "series"), dayCol, "series")
    val days = h.select(col(dayCol).as("__d")).distinct()
    val pairs = days
      .withColumn("__p", lag(col("__d"), 1).over(Window.orderBy(col("__d"))))
      .filter(col("__p").isNotNull)
    val ha = pairs.join(
      h.select(col(dayCol).as("__p"), col("cat"), col("c").as("c_a")),
      Seq("__p"))
    val hb = pairs.join(
      h.select(col(dayCol).as("__d"), col("cat"), col("c").as("c_b")),
      Seq("__d"))
    val joined = ha.join(hb, Seq("__d", "__p", "cat"), "full_outer")
      .select(col("__d"), col("__p"), col("cat"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    psiChiOverCats(joined, Seq("__d", "__p"), eps)
      .select(col("__d").as(dayCol), col("__p").as(s"prev_$dayCol"),
        col("n_a"), col("n_b"), col("k"), col("psi"), col("chi2"))
  }

  /** The shared PSI/χ² reduction over a joined
    * `(parts..., cat, c_a, c_b)` category relation — the categorical
    * core, as [[psiKsOverBuckets]] is the numeric one: per-partition
    * totals and the category count k via windows, eps-substituted
    * share PSI, and the two-sample χ² on the full 2×k grid with
    * per-CELL 1e-9 grains (each side's (o−e)²/e floors separately —
    * the [[Profile.cramersV]] convention, so any SQL replay lands
    * cell-for-cell). Empty `parts` = one whole-relation partition and
    * a GLOBAL final aggregation (a row exists even over empty input,
    * for the caller's raise guard).
    */
  private def psiChiOverCats(joined: DataFrame, parts: Seq[String],
      eps: Double): DataFrame = {
    val pcols = parts.map(col)
    val pspec = if (pcols.isEmpty) Seq(lit(1)) else pcols
    val tot = Window.partitionBy(pspec: _*)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val n = (col("n_a") + col("n_b")).cast("double")
    val ck = (col("c_a") + col("c_b")).cast("double")
    val eA = col("n_a").cast("double") * ck / n
    val eB = col("n_b").cast("double") * ck / n
    joined
      .withColumn("n_a", sum(col("c_a")).over(tot))
      .withColumn("n_b", sum(col("c_b")).over(tot))
      .withColumn("k", count(lit(1)).over(tot))
      .withColumn("p", col("c_a").cast("double") / col("n_a"))
      .withColumn("q", col("c_b").cast("double") / col("n_b"))
      .withColumn("p_adj", when(col("c_a") === 0, lit(eps)).otherwise(col("p")))
      .withColumn("q_adj", when(col("c_b") === 0, lit(eps)).otherwise(col("q")))
      .withColumn("psi9",
        floor((col("p_adj") - col("q_adj")) * log(col("p_adj") / col("q_adj"))
          * 1e9).cast("long"))
      .withColumn("chi9",
        floor((col("c_a").cast("double") - eA) *
          (col("c_a").cast("double") - eA) / eA * 1e9).cast("long") +
        floor((col("c_b").cast("double") - eB) *
          (col("c_b").cast("double") - eB) / eB * 1e9).cast("long"))
      .groupBy(pcols: _*)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("k")).as("k"),
        round(sum(col("psi9")).cast("double") / 1e9, 6).as("psi"),
        round(sum(col("chi9")).cast("double") / 1e9, 6).as("chi2"))
  }

  /** Embedding-distribution drift — the semantic twin of
    * [[driftStats]]: did the corpus MOVE in embedding space between
    * snapshot `a` (the reference) and snapshot `b`? Each row scores as
    * its cosine to the REFERENCE side's centroid, the two cosine
    * distributions diff through the standard PSI/KS machinery over a
    * `[-1, 1)` equi-width bucketing, and `centroid_cos` reports how
    * far the mean embedding itself rotated (cos(centroid_a,
    * centroid_b), 1 = no shift). One row: `(n_a, n_b, psi, ks,
    * centroid_cos)`, round-6.
    *
    * Determinism: the centroid is the per-dimension mean of 1e7-grain
    * integer sums; cosine terms floor to a 1e9 grain and sum as exact
    * longs — partition-order-proof and replayable in any engine with
    * integer arithmetic. Zero-norm vectors (and length-mismatched ones — the
    * zip pads with null) score null and drop, like null values in
    * [[driftStats]].
    *
    * Scale shape: TWO passes per side, period. Pass 1 per side is the
    * centroid — posexplode + groupBy(dim) with map-side partials (the
    * wire carries partitions × d grained longs, not rows) — collected
    * to the driver as the d-element vector it is (the one driver-side
    * materialization: a small aggregate collected once and fed back to
    * the scan as a literal, never a per-row join). Pass 2
    * is the scoring scan, fully SCAN-LOCAL: zip_with / aggregate
    * against the LITERAL centroid array — no shuffle, no per-row join,
    * and the centroid's self-norm is a precomputed constant rather
    * than O(d) work per row. Everything after is the ≤buckets+2-row
    * drift machinery plus driver arithmetic over two d-vectors. Works
    * unchanged on 100 TB of embeddings a side.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String,
      buckets: Int = 40, eps: Double = 1e-6): DataFrame = {
    require(buckets >= 1, s"embeddingDrift: bad buckets $buckets")
    def centroid(df: DataFrame, side: String): Array[Double] = {
      val rows = df
        .select(posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("i", "v")))
        .groupBy(col("i"))
        .agg(sum(floor(col("v") * 1e7).cast("long")).as("s7"),
          count(lit(1)).as("n"))
        .select(col("i"),
          (col("s7").cast("double") / col("n") / 1e7).as("c"))
        .collect()
      require(rows.nonEmpty,
        s"embeddingDrift: empty side $side (no non-null vectors)")
      val out = new Array[Double](rows.map(_.getInt(0)).max + 1)
      rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
      out
    }
    val ca = centroid(a, "A")
    val cb = centroid(b, "B")
    // the same 1e9-grain arithmetic the oracle replays, driver-side
    def g9(x: Double, y: Double): Long = math.floor(x * y * 1e9).toLong
    val scA = ca.map(c => g9(c, c)).sum
    def scored(df: DataFrame): DataFrame = {
      val vc = col(vecCol).cast("array<double>")
      // Codegen'd kernel ([[graft.spark.GrainedCosineConstExpression]]):
      // same floor(·*1e9) grains, same left-to-right exact-long sums,
      // same sd/sqrt(sv*scA) IEEE order as the zip_with/aggregate
      // formulation it replaces (which evaluated interpreted — ~4·d
      // boxed lambda calls per row, HOFs are CodegenFallback) — and the
      // same null contract: ragged length (the ADVICE r17 guard), null
      // element, sv<=0 or scA<=0 all score null. Bit-identical by
      // construction, pinned by an OpsSpec parity test; the q_embed_drift
      // oracle replays it unchanged.
      df.select(org.apache.spark.sql.GraftBridge.column(
        graft.spark.GrainedCosineConstExpression(
          org.apache.spark.sql.GraftBridge.expression(vc), ca, scA))
        .as("cos"))
    }
    val drift = driftStats(scored(a), scored(b), "cos",
      -1.0, 1.0, buckets, eps)
    // centroid-vs-centroid cosine over the shared dims (the inner-join
    // semantics of the relational form, now two d-vectors on the driver)
    val minD = math.min(ca.length, cb.length)
    val sdc = (0 until minD).iterator.map(i => g9(ca(i), cb(i))).sum
    val sca = (0 until minD).iterator.map(i => g9(ca(i), ca(i))).sum
    val scb = (0 until minD).iterator.map(i => g9(cb(i), cb(i))).sum
    // rounding stays Spark's own round() so the oracle contract is
    // untouched — only the tiny join moved driver-side
    val ccCol =
      if (sca > 0 && scb > 0)
        round(lit(sdc.toDouble / math.sqrt(sca.toDouble * scb.toDouble)), 6)
      else lit(null).cast("double")
    drift.withColumn("centroid_cos", ccCol)
  }

  /** Per-group embedding drift — [[embeddingDrift]] stratified by
    * `groupCol`, the "did ONLY the code subset move?" monitoring read
    * at per-language/source grain: each group's rows score as their
    * cosine to THAT group's side-A (reference) centroid, the
    * per-group cosine distributions diff through the shared PSI/KS
    * machinery over the same `[-1, 1)` bucketing, and `centroid_cos`
    * reports each group's own centroid rotation. One row per group
    * present on either side: `(groupCol, n_a, n_b, psi, ks,
    * centroid_cos)`. A group with an empty scored opposite side
    * reports null psi/ks (the [[driftByGroup]] "appearance IS the
    * finding" contract); a group absent from the REFERENCE side has
    * nothing to score against and reports (0, 0, null, null, null) —
    * the row itself carries the finding. Null groups drop (no
    * stratum — sentinel upstream if the null level matters); n_a/n_b
    * count SCORED vectors (length matching the group centroid,
    * positive norm), the bucketed population as in [[driftStats]].
    *
    * Determinism: identical grains to [[embeddingDrift]] — 1e7
    * centroids, 1e9 cosine/centroid-product terms summed as exact
    * longs, round-6 — with the centroid-vs-centroid cosine taken over
    * the SHARED leading dims (slice to the shorter length, the
    * relational inner-join-on-dim semantics).
    *
    * Scale shape: the literal-centroid trick can't carry G groups, so
    * the reference centroids become a (group, dim-array, self-norm)
    * RELATION — G·d grained longs out of one posexplode aggregation
    * per side — and scoring BROADCAST-joins that ≤G-row relation
    * against each scan: still scan-local, still no shuffle of
    * vectors, two passes per side total. Everything downstream is the
    * O(groups × buckets) drift machinery plus G-row centroid joins.
    */
  def embeddingDriftByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      vecCol: String, buckets: Int = 40, eps: Double = 1e-6): DataFrame = {
    require(buckets >= 1, s"embeddingDriftByGroup: bad buckets $buckets")
    require(eps > 0 && eps < 1,
      s"embeddingDriftByGroup: eps out of (0,1): $eps")
    val width = 2.0 / buckets
    def selfNorm9(arr: Column): Column =
      aggregate(transform(arr, x => floor(x * x * 1e9).cast("long")),
        lit(0L), (acc, x) => acc + x)
    // pass 1 per side: per-(group, dim) grained means assembled into
    // the group's centroid array (dims are contiguous posexplode
    // indexes, so the i-sorted collect is the vector)
    def cents(df: DataFrame): DataFrame =
      df.filter(col(groupCol).isNotNull)
        .select(col(groupCol).as("g"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "v")))
        .groupBy(col("g"), col("i"))
        .agg(sum(floor(col("v") * 1e7).cast("long")).as("s7"),
          count(lit(1)).as("n"))
        .groupBy(col("g"))
        .agg(transform(
          sort_array(collect_list(struct(col("i"),
            (col("s7").cast("double") / col("n") / 1e7).as("c")))),
          e => e.getField("c")).as("cent"))
    // side A's centroid relation feeds THREE consumers (the broadcast
    // refs under each side's scoring pass and the rotation join) —
    // persist it so the posexplode aggregation over the reference
    // corpus runs once, not three times (≤G×d rows; released through
    // [[graft.spark.CacheRelease]] after the caller's first action).
    // centB has a single consumer.
    val centA = cents(a)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centB = cents(b)
    val refs = centA.select(col("g"), col("cent"),
      selfNorm9(col("cent")).as("sc9"))
    // pass 2 per side: broadcast the reference centroids, score
    // scan-local, reduce straight to (group, bucket) counts
    def hist(df: DataFrame, cName: String): DataFrame = {
      // Codegen'd kernel ([[graft.spark.GrainedCosineExpression]]) —
      // the per-row-centroid twin of embeddingDrift's const kernel:
      // identical grain/sum/guard math to the zip_with/aggregate
      // formulation it replaces (interpreted, CodegenFallback), same
      // null contract (ragged length, null element, sv<=0, sc9<=0 →
      // null). Parity-pinned in OpsSpec.
      df.filter(col(groupCol).isNotNull)
        .select(col(groupCol).as("g"), col(vecCol).cast("array<double>")
          .as("__v"))
        .join(broadcast(refs), Seq("g"))
        .select(col("g"),
          org.apache.spark.sql.GraftBridge.column(
            graft.spark.GrainedCosineExpression(
              org.apache.spark.sql.GraftBridge.expression(col("__v")),
              org.apache.spark.sql.GraftBridge.expression(col("cent")),
              org.apache.spark.sql.GraftBridge.expression(col("sc9"))))
            .as("cos"))
        .filter(col("cos").isNotNull)
        .select(col("g"),
          when(col("cos") < -1.0, lit(-1))
            .when(col("cos") >= 1.0, lit(buckets))
            .otherwise(floor((col("cos") - lit(-1.0)) / lit(width))
              .cast("int")).as("bucket"))
        .groupBy(col("g"), col("bucket"))
        .agg(count(lit(1)).as(cName))
    }
    val joined = hist(a, "c_a")
      .join(hist(b, "c_b"), Seq("g", "bucket"), "full_outer")
      .select(col("g"), col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val stats = psiKsOverBuckets(joined, Seq("g"), eps)
    // per-group centroid rotation over the shared leading dims — the
    // relational twin of embeddingDrift's driver arithmetic
    val ccs = centA.select(col("g"), col("cent").as("__ca"))
      .join(centB.select(col("g"), col("cent").as("__cb")),
        Seq("g"), "full_outer")
      .select(col("g"), {
        val m = least(size(col("__ca")), size(col("__cb")))
        val sa = slice(col("__ca"), lit(1), m)
        val sb = slice(col("__cb"), lit(1), m)
        val sdc = aggregate(
          zip_with(sa, sb, (x, y) => floor(x * y * 1e9).cast("long")),
          lit(0L), (acc, x) => acc + x)
        val sca = selfNorm9(sa)
        val scb = selfNorm9(sb)
        when(col("__ca").isNotNull && col("__cb").isNotNull &&
          sca > 0 && scb > 0,
          round(sdc.cast("double") /
            sqrt(sca.cast("double") * scb.cast("double")), 6))
          .as("centroid_cos")
      })
    val out = ccs.join(stats, Seq("g"), "left")
      .select(col("g").as(groupCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("psi"), col("ks"), col("centroid_cos"))
    graft.spark.CacheRelease.afterFirstAction(out, Seq(centA))
  }

  /** Raise on a NULL `keyCol` row in a persisted bucket/category
    * table: two SQL nulls never equi-join, so a null key would split
    * into two unmatched rows — a spurious nonzero PSI between
    * identical inputs — and its sort position differs across engines
    * (corrupting KS). The raise is a per-row projection over a
    * ≤buckets+2-row relation.
    */
  private def requireKeyNotNull(t: DataFrame, keyCol: String,
      side: String): DataFrame =
    t.withColumn(keyCol,
      when(col(keyCol).isNull, raise_error(lit(
        s"drift: side $side has a NULL `$keyCol` row — build bucket " +
          "tables from null-free values (filter the value column IS " +
          "NOT NULL before Sketch.histTable; catTable keeps nulls as " +
          "the __null__ sentinel)")))
        .otherwise(col(keyCol)))

  /** The shared PSI/KS reduction over a joined
    * `(parts..., bucket, c_a, c_b)` bucket relation — the arithmetic
    * core of every numeric drift variant: per-partition totals via a
    * window, eps-substituted shares, 1e-9-grain PSI terms summed as
    * exact BIGINTs, KS as the running-cdf max. Empty `parts` = one
    * whole-relation partition and a GLOBAL final aggregation — one
    * output row even over an empty input, so the caller's empty-side
    * raise guard has a row to fire on (ADVICE r16: the old groupBy
    * emitted nothing when BOTH sides were empty, silently skipping
    * the raise). A partition with either side empty reports null
    * psi/ks (the per-group "appearance IS the finding" contract; the
    * whole-relation callers raise on it instead).
    */
  private def psiKsOverBuckets(joined: DataFrame, parts: Seq[String],
      eps: Double): DataFrame = {
    val pcols = parts.map(col)
    val pspec = if (pcols.isEmpty) Seq(lit(1)) else pcols
    val w = Window.partitionBy(pspec: _*).orderBy(col("bucket"))
      .rowsBetween(Long.MinValue, 0)
    val tot = Window.partitionBy(pspec: _*)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    joined
      .withColumn("n_a", sum(col("c_a")).over(tot))
      .withColumn("n_b", sum(col("c_b")).over(tot))
      // shares; the PSI log substitutes eps for an empty bucket so a
      // category seen on only one side contributes a finite penalty
      .withColumn("p", col("c_a").cast("double") / col("n_a"))
      .withColumn("q", col("c_b").cast("double") / col("n_b"))
      .withColumn("p_adj", when(col("c_a") === 0, lit(eps)).otherwise(col("p")))
      .withColumn("q_adj", when(col("c_b") === 0, lit(eps)).otherwise(col("q")))
      // 1e-9-grain PSI term as an exact long: partition-order-proof sum
      .withColumn("psi9",
        when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise(floor((col("p_adj") - col("q_adj"))
            * log(col("p_adj") / col("q_adj")) * 1e9).cast("long")))
      .withColumn("cum_a", sum(col("c_a")).over(w))
      .withColumn("cum_b", sum(col("c_b")).over(w))
      .withColumn("ksterm",
        when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise(abs(col("cum_a").cast("double") / col("n_a") -
            col("cum_b").cast("double") / col("n_b"))))
      .groupBy(pcols: _*)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        round(sum(col("psi9")).cast("double") / 1e9, 6).as("psi"),
        round(max(col("ksterm")), 6).as("ks"))
  }
}

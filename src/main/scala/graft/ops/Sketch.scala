package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based frequency estimation (Cormode & Muthukrishnan 2005:
  * count-min). The point at corpus scale: estimate term frequencies
  * WITHOUT materializing the vocabulary — the only shuffled key space
  * is the fixed d×w counter table, so memory and shuffle volume are
  * constant no matter how many distinct terms the corpus holds
  * (exact term counting shuffles the full vocabulary; at web scale
  * that is billions of keys).
  *
  * Determinism/oracle contract: bucket hashes are the repo's
  * cross-engine md5 trick (first 8 hex chars, base-16, mod w — same
  * value in Spark, DuckDB, and driver-side JVM code), and counter
  * merges are integer sums, so every estimate is partition-order
  * independent and the q_cms oracle replays the whole sketch
  * relationally. Estimates are one-sided: est ≥ true count always,
  * with overestimates bounded by collisions (≈ N/w per row, d rows of
  * independent hashes take the min).
  */
object Sketch {

  private def bucket(j: Int, term: Column, w: Int): Column =
    conv(substring(md5(concat(lit(j.toString), lit(":"), term)), 1, 8), 16, 10)
      .cast("long") % w

  /** Driver-side replica of [[bucket]] — byte-identical md5 math. */
  private[graft] def bucketValue(j: Int, term: String, w: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((j.toString + ":" + term)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % w
  }

  /** Count-min frequency estimates for `terms` over the
    * whitespace-lowercased token stream of `textCol`. One scan; the
    * only full shuffle groups on (row, bucket) — at most d×w keys with
    * map-side partial aggregation, vocabulary-independent. The queried
    * terms' (j, bucket) probes compute on the driver (d rows per term)
    * and broadcast. Output: (term, est) — est ≥ the true count, 0 for
    * terms hashing only to empty counters.
    */
  def cmsTermCounts(df: DataFrame, textCol: String, terms: Seq[String],
      d: Int = 3, w: Int = 1024): DataFrame =
    cmsProbe(cmsTable(df, textCol, d, w), terms, d, w)

  /** The sketch itself: (j, bucket, c) counter rows — an ordinary
    * aggregation with at most d×w groups, so it runs unchanged as a
    * STREAMING aggregation (complete/update mode) with state bounded
    * by the sketch dimensions, never by the vocabulary.
    */
  def cmsTable(df: DataFrame, textCol: String, d: Int = 3,
      w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2, s"cmsTable: bad d/w $d/$w")
    val tok = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
    val rows = (0 until d).map(j =>
      struct(lit(j).as("j"), bucket(j, col("__t"), w).as("bucket")))
    tok.select(explode(array(rows: _*)).as("__jb"))
      .groupBy(col("__jb.j").as("j"), col("__jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Merge independently-built sketch tables (same d, w, hash family):
    * counter-wise sum. CMS is LINEAR, so the merged sketch is EXACTLY
    * the sketch the whole concatenated corpus would produce — not an
    * approximation of it. This is the multi-region/multi-day ingest
    * primitive at 100 TB: each shard sketches locally (d×w counters),
    * shards merge with a d×w-bounded aggregation, nothing re-reads the
    * text. Absent counters are implicit zeros, so shards with disjoint
    * bucket sets union cleanly.
    */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge: no sketches")
    sketches.reduce(_ unionByName _)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("c")).as("c"))
  }

  /** Equi-width histogram sketch over a numeric column — the
    * distribution companion to the CMS (frequency) and HLL
    * (cardinality) sketches: `buckets` counters over [lo, hi) plus
    * explicit underflow (-1) and overflow (`buckets`) rows. Like the
    * other sketches it is LINEAR (shards merge by summing counters,
    * exactly equal to sketching the whole corpus), streams as a
    * bounded-state aggregation, and is deterministic: the bucket index
    * is `floor((v − lo) / width)` in plain IEEE arithmetic, replayable
    * in SQL.
    */
  def histTable(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      buckets: Int): DataFrame = {
    require(buckets >= 1 && hi > lo, s"histTable: bad range/buckets $lo/$hi/$buckets")
    val width = (hi - lo) / buckets
    val v = col(valueCol).cast("double")
    val bucketCol = when(v < lo, lit(-1))
      .when(v >= hi, lit(buckets))
      .otherwise(floor((v - lit(lo)) / lit(width)).cast("int"))
      .as("bucket")
    df.select(bucketCol)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** The `c` aggregate weighted bucket counts use
    * ([[Profile.groupQuantileSketch]]): `count(*)` when `weightCol` is
    * absent, else the exact-long sum of 1e6-grain floored weights —
    * Σ floor(w·10⁶) — so weighted counters stay partition-order-proof
    * and SQL-replayable exactly like record counts. INTEGER weights
    * scale every counter by exactly 10⁶, which cancels in every
    * share/cdf downstream — weight w ≡ replicating the row w times
    * (the OpsSpec property). A weight below the 1e-6 grain floors to
    * zero mass (documented loss); a NEGATIVE weight raises — negative
    * mass would silently corrupt the cumulative counts. Null-weight
    * rows drop beforehand via [[weightDropNull]] (a null weight has no
    * mass, as a null value has no bucket).
    */
  private[ops] def countOrWeight(weightCol: Option[String]): Column =
    weightCol.fold(count(lit(1)))(w =>
      sum(floor(
        when(col(w) < 0, raise_error(lit(
          s"weighted sketch: negative weight in `$w` — weights must " +
            "be >= 0 (negative mass corrupts shares)")))
          .otherwise(col(w)).cast("double") * 1e6).cast("long")))

  /** Drop null-weight rows before a weighted aggregation (a null
    * weight has no mass); identity when unweighted. */
  private[ops] def weightDropNull(df: DataFrame,
      weightCol: Option[String]): DataFrame =
    weightCol.fold(df)(w => df.filter(col(w).isNotNull))

  /** Two-pass histogram with the range fitted from the data: one
    * min/max aggregation picks [lo, hi), then [[histTable]] — range
    * choice is the only part of a histogram that needs the data twice.
    * `hi` is `Math.nextUp(max)` so the maximum lands in the last bucket
    * (IEEE-deterministic); an all-equal column gets [lo, lo+1). Returns
    * (lo, hi, histogram); an empty relation returns (0, 1, empty
    * histogram).
    */
  def histAuto(df: DataFrame, valueCol: String,
      buckets: Int): (Double, Double, DataFrame) = {
    val r = df.agg(min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi")).head()
    if (r.isNullAt(0))
      return (0.0, 1.0, histTable(df, valueCol, 0.0, 1.0, buckets))
    val lo = r.getDouble(0)
    val mx = r.getDouble(1)
    val hi = if (mx > lo) Math.nextUp(mx) else lo + 1.0
    (lo, hi, histTable(df, valueCol, lo, hi, buckets))
  }

  /** Merge independently-built histogram tables (same lo/hi/buckets):
    * counter-wise sum — exact, like [[cmsMerge]].
    */
  def histMerge(tables: DataFrame*): DataFrame = {
    require(tables.nonEmpty, "histMerge: no histogram tables")
    tables.reduce(_ unionByName _)
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("c"))
  }

  /** Quantile estimate from a histogram table: nearest-rank target
    * r = ceil(q·N) over the IN-RANGE values (under/overflow counts are
    * reported by the caller, not interpolated — their exact values are
    * unknown to the sketch), then linear interpolation inside the
    * target bucket: est = lo + width·(b + (r − cumBefore)/c_b),
    * round-6. One |buckets|-row window pass; deterministic and
    * SQL-replayable. Returns one row (n_in_range, est); est is null on
    * an empty in-range histogram.
    */
  def histQuantile(hist: DataFrame, q: Double, lo: Double, hi: Double,
      buckets: Int): DataFrame = {
    require(q > 0 && q <= 1, s"histQuantile: q out of (0,1]: $q")
    val width = (hi - lo) / buckets
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("bucket"))
      .rowsBetween(Long.MinValue, -1)
    val inRange = hist.filter(col("bucket") >= 0 && col("bucket") < buckets)
    inRange
      .withColumn("__cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("__r", ceil(lit(q) * col("__n")).cast("long"))
      .filter(col("__cum_before") < col("__r") &&
        col("__cum_before") + col("c") >= col("__r"))
      .select(col("__n").as("n_in_range"),
        round(lit(lo) + lit(width) * (col("bucket") +
          (col("__r") - col("__cum_before")).cast("double") / col("c")), 6)
          .as("est"))
  }

  /** Probe a (materialized) sketch table for `terms`: d driver-computed
    * (j, bucket) probes per term broadcast against the d×w counters;
    * min across rows, absent counters read as 0.
    */
  def cmsProbe(sums: DataFrame, terms: Seq[String], d: Int,
      w: Int): DataFrame = {
    require(terms.nonEmpty, "cmsProbe: no terms")
    val spark = sums.sparkSession
    import spark.implicits._
    val probes = terms.distinct.flatMap(t =>
      // Locale.ROOT to match the sketch side's locale-independent
      // lower() — a Turkish-default JVM must not probe different buckets
      (0 until d).map(j => (t, j, bucketValue(j, t.toLowerCase(java.util.Locale.ROOT), w))))
      .toDF("term", "j", "bucket")
    broadcast(probes).join(sums, Seq("j", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** CMS INNER PRODUCT (Cormode & Muthukrishnan 2005 §4.3): estimate
    * Σ_t cntA(t)·cntB(t) — the equi-join SIZE of two relations on a
    * key — from their sketches alone: per hash row j the bucket-wise
    * product Σ_b A[j][b]·B[j][b] overestimates by collision mass, the
    * min over the d rows tightens it; est ≥ true always. The planning
    * primitive at 100 TB: forecast a token/key join's output volume
    * from two d×w counter tables BEFORE paying the shuffle, including
    * across regions (sketches travel, corpora don't). Exact integer
    * arithmetic throughout — the q_cms_join oracle replays it
    * relationally next to the true join size.
    */
  def cmsInnerProduct(a: DataFrame, b: DataFrame, d: Int = 3): DataFrame = {
    require(d >= 1, s"cmsInnerProduct: bad d $d")
    val dots = a.select(col("j"), col("bucket"), col("c").as("__ca"))
      .join(b.select(col("j"), col("bucket"), col("c").as("__cb")),
        Seq("j", "bucket"))
      .groupBy(col("j"))
      .agg(sum(col("__ca") * col("__cb")).as("__dot"))
    // a hash row with NO shared buckets has dot 0 — the inner join
    // drops it, and min over the survivors would overestimate; the
    // explicit row spine restores the zero
    val spine = a.sparkSession.range(d.toLong).select(col("id").as("j"))
    spine.join(dots, Seq("j"), "left")
      .agg(min(coalesce(col("__dot"), lit(0L))).as("est"))
  }

  /** Bloom-filter membership sketch — the MEMBERSHIP member of the
    * sketch family (CMS = frequency, HLL = cardinality, histogram =
    * distribution): "was this token/URL ever seen?" with no false
    * negatives and a bounded false-positive rate, without ever
    * materializing the value space. The filter is a table of DISTINCT
    * set bit positions (≤ m rows — the only shuffled key space; the
    * usual packed-long-array encoding is an optimization this
    * row-per-bit representation trades for exact SQL replayability).
    * Bit positions use the same cross-engine md5 hash family as the
    * CMS, so the q_bloom oracle rebuilds every bit relationally.
    *
    * Merging is the point at scale: Bloom filters OR together, and
    * with bits-as-rows OR is `union → distinct` — EXACTLY the filter
    * the whole concatenated corpus would build (see [[bloomMerge]]).
    * Each 100 TB region builds its own seen-set locally; coordination
    * cost is ≤ m rows per shard.
    */
  def bloomTable(df: DataFrame, textCol: String, k: Int = 3,
      m: Int = 8192): DataFrame =
    bloomBits(df, textCol, k, m).distinct()

  /** [[bloomTable]] before the distinct: the raw per-token bit stream.
    * Exposed so STREAMING builds can fold it through a complete-mode
    * `groupBy(bit)` aggregation (streaming `distinct` is a stateful
    * dedup operator, not an aggregation — it refuses complete mode);
    * `groupBy(bit).count().select("bit")` is the same ≤ m-key bounded
    * state and lands on the identical filter.
    */
  def bloomBits(df: DataFrame, textCol: String, k: Int = 3,
      m: Int = 8192): DataFrame = {
    require(k >= 1 && m >= 2, s"bloomBits: bad k/m $k/$m")
    val tok = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
    tok.select(explode(array((0 until k).map(j =>
        bucket(j, col("__t"), m)): _*)).as("bit"))
  }

  /** OR independently-built Bloom filters (same k, m, hash family):
    * union + distinct. Exact — the merged filter is bit-identical to
    * sketching the whole corpus at once, so multi-region seen-sets
    * compose without re-reading any text.
    */
  def bloomMerge(filters: DataFrame*): DataFrame = {
    require(filters.nonEmpty, "bloomMerge: no filters")
    filters.reduce(_ unionByName _).distinct()
  }

  /** Probe a filter for `terms`: each term's ≤ k distinct driver-side
    * bit positions broadcast against the bits table; `maybe` = 1 iff
    * EVERY position is set (no false negatives; false positives at the
    * [[bloomFill]]-implied rate). Locale.ROOT lowering mirrors
    * [[cmsProbe]].
    */
  def bloomProbe(bits: DataFrame, terms: Seq[String], k: Int = 3,
      m: Int = 8192): DataFrame = {
    require(terms.nonEmpty, "bloomProbe: no terms")
    val spark = bits.sparkSession
    import spark.implicits._
    val probes = terms.distinct.flatMap { t =>
      val tl = t.toLowerCase(java.util.Locale.ROOT)
      (0 until k).map(j => bucketValue(j, tl, m)).distinct.map(b => (t, b))
    }.toDF("term", "bit")
    broadcast(probes)
      .join(bits.withColumn("__set", lit(1L)), Seq("bit"), "left")
      .groupBy(col("term"))
      .agg((count(lit(1)) === count(col("__set"))).cast("long").as("maybe"))
  }

  /** Fill report: set-bit count and the implied false-positive rate
    * (fill fraction)^k — computed by repeated multiplication, not
    * `pow`, so both engines round identically (with m a power of two
    * the fill fraction itself is exact). One row: (n_bits, fpr).
    */
  def bloomFill(bits: DataFrame, k: Int = 3, m: Int = 8192): DataFrame = {
    require(k >= 1, s"bloomFill: bad k $k")
    val frac = col("n_bits").cast("double") / m
    val fpr = (1 until k).foldLeft(frac)((acc, _) => acc * frac)
    bits.agg(count(lit(1)).as("n_bits"))
      .withColumn("fpr", round(fpr, 6))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and splitting for training
  * pipelines: train/val/test assignment, fractional sampling, and
  * stratified sampling, all driven by an md5 threshold over a stable id
  * (plus salt). The hash is compared as a LEXICOGRAPHIC hex string, so
  * the same predicate evaluates identically in any engine with md5 —
  * which is what makes these operators exactly oracle-able and, more
  * importantly, REPRODUCIBLE: re-running the pipeline on a grown corpus
  * keeps every previously-assigned row in the same split (no
  * rand()/sample() nondeterminism, no per-partition seeds to invalidate
  * on repartition).
  *
  * Scale posture: pure per-row projections/filters — no shuffle, no
  * state, fully codegen'd (md5 + string compare are native expressions),
  * predicate-pushdown-friendly when the id column is scanned anyway.
  */
object Sampling {

  /** First 8 hex digits of floor(p * 2^32), the md5-prefix threshold
    * under which a fraction ~p of uniformly-hashed rows fall. p >= 1
    * yields a sentinel above every hex string.
    */
  private[ops] def hexThreshold(p: Double): String = {
    require(p >= 0, s"fraction must be >= 0: $p")
    if (p >= 1.0) "g" // '>f': above all 32-char hex strings
    else f"${(p * 4294967296.0).toLong}%08x"
  }

  /** The id as the selection-hash string; raises on NULL. Every
    * deterministic sample/split is a filter on `md5(id ⧺ salt)` —
    * a null id nulls the hash and the `<`-threshold predicate, so the
    * row silently vanished from every sample and split at ANY
    * fraction (even 1.0). Ids are the corpus's non-null invariant;
    * violating it now fails loudly instead of shrinking the corpus.
    */
  private[ops] def idStr(idCol: Column): Column =
    when(idCol.isNotNull, idCol.cast("string"))
      .otherwise(raise_error(lit("sampling: NULL id — selection hashes " +
        "are deterministic in (id, salt); ids must be non-null")))

  private[ops] def saltedHash(idCol: Column, salt: String): Column =
    md5(concat(idStr(idCol), lit(salt)))

  /** Stratum-scoped selection hash — md5(stratum ⧺ ':' ⧺ id ⧺ salt),
    * with a NULL stratum as its own `__null__` sentinel stratum and a
    * NULL id raising through [[idStr]]. The single definition every
    * stratified sampler (and its oracle replay) keys on.
    */
  private def strataHash(strataCol: Column, idCol: Column,
      salt: String): Column =
    md5(concat(coalesce(strataCol.cast("string"), lit("__null__")),
      lit(":"), idStr(idCol), lit(salt)))

  /** Adds a `split` column assigning each row to one of the named
    * fractions (which must sum to ~1; the last split absorbs rounding).
    * Deterministic in (id, salt): stable across runs, partitionings and
    * corpus growth.
    */
  def assignSplit(
      df: DataFrame, idCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
        "test" -> 0.1),
      salt: String = ""): DataFrame = {
    require(weights.nonEmpty, "at least one split")
    val h = saltedHash(col(idCol), salt)
    val cum = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val first = when(h < lit(hexThreshold(cum.head)), lit(weights.head._1))
    val expr = weights.tail.zip(cum.tail).foldLeft(first) {
      case (acc, ((name, _), c)) =>
        acc.when(h < lit(hexThreshold(c)), lit(name))
    }
    df.withColumn("split", expr.otherwise(lit(weights.last._1)))
  }

  /** Keeps a deterministic ~`fraction` of rows, keyed by (id, salt). */
  def sample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    df.filter(saltedHash(col(idCol), salt) < lit(hexThreshold(fraction)))

  /** Dedup-aware split assignment: every near-duplicate CLUSTER lands
    * entirely in one split, so a test doc can never have a near-dup in
    * train (the eval-contamination failure mode plain row-hash splits
    * have). `pairs` is any near-dup pair relation (`id_a`, `id_b` —
    * MinHash, SimHash, n-gram jaccard, embedding…); rows in no pair
    * split by their own id exactly as [[assignSplit]] would, so
    * enabling leakage-safety never reshuffles the untouched majority.
    * The split key is the cluster representative (min member id, from
    * [[Dedup.clusters]]' label propagation), hashed with the same
    * (key, salt) rule as [[assignSplit]] — deterministic and stable:
    * adding a new near-dup of a train doc routes it to train.
    *
    * Scale shape: clustering shuffles only the pair ids; the label
    * table (near-dup members only — a small fraction of the corpus)
    * joins back by id, AQE-broadcast when small.
    */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
        "test" -> 0.1),
      salt: String = ""): DataFrame = {
    // a user __rep would be overwritten by the representative staging
    // and dropped from the pass-through output; __rep0 would duplicate
    // in the label join — both named here instead
    Ids.requireNoReservedNames("leakageSafeSplit", "input",
      df.columns.toSeq, Set("__rep", "__rep0"), df.sparkSession)
    val labels = Dedup.clusters(pairs)
      .select(col("id").as(idCol), col("label").as("__rep0"))
    val keyed = df.join(labels, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("__rep0"), col(idCol)))
    assignSplit(keyed, "__rep", weights, salt)
      .drop("__rep0", "__rep")
  }

  /** EXACT-k deterministic sample per stratum — the fixed-size
    * eval-set/few-shot-pool primitive that fraction-based sampling
    * can't provide. Rows rank by the salted id hash within their
    * stratum (stable: a new row can displace at most one existing pick,
    * never reshuffle the set); the first `k` survive. Groups smaller
    * than `k` keep everything. One hash-keyed window per stratum —
    * shuffles (id, stratum, hash) projections, never payloads; the
    * rejoin by id is left to AQE (k×strata can exceed the broadcast
    * threshold — a forced hint at k=1000 over 10⁶ strata would demand a
    * 10⁹-row broadcast; below the threshold AQE broadcasts it anyway).
    */
  def sampleExactPerGroup(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"sampleExactPerGroup: bad k $k")
    // the staging runs on a fresh (id, stratum, hash) projection, so
    // OTHER user columns are safe — but an id/stratum column ITSELF
    // named like a staged temp would be REPLACED mid-election (the
    // final semi-join would then key on shard numbers or ranks:
    // silently WRONG rows, not a lost column)
    Ids.requireNoReservedNames("sampleExactPerGroup", "idCol/strataCol",
      Seq(idCol, strataCol), Set("__h", "__s", "__rk1", "__rk"),
      df.sparkSession)
    // two-stage election so a giant stratum never funnels through one
    // reducer: stage 1 keeps k per (stratum, hash-derived shard) — the
    // global per-stratum top-k is a subset of every shard-local top-k
    // union, so the result is EXACTLY the single-window answer — then
    // stage 2 ranks the ≤ 32k survivors per stratum
    val hashed = df.select(col(idCol), col(strataCol),
      strataHash(col(strataCol), col(idCol), salt).as("__h"))
    val shard = conv(substring(col("__h"), 29, 4), 16, 10).cast("int") % 32
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("__s"))
      .orderBy(col("__h").asc, col(idCol).asc)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("__h").asc, col(idCol).asc)
    val picked = hashed.withColumn("__s", shard)
      .withColumn("__rk1", row_number().over(w1))
      .filter(col("__rk1") <= k)
      .withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") <= k)
      .select(col(idCol))
    df.join(picked, Seq(idCol), "left_semi")
  }

  /** Generic per-group top-k by SCORE — the argmax-k primitive
    * ([[sampleExactPerGroup]] picks k uniformly; this keeps each
    * group's k BEST rows: highest-quality docs per domain, newest
    * crawls per URL, longest members per cluster). Same two-stage
    * shard election so a giant group never funnels through one
    * reducer: stage 1 keeps k per (group, id-hash shard) — the global
    * per-group top-k is a subset of every shard-local top-k union —
    * stage 2 ranks the ≤ 32k survivors. Fully deterministic: ties on
    * the score break by ascending id, so the result equals the single
    * `row_number()` window answer exactly (the q_topk oracle). Only
    * (id, group, score) projections shuffle; payloads rejoin by a
    * semi-join AQE sizes.
    */
  def topKPerGroup(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, k: Int, descending: Boolean = true): DataFrame = {
    electTopK(df, idCol, groupCol, col(scoreCol), descending, k,
      "rank_in_group")
  }

  /** Shared sharded-election core for [[topKPerGroup]] and
    * [[weightedSamplePerGroup]]: rank rows per group by `order`
    * (ties always broken by ascending id), keep the first k. Stage 1
    * keeps k per (group, id-hash shard) — the global per-group top-k is
    * a subset of every shard-local top-k union — stage 2 ranks the
    * ≤ 32k survivors, so the result equals the single-window answer
    * exactly while a giant group never funnels through one reducer.
    * Only (id, group, score) shuffle; payloads rejoin by an id join
    * AQE sizes.
    */
  private def electTopK(df: DataFrame, idCol: String, groupCol: String,
      scoreExpr: Column, descending: Boolean, k: Int,
      rankName: String): DataFrame = {
    require(k >= 1, s"per-group election: bad k $k")
    // same key-replacement hazard as sampleExactPerGroup, plus the
    // rank output name: a pre-existing rankName column would silently
    // duplicate in the rejoin (ambiguous on first reference)
    Ids.requireNoReservedNames("per-group election", "idCol/groupCol",
      Seq(idCol, groupCol), Set("__score", "__s", "__rk1", "__rk"),
      df.sparkSession)
    require(!df.columns.contains(rankName),
      s"per-group election: input already has a '$rankName' column — " +
        "the rank output would duplicate it; rename the input column")
    val order = if (descending) col("__score").desc else col("__score").asc
    val shard = conv(substring(saltedHash(col(idCol), "topk"), 29, 4),
      16, 10).cast("int") % 32
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__s"))
      .orderBy(order, col(idCol).asc)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(order, col(idCol).asc)
    val picked = df.select(col(idCol), col(groupCol), scoreExpr.as("__score"))
      .withColumn("__s", shard)
      .withColumn("__rk1", row_number().over(w1))
      .filter(col("__rk1") <= k)
      .withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("__rk").cast("long").as(rankName))
    df.join(picked, Seq(idCol))
  }

  /** Weighted sampling WITHOUT replacement, k per group
    * (Efraimidis–Spirakis A-ES): each group's draw includes a row with
    * probability proportional to its weight, never repeats a row, and
    * is fully deterministic in (id, salt). Rows rank by the A-ES key
    * ln(u)/w — monotone-equivalent to the textbook u^(1/w) — where u is
    * the salted-md5 uniform `(h32+1)/2^32 ∈ (0,1]` (the +1 keeps
    * ln defined at the all-zero hash prefix) and w = `weightCol`. Rows
    * with w ≤ 0 or null weight never sample. The top-k-key election is
    * the same sharded two-stage as [[topKPerGroup]] — no giant-group
    * reducer funnel, only (id, group, key) shuffles.
    *
    * This is the quality-weighted corpus subsample primitive: "draw 1M
    * docs per domain, preferring high-quality ones, reproducibly" —
    * fraction sampling can't fix the count, uniform exact-k ignores the
    * weights, and rand()-based A-ES is unreproducible across retries.
    * Emits the input row plus `sample_rank` (1 = first drawn).
    */
  def weightedSamplePerGroup(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame = {
    // the Aggregator path stages the A-ES key as a withColumn on the
    // pass-through frame: a user __aes_key would be overwritten and
    // dropped; a pre-existing sample_rank would duplicate in the output
    Ids.requireNoReservedNames("weightedSamplePerGroup", "input",
      df.columns.toSeq, Set("__aes_key"), df.sparkSession)
    require(!df.columns.contains("sample_rank") &&
      !df.columns.contains("rank_in_group"),
      "weightedSamplePerGroup: input already has a 'sample_rank' or " +
        "'rank_in_group' column — the rank output would duplicate it; " +
        "rename the input column first")
    val u = (conv(substring(saltedHash(col(idCol), salt + ":wrs"), 1, 8),
      16, 10).cast("double") + 1.0) / 4294967296.0
    val key = log(u) / col(weightCol).cast("double")
    val weighted = df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
    // ln(u) < 0, so larger w => key closer to 0 => rank by key DESC.
    // Election: the k-bounded Aggregator when the id type supports it
    // (one exchange of trimmed buffers, no window sort), the sharded
    // window election otherwise — identical results by construction.
    val idType = Ids.fieldOf(df, idCol, "weightedSamplePerGroup").dataType
    val aggCapable = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.StringType
    if (aggCapable)
      topKPerGroupAgg(weighted.withColumn("__aes_key", key), idCol,
          groupCol, "__aes_key", k)
        .withColumnRenamed("rank_in_group", "sample_rank")
        .drop("__aes_key")
    else
      electTopK(weighted, idCol, groupCol, key, descending = true, k,
        "sample_rank")
  }

  /** [[weightedSamplePerGroup]]'s draw WITHOUT the row-hydrating join:
    * only `(groupCol, idCol, sample_rank)` comes back — identical ids
    * and draw order (same salted-md5 A-ES key), via
    * [[topKIdsPerGroupAgg]]. This is the STREAMING form of the
    * quality-weighted corpus subsample: run it over an unbounded
    * document stream in complete/update mode and the state per stratum
    * is exactly the current k-row reservoir (the aggregator's k-bounded
    * buffer), never the stream — "keep the 1M best-weighted docs per
    * domain of everything ever seen", maintained incrementally. Because
    * the priorities are deterministic in (id, salt), the stream's
    * reservoir after n rows equals the batch draw over the same n rows
    * (`q_stream_sample` pins that against the batch oracle); hydrate
    * the winning ids against the corpus store batch-side. Requires a
    * long/int/string id (the typed-aggregator election; there is no
    * window fallback in streaming).
    */
  def weightedSampleIdsPerGroup(df: DataFrame, idCol: String,
      groupCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame = {
    Ids.requireNoReservedNames("weightedSampleIdsPerGroup", "input",
      df.columns.toSeq, Set("__aes_key"), df.sparkSession)
    val u = (conv(substring(saltedHash(col(idCol), salt + ":wrs"), 1, 8),
      16, 10).cast("double") + 1.0) / 4294967296.0
    val key = log(u) / col(weightCol).cast("double")
    val weighted = df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
    topKIdsPerGroupAgg(weighted.withColumn("__aes_key", key), idCol,
        groupCol, "__aes_key", k)
      .withColumnRenamed("rank_in_group", "sample_rank")
  }

  /** Bounded top-k as a custom typed [[org.apache.spark.sql.expressions.Aggregator]]:
    * the aggregation-not-sort formulation of [[topKPerGroup]]. State is
    * AT MOST k (score, id) pairs per group per partition — map-side
    * partial aggregation trims before anything shuffles, the exchange
    * carries k-bounded buffers instead of every row, and no window SORT
    * ever runs. Same contract as the window version (score desc — on
    * the caller to negate for ascending — ties by ascending id, rank =
    * final order), so `q_topk_agg` shares `q_topk`'s oracle verbatim.
    * Prefer this shape when k ≪ group size (the 100 TB norm); the
    * window version when k is a large fraction of each group.
    */
  private[ops] class TopKAggregator(k: Int, desc: Boolean = true)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    // better (kept earlier) = higher score (lower when !desc), then
    // lower id
    private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
      (if (desc) a._1 > b._1 else a._1 < b._1) ||
        (a._1 == b._1 && a._2 < b._2)
    private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.sortWith(lt).take(k)
    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(buf: Seq[(Double, Long)],
        in: (Double, Long)): Seq[(Double, Long)] =
      if (buf.length == k && lt(buf.last, in)) buf // common case: reject
      else trim(buf :+ in)
    override def merge(a: Seq[(Double, Long)],
        b: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(a ++ b)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(r)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** [[topKPerGroup]] via [[TopKAggregator]]: one k-bounded aggregation,
    * zero sorts before the payload rejoin. Output shape identical
    * (all df columns + `rank_in_group`).
    */
  /** String-id variant of [[TopKAggregator]] (ties break by the id's
    * UTF-8 BINARY order via `UTF8String.compareTo` — the exact
    * comparison the window election's `col(id).asc` uses on a string
    * column, so the two formulations stay byte-identical for string
    * ids even when they contain supplementary-plane characters, where
    * Java's UTF-16 code-unit `<` would order differently).
    */
  private[ops] class TopKAggregatorStr(k: Int, desc: Boolean = true)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Double, String), Seq[(Double, String)], Seq[(Double, String)]] {
    private def idLt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    private def lt(a: (Double, String), b: (Double, String)): Boolean =
      (if (desc) a._1 > b._1 else a._1 < b._1) ||
        (a._1 == b._1 && idLt(a._2, b._2))
    private def trim(s: Seq[(Double, String)]): Seq[(Double, String)] =
      s.sortWith(lt).take(k)
    override def zero: Seq[(Double, String)] = Seq.empty
    override def reduce(buf: Seq[(Double, String)],
        in: (Double, String)): Seq[(Double, String)] =
      if (buf.length == k && lt(buf.last, in)) buf
      else trim(buf :+ in)
    override def merge(a: Seq[(Double, String)],
        b: Seq[(Double, String)]): Seq[(Double, String)] = trim(a ++ b)
    override def finish(r: Seq[(Double, String)]): Seq[(Double, String)] =
      trim(r)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** [[TopKAggregator]] as a registrable UDAF — usable directly in any
    * groupBy, INCLUDING streaming complete/update-mode aggregations
    * (the k-bounded buffer is exactly the mergeable state Structured
    * Streaming keeps per group; `q_stream_topk` pins batch ≡ stream).
    */
  def topKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAggregator(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))

  def topKPerGroupAgg(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, k: Int, descending: Boolean = true): DataFrame =
    df.join(
      topKIdsPerGroupAgg(df, idCol, groupCol, scoreCol, k, descending)
        .drop(groupCol),
      Seq(idCol))

  /** [[topKPerGroupAgg]]'s election WITHOUT the row-hydrating join:
    * only `(groupCol, idCol, rank_in_group)` comes back. Two reasons to
    * prefer this form. (1) It is the scale-correct shape when the
    * caller only needs the winning ids — the exchange carries k-bounded
    * aggregator buffers and nothing is ever joined back against the
    * full input. (2) It is STREAMING-capable: a pure groupBy
    * aggregation (complete/update mode) with at most k (score, id)
    * pairs of state per group, whereas the hydrating join above is a
    * stream-to-derived-stream join Structured Streaming refuses.
    * `q_stream_sample` pins batch ≡ stream on top of this.
    */
  def topKIdsPerGroupAgg(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, k: Int, descending: Boolean = true): DataFrame = {
    require(k >= 1, s"topKPerGroupAgg: bad k $k")
    // same plan-build guards as the window election: staged names on
    // the key columns, and the rank output duplicating a user column
    Ids.requireNoReservedNames("topKPerGroupAgg", "idCol/groupCol",
      Seq(idCol, groupCol), Set("__top", "__i", "__e"),
      df.sparkSession)
    require(!df.columns.contains("rank_in_group"),
      "topKPerGroupAgg: input already has a 'rank_in_group' column — " +
        "the rank output would duplicate it; rename the input column")
    val idType = Ids.fieldOf(df, idCol, "topKPerGroupAgg").dataType
    // ties break by id in the id's own type order, so the aggregator
    // must be typed: numeric order for integral ids, lexicographic for
    // strings — both identical to the window election's col(id).asc
    val agg = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        org.apache.spark.sql.functions.udaf(
          new TopKAggregator(k, descending),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong))
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.functions.udaf(
          new TopKAggregatorStr(k, descending),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.STRING))
      case other => throw new IllegalArgumentException(
        s"topKPerGroupAgg: unsupported id type $other (long/int/string)")
    }
    val idExpr = idType match {
      case org.apache.spark.sql.types.StringType => col(idCol)
      case _ => col(idCol).cast("long")
    }
    df.groupBy(col(groupCol))
      .agg(agg(col(scoreCol).cast("double"), idExpr).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col(groupCol), col("__e._2").as(idCol),
        (col("__i") + 1).cast("long").as("rank_in_group"))
  }

  /** Stratified deterministic sample: an independent ~`fraction` within
    * each stratum (the stratum value participates in the hash, so
    * changing one stratum's data never perturbs another's selection).
    * A NULL stratum is its own stratum (sentinel `__null__` in the
    * hash): without the coalesce, `concat(null, …)` nulled the hash
    * and the `<` filter silently dropped every null-strata row at ANY
    * fraction — even 1.0. (Sentinel collision with a literal
    * `__null__` stratum merges the two — documented convention.)
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      fraction: Double, salt: String = ""): DataFrame =
    df.filter(
      strataHash(col(strataCol), col(idCol), salt) <
        lit(hexThreshold(fraction)))

  /** Mixture construction: per-source sampling rates applied to a union
    * of sources tagged by `sourceCol` — the "dataset mixture weights"
    * step of a pretraining pipeline, as one deterministic filter.
    */
  def mixture(df: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], salt: String = ""): DataFrame = {
    val h = saltedHash(col(idCol), salt)
    val pred = rates.foldLeft(lit(false)) { case (acc, (src, p)) =>
      acc || (col(sourceCol) === lit(src) && h < lit(hexThreshold(p)))
    }
    df.filter(pred)
  }

  /** Mixture token-budget plan: given per-domain available token counts
    * (one aggregate over the corpus) and target mixture weights, how
    * many tokens each domain contributes to a `budget`-token training
    * run when a domain may be repeated at most `maxEpochs` times (the
    * up-sampling cap every data-constrained scaling recipe applies —
    * past ~4 epochs repeated data stops helping). Domains the weights
    * don't mention get weight 0; weights are normalized.
    *
    * Output, one row per weighted domain:
    * (domain, available_tokens, target_tokens, actual_tokens, epochs,
    * shortfall) — `actual = min(target, available x maxEpochs)`,
    * `epochs = actual / available` (round-6), `shortfall` = tokens the
    * budget wanted from this domain but the cap refused. The plan is
    * pure closed-form arithmetic over one aggregate row per domain, so
    * it is fully SQL-replicable; feed `actual/available` into
    * [[mixture]] / [[sample]] rates (values > 1 mean repeat + sample
    * the remainder).
    */
  /** Materialize a mixture plan: each domain with `epochs` = e
    * contributes floor(e) FULL copies plus one fractional copy sampled
    * deterministically at rate e − floor(e) — so each domain's output
    * token mass ≈ its `actual_tokens`. Output keeps all input columns
    * and appends `epoch` (0-based replica index; the fractional copy is
    * the last epoch). The replica table (domain, epoch, threshold) is a
    * handful of rows — Catalyst broadcasts the join — and the
    * fractional filter is the same md5-threshold predicate as
    * [[sample]], with the epoch in the hash so every replica draws an
    * independent deterministic subset.
    *
    * `plan`: (domain, epochs) pairs, e.g.
    * `mixturePlan(...).select("domain", "epochs").collect()` — the
    * documented driver-side contract (one tiny row per domain).
    */
  def applyMixturePlan(df: DataFrame, domainCol: String, idCol: String,
      plan: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(plan.nonEmpty, "applyMixturePlan: empty plan")
    plan.foreach { case (d, e) =>
      require(e >= 0, s"applyMixturePlan: negative epochs for $d") }
    val spark = df.sparkSession
    import spark.implicits._
    val replicas = plan.flatMap { case (d, e) =>
      val full = math.floor(e).toInt
      val frac = e - full
      val fullRows = (0 until full).map(k => (d, k, hexThreshold(1.0)))
      val fracRow =
        if (frac > 0) Seq((d, full, hexThreshold(frac))) else Seq.empty
      fullRows ++ fracRow
    }.toDF("__domain", "epoch", "__thr")
    df.join(broadcast(replicas), col(domainCol) === col("__domain"))
      .filter(md5(concat(idStr(col(idCol)), lit(salt), lit(":"),
        col("epoch").cast("string"))) < col("__thr"))
      .drop("__domain", "__thr")
  }

  /** Per-group adaptive threshold filtering — the CCNet policy of
    * cutting on a QUANTILE of a score within each group (language,
    * domain) rather than one global constant, so low-resource groups
    * aren't wiped out by a threshold tuned on the head. Computes the
    * exact q-quantile of `scoreCol` per `groupCol` (one aggregation;
    * the per-group table is tiny and broadcasts back — swap the
    * percentile to approx_percentile if group cardinality ever makes
    * the sort-based aggregate hurt), appends `threshold` and a `keep`
    * flag (score on the `keepBelow` side of the threshold; null scores
    * and groups with no scored rows keep=0). Emitting flags rather
    * than filtering keeps the decision auditable; callers filter.
    */
  def filterByGroupQuantile(df: DataFrame, scoreCol: String,
      groupCol: String, q: Double, keepBelow: Boolean = true): DataFrame = {
    require(0 < q && q < 1, s"filterByGroupQuantile: bad quantile $q")
    val thr = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(expr(s"percentile($scoreCol, $q)").as("threshold"))
    val side =
      if (keepBelow) col(scoreCol) <= col("threshold")
      else col(scoreCol) >= col("threshold")
    df.join(broadcast(thr), Seq(groupCol), "left")
      .withColumn("keep",
        (col(scoreCol).isNotNull && col("threshold").isNotNull && side)
          .cast("long"))
  }

  /** Temperature-scaled mixture planning (the multilingual-sampling
    * rule of mT5 / XLM-R, Arivazhagan et al. 2019): per-domain
    * sampling mass p_i ∝ n_i^(1/τ) — τ=1 reproduces natural
    * proportions, τ→∞ approaches uniform, the usual range boosts
    * low-resource domains without drowning the head. Emits the same
    * plan shape as [[mixturePlan]] plus the derived `weight`; feed the
    * `(domain, epochs)` pairs to [[applyMixturePlan]] to materialize.
    *
    * Numerics contract: the only transcendental (`pow`) is floored to
    * 1e-6 grains and all downstream arithmetic runs on those integer
    * micro-weights, so the result is partition-order-independent and
    * oracle-replicable. The per-domain table is one row per source; the
    * single-partition window summing it is free at any corpus size.
    */
  def temperatureMixturePlan(df: DataFrame, domainCol: String,
      tokenCount: Column, temperature: Double, budget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(temperature > 0, s"temperatureMixturePlan: bad temperature $temperature")
    require(budget > 0 && maxEpochs > 0, s"bad budget/maxEpochs: $budget/$maxEpochs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    df.groupBy(col(domainCol).as("domain"))
      .agg(sum(tokenCount).cast("long").as("available_tokens"))
      .withColumn("__micro",
        round(pow(col("available_tokens").cast("double"),
          lit(1.0 / temperature)) * 1e6, 0).cast("long"))
      .withColumn("__tot", sum(col("__micro")).over(w))
      .withColumn("weight",
        round(col("__micro").cast("double") / col("__tot"), 9))
      .withColumn("target_tokens",
        round(col("__micro").cast("double") / col("__tot") * budget, 0)
          .cast("long"))
      .withColumn("actual_tokens",
        least(col("target_tokens"),
          round(col("available_tokens") * maxEpochs, 0).cast("long")))
      .withColumn("epochs",
        // a domain whose rows all have zero tokens would otherwise yield
        // null epochs (0/0) and fail applyMixturePlan's require far from
        // the cause — emit an explicit 0.0
        when(col("available_tokens") === 0, lit(0.0)).otherwise(
          round(col("actual_tokens").cast("double") / col("available_tokens"), 6)))
      .withColumn("shortfall", col("target_tokens") - col("actual_tokens"))
      .select(col("domain"), col("available_tokens"), col("weight"),
        col("target_tokens"), col("actual_tokens"), col("epochs"),
        col("shortfall"))
  }

  /** Importance RESAMPLING — the apply step that turns per-row
    * importance weights (DSIR scores, quality-model logits, KL ratios)
    * into an actual subcorpus: keep row i with probability
    * p_i = min(1, w_i · target / Σw), so the expected kept count is
    * ≈ `targetRows` (exactly, absent clipping) and each row's
    * inclusion odds are proportional to its weight. Deterministic in
    * (id, salt) like every sampler here: the coin is the first 32 bits
    * of md5(id‖salt) compared against p_i·2³², so the decision is
    * stable under reruns, repartitioning, and corpus append — and
    * exactly replayable in SQL (one Σw aggregation, then IEEE
    * arithmetic with the same operand order).
    *
    * Scale shape: one scalar aggregation (Σw), broadcast to a
    * filter-only projection — no shuffle of the payload, no
    * per-stratum state. Rows with null/zero/negative weight are never
    * kept; a weight mass concentrated on few rows clips at p=1 and
    * yields fewer than `targetRows` (the standard importance-sampling
    * deficit — callers wanting exact counts compose
    * [[sampleExactPerGroup]] downstream).
    */
  def importanceSample(df: DataFrame, idCol: String, weightCol: String,
      targetRows: Long, salt: String = ""): DataFrame = {
    require(targetRows > 0, s"importanceSample: bad target $targetRows")
    // a user __p would be overwritten by the keep-probability staging
    // and dropped; __sumw would duplicate in the Σw cross join
    Ids.requireNoReservedNames("importanceSample", "input",
      df.columns.toSeq, Set("__sumw", "__p"), df.sparkSession)
    val tot = df.agg(sum(col(weightCol)).cast("double").as("__sumw"))
    val h = conv(substring(md5(concat(idStr(col(idCol)), lit(salt))),
      1, 8), 16, 10).cast("long")
    df.crossJoin(broadcast(tot))
      // coalesce AFTER the product: a null weight must yield p = 0 —
      // both engines' `least` IGNORES nulls, so least(1.0, null) would
      // otherwise silently keep every null-weight row at p = 1. Guard
      // Σw ≤ 0 up front: target/0 is +Inf, 0·Inf is NaN, and Spark's
      // least treats NaN as the LARGEST double, so least(1.0, NaN)
      // would keep every zero-weight row — with no positive mass
      // nothing is keepable
      .withColumn("__p", when(col("__sumw") > 0.0,
        least(lit(1.0),
          coalesce(col(weightCol).cast("double") *
            (lit(targetRows.toDouble) / col("__sumw")), lit(0.0))))
        .otherwise(lit(0.0)))
      .filter(h.cast("double") < col("__p") * 4294967296.0)
      .drop("__sumw", "__p")
  }

  /** UniMax budget allocation (Chung et al., ICLR 2023): spread the
    * token budget as UNIFORMLY as possible across domains subject to a
    * per-domain repeat cap — the fairness-first alternative to
    * temperature scaling (which still tracks corpus proportions).
    * Ascending water-filling: visit domains by available tokens
    * (ascending, ties by name); each takes
    * `min(cap, remaining_budget / remaining_domains)` — a domain too
    * small to use its uniform share donates the slack to the larger
    * domains still in line, so the final allocation is the unique one
    * where every un-capped domain receives the same (maximal) share.
    *
    * Determinism/oracle contract: the fold runs entirely in integer
    * arithmetic — caps in micro-epoch grains
    * (`available × round(maxEpochs·1e6) / 1e6`, floored), shares by
    * long floor-division — so the q_mix_unimax oracle replays the
    * exact recursion as a recursive CTE. The per-domain table is tiny
    * (one row per source); it collects to the driver like every other
    * mixture plan ([[applyMixturePlan]]'s documented contract) and the
    * result ships back as a local relation.
    *
    * Output, one row per domain: (domain, available_tokens,
    * cap_tokens, actual_tokens, epochs) — `epochs` =
    * actual/available rounded to 6 (0.0 for a zero-token domain).
    */
  def unimaxMixturePlan(df: DataFrame, domainCol: String,
      tokenCount: Column, budget: Long, maxEpochs: Double = 4.0): DataFrame = {
    require(budget > 0 && maxEpochs > 0, s"bad budget/maxEpochs: $budget/$maxEpochs")
    val spark = df.sparkSession
    import spark.implicits._
    val domains = df.groupBy(col(domainCol).cast("string").as("domain"))
      .agg(coalesce(sum(tokenCount), lit(0L)).cast("long")
        .as("available_tokens"))
      .collect() // one row per domain — the mixture-family contract
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (d, n) => (n, d) }
    val epochMicros = math.round(maxEpochs * 1e6)
    var remaining = budget
    var left = domains.length
    val rows = domains.map { case (d, n) =>
      val cap = ((BigInt(n) * epochMicros) / 1000000L).toLong
      val alloc = math.min(cap, remaining / left)
      remaining -= alloc
      left -= 1
      (d, n, cap, alloc)
    }
    rows.toIndexedSeq
      .toDF("domain", "available_tokens", "cap_tokens", "actual_tokens")
      .withColumn("epochs",
        when(col("available_tokens") === 0, lit(0.0)).otherwise(
          round(col("actual_tokens").cast("double") /
            col("available_tokens"), 6)))
  }

  def mixturePlan(df: DataFrame, domainCol: String, tokenCount: Column,
      weights: Seq[(String, Double)], budget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(weights.nonEmpty, "mixturePlan: no weights")
    require(budget > 0 && maxEpochs > 0, s"bad budget/maxEpochs: $budget/$maxEpochs")
    val wSum = weights.map(_._2).sum
    require(wSum > 0, "mixturePlan: weights sum to zero")
    val wCol = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (d, w)) => when(col("domain") === lit(d), lit(w / wSum)).otherwise(acc)
    }
    df.groupBy(col(domainCol).as("domain"))
      .agg(sum(tokenCount).cast("long").as("available_tokens"))
      .withColumn("__w", wCol.as("__w"))
      .filter(col("__w").isNotNull)
      .withColumn("target_tokens", round(col("__w") * budget, 0).cast("long"))
      .withColumn("actual_tokens",
        least(col("target_tokens"),
          round(col("available_tokens") * maxEpochs, 0).cast("long")))
      .withColumn("epochs",
        round(col("actual_tokens").cast("double") / col("available_tokens"), 6))
      .withColumn("shortfall", col("target_tokens") - col("actual_tokens"))
      .select(col("domain"), col("available_tokens"), col("target_tokens"),
        col("actual_tokens"), col("epochs"), col("shortfall"))
  }

  /** Deterministic global training order — the "shuffle the corpus once,
    * then slice it into epochs/shards" step before materialization. Each
    * row's `rank` (1-based) is its position under the salted-hash order
    * `(md5(id || salt), id)`: deterministic in (id, salt), stable across
    * runs and partitionings, and an unstratified shuffle — same-domain
    * runs are geometrically short, which is the standard pretraining
    * practice (and what the OpsSpec interleaving pin asserts).
    *
    * Scale shape: the global rank is a distributed prefix COUNT — the
    * [[Packing.packingOffsets]] pattern: range-partition the (id, hash)
    * frame by the hash, collect ONE count row per partition, rank =
    * partition base + within-partition row_number. No single-partition
    * window and no payloads in the sort — the frame carries (id, hash)
    * only; a writer orders payloads with `repartitionByRange(hash)` +
    * `sortWithinPartitions` and payload rejoin stays on ids. The frame
    * is persisted so the subtotal and rank jobs see the same sampled
    * range boundaries (the Packing correctness requirement).
    */
  def trainingOrder(df: DataFrame, idCol: String,
      salt: String = "train-order"): DataFrame = {
    val keyed = df.select(col(idCol).as("id"))
      .withColumn("__k", saltedHash(col("id"), salt))
    val ranged = keyed.repartitionByRange(col("__k"), col("id"))
      .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val subtotals = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"), min(col("__k")).as("__mk"))
      .collect().sortBy(_.getString(2))
    val bases = subtotals.scanLeft(0L)(_ + _.getAs[Long]("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val baseDf = broadcast(
      subtotals.zip(bases).map { case (r, b) => (r.getInt(0), b) }
        .toSeq.toDF("__pid", "__base"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__k"), col("id"))
    ranged.join(baseDf, "__pid")
      .withColumn("rank", col("__base") + row_number().over(w))
      .select(col("id").as(idCol), col("rank"))
  }

  /** Curriculum training order — [[trainingOrder]] generalized to
    * PHASE-major: rows rank by (phase, md5(id‖salt), id), so all of
    * phase 0 precedes all of phase 1 (easy→hard curricula, dated
    * snapshots, quality tiers) while WITHIN a phase the order is the
    * same deterministic shuffle as [[trainingOrder]]. `phaseCol` must
    * be integral (discrete ordered phases — the curriculum contract).
    *
    * Same scale shape as [[trainingOrder]]: range-partition by the
    * composite key, one (count, first-element) row per partition to
    * the driver, rank = base + local row_number — no single-partition
    * window, payloads never sort. Partitions may straddle a phase
    * boundary; the per-partition FIRST element (a lexicographic
    * min-struct, not independent per-column minima) orders the bases
    * correctly regardless. Output: (idCol, phase, rank), rank dense
    * 1..N.
    */
  def curriculumOrder(df: DataFrame, idCol: String, phaseCol: String,
      salt: String = "curriculum"): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
        col(phaseCol).cast("long").as("phase"))
      .withColumn("__k", saltedHash(col("id"), salt))
    val ranged = keyed
      .repartitionByRange(col("phase"), col("__k"), col("id"))
      .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val subtotals = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("phase"), col("__k"), col("id"))).as("__first"))
      .collect()
      .sortBy { r =>
        // (phase, hash) uniquely identifies the first element — two
        // partitions can't share a first row, and md5 ties need equal
        // ids; id stays out of the driver sort so its type is free
        val f = r.getStruct(2)
        (f.getLong(0), f.getString(1))
      }
    val bases = subtotals.scanLeft(0L)(_ + _.getAs[Long]("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val baseDf = broadcast(
      subtotals.zip(bases).map { case (r, b) => (r.getInt(0), b) }
        .toSeq.toDF("__pid", "__base"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid"))
      .orderBy(col("phase"), col("__k"), col("id"))
    ranged.join(baseDf, "__pid")
      .withColumn("rank", col("__base") + row_number().over(w))
      .select(col("id").as(idCol), col("phase"), col("rank"))
  }
}

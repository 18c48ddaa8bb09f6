package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based language-model scoring for corpus curation — the
  * model-side complement of [[TextStats]]'s surface heuristics:
  *
  *  - [[bigramPerplexity]]: CCNet-style (Wenzek et al. 2020) perplexity
  *    scoring of every document under an add-α bigram LM fitted on a
  *    REFERENCE corpus (the "head of Wikipedia" role). Documents are
  *    then bucketed head/middle/tail by perplexity for keep/drop
  *    decisions.
  *  - [[importanceWeights]]: DSIR (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling") hashed-n-gram
  *    importance log-weights log p_target(doc)/p_raw(doc), the standard
  *    pretraining data-selection signal.
  *
  * Scale shape: model fitting is one groupBy per n-gram order over the
  * (small, curated) reference corpus; scoring shuffles only n-gram
  * tokens / 8-byte feature buckets and per-doc ids — document text
  * never crosses a shuffle (tokens are bounded vocabulary words, the
  * same contract as [[TextStats.tfidfTopTerms]]). Probabilities are
  * add-α closed forms over integer counts, so every number is exactly
  * replicable in ANSI SQL (the oracle re-derives the counts and the
  * same ln arithmetic; round-6 outputs).
  */
object Lm {

  private def toks(c: org.apache.spark.sql.Column) = split(lower(c), "\\s+")

  /** Per-document bigram perplexity under an add-α LM fitted on `ref`:
    * p(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V), with V = |distinct
    * unigrams in ref| + 1 (one shared OOV slot). Unseen histories score
    * α/(αV) = 1/V. Output: (idCol, n_bigrams, avg_logp, ppl) with
    * ppl = exp(-avg_logp), round-6; docs with <2 tokens get
    * n_bigrams=0 and NULL scores (nothing to measure — keep them
    * visible, don't silently drop).
    */
  def bigramPerplexity(docs: DataFrame, ref: DataFrame, textCol: String,
      idCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val refToks = ref.select(posexplode(toks(col(textCol))).as(Seq("pos", "w")))
    val uni = refToks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    // driver-side scalar: the vocabulary size, collected once
    val v = uni.count() + 1L
    val refBi = ref.select(toks(col(textCol)).as("t"))
      .select(posexplode(expr("slice(t, 1, greatest(size(t)-1, 0))")).as(Seq("p", "w1")),
        col("t"))
      .select(col("w1"), expr("t[p+1]").as("w2"))
    val bi = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cww"))
    val docBi = docs.select(col(idCol).as("__id"), toks(col(textCol)).as("t"))
      .select(col("__id"), posexplode(expr("slice(t, 1, greatest(size(t)-1, 0))")).as(Seq("p", "w1")),
        col("t"))
      .select(col("__id"), col("w1"), expr("t[p+1]").as("w2"))
    // per-bigram log-probs are FLOORED to 1e-9 grains and summed as
    // integers: a distributed float sum is order-nondeterministic (and
    // engine-dependent), while the integer sum is exact regardless of
    // partitioning — the round-6 outputs then replicate bit-for-bit in
    // the SQL oracle and across reruns
    val scored = docBi
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni, docBi("w1") === uni("w"), "left")
      .select(col("__id"),
        floor(log((coalesce(col("cww"), lit(0L)) + lit(alpha)) /
          (coalesce(col("cw"), lit(0L)) + lit(alpha) * lit(v.toDouble))) * lit(1e9))
          .cast("long").as("lp9"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp9")).as("slp9"))
    docs.select(col(idCol))
      .join(scored, col(idCol) === scored("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("slp9") / lit(1e9) / col("n_bigrams"), 6).as("avg_logp"),
        round(exp(-col("slp9") / lit(1e9) / col("n_bigrams")), 6).as("ppl"))
  }

  /** Head/middle/tail bucketing by perplexity quantiles (the CCNet
    * keep-policy): docs at or below the `headQ` ppl quantile are "head",
    * above `tailQ` are "tail", the rest "middle"; unscored docs (no
    * bigrams) are "tail". Quantiles are exact (`percentile`, a sort-based
    * aggregate — one extra shuffle over (ppl) doubles only).
    */
  def perplexityBuckets(scored: DataFrame, idCol: String,
      headQ: Double = 0.33, tailQ: Double = 0.67): DataFrame = {
    require(0 < headQ && headQ < tailQ && tailQ < 1, s"bad quantiles $headQ/$tailQ")
    val qs = scored.filter(col("ppl").isNotNull)
      .agg(expr(s"percentile(ppl, $headQ)").as("h"),
        expr(s"percentile(ppl, $tailQ)").as("t")).head()
    // percentile() over zero scored rows is null: with no scored doc
    // anywhere, every row is unscored and the documented unscored→tail
    // policy already decides the whole relation — no quantile needed
    // (and a bare getDouble would NPE naming no operator)
    if (qs.isNullAt(0))
      return scored.withColumn("bucket", lit("tail"))
    val (h, t) = (qs.getDouble(0), qs.getDouble(1))
    scored.withColumn("bucket",
      when(col("ppl").isNull, "tail")
        .when(col("ppl") <= h, "head")
        .when(col("ppl") > t, "tail")
        .otherwise("middle"))
  }

  /** Cross-engine-stable feature bucket: first 8 hex chars of md5,
    * parsed base-16, mod `buckets` — identical in Spark and DuckDB
    * (`('0x' || substr(md5(g),1,8))::BIGINT % B`), unlike xxhash64
    * which DuckDB lacks. 32 bits of hash is plenty for bucket counts
    * in the thousands.
    */
  private def mdBucket(g: org.apache.spark.sql.Column, buckets: Int) =
    conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets

  /** DSIR hashed-n-gram importance log-ratio per document:
    * weight = (1/n) Σ_gram log(p_target(b(gram)) / p_raw(b(gram))),
    * where grams are unigrams + bigrams hashed into `buckets` buckets,
    * and each distribution is add-α smoothed over its own gram total:
    * p(b) = (c(b) + α) / (N + αB). `docs` itself is the raw
    * distribution (the DSIR setup: select from raw toward target).
    * Output: (idCol, n_grams, log_ratio) round-6; docs with no tokens
    * get n_grams=0, NULL ratio. Positive = target-like.
    */
  def importanceWeights(docs: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 4096, alpha: Double = 0.5): DataFrame = {
    require(buckets > 0 && alpha > 0, s"bad buckets/alpha: $buckets/$alpha")
    def grams(df: DataFrame, withId: Boolean): DataFrame = {
      val t =
        if (withId) df.select(col(idCol).as("__id"), toks(col(textCol)).as("t"))
        else df.select(lit(0L).as("__id"), toks(col(textCol)).as("t"))
      val unis = t.select(col("__id"), explode(col("t")).as("g"))
      val bis = t
        .select(col("__id"),
          posexplode(expr("slice(t, 1, greatest(size(t)-1, 0))")).as(Seq("p", "w1")),
          col("t"))
        .select(col("__id"), concat(col("w1"), lit(" "), expr("t[p+1]")).as("g"))
      unis.unionByName(bis)
    }
    val tGrams = grams(target, withId = false).select(mdBucket(col("g"), buckets).as("b"))
    val rGrams = grams(docs, withId = false).select(mdBucket(col("g"), buckets).as("b"))
    val tCounts = tGrams.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rCounts = rGrams.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val nT = tGrams.count().toDouble
    val nR = rGrams.count().toDouble
    val aB = alpha * buckets
    val docGrams = grams(docs, withId = true)
      .select(col("__id"), mdBucket(col("g"), buckets).as("b"))
    // integer-grain sum for partitioning-independent determinism — see
    // bigramPerplexity
    val scored = docGrams
      .join(tCounts, Seq("b"), "left")
      .join(rCounts, Seq("b"), "left")
      .select(col("__id"),
        floor((log((coalesce(col("ct"), lit(0L)) + lit(alpha)) / lit(nT + aB)) -
          log((coalesce(col("cr"), lit(0L)) + lit(alpha)) / lit(nR + aB))) * lit(1e9))
          .cast("long").as("lr9"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr9")).as("slr9"))
    docs.select(col(idCol))
      .join(scored, col(idCol) === scored("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(col("slr9") / lit(1e9) / col("n_grams"), 6).as("log_ratio"))
  }

  /** Per-domain distribution-drift report: KL(P_domain ‖ P_corpus)
    * over hashed unigram buckets with add-α smoothing — the mixture
    * monitor that tells you WHICH source diverged when a new crawl
    * snapshot lands (domain drift, language creep, template floods).
    * p_b = (c_domain,b + α)/(n_d + αB), q_b = (c_corpus,b + α)/(N + αB);
    * every one of the B buckets contributes (zero-count cells carry the
    * smoothing mass — dropping them biases KL low). Identical
    * distributions score exactly 0 (p = q cell-wise → the grained term
    * is exactly 0, not −ε).
    *
    * Scale shape: tokens reduce to (domain, bucket) counts immediately
    * — B·domains cells is the largest relation after the first
    * aggregation, corpus size never matters again. Same 1e-9
    * integer-grain determinism contract as [[bigramPerplexity]].
    * Output: (domain, n_tokens, kl) with kl ≥ 0, round-6.
    */
  def klDivergenceReport(df: DataFrame, domainCol: String, textCol: String,
      buckets: Int = 256, alpha: Double = 0.5): DataFrame = {
    require(buckets > 0 && alpha > 0, s"bad buckets/alpha: $buckets/$alpha")
    val bucketed = df
      .select(col(domainCol).as("domain"), explode(toks(col(textCol))).as("g"))
      .filter(col("g") =!= "")
      .select(col("domain"), mdBucket(col("g"), buckets).as("b"))
    val domCounts = bucketed.groupBy(col("domain"), col("b"))
      .agg(count(lit(1)).as("cd"))
    val corpusCounts = bucketed.groupBy(col("b")).agg(count(lit(1)).as("cc"))
    val domTotals = bucketed.groupBy(col("domain")).agg(count(lit(1)).as("nd"))
    val nTotal = bucketed.count().toDouble
    val aB = alpha * buckets
    val p = (coalesce(col("cd"), lit(0L)) + lit(alpha)) / (col("nd") + lit(aB))
    val q = (coalesce(col("cc"), lit(0L)) + lit(alpha)) / (lit(nTotal + aB))
    val cells = domTotals
      .select(col("domain"), col("nd"),
        explode(sequence(lit(0L), lit(buckets - 1L))).as("b"))
      .join(corpusCounts, Seq("b"), "left")
      .join(domCounts, Seq("domain", "b"), "left")
      .select(col("domain"), col("nd"),
        floor(p * (log(p) - log(q)) * lit(1e9)).cast("long").as("t9"))
    cells.groupBy(col("domain"))
      .agg(max(col("nd")).as("n_tokens"),
        round(sum(col("t9")) / lit(1e9), 6).as("kl"))
      .select(col("domain"), col("n_tokens"), col("kl"))
  }
}

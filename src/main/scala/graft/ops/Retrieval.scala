package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval over the corpus: BM25 top-k for a constant term
  * query (Robertson/Spärck Jones probabilistic weighting with the
  * Lucene-style always-positive idf, `ln(1 + (N - df + ½)/(df + ½))`).
  * The relevance-scoring half of a corpus-curation stack (alongside
  * [[TextStats.tfidfTopTerms]]'s characteristic-term direction).
  *
  * Scale shape: two jobs. Job 1 reduces the corpus to |query| + 2
  * scalars in one scan-local aggregate (N, avgdl, and per-term document
  * frequencies via native `array_contains` — no explode) collected to
  * the driver, so the driver only ever holds a bounded set of
  * constants, never corpus rows. Job 2 is the retrieval scan: query-term
  * postings are filtered BEFORE the single shuffle (the per-doc pivot
  * groupBy carries only docs containing at least one query term),
  * scores are pure literal arithmetic, and top-k is orderBy+limit
  * (TakeOrdered — executor-local heaps, no full sort, no joins at all).
  *
  * Determinism: per-term tf/df/N/dl are integer-valued doubles (exact,
  * order-independent), the per-doc score adds the per-term
  * contributions in QUERY order (a fixed left fold, not a shuffled
  * `sum`), and the score is rounded to 6 decimals before ranking — so
  * the output is replicable in ANSI SQL as long as both engines'
  * `ln` agree to ~9 significant digits (the same contract tfidf's
  * oracle already relies on).
  *
  * Docs containing no query term never score (top-k may return fewer
  * than k rows when the query is rare). Output: (id, rank, score).
  */
object Retrieval {

  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25TopK: empty query")
    require(k >= 1, s"bm25TopK: k must be >= 1: $k")
    val qTerms = query.map(_.toLowerCase).distinct
    val base = df.select(col(idCol).as("id"),
      TextStats.wsTokens(col(textCol)).cast("double").as("dl"),
      split(lower(col(textCol)), "\\s+").as("__toks"))
    // job 1: N, avgdl, and df per query term, one scan-local aggregate
    // (integer-valued doubles — exact, order-independent). Aggregate
    // names are POSITIONAL (__df_0, __tf_0, …): a user term containing
    // '.' or '`' would otherwise be parsed by col() as a nested-field
    // path and fail analysis.
    val statCols = Seq(
      count(lit(1)).cast("double").as("__n"), avg(col("dl")).as("__avgdl")) ++
      qTerms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t), 1.0)
          .otherwise(0.0)).as(s"__df_$i") }
    val statRow = base.agg(statCols.head, statCols.tail: _*).head()
    val n = statRow.getDouble(0)
    // avg() over zero rows is null; read it only after the named guard
    require(n > 0,
      "bm25TopK: empty corpus — BM25 statistics (avgdl, df) are " +
        "undefined over zero documents")
    val avgdl = statRow.getDouble(1)
    val dfs = qTerms.zipWithIndex.map { case (t, i) =>
      t -> statRow.getDouble(2 + i) }.toMap
    // job 2: the retrieval scan — pivot on query terms, literal math
    val tfCols = qTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1.0).otherwise(0.0)).as(s"__tf_$i") }
    val pivoted = base
      .select(col("id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    val score = qTerms.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (t, i)) =>
      val tf = col(s"__tf_$i")
      val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
      acc + when(tf > 0,
        lit(idf) * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
        .otherwise(0.0)
    }
    pivoted
      .withColumn("score", round(score, 6))
      .orderBy(col("score").desc, col("id").asc).limit(k)
      // single-partition rank window BY DESIGN (Spark warns): its
      // input is the ≤k limit survivors, never the corpus
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
      .select(col("id"), col("rank"), col("score"))
  }

  /** Bag-of-words linear text score — the SERVING half of a
    * fastText-style quality classifier (DCLM / FineWeb-style model-based
    * filtering): score = bias + Σ_t weight(t) · tf(t), with weights
    * trained elsewhere and passed in. One scan, one pivot shuffle
    * carrying only docs containing a weighted term (same shape as
    * [[bm25TopK]]); contributions fold in first-occurrence weight order
    * with literal arithmetic, so the output is ANSI-SQL-replicable.
    * Terms that collide after lowercasing fold into one summed weight.
    *
    * Output: `(idCol, score, keep)` ONLY — the decision table, not the
    * corpus. Shuffles carry ids and tf counts, never document text
    * (repo convention; PlanSpec pins it). Callers who want scored text
    * join the decision back on `idCol` — typically a broadcast when the
    * keep-side is filtered first, or a narrow id-to-id shuffle at worst.
    * Docs containing NO weighted term score exactly `bias`.
    */
  def linearTextScore(df: DataFrame, textCol: String, idCol: String,
      weights: Seq[(String, Double)], bias: Double = 0.0,
      threshold: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "linearTextScore: empty weight vector")
    // fold duplicate (post-lowercase) terms into one summed weight,
    // keeping first-occurrence order so the score fold is deterministic;
    // without this, duplicate terms would emit ambiguous aggregate columns
    val folded: Seq[(String, Double)] = {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      weights.foreach { case (t, w) =>
        val k = t.toLowerCase
        acc.update(k, acc.getOrElse(k, 0.0) + w)
      }
      acc.toSeq
    }
    // positional aggregate names — see bm25TopK
    val tfCols = folded.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("term") === t, 1.0).otherwise(0.0)).as(s"__tf_$i") }
    val pivoted = df
      .select(col(idCol).as("__id"),
        explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term").isin(folded.map(_._1): _*))
      .groupBy(col("__id"))
      .agg(tfCols.head, tfCols.tail: _*)
    val score = folded.zipWithIndex.foldLeft(lit(bias)) {
      case (acc, ((_, w), i)) =>
        acc + coalesce(col(s"__tf_$i"), lit(0.0)) * lit(w)
    }
    df.select(col(idCol))
      .join(pivoted, col(idCol) === pivoted("__id"), "left")
      .withColumn("score", round(score, 6))
      .withColumn("keep", (col("score") >= threshold).cast("long"))
      .select(col(idCol), col("score"), col("keep"))
  }

  /** Train the weights [[linearTextScore]] serves — the "fit" half of
    * the CCNet/DCLM quality-filter recipe (label a curated corpus
    * positive, raw crawl negative, train a linear bag-of-words
    * classifier). With bag-of-words features the optimal naive-Bayes
    * weights are CLOSED FORM from counts — no gradient loop:
    * `w(t) = ln((cPos(t)+α)/(NPos+αV)) − ln((cNeg(t)+α)/(NNeg+αV))`,
    * V = distinct terms across both corpora + 1 (shared OOV slot).
    *
    * Output: `(term, c_pos, c_neg, weight)` for terms seen ≥ `minCount`
    * times overall, top-`k` by |weight| (1e-9-grained ln over exact
    * integer counts — partitioning-independent, engine-replicable —
    * ties broken on the term). Feed straight into
    * `linearTextScore(df, …, weights, bias = ln(nPosDocs/nNegDocs))`.
    *
    * Scale shape: one token-count aggregation per side (map-side
    * partial, bounded-vocabulary words shuffle, text never) and three
    * driver-side scalars — the bm25 corpus-stats contract.
    */
  def fitNbWeights(pos: DataFrame, neg: DataFrame, textCol: String,
      alpha: Double = 0.5, minCount: Long = 2L, k: Int = 200): DataFrame = {
    require(alpha > 0 && minCount >= 1 && k >= 1,
      s"bad alpha/minCount/k: $alpha/$minCount/$k")
    def toks(df: DataFrame) = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val pc = toks(pos).groupBy(col("term")).agg(count(lit(1)).as("c_pos"))
    val nc = toks(neg).groupBy(col("term")).agg(count(lit(1)).as("c_neg"))
    val joined = pc.join(nc, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_pos"), lit(0L)).as("c_pos"),
        coalesce(col("c_neg"), lit(0L)).as("c_neg"))
    val totals = joined
      .agg(sum(col("c_pos")), sum(col("c_neg")), count(lit(1))).head()
    // sum() over zero rows is null; name the operator instead of NPEing
    require(!totals.isNullAt(0),
      "fitNbWeights: no tokens in either corpus — naive-Bayes weights " +
        "are undefined without observed term counts")
    val nPos = totals.getLong(0).toDouble
    val nNeg = totals.getLong(1).toDouble
    val v = (totals.getLong(2) + 1L).toDouble
    joined.filter(col("c_pos") + col("c_neg") >= minCount)
      .withColumn("w9",
        floor((log((col("c_pos") + lit(alpha)) / lit(nPos + alpha * v)) -
          log((col("c_neg") + lit(alpha)) / lit(nNeg + alpha * v))) * lit(1e9))
          .cast("long"))
      .orderBy(abs(col("w9")).desc, col("term"))
      .limit(k)
      .select(col("term"), col("c_pos"), col("c_neg"),
        round(col("w9") / lit(1e9), 6).as("weight"))
  }

  /** Inverted-index build — the IR-side dual of [[bm25TopK]]'s
    * query-time scan: one row per surviving term with
    * (df, tf, postings), postings the doc-ordered list
    * `"doc:pos|pos;doc:pos"` of 1-based token positions (the exact
    * payload a positional index / phrase-query engine serves). Terms
    * are `\s+` tokens of the lowercased text restricted to
    * `[a-z0-9]+` (dropping punctuation fragments keeps both engines'
    * split semantics aligned and the index vocabulary clean).
    *
    * Scale shape: two aggregations — (term, doc) collapses positions
    * map-side, then (term) assembles the posting list; only (term, doc,
    * pos) integers shuffle, never text. A term's postings concentrate
    * on one reducer by design (a posting LIST is per-term state);
    * `minDf` prunes the hapax tail BEFORE the final assembly would
    * serialize it, and for stopword-grade terms a production deployment
    * would shard postings by doc range — the (term, doc)-keyed first
    * stage already holds at any scale.
    */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
      minDf: Int = 1): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        posexplode(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("pos0", "term")))
      .filter(col("term").rlike("^[a-z0-9]+$"))
      .select(col("doc"), col("term"), (col("pos0") + 1).cast("long").as("pos"))
    val perDoc = toks.groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf_doc"),
        array_join(sort_array(collect_list(col("pos"))), "|").as("plist"))
    // minDf prunes BEFORE postings assembly: the hapax tail (which
    // dominates a Zipfian vocabulary) must never have its posting
    // strings collected/sorted/serialized just to be discarded — so
    // when minDf > 1 a window count over `term` filters the per-doc
    // relation first. The window's partitioning IS the final
    // aggregation's grouping key, so the exchange it introduces is the
    // one the groupBy below needed anyway — pruning costs no extra
    // shuffle and no persist (the earlier df-pre-aggregation + semi-join
    // formulation paid two more term-keyed exchanges plus a cache of
    // the whole per-doc relation for the same rows). A stopword term's
    // window group is large, but those identical rows were always
    // funneled into ONE collect_list group below — no new skew class.
    val kept =
      if (minDf <= 1) perDoc
      else perDoc
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .filter(col("__df") >= minDf)
        .drop("__df")
    val out = kept.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("tf_doc")).cast("long").as("tf"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("doc"), col("plist")))),
            e => concat(e.getField("doc").cast("string"), lit(":"),
              e.getField("plist"))),
          ";").as("postings"))
      .filter(col("df") >= minDf)
    out
  }

  /** Rank-biased overlap (Webber/Moffat/Zobel 2010) between two
    * per-query top-k rankings — the ranking-comparison metric
    * retrieval and ANN evaluation use when plain recall@k over-rewards
    * tail agreement: prefix overlaps weight geometrically, so two
    * lists that agree at the TOP score high even if their tails
    * diverge. Inputs are two `(qid, id, rank)` relations (1-based
    * ranks, e.g. [[bm25TopK]] runs tagged with a qid, or any
    * `row_number` ranking); output one `(qidCol, rbo, rbo_ext)` row
    * per qid on EITHER side,
    * rbo = (1−p) · Σ_{d=1..k} p^{d−1} · |A:d ∩ B:d| / d, round-6 —
    * the TRUNCATED (depth-k) RBO, a lower bound of the infinite form —
    * and `rbo_ext` the EXTRAPOLATED form (Webber §4.5: assume the
    * depth-k agreement A_k = |A:k ∩ B:k|/k persists through the
    * infinite tail), which with the tail-weight algebra collapses to
    * rbo_ext = rbo + (|A:k ∩ B:k|/k) · pᵏ — the literature's headline
    * number, ≥ rbo always, = rbo exactly when the prefixes share
    * nothing. A qid missing one side scores 0 on both (no agreement).
    *
    * Determinism/oracle contract: a pair matched on both sides
    * contributes from depth m = max(rank_a, rank_b), i.e. the exact
    * tail weight W(m) = Σ_{d=m..k} p^{d−1}/d — precomputed driver-side
    * per possible m as 1e-9-grain longs (each depth term floors, the
    * tail sums exactly), so the per-qid score is one exact-long sum:
    * partition-order-proof and SQL-replayable as a k-row weight-table
    * join; `rbo_ext` adds X_k · floor(pᵏ/k·1e9) — an exact conditional
    * count times a grained constant, the same contract.
    * `p` powers are IEEE `pow` — use p = 0.5 when cross-engine
    * bit-parity matters (exact powers of two); the conventional 0.9 is
    * fine within the grain.
    *
    * Scale shape: ONE full-outer equi-join of the two rank relations
    * on (qid, id) — ≤k rows per qid a side, and the join also carries
    * the one-sided qids so each input ranking's plan executes exactly
    * once — then a single aggregation; nothing sees corpus size, only
    * the rankings.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, qidCol: String,
      idCol: String, rankCol: String, k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1, s"rankBiasedOverlap: bad depth $k")
    require(p > 0 && p < 1, s"rankBiasedOverlap: p out of (0,1): $p")
    // t9(d) = the grained depth-d term; w9(m) = the exact tail sum a
    // pair matched at depth m earns; ext9 = the grained pᵏ/k
    // extrapolation unit each depth-k-matched pair earns on top
    // (X_k · ext9 — a conditional count in the same aggregation)
    val t9 = (1 to k).map(d => math.floor(math.pow(p, d - 1) / d * 1e9).toLong)
    val w9 = t9.scanRight(0L)(_ + _).init
    val ext9 = math.floor(math.pow(p, k) / k * 1e9).toLong
    def side(df: DataFrame, rn: String) = df
      .filter(col(rankCol) <= k)
      .select(col(qidCol).as("q"), col(idCol).as("i"),
        col(rankCol).cast("long").as(rn))
    val sumW9 = coalesce(sum(when(col("m").isNotNull,
      element_at(typedLit(w9), col("m").cast("int")))), lit(0L))
      .cast("double")
    side(a, "ra").join(side(b, "rb"), Seq("q", "i"), "full_outer")
      // greatest IGNORES nulls, so a one-sided row must null out
      // explicitly — it carries its qid but no overlap
      .select(col("q"),
        when(col("ra").isNotNull && col("rb").isNotNull,
          greatest(col("ra"), col("rb"))).as("m"))
      .groupBy(col("q").as(qidCol))
      .agg(round(lit(1.0 - p) * sumW9 / 1e9, 6).as("rbo"),
        // count(m) = X_k: rows matched on BOTH sides (both ranks ≤ k)
        round((lit(1.0 - p) * sumW9 +
          count(col("m")).cast("double") * lit(ext9.toDouble)) / 1e9, 6)
          .as("rbo_ext"))
  }
}

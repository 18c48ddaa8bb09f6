package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics — the counting passes that precede
  * tokenizer fitting and feature design in a pretraining pipeline:
  * top-k n-gram frequencies (the seed list for vocab/merge learning,
  * stopword discovery, boilerplate spotting) and PMI collocations
  * (Church & Hanks 1990 — the classic "strongly associated word pair"
  * statistic used for multi-word-expression mining).
  *
  * Scale shape: only TOKENS shuffle (bounded-vocabulary words with
  * map-side partial aggregation — the [[TextStats.tfidfTopTerms]]
  * contract), never document text; top-k selection is TakeOrdered
  * (executor-local heaps), never a global sort. Ties break
  * deterministically on the gram string, and the PMI log is floored to
  * 1e-9 grains over exact integer counts (see [[Lm]]), so results are
  * partitioning-independent and bit-replicable in the DuckDB oracles.
  */
object Vocab {

  private def toks(c: org.apache.spark.sql.Column) =
    split(trim(lower(c)), "\\s+")

  /** Top-k word n-grams by corpus frequency. Output `(gram, cnt)`,
    * ordered by `(cnt desc, gram asc)` — the gram tie-break makes the
    * cut deterministic. `minCount` prunes the long tail BEFORE the
    * top-k heap (at 100 TB the singleton tail dominates the shuffle;
    * cutting it costs nothing because a gram below `minCount` can
    * never reach a top-k that high).
    */
  def topKNgrams(docs: DataFrame, textCol: String, n: Int = 1,
      k: Int = 100, minCount: Long = 1L): DataFrame = {
    require(n >= 1 && k >= 1, s"bad n/k: $n/$k")
    val grams =
      if (n == 1) docs.select(explode(toks(col(textCol))).as("gram"))
      else docs.select(toks(col(textCol)).as("t"))
        .select(posexplode(expr(s"slice(t, 1, greatest(size(t)-${n - 1}, 0))"))
          .as(Seq("p", "w0")), col("t"))
        .select(concat_ws(" ",
          (0 until n).map(i => expr(s"t[p+$i]")): _*).as("gram"))
    grams.filter(col("gram") =!= "")
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** PMI collocations over adjacent word pairs:
    * pmi = ln(c12 · N1² / (N2 · c1 · c2)) with c1/c2 unigram counts,
    * c12 the bigram count, N1/N2 the unigram/bigram totals. Output
    * `(w1, w2, c12, pmi)` for pairs with `c12 >= minCount`, top-k by
    * `(pmi desc, w1, w2)`. The `minCount` floor is the standard guard
    * against PMI's low-frequency pathology (a pair seen once between
    * two rare words maximizes the raw statistic).
    *
    * The ratio inside the ln is exact integer arithmetic; the ln is
    * floored to 1e-9 grains so ranking and emitted values replicate
    * across engines (reported `pmi` = grains/1e9, rounded to 6).
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 100): DataFrame = {
    require(minCount >= 1 && k >= 1, s"bad minCount/k: $minCount/$k")
    val t = docs.select(toks(col(textCol)).as("t"))
    val unis = t.select(explode(col("t")).as("w")).filter(col("w") =!= "")
    val bis = t
      .select(posexplode(expr("slice(t, 1, greatest(size(t)-1, 0))"))
        .as(Seq("p", "w1")), col("t"))
      .select(col("w1"), expr("t[p+1]").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val uniCounts = unis.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val biCounts = bis.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    // two driver-side scalars (one aggregate row each, collected once)
    val n1 = unis.count().toDouble
    val n2 = bis.count().toDouble
    biCounts
      .join(uniCounts.withColumnsRenamed(Map("w" -> "w1", "c" -> "c1")), Seq("w1"))
      .join(uniCounts.withColumnsRenamed(Map("w" -> "w2", "c" -> "c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c12"),
        floor(log(col("c12") * lit(n1) * lit(n1) /
          (lit(n2) * col("c1") * col("c2"))) * lit(1e9)).cast("long").as("pmi9"))
      .orderBy(col("pmi9").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("pmi9") / lit(1e9), 6).as("pmi"))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer learning and application (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
  * Subword Units") — the tokenizer-fitting step of a pretraining
  * pipeline, and the real token counter behind token-budget planning
  * (where [[TextStats.bpeTokens]] is only a regex approximation).
  *
  * Scale shape, fit: BPE learns merges over the word-TYPE frequency
  * table, not the token stream — one `groupBy(word)` over the corpus
  * (tokens shuffle with map-side partial aggregation, text never),
  * then the top `maxWordTypes` types by count are collected to the
  * driver (a documented driver-side contract: the type table is
  * Zipf-truncated, and every dropped type is a rare word whose pair
  * statistics are noise at merge-election time; `fitStats` reports the exact token mass covered).
  * The merge loop itself is the published algorithm: repeatedly elect
  * the highest-frequency adjacent symbol pair (ties broken
  * lexicographically for determinism) and fuse it across all types.
  *
  * Scale shape, encode: the learned ranks broadcast once per job;
  * each document encodes scan-local through a codegen'd kernel with a
  * per-task word→tokens memo (Zipf again: the cache hit rate IS the
  * type/token ratio). Character mass is conserved by construction —
  * concatenating a word's tokens (end-marker stripped) rebuilds the
  * word — which is what the oracle-checked `q_bpe` contract asserts.
  */
object Bpe {

  /** End-of-word marker symbol (separate symbol per the paper, so
    * merges can distinguish word-final from word-internal contexts).
    */
  val EndMark = "</w>"

  /** Fit result: ordered merge list (rank = position) plus coverage
    * stats from the type truncation.
    */
  final case class BpeModel(merges: Seq[(String, String)],
      nWordTypes: Long, typesUsed: Int, tokenMassCovered: Double) {
    /** rank lookup map for the encoder */
    def ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap
  }

  private def toks(c: org.apache.spark.sql.Column) =
    split(trim(lower(c)), "\\s+")

  /** Initial symbol sequence of a word: one symbol per CODE POINT (a
    * UTF-16 `char` split would cut surrogate pairs into lone
    * surrogates, which can't round-trip through UTF-8 token columns),
    * plus the end marker.
    */
  private def charSyms(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out += EndMark
    out.result()
  }

  /** Learn `numMerges` BPE merges from the corpus. One distributed
    * word-count pass; the merge loop runs on the driver over at most
    * `maxWordTypes` (word, count) rows.
    */
  def fit(docs: DataFrame, textCol: String, numMerges: Int,
      maxWordTypes: Int = 50000): BpeModel = {
    require(numMerges >= 0 && maxWordTypes > 0,
      s"bad numMerges/maxWordTypes: $numMerges/$maxWordTypes")
    val counts = docs.select(explode(toks(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val agg = counts.agg(count(lit(1)), sum(col("c"))).head()
    val nTypes = agg.getLong(0)
    // sum() over zero rows is null; a bare getLong would NPE with no
    // operator named — an empty corpus cannot seed a BPE vocabulary
    require(nTypes > 0L,
      "Bpe.fit: empty input — no tokens after tokenization; a BPE " +
        "model needs a non-empty corpus to learn merges from")
    val totalTokens = agg.getLong(1)
    // deterministic truncation: count desc, word asc
    val top = counts.orderBy(col("c").desc, col("w"))
      .limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val covered =
      if (totalTokens == 0L) 1.0 else top.map(_._2).sum.toDouble / totalTokens
    val merges = fitOnTypes(top.toIndexedSeq, numMerges)
    BpeModel(merges, nTypes, top.length, covered)
  }

  /** The merge-election loop over a (word, count) type table — pure,
    * deterministic, driver-side. Exposed for tests.
    */
  def fitOnTypes(types: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    // each word as its symbol sequence; start = characters + EndMark
    var vocab: Array[(Array[String], Long)] = types.map { case (w, c) =>
      (charSyms(w), c)
    }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var done = 0
    while (done < numMerges) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          pairCounts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = numMerges
      else {
        var best: (String, String) = null
        var bestC = -1L
        pairCounts.forEach { (p, c) =>
          // max count; lexicographic pair tie-break for determinism
          if (c > bestC || (c == bestC &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestC = c
          }
        }
        merges += best
        val fused = best._1 + best._2
        vocab = vocab.map { case (syms, c) =>
          if (!hasPair(syms, best)) (syms, c)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += fused; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
        }
        done += 1
      }
    }
    merges.result()
  }

  private def hasPair(syms: Array[String], p: (String, String)): Boolean = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == p._1 && syms(i + 1) == p._2) return true
      i += 1
    }
    false
  }

  /** Encode one word (no whitespace) into its BPE tokens: start from
    * characters + EndMark, repeatedly fuse the lowest-rank adjacent
    * pair (all its occurrences, left to right) until no learned pair
    * remains. Pure kernel — the expression and tests share it.
    */
  def encodeWordValue(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = charSyms(word)
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        // ranks are unique (rank = merge index), so bestRank names
        // exactly one pair; fuse every occurrence in one pass
        val (a, b) = {
          var j = 0; var found: (String, String) = null
          while (found == null && j < syms.length - 1) {
            if (ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue) == bestRank)
              found = (syms(j), syms(j + 1))
            j += 1
          }
          found
        }
        val fused = a + b
        val out = Array.newBuilder[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
            out += fused; k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.result()
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Encode a whitespace-tokenized text column: appends `outCol` =
    * array of BPE tokens (per word, concatenated in order; EndMark
    * kept as the word boundary) and `n_bpe_tokens`. The rank table
    * broadcasts once; the per-row kernel is codegen'd and memoizes
    * word encodings per task.
    */
  def encode(df: DataFrame, textCol: String, model: BpeModel,
      outCol: String = "bpe_tokens"): DataFrame = {
    val spark = SparkSession.active
    val bc = spark.sparkContext.broadcast(model.ranks)
    val tokens = org.apache.spark.sql.GraftBridge.column(
      graft.spark.BpeEncodeExpression(
        org.apache.spark.sql.GraftBridge.expression(
          concat_ws(" ", toks(col(textCol)))), bc))
    df.withColumn(outCol, tokens)
      .withColumn("n_bpe_tokens", size(col(outCol)).cast("long"))
  }

  /** Decode a BPE token array back to text: concatenate the symbols
    * and turn each end-of-word marker into a space. Exact inverse of
    * [[encode]] up to encode's own canonicalization (lowercase +
    * whitespace collapse) — `decode(encode(text)) ==
    * array_join(split(trim(lower(text)), "\\s+"), " ")`, the contract
    * `q_bpe_decode` hash-gates end to end. Pure native functions
    * (array_join + literal replace + trim): codegen'd, zero shuffles.
    * Caveat shared with every BPE implementation: the marker string is
    * reserved — source text that literally contains `</w>` would
    * decode ambiguously.
    */
  def decode(tokensCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(array_join(tokensCol, ""),
      java.util.regex.Pattern.quote(EndMark), " "))
}

package graft

import graft.dict.{DictionaryEntry, HighlighterOpts}
import graft.spark.SparkHighlighter
import org.apache.spark.sql.{Column, DataFrame}

/** Single-import column-function façade, mirroring the shape of
  * `org.apache.spark.sql.functions`: everything a pipeline composes —
  * annotation, dedup sketches, text stats — as `Column` functions over
  * standard DataFrames.
  *
  * {{{
  * import graft.functions._
  * docs.select($"doc_id",
  *   simhash64($"text").as("sig"),
  *   fingerprint($"text").as("fp"),
  *   langId($"text").as("lang"))
  * }}}
  */
object functions {

  /** Annotations of `textCol` against `dictionary` as
    * `array<struct<text,annType,dictEntryId,meta,beginOffset,endOffset>>`.
    * Compiles + broadcasts the dictionary once per call site — hold a
    * [[graft.spark.SparkHighlighter]] instead when annotating many frames
    * with one dictionary.
    */
  def annotate(df: DataFrame, textCol: String,
      dictionary: Seq[DictionaryEntry],
      opts: HighlighterOpts = HighlighterOpts.default): Column =
    SparkHighlighter(dictionary, opts).annotateColumn(df, textCol)

  /** 64-bit SimHash of whitespace tokens (near-dup sketch). */
  def simhash64(text: Column): Column = graft.ops.Dedup.simhash64(text)

  /** Winnowing-style rolling-hash document fingerprint. */
  def fingerprint(text: Column, window: Int = 5): Column =
    graft.ops.TextStats.fingerprint(text, window)

  /** All rolling-window hashes (the set [[fingerprint]] minimizes over). */
  def fingerprintWindows(text: Column, window: Int = 5): Column =
    graft.ops.TextStats.fingerprintWindows(text, window)

  /** Distinct word n-gram shingles. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.ops.Dedup.shingles(text, n)

  /** Two-tier language ID: CJK/Cyrillic script check, then stopword
    * profiles (en/es/fr/de/pt/it/nl/lt), else "und". */
  def langId(text: Column): Column = graft.ops.TextStats.langId(text)

  /** Whitespace token count. */
  def wsTokens(text: Column): Column = graft.ops.TextStats.wsTokens(text)

  /** BPE-ish pre-tokenization count. */
  def bpeTokens(text: Column): Column = graft.ops.TextStats.bpeTokens(text)

  /** HTML → visible text (script/style/comment blocks dropped with
    * content, tags stripped, common entities decoded, whitespace
    * collapsed).
    */
  def stripHtml(text: Column): Column = graft.ops.TextClean.stripHtml(text)

  /** Canonical URL (case, userinfo, default ports, fragments, tracking
    * params). */
  def normalizeUrl(url: Column): Column = graft.ops.Urls.normalize(url)

  /** Lowercased URL host (userinfo/port stripped). */
  def urlHost(url: Column): Column = graft.ops.Urls.host(url)

  /** Registered domain per the compiled public-suffix-list snapshot. */
  def urlDomain(url: Column): Column = graft.ops.Urls.registeredDomain(url)

  /** Within-doc repeated-line removal (first occurrence survives,
    * original order; scan-local, zero shuffles).
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String,
      delim: String = "\n"): DataFrame =
    graft.ops.Dedup.dedupLinesWithinDoc(df, textCol, delim)

  /** Drop rows whose PSL-registered domain is in the blocklist. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocked: Seq[String]): DataFrame =
    graft.ops.Urls.filterBlockedDomains(df, urlCol, blocked)

  /** Learn BPE merges from a corpus (driver-side election over the
    * top word types; see [[graft.ops.Bpe.fit]]).
    */
  def bpeFit(docs: DataFrame, textCol: String, numMerges: Int,
      maxWordTypes: Int = 50000): graft.ops.Bpe.BpeModel =
    graft.ops.Bpe.fit(docs, textCol, numMerges, maxWordTypes)

  /** Apply learned BPE merges: appends token-array and count columns
    * (broadcast ranks, scan-local codegen'd kernel).
    */
  def bpeEncode(df: DataFrame, textCol: String, model: graft.ops.Bpe.BpeModel,
      outCol: String = "bpe_tokens"): DataFrame =
    graft.ops.Bpe.encode(df, textCol, model, outCol)

  /** Sentence-boundary normalization (terminator+space -> newline). */
  def sentenceDelimited(text: Column): Column =
    graft.ops.TextStats.sentenceDelimited(text)

  /** Deflate compression ratio (repetitiveness signal; empty -> null). */
  def compressionRatio(text: Column): Column =
    graft.ops.TextStats.compressionRatio(text)

  /** Unicode normalization form (NFC/NFD/NFKC/NFKD), codegen'd. */
  def normalizeForm(text: Column, form: String = "NFC"): Column =
    graft.ops.TextClean.normalizeForm(text, form)

  /** Canonical text fixing: NFC + invisible-char removal + Unicode
    * space mapping + control stripping (optionally fold typographic
    * punctuation to ASCII).
    */
  def normalizeUnicode(text: Column, form: String = "NFC",
      foldPunct: Boolean = false): Column =
    graft.ops.TextClean.normalizeUnicode(text, form, foldPunct)

  /** Repair UTF-8-read-as-Latin-1 mojibake (≤2 rounds, exact
    * inversion; clean text passes through).
    */
  def fixMojibake(text: Column): Column =
    graft.ops.TextClean.fixMojibake(text)

  /** C4 heuristic page filter (line rules + page rules, auditable
    * keep flag).
    */
  def c4Filter(df: DataFrame, textCol: String,
      badWords: Seq[String] = Seq.empty): DataFrame =
    graft.ops.TextClean.c4Filter(df, textCol, badWords)

  /** The remaining Gopher page rules (alpha-word fraction, symbol
    * ratio, bullet/ellipsis line fractions, stop-word presence).
    */
  def gopherPageRules(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.ops.TextStats.gopherPageRules(df, textCol, idCol)

  /** Decode BPE tokens back to (canonicalized) text. */
  def bpeDecode(tokens: Column): Column = graft.ops.Bpe.decode(tokens)

  /** Per-group exact-quantile threshold filter (CCNet-style adaptive
    * cuts; appends threshold + keep).
    */
  def filterByGroupQuantile(df: DataFrame, scoreCol: String, groupCol: String,
      q: Double, keepBelow: Boolean = true): DataFrame =
    graft.ops.Sampling.filterByGroupQuantile(df, scoreCol, groupCol, q, keepBelow)

  /** Temperature-scaled mixture plan: p_i ∝ n_i^(1/τ). */
  def temperatureMixturePlan(df: DataFrame, domainCol: String,
      tokenCount: Column, temperature: Double, budget: Long,
      maxEpochs: Double = 4.0): DataFrame =
    graft.ops.Sampling.temperatureMixturePlan(df, domainCol, tokenCount,
      temperature, budget, maxEpochs)

  /** Quality-ranked near-dup survivor election (per component, keep
    * the highest-rank member).
    */
  def keepBestInClusters(df: DataFrame, pairs: DataFrame, idCol: String,
      rank: Column): DataFrame =
    graft.ops.Dedup.keepBestInClusters(df, pairs, idCol, rank)

  /** Per-registered-domain corpus rollup (volume + doc share). */
  def domainReport(df: DataFrame, urlCol: String, textCol: String): DataFrame =
    graft.ops.Urls.domainReport(df, urlCol, textCol)

  /** Repeated word-n-gram fractions at the given orders (RefinedWeb
    * rep_ngram family) with a threshold keep flag.
    */
  def ngramRepetition(df: DataFrame, textCol: String, idCol: String,
      ns: Seq[Int] = Seq(3, 4)): DataFrame =
    graft.ops.TextStats.ngramRepetition(df, textCol, idCol, ns)

  /** Exact-k deterministic sample per stratum (fixed-size eval sets). */
  def sampleExactPerGroup(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String = ""): DataFrame =
    graft.ops.Sampling.sampleExactPerGroup(df, idCol, strataCol, k, salt)

  /** Dedup-aware split assignment: near-dup clusters land whole in one
    * split (no train→test leakage); untouched rows split as
    * [[graft.ops.Sampling.assignSplit]] would.
    */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
        "test" -> 0.1),
      salt: String = ""): DataFrame =
    graft.ops.Sampling.leakageSafeSplit(df, pairs, idCol, weights, salt)

  /** Per-domain KL drift report over hashed unigram buckets. */
  def klDivergenceReport(df: DataFrame, domainCol: String, textCol: String,
      buckets: Int = 256, alpha: Double = 0.5): DataFrame =
    graft.ops.Lm.klDivergenceReport(df, domainCol, textCol, buckets, alpha)

  /** Snapshot diff by content hash: added/removed/changed/unchanged. */
  def corpusDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.ops.Snapshot.corpusDiff(before, after, idCol, textCol)

  /** Corpus-level contamination overlap (benchmark windows inside the
    * corpus).
    */
  def overlapReport(corpus: DataFrame, bench: DataFrame, textCol: String,
      window: Int = 5): DataFrame =
    graft.ops.Snapshot.overlapReport(corpus, bench, textCol, window)

  /** Domain boilerplate-line removal (doc-frequency header/footer rule). */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      domainCol: String, minDocs: Int = 3, minDocFrac: Double = 0.2,
      delim: String = "\n"): DataFrame =
    graft.ops.Dedup.removeBoilerplateLines(df, textCol, idCol, domainCol,
      minDocs, minDocFrac, delim)

  /** Pigeonhole hamming pairs over any 64-bit signature column. */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    graft.ops.Dedup.hammingPairs64(sigs, idCol, sigCol, maxHamming, maxBucket)

  /** Corpus datasheet card: (metric, value) release-note summary. */
  def corpusCard(df: DataFrame, textCol: String, idCol: String,
      sourceCol: String): DataFrame =
    graft.ops.TextStats.corpusCard(df, textCol, idCol, sourceCol)

  /** Content-defined chunks of a text column (token-level Rabin CDC). */
  def cdcChunks(text: Column, window: Int = 5, divisor: Long = 64): Column =
    graft.ops.TextStats.cdcChunks(text, window, divisor)

  /** Exploded CDC chunk table: (id, chunk_id, n_tokens, chunk_md5, chunk_text). */
  def cdcChunkTable(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64): DataFrame =
    graft.ops.Dedup.cdcChunkTable(df, textCol, idCol, window, divisor)

  /** Chunk-granular dedup removal: duplicated chunk content keeps its
    * first occurrence, docs rebuild from survivors.
    */
  def cdcDedupDocs(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64): DataFrame =
    graft.ops.Dedup.cdcDedupDocs(df, textCol, idCol, window, divisor)

  /** Incremental chunk dedup: delta docs lose corpus-owned chunks. */
  def cdcDedupDelta(corpus: DataFrame, delta: DataFrame, textCol: String,
      idCol: String, window: Int = 5, divisor: Long = 64): DataFrame =
    graft.ops.Dedup.cdcDedupDelta(corpus, delta, textCol, idCol, window, divisor)

  /** Chunk-overlap near-dup pairs (containment-scored shared CDC chunks). */
  def cdcChunkPairs(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame =
    graft.ops.Dedup.cdcChunkPairs(df, textCol, idCol, window, divisor,
      threshold, maxBucket)

  /** Cross-source duplication matrix over any (id_a, id_b) pair relation. */
  def crossSourceDupMatrix(pairs: DataFrame, meta: DataFrame,
      idCol: String, sourceCol: String): DataFrame =
    graft.ops.Dedup.crossSourceDupMatrix(pairs, meta, idCol, sourceCol)

  /** Packed training sequences: corpus concatenated in id order,
    * sliced into seqTokens-token rows (seq_id, n_tokens, seq_text).
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      seqTokens: Int): DataFrame =
    graft.ops.Packing.packSequences(df, textCol, idCol, seqTokens)

  /** Deterministic global training order: 1-based rank under the
    * salted-hash shuffle, computed as a distributed prefix count.
    */
  def trainingOrder(df: DataFrame, idCol: String,
      salt: String = "train-order"): DataFrame =
    graft.ops.Sampling.trainingOrder(df, idCol, salt)
}

package graft.spark

import graft.dict.{HighlighterOpts, ValidatorCli}
import graft.engine.{CompiledDictionary, Compiler}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DataType, StringType}

/** SQL surface: `annotate_text(textCol, '<json dictionary>')`.
  *
  * Registered either at session build time
  * (`spark.sql.extensions=graft.spark.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)`) or into a live session with
  * `GraftExtensions.install(spark)`.
  *
  * The dictionary argument must be a foldable string literal (a JSON
  * array of entry objects, reference reader format); it is compiled once
  * per distinct literal and cached process-wide. Note: unlike
  * [[SparkHighlighter]], the compiled dictionary rides in the serialized
  * expression (per task), not a broadcast — intended for the small
  * inline dictionaries SQL users write, not 80k-entry ones.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.allFunctions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => JaroWinklerPrefilterRule)
  }
}

object GraftExtensions {

  // size-bounded LRU so a service generating many distinct dictionary
  // literals can't leak compiled dictionaries indefinitely
  private val MaxCached = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, CompiledDictionary](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CompiledDictionary]): Boolean =
        size() > MaxCached
    })

  private def compileCached(json: String): CompiledDictionary =
    cache.synchronized {
      val hit = cache.get(json)
      if (hit != null) hit
      else {
        val compiled = Compiler.compile(ValidatorCli.readJsonString(json), HighlighterOpts.default)
        cache.put(json, compiled)
        compiled
      }
    }

  val annotateTextFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("annotate_text"),
    new ExpressionInfo(classOf[AnnotateLocalExpression].getName, "annotate_text",
      "annotate_text(text, dictionaryJson) - annotations of `text` against the JSON dictionary"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "annotate_text expects (text, dictionaryJson literal)")
      val json = children(1) match {
        case Literal(v, StringType) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"annotate_text dictionary must be a string literal, got: $other")
      }
      AnnotateLocalExpression(children.head, json)
    })

  val simhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimhashExpression].getName, "graft_simhash",
      "graft_simhash(text) - 64-bit SimHash of whitespace tokens"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_simhash expects (text)")
      SimhashExpression(children.head)
    })

  val fingerprintFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_fingerprint"),
    new ExpressionInfo(classOf[FingerprintExpression].getName, "graft_fingerprint",
      "graft_fingerprint(text[, window]) - min rolling-window token-hash fingerprint"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_fingerprint expects (text[, window literal])")
      val window = if (children.length == 2) children(1) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"graft_fingerprint window must be an integer literal, got: $other")
      } else 5
      FingerprintExpression(children.head, window)
    })

  val shingleHashesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingle_hashes"),
    new ExpressionInfo(classOf[ShingleHashesExpression].getName, "graft_shingle_hashes",
      "graft_shingle_hashes(text[, n]) - sorted distinct 64-bit hashes of word n-gram shingles"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_shingle_hashes expects (text[, n literal])")
      val n = if (children.length == 2) children(1) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"graft_shingle_hashes n must be an integer literal, got: $other")
      } else 3
      ShingleHashesExpression(children.head, n)
    })

  val repetitionCountsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_repetition_counts"),
    new ExpressionInfo(classOf[RepetitionCountsExpression].getName, "graft_repetition_counts",
      "graft_repetition_counts(text) - [n_words, n_distinct_words, sum_word_chars, " +
        "n_bigrams, top_bigram_count, dup_bigram_occurrences]"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_repetition_counts expects (text)")
      RepetitionCountsExpression(children.head)
    })

  val pslDomainFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_domain"),
    new ExpressionInfo(classOf[PslDomainExpression].getName, "graft_domain",
      "graft_domain(host) - registered domain per the compiled public-suffix-list snapshot"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_domain expects (host)")
      PslDomainExpression(children.head)
    })

  val normalizeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_normalize"),
    new ExpressionInfo(classOf[NormalizeFormExpression].getName, "graft_normalize",
      "graft_normalize(text[, form]) - Unicode normalization (NFC default; NFD/NFKC/NFKD)"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_normalize expects (text[, form literal])")
      val form = if (children.length == 2) children(1) match {
        case Literal(v, StringType) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"graft_normalize form must be a string literal, got: $other")
      } else "NFC"
      NormalizeFormExpression(children.head, form)
    })

  val fixMojibakeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_fix_mojibake"),
    new ExpressionInfo(classOf[FixMojibakeExpression].getName, "graft_fix_mojibake",
      "graft_fix_mojibake(text) - invert up to two rounds of UTF-8-read-as-Latin-1 mojibake"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_fix_mojibake expects (text)")
      FixMojibakeExpression(children.head)
    })

  val jaroWinklerFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinklerExpression].getName, "graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler name similarity (prefix-boosted, window-matched)"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_jaro_winkler expects (a, b)")
      JaroWinklerExpression(children.head, children(1))
    })

  val byteJaccardFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_byte_jaccard"),
    new ExpressionInfo(classOf[ByteJaccardExpression].getName, "graft_byte_jaccard",
      "graft_byte_jaccard(a, b) - byte-set Jaccard similarity over the UTF-8 encodings"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_byte_jaccard expects (a, b)")
      ByteJaccardExpression(children.head, children(1))
    })

  val langIdFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lang_id"),
    new ExpressionInfo(classOf[LangIdExpression].getName, "graft_lang_id",
      "graft_lang_id(text) - two-tier language ID (CJK/Cyrillic script, 11-language stopword sets)"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_lang_id expects (text)")
      LangIdExpression(children.head)
    })

  val cdcChunksFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cdc_chunks"),
    new ExpressionInfo(classOf[CdcChunksExpression].getName, "graft_cdc_chunks",
      "graft_cdc_chunks(text[, window[, divisor]]) - content-defined chunks " +
        "(Rabin CDC over token windows; divisor a power of two, expected chunk ~divisor tokens)"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 3,
        "graft_cdc_chunks expects (text[, window literal[, divisor literal]])")
      def intLit(i: Int, what: String): Long = children(i) match {
        case Literal(v, _) if v != null => v.toString.toLong
        case other => throw new IllegalArgumentException(
          s"graft_cdc_chunks $what must be an integer literal, got: $other")
      }
      val window = if (children.length >= 2) intLit(1, "window").toInt else 5
      val divisor = if (children.length == 3) intLit(2, "divisor") else 64L
      require(divisor >= 2 && (divisor & (divisor - 1)) == 0,
        s"graft_cdc_chunks divisor must be a power of two >= 2: $divisor")
      CdcChunksExpression(children.head, window, divisor)
    })

  val windowHashesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_window_hashes"),
    new ExpressionInfo(classOf[WindowHashesExpression].getName, "graft_window_hashes",
      "graft_window_hashes(text[, window]) - all rolling window-token hashes " +
        "(the set graft_fingerprint minimizes over)"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_window_hashes expects (text[, window literal])")
      val window = if (children.length == 2) children(1) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"graft_window_hashes window must be an integer literal, got: $other")
      } else 5
      WindowHashesExpression(children.head, window)
    })

  val compressionRatioFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_compression_ratio"),
    new ExpressionInfo(classOf[CompressionRatioExpression].getName, "graft_compression_ratio",
      "graft_compression_ratio(text) - deflate bytes / utf8 bytes; null for empty text"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_compression_ratio expects (text)")
      CompressionRatioExpression(children.head)
    })

  val ngramRepetitionFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ngram_repetition"),
    new ExpressionInfo(classOf[NgramRepetitionExpression].getName, "graft_ngram_repetition",
      "graft_ngram_repetition(text, n) - [n_ngrams, top_ngram_count, dup_ngram_occurrences]"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_ngram_repetition expects (text, n literal)")
      val n = children(1) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"graft_ngram_repetition n must be an integer literal, got: $other")
      }
      NgramRepetitionExpression(children.head, n)
    })

  /** The single source of truth for the SQL surface: `apply()`
    * (spark.sql.extensions) and [[install]] register exactly this list,
    * so the two paths can't drift (r7 ADVICE: apply() was missing
    * graft_fix_mojibake).
    */
  val allFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(annotateTextFunction, simhashFunction, fingerprintFunction,
      shingleHashesFunction, repetitionCountsFunction, pslDomainFunction,
      normalizeFunction, fixMojibakeFunction, langIdFunction,
      jaroWinklerFunction, byteJaccardFunction,
      cdcChunksFunction, windowHashesFunction,
      compressionRatioFunction, ngramRepetitionFunction)

  /** Register into an already-running session. */
  def install(spark: SparkSession): Unit = {
    allFunctions.foreach {
      case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // already-running sessions get the optimizer rule via the
    // experimental hook (idempotent — mirrors apply()'s injection)
    if (!spark.experimental.extraOptimizations.contains(JaroWinklerPrefilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ JaroWinklerPrefilterRule
  }

  private[spark] def compiledFor(json: String): CompiledDictionary = compileCached(json)
}

/** Like [[AnnotateExpression]] but self-contained: the dictionary JSON is
  * part of the expression (compiled lazily + cached per JVM), so the
  * expression survives plan serialization without a SparkContext.
  */
final case class AnnotateLocalExpression(child: Expression, dictJson: String)
  extends DictionaryExpression {

  @transient private lazy val compiled: CompiledDictionary =
    GraftExtensions.compiledFor(dictJson)

  override def dataType: DataType = AnnotateExpression.outputType
  override def nullable: Boolean = false
  override def prettyName: String = "annotate_text"

  override protected def withNewChildInternal(newChild: Expression): AnnotateLocalExpression =
    copy(child = newChild)

  def evalText(s: org.apache.spark.unsafe.types.UTF8String): Any =
    if (s == null) AnnotateExpression.evalEmpty
    else AnnotateExpression.toCatalyst(compiled.matchDoc(s.toString))
}

package graft.api

import graft.dict.{Annotation, DictionaryEntry, HighlighterOpts}
import graft.engine.{CompiledDictionary, Compiler}

import scala.jdk.CollectionConverters._

/** Thin Java-interop facade mirroring the reference's
  * `lt.tokenmill.beagle.phrases.Annotator` (`java/java.clj:79-120`):
  * construct with a collection of entries + string-keyed options map,
  * call `annotate`. Option keys use the reference's kebab names
  * ("type-name", "case-sensitive?", ...). Thread-safe after
  * construction: the compiled dictionary is immutable, so one instance
  * can serve any number of threads, like the reference's shared Monitor.
  */
final class Annotator(
    dictionary: java.util.Collection[DictionaryEntry],
    opts: java.util.Map[String, AnyRef]) {

  def this(dictionary: java.util.Collection[DictionaryEntry]) =
    this(dictionary, java.util.Collections.emptyMap[String, AnyRef]())

  private val options: Map[String, AnyRef] = opts.asScala.toMap

  private def strOpt(k: String): Option[String] =
    options.get(k).map(_.toString).filter(_.trim.nonEmpty)
  private def boolOpt(k: String): Option[Boolean] = options.get(k).map {
    case b: java.lang.Boolean => b.booleanValue()
    case s                    => java.lang.Boolean.parseBoolean(s.toString)
  }
  private def longOpt(k: String): Option[Long] = options.get(k).collect {
    case n: java.lang.Number => n.longValue()
  }

  private val compiled: CompiledDictionary = Compiler.compile(
    dictionary.asScala.toSeq,
    HighlighterOpts(
      typeName = strOpt("type-name"),
      validateDictionary = boolOpt("validate-dictionary?").getOrElse(false),
      optimizeDictionary = boolOpt("optimize-dictionary?").getOrElse(false),
      tokenizer = strOpt("tokenizer"),
      caseSensitive = boolOpt("case-sensitive?"),
      asciiFold = boolOpt("ascii-fold?"),
      stem = boolOpt("stem?"),
      stemmer = strOpt("stemmer"),
      slop = longOpt("slop"),
      inOrder = boolOpt("in-order?")))

  def annotate(text: String): java.util.List[Annotation] =
    compiled.matchDoc(text).asJava

  def annotate(text: String, callOpts: java.util.Map[String, AnyRef]): java.util.List[Annotation] = {
    val merge = Option(callOpts.get("merge-annotations?")).exists {
      case b: java.lang.Boolean => b.booleanValue()
      case s                    => java.lang.Boolean.parseBoolean(s.toString)
    }
    compiled.matchDocMerged(text, merge).asJava
  }
}

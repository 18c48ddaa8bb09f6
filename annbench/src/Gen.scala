package annbench

import graft.dict.DictionaryEntry

import java.util.SplittableRandom
import scala.collection.mutable

/** A planted dictionary phrase: `entryId` must annotate `[begin, end)` of doc `doc`. */
final case class Planted(doc: Int, entryId: String, begin: Int, end: Int)

/** Generated documents plus the exact phrases planted in them. */
final case class Corpus(docs: Array[String], planted: Array[Planted])

/** Parameters of one workload's inputs. Densities are per token, so they
  * stay the same whatever the dictionary size.
  */
final case class GenSpec(
    vocabSize: Int,
    dictSize: Int,
    mixed: Boolean,
    docs: Int,
    medianTokens: Int,
    lenSigma: Double,
    plantPerToken: Double,
    longTokenShare: Double)

/** Seeded input generator: one seed gives the same vocabulary,
  * dictionary and documents on every host.
  *
  * - The vocabulary is drawn from a Zipf law over `vocabSize` invented
  *   words; `vocabSize` exceeds the engine's 65,536-entry per-thread fuzzy
  *   memo, so the memo sees misses as real text gives it.
  * - Document lengths are log-normal around `medianTokens`.
  * - Dictionary phrases are planted at `plantPerToken`; the exact ones are
  *   recorded with their offsets for the correctness check.
  * - A `longTokenShare` of tokens are long base64-like strings.
  */
final class Gen(seed: Long, spec: GenSpec) {
  import Gen._

  private val rnd = new SplittableRandom(seed)

  /** Word of rank r has `wordLength(r)` letters, the same for every seed
    * (frequent words are short), so seeds differ in which words occur,
    * not in what they cost to analyze and probe.
    */
  val vocab: Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](spec.vocabSize)
    var i = 0
    while (i < out.length) {
      val n = wordLength(i)
      val sb = new StringBuilder(n)
      var k = 0
      while (k < n) {
        val letters = if (k % 2 == 0) Consonants else Vowels
        sb += letters.charAt(rnd.nextInt(letters.length))
        k += 1
      }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Cumulative Zipf(s = 1) weights over vocabulary ranks. */
  private val zipfCdf: Array[Double] = {
    val c = new Array[Double](vocab.length)
    var acc = 0.0
    var r = 0
    while (r < c.length) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    r = 0
    while (r < c.length) { c(r) /= acc; r += 1 }
    c
  }

  private def zipfRank(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocab.length - 1)
  }

  /** Dictionary words skip the most frequent ranks, as stop words are
    * rarely phrase terms; below that they follow the corpus Zipf law, so
    * common words anchor many entries.
    */
  private def dictWord(): String = {
    var r = zipfRank()
    while (r < StopRanks) r = zipfRank()
    vocab(r)
  }

  /** Entry texts, distinct. 70% two words, 30% three. */
  val dictTexts: Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](spec.dictSize)
    var i = 0
    while (i < out.length) {
      val n = if (rnd.nextInt(10) < 7) 2 else 3
      val t = Array.fill(n)(dictWord()).mkString(" ")
      if (seen.add(t)) { out(i) = t; i += 1 }
    }
    out
  }

  /** The dictionary. With `mixed`, entry `i` takes the config of
    * `Bench.benchDictMixed` by `i % 20`: stem, case-insensitive, slop 1,
    * slop 2 in order, synonym, fuzzy 1, or plain.
    */
  def dictionary: Seq[DictionaryEntry] = dictTexts.indices.map(entry)

  def entry(i: Int): DictionaryEntry = {
    val e = DictionaryEntry(dictTexts(i), id = Some(s"e$i"))
    if (!spec.mixed) e
    else family(i) match {
      case Stem    => e.copy(stem = Some(true))
      case Caseless => e.copy(caseSensitive = Some(false))
      case Slop1   => e.copy(slop = Some(1))
      case Slop2   => e.copy(slop = Some(2), inOrder = Some(true))
      case Synonym => e.copy(synonyms = Seq(e.text.split(" ").reverse.mkString(" ")))
      case Fuzzy   => e.copy(fuzzy = Some(true), fuzziness = Some(1))
      case _       => e
    }
  }

  def family(i: Int): Int = if (spec.mixed) FamilyOf(i % 20) else Plain

  /** True when entry `i` matches its own text verbatim and nothing but
    * it: the planted copies the check must find at their offsets.
    */
  def exact(i: Int): Boolean = family(i) == Plain || family(i) == Synonym

  /** Document lengths in tokens: log-normal draws from a fixed stream,
    * dealt to documents in a seeded order, so every seed has the same
    * length distribution.
    */
  private val lengths: Array[Int] = {
    val fixed = new SplittableRandom(LengthSeed)
    val ls = Array.fill(spec.docs) {
      // Box-Muller; SplittableRandom has no nextGaussian
      val u = 1.0 - fixed.nextDouble()
      val g = math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * fixed.nextDouble())
      math.max(3, math.min(MaxTokens, math.round(spec.medianTokens * math.exp(spec.lenSigma * g)).toInt))
    }
    var i = ls.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = ls(i); ls(i) = ls(j); ls(j) = t
      i -= 1
    }
    ls
  }

  private def longToken(): String = {
    val n = 40 + rnd.nextInt(120)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Base64ish.charAt(rnd.nextInt(Base64ish.length)); i += 1 }
    sb.toString
  }

  private def word(): String = {
    val w = vocab(zipfRank())
    rnd.nextInt(100) match {
      case k if k < 8  => w.capitalize
      case k if k < 20 => w + Suffixes(rnd.nextInt(Suffixes.length))
      case _           => w
    }
  }

  /** The surface a planted copy of entry `i` takes: verbatim for exact
    * entries; for the other families a variant that only that family's
    * matcher accepts (an inflection, a capital, an inserted word, a
    * one-letter edit), so verification does useful work too.
    */
  private def plantedSurface(i: Int): String = {
    val ws = dictTexts(i).split(" ")
    family(i) match {
      case Stem     => ws.init.mkString(" ") + " " + ws.last + "s"
      case Caseless => ws.map(_.toUpperCase).mkString(" ")
      case Slop1    => (ws.head +: vocab(zipfRank()) +: ws.tail).mkString(" ")
      case Slop2    => (ws.head +: vocab(zipfRank()) +: vocab(zipfRank()) +: ws.tail).mkString(" ")
      case Fuzzy    =>
        val w = ws.last
        val k = rnd.nextInt(w.length)
        val c = if (w.charAt(k) == 'z') 'y' else (w.charAt(k) + 1).toChar
        ws.init.mkString(" ") + " " + w.substring(0, k) + c + w.substring(k + 1)
      case _ => ws.mkString(" ")
    }
  }

  /** `extra(d)` is appended to doc `d` (the stream workload's beacon). */
  def corpus(extra: Int => String = _ => ""): Corpus = {
    val docs = new Array[String](spec.docs)
    val planted = mutable.ArrayBuffer.empty[Planted]
    val sb = new StringBuilder
    var d = 0
    while (d < docs.length) {
      sb.setLength(0)
      val n = lengths(d)
      var t = 0
      while (t < n) {
        if (t > 0) sb ++= (if (rnd.nextInt(12) == 0) ", " else " ")
        if (rnd.nextDouble() < spec.plantPerToken) {
          val i = rnd.nextInt(dictTexts.length)
          val begin = sb.length
          sb ++= plantedSurface(i)
          if (exact(i)) planted += Planted(d, s"e$i", begin, sb.length)
          t += dictTexts(i).count(_ == ' ') + 1
        } else {
          sb ++= (if (rnd.nextDouble() < spec.longTokenShare) longToken() else word())
          t += 1
        }
      }
      sb ++= extra(d)
      docs(d) = sb.toString
      d += 1
    }
    Corpus(docs, planted.toArray)
  }
}

object Gen {
  /** The engine's per-thread fuzzy memo size (`CompiledDictionary`). */
  val FuzzyMemoEntries = 65536

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"
  private val Base64ish = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private val Suffixes = Array("s", "ed", "ing")
  private val StopRanks = 100
  private val MaxTokens = 4000
  private val LengthSeed = 0x1e4917L

  /** 3 letters for the most frequent words, growing with log rank to 11
    * at rank 200,000.
    */
  def wordLength(rank: Int): Int = 3 + (0.5 * math.log(rank + 2.0) / math.log(2)).toInt

  val Plain = 0
  val Stem = 1
  val Caseless = 2
  val Slop1 = 3
  val Slop2 = 4
  val Synonym = 5
  val Fuzzy = 6
  val FamilyNames: Array[String] =
    Array("plain", "stem", "caseless", "slop1", "slop2", "synonym", "fuzzy")

  private val FamilyOf: Array[Int] = Array.tabulate(20) {
    case 0 | 5 | 10 | 15 => Stem
    case 1 | 6 | 11 | 16 => Caseless
    case 2 | 12          => Slop1
    case 7 | 17          => Slop2
    case 3 | 8 | 13 | 18 => Synonym
    case 4               => Fuzzy
    case _               => Plain
  }
}

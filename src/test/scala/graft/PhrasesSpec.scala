package graft

import graft.dict.{Annotation, DictionaryEntry => DE, HighlighterOpts => HO}
import graft.engine.Compiler
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's `phrases_test.clj` (the behavior spec). */
class PhrasesSpec extends AnyFunSuite {

  private val label = "LABEL"
  private def hl(dict: Seq[DE], opts: HO = HO(typeName = Some(label))): String => Seq[Annotation] =
    Compiler.compile(dict, opts).matchDoc

  test("dictionary entry record (phrases_test.clj:23-27)") {
    val anns = hl(Seq(DE("test")))("before annotated test phrase after annotated")
    assert(anns.size == 1)
  }

  test("type per dictionary entry (:29-38)") {
    val anns = hl(Seq(DE("test phrase", id = Some("1"), meta = Map("test" -> "test"),
      entryType = Some("CUSTOM"))))("before annotated test phrase after annotated")
    assert(anns.nonEmpty)
    assert(anns.head.dictEntryId == "1")
    assert(anns.head.annType == "CUSTOM")
    assert(anns.head.text == "test phrase")
    assert(!anns.head.meta.contains("_type"))
  }

  test("id and default type (:40-46)") {
    val anns = hl(Seq(DE("test", id = Some("1"), meta = Map("test" -> "test"))))(
      "before annotated test after annotated")
    assert(anns.head.dictEntryId == "1")
    assert(anns.head.annType == "LABEL")
  }

  test("metadata append (:48-53)") {
    val anns = hl(Seq(DE("test", meta = Map("email" -> "test@example.com"))))(
      "before annotated test after annotated")
    assert(anns.head.meta == Map("email" -> "test@example.com"))
  }

  test("case sensitivity (:55-79)") {
    assert(hl(Seq(DE("test")))("before annotated test after annotated").nonEmpty)
    assert(hl(Seq(DE("TeSt", caseSensitive = Some(true))))(
      "before annotated test after annotated").isEmpty)
    assert(hl(Seq(DE("test", caseSensitive = Some(true))))(
      "before annotated Test after annotated").isEmpty)
    assert(hl(Seq(DE("TeSt", caseSensitive = Some(false))))(
      "before annotated test after annotated").nonEmpty)
    assert(hl(Seq(DE("test", caseSensitive = Some(false))))(
      "before annotated test after annotated").nonEmpty)
  }

  test("ascii folding (:81-103)") {
    assert(hl(Seq(DE("wörd")))("before annotated wörd after annotated").nonEmpty)
    assert(hl(Seq(DE("wörd")))("before annotated word after annotated").isEmpty)
    assert(hl(Seq(DE("wörd", asciiFold = Some(true))))(
      "before annotated word after annotated").nonEmpty)
    assert(hl(Seq(DE("word", asciiFold = Some(true))))(
      "before annotated wörd after annotated").nonEmpty)
    assert(hl(Seq(DE("word", asciiFold = Some(false))))(
      "before annotated wörd after annotated").isEmpty)
  }

  test("ascii folding with case sensitivity (:105-139)") {
    assert(hl(Seq(DE("schön", asciiFold = Some(true))))(
      "before annotated Schön after annotated").isEmpty)
    assert(hl(Seq(DE("Schön", asciiFold = Some(true))))(
      "before annotated Schon after annotated").nonEmpty)
    assert(hl(Seq(DE("schön", asciiFold = Some(true))))(
      "before annotated Schon after annotated").isEmpty)
    assert(hl(Seq(DE("schön", asciiFold = Some(true), caseSensitive = Some(false))))(
      "before annotated Schon after annotated").nonEmpty)
    assert(hl(Seq(DE("schön", asciiFold = Some(true), caseSensitive = Some(false))))(
      "before annotated schon after annotated").nonEmpty)
    assert(hl(Seq(DE("schon", asciiFold = Some(true), caseSensitive = Some(false))))(
      "before annotated schön after annotated").nonEmpty)
    assert(hl(Seq(DE("schon", asciiFold = Some(false))))(
      "before annotated schön after annotated").isEmpty)
  }

  test("synonyms (:141-170)") {
    val anns = hl(Seq(DE("test", id = Some("1"), synonyms = Seq("beagle"))))(
      "before annotated beagle after annotated")
    assert(anns.size == 1)
    assert(anns.head.dictEntryId == "1")
    assert(anns.head.text == "beagle")

    assert(hl(Seq(DE("test", id = Some("1"), synonyms = Seq("Luwak"),
      caseSensitive = Some(true))))("before annotated beagle after annotated").isEmpty)

    val anns2 = hl(Seq(DE("test", id = Some("1"), synonyms = Seq("beagle"),
      caseSensitive = Some(false))))("before annotated beagle after annotated")
    assert(anns2.size == 1 && anns2.head.dictEntryId == "1" && anns2.head.text == "beagle")

    assert(hl(Seq(DE("test", synonyms = Seq("schön"), asciiFold = Some(false))))(
      "before annotated schon after annotated").isEmpty)
    val anns3 = hl(Seq(DE("test", synonyms = Seq("schön"), asciiFold = Some(true))))(
      "before annotated schon after annotated")
    assert(anns3.nonEmpty && anns3.head.text == "schon")
  }

  test("phrase end sentence + quotes (:172-190)") {
    val a1 = hl(Seq(DE("test-test")), HO())("before annotated test-test.")
    assert(a1.nonEmpty && a1.head.text == "test-test")
    val a2 = hl(Seq(DE("test-test", caseSensitive = Some(false))), HO())(
      "before annotated \"TEST-test\".")
    assert(a2.nonEmpty && a2.head.text == "TEST-test")
    val a3 = hl(Seq(DE("test-test", caseSensitive = Some(false))),
      HO(tokenizer = Some("whitespace")))("before annotated \"TEST-test\".")
    assert(a3.isEmpty)
  }

  test("overlapping phrases (:192-196)") {
    val anns = hl(Seq(DE("test phrase test", caseSensitive = Some(false))),
      HO(tokenizer = Some("whitespace")))("start test phrase test phrase test end")
    assert(anns.size == 2)
  }

  test("lt stemming (:198-213)") {
    val a1 = hl(Seq(DE("Kaunas", id = Some("1"), stem = Some(true),
      stemmer = Some("lithuanian"))), HO())("Kauno miestas")
    assert(a1.nonEmpty && a1.head.text == "Kauno")
    val a2 = hl(Seq(DE("Kaunas Vilnius", id = Some("1"), stem = Some(true),
      stemmer = Some("lithuanian"))), HO())("Kaunas, Vilnius")
    assert(a2.nonEmpty && a2.head.text == "Kaunas, Vilnius")
    val a3 = hl(Seq(DE("Kaunas", id = Some("1"), caseSensitive = Some(false),
      stem = Some(true), stemmer = Some("lithuanian"))), HO())("kauno miestas")
    assert(a3.nonEmpty && a3.head.text == "kauno")
  }

  test("en stemming (:215-234)") {
    val txt = "who let the dogs out?"
    assert(hl(Seq(DE("dog", id = Some("1"))), HO())(txt).isEmpty)
    val a = hl(Seq(DE("dog", id = Some("1"), stem = Some(true))), HO())(txt)
    assert(a.nonEmpty && a.head.text == "dogs")
    val b = hl(Seq(DE("dog", id = Some("1"), stem = Some(true),
      stemmer = Some("english"))), HO())(txt)
    assert(b.nonEmpty && b.head.text == "dogs")
    assert(hl(Seq(DE("dog", id = Some("1"), stem = Some(true),
      stemmer = Some("estonian"))), HO())(txt).isEmpty)
  }

  test("exact snowball stemmers drive matching end-to-end (de/ru/fr/es)") {
    // stemmed dictionary form matches the inflected document form and the
    // annotation text is the DOCUMENT surface, like the reference's
    // lt/en stemming tests (:198-234)
    def m(lang: String, dictWord: String, doc: String, expect: String): Unit = {
      val a = hl(Seq(DE(dictWord, id = Some("1"), stem = Some(true),
        stemmer = Some(lang), caseSensitive = Some(false))), HO())(doc)
      assert(a.nonEmpty && a.head.text == expect, s"$lang: $a")
    }
    m("german", "Haus", "die häuser dort", "häuser")
    m("german", "möglichkeit", "viele möglichkeiten offen", "möglichkeiten")
    m("russian", "книга", "много книгами тут", "книгами")
    m("french", "national", "les nationaux ici", "nationaux")
    m("spanish", "trabajador", "los trabajadores aquí", "trabajadores")
    m("finnish", "talo", "kaksi taloissa nyt", "taloissa")
    m("hungarian", "ház", "a házakat ott", "házakat")
    m("turkish", "kitap", "eski kitapları al", "kitapları")
    // different-language stemmer must NOT conflate the same pair
    val none = hl(Seq(DE("Haus", id = Some("1"), stem = Some(true),
      stemmer = Some("french"), caseSensitive = Some(false))), HO())("die häuser dort")
    assert(none.isEmpty)
  }

  test("mixed stemmers (:236-242)") {
    val anns = hl(Seq(
      DE("Sabonis", id = Some("1"), stem = Some(true), stemmer = Some("lithuanian")),
      DE("play", id = Some("2"), stem = Some(true), stemmer = Some("english"))), HO())(
      "Saboniai plays basketball")
    assert(anns.size == 2)
  }

  test("phrase slop (:244-280)") {
    val a1 = hl(Seq(DE("start end", id = Some("1"), slop = Some(1))), HO())(
      "before start and end after")
    assert(a1.size == 1 && a1.head.text == "start and end")

    assert(hl(Seq(DE("start NOPE end", id = Some("1"), slop = Some(10))), HO())(
      "before start end after").isEmpty)

    val a2 = hl(Seq(DE("start phrase end phrase", id = Some("1"), slop = Some(1))), HO())(
      "before start phrase and end phrase after")
    assert(a2.size == 1 && a2.head.text == "start phrase and end phrase")

    assert(hl(Seq(DE("end start", id = Some("1"), slop = Some(0))), HO())(
      "before start end after").isEmpty)
    val a3 = hl(Seq(DE("end start", id = Some("1"), slop = Some(2))), HO())(
      "before start end after")
    assert(a3.size == 1 && a3.head.text == "start end")

    assert(hl(Seq(DE("end start foo", id = Some("1"), slop = Some(100))), HO())(
      "before start end after").isEmpty)
  }

  test("dictionary corner cases (:282-327)") {
    val a1 = hl(Seq(DE("."), DE("text")), HO(tokenizer = Some("whitespace")))(
      "Some text to test .")
    assert(a1.size == 2)
    val a2 = hl(Seq(DE("<html></html>"), DE("text")), HO())("Some text to test.")
    assert(a2.nonEmpty)
    // noisy: "." analyzes to nothing under standard tokenizer -> discarded
    val a3 = hl(Seq(DE("."), DE("text")), HO())("Some text to test.")
    assert(a3.size == 1)
    assert(hl(Seq(DE("test", id = Some("1"))), HO())(" `  `").isEmpty)
    assert(hl(Seq(DE("end start foo", id = Some("1"), slop = None)), HO())(
      "before start end after").isEmpty)
    assert(hl(Seq(DE("end start foo", id = Some("1"), slop = Some(1000000000000L))), HO())(
      "before start end after").isEmpty)
    assert(hl(Seq(DE("end start foo", id = Some("1"), slop = Some(-1))), HO())(
      "before start end after").isEmpty)
  }

  test("tokenizer per entry (:329-344)") {
    val a1 = hl(Seq(
      DE("URGENT", id = Some("a"), tokenizer = Some("whitespace")),
      DE("URGENT", id = Some("b"), tokenizer = Some("standard"))), HO())(
      "URGENT! Do this immediately!")
    assert(a1.size == 1 && a1.head.dictEntryId == "b")

    val a2 = hl(Seq(
      DE("[URGENT!]", id = Some("a"), tokenizer = Some("whitespace")),
      DE("[URGENT!]", id = Some("b"), tokenizer = Some("standard"))), HO())(
      "[URGENT!] Do this immediately!")
    assert(a2.size == 2)
    assert(a2.find(_.dictEntryId == "a").get.text == "[URGENT!]")
    assert(a2.find(_.dictEntryId == "b").get.text == "URGENT")
  }

  test("phrase ordering basic (:346-361)") {
    assert(hl(Seq(DE("Token Mill", slop = Some(2), inOrder = Some(false))), HO())(
      "Mill Token").size == 1)
    assert(hl(Seq(DE("Token Mill", slop = Some(2), inOrder = Some(true))), HO())(
      "Mill Token").isEmpty)
    assert(hl(Seq(DE("Token Mill")), HO())("Mill Token").isEmpty)
    assert(hl(Seq(DE("Token Mill")), HO(slop = Some(2)))("Mill Token").size == 1)
    assert(hl(Seq(DE("Token Mill")), HO(slop = Some(2), inOrder = Some(true)))(
      "Mill Token").isEmpty)
  }

  test("ordered phrase single term (:363-365)") {
    assert(hl(Seq(DE("phrase", slop = Some(2), inOrder = Some(true))), HO())(
      "prefix phrase suffix").size == 1)
  }

  test("ordered phrase equal terms front/end (:367-379)") {
    val a1 = hl(Seq(DE("phrase phrase", slop = Some(2), inOrder = Some(true))), HO())(
      "prefix phrase phrase suffix")
    assert(a1.size == 1)
    assert(a1.head.text == "phrase phrase")
    assert(a1.head.beginOffset == 7 && a1.head.endOffset == 20)

    val a2 = hl(Seq(DE("phrase and phrase", slop = Some(2), inOrder = Some(true))), HO())(
      "prefix phrase and phrase suffix")
    assert(a2.size == 1)
    assert(a2.head.text == "phrase and phrase")
    assert(a2.head.beginOffset == 7 && a2.head.endOffset == 24)
  }

  test("ordered ambiguous phrase (:381-412)") {
    val a1 = hl(Seq(DE("phrase phrase end", slop = Some(10), inOrder = Some(true))), HO())(
      "prefix phrase phrase end suffix")
    assert(a1.size == 1 && a1.head.text == "phrase phrase end")
    assert(a1.head.beginOffset == 7 && a1.head.endOffset == 24)

    val a2 = hl(Seq(DE("phrase phrase end", slop = Some(10), inOrder = Some(true))), HO())(
      "prefix phrase phrase end end suffix")
    assert(a2.size == 1 && a2.head.text == "phrase phrase end")
    assert(a2.head.beginOffset == 7 && a2.head.endOffset == 24)

    val a3 = hl(Seq(DE("phrase phrase end", slop = Some(1), inOrder = Some(true))), HO())(
      "prefix phrase phrase a phrase end suffix")
    assert(a3.size == 1 && a3.head.text == "phrase a phrase end")
    assert(a3.head.beginOffset == 14 && a3.head.endOffset == 33)

    val a4 = hl(Seq(DE("phrase end end", slop = Some(1), inOrder = Some(true))), HO())(
      "prefix phrase phrase end end suffix")
    assert(a4.size == 1 && a4.head.text == "phrase phrase end end")
    assert(a4.head.beginOffset == 7 && a4.head.endOffset == 28)

    val a5 = hl(Seq(DE("phrase end end", slop = Some(1), inOrder = Some(true))), HO())(
      "prefix phrase phrase end end X X phrase phrase end end suffix")
    assert(a5.size == 2)
    assert(a5.head.text == "phrase phrase end end")
    assert(a5.head.beginOffset == 7 && a5.head.endOffset == 28)
  }

  test("complicated ordering incl. reference FIXME (:414-424)") {
    val anns = hl(Seq(DE("phrase phrase end", slop = Some(10), inOrder = Some(true))), HO())(
      "prefix phrase phrase end phrase end suffix")
    assert(anns.size == 2)
    val sorted = anns.sortBy(_.beginOffset)
    assert(sorted(0).text == "phrase phrase end")
    assert(sorted(0).beginOffset == 7 && sorted(0).endOffset == 24)
    // the reference's own FIXME: trailing partial span annotated
    assert(sorted(1).text == "phrase end")
    assert(sorted(1).beginOffset == 25 && sorted(1).endOffset == 35)
  }

  test("preserve order edge cases (:426-452)") {
    assert(hl(Seq(DE("Token Mill", slop = Some(3), inOrder = Some(false))), HO())(
      "Prefix Token Mill Infix Token a Mill Suffix").size == 3)
    assert(hl(Seq(DE("Token Mill", slop = Some(1), inOrder = Some(true))), HO())(
      "Prefix Token Mill Infix Token a Mill Suffix").size == 2)
    assert(hl(Seq(DE("Token Mill", slop = Some(0), inOrder = Some(true))), HO())(
      "Prefix Token Mill Infix Token a Mill Suffix").size == 1)

    val hs = hl(Seq(DE("Token Mill", slop = Some(1), inOrder = Some(true),
      meta = Map("test" -> "test"))), HO())(
      "Prefix Token Mill Infix Token a Mill Suffix")
    assert(hs.size == 2)
    val first = hs.minBy(_.beginOffset)
    assert(first.text == "Token Mill" && first.beginOffset == 7 && first.endOffset == 17)
    assert(first.meta == Map("test" -> "test"))
    assert(first.annType == "PHRASE")
    val second = hs.maxBy(_.beginOffset)
    assert(second.text == "Token a Mill" && second.beginOffset == 24 && second.endOffset == 36)
  }

  test("annotator options (:454-492)") {
    assert(hl(Seq(DE("phrase")), HO())("prefix PHRASE suffix").isEmpty)
    assert(hl(Seq(DE("phrase")), HO(caseSensitive = Some(false)))(
      "prefix PHRASE suffix").size == 1)
    assert(hl(Seq(DE("phrase")), HO())("prefix PHRÄSE suffix").isEmpty)
    assert(hl(Seq(DE("phrase")), HO(caseSensitive = Some(false), asciiFold = Some(true)))(
      "prefix PHRÄSE suffix").size == 1)
    assert(hl(Seq(DE("phrase")), HO())("prefix PHRASES suffix").isEmpty)
    assert(hl(Seq(DE("phrase")), HO(caseSensitive = Some(false), stem = Some(true),
      stemmer = Some("english")))("prefix PHRASES suffix").size == 1)
  }

  test("fuzzy phrases (:494-521)") {
    val a1 = hl(Seq(DE("token mill", fuzzy = Some(true), fuzziness = Some(1))), HO())(
      "prefix tokne mill suffix")
    assert(a1.size == 1 && a1.head.text == "tokne mill")

    assert(hl(Seq(DE("token mill", fuzzy = Some(true), fuzziness = Some(1))), HO())(
      "prefix mill tokne suffix").isEmpty)

    assert(hl(Seq(DE("mill token", fuzzy = Some(true), fuzziness = Some(1),
      inOrder = Some(true))), HO())("prefix tokne mill suffix").isEmpty)

    val a2 = hl(Seq(DE("token mill", fuzzy = Some(true), fuzziness = Some(1),
      inOrder = Some(false))), HO())("prefix mill tokne suffix")
    assert(a2.size == 1 && a2.head.text == "mill tokne")

    assert(hl(Seq(DE("mill token", fuzzy = Some(true), fuzziness = Some(1),
      inOrder = Some(false))), HO())("prefix tokne uab mill suffix").isEmpty)
  }

  test("blank text guard") {
    assert(hl(Seq(DE("test")))(" ").isEmpty)
    assert(hl(Seq(DE("test")))("").isEmpty)
  }
}

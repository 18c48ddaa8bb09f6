package graft

import graft.dict.{DictionaryEntry => DE, Edn, HighlighterOpts => HO, ValidatorCli}
import graft.engine.Compiler
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Corner-case regression (corner_case_phrases_test.clj), Java-facade
  * smoke (java_test.clj), EDN/validator ports, and generative property
  * tests replacing the reference's clojure.spec instrumentation
  * (`phrases_test.clj:8-19`).
  */
class CornerCaseSpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(100).withInitialSeed(42L), p)
    assert(res.passed, res.status.toString)
  }

  test("no false positives on 1569-line javadoc HTML (corner_case_phrases_test.clj:6-10)") {
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/phrases.html")),
      java.nio.charset.StandardCharsets.UTF_8)
    val hl = Compiler.compile(
      Seq(DE("N-Able N-Central", caseSensitive = Some(false))), HO()).matchDoc _
    assert(hl(html).isEmpty)
  }

  test("1M-entry dictionary over 10x the javadoc HTML: no matches, bounded wall time") {
    // the corner_case_phrases_test.clj shape scaled to the bench's
    // 1M-dict point: a compiled million-entry dictionary must stay
    // per-doc CHEAP on pathological no-match docs (the anchor
    // presearcher + Aho-Corasick prune everything; per-doc cost is
    // dictionary-size-independent). 10 copies of the 1569-line javadoc
    // page ≈ 1.4 MB of text; the wall bound is generous (CI-noise-safe)
    // but catches any O(dict × doc) regression, which would take minutes.
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/phrases.html")),
      java.nio.charset.StandardCharsets.UTF_8)
    val dict = DE("N-Able N-Central", caseSensitive = Some(false)) +:
      (0 until 1000000).map(i => DE(s"city$i центр$i", id = Some(s"e$i")))
    val hl = Compiler.compile(dict, HO()).matchDoc _ // compile outside the timed region
    val docs = Seq.fill(10)(html)
    val t0 = System.nanoTime()
    val anns = docs.map(hl(_))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(anns.forall(_.isEmpty), s"false positives: ${anns.flatten.take(3)}")
    assert(sec < 30.0, f"pathological no-match docs took $sec%.1f s against 1M entries")
  }

  test("java facade smoke (java_test.clj:4-14)") {
    val dict = java.util.List.of(
      DE("Lyndon Baines Johnson"),
      DE("LYNDON BAINES JOHNSON", caseSensitive = Some(false)))
    val annotator = new graft.api.Annotator(dict)
    val anns = annotator.annotate(
      "Lyndon Baines Johnson (August 27, 1908 - January 22, 1973), often referred to by his initials LBJ, was an American politician who served as the 36th president of the United States from 1963 to 1969.")
    assert(anns.size() == 2)
    assert(anns.get(0).text == "Lyndon Baines Johnson")
  }

  test("EDN dictionary fixture (readers_test.clj / dict.edn)") {
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/dict.edn")))
    val entries = Edn.readDictionary(content)
    assert(entries.size == 1)
    val e = entries.head
    assert(e.text == "test text" && e.id.contains("test-id"))
    assert(e.caseSensitive.contains(true) && e.asciiFold.contains(true))
    assert(e.meta == Map("email" -> "test@example.com"))
    // nil synonyms and meta values are absent, not the string "ENil"
    val nils = Edn.readDictionary(
      """[{:text "foo" :synonyms ["bar" nil] :meta {:k nil :email "a@b"}}]""")
    assert(nils.map(e => (e.text, e.synonyms, e.meta)) ==
      Seq(("foo", Seq("bar"), Map("email" -> "a@b"))))
  }

  test("EDN full-spec forms: chars, discard, tags, sets, unicode, N/M suffixes") {
    import Edn._
    // character literals
    assert(parse("\\a") == EChar('a'))
    assert(parse("\\newline") == EChar('\n'))
    assert(parse("\\space") == EChar(' '))
    assert(parse("\\u0041") == EChar('A'))
    // discard macro, incl. stacked discards and inside collections
    assert(parse("[1 #_2 3]") == EVec(Vector(ENum(1, true), ENum(3, true))))
    assert(parse("#_ #_ 1 2 3") == ENum(3, true))
    assert(parse("{:a 1 #_:b #_2 :c 3}").asInstanceOf[EMap].entries.size == 2)
    // tagged literals
    assert(parse("#inst \"2024-01-01T00:00:00Z\"") ==
      ETagged("inst", EStr("2024-01-01T00:00:00Z")))
    assert(parse("#myapp/thing [1]") ==
      ETagged("myapp/thing", EVec(Vector(ENum(1, true)))))
    // sets are distinct from vectors
    assert(parse("#{1 2}") == ESet(Vector(ENum(1, true), ENum(2, true))))
    // string escapes incl. \uNNNN
    assert(parse("\"a\\u00e9b\\n\"") == EStr("aéb\n"))
    // numeric suffixes
    assert(parse("42N") == ENum(42, true))
    assert(parse("3.14M") == ENum(3.14, false))
    assert(parse("2M") == ENum(2, false))
    // a dictionary whose entries use the exotic forms still reads
    val entries = Edn.readDictionary(
      """[#_{:text "dropped"} {:text "kept" :id "1" :meta {:k "v"}} #_[1 2]]""")
    assert(entries.map(_.text) == Seq("kept"))
  }

  test("validator CLI semantics (validator.clj:25-30)") {
    assert(ValidatorCli.validFile("src/test/resources/dict.csv", "csv"))
    assert(ValidatorCli.validFile("src/test/resources/dict.json", "json"))
    assert(ValidatorCli.validFile("src/test/resources/dict.edn", "edn"))
    assert(!ValidatorCli.validFile("src/test/resources/dict.csv", "xml"))
    assert(!ValidatorCli.validFile("does/not/exist.csv", "csv"))
  }

  // ---- generative properties (replacing s/exercise-fn instrumentation)

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val phraseGen: Gen[String] = Gen.choose(1, 3)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  private val textGen: Gen[String] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  test("5k-entry dictionary: AC + presearcher match equals brute force") {
    // scale-shaped guard: bugs in the Aho-Corasick routing / presearcher
    // anchoring only appear with many patterns sharing terms
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val rnd = new scala.util.Random(101)
    val phrases = (0 until 5000).map { i =>
      val n = 1 + rnd.nextInt(3)
      ((0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "), s"e$i")
    }.distinct
    val dict = phrases.map { case (t, id) => DE(t, id = Some(id)) }
    val hl = Compiler.compile(dict, HO()).matchDoc _
    val docs = (0 until 40).map { _ =>
      (0 until (5 + rnd.nextInt(40))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    docs.foreach { doc =>
      val got = hl(doc).map(a => (a.dictEntryId, a.beginOffset, a.endOffset)).toSet
      // brute force: every dictionary phrase at every token position
      val toks = doc.split(" ")
      val starts = toks.scanLeft(0)((acc, t) => acc + t.length + 1)
      val want = (for {
        (t, id) <- phrases
        p = t.split(" ")
        i <- 0 to toks.length - p.length
        if toks.slice(i, i + p.length).sameElements(p)
      } yield (id, starts(i), starts(i + p.length - 1) + toks(i + p.length - 1).length)).toSet
      assert(got == want, s"doc: $doc")
    }
  }

  test("fuzzy deletion presearch equals checking every fuzzy query") {
    // the symmetric-delete presearch must be a SUPERSET generator: its
    // output after real matching must equal running the matcher on every
    // query with no presearch at all, across exact terms, 1-edit and
    // 2-edit typos (incl. transpositions — OSA, not plain Levenshtein)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "theta", "kappa", "sigma", "omicron")
    val rnd = new scala.util.Random(202)
    def typo(w: String): String = {
      if (w.length < 3) return w
      val i = rnd.nextInt(w.length - 1)
      rnd.nextInt(4) match {
        case 0 => w.substring(0, i) + w.substring(i + 1)                      // delete
        case 1 => w.substring(0, i) + ('a' + rnd.nextInt(26)).toChar + w.substring(i) // insert
        case 2 => w.substring(0, i) + ('a' + rnd.nextInt(26)).toChar + w.substring(i + 1) // substitute
        case _ => w.substring(0, i) + w.charAt(i + 1) + w.charAt(i) + w.substring(i + 2) // transpose
      }
    }
    val dict = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(2)
      val t = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      DE(t, id = Some(s"f$i"), fuzzy = Some(true), fuzziness = Some(1 + rnd.nextInt(2)))
    }
    val hl = Compiler.compile(dict, HO(optimizeDictionary = false)).matchDoc _
    val cd = graft.engine.Compiler.compile(dict, HO(optimizeDictionary = false))
    val docs = (0 until 80).map { _ =>
      (0 until (3 + rnd.nextInt(10))).map { _ =>
        val w = vocab(rnd.nextInt(vocab.size))
        rnd.nextInt(4) match {
          case 0     => w
          case 1 | 2 => typo(w)
          case _     => typo(typo(w))
        }
      }.mkString(" ")
    }
    docs.foreach { doc =>
      val got = hl(doc).map(a => (a.dictEntryId, a.beginOffset, a.endOffset)).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[graft.dict.Annotation]
      val fields = cd.fieldConfs.map(c =>
        graft.engine.FieldTokens(graft.analysis.Analyzer.analyze(c, doc)))
      cd.queries.foreach(q =>
        graft.engine.Matcher.matchQuery(q, fields(q.fieldIdx), doc, cd.typeName, out))
      val want = out.map(graft.engine.PostProcess.apply)
        .map(a => (a.dictEntryId, a.beginOffset, a.endOffset)).toSet
      assert(got == want, s"doc: $doc")
    }
  }

  test("hashed fuzzy clause expansion equals a brute-force withinEdits scan") {
    // the per-doc deletion-variant index (hashed, length-bounded, shared by
    // presearch and matcher) must find exactly the doc terms an exhaustive
    // OSA scan finds: letter runs (repeated variants), transpositions,
    // 1-2-char terms (variants down to the empty string), surrogate pairs
    // (a deletion can split one), and a field whose index is built 2 deep
    // and then probed at fuzziness 1 and 2
    import graft.engine.{FieldTokens, Matcher}
    def field(terms: Seq[String]): FieldTokens =
      FieldTokens(terms.zipWithIndex.map { case (t, i) =>
        graft.analysis.Token(t, i, i + 1, i) }.toArray)
    def brute(ft: FieldTokens, term: String, f: Int): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      ft.positions.forEach((t, ps) => if (Matcher.withinEdits(term, t, f)) out ++= ps)
      out.result().sorted
    }
    val fixed = Seq("aab", "ab", "aaaa", "aaa", "aba", "baa", "a", "b", "ba",
      "abab", "aXa", "x", "xy", "yx", "colour", "colur", "cloour", "coluor",
      "🎉", "a🎉", "🎉a", "\udf89\ud83c",
      "🎉😀", "😀🎉")
    val rnd = new scala.util.Random(303)
    val units = Vector("a", "b", "c", "🎉", "😀")
    def randomTerm(): String = Seq.fill(1 + rnd.nextInt(5))(units(rnd.nextInt(units.size))).mkString
    val docs = fixed +: Seq.fill(60)(Seq.fill(1 + rnd.nextInt(12))(randomTerm()))
    val clauses = fixed ++ Seq.fill(40)(randomTerm())
    docs.foreach { doc =>
      // built 2 deep over every length a clause can reach, as matchDoc
      // builds it for a field that mixes fuzziness 1 and 2
      val wide = field(doc)
      wide.fuzzyIndex(2, clauses.map(_.length).min - 2, clauses.map(_.length).max + 2)
      // built on demand by each clause, narrow first, then widened
      val grown = field(doc)
      clauses.foreach { t =>
        Seq(1, 2).foreach { f =>
          val want = brute(wide, t, f)
          assert(Matcher.fuzzyPositions(wide, t, f).toSeq == want, s"wide f=$f '$t' in $doc")
          assert(Matcher.fuzzyPositions(grown, t, f).toSeq == want, s"grown f=$f '$t' in $doc")
          assert(Matcher.fuzzyPositions(field(doc), t, f).toSeq == want, s"fresh f=$f '$t' in $doc")
        }
      }
    }
    // the same terms end to end, in one field mixing fuzziness 1 and 2:
    // matchDoc (hashed presearch, one shared index) equals every query
    // matched directly
    val dict = clauses.indices.map { i =>
      val text = if (i % 3 == 0) s"${clauses(i)} ${clauses((i * 7) % clauses.size)}" else clauses(i)
      DE(text, id = Some(s"q$i"), tokenizer = Some("whitespace"), fuzzy = Some(true),
        fuzziness = Some(1 + i % 2))
    }
    val cd = graft.engine.Compiler.compile(dict, HO())
    assert(cd.fieldConfs.length == 1)
    docs.foreach { doc =>
      val text = doc.mkString(" ")
      val got = cd.matchDoc(text).map(a => (a.dictEntryId, a.beginOffset, a.endOffset)).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[graft.dict.Annotation]
      val fields = cd.fieldConfs.map(c => FieldTokens(graft.analysis.Analyzer.analyze(c, text)))
      cd.queries.foreach(q => Matcher.matchQuery(q, fields(q.fieldIdx), text, cd.typeName, out))
      val want = out.map(graft.engine.PostProcess.apply)
        .map(a => (a.dictEntryId, a.beginOffset, a.endOffset)).toSet
      assert(got == want, s"doc: $text")
    }
  }

  test("fuzzy work per token is bounded by the dictionary: 512-, 1,024- and 2,048-char tokens") {
    // one fuzziness-2 entry: deletion variants of a doc token are O(len²),
    // so a long token must not reach the fuzzy index at all (its length
    // rules out any match within 2 edits of the entry's terms)
    val hl = Compiler.compile(
      Seq(DE("red colour", id = Some("c"), fuzzy = Some(true), fuzziness = Some(2))), HO()).matchDoc _
    assert(hl("warm up the red colur").map(_.text) == Seq("red colur"))
    Seq(512, 1024, 2048).foreach { n =>
      val long = ("colour" * (n / 6 + 1)).take(n)
      val doc = s"the red colr $long here"
      val t0 = System.nanoTime()
      val anns = hl(doc)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(anns.map(a => (a.text, a.dictEntryId, a.beginOffset, a.endOffset)) ==
        Seq(("red colr", "c", 4, 12)), s"$n-char token")
      assert(sec < 1.0, f"$n-char token took $sec%.2f s")
    }
    // the bound is exact: a doc term fuzziness chars longer than the
    // longest fuzzy term, or shorter than the shortest, still matches
    // (here "colour" and "red" are the anchors the presearch probes, and
    // no other doc term shares a deletion variant with them)
    assert(hl("the red colouurr here").map(a => (a.text, a.beginOffset, a.endOffset)) ==
      Seq(("red colouurr", 4, 16)))
    val shortAnchor = Compiler.compile(Seq(
      DE("red colour", id = Some("c"), fuzzy = Some(true), fuzziness = Some(2)),
      DE("big colour", id = Some("b"), fuzzy = Some(true), fuzziness = Some(2))), HO()).matchDoc _
    assert(shortAnchor("r colour").map(a => (a.text, a.dictEntryId, a.beginOffset, a.endOffset)) ==
      Seq(("r colour", "c", 0, 8)))
  }

  test("property: annotation offsets are in-bounds and text == substring") {
    checkProp(Prop.forAll(Gen.listOfN(5, phraseGen), textGen) {
      (phrases: List[String], text: String) =>
        val dict = phrases.zipWithIndex.map { case (p, i) => DE(p, id = Some(i.toString)) }
        val anns = Compiler.compile(dict, HO()).matchDoc(text)
        anns.forall { a =>
          a.beginOffset >= 0 && a.endOffset <= text.length &&
            a.beginOffset < a.endOffset &&
            a.text == text.substring(a.beginOffset, a.endOffset) &&
            a.annType == "PHRASE"
        }
    })
  }

  test("property: a planted phrase is always found and covered spans re-tokenize to it") {
    checkProp(Prop.forAll(Gen.listOfN(3, word), textGen) {
      (ws: List[String], filler: String) =>
        val phrase = ws.mkString(" ")
        val text = (filler + " " + phrase + " " + filler).trim
        val anns = Compiler.compile(Seq(DE(phrase, id = Some("p"))), HO()).matchDoc(text)
        anns.nonEmpty && anns.forall { a =>
          a.text.split("\\s+").toSeq.containsSlice(ws)
        }
    })
  }

  test("property: blank and degenerate inputs never throw") {
    Seq("", " ", "\t\n", "\u00a0", "\u00e4 \u00f6 \u00fc", "\ud83c\udf89").foreach { s =>
      val anns = Compiler.compile(Seq(DE("x", id = Some("1"))), HO()).matchDoc(s)
      assert(anns != null)
    }
  }
}

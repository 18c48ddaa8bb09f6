package graft

import graft.dict.{Annotation, DictionaryEntry => DE, HighlighterOpts => HO, Optimizer}
import graft.engine.{AnnotationMerger, Compiler}
import org.scalatest.funsuite.AnyFunSuite

/** Ports of `annotation_merge_test.clj`, `dictionary_optimization_test.clj`
  * and `optimization_suggestions_test.clj`.
  */
class MergerOptimizerSpec extends AnyFunSuite {

  test("annotator with merge option (annotation_merge_test.clj:6-25)") {
    val dict = Seq(DE("1 2"), DE("2"), DE("1 2 3 4"), DE("4"), DE("5"),
      DE("6 5 3 7"), DE("6 5"))
    val cd = Compiler.compile(dict, HO(typeName = Some("TEST")))
    val text = "A B C 1 2 3 4 D E F G 6 5 3 7"
    assert(cd.matchDocMerged(text, merge = false).size == cd.matchDoc(text).size)
    val merged = cd.matchDocMerged(text, merge = true)
    assert(merged.size < cd.matchDoc(text).size)
    val sorted = merged.sortBy(_.beginOffset)
    assert(sorted.size == 2)
    assert(sorted(0) == Annotation("1 2 3 4", "TEST", "2", Map.empty, 6, 13))
    assert(sorted(1) == Annotation("6 5 3 7", "TEST", "5", Map.empty, 22, 29))
  }

  test("annotation merge (annotation_merge_test.clj:27-41)") {
    def ann(t: String, ty: String, id: String, b: Int, e: Int) =
      Annotation(t, ty, id, Map.empty, b, e)
    assert(AnnotationMerger.mergeSameType(Seq(
      ann("AAAAA", "TEST", "1", 0, 5),
      ann("A", "TEST", "3", 0, 1),
      ann("AAAA", "TEST", "2", 1, 5))) == Seq(ann("AAAAA", "TEST", "1", 0, 5)))

    assert(AnnotationMerger.mergeSameType(Seq(
      ann("AAAAA", "TEST", "1", 0, 5),
      ann("A", "TEST", "2", 0, 1),
      ann("AAAA", "TEST", "3", 1, 5),
      ann("AAA", "TEST2", "10", 0, 3),
      ann("A", "TEST2", "11", 0, 1))) ==
      Seq(ann("AAAAA", "TEST", "1", 0, 5), ann("AAA", "TEST2", "10", 0, 3)))
  }

  test("mergeable meta (dictionary_optimization_test.clj:6-14)") {
    def e(meta: Map[String, String]) = DE("x", meta = meta)
    assert(Optimizer.mergeableMeta(e(Map.empty), e(Map("email" -> "123"))))
    assert(Optimizer.mergeableMeta(e(Map("email" -> "123")), e(Map("email" -> "123"))))
    assert(Optimizer.mergeableMeta(e(Map("email" -> "123")),
      e(Map("email" -> "123", "total" -> "5646"))))
    assert(!Optimizer.mergeableMeta(e(Map("email" -> "123")), e(Map("email" -> "321"))))
    assert(!Optimizer.mergeableMeta(e(Map("email" -> "123", "total" -> "5646")),
      e(Map("email" -> "123", "total" -> "9999"))))
  }

  test("aggregate entries by meta (dictionary_optimization_test.clj:15-45)") {
    val in = Seq(
      DE("test text", id = Some("test-id"), synonyms = Seq("abc"),
        caseSensitive = Some(true), asciiFold = Some(true),
        meta = Map("email" -> "test@example.com")),
      DE("test text", id = Some("test-id"), synonyms = Seq("def"),
        caseSensitive = Some(true), asciiFold = Some(true),
        meta = Map("email" -> "bobby@example.com")),
      DE("test text", id = Some("test-id"), synonyms = Seq("XXXX"),
        caseSensitive = Some(true), asciiFold = Some(true),
        meta = Map("email" -> "test@example.com", "abc" -> "123")))
    val out = Optimizer.aggregateByMeta(in)
    assert(out.size == 2)
    assert(out(0).synonyms.toSet == Set("abc", "XXXX"))
    assert(out(0).meta == Map("email" -> "test@example.com", "abc" -> "123"))
    assert(out(1).synonyms == Seq("def"))
    assert(out(1).meta == Map("email" -> "bobby@example.com"))
  }

  test("dictionary optimization (dictionary_optimization_test.clj:47-89)") {
    val dictionary = Seq(
      DE("AAAA", caseSensitive = Some(true), asciiFold = Some(true), synonyms = Seq("AAAA1")),
      DE("AAAA", caseSensitive = Some(true), asciiFold = Some(true), synonyms = Seq("AAAA2")),
      DE("AAAA", caseSensitive = Some(false), asciiFold = Some(true), synonyms = Seq("AAAA3")),
      DE("AAAA", caseSensitive = Some(true), asciiFold = Some(true), synonyms = Seq("AAAA4")),
      DE("AAAA", caseSensitive = Some(true), asciiFold = Some(false), synonyms = Seq("AAAA5")),
      DE("AAAA", caseSensitive = Some(true), asciiFold = Some(false), synonyms = Seq("AAAA")),
      DE("BBBB", caseSensitive = Some(false), synonyms = Seq("BBBB1")),
      DE("BBBB", caseSensitive = Some(false), synonyms = Seq("BBBB")))
    val optimized = Optimizer.optimize(dictionary)
    assert(optimized.size < dictionary.size)
    assert(optimized.size == 4)
    val expected = Set(
      ("AAAA", Some(true), Some(true), Set("AAAA4", "AAAA2", "AAAA1")),
      ("AAAA", Some(false), Some(true), Set("AAAA3")),
      ("AAAA", Some(true), Some(false), Set("AAAA5")),
      ("BBBB", Some(false), None, Set("BBBB1")))
    assert(optimized.map(e =>
      (e.text, e.caseSensitive, e.asciiFold, e.synonyms.toSet)).toSet == expected)
  }

  test("synonym expansion query count (dictionary_optimization_test.clj:91-97)") {
    val dict = Seq(DE("test", id = Some("1"), synonyms = Seq("beagle", "luwak1")))
    val cd = Compiler.compile(dict, HO(typeName = Some("TEST")))
    assert(cd.queries.length == 3)
    val anns = cd.matchDoc("this is a beagle text test luwak1")
    assert(anns.size == 3)
    assert(anns.forall(_.dictEntryId == "1"))
  }

  test("highlighter-level optimize/validate options wiring") {
    // optimize-dictionary? merges duplicate texts before compiling
    val dict = Seq(
      DE("test", synonyms = Seq("syn1")),
      DE("test", synonyms = Seq("syn2")))
    val cd = Compiler.compile(dict, HO(typeName = Some("T"), optimizeDictionary = true))
    assert(cd.queries.length == 3) // merged entry + 2 synonyms
    assert(cd.matchDoc("a syn1 syn2 test").size == 3)
    // validate-dictionary? rejects blank text
    intercept[IllegalArgumentException] {
      Compiler.compile(Seq(DE(" ")), HO(validateDictionary = true))
    }
  }

  test("compiled dictionary is thread-safe (shared across task threads)") {
    val cd = Compiler.compile(
      (0 until 500).map(i => DE(s"w$i phrase", id = Some(i.toString))), HO())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (0 until 8).map { t =>
      Future {
        (0 until 200).map(i => cd.matchDoc(s"x w${(t * 37 + i) % 500} phrase y").size).sum
      }
    }
    val results = Await.result(Future.sequence(futures), 60.seconds)
    assert(results.forall(_ == 200))
  }

  test("compiled dictionary save/load round trip") {
    val cd = Compiler.compile(Seq(
      DE("test phrase", id = Some("tp"), meta = Map("k" -> "v")),
      DE("wörd", id = Some("w"), asciiFold = Some(true), synonyms = Seq("syn")),
      // the fuzzy presearch's hash table is rebuilt after loading
      DE("hash join", id = Some("hj"), fuzzy = Some(true), fuzziness = Some(1))), HO())
    val f = java.io.File.createTempFile("graft-dict", ".bin")
    f.deleteOnExit()
    graft.engine.CompiledDictionary.save(cd, f.getAbsolutePath)
    val loaded = graft.engine.CompiledDictionary.load(f.getAbsolutePath)
    val text = "a test phrase with word and syn over a hash jion"
    assert(loaded.matchDoc(text) == cd.matchDoc(text))
    assert(loaded.matchDoc(text).nonEmpty)
    assert(loaded.matchDoc(text).exists(_.text == "hash jion"))
  }

  test("dry run suggestions (optimization_suggestions_test.clj)") {
    val dict = Seq(
      DE("AAAA", synonyms = Seq("AAAA1")),
      DE("AAAA", synonyms = Seq("AAAA2")),
      DE("BBBB"))
    val suggestions = Optimizer.dryRun(dict)
    assert(suggestions.size == 1)
    assert(suggestions.head.entries.size == 2)
    assert(suggestions.head.suggestion.contains("identical"))
  }
}

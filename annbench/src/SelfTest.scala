package annbench

import graft.dict.HighlighterOpts
import graft.engine.Compiler

/** Spark-free self-tests of the benchmark's own code, at tiny size:
  * the generator is deterministic, planted phrases sit where they are
  * recorded, the replay reproduces `matchDoc`, and each check trips on a
  * corrupted output. Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  exception: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spec = Workloads.tiny(Workloads.byName("batch-mixed-80k")).spec

    val a = new Gen(7L, spec)
    val b = new Gen(7L, spec)
    val ca = a.corpus()
    val cb = b.corpus()
    check("generator: same seed, same vocabulary, dictionary and corpus") {
      a.vocab.sameElements(b.vocab) && a.dictionary == b.dictionary &&
        ca.docs.sameElements(cb.docs) && ca.planted.sameElements(cb.planted)
    }
    check("generator: another seed, another corpus") {
      !new Gen(8L, spec).corpus().docs.sameElements(ca.docs)
    }
    check("generator: planted phrases sit at their offsets") {
      ca.planted.nonEmpty && ca.planted.forall { p =>
        ca.docs(p.doc).substring(p.begin, p.end) == a.dictTexts(p.entryId.drop(1).toInt)
      }
    }
    check("generator: every family of the mixed dictionary is present") {
      a.dictTexts.indices.map(a.family).toSet == Gen.FamilyNames.indices.toSet
    }

    val cd = Compiler.compile(a.dictionary, HighlighterOpts.default)
    val ref = ca.docs.indices.flatMap(d => Checks.fromEngine(d.toLong, cd.matchDoc(ca.docs(d))))
    check("checks: the engine's own output passes") {
      Checks.multisetDiff(ref, ref).isEmpty && Checks.plantedMissing(ca.planted, ref).isEmpty
    }
    check("checks: a corrupted annotation trips the multiset check") {
      val bad = ref.head.copy(end = ref.head.end + 1)
      Checks.multisetDiff(bad +: ref.tail, ref) == Set(ref.head.doc)
    }
    check("checks: a lost annotation trips the multiset check") {
      Checks.multisetDiff(ref.tail, ref) == Set(ref.head.doc)
    }
    check("checks: a planted phrase missing from the output trips the planted check") {
      val p = ca.planted.head
      val dropped = ref.filterNot(r => r.doc == p.doc && r.entryId == p.entryId && r.begin == p.begin)
      Checks.plantedMissing(ca.planted, dropped) == Set(p.doc.toLong)
    }

    check("replay: same annotations as matchDoc, with a span per layer") {
      val tr = new Tracer(true)
      val replay = new Replay(cd, tr)
      val same = ca.docs.indices.forall { d =>
        Checks.multisetDiff(Checks.fromEngine(d, replay.run(ca.docs(d), d)),
          Checks.fromEngine(d, cd.matchDoc(ca.docs(d)))).isEmpty
      }
      val names = tr.summary.keySet
      same && Set("doc", "analysis", "engine.presearch", "engine.verify", "spark.encode",
        "engine.fuzzy_probe", "engine.ac").subsetOf(names)
    }
    check("tracer: self time excludes children") {
      val tr = new Tracer(true)
      tr.add("root", 0L, 100L, -1, 1L)
      tr.add("child", 10L, 40L, 0, 1L)
      tr.add("child", 50L, 60L, 0, 1L)
      tr.summary("root") == ((1L, 100L, 60L)) && tr.summary("child") == ((2L, 40L, 40L))
    }

    def marker(m: String) = if (m.startsWith("marker-")) m.drop(7).toIntOption else None
    def batch(id: Long, docs: Seq[Long], v: Int) =
      Checks.Batch(id, id, docs.toArray, docs.map(_ => Seq(s"marker-$v")).toArray)
    val good = Seq(batch(0, Seq(0, 1), 0), batch(1, Seq(2), 1), batch(2, Seq(3), 1))
    check("stream check: each doc once, markers in order, passes") {
      Checks.stream(4, good, marker)._1.isEmpty
    }
    check("stream check: a doc committed twice or never trips it") {
      Checks.stream(4, good :+ batch(3, Seq(2), 1), marker)._1 == Set(2L) &&
        Checks.stream(5, good, marker)._1 == Set(4L)
    }
    check("stream check: the removed marker after a reload trips it") {
      Checks.stream(5, good :+ batch(3, Seq(4), 0), marker)._1 == Set(4L)
    }
    check("stream check: a doc without its marker trips it") {
      val noMarker = Checks.Batch(3, 3, Array(4L), Array(Seq.empty[String]))
      Checks.stream(5, good :+ noMarker, marker)._1 == Set(4L)
    }
    check("stream check: a stream whose output never carries a marker trips it") {
      val none = Seq(Checks.Batch(0, 0, Array(0L, 1L), Array(Seq.empty[String], Seq.empty[String])),
        Checks.Batch(1, 1, Array(2L), Array(Seq.empty[String])))
      Checks.stream(3, none, marker)._1 == Set(0L, 1L, 2L)
    }

    check("stats: nearest-rank quantiles and median") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.quantile(xs, 0.9) == 90.0 && Stats.quantile(xs, 0.99) == 99.0 &&
        Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5
    }

    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      System.exit(1)
    }
    println("all self-tests passed")
  }
}

package annbench

import graft.analysis.Analyzer
import graft.dict.Annotation
import graft.engine.{CompiledDictionary, FieldTokens, Matcher, PostProcess}
import graft.spark.AnnotateExpression

import scala.collection.mutable

/** `CompiledDictionary.matchDoc` replayed step by step from outside the
  * engine, through the public functions each layer exposes, with a span
  * around every step:
  *
  *   doc
  *     analysis                 Analyzer.analyze + FieldTokens, per field config
  *     engine.presearch         anchor probes, fuzzy deletion probes, Aho-Corasick
  *       engine.anchor_probe
  *       engine.fuzzy_probe
  *       engine.ac              AhoCorasick.run
  *     engine.verify            Matcher.matchQuery per candidate, by query family
  *       engine.verify.phrase   slop-0 phrases found by Aho-Corasick
  *       engine.verify.slop     phrase queries with slop > 0
  *       engine.verify.span     in-order span queries
  *       engine.verify.fuzzy    fuzzy span queries
  *     spark.encode             AnnotateExpression.toCatalyst
  *
  * Its output must equal `matchDoc`'s (checked by the caller); the
  * replay's per-thread fuzzy memo has the engine's size so probes hit and
  * miss as they do in the engine. Single-threaded; `tr` is swapped in
  * after an untraced warm-up pass, with [[reset]].
  */
final class Replay(cd: CompiledDictionary, var tr: Tracer) {
  var tokens = 0L
  var fuzzyVariants = 0L
  var candidates = 0L
  var verifications = 0L
  var verifiedWithOutput = 0L

  def reset(): Unit = {
    tokens = 0; fuzzyVariants = 0; candidates = 0
    verifications = 0; verifiedWithOutput = 0
  }

  private val memos = Array.fill(cd.fieldConfs.length)(
    new java.util.LinkedHashMap[String, (Array[String], Array[Int])](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Array[String], Array[Int])]): Boolean =
        size() > Gen.FuzzyMemoEntries
    })

  private val PhraseF = 0
  private val SlopF = 1
  private val SpanF = 2
  private val FuzzyF = 3
  private val familySpan =
    Array("engine.verify.phrase", "engine.verify.slop", "engine.verify.span", "engine.verify.fuzzy")

  private def familyOf(q: Int, acHit: Boolean): Int = {
    val cq = cd.queries(q)
    if (acHit) PhraseF
    else if (cq.fuzzy) FuzzyF
    else if (cq.span) SpanF
    else SlopF
  }

  def run(text: String, req: Long): Seq[Annotation] = tr.span("doc", req) {
    val anns =
      if (text == null || text.trim.isEmpty) Nil
      else {
        val nf = cd.fieldConfs.length
        val fields = new Array[FieldTokens](nf)
        var f = 0
        while (f < nf) {
          fields(f) = tr.span("analysis", req)(FieldTokens(Analyzer.analyze(cd.fieldConfs(f), text)))
          tokens += fields(f).tokens.length
          f += 1
        }
        val (candIds, acSpans) = tr.span("engine.presearch", req)(presearch(fields, req))
        tr.span("engine.verify", req)(verify(text, fields, candIds, acSpans, req))
      }
    tr.span("spark.encode", req)(AnnotateExpression.toCatalyst(anns))
    anns
  }

  private def presearch(fields: Array[FieldTokens], req: Long)
      : (Array[Int], mutable.HashMap[Int, mutable.ArrayBuffer[Long]]) = {
    val cand = new mutable.ArrayBuilder.ofInt
    var f = 0
    while (f < fields.length) {
      val idx = cd.anchor(f)
      if (!idx.isEmpty) tr.span("engine.anchor_probe", req) {
        val it = fields(f).positions.keySet().iterator()
        while (it.hasNext) {
          val hit = idx.get(it.next())
          if (hit != null) cand.addAll(hit)
        }
      }
      if (!cd.fuzzyDel(f).isEmpty) tr.span("engine.fuzzy_probe", req)(fuzzyProbe(f, fields(f), cand))
      f += 1
    }
    val acSpans = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    f = 0
    while (f < fields.length) {
      val automaton = cd.ac(f)
      if (automaton != null && fields(f).tokens.nonEmpty) tr.span("engine.ac", req) {
        val tokens = fields(f).tokens
        val terms = new Array[String](tokens.length)
        var i = 0
        while (i < terms.length) { terms(i) = tokens(i).term; i += 1 }
        automaton.run(terms, (q, s, e) => {
          acSpans.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((s.toLong << 32) | e.toLong)
          ()
        })
      }
      f += 1
    }
    cand.addAll(acSpans.keysIterator.toArray)
    val all = cand.result()
    java.util.Arrays.sort(all)
    val candIds = all.distinct
    candidates += candIds.length
    (candIds, acSpans)
  }

  /** The engine's fuzzy presearch, loop for loop: probe the fuzzy index
    * with each distinct term's deletion variants (memoized per term) and
    * index the variants for the matcher's fuzzy clause expansion.
    */
  private def fuzzyProbe(f: Int, field: FieldTokens, cand: mutable.ArrayBuilder.ofInt): Unit = {
    val fdel = cd.fuzzyDel(f)
    val maxDel = cd.fuzzyMaxDel(f)
    val delIdx = new java.util.HashMap[String, AnyRef](
      math.max(16, field.positions.size() * ((maxDel + 1) * (maxDel + 2))))
    val memo = memos(f)
    val it = field.positions.keySet().iterator()
    while (it.hasNext) {
      val term = it.next()
      var entry = memo.get(term)
      if (entry == null) {
        val variants = Replay.deletionVariants(term, maxDel)
        fuzzyVariants += variants.length
        val hits = new mutable.ArrayBuilder.ofInt
        var vi = 0
        while (vi < variants.length) {
          val hit = fdel.get(variants(vi))
          if (hit != null) hits.addAll(hit)
          vi += 1
        }
        entry = (variants, hits.result())
        memo.put(term, entry)
      }
      cand.addAll(entry._2)
      val variants = entry._1
      var vi = 0
      while (vi < variants.length) {
        val v = variants(vi)
        val prev = delIdx.put(v, term)
        if (prev != null) prev match {
          case s: String =>
            val b = mutable.ArrayBuffer.empty[String]
            b += s; b += term
            delIdx.put(v, b)
          case b: mutable.ArrayBuffer[String @unchecked] =>
            b += term
            delIdx.put(v, b)
        }
        vi += 1
      }
    }
    field.delIndex = delIdx
    field.delIndexDepth = maxDel
  }

  /** Candidates verified one family at a time, so each family is one span
    * per document; the output is the same multiset in another order.
    */
  private def verify(text: String, fields: Array[FieldTokens], candIds: Array[Int],
      acSpans: mutable.HashMap[Int, mutable.ArrayBuffer[Long]], req: Long): Seq[Annotation] = {
    val out = mutable.ArrayBuffer.empty[Annotation]
    val fam = candIds.map(q => familyOf(q, acSpans.contains(q)))
    var k = 0
    while (k < familySpan.length) {
      if (fam.contains(k)) tr.span(familySpan(k), req) {
        var ci = 0
        while (ci < candIds.length) {
          if (fam(ci) == k) {
            val q = candIds(ci)
            val cq = cd.queries(q)
            if (k == PhraseF) {
              val tokens = fields(cq.fieldIdx).tokens
              val annType = cq.metadata.getOrElse("_type", cd.typeName)
              acSpans(q).toArray.sorted.foreach { sp =>
                val b = tokens((sp >> 32).toInt).begin
                val e = tokens((sp & 0xffffffffL).toInt).end
                out += Annotation(text.substring(b, e), annType, cq.queryId, cq.metadata, b, e)
              }
            } else {
              val before = out.length
              Matcher.matchQuery(cq, fields(cq.fieldIdx), text, cd.typeName, out)
              verifications += 1
              if (out.length > before) verifiedWithOutput += 1
            }
          }
          ci += 1
        }
      }
      k += 1
    }
    out.map(PostProcess.apply).toSeq
  }
}

object Replay {
  /** The strings `s` reaches by deleting at most `maxDel` characters,
    * itself included, distinct: the symmetric-delete variants the engine
    * probes with.
    */
  def deletionVariants(s: String, maxDel: Int): Array[String] = {
    if (maxDel <= 0 || s.isEmpty) return Array(s)
    val out = new java.util.LinkedHashSet[String]()
    out.add(s)
    var i = 0
    while (i < s.length) {
      val d1 = s.substring(0, i) + s.substring(i + 1)
      out.add(d1)
      if (maxDel >= 2 && d1.nonEmpty) {
        var j = 0
        while (j < d1.length) {
          out.add(d1.substring(0, j) + d1.substring(j + 1))
          j += 1
        }
      }
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }
}

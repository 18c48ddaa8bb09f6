package graft.engine

import graft.analysis.{AnalysisConf, Analyzer, Token}
import graft.dict.{Annotation, DictionaryEntry, HighlighterOpts}

import scala.collection.mutable

/** A compiled stored query.
  *
  * The reference compiles each dictionary entry into either a Lucene
  * MultiPhraseQuery or a SpanNearQuery (`phrases.clj:160-204`). We compile
  * into this ADT-ish struct and match natively.
  *
  * @param idx       stable index (used for deterministic iteration)
  * @param queryId   entry id or dictionary index as string (`phrases.clj:165`)
  * @param fieldIdx  index into CompiledDictionary.fieldConfs
  * @param terms     analyzed phrase terms
  * @param span      true → SpanNear semantics + the reference's begin/end
  *                  pairing reconstruction; false → MultiPhrase semantics
  * @param ordered   span order flag (`phrases.clj:173-176`)
  * @param slop      normalized slop (clamped to [0, MaxInt], `phrases.clj:167`)
  * @param fuzzy     per-term fuzzy matching (`phrases.clj:179-183`)
  * @param fuzziness max edit distance (default 1)
  * @param metadata  entry meta + "_type" (+ "_in-order" for span queries)
  */
final case class CompiledQuery(
    idx: Int,
    queryId: String,
    fieldIdx: Int,
    terms: Array[String],
    span: Boolean,
    ordered: Boolean,
    slop: Int,
    fuzzy: Boolean,
    fuzziness: Int,
    metadata: Map[String, String]) extends Serializable

/** Driver-compiled, broadcast-able dictionary: the Spark-native equivalent
  * of the reference's in-memory Lucene Monitor (`monitor.clj:27-32,64-71`).
  *
  * Scale design: one instance per dictionary version, broadcast once;
  * matching is partition-local and stateless. The `anchor` index is the
  * presearcher (`README.md:183-184`): every non-fuzzy query is indexed
  * under exactly ONE of its terms (all phrase terms are required, so a doc
  * lacking the anchor term cannot match). Per document we union candidate
  * query ids over the doc's distinct terms and run only those — per-doc
  * cost stays ~constant as the dictionary grows.
  */
final class CompiledDictionary(
    val queries: Array[CompiledQuery],
    val fieldConfs: Array[AnalysisConf],
    val anchor: Array[java.util.HashMap[String, Array[Int]]], // per fieldIdx: term -> query idxs
    /** Per fieldIdx (null when the field has no fuzzy query): the
      * SymSpell-style symmetric-delete presearch index, from the hash of
      * each ≤fuzziness deletion variant of a fuzzy query's anchor term
      * (its rarest term) to the fuzzy query idxs. A doc token within OSA
      * distance f of that term shares one of those variants (see
      * [[VariantHasher]]), so probing with the hashed ≤maxDel-deletion
      * variants of the doc's terms ([[FuzzyTermIndex.probe]]) yields a
      * superset of the fuzzy-matchable queries; candidates, like all
      * others, then run the real matcher. Per-doc fuzzy presearch cost is
      * O(terms × len^maxDel) hash probes over the doc terms whose length
      * is within maxDel of a fuzzy clause term, independent of dictionary
      * size and of the doc's longer tokens.
      */
    val fuzzyAnchors: Array[HashPostings],
    val fuzzyMaxDel: Array[Int], // per fieldIdx: max fuzziness of its fuzzy queries
    /** per fieldIdx: the shortest and longest term of its fuzzy queries */
    val fuzzyMinLen: Array[Int],
    val fuzzyMaxLen: Array[Int],
    val typeName: String,
    /** per fieldIdx: Aho-Corasick automaton covering the slop-0 phrase
      * queries of that field (null when none) — O(tokens) matching for
      * the dominant plain-phrase subset, independent of dictionary size.
      */
    val ac: Array[AhoCorasick]) extends Serializable {

  /** The fuzzy presearch index with string keys: per fieldIdx, each
    * ≤fuzziness deletion variant of each fuzzy query's anchor term → the
    * fuzzy query idxs. The engine never reads it. It is derived from
    * [[queries]] on first use, for callers that replay the presearch step
    * by step with strings (annbench's `Replay`), and never serialized.
    */
  @transient lazy val fuzzyDel: Array[java.util.HashMap[String, Array[Int]]] = {
    val anchorTerm = Compiler.anchorTerms(queries)
    val byVariant = Array.fill(fieldConfs.length)(
      new java.util.HashMap[String, mutable.ArrayBuilder.ofInt]())
    queries.foreach { q =>
      if (q.fuzzy) Compiler.deletionVariants(anchorTerm(q.idx), q.fuzziness).foreach { v =>
        byVariant(q.fieldIdx).computeIfAbsent(v, _ => new mutable.ArrayBuilder.ofInt) += q.idx
      }
    }
    byVariant.map(Compiler.finishPostings)
  }

  /** Annotate one document. Blank text short-circuits
    * (`phrases.clj:228-230`).
    */
  def matchDoc(text: String): Seq[Annotation] = {
    if (text == null || text.trim.isEmpty) return Nil
    val fields = new Array[FieldTokens](fieldConfs.length)
    var f = 0
    while (f < fieldConfs.length) {
      fields(f) = FieldTokens(Analyzer.analyze(fieldConfs(f), text))
      f += 1
    }
    // presearch: candidate query ids. Each non-fuzzy query is anchored
    // under exactly ONE (field, term); fuzzy queries can be hit through
    // several deletion variants, so candIds are sort+dedup'd below.
    val cand = new mutable.ArrayBuilder.ofInt
    f = 0
    while (f < fieldConfs.length) {
      val idx = anchor(f)
      if (!idx.isEmpty) {
        val it = fields(f).positions.keySet().iterator()
        while (it.hasNext) {
          val hit = idx.get(it.next())
          if (hit != null) cand.addAll(hit)
        }
      }
      val fuzzy = fuzzyAnchors(f)
      if (fuzzy != null) {
        // the doc's variant index is built once here and reused by the
        // matcher's fuzzy clause expansion: its bounds cover every clause
        val d = fuzzyMaxDel(f)
        fields(f).fuzzyIndex(d, fuzzyMinLen(f) - d, fuzzyMaxLen(f) + d).probe(fuzzy, cand)
      }
      f += 1
    }
    // Aho-Corasick pass per field for the slop-0 phrase subset
    val acSpans = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    f = 0
    while (f < fieldConfs.length) {
      val automaton = ac(f)
      if (automaton != null && fields(f).tokens.nonEmpty) {
        val terms = new Array[String](fields(f).tokens.length)
        var i = 0
        while (i < terms.length) { terms(i) = fields(f).tokens(i).term; i += 1 }
        automaton.run(terms, (q, s, e) => {
          acSpans.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((s.toLong << 32) | e.toLong)
          ()
        })
      }
      f += 1
    }
    cand.addAll(acSpans.keysIterator.toArray)
    val candIds = cand.result()
    java.util.Arrays.sort(candIds)

    val out = mutable.ArrayBuffer.empty[Annotation]
    var ci = 0
    while (ci < candIds.length) {
      val q = candIds(ci)
      if (ci > 0 && candIds(ci - 1) == q) { ci += 1 } // fuzzy multi-variant dup
      else {
      acSpans.get(q) match {
        case Some(spans) =>
          val cq = queries(q)
          val tokens = fields(cq.fieldIdx).tokens
          val annType = cq.metadata.getOrElse("_type", typeName)
          spans.toArray.sorted.foreach { sp =>
            val b = tokens((sp >> 32).toInt).begin
            val e = tokens((sp & 0xffffffffL).toInt).end
            out += Annotation(text.substring(b, e), annType, cq.queryId, cq.metadata, b, e)
          }
        case None =>
          Matcher.matchQuery(queries(q), fields(queries(q).fieldIdx), text, typeName, out)
      }
      ci += 1
      }
    }
    out.map(PostProcess.apply).toSeq
  }

  def matchDocMerged(text: String, merge: Boolean): Seq[Annotation] = {
    val anns = matchDoc(text)
    if (merge) AnnotationMerger.mergeSameType(anns) else anns
  }
}

/** Per-field tokenization of one document: tokens + term→positions map.
  * Positions are consecutive 0..n-1 so `tokens(pos)` resolves offsets.
  */
final case class FieldTokens(tokens: Array[Token]) {
  val positions: java.util.HashMap[String, Array[Int]] = {
    val tmp = new java.util.HashMap[String, mutable.ArrayBuilder.ofInt]()
    var i = 0
    while (i < tokens.length) {
      var b = tmp.get(tokens(i).term)
      if (b == null) { b = new mutable.ArrayBuilder.ofInt; tmp.put(tokens(i).term, b) }
      b += i
      i += 1
    }
    val out = new java.util.HashMap[String, Array[Int]](tmp.size())
    tmp.forEach((k, v) => out.put(k, v.result()))
    out
  }

  /** Written by callers that replay the fuzzy presearch with strings
    * (annbench's `Replay`); the engine neither reads nor writes them.
    */
  var delIndex: java.util.HashMap[String, AnyRef] = null
  var delIndexDepth: Int = 0

  private var fuzzy: FuzzyTermIndex = null

  /** This field's hashed deletion-variant index over the distinct doc
    * terms with length in [lo, hi], at least `depth` deletions deep:
    * built on first use and shared by the fuzzy presearch and the
    * matcher's fuzzy clause expansion. `matchDoc` builds it once with
    * bounds that cover every fuzzy clause of the dictionary; a caller
    * that needs more than the current index covers (a direct
    * [[Matcher]] call) gets it rebuilt over the union of both bounds.
    */
  def fuzzyIndex(depth: Int, lo: Int, hi: Int): FuzzyTermIndex = {
    val cur = fuzzy
    if (cur == null) fuzzy = FuzzyTermIndex.build(positions, depth, lo, hi)
    else if (!cur.covers(depth, lo, hi))
      fuzzy = FuzzyTermIndex.build(positions, math.max(depth, cur.depth),
        math.min(lo, cur.lo), math.max(hi, cur.hi))
    fuzzy
  }
}

object Compiler {

  private def log(msg: String): Unit = System.err.println(s"[graft] $msg")

  /** All strings reachable from `s` by deleting at most `maxDel`
    * characters (including `s` itself), distinct. maxDel is capped at 2
    * by compileEntry's fuzziness validation, so the set is O(len²). Only
    * the string view [[CompiledDictionary.fuzzyDel]] builds these; the
    * engine hashes the variants instead ([[VariantHasher]]).
    */
  private[engine] def deletionVariants(s: String, maxDel: Int): Array[String] = {
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

  def resolveConf(e: DictionaryEntry, o: HighlighterOpts): AnalysisConf =
    AnalysisConf.resolve(
      e.tokenizer, e.caseSensitive, e.asciiFold, e.stem, e.stemmer,
      o.tokenizer, o.caseSensitive, o.asciiFold, o.stem, o.stemmer)

  /** Synonym expansion: each synonym becomes its own hidden entry cloning
    * the parent's analysis opts, with meta marking it for id-remapping in
    * post-process (`phrases.clj:125-140`). Note the reference copies slop
    * and tokenizer but NOT in-order?/fuzzy? (they are not schema-record
    * fields) — replicated.
    */
  def prepareSynonyms(parentQueryId: String, e: DictionaryEntry): Seq[DictionaryEntry] =
    e.synonyms.zipWithIndex.map { case (syn, i) =>
      DictionaryEntry(
        text = syn,
        entryType = e.entryType,
        id = Some(s"syn:$parentQueryId:$i"),
        synonyms = Nil,
        caseSensitive = e.caseSensitive,
        asciiFold = e.asciiFold,
        stem = e.stem,
        stemmer = e.stemmer,
        slop = e.slop,
        tokenizer = e.tokenizer,
        meta = e.meta ++ Map("synonym?" -> "true", "query-id" -> parentQueryId))
    }

  /** Compile one entry into a query, or None when it yields no tokens
    * (`phrases.clj:204`) or has unusable fuzziness (Lucene FuzzyQuery
    * caps maxEdits at 2; the reference's per-query register fallback drops
    * such entries — `monitor.clj:34-46`).
    */
  def compileEntry(
      e: DictionaryEntry, opts: HighlighterOpts, defaultId: String,
      fieldIdxOf: AnalysisConf => Int, idx: Int): Option[CompiledQuery] = {
    val conf = resolveConf(e, opts)
    val terms = Analyzer.terms(conf, e.text)
    if (terms.isEmpty) {
      log(s"Discarding the dictionary entry because no tokens: '${e.text}'")
      return None
    }
    // slop / in-order inherit from highlighter opts only when absent on the
    // entry (`phrases.clj:146-158`)
    val slop = e.slop.orElse(opts.slop)
    val inOrder = e.inOrder.orElse(opts.inOrder)
    val fuzzy = e.fuzzy.contains(true)
    val fuzziness = e.fuzziness.getOrElse(1)
    if (fuzzy && (fuzziness > 2 || fuzziness < 0)) {
      log(s"Discarding entry '${e.text}': fuzziness $fuzziness not in [0,2]")
      return None
    }
    val queryId = e.id.getOrElse(defaultId)
    val baseMeta = e.entryType.fold(e.meta)(t => e.meta + ("_type" -> t))
    val normalizedSlop: Int =
      slop.map(s => math.max(0L, math.min(s, Int.MaxValue.toLong)).toInt).getOrElse(0)
    val spanPath = (slop.exists(_ > 0) && inOrder.contains(true) && terms.length > 1) || fuzzy
    if (spanPath) {
      val ordered =
        if (inOrder.contains(true)) true
        else if (inOrder.isEmpty && fuzzy) true
        else false
      Some(CompiledQuery(idx, queryId, fieldIdxOf(conf), terms, span = true,
        ordered = ordered, slop = normalizedSlop, fuzzy = fuzzy,
        fuzziness = fuzziness, metadata = baseMeta + ("_in-order" -> "true")))
    } else {
      Some(CompiledQuery(idx, queryId, fieldIdxOf(conf), terms, span = false,
        ordered = false, slop = normalizedSlop, fuzzy = false, fuzziness = 0,
        metadata = baseMeta))
    }
  }

  /** Compile the whole dictionary (dedup of analysis configs =
    * `monitor.clj:48-59`; per-entry + synonym expansion =
    * `phrases.clj:206-215`; presearcher = §4.1 of SURVEY).
    */
  def compile(dictionary: Seq[DictionaryEntry], opts: HighlighterOpts): CompiledDictionary = {
    // validate FIRST on the raw dictionary, then optimize — the
    // reference's order (`phrases.clj:267-268`); optimizing first could
    // merge away the offending field and mask the error
    if (opts.validateDictionary) {
      val errs = graft.dict.Validator.validate(dictionary)
      require(errs.isEmpty, s"Invalid dictionary: ${errs.mkString("; ")}")
    }
    val dict0 =
      if (opts.optimizeDictionary) graft.dict.Optimizer.optimize(dictionary)
      else dictionary
    val fieldConfs = mutable.ArrayBuffer.empty[AnalysisConf]
    val fieldIdx = mutable.HashMap.empty[AnalysisConf, Int]
    def fieldIdxOf(c: AnalysisConf): Int =
      fieldIdx.getOrElseUpdate(c, { fieldConfs += c; fieldConfs.length - 1 })

    val queries = mutable.ArrayBuffer.empty[CompiledQuery]
    dict0.zipWithIndex.foreach { case (e, i) =>
      val parentId = e.id.getOrElse(i.toString)
      val all = e +: prepareSynonyms(parentId, e)
      all.foreach { entry =>
        compileEntry(entry, opts, i.toString, fieldIdxOf, queries.length)
          .foreach(queries += _)
      }
    }

    // Route the slop-0 phrase subset to a per-field Aho-Corasick automaton
    // (O(tokens) regardless of dictionary size); remaining non-fuzzy
    // queries get the presearcher anchor index (each under its rarest
    // term); fuzzy queries get the symmetric-delete index (the hashed
    // ≤fuzziness deletion variants of their rarest term).
    val nf = fieldConfs.length
    val qs = queries.toArray
    val anchorTerm = anchorTerms(qs)
    val anchor = Array.fill(nf)(new java.util.HashMap[String, mutable.ArrayBuilder.ofInt]())
    val fuzzyHashes = new Array[VariantHasher](nf)
    val fuzzyMaxDel = new Array[Int](nf)
    val fuzzyMinLen = Array.fill(nf)(Int.MaxValue)
    val fuzzyMaxLen = new Array[Int](nf)
    qs.foreach { q =>
      val f = q.fieldIdx
      if (acEligible(q)) () // handled by the automaton
      else if (q.fuzzy) {
        if (fuzzyHashes(f) == null) fuzzyHashes(f) = new VariantHasher(1024)
        fuzzyHashes(f).add(anchorTerm(q.idx), q.fuzziness, q.idx)
        if (q.fuzziness > fuzzyMaxDel(f)) fuzzyMaxDel(f) = q.fuzziness
        q.terms.foreach { t =>
          if (t.length < fuzzyMinLen(f)) fuzzyMinLen(f) = t.length
          if (t.length > fuzzyMaxLen(f)) fuzzyMaxLen(f) = t.length
        }
      } else {
        var b = anchor(f).get(anchorTerm(q.idx))
        if (b == null) { b = new mutable.ArrayBuilder.ofInt; anchor(f).put(anchorTerm(q.idx), b) }
        b += q.idx
      }
    }
    val anchorFinal = anchor.map(finishPostings)
    val fuzzyAnchors = fuzzyHashes.map(h =>
      if (h == null) null else HashPostings.build(h.hashes, h.ids, h.size))
    val acPerField: Array[AhoCorasick] = (0 until fieldConfs.length).map { f =>
      val pats = queries.iterator
        .filter(q => q.fieldIdx == f && acEligible(q))
        .map(q => (q.idx, q.terms)).toSeq
      if (pats.isEmpty) null else AhoCorasick.build(pats)
    }.toArray
    val typeName = opts.typeName.filter(_.trim.nonEmpty).getOrElse("PHRASE")
    new CompiledDictionary(qs, fieldConfs.toArray, anchorFinal,
      fuzzyAnchors, fuzzyMaxDel, fuzzyMinLen, fuzzyMaxLen, typeName, acPerField)
  }

  /** Slop-0 phrase queries match through the per-field Aho-Corasick
    * automaton; every other query goes through the presearch.
    */
  private def acEligible(q: CompiledQuery): Boolean = !q.span && q.slop == 0

  /** Per query idx, the presearch anchor of each query outside the
    * Aho-Corasick subset (null for the others): its term held by the
    * fewest queries of its field, the longer term on a tie. A non-fuzzy
    * query is indexed under this term, a fuzzy one under its deletion
    * variants.
    */
  private[engine] def anchorTerms(queries: Array[CompiledQuery]): Array[String] = {
    val df = mutable.HashMap.empty[(Int, String), Int].withDefaultValue(0)
    queries.foreach(q => q.terms.distinct.foreach(t => df((q.fieldIdx, t)) += 1))
    queries.map(q =>
      if (acEligible(q)) null
      else q.terms.minBy(t => (df((q.fieldIdx, t)), -t.length)))
  }

  private[engine] def finishPostings(
      m: java.util.HashMap[String, mutable.ArrayBuilder.ofInt]): java.util.HashMap[String, Array[Int]] = {
    val out = new java.util.HashMap[String, Array[Int]](m.size())
    m.forEach((k, v) => out.put(k, v.result()))
    out
  }
}

object CompiledDictionary {
  /** Persist a compiled dictionary for reuse across jobs / streaming
    * restarts (compile once on one driver, load everywhere). Plain JVM
    * serialization of the immutable compiled form — same bytes the
    * broadcast would ship.
    */
  def save(cd: CompiledDictionary, path: String): Unit = {
    val out = new java.io.ObjectOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    try out.writeObject(cd) finally out.close()
  }

  def load(path: String): CompiledDictionary = {
    val in = new java.io.ObjectInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(path)))
    try in.readObject().asInstanceOf[CompiledDictionary] finally in.close()
  }
}

/** Synonym id remap + "_type" strip (`phrases.clj:217-226`). */
object PostProcess {
  def apply(a: Annotation): Annotation = {
    var r = a
    if (r.meta.get("synonym?").contains("true"))
      r.meta.get("query-id").foreach(pid => r = r.copy(dictEntryId = pid))
    if (r.meta.contains("_type")) r = r.copy(meta = r.meta - "_type")
    r
  }
}

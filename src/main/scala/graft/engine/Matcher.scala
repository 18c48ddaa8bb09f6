package graft.engine

import graft.dict.Annotation

import scala.collection.mutable

/** Native matchers replacing Lucene's MultiPhraseQuery / SpanNearQuery
  * evaluation + the reference's highlight reconstruction.
  *
  * Semantics pinned by `phrases_test.clj` (see SURVEY §2.4):
  *  - MultiPhrase path: slop = phrase edit distance over token positions
  *    (slop 2 permits adjacent transposition); every occurrence is one
  *    whole-span annotation; overlapping occurrences all reported.
  *  - Span path (in-order / fuzzy): term-level hits are paired via the
  *    reference's begin/end pairing workaround (`phrases.clj:17-82`) —
  *    including its quirks (e.g. the FIXME at `phrases_test.clj:421-424`),
  *    which we replicate for observable parity.
  */
object Matcher {

  private final case class Hit(pos: Int, begin: Int, end: Int, surface: String)

  def matchQuery(
      q: CompiledQuery, field: FieldTokens, text: String, typeName: String,
      out: mutable.ArrayBuffer[Annotation]): Unit = {
    if (field.tokens.isEmpty) return
    if (q.span) matchSpan(q, field, text, typeName, out)
    else matchPhrase(q, field, text, typeName, out)
  }

  // ---------------------------------------------------------------- phrase

  /** MultiPhraseQuery-with-slop semantics. An occurrence is an injective
    * assignment of phrase index i -> doc position p_i with all q_i = p_i - i
    * inside a window of size `slop` (equivalently max(q)-min(q) <= slop:
    * one gap costs 1, an adjacent transposition costs 2 — matching Lucene's
    * sloppy phrase acceptance, `phrases_test.clj:244-280`). Each distinct
    * [min(p), max(p)] span is one annotation.
    */
  private def matchPhrase(
      q: CompiledQuery, field: FieldTokens, text: String, typeName: String,
      out: mutable.ArrayBuffer[Annotation]): Unit = {
    val n = q.terms.length
    val P = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val p = field.positions.get(q.terms(i))
      if (p == null) return
      P(i) = p
      i += 1
    }
    val spans = mutable.LinkedHashSet.empty[Long] // (minP << 32) | maxP
    if (q.slop == 0) {
      // exact adjacency fast path
      val p0 = P(0)
      var j = 0
      while (j < p0.length) {
        val s = p0(j)
        var k = 1
        var ok = true
        while (ok && k < n) {
          if (java.util.Arrays.binarySearch(P(k), s + k) < 0) ok = false
          k += 1
        }
        if (ok) spans += ((s.toLong << 32) | (s + n - 1).toLong)
        j += 1
      }
    } else if (n == 2 && q.terms(0) != q.terms(1)) {
      // two distinct terms — the dominant dictionary shape (bigrams):
      // an occurrence is a pair (p0, p1) with |p0 - p1 + 1| <= slop
      // (the window condition collapses to this for n=2), span
      // [min, max], tightest max per min — a direct range scan per p0
      // instead of the general window enumeration below (~10x cheaper)
      val p0s = P(0); val p1s = P(1)
      val bestEnd = mutable.SortedMap.empty[Int, Int]
      var j = 0
      while (j < p0s.length) {
        val p0 = p0s(j)
        var k = lowerBound(p1s, p0 + 1 - q.slop)
        while (k < p1s.length && p1s(k) <= p0 + 1 + q.slop) {
          val p1 = p1s(k)
          val mn = math.min(p0, p1); val mx = math.max(p0, p1)
          val cur = bestEnd.getOrElse(mn, Int.MaxValue)
          if (mx < cur) bestEnd(mn) = mx
          k += 1
        }
        j += 1
      }
      bestEnd.foreach { case (s, e) => spans += ((s.toLong << 32) | e.toLong) }
    } else {
      // Enumerate occurrences by start position (like Lucene's sloppy
      // phrase matcher): for each anchor (phrase index j at doc position s
      // with p_j = s = min position), try the candidate q-windows
      // [m, m+slop] containing q_j = s - j; greedy assignment per
      // term-group (identical terms need distinct positions; their windows
      // are ordered by phrase index, so increasing greedy is complete).
      // Emit the tightest span per start position.
      val termGroups: Array[(Array[Int], Array[Int])] = // (positions, phrase idxs)
        q.terms.zipWithIndex.groupBy(_._1).valuesIterator
          .map(g => (field.positions.get(g.head._1), g.map(_._2).sorted))
          .toArray
      // candidate window starts: values where a bound snaps to a position
      val mCands = mutable.SortedSet.empty[Int]
      i = 0
      while (i < n) {
        val p = P(i)
        var j = 0
        while (j < p.length) { mCands += p(j) - i; mCands += p(j) - i - q.slop; j += 1 }
        i += 1
      }
      val mArr = mCands.toArray
      // anchors: every (phrase index j, position s)
      val bestEnd = mutable.SortedMap.empty[Int, Int] // start -> tightest end
      var ji = 0
      while (ji < n) {
        val pj = P(ji)
        var si = 0
        while (si < pj.length) {
          val s = pj(si)
          val mLo = s - ji - q.slop
          val mHi = s - ji
          var mi = lowerBound(mArr, mLo)
          while (mi < mArr.length && mArr(mi) <= mHi) {
            val m = mArr(mi)
            var maxP = Int.MinValue
            var ok = true
            var g = 0
            while (ok && g < termGroups.length) {
              val (pos, idxs) = termGroups(g)
              val groupHasAnchor = java.util.Arrays.binarySearch(idxs, ji) >= 0 &&
                (pos eq P(ji))
              var prev = Int.MinValue
              var k = 0
              while (ok && k < idxs.length) {
                val phraseI = idxs(k)
                val hi = m + q.slop + phraseI
                var chosenPos = -1
                if (groupHasAnchor && phraseI == ji) {
                  // the anchor index must sit exactly at s
                  if (s >= math.max(m + phraseI, prev + 1) && s <= hi) chosenPos = s
                } else {
                  val lo = math.max(math.max(m + phraseI, prev + 1), s)
                  var c = smallestAtLeast(pos, lo)
                  // don't steal the anchor's position from its group
                  if (c >= 0 && groupHasAnchor && pos(c) == s && phraseI != ji)
                    c = if (c + 1 < pos.length) c + 1 else -1
                  if (c >= 0 && pos(c) <= hi) chosenPos = pos(c)
                }
                if (chosenPos < 0) ok = false
                else {
                  prev = chosenPos
                  if (chosenPos > maxP) maxP = chosenPos
                }
                k += 1
              }
              g += 1
            }
            if (ok) {
              val cur = bestEnd.getOrElse(s, Int.MaxValue)
              if (maxP < cur) bestEnd(s) = maxP
            }
            mi += 1
          }
          si += 1
        }
        ji += 1
      }
      bestEnd.foreach { case (s, e) => spans += ((s.toLong << 32) | e.toLong) }
    }
    val annType = q.metadata.getOrElse("_type", typeName)
    spans.toArray.sorted.foreach { s =>
      val minP = (s >> 32).toInt
      val maxP = (s & 0xffffffffL).toInt
      val b = field.tokens(minP).begin
      val e = field.tokens(maxP).end
      out += Annotation(text.substring(b, e), annType, q.queryId, q.metadata, b, e)
    }
  }

  // ------------------------------------------------------------------ span

  private def matchSpan(
      q: CompiledQuery, field: FieldTokens, text: String, typeName: String,
      out: mutable.ArrayBuffer[Annotation]): Unit = {
    val n = q.terms.length
    // clause position sets (fuzzy clauses expand to all doc terms within
    // edit distance, like Lucene's SpanMultiTermQueryWrapper(FuzzyQuery))
    val expandCache = mutable.HashMap.empty[String, Array[Int]]
    val C = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val t = q.terms(i)
      val c =
        if (!q.fuzzy) field.positions.get(t)
        else expandCache.getOrElseUpdate(t, fuzzyPositions(field, t, q.fuzziness))
      if (c == null || c.isEmpty) return
      C(i) = c
      i += 1
    }
    val hitPos = mutable.SortedSet.empty[Int]
    if (q.ordered) {
      // anchored at each position of clause 0; greedy minimal completion;
      // total gap for ordered term spans = p_last - p_0 - (n-1)
      val c0 = C(0)
      var a = 0
      var exhausted = false
      while (!exhausted && a < c0.length) {
        var prev = c0(a)
        var ok = true
        var k = 1
        while (ok && k < n) {
          val j = smallestAtLeast(C(k), prev + 1)
          if (j < 0) { ok = false; exhausted = true }
          else prev = C(k)(j)
          k += 1
        }
        if (ok && prev - c0(a) - (n - 1) <= q.slop) {
          // re-walk to record chosen positions
          var p = c0(a)
          hitPos += p
          var k2 = 1
          while (k2 < n) {
            p = C(k2)(smallestAtLeast(C(k2), p + 1))
            hitPos += p
            k2 += 1
          }
        }
        a += 1
      }
    } else {
      // unordered: anchor by minimum position; identical clauses (same
      // term) assigned increasing for distinctness
      val groups: Array[(Array[Int], Int)] = // (positions, multiplicity)
        q.terms.groupBy(identity).valuesIterator
          .map(g => (if (!q.fuzzy) field.positions.get(g.head)
                     else expandCache(g.head), g.length))
          .toArray
      val anchors = mutable.SortedSet.empty[Int]
      C.foreach(c => c.foreach(anchors += _))
      anchors.foreach { s =>
        var minP = Int.MaxValue
        var maxP = Int.MinValue
        var ok = true
        val chosen = new mutable.ArrayBuilder.ofInt
        var g = 0
        while (ok && g < groups.length) {
          val (pos, mult) = groups(g)
          var prev = s - 1
          var k = 0
          while (ok && k < mult) {
            val j = smallestAtLeast(pos, prev + 1)
            if (j < 0) ok = false
            else {
              prev = pos(j)
              chosen += prev
              if (prev < minP) minP = prev
              if (prev > maxP) maxP = prev
            }
            k += 1
          }
          g += 1
        }
        if (ok && minP == s && (maxP - minP + 1 - n) <= q.slop)
          chosen.result().foreach(hitPos += _)
      }
    }
    if (hitPos.isEmpty) return
    val hits = hitPos.toArray.map { p =>
      val t = field.tokens(p)
      Hit(p, t.begin, t.end, text.substring(t.begin, t.end))
    }
    pairAndEmit(q, hits, text, typeName, out)
  }

  /** The reference's span-highlight reconstruction
    * (`phrases.clj:17-82`): term hits are grouped into (begin, end) pairs
    * via greedy left-to-right pairing; one annotation per pair. NOTE the
    * reference resolves the annotation type from `clojure.core/meta`
    * instead of the query metadata (`phrases.clj:78`), so span-path
    * annotations always carry the default type name — replicated.
    */
  private def pairAndEmit(
      q: CompiledQuery, hits: Array[Hit], text: String, typeName: String,
      out: mutable.ArrayBuffer[Annotation]): Unit = {
    val firstText = hits.head.surface
    val lastText = hits.last.surface
    val starts = hits.filter(_.surface == firstText)
    val endsRaw = hits.filter(_.surface == lastText)
    // group-sequencial-ending: collapse consecutive-position runs, keep last
    val ends = mutable.ArrayBuffer.empty[Hit]
    var cur = mutable.ArrayBuffer.empty[Hit]
    endsRaw.foreach { h =>
      if (cur.isEmpty || cur.last.pos + 1 == h.pos) cur += h
      else { ends += cur.last; cur = mutable.ArrayBuffer(h) }
    }
    if (cur.nonEmpty) ends += cur.last
    // pair-begins-with-ends
    var ss: List[Hit] = starts.toList
    var es: List[Hit] = ends.toList
    val meta = q.metadata - "_in-order"
    while (ss.nonEmpty && es.nonEmpty) {
      val s = ss.head
      val e = es.head
      if (s.pos == e.pos) es = es.tail
      else {
        if (e.end > s.begin)
          out += Annotation(text.substring(s.begin, e.end), typeName, q.queryId,
            meta, s.begin, e.end)
        ss = ss.tail.filter(_.pos >= e.pos)
        es = es.tail
      }
    }
  }

  // ----------------------------------------------------------------- utils

  /** Insertion point of the smallest element >= lo (may equal arr.length). */
  private def lowerBound(arr: Array[Int], lo: Int): Int = {
    var r = java.util.Arrays.binarySearch(arr, lo)
    if (r < 0) r = -r - 1
    r
  }

  /** Index of the smallest element >= lo in a sorted array, or -1. */
  private def smallestAtLeast(arr: Array[Int], lo: Int): Int = {
    var r = java.util.Arrays.binarySearch(arr, lo)
    if (r < 0) r = -r - 1
    if (r >= arr.length) -1 else r
  }

  /** All doc positions whose term is within `maxEdits` (optimal string
    * alignment / Damerau-Levenshtein with transpositions, like Lucene
    * FuzzyQuery) of `term`: the doc terms sharing a hashed deletion
    * variant with `term` in the field's [[FieldTokens.fuzzyIndex]], each
    * confirmed with [[withinEdits]].
    */
  private[graft] def fuzzyPositions(field: FieldTokens, term: String, maxEdits: Int): Array[Int] =
    field.fuzzyIndex(maxEdits, term.length - maxEdits, term.length + maxEdits)
      .positionsWithin(term, maxEdits)

  /** Bounded optimal-string-alignment distance check. */
  def withinEdits(a: String, b: String, maxE: Int): Boolean = {
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > maxE) return false
    if (maxE == 0) return a == b
    // full OSA DP with row-min early exit (strings are short terms)
    val prevPrev = new Array[Int](lb + 1)
    var prev = new Array[Int](lb + 1)
    var curr = new Array[Int](lb + 1)
    var j = 0
    while (j <= lb) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= la) {
      curr(0) = i
      var rowMin = curr(0)
      j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 && a.charAt(i - 1) == b.charAt(j - 2) &&
          a.charAt(i - 2) == b.charAt(j - 1))
          v = math.min(v, prevPrev(j - 2) + 1)
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > maxE) return false
      System.arraycopy(prev, 0, prevPrev, 0, lb + 1)
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    prev(lb) <= maxE
  }
}

/** Same-type interval merge — faithful port of `annotation_merger.clj`:
  * group by type; within a group sort by begin offset and sweep, keeping
  * the containing ("parent") annotation; overlapping-but-not-nested and
  * equal spans: the later one wins.
  */
object AnnotationMerger {

  private def related(a1: Annotation, a2: Annotation): Boolean =
    a1.beginOffset <= a2.beginOffset && a2.beginOffset <= a1.endOffset

  private def parentChild(p: Annotation, c: Annotation): Boolean =
    c.beginOffset >= p.beginOffset && c.endOffset <= p.endOffset

  def merge(annotations: Seq[Annotation]): Seq[Annotation] = {
    if (annotations.isEmpty) return annotations
    val sorted = annotations.sortBy(_.beginOffset)
    val result = mutable.ArrayBuffer.empty[Annotation]
    var parent = sorted.head
    sorted.tail.foreach { child =>
      if (related(parent, child)) {
        parent =
          if (parentChild(parent, child) && !parentChild(child, parent)) parent
          else child
      } else {
        result += parent
        parent = child
      }
    }
    result += parent
    result.toSeq
  }

  def mergeSameType(annotations: Seq[Annotation]): Seq[Annotation] = {
    // preserve first-seen type order for determinism
    val grouped = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Annotation]]
    annotations.foreach(a => grouped.getOrElseUpdate(a.annType, mutable.ArrayBuffer.empty) += a)
    grouped.valuesIterator.flatMap(g => merge(g.toSeq)).toSeq
  }
}

package graft.engine

import scala.collection.mutable

/** Hashes of a term's deletion variants, for the symmetric-delete fuzzy
  * presearch. A term within OSA distance f of another shares with it a
  * string reachable by at most f character deletions from each side
  * (substitution and transposition cost one deletion on both sides,
  * insertion and deletion one on one side). The presearch indexes those
  * deletion variants as 64-bit hashes computed from the term's prefix
  * hashes, never as strings: a polynomial over the UTF-16 chars mod 2^64,
  * mixed with the variant's length. A term of length n has 1 + n variants
  * at f = 1 and 1 + n + n(n-1)/2 at f = 2, each hashed in O(1).
  *
  * Two different variants may share a hash. A collision only adds a
  * candidate (a query or a doc term), which the exact match then rejects,
  * so it never changes an annotation.
  *
  * Appends go to [[hashes]]/[[ids]] (`size` of them since [[clear]]);
  * one instance per thread.
  */
private[engine] final class VariantHasher(capacity: Int) {
  var hashes: Array[Long] = new Array[Long](math.max(capacity, 16))
  var ids: Array[Int] = new Array[Int](math.max(capacity, 16))
  var size = 0
  private var pre = new Array[Long](32) // pre(k): hash of s[0, k)
  private var pow = new Array[Long](32) // pow(k): Base^k

  def clear(): Unit = size = 0

  /** Adds, each under `id`, the hash of every string reachable from `s` by
    * deleting at most `maxDel` (0 to 2) chars, `s` itself included.
    * Different deletions can give one string (`aab` loses either `a`), so
    * a hash may repeat within one call.
    */
  def add(s: String, maxDel: Int, id: Int): Unit = {
    import VariantHasher._
    val n = s.length
    if (pre.length <= n) { pre = new Array[Long](2 * n + 2); pow = new Array[Long](2 * n + 2) }
    val need = size + count(n, maxDel)
    require(need <= Int.MaxValue - 16, s"$need deletion variants")
    if (hashes.length < need) {
      val cap = math.min(math.max(need, 2L * hashes.length), Int.MaxValue - 16L).toInt
      hashes = java.util.Arrays.copyOf(hashes, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
    pow(0) = 1L
    var k = 0
    while (k < n) {
      pre(k + 1) = pre(k) * Base + s.charAt(k)
      pow(k + 1) = pow(k) * Base
      k += 1
    }
    put(mix(pre(n), n), id)
    if (maxDel >= 1) {
      var i = 0
      while (i < n) {
        // s[0, i) · s[i+1, n)
        put(mix(pre(i) * pow(n - 1 - i) + sub(i + 1, n), n - 1), id)
        if (maxDel >= 2) {
          var left = pre(i) // s[0, i) · s[i+1, j)
          var j = i + 1
          while (j < n) {
            // s[0, i) · s[i+1, j) · s[j+1, n)
            put(mix(left * pow(n - 1 - j) + sub(j + 1, n), n - 2), id)
            left = left * Base + s.charAt(j)
            j += 1
          }
        }
        i += 1
      }
    }
  }

  /** Polynomial hash of s[a, b). */
  private def sub(a: Int, b: Int): Long = pre(b) - pre(a) * pow(b - a)

  private def put(h: Long, id: Int): Unit = {
    hashes(size) = h
    ids(size) = id
    size += 1
  }
}

private[engine] object VariantHasher {
  private final val Base = 0xc6a4a7935bd1e995L

  /** How many variants [[VariantHasher.add]] emits for a term of length n. */
  def count(n: Int, maxDel: Int): Long =
    1L + (if (maxDel >= 1) n else 0) + (if (maxDel >= 2) n.toLong * (n - 1) / 2 else 0)

  /** The variant's polynomial hash, mixed with its length (murmur3's
    * 64-bit finalizer, a bijection), so strings that differ only by
    * leading NUL chars hash apart and table slots take the low bits.
    */
  private def mix(h: Long, len: Int): Long = {
    var z = h + len * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
}

/** Immutable multimap from 64-bit hash to int ids, in primitive arrays:
  * the distinct [[keys]], whose ids are `ids(from(k) until until(k))`,
  * found through an open-addressing table (power-of-two size, at most
  * half full; 1 + key index, 0 = empty). Safe to share across threads.
  * Only keys and ids are serialized; the table is rebuilt from the keys
  * on first use.
  */
final class HashPostings private (
    val keys: Array[Long],
    start: Array[Int],
    ids: Array[Int]) extends Serializable {

  @transient @volatile private var table: Array[Int] = null

  private def slots: Array[Int] = {
    var t = table
    if (t == null) {
      t = HashPostings.newTable(keys.length)
      var k = 0
      while (k < keys.length) {
        t(HashPostings.freeSlot(t, keys, keys(k))) = k + 1
        k += 1
      }
      table = t
    }
    t
  }

  /** Index of `h` in [[keys]], or -1. */
  def find(h: Long): Int = {
    val t = slots
    val mask = t.length - 1
    var i = HashPostings.spread(h) & mask
    var s = t(i)
    while (s != 0) {
      if (keys(s - 1) == h) return s - 1
      i = (i + 1) & mask
      s = t(i)
    }
    -1
  }

  def from(k: Int): Int = start(k)
  def until(k: Int): Int = start(k + 1)
  def id(p: Int): Int = ids(p)

  def addIds(k: Int, out: mutable.ArrayBuilder.ofInt): Unit =
    out.addAll(ids, start(k), start(k + 1) - start(k))
}

object HashPostings {
  private def spread(h: Long): Int = (h ^ (h >>> 32)).toInt

  private def newTable(n: Int): Array[Int] = {
    var cap = 2
    while (cap < 2 * n) cap <<= 1
    new Array[Int](cap)
  }

  /** The slot of `table` that holds `h`, or the empty slot where it goes. */
  private def freeSlot(table: Array[Int], keys: Array[Long], h: Long): Int = {
    val mask = table.length - 1
    var i = spread(h) & mask
    while (table(i) != 0 && keys(table(i) - 1) != h) i = (i + 1) & mask
    i
  }

  /** The multimap of the first `n` (hashes(p), ids(p)) pairs. A pair equal
    * to an earlier one of the same run of ids is dropped, so callers that
    * add one id's hashes together get each id at most once per key.
    */
  private[engine] def build(hashes: Array[Long], ids: Array[Int], n: Int): HashPostings = {
    val table = newTable(n)
    val keys = new Array[Long](n)
    val start = new Array[Int](n + 1) // count of ids under key k at k + 1, then prefix sums
    val cursor = new Array[Int](n)    // 1 + the last id kept under key k, then fill cursors
    val keyOf = new Array[Int](n)     // key of pair p, or -1 when dropped
    var nk = 0
    var p = 0
    while (p < n) {
      val h = hashes(p)
      val i = freeSlot(table, keys, h)
      if (table(i) == 0) { keys(nk) = h; nk += 1; table(i) = nk }
      val k = table(i) - 1
      if (cursor(k) == ids(p) + 1) keyOf(p) = -1
      else { cursor(k) = ids(p) + 1; start(k + 1) += 1; keyOf(p) = k }
      p += 1
    }
    var k = 0
    while (k < nk) { start(k + 1) += start(k); cursor(k) = start(k); k += 1 }
    val out = new Array[Int](start(nk))
    p = 0
    while (p < n) {
      val kp = keyOf(p)
      if (kp >= 0) { out(cursor(kp)) = ids(p); cursor(kp) += 1 }
      p += 1
    }
    val hp = new HashPostings(java.util.Arrays.copyOf(keys, nk),
      java.util.Arrays.copyOf(start, nk + 1), out)
    hp.table = table
    hp
  }
}

/** One document field's hashed deletion-variant index: every distinct doc
  * term whose length lies in [lo, hi], under the hashes of its
  * ≤`depth`-deletion variants. Presearch probes the dictionary's fuzzy
  * anchor index with its keys ([[probe]]); the matcher expands a fuzzy
  * clause by probing it with the clause term's own variants
  * ([[positionsWithin]]). Per document and per thread, like
  * [[FieldTokens]].
  */
final class FuzzyTermIndex private (
    terms: Array[String],
    termPos: Array[Array[Int]],
    postings: HashPostings,
    hasher: VariantHasher,
    val depth: Int,
    val lo: Int,
    val hi: Int) {

  private val seen = new Array[Int](terms.length)
  private var epoch = 0

  /** True when this index is at least `d` deletions deep and holds every
    * doc term whose length is in [l, h].
    */
  def covers(d: Int, l: Int, h: Int): Boolean = depth >= d && lo <= l && hi >= h

  /** Appends the ids `anchors` holds under any of this index's variant
    * hashes: the candidate fuzzy queries of the document.
    */
  def probe(anchors: HashPostings, out: mutable.ArrayBuilder.ofInt): Unit = {
    val keys = postings.keys
    var k = 0
    while (k < keys.length) {
      val a = anchors.find(keys(k))
      if (a >= 0) anchors.addIds(a, out)
      k += 1
    }
  }

  /** Sorted positions of the doc terms within OSA distance `maxEdits` of
    * `term`. Needs `covers(maxEdits, term.length - maxEdits,
    * term.length + maxEdits)`.
    */
  def positionsWithin(term: String, maxEdits: Int): Array[Int] = {
    hasher.clear()
    hasher.add(term, maxEdits, 0)
    epoch += 1
    val b = new mutable.ArrayBuilder.ofInt
    var v = 0
    while (v < hasher.size) {
      val k = postings.find(hasher.hashes(v))
      if (k >= 0) {
        var p = postings.from(k)
        val end = postings.until(k)
        while (p < end) {
          val t = postings.id(p)
          if (seen(t) != epoch) {
            seen(t) = epoch
            if (Matcher.withinEdits(term, terms(t), maxEdits)) b.addAll(termPos(t))
          }
          p += 1
        }
      }
      v += 1
    }
    val r = b.result()
    java.util.Arrays.sort(r)
    r
  }
}

object FuzzyTermIndex {
  /** Indexes the terms of `positions` (term → positions) whose length is
    * in [lo, hi]. OSA distance ≤ f implies lengths within f, so a caller
    * that bounds [lo, hi] by its clause terms' lengths ± f loses no match,
    * and a document's long tokens cost nothing here.
    */
  private[engine] def build(
      positions: java.util.HashMap[String, Array[Int]], depth: Int, lo: Int, hi: Int): FuzzyTermIndex = {
    var n = 0
    var total = 0L
    val it = positions.keySet().iterator()
    while (it.hasNext) {
      val len = it.next().length
      if (len >= lo && len <= hi) { n += 1; total += VariantHasher.count(len, depth) }
    }
    val terms = new Array[String](n)
    val termPos = new Array[Array[Int]](n)
    val hasher = new VariantHasher(math.min(total, Int.MaxValue - 16L).toInt)
    val es = positions.entrySet().iterator()
    var t = 0
    while (es.hasNext) {
      val e = es.next()
      val term = e.getKey
      if (term.length >= lo && term.length <= hi) {
        terms(t) = term
        termPos(t) = e.getValue
        hasher.add(term, depth, t)
        t += 1
      }
    }
    val postings = HashPostings.build(hasher.hashes, hasher.ids, hasher.size)
    new FuzzyTermIndex(terms, termPos, postings, hasher, depth, lo, hi)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Per-row kernels (shingle hashing, minhash signatures, simhash) are
  * single-pass compiled scalar functions (Spark's nested higher-order SQL
  * functions evaluate interpreted and are far slower); everything around
  * them is native SQL so Catalyst pushes filters/projections into the
  * scan, and every join is on a narrow key (band hash / token), never a
  * cross join — the shapes survive a 100 TB corpus on a real cluster:
  *  - exact: shuffle on a 128-bit content hash, not the text itself.
  *  - minhash LSH: per-row signature (scan-local) → explode 16 band keys
  *    → capped posting lists per (band, key) expanded into ordered
  *    candidate pairs → exact-verify only the candidates.
  *  - simhash: per-row 64-bit signature → 4×16-bit band join →
  *    hamming-distance verify via xor/bit_count.
  *  - ngram jaccard: inverted-index join on shingle (no O(n²) pairing).
  */
object Dedup {

  /** Exact dedup on a content hash. Output: one row per distinct content
    * with the kept (minimum) id and the duplicate count. Grouping by
    * md5(text) keeps the shuffle key 32 bytes regardless of document size.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Ordered candidate pairs (`id_a < id_b` by the column's own
    * ordering) within each bucket of an already-CAPPED (id, keyCols…)
    * relation, via posting lists instead of a bucket self-join: one
    * `collect_list` aggregation on the bucket key — which reuses the
    * partitioning the upstream cap join already established, so NO new
    * exchange — then a two-level generator expands each sorted list
    * into its ordered pairs. The self-join formulation it replaces paid
    * two more exchanges of the banded relation plus a sort-merge join
    * to produce the identical rows (same pairs, same multiplicity: each
    * bucket's ids are distinct, `collect_list` skips nulls exactly like
    * the join's null-rejecting `<` predicate).
    *
    * CONTRACT: `capped` must already be bucket-size-capped (every
    * caller filters `__bucket_n`/`__df` <= maxBucket first) — the
    * collected list buffer is then bounded at cap×8 bytes, never the
    * raw bucket. The pair expansion itself streams row-by-row through
    * the two generators (peak state = one posting list), so a full
    * cap-sized bucket expands without materializing its cap²/2 pairs.
    */
  /** Per-row group size over `keyCols` as `countCol`, computed with ONE
    * window aggregate over the bucket key instead of a pre-aggregation
    * joined back on it. Effects (guide §2.4/§3.1):
    *  - the window's exchange establishes the bucket-key hash
    *    partitioning that the downstream bucket aggregation
    *    ([[bucketPairs]]) or bucket self-join then REUSES, and the
    *    grouped relation is derived ONCE (the join formulation
    *    re-derived it a second time for its count branch);
    *  - the plan is deterministic: AQE planned the count join
    *    broadcast-vs-shuffle run to run depending on its size estimate
    *    of the count side (the r18 "AQE-bimodal" observation on
    *    q_dedup_jaccard), and the broadcast choice is scale-WRONG —
    *    bucket counts grow with the corpus (billions of distinct
    *    shingles/band keys at 100 TB) while a window never collects.
    * The trade: the window SORTS every input row by the bucket key
    * where the join only aggregates. Paired A/B (r18 opt round) split
    * the call sites — the window won where the input relation is
    * moderate and feeds bucket-keyed consumers (minhash/simhash bands,
    * CDC chunk tables, line hashes: 0.85–1.00×) and LOST where the
    * input is huge relative to its aggregated count side
    * ([[ngramJaccardPairs]]' inverted index 1.45×, [[duplicateSpans]]'
    * semi-join 1.25×) — those keep the aggregate + join, each with its
    * measurement note inline.
    * Skew note: the window buffers one bucket-key group at a time
    * (spillable); the join formulation shuffled the same skewed rows to
    * the same partition, so exposure on a degenerate hot key is
    * unchanged, and the cap filter drops it immediately downstream.
    * Count-over-window groups NULL keys together where the equi-join
    * dropped them; every caller's key is a non-null hash/band value.
    */
  private def withGroupCount(df: DataFrame, keyCols: Seq[String],
      countCol: String): DataFrame =
    df.withColumn(countCol, count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)))

  /** Rows of `tbl` (`id`, `posCol`, `__h`) whose hash occurs more than
    * once corpus-wide, with the group's frequency `__c` and
    * first-occurrence `owner` struct (min (id, posCol)) attached — the
    * ownership-election input of the span/chunk removal ops, computed
    * in ONE hash-partitioned window pass instead of the
    * frequency/owner aggregate joined back (same rationale as
    * [[withGroupCount]]).
    */
  private def dupOwnerOccurrences(tbl: DataFrame, posCol: String,
      hashCol: String = "__h"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(hashCol))
    tbl
      .withColumn("__c", count(lit(1)).over(w))
      .withColumn("owner", min(struct(col("id"), col(posCol))).over(w))
      .filter(col("__c") > 1)
  }

  private def bucketPairs(capped: DataFrame, keyCols: Seq[String]): DataFrame = {
    val postings = capped.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    postings
      .select(posexplode(col("ids")).as(Seq("__i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("__i") + lit(2), size(col("ids"))))
          .as("id_b"))
  }

  /** Distinct word n-gram shingles of `textCol` as an array column.
    * Documents with fewer than n words produce an empty array.
    */
  def shingles(textCol: Column, n: Int): Column = {
    val w = split(textCol, " ")
    when(size(w) >= n,
      array_distinct(
        transform(sequence(lit(1), size(w) - (n - 1)), i =>
          concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Sorted distinct 64-bit shingle hashes of a text in ONE compiled
    * pass — a rolling FNV-1a window over the tokens, hashing each
    * distinct shingle once. This replaces `xxhash64(shingles(...))` in
    * the pair operators: the nested higher-order SQL version evaluates
    * its lambdas interpreted and builds every shingle string, an order
    * of magnitude more per-row work (and the dominant erratic cost in
    * the pair-production stage). Exposed as the codegen'd expression
    * `graft_shingle_hashes`.
    */
  private[graft] def shingleHashesValue(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.empty[Long]
    val toks = text.split(" ")
    if (toks.length < n) return Array.empty[Long]
    // primitive array + sort + in-place dedup, NOT a TreeSet[JLong]:
    // the boxed tree cost one allocation and a pointer-chasing O(log w)
    // insert per window hash in the hottest per-row kernel of the
    // jaccard family; the dual-pivot primitive sort produces the
    // identical sorted-distinct array (r18 opt round, guide §4)
    val wins = toks.length - n + 1
    val arr = new Array[Long](wins)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var k = i
      while (k < i + n) {
        val t = toks(k)
        var j = 0
        while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
        if (k < i + n - 1) { h ^= ' '; h *= 0x100000001b3L }
        k += 1
      }
      arr(i) = h
      i += 1
    }
    java.util.Arrays.sort(arr)
    var m = 0
    var p = 0
    while (p < wins) {
      if (m == 0 || arr(p) != arr(m - 1)) { arr(m) = arr(p); m += 1 }
      p += 1
    }
    if (m == wins) arr else java.util.Arrays.copyOf(arr, m)
  }

  private def shingleHashes(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.ShingleHashesExpression(
        org.apache.spark.sql.GraftBridge.expression(c), n))

  /** Exact pairwise jaccard over distinct word-n-gram shingle sets via an
    * inverted-index join: explode hashed shingles, self-join on the shingle
    * hash to generate CANDIDATE pairs, then exact-verify each candidate
    * with a full hashed-set intersection — jaccard =
    * common / (|a|+|b|-common). Only pairs sharing >=1 indexed shingle are
    * ever materialized, and the join key is the 8-byte shingle hash.
    *
    * Skew guard: a shingle shared by k documents contributes k² join rows,
    * and at corpus scale boilerplate shingles (headers, license blocks)
    * have k in the millions. Shingles with document frequency >
    * `maxShingleDf` are dropped from the inverted index BEFORE the
    * self-join. The cap never changes a reported jaccard value: dropped
    * shingles still count through the exact verification of surviving
    * candidates — precision is exact, and a true pair is missed only when
    * EVERY shingle it shares is ultra-common (such documents are
    * boilerplate floods that exact dedup removes first; see the OpsSpec
    * recall test).
    *
    * Execution shape (matters at 100 TB): candidate scoring is a
    * `groupBy(id_a, id_b).count` over the inverted self-join — partial
    * aggregation combines map-side, and only 16-byte pair keys travel
    * through the shuffle, never shingle arrays. Candidates are pruned with
    * a jaccard UPPER BOUND (capped common + the smaller of the two docs'
    * dropped-shingle counts; jaccard is increasing in common, so no true
    * pair is pruned) and only the survivors — normally a tiny fraction —
    * are joined back to the full hashed sets for exact verification.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5, persist: Boolean = true,
      maxShingleDf: Int = 10000): DataFrame = {
    val sh0 = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sh = if (persist)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    // __sz (the doc's distinct-shingle count) rides the inverted rows —
    // 8 bytes/row through the df-count exchange — so the per-doc stats
    // below fold out of invCapped alone instead of paying a second join
    // back to `sh` (one fewer exchange + join per call; r18 opt round)
    val inv = sh.select(col("id"), explode(col("sh")).as("sh_hash"),
      size(col("sh")).as("__sz"))
    val dfCounts = inv.select(col("sh_hash"))
      .groupBy(col("sh_hash")).agg(count(lit(1)).as("__df"))
    // Persisted because it feeds BOTH self-join sides and the per-doc
    // stats — without it the explode + df-count join replays three times.
    // Same cache contract as `sh` (see the minhashPairs persist note).
    // __df rides along so the self-join sides can also drop df=1 rows.
    // Deliberately NOT the [[withGroupCount]] window shape: paired A/B
    // (r18 opt, 2×5 pairs) measured the window at med 1.45× the join
    // here — the inverted index is large (≈10²–10³ rows/doc) while the
    // df-count side aggregates it ~2 orders down before the join, so
    // the window's full sort of `inv` costs more than the count
    // join ever does.
    val invCapped0 = inv.join(dfCounts, Seq("sh_hash"))
      .filter(col("__df") <= maxShingleDf)
    val invCapped = if (persist)
      invCapped0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else invCapped0
    // Per-doc bookkeeping: distinct-shingle count and how many of them the
    // df cap removed from the index (observable recall budget per doc).
    // max(__sz) == the doc's constant __sz (one value per id).
    val stats0 = invCapped.groupBy(col("id"))
      .agg(count(lit(1)).as("__kept"), max(col("__sz")).as("sz"))
      .select(col("id"), col("sz"), (col("sz") - col("__kept")).as("dropped"))
    // Persisted: the survivor filter joins stats TWICE (id_a and id_b
    // sides) and Spark's exchange reuse does NOT dedupe the two agg
    // chains (verified in the AQE final plan: two separate
    // Exchange+HashAggregate chains over the cached index, each a full
    // 1.25M-row cache scan at sf0.1) — the persist makes the second
    // derivation a ~|docs|-row cache read. Paired A/B (r18 opt):
    // q_dedup_jaccard 0.96, q_dedup_best 0.89, q_srcdup 1.04 — at or
    // below parity locally, and one aggregation pass over the inverted
    // index instead of two at corpus scale.
    val stats = if (persist)
      stats0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else stats0
    // A df=1 shingle appears in exactly one document and can't emit a
    // pair row — exclude those (typically the MAJORITY of a natural
    // corpus's shingles) from both self-join sides. Output is unchanged;
    // the join's shuffle and build sides shrink by the unique-shingle
    // mass. They still count as "kept" above: only df > cap shingles
    // weaken the upper bound.
    val invPairable = invCapped.filter(col("__df") >= 2)
      .drop("__df", "__sz")
    // Shared-capped-shingle count per candidate pair. Each (id, sh_hash)
    // is unique (shingle sets are distinct), so count(*) == |capped
    // intersection| exactly. Deliberately NOT the [[bucketPairs]]
    // posting-list shape the banded LSH paths use: here EVERY shared
    // shingle of every candidate pair flows through this aggregation
    // (not just bucket membership), and the codegen'd
    // join → partial-count HashAggregate pipeline measured faster than
    // collect_list's ObjectHashAggregate + generate expansion at that
    // row volume (r18 opt round: 1.98 s vs 2.23 s for q_dedup_jaccard).
    val commonCapped = invPairable.as("x").join(invPairable.as("y"),
        col("x.sh_hash") === col("y.sh_hash") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("common_capped"))
    // Upper-bound prune: every shared shingle NOT counted above has
    // df > cap and was dropped from BOTH docs, so
    // true_common <= common_capped + least(dropped_a, dropped_b).
    val survivors = commonCapped
      .join(stats.withColumnsRenamed(
        Map("id" -> "id_a", "sz" -> "__sz_a", "dropped" -> "__dr_a")), "id_a")
      .join(stats.withColumnsRenamed(
        Map("id" -> "id_b", "sz" -> "__sz_b", "dropped" -> "__dr_b")), "id_b")
      .withColumn("__ub",
        col("common_capped") + least(col("__dr_a"), col("__dr_b")))
      .filter(col("__ub").cast("double") /
        (col("__sz_a") + col("__sz_b") - col("__ub")) >= threshold)
    // A count-exact fast path was tried and REVERTED here (r19 opt
    // round): a shingle's df > cap status is global (a shared shingle
    // drops from both docs or neither), so survivor pairs with
    // least(dropped_a, dropped_b) == 0 have common == common_capped
    // exactly and could skip the set verify via a union of a
    // counts-only branch with the both-docs-capped residual. Paired
    // interleaved A/B (one warm JVM, 6 pairs): the union shape measured
    // median 1.24× SLOWER — the second branch adds two broadcast builds
    // of `sh` plus extra stages/AQE planning, while the array work it
    // avoids is proportional to the (tiny) survivor set; at corpus
    // scale the verify's cost is the survivor-broadcast probe scans of
    // `sh`, which the union shape does not remove either.
    survivors.select(col("id_a"), col("id_b"))
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-document recall budget of the [[ngramJaccardPairs]] df cap:
    * (id, n_shingles, n_dropped), where n_dropped counts the document's
    * distinct shingles with df > maxShingleDf (excluded from candidate
    * generation). A document can only lose a true pair when EVERY shingle
    * it shares with the partner is dropped, so `n_dropped` bounds the
    * recall exposure — run this when tuning the cap on a new corpus.
    */
  def shingleDropStats(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, maxShingleDf: Int = 10000): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val inv = sh.select(col("id"), explode(col("sh")).as("sh_hash"))
    val dfCounts = inv.groupBy(col("sh_hash")).agg(count(lit(1)).as("__df"))
    inv.join(dfCounts, Seq("sh_hash"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") > maxShingleDf, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Deterministic per-permutation seeds for the minhash signature. */
  private[graft] def minhashSeeds(numPerms: Int): Array[Long] = {
    val rnd = new java.util.Random(42L)
    Array.fill(numPerms)(rnd.nextLong())
  }

  /** text → (sh: sorted distinct 64-bit shingle hashes, sig: minhash
    * signature) in a single compiled pass: tokenize on spaces, roll the
    * n-gram window hashing each distinct shingle once (FNV-1a over the
    * window's chars), remix per permutation (splitmix64 finalizer).
    * Exposed as the codegen'd expression `graft_shingle_signature`.
    */
  private[graft] def shingleSignatureValue(
      text: String, n: Int, seeds: Array[Long]): (Array[Long], Array[Long]) = {
    val numPerms = seeds.length
    if (text == null) return (Array.empty, Array.empty)
    val toks = text.split(" ")
    if (toks.length < n) return (Array.empty, Array.empty)
    // primitive array + sort + in-place dedup instead of a boxed
    // TreeSet (the [[shingleHashesValue]] note); the per-distinct
    // permutation fold runs over the deduped prefix — min is
    // commutative, so folding in sorted rather than first-encounter
    // order leaves every signature value identical
    val wins = toks.length - n + 1
    val arr = new Array[Long](wins)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var k = i
      while (k < i + n) {
        val t = toks(k)
        var j = 0
        while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
        if (k < i + n - 1) { h ^= ' '; h *= 0x100000001b3L }
        k += 1
      }
      arr(i) = h
      i += 1
    }
    java.util.Arrays.sort(arr)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var m = 0
    var p = 0
    while (p < wins) {
      if (m == 0 || arr(p) != arr(m - 1)) {
        arr(m) = arr(p)
        m += 1
        val h = arr(p)
        var q = 0
        while (q < numPerms) {
          var z = h ^ seeds(q)
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          if (z < sig(q)) sig(q) = z
          q += 1
        }
      }
      p += 1
    }
    val sh = if (m == wins) arr else java.util.Arrays.copyOf(arr, m)
    (sh, sig)
  }

  /** MinHash + LSH near-duplicate pairs, exact-verified.
    *
    * numPerms=64 split into `bands` bands of numPerms/bands rows; a pair
    * lands in a candidate bucket when any band agrees fully. Candidates
    * are then verified with EXACT shingle jaccard, so precision is exact
    * and only recall depends on the banding (P[catch] = 1-(1-j^r)^b;
    * at j=0.8, r=4, b=16: ~0.9998).
    */
  /* Note on persist: the shingle/signature relation feeds the banding
   * pass AND both sides of the verify join; without persisting, Spark
   * replays the scan + hashing once per use (3x the corpus reads at
   * scale). The cache is left to Spark's LRU eviction; long-running
   * services calling this repeatedly should pass persist=false or clear
   * via spark.catalog.clearCache(). */
  def minhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, persist: Boolean = true): DataFrame = {
    val rows = numPerms / bands
    // One compiled pass per row computes the hashed shingle set AND the
    // minhash signature straight from the text — no intermediate string
    // shingle arrays through Tungsten, and the codegen'd expression keeps
    // the scan inside whole-stage codegen. Shingle sets are carried as
    // 64-bit hashes (8 bytes/element through the verify join); jaccard
    // over hashed sets equals set jaccard up to ~n²/2⁶⁴ collision chance.
    val shingleSig = org.apache.spark.sql.GraftBridge.column(
      graft.spark.ShingleSignatureExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), n, numPerms))
    val sh0 = df
      .select(col(idCol).as("id"), shingleSig.as("ss"))
      .filter(size(col("ss.sh")) > 0)
      .select(col("id"), col("ss.sh").as("sh"), col("ss.sig").as("sig"))
    val sig = if (persist)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    val sh = sig.select(col("id"), col("sh"))
    val banded = sig.select(col("id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> xxhash64(slice(sig, b * $rows + 1, $rows)))")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    // Skew guard: a degenerate band key shared by k docs contributes k²
    // candidate pairs. Cap bucket size — documents in a >maxBucket bucket
    // are near-identical to MANY others and still pair up through their
    // other 15 bands, while the join stays skew-free.
    val maxBucket = 10000
    // lower bound 2: a singleton bucket (the common case — most docs are
    // not near-dups) can't emit a pair; dropping it shrinks the
    // candidate aggregation with provably identical output
    val bandedCapped = withGroupCount(banded, Seq("band", "band_key"), "__bucket_n")
      .filter(col("__bucket_n") <= maxBucket && col("__bucket_n") >= 2)
      .drop("__bucket_n")
    val cand = bucketPairs(bandedCapped, Seq("band", "band_key")).distinct()
    // exact verification of candidates only
    val withSets = cand
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
    withSets
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-duplicate pair graph: every document
    * gets the minimum id reachable through any chain of pairs as its
    * cluster id (exact transitive clustering, vs the keep-smallest
    * approximation of [[dropNearDuplicates]]).
    *
    * HYBRID execution (a bounded input computes on the driver, a larger
    * one stays distributed): the pair relation is the near-dup MINORITY of
    * the corpus — frequently small in absolute terms even at large
    * corpus scale — and label propagation over a small graph still pays
    * several Spark jobs per round of fixed overhead. At or below
    * `driverThreshold` pairs (default 10⁶ ≈ tens of MB collected) the
    * components compute as a driver-side union-find and broadcast back;
    * above it, the distributed path runs unchanged. Both produce the
    * IDENTICAL (id, min-reachable-id) labeling — pinned by the same
    * oracle and a threshold-forced equality test.
    *
    * Distributed path: per round, each node takes the minimum label over
    * itself and its neighbors, then labels are compacted through their
    * current label (pointer-jumping) — the compaction step collapses
    * chains in O(log diameter) rounds instead of O(diameter). All state
    * lives in DataFrames keyed by node id; lineage is truncated every
    * round with localCheckpoint so plans stay flat over arbitrarily many
    * rounds (on a cluster prefer `checkpoint` with a checkpoint dir for
    * fault tolerance). Dedup graphs are near-cliques, so rounds ≈ 2-3 in
    * practice.
    *
    * Output: (id, cluster) — one row per node that appears in `pairs`.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = {
    // persist the pair relation BEFORE the union: both direction branches
    // (and every propagation round) would otherwise replay the upstream
    // pair-generation join — typically the expensive part
    val p = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = p.count() // also materializes the persist up front
    // The driver shortcut decodes ids as longs; a non-integral id type
    // (string URLs, UUIDs) would null through the cast and die inside
    // the tuple encoder with an error naming no column. Min-label
    // propagation itself is type-generic (min/least order strings
    // fine), so such graphs take the distributed path at ANY size —
    // same labels, same contract, no surprise crash at <=threshold.
    val integralIds = Ids.isIntegral(Ids.fieldOf(p, "id_a", "clusters").dataType) &&
      Ids.isIntegral(Ids.fieldOf(p, "id_b", "clusters").dataType)
    if (nPairs <= driverThreshold && integralIds) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edges = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      p.unpersist()
      // union-find with path halving; representative re-derived as the
      // component MIN afterwards so the labeling matches the distributed
      // min-propagation exactly
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.getOrDefault(x, x)
        while (px != x) {
          val ppx = parent.getOrDefault(px, px)
          parent.put(x, ppx)
          x = ppx
          px = parent.getOrDefault(x, x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      val minOf = new java.util.HashMap[Long, Long]()
      nodes.foreach { n =>
        val r = find(n)
        val cur = minOf.getOrDefault(r, Long.MaxValue)
        if (n < cur) minOf.put(r, n)
      }
      // cast back to the UNION-WIDENED id type — the type the
      // distributed path emits: without this the output schema flipped
      // between long (driver path) and the native id type (distributed
      // path) depending on which side of driverThreshold the corpus
      // landed, and an id_a-only type would overflow when id_b is the
      // wider column
      val idType = p.select(col("id_a").as("__t"))
        .union(p.select(col("id_b").as("__t")))
        .schema("__t").dataType
      return nodes.map(n => (n, minOf.get(find(n)))).toSeq
        .toDF("id", "label")
        .select(col("id").cast(idType), col("label").cast(idType))
    }
    // No distinct() on the symmetric union: pair generation emits unique
    // id_a < id_b rows so the union has no duplicates, and min-label
    // propagation is insensitive to duplicate edges anyway — a distinct
    // here would be a full extra shuffle for nothing.
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seed with min(self, neighbors) — the result of the first half-round
    // — instead of the identity labeling; near-clique dedup graphs then
    // typically converge one full round earlier. Every node appears as
    // `src` (edges are symmetric), so this covers all nodes.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("label"))
      .localCheckpoint()
    // Checkpoint blocks superseded by a newer round MUST be freed eagerly:
    // Dataset.unpersist() doesn't reach them and the driver's GC-based
    // cleaner is far too lazy, so without this every round (and every
    // rerun in a long-lived JVM — a bench loop, a service) piles blocks
    // into the block manager until eviction/GC dominates the runtime.
    var prevBlocks = org.apache.spark.sql.GraftBridge.checkpointRdds(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min over self + neighbors' labels, in ONE join + ONE aggregation:
      // neighbor labels and each node's own label are unioned (tagged
      // `own`), so the old label rides along as max_by(lab, own) instead
      // of costing a second join to recover.
      val contrib = edges
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "label" -> "nl")), "dst")
        .select(col("src").as("id"), col("nl").as("lab"), lit(0).as("own"))
        .union(labels.select(col("id"), col("label").as("lab"), lit(1).as("own")))
      val stepped = contrib.groupBy(col("id"))
        .agg(min(col("lab")).as("l1"), max_by(col("lab"), col("own")).as("label"))
      // pointer jumping: re-resolve each label through its own row
      val asNode = stepped.select(col("id").as("label"), col("l1").as("ll"))
      val next = stepped.join(asNode, Seq("label"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("l1"), coalesce(col("ll"), col("l1"))).as("label"))
        .localCheckpoint() // eager: materialized here, lineage truncated
      converged = next.filter(col("label") =!= col("old")).limit(1).count() == 0
      // `next` is materialized, so the previous round's blocks are dead
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = org.apache.spark.sql.GraftBridge.checkpointRdds(next)
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"clusters(): converged=$converged after $iter rounds")
    // The final round's blocks back the returned DataFrame (lineage is
    // truncated — they are the only copy) and are released by the context
    // cleaner once the caller drops the reference.
    labels
  }

  /** Apply a near-duplicate pair set to the corpus: keep the smaller id of
    * every pair (the "first seen" convention), drop the rest. A left-anti
    * join on the victim ids — one shuffle on the id, no driver-side state.
    * (Exact transitive clustering is [[clusters]]; keep-smallest is the
    * cheaper one-join approximation and removes every duplicate that has
    * ANY earlier near-duplicate.)
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val victims = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(victims, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-duplicate resolution: per connected component
    * of the pair graph ([[clusters]]), keep the single document with
    * the highest `rank` (ties broken on the smaller id — fully
    * deterministic); documents untouched by any pair pass through.
    * This is the curation-grade alternative to [[dropNearDuplicates]]'
    * keep-first convention — near-dup groups survive as their BEST
    * member (longest, highest quality score, newest crawl…), the
    * policy the public pipelines use for canonical-page election.
    *
    * Scale shape: the election runs on an (id, rank, label) projection
    * — cluster labeling and the per-cluster window never see text; the
    * corpus rejoins only through id-keyed semi/anti joins (small right
    * sides: AQE broadcasts them below the threshold).
    */
  def keepBestInClusters(df: DataFrame, pairs: DataFrame, idCol: String,
      rank: Column): DataFrame = {
    // the single-scan election joins its flags onto the user's frame,
    // so a user column with a staging name would be silently replaced
    Ids.requireNoReservedNames("keepBestInClusters", "input",
      df.columns.toSeq, Set("__lab", "__win"), df.sparkSession)
    val labels = clusters(pairs)
    val ranked = df.select(col(idCol).as("id"), rank.as("__r"))
      .join(labels, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("__r").desc, col("id").asc)
    val winners = ranked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select(col("id").as(idCol))
    // ONE corpus scan with two id-keyed left joins (labels and winners
    // have unique ids, so neither join multiplies rows), instead of the
    // anti-join + semi-join UNION that scanned `df` twice — at corpus
    // scale that union was a second full read of the payload columns
    // for the same output rows (r18 opt round, guide §2.4)
    val labIds = labels.select(col("id").as(idCol), lit(true).as("__lab"))
    val winIds = winners.withColumn("__win", lit(true))
    df.join(labIds, Seq(idCol), "left")
      .join(winIds, Seq(idCol), "left")
      .filter(col("__lab").isNull || col("__win").isNotNull)
      .drop("__lab", "__win")
  }

  /** Pure text → 64-bit SimHash kernel (uniform token weights, FNV-1a
    * token hashes). Shared by the Column wrapper and the SQL function
    * `graft_simhash`.
    */
  private[graft] def simhashValue(text: String): Long = {
    if (text == null || text.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    val toks = text.split("\\s+")
    while (i < toks.length) {
      // inline 64-bit FNV-1a (deterministic, dependency-free)
      var h = 0xcbf29ce484222325L
      val t = toks(i)
      var j = 0
      while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) sig |= (1L << bit); bit += 1 }
    sig
  }

  /** 64-bit SimHash over whitespace tokens — the codegen'd Catalyst
    * expression (`graft_simhash`), so the signature scan stays inside
    * whole-stage codegen instead of paying the UDF serialization seam.
    */
  val simhash64: Column => Column = c =>
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.SimhashExpression(
        org.apache.spark.sql.GraftBridge.expression(c)))

  /** SimHash near-duplicate pairs: band the 64-bit signature into 4
    * 16-bit keys (pigeonhole: hamming distance <= 3 guarantees one band
    * matches), self-join per band, verify with bit_count(xor) <= maxHamming.
    *
    * Guards (both required at corpus scale):
    *  - Empty/whitespace-only documents all collapse to signature 0 — a
    *    single quadratic bucket of meaningless pairs — and are dropped
    *    up front.
    *  - Band buckets are capped at `maxBucket` rows (same guard as
    *    [[minhashPairs]]): k docs sharing a band key contribute k² join
    *    rows. Rows in an over-full bucket are dropped from THAT band
    *    only; a capped pair is still found through its other 3 bands
    *    whenever ≤ maxHamming differing bits fall outside the capped
    *    band. The residual miss (every shared band capped) only happens
    *    in boilerplate floods that exact dedup removes first — run
    *    [[exact]] before simhash, as the pipeline does.
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      persist: Boolean = true): DataFrame = {
    // persist the 16-byte/doc signature relation: both self-join sides
    // would otherwise replay the full text scan + hash kernel (same
    // cache contract as the other pair operators)
    val sig0 = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    val sig = if (persist)
      sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sig0
    hammingPairs64(sig, "id", "sig", maxHamming, maxBucket)
  }

  /** Pigeonhole hamming-pair generation over ANY precomputed 64-bit
    * signature column, SimHash or another: 4 bands of 16 bits — two
    * signatures within hamming ≤ 3 must agree on at least
    * one band (pigeonhole), candidates verify with exact `bit_count`.
    * Inherits [[simhashPairs]]' bucket cap (flood guard) and recall
    * caveats; the band guarantee needs `maxHamming ≤ 3`.
    */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val sig = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
        posexplode(expr("transform(sequence(0, 3), " +
          "b -> (sig >> (b * 16)) & 65535)")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    // lower bound 2: singleton buckets can't pair (see minhashPairs)
    val bandedCapped = withGroupCount(banded, Seq("band", "band_key"), "__bucket_n")
      .filter(col("__bucket_n") <= maxBucket && col("__bucket_n") >= 2)
      .drop("__bucket_n")
    bandedCapped.as("x").join(bandedCapped.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental (bipartite) near-dup: MinHash-banded candidate pairs
    * BETWEEN a new `delta` batch and the existing `corpus` — the
    * daily-increment workflow, where re-running the O(corpus²) self-join
    * for every ingest is the thing you must never do. Candidates come
    * only from cross-side bucket collisions (banding both sides with the
    * SAME kernel and joining delta buckets against corpus buckets), so
    * the work scales with |delta| × bucket overlap, not |corpus|²; each
    * side's bucket is capped like the self-join path. Output:
    * (id_corpus, id_delta, jaccard) with exact (hashed-shingle) jaccard
    * verified on candidates only.
    *
    * At scale, materialize the corpus side's (id, sh, sig) once
    * ([[Materialize.writeSized]] of the `ShingleSignatureExpression`
    * projection) and pass it back per increment — the corpus is then
    * never re-scanned as text.
    */
  def minhashPairsAgainst(
      corpus: DataFrame, delta: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, persist: Boolean = true,
      maxBucket: Int = 10000): DataFrame = {
    val rows = numPerms / bands
    def prep(df: DataFrame): DataFrame = {
      val ss = org.apache.spark.sql.GraftBridge.column(
        graft.spark.ShingleSignatureExpression(
          org.apache.spark.sql.GraftBridge.expression(col(textCol)), n, numPerms))
      val p = df.select(col(idCol).as("id"), ss.as("ss"))
        .filter(size(col("ss.sh")) > 0)
        .select(col("id"), col("ss.sh").as("sh"), col("ss.sig").as("sig"))
      if (persist) p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else p
    }
    def band(sig: DataFrame): DataFrame = {
      val b = sig.select(col("id"),
          posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
            s"b -> xxhash64(slice(sig, b * $rows + 1, $rows)))")))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
      withGroupCount(b, Seq("band", "band_key"), "__bucket_n")
        .filter(col("__bucket_n") <= maxBucket)
        .drop("__bucket_n")
    }
    val c = prep(corpus)
    val d = prep(delta)
    val cand = band(c).as("x").join(band(d).as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key"))
      .select(col("x.id").as("id_corpus"), col("y.id").as("id_delta"))
      .distinct()
    cand
      .join(c.select(col("id").as("id_corpus"), col("sh").as("sh_c")), "id_corpus")
      .join(d.select(col("id").as("id_delta"), col("sh").as("sh_d")), "id_delta")
      .withColumn("common", size(array_intersect(col("sh_c"), col("sh_d"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_c")) + size(col("sh_d")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_corpus"), col("id_delta"), col("jaccard"))
  }

  /** Duplicate-span detection — the measurement half of Lee et al. 2021's
    * ExactSubstr ("Deduplicating Training Data Makes Language Models
    * Better"), at rolling-hash-window granularity: every `window`-token
    * window whose 64-bit rolling hash occurs MORE THAN ONCE corpus-wide
    * (including twice within one document) is a duplicate span; per doc
    * this returns the window count, duplicated-window count, and
    * duplicated fraction — the signal ExactSubstr cuts on (the paper
    * uses 50-token spans).
    *
    * Reuses the winnowing kernel ([[graft.spark.WindowHashesExpression]],
    * the hash q_fp_card certifies collision-free against DuckDB string
    * windows), so "same hash" is "same token window" up to 64-bit
    * collisions (~|windows|²/2⁶⁴).
    *
    * Scale shape: the text is scanned ONCE — the kernel's 8-byte hash
    * arrays are persisted (MEMORY_AND_DISK, same reuse convention as
    * [[minhashPairs]]) because three branches derive from them: per-doc
    * totals (scan-local `size`), the global window-frequency aggregate,
    * and the duplicated-occurrence semi-join. Every shuffle carries
    * 8-16-byte keys; text never leaves the first projection.
    */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      window: Int = 50, persist: Boolean = true): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val wh = org.apache.spark.sql.GraftBridge.column(
      graft.spark.WindowHashesExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), window))
    val base0 = df.select(col(idCol).as("id"), wh.as("__wh"))
    val base = if (persist)
      base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else base0
    val totals = base.select(col("id"),
      coalesce(size(col("__wh")), lit(0)).cast("long").as("n_windows"))
    val exploded = base.select(col("id"), explode(col("__wh")).as("__h"))
    // frequency aggregate + semi-join, not [[withGroupCount]]: paired
    // A/B (r18 opt, 5 pairs) had the window at med 1.25× here — this op
    // only needs the duplicated MINORITY of occurrences back, so the
    // semi-join probe beats sorting every exploded hash into a window
    val dupHashes = exploded.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("__h"))
    val dups = exploded.join(dupHashes, Seq("__h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_windows"))
    totals.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_dup_windows"), lit(0L)).cast("double")
            / col("n_windows"), 6))
          .as("dup_frac"))
  }

  /** The REMOVAL half of ExactSubstr (Lee et al. 2021) at hash-window
    * granularity: every duplicated `window`-token occurrence EXCEPT the
    * globally-first one (minimum `(id, position)`, the [[lineDedup]]
    * convention) has its token range cut from the document; documents
    * are rebuilt from the surviving tokens and docs left empty are
    * dropped. Overlapping duplicated windows union into one cut span.
    *
    * Output: `(idCol, n_tokens, textCol)` with `n_tokens` = surviving
    * token count.
    *
    * Scale shape: same decision plan as [[duplicateSpans]] — the text
    * is scanned once into persisted hash arrays; ownership election and
    * the duplicated-occurrence join move (id, pos, hash) triples only;
    * per-doc cut-position lists (duplicates only) join back to the
    * original docs. The rebuild is the codegen'd single-pass kernel
    * [[graft.spark.CutRebuildExpression]] / [[cutRebuildValue]]: sort
    * the cut positions, fold them into disjoint kept-token ranges
    * (overlapping cut windows merge here), emit the surviving tokens —
    * O(tokens + cuts·log cuts) per doc, so a boilerplate-heavy doc with
    * thousands of overlapping cuts stays linear instead of going
    * tokens×cuts quadratic. (r7 shipped this fold as interpreted
    * `aggregate`/`transform`/`slice` lambdas — correct, but it cost a
    * reproducible 1.3× on q_dup_remove; the kernel recovers it.)
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      window: Int = 50, persist: Boolean = true): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val wh = org.apache.spark.sql.GraftBridge.column(
      graft.spark.WindowHashesExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), window))
    val base0 = df.select(col(idCol).as("id"), wh.as("__wh"))
    val base = if (persist)
      base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else base0
    val exploded = base.select(col("id"), posexplode(col("__wh")))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "__h"))
    // frequency + first-occurrence owner (min (id, pos) struct) both
    // computed over ONE hash-partitioned window pass instead of the
    // aggregate + join-back ([[dupOwnerOccurrences]])
    val cuts = dupOwnerOccurrences(exploded, "pos")
      .filter(!(col("owner.id") === col("id") && col("owner.pos") === col("pos")))
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__cut_pos"))
      .withColumnRenamed("id", "__cut_id")
    val rebuilt = org.apache.spark.sql.GraftBridge.column(
      graft.spark.CutRebuildExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)),
        org.apache.spark.sql.GraftBridge.expression(
          coalesce(col("__cut_pos"), array().cast("array<int>"))),
        window))
    df.filter(length(trim(col(textCol))) > 0)
      .join(cuts, df(idCol) === cuts("__cut_id"), "left")
      .select(col(idCol), rebuilt.as("__r"))
      .filter(col("__r").getField("n_tokens") > 0)
      .select(col(idCol),
        col("__r").getField("n_tokens").as("n_tokens"),
        col("__r").getField("text").as(textCol))
  }

  /** Pure rebuild kernel for [[removeDuplicateSpans]], shared with
    * [[graft.spark.CutRebuildExpression]] and the tests. Tokens are the
    * RAW `\s+` split (no trim — positions line up with the hash
    * kernel's); each cut position `p` removes tokens `[p, p+window)`;
    * overlapping cuts union; survivors re-join single-spaced
    * (ws-normalized, the `concat_ws` convention of the r6/r7
    * declarative rebuild, which this is byte-identical to).
    */
  private[graft] def cutRebuildValue(text: String, cuts: Array[Int],
      window: Int): (Long, String) = {
    val toks = text.split("\\s+", -1)
    if (cuts.length == 0) return (toks.length.toLong, toks.mkString(" "))
    java.util.Arrays.sort(cuts)
    val sb = new java.lang.StringBuilder(text.length)
    var n = 0L
    var cur = 0
    def appendRange(s: Int, e: Int): Unit = {
      var i = s
      while (i < e) {
        if (n > 0) sb.append(' ')
        sb.append(toks(i)); n += 1; i += 1
      }
    }
    var ci = 0
    while (ci < cuts.length) {
      val p = cuts(ci)
      if (p > cur) appendRange(cur, p)
      if (p + window > cur) cur = p + window
      ci += 1
    }
    if (cur < toks.length) appendRange(cur, toks.length)
    (n, sb.toString)
  }

  /** Cross-source duplication matrix — the corpus-mixing diagnostic:
    * given ANY exact/near-dup pair relation `(id_a, id_b)` (the shared
    * convention of every pair path here) and per-doc source labels,
    * count duplicate pairs per source pair. Cells are normalized to one
    * triangle (`source_lo <= source_hi` lexicographically) so "A dups
    * B" and "B dups A" land in one row; `n_docs` is the distinct docs
    * touching the cell. The question it answers before training: which
    * sources repeat each other (crawl vs curated dump), i.e. where the
    * dedup budget and mixture weights actually matter.
    *
    * Scale shape: the label join ships (id, source) pairs only — the
    * pair relation is the near-dup MINORITY and the output is at most
    * |sources|² rows.
    */
  def crossSourceDupMatrix(pairs: DataFrame, meta: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val m = meta.select(col(idCol).as("__id"),
      col(sourceCol).cast("string").as("__src"))
    // every pair explodes to exactly two (cell, doc) rows, so one
    // aggregation serves both cell measures: n_pairs = rows/2 (exact)
    // and n_docs = distinct docs — the pair join runs ONCE
    pairs.select(col("id_a"), col("id_b"))
      .join(m.withColumnsRenamed(Map("__id" -> "id_a", "__src" -> "__sa")), "id_a")
      .join(m.withColumnsRenamed(Map("__id" -> "id_b", "__src" -> "__sb")), "id_b")
      .select(least(col("__sa"), col("__sb")).as("source_lo"),
        greatest(col("__sa"), col("__sb")).as("source_hi"),
        explode(array(col("id_a"), col("id_b"))).as("__doc"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        count_distinct(col("__doc")).as("n_docs"))
  }

  /** Content-defined chunk table of a corpus — token-level Rabin CDC
    * ([[TextStats.cdcChunksValue]] has the exact cut rule): each doc
    * explodes into `(idCol, chunk_id, n_tokens, chunk_md5, chunk_text)`
    * rows whose boundaries depend only on local content, so the SAME
    * passage chunks identically wherever it appears — the property
    * that makes chunk-granular dedup catch partially-duplicated docs
    * (syndicated articles with different headers, quoted emails,
    * boilerplate-wrapped bodies) that doc-level exact dedup misses and
    * fixed-stride chunking misaligns on. Scan-local kernel; linear
    * output; blank docs produce no chunks.
    */
  def cdcChunkTable(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(TextStats.cdcChunks(col(textCol), window, divisor)))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
      .select(col("id").as(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk_text"), " ")).cast("long").as("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"),
        col("chunk_text"))

  /** Near-dup candidate pairs from SHARED CDC CHUNKS — the
    * coarse-granularity member of the pair-path family (shingles ≈
    * n tokens each and number ~tokens; chunks average `divisor` tokens,
    * so the inverted index here is ~divisor× smaller — the cheap first
    * pass on a web-scale corpus, with the jaccard/minhash paths as the
    * fine sieve). Pairs score by CONTAINMENT: shared chunks / the
    * smaller doc's chunk count, which flags a doc wholly embedded in a
    * larger one at 1.0 where symmetric jaccard dilutes it. Same
    * `(id_a, id_b)` output convention as every other pair path, so the
    * clusters / survivor-election / split / matrix consumers compose
    * unchanged.
    *
    * Scale shape: only (id, chunk_md5) pairs enter the self-join;
    * singleton chunk buckets are skipped (they cannot pair) and buckets
    * above `maxBucket` (corpus boilerplate) are capped out, the
    * [[minhashPairs]] convention.
    */
  def cdcChunkPairs(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val tbl = df.select(col(idCol).as("id"),
        explode(TextStats.cdcChunks(col(textCol), window, divisor)).as("__c"))
      .select(col("id"), md5(col("__c")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = tbl.groupBy(col("id")).agg(count(lit(1)).as("__n"))
    // bucket-size cap via count-over-window ([[withGroupCount]]): the
    // hash-partitioned window replaces the size aggregate + semi-join
    // and pre-partitions both self-join sides by __h
    val inBucket = withGroupCount(tbl, Seq("__h"), "__bn")
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .drop("__bn")
    val shared = inBucket.as("x").join(inBucket.as("y"),
        col("x.__h") === col("y.__h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
    shared
      .join(counts.withColumnsRenamed(Map("id" -> "id_a", "__n" -> "__na")), "id_a")
      .join(counts.withColumnsRenamed(Map("id" -> "id_b", "__n" -> "__nb")), "id_b")
      .withColumn("containment",
        round(col("shared_chunks").cast("double") /
          least(col("__na"), col("__nb")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared_chunks"), col("containment"))
  }

  /** Chunk-granular dedup REMOVAL over CDC chunks: every chunk whose
    * content occurs elsewhere in the corpus keeps only its globally
    * first occurrence (minimum `(id, chunk_id)` — the [[lineDedup]] /
    * [[removeDuplicateSpans]] ownership convention); documents rebuild
    * from their surviving chunks in order and docs left empty drop.
    * Output: `(idCol, n_chunks, textCol)` (ws-normalized text, like
    * the other rebuilds).
    *
    * Scale shape: the election shuffles `(id, chunk_id, md5)` triples
    * only — chunk text never leaves the scans; per-doc drop lists (the
    * duplicated minority) join back to the docs and the rebuild
    * re-chunks scan-locally in the codegen'd
    * [[graft.spark.ChunkDropRebuildExpression]] kernel.
    */
  def cdcDedupDocs(df: DataFrame, textCol: String, idCol: String,
      window: Int = 5, divisor: Long = 64): DataFrame = {
    val tbl = df.select(col(idCol).as("id"),
        posexplode(TextStats.cdcChunks(col(textCol), window, divisor)))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
      .select(col("id"), col("chunk_id"), md5(col("chunk_text")).as("__h"))
    // frequency + first-occurrence owner over ONE hash-partitioned
    // window pass (the [[removeDuplicateSpans]] shape)
    val drops = dupOwnerOccurrences(tbl, "chunk_id")
      .filter(!(col("owner.id") === col("id") &&
        col("owner.chunk_id") === col("chunk_id")))
      .groupBy(col("id")).agg(collect_list(col("chunk_id")).as("__drop"))
      .withColumnRenamed("id", "__drop_id")
    val rebuilt = org.apache.spark.sql.GraftBridge.column(
      graft.spark.ChunkDropRebuildExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)),
        org.apache.spark.sql.GraftBridge.expression(
          coalesce(col("__drop"), array().cast("array<int>"))),
        window, divisor))
    df.filter(length(trim(col(textCol))) > 0)
      .join(drops, df(idCol) === drops("__drop_id"), "left")
      .select(col(idCol), rebuilt.as("__r"))
      .filter(col("__r").getField("n_chunks") > 0)
      .select(col(idCol),
        col("__r").getField("n_chunks").as("n_chunks"),
        col("__r").getField("text").as(textCol))
  }

  /** Incremental chunk-granular dedup — the delta-vs-corpus ingest
    * path (the chunk analogue of [[minhashPairsAgainst]]): a DELTA
    * document drops every chunk whose content already exists in the
    * CORPUS, plus within-delta duplicates under the usual first
    * `(id, chunk_id)` ownership; delta docs left empty drop. The corpus
    * is never modified — only the cleaned delta returns.
    *
    * Scale shape: the corpus reduces to its DISTINCT chunk-hash set in
    * one scan (in steady state a pipeline persists that table and
    * unions yesterday's delta hashes instead of rescanning — the same
    * contract, one join either way); the decision join is a left-semi
    * on 128-bit hashes, work scales with the delta, and the rebuild is
    * the same scan-local codegen'd kernel as [[cdcDedupDocs]].
    */
  def cdcDedupDelta(corpus: DataFrame, delta: DataFrame, textCol: String,
      idCol: String, window: Int = 5, divisor: Long = 64): DataFrame = {
    def chunkHashes(df: DataFrame) = df.select(col(idCol).as("id"),
        posexplode(TextStats.cdcChunks(col(textCol), window, divisor)))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
      .select(col("id"), col("chunk_id"), md5(col("chunk_text")).as("__h"))
    val corpusH = chunkHashes(corpus).select(col("__h")).distinct()
    val deltaTbl = chunkHashes(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inCorpus = deltaTbl.join(corpusH, Seq("__h"), "left_semi")
      .select(col("id"), col("chunk_id"))
    // aggregate + join-back, not [[dupOwnerOccurrences]]: paired A/B
    // (r18 opt, 2×5–7 pairs) had the window at med 1.17–1.20× here —
    // unlike [[cdcDedupDocs]] the cached delta table feeds TWO
    // consumers (corpus semi-join + this election), so the window's
    // sort of every delta chunk row buys no reuse
    val intraDup = {
      val owners = deltaTbl.groupBy(col("__h"))
        .agg(count(lit(1)).as("__c"),
          min(struct(col("id"), col("chunk_id"))).as("owner"))
        .filter(col("__c") > 1)
      deltaTbl.join(owners, Seq("__h"))
        .filter(!(col("owner.id") === col("id") &&
          col("owner.chunk_id") === col("chunk_id")))
        .select(col("id"), col("chunk_id"))
    }
    val drops = inCorpus.unionByName(intraDup).distinct()
      .groupBy(col("id")).agg(collect_list(col("chunk_id")).as("__drop"))
      .withColumnRenamed("id", "__drop_id")
    val rebuilt = org.apache.spark.sql.GraftBridge.column(
      graft.spark.ChunkDropRebuildExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)),
        org.apache.spark.sql.GraftBridge.expression(
          coalesce(col("__drop"), array().cast("array<int>"))),
        window, divisor))
    delta.filter(length(trim(col(textCol))) > 0)
      .join(drops, delta(idCol) === drops("__drop_id"), "left")
      .select(col(idCol), rebuilt.as("__r"))
      .filter(col("__r").getField("n_chunks") > 0)
      .select(col(idCol),
        col("__r").getField("n_chunks").as("n_chunks"),
        col("__r").getField("text").as(textCol))
  }

  /** Pure rebuild kernel for [[cdcDedupDocs]], shared with
    * [[graft.spark.ChunkDropRebuildExpression]] and the tests: re-chunk
    * the text ([[TextStats.cdcChunksValue]]), skip the chunk indices in
    * `drops`, re-join survivors single-spaced.
    */
  private[graft] def chunkDropRebuildValue(text: String, drops: Array[Int],
      window: Int, divisor: Long): (Long, String) = {
    val chunks = TextStats.cdcChunksValue(text, window, divisor)
    if (drops.isEmpty)
      return (chunks.length.toLong, chunks.mkString(" "))
    val dropSet = drops.toSet
    val sb = new java.lang.StringBuilder(text.length)
    var n = 0L
    var i = 0
    while (i < chunks.length) {
      if (!dropSet.contains(i)) {
        if (n > 0) sb.append(' ')
        sb.append(chunks(i)); n += 1
      }
      i += 1
    }
    (n, sb.toString)
  }

  /** Corpus-wide line-level exact deduplication — the "dedup repeated
    * paragraphs/lines across documents" step of C4 (Raffel et al. 2020
    * §2.2, three-sentence spans) and Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better", ExactSubstr at line
    * granularity): every occurrence of a line that appeared earlier —
    * ANYWHERE in the corpus, including earlier in the same document — is
    * dropped; the globally-first occurrence (minimum `(idCol, position)`)
    * survives. Documents are reassembled from their surviving lines in
    * original order; documents left with no lines are dropped.
    *
    * Output: `(idCol, n_lines, textCol)` with `n_lines` = surviving line
    * count.
    *
    * Scale shape: line TEXT never shuffles. The dedup decision runs on
    * `(id, pos, xxhash64(line))` triples (≤24 bytes/line) — one groupBy
    * on the 8-byte line hash to elect the first owner, one semi-join to
    * emit the DROPPED `(id, pos)` pairs (duplicates only — a tiny
    * fraction of the corpus), one groupBy(id) to collect per-doc drop
    * lists. Reassembly is then a scan-local per-row array filter on the
    * original docs joined against those drop lists. The higher-order
    * `filter` lambda is interpreted, but it only evaluates on rows that
    * HAVE drops (the `when` guard short-circuits clean docs — the vast
    * majority). A false "duplicate" needs a 64-bit line-hash collision
    * (~|lines|²/2⁶⁴ — negligible, same contract as the n-gram paths).
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delimiter must be non-empty")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "line"))
      .select(col("id"), col("pos"), xxhash64(col("line")).as("lh"))
    // first-owner election over ONE hash-partitioned window pass
    // ([[dupOwnerOccurrences]]); its __c > 1 pre-filter is a no-op
    // refinement here — a singleton line is always its own owner and
    // was dropped by the owner check anyway
    val dropped = dupOwnerOccurrences(lines, "pos", hashCol = "lh")
      .filter(!(col("owner.id") === col("id") && col("owner.pos") === col("pos")))
      .select(col("id"), col("pos"))
    val dropLists = dropped.groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__drop_pos"))
      .withColumnRenamed("id", "__dd_id")
    val toks = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val kept = when(col("__drop_pos").isNull, toks)
      .otherwise(filter(toks, (_, i) => !array_contains(col("__drop_pos"), i)))
    df.join(dropLists, df(idCol) === dropLists("__dd_id"), "left")
      .select(col(idCol), kept.as("__kept"))
      .filter(size(col("__kept")) > 0)
      .select(col(idCol),
        size(col("__kept")).cast("long").as("n_lines"),
        concat_ws(delim, col("__kept")).as(textCol))
  }

  /** Domain boilerplate-line removal — the CCNet/RefinedWeb "repeated
    * header/footer" rule, complementary to [[lineDedup]]: a line that
    * occurs in at least `minDocs` documents AND at least `minDocFrac`
    * of its domain's documents is boilerplate (nav bars, cookie
    * banners, license footers) and is removed from EVERY document —
    * including the first occurrence, which [[lineDedup]] would keep.
    * Documents left with no lines are dropped.
    *
    * Output: `(idCol, n_lines, textCol)` like [[lineDedup]].
    *
    * Scale shape: line text never shuffles — the doc-frequency
    * decision runs on `(domain, line-hash)` with `count_distinct(id)`,
    * the domain-size relation is |domains| rows, and the boilerplate
    * set (tiny) joins back against the per-line hash relation to build
    * per-doc drop lists; reassembly is the [[lineDedup]] scan-local
    * array filter, interpreted only on docs that HAVE drops.
    */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      domainCol: String, minDocs: Int = 3, minDocFrac: Double = 0.2,
      delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delimiter must be non-empty")
    require(minDocs >= 1 && minDocFrac > 0 && minDocFrac <= 1,
      s"bad minDocs/minDocFrac: $minDocs/$minDocFrac")
    val lines = df
      .select(col(idCol).as("id"), col(domainCol).as("domain"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "line"))
      .select(col("id"), col("domain"), col("pos"), xxhash64(col("line")).as("lh"))
    val domainSizes = df.groupBy(col(domainCol).as("domain"))
      .agg(count_distinct(col(idCol)).as("__nd"))
    val docFreq = lines.select(col("domain"), col("lh"), col("id")).distinct()
      .groupBy(col("domain"), col("lh"))
      .agg(count(lit(1)).as("__df"))
    val boiler = docFreq.join(domainSizes, Seq("domain"))
      .filter(col("__df") >= minDocs &&
        col("__df").cast("double") >= col("__nd") * minDocFrac)
      .select(col("domain"), col("lh"))
    val dropLists = lines.join(boiler, Seq("domain", "lh"), "left_semi")
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__drop_pos"))
      .withColumnRenamed("id", "__dd_id")
    val toks = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val kept = when(col("__drop_pos").isNull, toks)
      .otherwise(filter(toks, (_, i) => !array_contains(col("__drop_pos"), i)))
    df.join(dropLists, df(idCol) === dropLists("__dd_id"), "left")
      .select(col(idCol), kept.as("__kept"))
      .filter(size(col("__kept")) > 0)
      .select(col(idCol),
        size(col("__kept")).cast("long").as("n_lines"),
        concat_ws(delim, col("__kept")).as(textCol))
  }

  /** WITHIN-document repeated-line removal — the per-document half of
    * C4's line policies (Raffel et al. 2020 §2.2 dedups lines globally;
    * RefinedWeb/Gopher additionally strip per-document boilerplate:
    * navigation lines, repeated headers/footers, chat-log echoes). Each
    * document keeps the FIRST occurrence of every distinct line, in
    * original order.
    *
    * The decision never leaves the row: `array_distinct` over the split
    * lines preserves first-occurrence order by definition, so the whole
    * operator is one codegen'd scan-local projection — zero shuffles at
    * any corpus size (contrast [[lineDedup]], whose cross-document
    * decision necessarily shuffles line hashes). Output replaces
    * `textCol` and appends `n_lines_removed`.
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String,
      delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delimiter must be non-empty")
    val toks = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val kept = array_distinct(toks)
    df.withColumn("n_lines_removed",
        (size(toks) - size(kept)).cast("long"))
      // concat_ws coerces a null array to "" — keep the null-in/null-out
      // contract of the other cleaning ops explicitly
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(delim, kept)))
  }
}

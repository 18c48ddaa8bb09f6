package graft

import graft.ops.{Dedup, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  private def rmScratch(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.forEach(rmScratch(_)) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "tiny")).toDF("doc_id", "text")

  test("exact dedup groups by content hash") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    val dupGroup = out.find(_.getLong(1) == 0L).get
    assert(dupGroup.getLong(2) == 2L) // docs 0 and 3
  }

  test("shingles + ngram jaccard inverted-index pairs") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0).contains("the quick brown"))
    assert(sh(4).isEmpty) // "tiny" has < 3 words
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0-3 exact (j=1.0), 0-1 and 1-3 near (6 common of 7+7-6=8 -> 0.75)
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 1.0)
    assert(math.abs(pairs.head._3 - 0.75) < 1e-9)
  }

  test("minhash LSH pairs match exact jaccard at high threshold") {
    val mh = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.7)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.7)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(mh.toSeq == exact.toSeq)
  }

  test("incremental minhash: cross-side pairs only, equals exact jaccard") {
    val corpus = docs.filter($"doc_id".isin(0L, 2L, 4L))
    val delta = docs.filter($"doc_id".isin(1L, 3L))
    val got = Dedup.minhashPairsAgainst(corpus, delta, "text", "doc_id",
        threshold = 0.7)
      .orderBy("id_corpus", "id_delta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // cross pairs at >= 0.7: (0,1)=0.75 and (0,3)=1.0; the within-delta
    // pair (1,3) must NOT appear
    assert(got.toSeq == Seq((0L, 1L, 0.75), (0L, 3L, 1.0)))
  }

  test("dropNearDuplicates keeps the smallest id per pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 2L, 4L)) // 1 and 3 are near-dups of 0
  }

  test("keepBestInClusters elects the top-ranked member per component") {
    // chain component {0,1,2} via explicit pairs + singleton {5}
    val corpus = Seq(
      (0L, "aa", 10L), (1L, "bb", 30L), (2L, "cc", 20L),
      (5L, "zz", 1L)).toDF("doc_id", "text", "q")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestInClusters(corpus, pairs, "doc_id", col("q"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 5L)) // 1 has top q in its component; 5 untouched
    // tie on rank -> smaller id wins
    val tied = Seq((0L, "x", 7L), (1L, "y", 7L)).toDF("doc_id", "text", "q")
    val p2 = Seq((0L, 1L)).toDF("id_a", "id_b")
    val k2 = Dedup.keepBestInClusters(tied, p2, "doc_id", col("q"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(k2.toSeq == Seq(0L))
  }

  test("graft.functions facade delegates to the kernels") {
    val df = docs.limit(1)
    val r = df.select(
      graft.functions.simhash64(col("text")),
      graft.functions.fingerprint(col("text")),
      graft.functions.langId(col("text")),
      graft.functions.wsTokens(col("text")),
      graft.functions.annotate(df, "text",
        Seq(graft.dict.DictionaryEntry("quick brown", id = Some("q"))))).collect().head
    assert(r.getLong(0) == graft.ops.Dedup.simhashValue("the quick brown fox jumps over the lazy dog"))
    assert(r.getString(2) == "en")
    assert(r.getInt(3) == 9)
    assert(r.getSeq[org.apache.spark.sql.Row](4).head.getString(2) == "q")
  }

  test("tfidfTopTerms ranks rare terms above frequent ones") {
    val corpus = Seq(
      (0L, "x x y"), (1L, "y z"), (2L, "z z q")).toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(corpus, "text", "doc_id", k = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    // doc 0: x (tf 2, df 1) beats y; doc 1: y and z tie (tf 1, df 2 each),
    // term-asc tie-break -> y; doc 2: q (tf 1, df 1) beats z (tf 2, df 2)
    // because 1*ln(3) > 2*ln(3/2) — idf outweighs raw tf
    assert(top.map(t => (t._1, t._2)).toSeq == Seq((0L, "x"), (1L, "y"), (2L, "q")))
    assert(math.abs(top(0)._3 - 2.197225) < 1e-6)
  }

  test("clusters computes exact transitive connected components") {
    // chain 0-1-2-3 (3 never pairs with 0 directly) + separate pair 10-11
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: driver union-find and distributed propagation agree") {
    // a 300-edge random graph with chains, cliques and reverse-ordered
    // edges: force BOTH paths over the same pairs via the threshold knob
    val rnd = new scala.util.Random(23)
    val edges = ((0 until 150).map { i =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.max(a, b) + 1, math.min(a, b)) // id_a > id_b: reverse order too
    } ++ (0 until 150).map { i =>
      (1000L + i, 1000L + i + 1) // one long chain (propagation stress)
    }).toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(edges, driverThreshold = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaDistributed = Dedup.clusters(edges, driverThreshold = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaDriver == viaDistributed)
    // the 151-node chain collapses to its min
    assert((1000L to 1150L).forall(n => viaDriver(n) == 1000L))
  }

  test("simhash near-dup pairs: banding finds exactly the hamming<=3 pairs") {
    // brute-force ground truth from the signature column itself
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pigeonhole: hamming<=3 over 4 bands of 16 bits guarantees recall
    assert(pairs == want)
    assert(pairs.contains((0L, 3L))) // exact dup -> hamming 0
    assert(!pairs.contains((0L, 2L)))
  }

  test("simhash bucket cap neutralizes a boilerplate flood; empties dropped") {
    // 10k identical docs (one signature -> one degenerate bucket per band:
    // k² = 50M candidate pairs without the cap) + the regular corpus +
    // empty/whitespace docs. With the cap the flood contributes nothing
    // and the job stays quadratic-free; regular near-dup pairs survive.
    val flood = spark.range(1000L, 11000L)
      .select(col("id").as("doc_id"),
        lit("boilerplate header all rights reserved do not edit").as("text"))
    val empties = Seq((500L, ""), (501L, "   ")).toDF("doc_id", "text")
    val corpus = docs.union(flood).union(empties)
    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id",
        maxHamming = 3, maxBucket = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth over the NON-flood docs only (flood pairs are the
    // documented recall sacrifice; exact dedup removes them first)
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == want)
    assert(!pairs.exists(p => p._1 >= 500L || p._2 >= 500L))
  }

  test("simhash cap bystander: a pair sharing a capped band recovers via its other bands") {
    // find a bystander text whose LOW band (band 0) collides with the
    // flood signature's band 0 — the worst case the cap can touch
    val floodText = "boilerplate header all rights reserved do not edit"
    val floodBand0 = Dedup.simhashValue(floodText) & 0xFFFFL
    // every token must vary with i, else the majority vote freezes most
    // signature bits and the collision below may be unreachable
    val bystanderText = Iterator.from(0)
      .map(i => s"b$i q${i * 7 + 1} z${i * 13 + 5} w${i * 31 + 11}")
      .take(4000000)
      .find(t => (Dedup.simhashValue(t) & 0xFFFFL) == floodBand0)
      .get
    val flood = spark.range(1000L, 11001L)
      .select(col("id").as("doc_id"), lit(floodText).as("text"))
    val bystanders = Seq((1L, bystanderText), (2L, bystanderText)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(flood.union(bystanders), "text", "doc_id",
        maxHamming = 3, maxBucket = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // band 0's bucket (flood + bystanders) is over the cap and dropped
    // whole, but the identical bystanders also agree on bands 1-3, whose
    // buckets hold only the two of them — the pair survives
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 1000L || p._2 >= 1000L)) // flood still neutralized
  }

  test("jaccard df-cap drop stats expose the per-doc recall budget") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val corpus = (0L until 20L).map(i =>
      (i, s"$boiler unique$i content$i words$i here$i now$i")).toDF("doc_id", "text")
    val stats = Dedup.shingleDropStats(corpus, "text", "doc_id", maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(stats.size == 20)
    // the 6 boilerplate-only trigrams have df=20 > 5: dropped everywhere;
    // the shingles touching uniqueN have df=1: kept
    assert(stats.forall { case (_, total, dropped) => dropped == 6 && total > dropped })
    // with a high cap nothing is dropped
    val none = Dedup.shingleDropStats(corpus, "text", "doc_id", maxShingleDf = 100)
      .collect()
    assert(none.forall(_.getLong(2) == 0L))
  }

  test("jaccard shingle df-cap: hot shingles skip the index, not the verify") {
    // every doc shares the same boilerplate prefix (hot shingles); only
    // 100/101 are true near-dups. With maxShingleDf small enough to drop
    // every boilerplate shingle from the inverted index, the pair set AND
    // the jaccard values must be unchanged: candidates come from the rare
    // shingles, verification still counts the common boilerplate.
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val base = (0L until 20L).map(i =>
      (i, s"$boiler unique$i content$i words$i here$i now$i"))
    val nearDup = Seq(
      (100L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (101L, s"$boiler alpha beta gamma delta epsilon eta"))
    val corpus = (base ++ nearDup).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
        threshold = 0.5, maxShingleDf = cap)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val uncapped = run(Int.MaxValue)
    val capped = run(5) // boilerplate shingles have df=22 > 5
    assert(capped.toSeq == uncapped.toSeq)
    assert(capped.exists(p => p._1 == 100L && p._2 == 101L))
    // the boilerplate-only overlaps must stay below threshold, not appear
    assert(!capped.exists(p => p._1 < 100L && p._2 < 100L))
  }

  test("deterministic sampling: stable, partition-independent, well-sized") {
    import graft.ops.Sampling
    val ids = spark.range(0L, 2000L).toDF("id")
      .withColumn("src", when(col("id") % 2 === 0, "a").otherwise("b"))
    // split assignment is a pure function of (id, salt)
    val s1 = Sampling.assignSplit(ids, "id", salt = "x")
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val s2 = Sampling.assignSplit(ids.repartition(7), "id", salt = "x")
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(s1 == s2)
    val sizes = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(sizes("train") - 1600) < 120, sizes.toString)
    assert(math.abs(sizes("val") - 200) < 70, sizes.toString)
    assert(math.abs(sizes("test") - 200) < 70, sizes.toString)
    // growing the corpus never reassigns an existing row
    val grown = Sampling.assignSplit(spark.range(0L, 3000L).toDF("id"), "id",
      salt = "x").select("id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(s1.forall { case (k, v) => grown(k) == v })
    // sample fraction lands near target and is a subset relation under
    // growing fractions (thresholds are nested by construction)
    val small = Sampling.sample(ids, "id", 0.2, "y").select("id")
      .collect().map(_.getLong(0)).toSet
    val big = Sampling.sample(ids, "id", 0.5, "y").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
    assert(math.abs(small.size - 400) < 100, small.size.toString)
    // stratified: per-stratum selection is independent of other strata
    val strat = Sampling.stratifiedSample(ids, "id", "src", 0.3, "z")
      .select("id").collect().map(_.getLong(0)).toSet
    val aOnly = Sampling.stratifiedSample(ids.filter(col("src") === "a"),
      "id", "src", 0.3, "z").select("id").collect().map(_.getLong(0)).toSet
    assert(strat.filter(_ % 2 == 0) == aOnly)
    // mixture equals the union of per-source samples
    val mix = Sampling.mixture(ids, "id", "src", Map("a" -> 0.5, "b" -> 0.1),
      "m").select("id").collect().map(_.getLong(0)).toSet
    val ma = Sampling.sample(ids.filter(col("src") === "a"), "id", 0.5, "m")
      .select("id").collect().map(_.getLong(0)).toSet
    val mb = Sampling.sample(ids.filter(col("src") === "b"), "id", 0.1, "m")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mix == (ma ++ mb))
  }

  test("chunking: coverage, overlap, and reconstruction invariants") {
    import graft.ops.TextStats
    val doc = (1 to 150).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "short text"), (3L, "   ")).toDF("doc_id", "text")
    val chunks = TextStats.chunk(df, "text", "doc_id", chunkTokens = 64,
        overlap = 16)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // doc 1: starts 0,48,96 (144 < 150-16=134? no: 96 < 134 yes; 144 >= 134 dropped)
    val d1 = chunks.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(d1.head._3.startsWith("w1 w2 ") && d1.head._4 == 64)
    // consecutive chunks share exactly `overlap` tokens
    val c0 = d1(0)._3.split(" ")
    val c1 = d1(1)._3.split(" ")
    assert(c0.takeRight(16).toSeq == c1.take(16).toSeq)
    // every source token appears in some chunk (full coverage)
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered == doc.split(" ").toSet)
    // short doc: one chunk, all tokens; blank doc: no chunks
    assert(chunks.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0L, "short text", 2L)))
    assert(!chunks.exists(_._1 == 3L))
    // real multi-line text: \s+ runs (tabs, newlines, double spaces) are
    // single separators — no empty tokens inflating n_tokens
    val messy = Seq((9L, "  one\ttwo\n\nthree  four ")).toDF("doc_id", "text")
    val mc = TextStats.chunk(messy, "text", "doc_id", chunkTokens = 3, overlap = 1)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(mc.toSeq == Seq((0L, "one two three", 3L), (1L, "three four", 2L)))
  }

  test("token counts: whitespace and BPE-ish") {
    val out = TextStats.tokenCounts(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 9)
    assert(out(4).getInt(1) == 1)
    val bpe = docs.sparkSession.range(1)
      .select(TextStats.bpeTokens(lit("don't stop, 42 times!")))
      .collect().head.getInt(0)
    // don + ' + t + stop + , + 4 + 2 + times + ! = 9
    assert(bpe == 9)
  }

  test("language id heuristic: stopword tier + script tier") {
    val d = Seq(
      (0L, "the cat and the dog"),
      (1L, "el perro y la casa de que"),
      (2L, "xyzzy qwerty"),
      (3L, "这是一个中文测试文档没有空格"),           // CJK script -> zh
      (4L, "Это русский текст для проверки"),          // Cyrillic -> ru
      (5L, "o problema não é com os dados"),           // pt stopwords
      (6L, "il problema che sono della rete"),         // it
      (7L, "het is een goede dag met zon"),            // nl
      (8L, "tai yra geras tekstas kad veikia"),        // lt
      (9L, "mixed 中文 few cjk the of and is to in a")) // CJK < 25% -> stopwords
      .toDF("id", "text")
    val out = d.select($"id", TextStats.langId($"text").as("lang"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out.toSeq == Seq("en", "es", "und", "zh", "ru", "pt", "it", "nl", "lt", "en"))
  }

  test("langId kernel ≡ declarative on generated unicode soup") {
    // deterministic pseudo-random strings over the alphabets the two
    // tiers discriminate on: ASCII words, stopwords from every profile,
    // CJK, Cyrillic (both cases), Greek, astral-plane surrogates, and
    // every \s whitespace class — 500 strings, one Spark comparison
    val rnd = new scala.util.Random(2026)
    val stopPool = TextStats.langStopwords.flatMap(_._2)
    val ws = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
    def token(): String = rnd.nextInt(6) match {
      case 0 => stopPool(rnd.nextInt(stopPool.size))
      case 1 => (0 to rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      case 2 => (0 to rnd.nextInt(4)).map(_ => ('一' + rnd.nextInt(500)).toChar).mkString
      case 3 => (0 to rnd.nextInt(4)).map(_ => (0x410 + rnd.nextInt(64)).toChar).mkString
      case 4 => (0 to rnd.nextInt(3)).map(_ => (0x391 + rnd.nextInt(24)).toChar).mkString
      case _ => new String(Character.toChars(0x1D538 + rnd.nextInt(50)))
    }
    val soup = (0 until 500).map { _ =>
      (0 to rnd.nextInt(12)).map(_ => token())
        .mkString(ws(rnd.nextInt(ws.size)), ws(rnd.nextInt(ws.size)), "")
    }
    val d = soup.toDF("text")
    val diverged = d.select(
        TextStats.langId($"text").as("k"),
        TextStats.langIdDeclarative($"text").as("d"), $"text")
      .where(not($"k" <=> $"d")).collect()
    assert(diverged.isEmpty,
      diverged.take(3).map(r => s"'${r.getString(2)}': ${r.getString(0)} vs ${r.getString(1)}").mkString("; "))
  }

  test("langId kernel ≡ declarative spec on corpus + adversarial cases") {
    // the codegen'd single-pass kernel must agree everywhere with the
    // native-SQL-functions spec (which is what the DuckDB oracles mirror)
    val adversarial = Seq(
      "",                              // blank → und
      "   \t\n  ",                     // whitespace-only → und
      "the el le der o il het ir",     // 8-way 1-score tie → list order (en)
      "la que",                        // es/fr 2-score tie → es (earlier)
      "van niet met het een zijn voor",// nl full house
      "und nicht",                     // "und" the German stopword, not the fallback
      "αβγ δεζ",                       // Greek — no tier fires → und
      "中",                            // 1 CJK char of 1 nonspace → zh
      "а",                             // 1 Cyrillic of 1 → ru
      "Это text with the and of is in a to", // cyr 3/26 < 25% → stopwords (en)
      "𝕊 𝕡 𝕒 𝕣 𝕜 the of and is",       // surrogate pairs count once in nonSpace
      "ЁЛКА ЗИМОЙ",                    // uppercase Cyrillic + Ё
      "一二三 the of and is in a to la el", // cjk 3/~30 < 25% → stopwords
      "tab\tseparated\ntheof\fand\ris in a") // every \s class splits
    val d2 = (docs.select($"text") union
      adversarial.toDF("text")).withColumn("id", monotonically_increasing_id())
    val both = d2.select($"id",
        TextStats.langId($"text").as("k"),
        TextStats.langIdDeclarative($"text").as("d"))
      .where(not($"k" <=> $"d"))
    assert(both.count() == 0, s"kernel/declarative divergence: ${both.collect().toSeq}")
    // null propagates as null through the kernel like any SQL scalar
    val nulls = Seq((0L, null: String), (1L, "the of and")).toDF("id", "text")
      .select(TextStats.langId($"text")).collect().map(_.isNullAt(0))
    assert(nulls.toSeq == Seq(true, false))
  }

  test("quality metrics") {
    val out = TextStats.quality(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("quality_bucket") == "ok")
    assert(out(4).getAs[String]("quality_bucket") == "too_short")
    assert(out(0).getAs[Int]("n_stopwords") == 1) // "the"
  }

  test("repetition counters: one-pass kernel matches hand counts") {
    // "a b a b a": words=5, distinct=2, chars=5; bigrams: "a b"x2, "b a"x2
    // -> n_bigrams=4, top=2, dup occurrences=4
    assert(TextStats.repetitionCountsValue("a b a b a").toSeq ==
      Seq(5L, 2L, 5L, 4L, 2L, 4L))
    assert(TextStats.repetitionCountsValue("x y z").toSeq ==
      Seq(3L, 3L, 3L, 2L, 1L, 0L))
    assert(TextStats.repetitionCountsValue("solo").toSeq ==
      Seq(1L, 1L, 4L, 0L, 0L, 0L))
    assert(TextStats.repetitionCountsValue("").toSeq ==
      Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(TextStats.repetitionCountsValue("  padded   whitespace  ").toSeq ==
      Seq(2L, 2L, 16L, 1L, 1L, 0L))
  }

  test("gopher quality signals and keep flag") {
    val d = Seq(
      (0L, ("spark " * 30).trim),                        // pathological repetition
      (1L, (0 until 60).map(i => s"w$i").mkString(" ")), // clean long doc
      (2L, "too short")).toDF("doc_id", "text")
    val out = TextStats.gopherQuality(d, "text", "doc_id",
        minWords = 20, minMeanWordLen = 2.0,
        maxTopBigramFrac = 0.5, maxDupWordFrac = 0.5)
      .orderBy("doc_id").collect()
    // doc 0: all-same words -> dup_word_frac 29/30, top bigram 29/29
    assert(out(0).getAs[Double]("dup_word_frac") == math.rint(29.0 / 30 * 1e6) / 1e6)
    assert(out(0).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(0).getAs[Long]("keep") == 0L)
    // doc 1: all-distinct words, every bigram unique
    assert(out(1).getAs[Double]("dup_word_frac") == 0.0)
    assert(out(1).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(out(1).getAs[Long]("keep") == 1L)
    // doc 2: below min word count
    assert(out(2).getAs[Long]("keep") == 0L)
  }

  test("ngram decontamination drops exactly the overlapping docs") {
    import graft.ops.Decontaminate
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "prefix words then alpha beta gamma delta and more"), // shares 4-gram with 0
      (2L, "unrelated content entirely its own words here"),
      (3L, "short one")).toDF("doc_id", "text")
    val bench = corpus.filter($"doc_id" === 0L)
    val cont = Decontaminate.contaminatedIds(corpus, bench, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(cont.toSeq == Seq(0L, 1L))
    val clean = Decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(clean.toSeq == Seq(2L, 3L))
    // n larger than every doc: nothing contaminated, nothing dropped
    val all = Decontaminate(corpus, bench, "text", "doc_id", n = 50)
      .count()
    assert(all == 4L)
  }

  test("ngram decontamination: whitespace variants still hash to the same gram") {
    import graft.ops.Decontaminate
    // the shared 4-gram differs only in whitespace (tab, newline, double
    // space, leading/trailing pad) between bench and corpus — the GPT-3
    // method treats words as \s+ tokens, so all variants must be caught
    val corpus = Seq(
      (0L, "alpha beta\tgamma delta epsilon"),
      (1L, "  alpha  beta gamma\ndelta trailing words  "),
      (2L, "alpha beta gamma other delta")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cont = Decontaminate.contaminatedIds(corpus, bench, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(cont.toSeq == Seq(0L, 1L))
    // and the join path agrees with the documented wordNgrams surface
    val viaStrings = corpus
      .select(col("doc_id"), explode(Decontaminate.wordNgrams(col("text"), 4)).as("g"))
      .join(bench.select(explode(Decontaminate.wordNgrams(col("text"), 4)).as("g")), Seq("g"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(viaStrings == cont.toSet)
  }

  test("repetition counters property: equals brute-force recomputation") {
    val rnd = new scala.util.Random(41)
    val vocab = Seq("a", "bb", "ccc", "dd", "e")
    (0 until 200).foreach { _ =>
      val n = rnd.nextInt(12)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val ws = text.split("\\s+").filter(_.nonEmpty)
      val bgs = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val cnt = bgs.groupBy(identity).view.mapValues(_.size).toMap
      val want = Seq[Long](ws.length, ws.distinct.length, ws.map(_.length.toLong).sum,
        bgs.length, if (cnt.isEmpty) 0L else cnt.values.max.toLong,
        cnt.values.filter(_ > 1).sum.toLong)
      assert(TextStats.repetitionCountsValue(text).toSeq == want, s"text='$text'")
    }
  }

  test("ngram decontamination property: equals brute-force overlap") {
    val rnd = new scala.util.Random(43)
    val vocab = Seq("w1", "w2", "w3")
    val n = 3
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val bench = df.filter($"doc_id" % 5 === 0)
    def grams(t: String): Set[String] =
      t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val benchGrams = corpus.filter(_._1 % 5 == 0).flatMap(c => grams(c._2)).toSet
    val wantContaminated = corpus.filter(c => grams(c._2).exists(benchGrams)).map(_._1).toSet
    val got = graft.ops.Decontaminate.contaminatedIds(df, bench, "text", "doc_id", n)
      .collect().map(_.getLong(0)).toSet
    assert(got == wantContaminated)
    val clean = graft.ops.Decontaminate(df, bench, "text", "doc_id", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == corpus.map(_._1).toSet -- wantContaminated)
  }

  test("fingerprint: rolling hash is content-defined") {
    val d = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),
      (2L, "q r s t u v w x y z")).toDF("id", "text")
    val fps = d.select(TextStats.fingerprint($"text")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1)) // identical docs -> identical fingerprint
    assert(fps(0) != fps(2)) // different content -> different fingerprint
  }

  test("size-targeted write: files land near the target, none tiny") {
    import graft.ops.Materialize
    val dir = java.nio.file.Files.createTempDirectory("graft_matwrite").toString
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .repartition(8) // many small tasks: the shape that sprays tiny files
      val target = 1 // MB — small enough that sf0.001 yields multiple files
      val (rowsPerFile, bpr) = Materialize.writeSized(docs, s"$dir/out",
        targetFileMB = target, sortCols = Seq("lang"))
      assert(bpr > 1.0)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/out"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
      val sizes = files.map(java.nio.file.Files.size(_))
      assert(sizes.nonEmpty)
      // no file overshoots the target by more than 2x (sampling error bound)
      assert(sizes.forall(_ < target * 1024 * 1024 * 2), sizes.mkString(","))
      // ...and the 8 undersized input partitions CONSOLIDATE: file count is
      // what the total stored bytes demand, not what the input partitioning
      // sprays (+1 slack for the range-partition boundary)
      val wantFiles = math.max(1L, math.ceil(
        sizes.sum.toDouble / (target * 1024 * 1024)).toLong)
      assert(sizes.length <= wantFiles + 1,
        s"tiny-file spray: ${sizes.length} files for ${sizes.sum} bytes at ${target}MB target")
      // rereads identical
      val n0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
      assert(spark.read.parquet(s"$dir/out").count() == n0)
      assert(rowsPerFile >= 1L)
      // the sample scratch dir is cleaned up
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out_rowsize_sample")))
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(java.nio.file.Paths.get(dir))
    }
  }

  test("bloom decontamination equals the exact broadcast path") {
    val bench = docs.filter(col("doc_id").isin(0L, 2L))
    val exact = graft.ops.Decontaminate(docs, bench, "text", "doc_id", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val viaBloom = graft.ops.Decontaminate.bloom(docs, bench, "text", "doc_id", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(viaBloom.toSeq == exact.toSeq)
    // a very lossy filter still yields exact results (confirm join
    // removes the extra false positives the high fpp lets through)
    val lossy = graft.ops.Decontaminate.bloom(docs, bench, "text", "doc_id",
      n = 3, fpp = 0.5).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(lossy.toSeq == exact.toSeq)
  }

  test("duplicate spans: global window counts, within-doc repeats, short docs") {
    val corpus = Seq(
      (0L, "a b c d e"),      // windows(3): [abc, bcd, cde]
      (1L, "a b c x y"),      // shares abc with 0
      (2L, "p q r p q r p q") // within-doc repeats: pqr x2, qrp x2, rpq x2
      , (3L, "zz")).toDF("doc_id", "text") // shorter than window
    val out = Dedup.duplicateSpans(corpus, "text", "doc_id", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 0: 3 windows, 1 dup (abc shared with doc 1)
    assert(out(0) == (0L, 3L, 1L, 0.333333))
    assert(out(1) == (1L, 3L, 1L, 0.333333))
    // doc 2: 6 windows: pqr qrp rpq pqr qrp rpq — every one occurs twice
    assert(out(2) == (2L, 6L, 6L, 1.0))
    assert(out(3) == (3L, 0L, 0L, 0.0))
  }

  test("remove duplicate spans: first occurrence survives, cuts union, docs vanish") {
    val corpus = Seq(
      (0L, "a b c d"),      // owner of abc@0, bcd@1 -> untouched
      (1L, "x a b c y"),    // abc@1 dup -> cut tokens 1..3 -> "x y"
      (2L, "a b c d"),      // exact dup: both windows cut -> covers all -> dropped
      (3L, "z z"),          // shorter than window -> untouched
      (4L, "p q r p q r"))  // within-doc repeat pqr@3 -> cut 3..5 -> "p q r"
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, "text", "doc_id", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (0L, 4L, "a b c d"),
      (1L, 2L, "x y"),
      (3L, 2L, "z z"),
      (4L, 3L, "p q r")))
    spark.catalog.clearCache()
  }

  test("cutRebuildValue: 200 random cut sets match the dead-set reference") {
    // the r8 kernel vs an independent O(tokens×cuts) reference: any cut
    // position (incl. ones whose window overhangs the end), any overlap
    // pattern, any window size
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 200) {
      val n = 1 + rnd.nextInt(40)
      val toks = (0 until n).map(i => s"t$i")
      val text = toks.mkString(" ")
      val w = 1 + rnd.nextInt(6)
      val cuts = (0 until rnd.nextInt(10)).map(_ => rnd.nextInt(n)).distinct.toArray
      val (gotN, gotS) = Dedup.cutRebuildValue(text, cuts.clone(), w)
      val dead = cuts.flatMap(p => p until math.min(p + w, n)).toSet
      val kept = (0 until n).filterNot(dead).map(toks)
      assert(gotN == kept.size && gotS == kept.mkString(" "),
        s"trial=$trial n=$n w=$w cuts=${cuts.toSeq}: got ($gotN, '$gotS')")
    }
  }

  test("remove duplicate spans: many overlapping cuts merge into intervals (vs brute force)") {
    // adversarial boilerplate doc: "a0 a1 a2" repeated 500 times in doc 1
    // makes every window after the first a duplicate — hundreds of
    // OVERLAPPING cut windows that must pre-merge instead of each being
    // re-checked per token (the old tokens×cuts shape)
    val unit = (0 until 3).map(i => s"a$i").mkString(" ")
    val boiler = Seq.fill(500)(unit).mkString(" ")
    val w = 4
    val corpus = Seq(
      (0L, s"$unit x $unit y"),          // owner of the early windows
      (1L, s"head1 head2 $boiler tail1 tail2")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, "text", "doc_id", window = w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

    // brute-force oracle: same window hashing (token equality suffices
    // here — tokens are distinct strings), global-first ownership, cut
    // every non-owner occurrence's [p, p+w) range, rebuild
    val texts = Map(0L -> s"$unit x $unit y",
      1L -> s"head1 head2 $boiler tail1 tail2")
    val wins = texts.toSeq.sortBy(_._1).flatMap { case (id, t) =>
      val tk = t.split("\\s+")
      (0 to tk.length - w).map(p => ((id, p), tk.slice(p, p + w).mkString(" ")))
    }
    val byKey = wins.groupBy(_._2)
    val owners = byKey.map { case (k, occ) => k -> occ.map(_._1).min }
    val expected = texts.toSeq.sortBy(_._1).flatMap { case (id, t) =>
      val tk = t.split("\\s+")
      val cuts = (0 to tk.length - w).filter { p =>
        val k = tk.slice(p, p + w).mkString(" ")
        byKey(k).size > 1 && owners(k) != ((id, p))
      }
      val dead = cuts.flatMap(p => p until math.min(p + w, tk.length)).toSet
      val keptT = tk.indices.filterNot(dead).map(tk)
      if (keptT.isEmpty) None
      else Some((id, keptT.length.toLong, keptT.mkString(" ")))
    }
    assert(out == expected)
    spark.catalog.clearCache()
  }

  test("line dedup: global first occurrence wins, docs reassemble in order") {
    val multi = Seq(
      (0L, "alpha\nbeta\nalpha"),   // within-doc repeat: 2nd alpha drops
      (1L, "beta\ngamma"),          // beta seen in doc 0 -> drops
      (2L, "alpha\nbeta"),          // both seen -> doc disappears
      (3L, "delta")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(multi, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (0L, 2L, "alpha\nbeta"),
      (1L, 1L, "gamma"),
      (3L, 1L, "delta")))
  }

  test("line dedup property: equals brute-force first-occurrence sweep") {
    val rnd = new scala.util.Random(43)
    val vocab = Seq("aa bb", "cc", "dd ee ff", "gg", "hh ii") // tiny -> collisions
    (0 until 20).foreach { round =>
      val docs = (0 until 8).map { id =>
        val n = 1 + rnd.nextInt(4)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString("\n"))
      }
      // brute force: sweep (id, pos) in order, keep first global occurrence
      val seen = scala.collection.mutable.Set[String]()
      val want = docs.flatMap { case (id, text) =>
        val kept = text.split("\n", -1).filter(l => seen.add(l))
        if (kept.isEmpty) None
        else Some((id, kept.length.toLong, kept.mkString("\n")))
      }
      val got = Dedup.lineDedup(docs.toDF("doc_id", "text"), "text", "doc_id")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(got.toSeq == want, s"round $round docs=$docs")
    }
  }

  test("duplicate spans property: equals brute-force window counting") {
    val rnd = new scala.util.Random(47)
    val vocab = Seq("x", "y", "z")
    (0 until 20).foreach { round =>
      val docs = (0 until 6).map { id =>
        val n = rnd.nextInt(8)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val w = 3
      val allWins = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        toks.sliding(w).filter(_.length == w).map(win => (id, win.mkString(" "))).toSeq
      }
      val freq = allWins.groupBy(_._2).view.mapValues(_.size).toMap
      val want = docs.map { case (id, _) =>
        val mine = allWins.filter(_._1 == id)
        val nd = mine.count(x => freq(x._2) > 1)
        val frac = if (mine.isEmpty) 0.0
          else BigDecimal(nd.toDouble / mine.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, mine.size.toLong, nd.toLong, frac)
      }
      val got = Dedup.duplicateSpans(docs.toDF("doc_id", "text"), "text",
          "doc_id", window = w)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == want, s"round $round docs=$docs")
    }
  }

  test("line dedup: no duplicates is a no-op; custom delimiter") {
    val clean = Seq((0L, "a|b"), (1L, "c|d")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(clean, "text", "doc_id", delim = "|")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((0L, 2L, "a|b"), (1L, 2L, "c|d")))
  }

  test("packing offsets: exact global prefix, partition-independent, empty docs drop") {
    val corpus = Seq(
      (0L, "a b c"),        // 3 tokens, start 0, seqs 0..0
      (1L, ""),             // 0 tokens -> dropped
      (2L, "d e f g"),      // 4 tokens, start 3, seqs 0..1 (L=4: 3..6)
      (3L, "h"),            // 1 token, start 7, seq 1
      (4L, "i j k l m"))    // 5 tokens, start 8, seqs 2..3
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Packing.packingOffsets(df, "text", "doc_id", seqTokens = 4)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val got = run(corpus)
    assert(got.toSeq == Seq(
      (0L, 3L, 0L, 0L, 0L),
      (2L, 4L, 3L, 0L, 1L),
      (3L, 1L, 7L, 1L, 1L),
      (4L, 5L, 8L, 2L, 3L)))
    // partitioning-independence: a hostile input layout gives identical rows
    assert(run(corpus.repartition(7)).toSeq == got.toSeq)
    assert(run(corpus.repartition(1)).toSeq == got.toSeq)
    spark.catalog.clearCache()
  }

  test("bigram perplexity: add-alpha closed form vs hand computation") {
    val ref = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    // ref unigrams: a:3 b:2 c:1 -> V = 3+1 = 4
    // ref bigrams: (a,b):2 (b,a):1 (a,c):1
    val docs = Seq(
      (10L, "a b"),    // lp = ln((2+.1)/(3+.1*4)) = ln(2.1/3.4)
      (11L, "b c"),    // ln((0+.1)/(2+.4)) = ln(.1/2.4)
      (12L, "z a"),    // unseen history: ln(.1/(0+.4))
      (13L, "solo"),   // 1 token -> 0 bigrams, null scores
      (14L, "a b a")   // ln(2.1/3.4) + ln((1+.1)/(2+.4))
    ).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Lm.bigramPerplexity(d, ref, "text", "doc_id", alpha = 0.1)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    val out = run(docs)
    def g(x: Double) = math.floor(x * 1e9) / 1e9 // the integer-grain contract
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(0) == ((10L, 1L, Some(r6(g(math.log(2.1 / 3.4)))))))
    assert(out(1) == ((11L, 1L, Some(r6(g(math.log(0.1 / 2.4)))))))
    assert(out(2) == ((12L, 1L, Some(r6(g(math.log(0.1 / 0.4)))))))
    assert(out(3) == ((13L, 0L, None)))
    assert(out(4) == ((14L, 2L,
      Some(r6((g(math.log(2.1 / 3.4)) + g(math.log(1.1 / 2.4))) / 2)))))
    // partitioning-independence: the integer-grain sum must not care
    assert(run(docs.repartition(7)).toSeq == out.toSeq)
  }

  test("perplexity buckets: head/middle/tail split, unscored docs are tail") {
    val ref = Seq((0L, "a b a b a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b a b"), (2L, "a b z q"), (3L, "z q z q"), (4L, "x"))
      .toDF("doc_id", "text")
    val buckets = graft.ops.Lm.perplexityBuckets(
        graft.ops.Lm.bigramPerplexity(docs, ref, "text", "doc_id"), "doc_id",
        headQ = 0.34, tailQ = 0.67)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getAs[String]("bucket")))
    assert(buckets(0)._2 == "head")   // pure in-distribution
    // "a b z q" scores WORSE than all-OOV "z q z q": a known history with
    // an unseen continuation divides alpha by the full history count,
    // while an unseen history gets the flat 1/V - the classic smoothed-LM
    // caveat (CCNet buckets exist precisely to absorb such quirks)
    assert(buckets(1)._2 == "tail")
    assert(buckets(2)._2 == "middle")
    assert(buckets(3)._2 == "tail")   // unscored
  }

  test("dsir importance weights: target-like docs score higher; partition-independent") {
    val docs = Seq(
      (0L, "clean prose about science topics"),
      (1L, "clean prose about history topics"),
      (2L, "buy now click here spam spam"),
      (3L, "")).toDF("doc_id", "text")
    val target = Seq((0L, "clean prose about many good topics")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Lm.importanceWeights(d, target, "text", "doc_id", buckets = 256)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    val out = run(docs)
    // target-overlapping docs beat the spam doc
    assert(out(0)._3.get > out(2)._3.get && out(1)._3.get > out(2)._3.get, out.mkString(","))
    // empty text still yields one ''-unigram (the raw-split contract)
    assert(out(3)._2 == 1L)
    assert(run(docs.repartition(5)).toSeq == out.toSeq)
  }

  test("mixture plan: epoch cap, shortfall, unweighted domains absent") {
    val corpus = Seq(
      ("web", 100L), ("web", 100L),    // available 200
      ("code", 50L),                   // available 50
      ("books", 500L)                  // unweighted -> absent
    ).toDF("domain_col", "toks")
    val plan = graft.ops.Sampling.mixturePlan(corpus, "domain_col", col("toks"),
        Seq("web" -> 0.5, "code" -> 0.5), budget = 1000L, maxEpochs = 3.0)
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    // code: target 500, cap 50*3=150 -> shortfall 350, epochs 3.0
    assert(plan(0) == (("code", 50L, 500L, 150L, 3.0, 350L)))
    // web: target 500, cap 200*3=600 -> no shortfall, epochs 2.5
    assert(plan(1) == (("web", 200L, 500L, 500L, 2.5, 0L)))
    assert(plan.length == 2)
  }

  test("ngramRepetition: hand-counted 3/4-gram fractions and keep edges") {
    import graft.ops.TextStats.ngramRepetitionValue
    // "a b a b a b": 3-grams = [aba, bab, aba, bab] -> tot 4, top 2, dup 4
    assert(ngramRepetitionValue("a b a b a b", 3).toSeq == Seq(4L, 2L, 4L))
    // all distinct
    assert(ngramRepetitionValue("q w e r t", 3).toSeq == Seq(3L, 1L, 0L))
    // shorter than n
    assert(ngramRepetitionValue("a b", 3).toSeq == Seq(0L, 0L, 0L))
    assert(ngramRepetitionValue("", 4).toSeq == Seq(0L, 0L, 0L))
    val df = Seq(
      (0L, "a b a b a b a b"), // heavy repetition -> dropped
      (1L, "one two three four five six seven eight nine ten eleven twelve")) // clean -> kept
      .toDF("doc_id", "text")
    val out = graft.ops.TextStats.ngramRepetition(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("keep") == 0 &&
      out(0).getAs[Double]("dup_3gram_frac") == 1.0)
    assert(out(1).getAs[Long]("keep") == 1 &&
      out(1).getAs[Double]("top_3gram_frac") < 0.17)
  }

  test("gopherPageRules: alpha/symbol/bullet/ellipsis/stopword rules") {
    val good = "with the quick brown fox we jump over lazy dogs again today"
    val df = Seq(
      (0L, good), // 2 stopwords (with, the), all alpha -> keep
      (1L, "12345 67890 11111 22222 33333 with the"), // alpha frac 2/7 < 0.8
      (2L, "# # # # with the words here"), // 4 symbols / 8 words > 0.1
      (3L, "• one two with\n• three the four\n- five six seven"), // all bullets
      (4L, "fade away with...\nthe end comes…\nplain line"), // 2/3 ellipsis
      (5L, "no stop words here at all"), // 0 of the 8 stopwords
      (6L, "")).toDF("doc_id", "text")
    val out = graft.ops.TextStats.gopherPageRules(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("keep") == 1 && out(0).getAs[Long]("n_stopwords") == 2)
    assert(out(1).getAs[Long]("keep") == 0 &&
      out(1).getAs[Double]("alpha_word_frac") < 0.8)
    assert(out(2).getAs[Long]("keep") == 0 &&
      out(2).getAs[Double]("symbol_ratio") == 0.5)
    assert(out(3).getAs[Long]("keep") == 0 &&
      out(3).getAs[Double]("bullet_line_frac") == 1.0)
    assert(out(4).getAs[Long]("keep") == 0 &&
      out(4).getAs[Double]("ellipsis_line_frac") == 0.666667)
    assert(out(5).getAs[Long]("keep") == 0 && out(5).getAs[Long]("n_stopwords") == 0)
    assert(out(6).getAs[Long]("keep") == 0 && out(6).getAs[Long]("n_words") == 0)
  }

  test("boilerplate lines: removed everywhere incl. first; thresholds bind") {
    import graft.ops.Dedup
    // domain A: 4 docs share a footer; domain B: 2 docs share one (below minDocs)
    val d = Seq(
      (0L, "a", "unique zero\nFOOTER A"),
      (1L, "a", "unique one\nFOOTER A"),
      (2L, "a", "unique two\nFOOTER A"),
      (3L, "a", "unique three\nFOOTER A\nrare line"),
      (4L, "a", "no footer here"),
      (10L, "b", "b text ten\nFOOTER B"),
      (11L, "b", "b text eleven\nFOOTER B"))
      .toDF("id", "dom", "text")
    val out = Dedup.removeBoilerplateLines(d, "text", "id", "dom",
        minDocs = 3, minDocFrac = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // FOOTER A in 4/5 of domain a → removed from ALL FOUR (first included)
    (0L to 2L).foreach(i => assert(out(i)._2 == s"unique ${Seq("zero","one","two")(i.toInt)}", out(i).toString))
    assert(out(3L) == (2L, "unique three\nrare line"))
    assert(out(4L) == (1L, "no footer here"))
    // FOOTER B only in 2 docs < minDocs=3 → kept despite 100% frac
    assert(out(10L) == (2L, "b text ten\nFOOTER B"))
    // a line must clear BOTH thresholds (frac alone not enough)
    val big = (0 until 20).map(i => (i.toLong, "c", s"body $i\nCOMMON"))
      .toDF("id", "dom", "text")
    val out2 = Dedup.removeBoilerplateLines(big, "text", "id", "dom",
        minDocs = 3, minDocFrac = 0.5)
      .collect().map(r => r.getString(2))
    assert(out2.forall(!_.contains("COMMON")))
    // doc that is ALL boilerplate disappears
    val all = (0 until 5).map(i => (i.toLong, "d", "ONLY FOOTER")).toDF("id", "dom", "text")
    assert(Dedup.removeBoilerplateLines(all, "text", "id", "dom",
      minDocs = 3, minDocFrac = 0.5).count() == 0)
  }

  test("corpus card: metrics, entropy bounds, uniform-mix entropy") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon", "s1"),
      (1L, "alpha beta gamma delta epsilon", "s1"), // exact dup
      (2L, "one two three four five six", "s2"),
      (3L, "shorty", "s2")).toDF("id", "text", "src")
    val card = TextStats.corpusCard(d, "text", "id", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") == 4.0 && card("n_tokens") == 17.0)
    assert(card("dup_frac") == 0.25)           // 3 distinct of 4
    assert(card("short_doc_frac") == 0.25)     // "shorty"
    assert(card("mean_doc_tokens") == 4.25)
    // two equal sources → ln 2 (to the grain)
    assert(math.abs(card("source_entropy") - math.log(2)) < 1e-6, card.toString)
    // single source → exactly 0 (p=1 → term ln 1 = 0)
    val one = TextStats.corpusCard(d.withColumn("src", lit("only")),
      "text", "id", "src").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(one("source_entropy") == 0.0)
    // empty corpus: all-zero card, no null/NaN
    val empty = TextStats.corpusCard(d.filter(lit(false)), "text", "id", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(empty.values.forall(v => v == 0.0), empty.toString)
  }

  test("cdc chunks: reassembly, short/blank docs, boundary realignment") {
    import graft.ops.TextStats
    def norm(s: String) = s.trim.split("\\s+").mkString(" ")
    val text = (0 until 200).map(i => s"tok${i * 7 % 97}").mkString("  ")
    val chunks = TextStats.cdcChunksValue(text, 5, 8)
    // chunks re-join to the ws-normalized text, nothing lost or reordered
    assert(chunks.mkString(" ") == norm(text))
    assert(chunks.length >= 5, s"expected several chunks, got ${chunks.length}")
    // blank → nothing; shorter than one window → one whole chunk
    assert(TextStats.cdcChunksValue("   ", 5, 8).isEmpty)
    assert(TextStats.cdcChunksValue("a  b c", 5, 8).toSeq == Seq("a b c"))
    // content-defined realignment: the same suffix behind two DIFFERENT
    // prefixes chunks identically once past the first shared boundary —
    // the property fixed-stride chunking lacks
    val shared = (0 until 150).map(i => s"s$i").mkString(" ")
    val a = TextStats.cdcChunksValue("one two three " + shared, 5, 8)
    val b = TextStats.cdcChunksValue("four five six seven eight nine " + shared, 5, 8)
    assert(a.length >= 4 && b.length >= 4)
    assert(a.takeRight(3).toSeq == b.takeRight(3).toSeq,
      s"tails diverged:\n${a.takeRight(3).toSeq}\n${b.takeRight(3).toSeq}")
    // SQL surface agrees with the kernel (both registration paths share
    // allFunctions, so install() coverage covers spark.sql.extensions)
    graft.spark.GraftExtensions.install(spark)
    val viaSql = spark.sql("SELECT graft_cdc_chunks('a b  c', 5, 8) AS c")
      .head().getSeq[String](0)
    assert(viaSql == TextStats.cdcChunksValue("a b  c", 5, 8).toSeq)
  }

  test("cdc delta dedup: corpus-owned chunks drop from the delta only") {
    import graft.ops.Dedup
    val shared = (0 until 150).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (0L, "corpus head " + shared),
      (1L, "another corpus doc entirely")).toDF("doc_id", "text")
    val dShared = (0 until 60).map(i => s"d$i").mkString(" ")
    val delta = Seq(
      (10L, "delta head " + shared),      // loses the corpus-shared interior
      (11L, "fresh delta content only"),  // untouched
      (12L, "x y " + dShared),            // owns dShared chunks
      (13L, "p q " + dShared)             // loses them to 12 (intra-delta)
    ).toDF("doc_id", "text")
    val out = Dedup.cdcDedupDelta(corpus, delta, "text", "doc_id",
        window = 5, divisor = 8)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(10L).startsWith("delta head"))
    assert(out(10L).length < ("delta head " + shared).length)
    assert(out(11L) == "fresh delta content only")
    assert(out(12L) == "x y " + dShared)  // first intra-delta occurrence keeps all
    assert(out(13L).length < ("p q " + dShared).length)
    // corpus ids never appear — only the cleaned delta returns
    assert(out.keySet.forall(_ >= 10L))
  }

  test("round-8 ops degrade cleanly on an empty corpus") {
    import graft.ops.{Dedup, Packing, Sampling}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.cdcChunkTable(empty, "text", "doc_id").count() == 0)
    assert(Dedup.cdcDedupDocs(empty, "text", "doc_id").count() == 0)
    assert(Dedup.cdcChunkPairs(empty, "text", "doc_id").count() == 0)
    assert(Sampling.trainingOrder(empty, "doc_id").count() == 0)
    assert(Packing.packSequences(empty, "text", "doc_id", 16).count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.crossSourceDupMatrix(noPairs, empty, "doc_id", "text")
      .count() == 0)
  }

  test("cdc chunk pairs: containment flags embedded docs, strangers stay apart") {
    import graft.ops.Dedup
    val shared = (0 until 150).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (0L, "alpha beta gamma " + shared),
      (1L, shared),                              // wholly embedded in 0 and 2
      (2L, "delta epsilon zeta eta " + shared),
      (3L, (0 until 80).map(i => s"z$i").mkString(" "))  // stranger
    ).toDF("doc_id", "text")
    val pairs = Dedup.cdcChunkPairs(docs, "text", "doc_id",
        window = 5, divisor = 8, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // doc 1 is (almost) wholly contained in 0 and 2 — containment near 1
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L))._2 >= 0.8,
      pairs.toString)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L))._2 >= 0.8)
    assert(pairs.contains((0L, 2L)))   // they share the interior chunks too
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("cdc dedup: shared passage keeps first occurrence, full dup drops") {
    import graft.ops.Dedup
    val shared = (0 until 150).map(i => s"s$i").mkString(" ")
    val uniq2 = (0 until 40).map(i => s"u${i}").mkString(" ")
    val docs = Seq(
      (0L, "one two three " + shared),            // owns the shared chunks
      (1L, uniq2 + " " + shared),                 // loses realigned shared chunks
      (2L, "totally unrelated standalone text"),  // untouched
      (3L, "one two three " + shared)             // full dup of doc 0 → all owned elsewhere
    ).toDF("doc_id", "text")
    val out = Dedup.cdcDedupDocs(docs, "text", "doc_id", window = 5, divisor = 8)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    val byId = out.map(t => t._1 -> t).toMap
    // doc 0 first: keeps everything (ws-normalized)
    assert(byId(0L)._3 == ("one two three " + shared))
    // doc 1 keeps its unique head, loses the shared tail chunks that
    // realigned with doc 0's (the boundary-straddling chunk may survive)
    assert(byId(1L)._3.startsWith(uniq2))
    assert(byId(1L)._3.length < (uniq2 + " " + shared).length)
    // doc 2 untouched; doc 3 fully deduplicated away
    assert(byId(2L)._3 == "totally unrelated standalone text")
    assert(!byId.contains(3L))
    // rebuild kernel: no drops == plain chunk re-join; drops match filter
    val chunks = graft.ops.TextStats.cdcChunksValue(shared, 5, 8)
    val (n0, t0) = Dedup.chunkDropRebuildValue(shared, Array.empty, 5, 8)
    assert(n0 == chunks.length && t0 == chunks.mkString(" "))
    val (n1, t1) = Dedup.chunkDropRebuildValue(shared, Array(0, 2), 5, 8)
    val kept = chunks.zipWithIndex.collect { case (c, i) if i != 0 && i != 2 => c }
    assert(n1 == kept.length && t1 == kept.mkString(" "))
  }

  test("pack sequences: exact lengths, byte-faithful reassembly, straddling docs") {
    import graft.ops.Packing
    val docs = Seq(
      (0L, "a b c"),          // 3 tokens
      (1L, "d e f g h i j"),  // 7 → straddles seqs 0→1 and 1→2
      (2L, "   "),            // whitespace-only → dropped
      (3L, "k l m")           // 3 → ends in partial seq 2
    ).toDF("doc_id", "text")
    val out = Packing.packSequences(docs, "text", "doc_id", seqTokens = 5)
      .orderBy(col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // 13 tokens → seqs of 5,5,3
    assert(out.toSeq == Seq(
      (0L, 5L, "a b c d e"),
      (1L, 5L, "f g h i j"),
      (2L, 3L, "k l m")))
    // concatenation in seq order == corpus in id order (ws-normalized)
    assert(out.map(_._3).mkString(" ") == "a b c d e f g h i j k l m")
    // partitioning invariance (the offsets' pin extends to the writer)
    val again = Packing.packSequences(docs.repartition(5), "text", "doc_id", 5)
      .orderBy(col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.toSeq == out.toSeq)
    // EOS separator: every non-blank doc contributes its tokens + <eos>;
    // blank docs stay dropped and contribute no separator
    val sep = Packing.packSequences(docs, "text", "doc_id", 4, sepToken = "<eos>")
      .orderBy(col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(sep.map(_._3).mkString(" ") ==
      "a b c <eos> d e f g h i j <eos> k l m <eos>")
    assert(sep.forall(s => s._2 == 4L || s == sep.last))
  }

  test("cdc chunks property: reassembly and drop-rebuild over random corpora") {
    import graft.ops.{Dedup, TextStats}
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 50) {
      val n = rnd.nextInt(120)
      val glue = if (rnd.nextBoolean()) " " else "  "
      val text = (0 until n).map(_ => s"t${rnd.nextInt(30)}").mkString(glue)
      val w = 1 + rnd.nextInt(6)
      val div = 1L << (1 + rnd.nextInt(5))
      val chunks = TextStats.cdcChunksValue(text, w, div)
      val norm = text.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(chunks.mkString(" ") == norm, s"w=$w div=$div n=$n")
      val drops = (0 until chunks.length).filter(_ => rnd.nextBoolean()).toArray
      val (nk, t2) = Dedup.chunkDropRebuildValue(text, drops, w, div)
      val kept = chunks.zipWithIndex.collect {
        case (c, i) if !drops.contains(i) => c
      }
      assert(nk == kept.length && t2 == kept.mkString(" "), s"w=$w div=$div")
    }
  }

  test("training order: dense ranks, partitioning-invariant, domains interleave") {
    import graft.ops.Sampling
    val rows = (0 until 400).map(i => (i.toLong, if (i < 300) "big" else "small"))
    val df = rows.toDF("doc_id", "domain")
    val ranks = Sampling.trainingOrder(df, "doc_id", "s").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.values.toSeq.sorted == (1L to 400L))
    // partitioning invariance: base-offset + local-rank telescopes the same
    val again = Sampling.trainingOrder(df.repartition(7), "doc_id", "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == ranks)
    // reference order: md5(id || salt) ascending, driver-computed
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val ref = rows.map(_._1).sortBy(id => md5hex(id.toString + "s"))
      .zipWithIndex.map { case (id, i) => id -> (i + 1).toLong }.toMap
    assert(ranks == ref)
    // interleaving: a 75%-dominant domain never forms long blocks in
    // rank order (geometric runs; a blocked layout would run 300 deep)
    val domainOf = rows.toMap
    val seq = ranks.toSeq.sortBy(_._2).map(t => domainOf(t._1))
    val maxRun = seq.foldLeft((0, 0, "")) { case ((best, cur, prev), d) =>
      val c = if (d == prev) cur + 1 else 1
      (math.max(best, c), c, d)
    }._1
    assert(maxRun <= 60, s"max same-domain run $maxRun")
  }

  test("SQL surface: newly registered graft_* kernels agree with the kernels") {
    graft.spark.GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT graft_window_hashes('a b c d e f g', 5) AS wh," +
        " graft_compression_ratio('aaaaaaaaaaaaaaaaaaaa') AS cr," +
        " graft_ngram_repetition('a b a b', 2) AS nr").head()
    assert(r.getSeq[Long](0) ==
      graft.ops.TextStats.windowHashesValue("a b c d e f g", 5).toSeq)
    assert(r.getDouble(1) < 1.0 && r.getDouble(1) > 0.0)
    assert(r.getSeq[Long](2) ==
      graft.ops.TextStats.ngramRepetitionValue("a b a b", 2).toSeq)
    // every allFunctions name resolves after install; the vector-kernel
    // names outside that list do not
    graft.spark.GraftExtensions.allFunctions.foreach { case (id, _, _) =>
      assert(spark.catalog.functionExists(id.funcName), id.funcName)
    }
    Seq("graft_cosine", "graft_quantize_int8", "graft_int8_cosine",
      "graft_truncate_norm").foreach { name =>
      assert(!spark.catalog.functionExists(name), name)
    }
  }

  test("cross-source dup matrix: triangle cells, pair counts, distinct docs") {
    import graft.ops.Dedup
    val meta = Seq(
      (0L, "cc"), (1L, "wiki"), (2L, "cc"), (3L, "books"), (4L, "wiki"))
      .toDF("doc_id", "source")
    // pairs: cc↔wiki twice (0-1, 1-2 share doc 1), cc↔cc once, books↔wiki once
    val pairs = Seq((0L, 1L), (2L, 1L), (0L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val m = Dedup.crossSourceDupMatrix(pairs, meta, "doc_id", "source")
      .orderBy(col("source_lo"), col("source_hi")).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(("cc", "wiki")) == ((2L, 3L)))   // pairs (0,1),(2,1); docs {0,1,2}
    assert(m(("cc", "cc")) == ((1L, 2L)))     // pair (0,2)
    assert(m(("books", "wiki")) == ((1L, 2L)))
    assert(m.size == 3)
  }

  test("corpus snapshot diff and contamination overlap") {
    import graft.ops.Snapshot
    val before = Seq((0L, "alpha beta"), (1L, "gamma delta"), (2L, "epsilon zeta"))
      .toDF("id", "text")
    val after = Seq((0L, "alpha beta"), (1L, "gamma delta CHANGED"), (3L, "brand new"))
      .toDF("id", "text")
    val diff = Snapshot.corpusDiff(before, after, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(0L -> "unchanged", 1L -> "changed", 2L -> "removed",
      3L -> "added"), diff.toString)

    val corpus = Seq((0L, "one two three four five six seven")).toDF("id", "text")
    // bench doc shares the 5-window "two three four five six" family with
    // the corpus plus windows the corpus lacks
    val bench = Seq((0L, "two three four five six unseen1 unseen2 unseen3"))
      .toDF("id", "text")
    val rep = Snapshot.overlapReport(corpus, bench, "text", window = 5)
      .collect().head
    // corpus: 3 windows; bench: 4 windows, 2 shared ("two..six", "three..unseen1"? no —
    // shared = windows present in corpus: "two three four five six" only
    assert(rep.getLong(0) == 3 && rep.getLong(1) == 4)
    assert(rep.getLong(2) == 1 && rep.getDouble(3) == 0.25, rep.toString)
    // fully-contained bench → overlap 1.0
    val contained = Snapshot.overlapReport(corpus, corpus, "text", window = 5)
      .collect().head
    assert(contained.getDouble(3) == 1.0)
    // windowless bench → 0.0, not NaN
    val short = Snapshot.overlapReport(corpus,
      Seq((0L, "too short")).toDF("id", "text"), "text", window = 5).collect().head
    assert(short.getLong(1) == 0 && short.getDouble(3) == 0.0)
  }

  test("kl divergence report: zero on itself, positive under drift, invariant") {
    import graft.ops.Lm
    // single-domain corpus: P_domain == P_corpus cell-for-cell → exactly 0
    val one = Seq((0L, "a", "alpha beta gamma delta"),
      (1L, "a", "alpha beta beta epsilon")).toDF("id", "dom", "text")
    val k1 = Lm.klDivergenceReport(one, "dom", "text").collect()
    assert(k1.length == 1 && k1.head.getDouble(2) == 0.0, k1.toSeq.toString)
    // drifted domain scores higher than an on-mix domain
    val mixed = ((0 until 40).map(i => (i.toLong, "news", "the market rose today on strong earnings reports")) ++
      (40 until 80).map(i => (i.toLong, "also_news", "the market fell today on weak earnings reports")) ++
      (80 until 90).map(i => (i.toLong, "code", "def fn ( x ) : return x * x + 1 # comment"))
      ).toDF("id", "dom", "text")
    val kl = Lm.klDivergenceReport(mixed, "dom", "text").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl("code") > kl("news"), kl.toString)
    assert(kl.values.forall(_ >= 0.0), kl.toString)
    // partition invariance (the grained-sum contract)
    val rep = Lm.klDivergenceReport(mixed.repartition(7), "dom", "text").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rep == kl)
  }

  test("leakageSafeSplit: clusters land whole; untouched rows match assignSplit") {
    // two 3-doc near-dup clusters + 94 singletons
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val alt = "vector search with quantized codes beats brute force at scale"
    val docs = ((0 until 94).map(i => (i.toLong, s"unique document number $i about topic $i")) ++
      Seq((100L, base), (101L, base + " x"), (102L, base + " y"),
        (200L, alt), (201L, alt + " x"), (202L, alt + " y"))).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.5)
    // sanity: the two trios are the only near-dup structure
    val pairIds = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairIds == Set(100L, 101L, 102L, 200L, 201L, 202L), pairIds.toString)
    val out = graft.ops.Sampling.leakageSafeSplit(docs, pairs, "doc_id", salt = "lk")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 100)
    // each cluster: one split for all members
    assert(Set(out(100L), out(101L), out(102L)).size == 1)
    assert(Set(out(200L), out(201L), out(202L)).size == 1)
    // untouched rows: byte-identical to plain assignSplit on own id
    val plain = graft.ops.Sampling.assignSplit(docs, "doc_id", salt = "lk")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 94L).foreach(i => assert(out(i) == plain(i), s"row $i moved"))
    // and cluster members follow the REPRESENTATIVE's (min id) own-id split
    assert(out(100L) == plain(100L) && out(200L) == plain(200L))
  }

  test("sampleExactPerGroup: exact k per stratum, stable under growth") {
    val df = (0L until 100L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "g")
    val out = graft.ops.Sampling.sampleExactPerGroup(df, "id", "g", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._2 == "a") == 7 && out.count(_._2 == "b") == 7)
    // small group keeps everything
    val tiny = graft.ops.Sampling.sampleExactPerGroup(
      df.filter(col("id") < 5), "id", "g", k = 7).count()
    assert(tiny == 5)
    // growth stability: adding rows displaces at most one pick per group
    val grown = (0L until 120L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "g")
    val out2 = graft.ops.Sampling.sampleExactPerGroup(grown, "id", "g", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = out.toSet.intersect(out2)
    assert(kept.size >= out.length - 2, s"unstable: ${out.toSet.diff(out2)}")
    // deterministic across partitionings
    val rep = graft.ops.Sampling.sampleExactPerGroup(
      df.repartition(7), "id", "g", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rep == out.toSet)
  }

  test("filterByGroupQuantile: per-group median cut, side flip, null contracts") {
    val df = Seq(
      (0L, "en", java.lang.Long.valueOf(10L)), (1L, "en", java.lang.Long.valueOf(20L)),
      (2L, "en", java.lang.Long.valueOf(30L)), (3L, "en", java.lang.Long.valueOf(40L)),
      (4L, "de", java.lang.Long.valueOf(5L)), (5L, "de", java.lang.Long.valueOf(100L)),
      (6L, "en", null.asInstanceOf[java.lang.Long]),
      (7L, "xx", null.asInstanceOf[java.lang.Long])).toDF("id", "g", "score")
      .withColumnRenamed("g", "lang")
    val out = graft.ops.Sampling.filterByGroupQuantile(df, "score", "lang", 0.5)
      .orderBy("id").collect()
    // en median of 10,20,30,40 = 25 -> 10,20 keep
    assert(out(0).getAs[Long]("keep") == 1 && out(1).getAs[Long]("keep") == 1)
    assert(out(2).getAs[Long]("keep") == 0 && out(3).getAs[Long]("keep") == 0)
    assert(out(0).getAs[Double]("threshold") == 25.0)
    // de median of 5,100 = 52.5
    assert(out(4).getAs[Long]("keep") == 1 && out(5).getAs[Long]("keep") == 0)
    // null score and all-null group -> keep 0
    assert(out(6).getAs[Long]("keep") == 0 && out(7).getAs[Long]("keep") == 0)
    // keepBelow=false flips the side (>= so boundary rows survive)
    val hi = graft.ops.Sampling.filterByGroupQuantile(df, "score", "lang", 0.5,
        keepBelow = false).orderBy("id").collect()
    assert(hi(0).getAs[Long]("keep") == 0 && hi(3).getAs[Long]("keep") == 1)
  }

  test("temperature mixture plan: tau=2 boosts the tail, tau=1 is natural") {
    val corpus = Seq(("small", 100L), ("big", 400L)).toDF("domain_col", "toks")
    // tau=2: sqrt weights 10 vs 20 -> 1/3, 2/3 of a 300 budget
    val plan = graft.ops.Sampling.temperatureMixturePlan(corpus, "domain_col",
        col("toks"), temperature = 2.0, budget = 300L, maxEpochs = 1.0)
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))
    assert(plan(0)._1 == "big" && math.abs(plan(0)._3 - 2.0 / 3) < 1e-6
      && plan(0)._4 == 200L && plan(0)._5 == 200L && plan(0)._6 == 0.5)
    assert(plan(1)._1 == "small" && math.abs(plan(1)._3 - 1.0 / 3) < 1e-6
      && plan(1)._4 == 100L && plan(1)._5 == 100L && plan(1)._6 == 1.0
      && plan(1)._7 == 0L)
    // tau=1 reproduces natural proportions: small gets 0.2 of the mass
    val nat = graft.ops.Sampling.temperatureMixturePlan(corpus, "domain_col",
        col("toks"), temperature = 1.0, budget = 500L)
      .orderBy("domain").collect()
    assert(math.abs(nat(1).getDouble(2) - 0.2) < 1e-6
      && nat(1).getLong(3) == 100L)
    // epoch cap still binds: tiny maxEpochs forces shortfall
    val capped = graft.ops.Sampling.temperatureMixturePlan(corpus, "domain_col",
        col("toks"), temperature = 2.0, budget = 3000L, maxEpochs = 1.0)
      .orderBy("domain").collect()
    assert(capped(1).getLong(4) == 100L && capped(1).getLong(6) > 0L)
    // a domain whose rows all have zero tokens: epochs 0.0 (not null),
    // and the plan still feeds applyMixturePlan without tripping its
    // require (r7 ADVICE)
    val withEmpty = corpus.union(Seq(("empty", 0L)).toDF("domain_col", "toks"))
    val p2 = graft.ops.Sampling.temperatureMixturePlan(withEmpty, "domain_col",
        col("toks"), temperature = 2.0, budget = 300L, maxEpochs = 1.0)
      .orderBy("domain").collect()
    val emptyRow = p2.find(_.getString(0) == "empty").get
    assert(!emptyRow.isNullAt(5) && emptyRow.getDouble(5) == 0.0
      && emptyRow.getLong(4) == 0L)
  }

  test("url canonicalization: case, ports, userinfo, tracking params, non-urls") {
    val df = Seq(
      (0L, "HTTP://Example.COM:80/Path/X?utm_source=a&id=7#frag"),
      (1L, "https://u:p@Sub.Example.org:443/a?utm_a=1&utm_b=2"),
      (2L, "https://example.org"),
      (3L, "http://host.net:8080/x?a=1&fbclid=zz&b=2"),
      (4L, "not a url")).toDF("doc_id", "url")
    val out = df.select(col("doc_id"), graft.ops.Urls.normalize(col("url")),
        graft.ops.Urls.host(col("url")), graft.ops.Urls.registeredDomain(col("url")))
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    assert(out(0) == ("http://example.com/Path/X?id=7", "example.com", "example.com"))
    assert(out(1) == ("https://sub.example.org/a", "sub.example.org", "example.org"))
    assert(out(2) == ("https://example.org/", "example.org", "example.org"))
    assert(out(3) == ("http://host.net:8080/x?a=1&b=2", "host.net", "host.net"))
    assert(out(4) == ("not a url", "", ""))
  }

  test("registered domain: public-suffix-list rules, wildcards, exceptions, fallback") {
    val hosts = Seq(
      (0L, "https://foo.co.uk/x"),          // listed 2-label suffix
      (1L, "https://a.b.foo.co.uk/x"),      // deep subdomain, same answer
      (2L, "https://deep.sub.site.com.au"), // com.au registry
      (3L, "https://user.github.io"),       // private-domain suffix
      (4L, "https://a.user.github.io"),     // subdomain of a github page
      (5L, "https://co.uk"),                // host IS a public suffix -> ""
      (6L, "https://anything.weird.ck"),    // wildcard *.ck
      (7L, "https://www.ck"),               // exception !www.ck -> www.ck
      (8L, "https://sub.example.dev"),      // unlisted TLD -> last-2 fallback
      (9L, "https://bucket.s3.amazonaws.com"))
    val out = hosts.toDF("doc_id", "url")
      .select(col("doc_id"), graft.ops.Urls.registeredDomain(col("url")))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("foo.co.uk", "foo.co.uk", "site.com.au",
      "user.github.io", "user.github.io", "", "anything.weird.ck",
      "www.ck", "example.dev", "bucket.s3.amazonaws.com"))
    // SQL surface matches the column API
    graft.spark.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT graft_domain('a.b.foo.co.uk') AS d").head().getString(0)
    assert(viaSql == "foo.co.uk")
    // pure-kernel contracts
    assert(graft.ops.Psl.publicSuffix("foo.co.uk") == "co.uk")
    assert(graft.ops.Psl.publicSuffix("x.anything.ck") == "anything.ck")
    assert(graft.ops.Psl.publicSuffix("www.ck") == "ck")
    assert(graft.ops.Psl.registeredDomain("ck") == "")
  }

  test("pii redaction: masks emails, ips, phones; clean text untouched") {
    val df = Seq(
      (0L, "mail a.user+tag@sub.example.org or root@10.1.2.3 at 10.255.0.1 call +44 555-0199 end"),
      (1L, "no pii here just words"),
      (2L, "two mails x@y.io and z@w.ai")).toDF("doc_id", "text")
    val out = graft.ops.TextClean.redactPii(df, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_ips"), r.getAs[Long]("n_phones")))
    // root@10.1.2.3 is NOT an email (TLD must be alpha) -> its host is an IP
    assert(out(0)._1 ==
      "mail <EMAIL> or root@<IP> at <IP> call <PHONE> end")
    assert((out(0)._2, out(0)._3, out(0)._4) == (1L, 2L, 1L))
    assert(out(1)._1 == "no pii here just words" &&
      (out(1)._2, out(1)._3, out(1)._4) == (0L, 0L, 0L))
    assert(out(2)._1 == "two mails <EMAIL> and <EMAIL>" && out(2)._2 == 2L)
  }

  test("cleaning/url ops propagate null text as null (standard SQL contract)") {
    val df = Seq((0L, null.asInstanceOf[String]), (1L, "ok a@b.io"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextClean.redactPii(df, "text").orderBy("doc_id").collect()
    assert(r(0).isNullAt(r(0).fieldIndex("text")) &&
      r(0).isNullAt(r(0).fieldIndex("n_emails")))
    assert(r(1).getAs[String]("text") == "ok <EMAIL>")
    val h = df.select(graft.ops.TextClean.stripHtml(col("text")),
        graft.ops.Urls.normalize(col("text")), graft.ops.Urls.host(col("text")))
      .orderBy(df("doc_id")).collect()
    assert(h(0).isNullAt(0) && h(0).isNullAt(1) && h(0).isNullAt(2))
  }

  test("applyMixturePlan: full copies + fractional epoch, token mass near actual") {
    val df = (0L until 1000L).map(i => (i, if (i < 800) "web" else "code"))
      .toDF("id", "domain")
    // web: 1.5 epochs (one full copy + half), code: 0.25 (sample only)
    val out = graft.ops.Sampling.applyMixturePlan(
      df, "domain", "id", Seq("web" -> 1.5, "code" -> 0.25), salt = "s")
    val counts = out.groupBy("domain", "epoch").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts(("web", 0)) == 800L) // full epoch: everything
    val frac = counts(("web", 1))
    assert(frac > 300 && frac < 500, s"~400 expected, got $frac")
    val code = counts(("code", 0))
    assert(code > 20 && code < 90, s"~200*0.25=50 expected, got $code")
    // deterministic: same plan, same salt, same rows
    val again = graft.ops.Sampling.applyMixturePlan(
      df, "domain", "id", Seq("web" -> 1.5, "code" -> 0.25), salt = "s")
      .groupBy("domain", "epoch").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again == counts)
    // columns preserved + epoch appended
    assert(out.columns.toSeq == Seq("id", "domain", "epoch"))
  }

  test("sentence segmentation + compression ratio: boundaries, repetition signal") {
    val seg = Seq((0L, "First one. Second two! Third? Last"))
      .toDF("id", "text")
      .select(graft.ops.TextStats.sentenceDelimited(col("text")))
      .head().getString(0)
    assert(seg == "First one.\nSecond two!\nThird?\nLast")
    // abbreviation-naive by design: "e.g. x" splits (documented)
    val df = Seq(
      (0L, "spam " * 200),                     // highly repetitive
      (1L, (0 until 200).map(i => s"w$i").mkString(" ")), // diverse
      (2L, ""), (3L, null.asInstanceOf[String])).toDF("id", "text")
    val r = df.select(col("id"),
        graft.ops.TextStats.compressionRatio(col("text")).as("cr"))
      .orderBy("id").collect()
    val (rep, div) = (r(0).getDouble(1), r(1).getDouble(1))
    assert(rep < 0.1 && div > 0.3 && rep < div)
    assert(r(2).isNullAt(1) && r(3).isNullAt(1)) // empty and null → null
    // deterministic across invocations
    val again = df.select(graft.ops.TextStats.compressionRatio(col("text")))
      .orderBy(df("id")).collect()
    assert(again(0).getDouble(0) == rep && again(1).getDouble(0) == div)
  }

  test("mojibake repair inverts one and two rounds of damage; clean text untouched") {
    import graft.ops.TextClean.{fixMojibakeValue, mojibakeDamageValue}
    val orig = "café naïve æther – 汉字 😀 plain ascii tail"
    val once = mojibakeDamageValue(orig)
    val twice = mojibakeDamageValue(once)
    assert(once != orig && twice != once) // damage is real
    assert(fixMojibakeValue(once) == orig)
    assert(fixMojibakeValue(twice) == orig)
    // no false positive: genuine Latin-1-range prose is NOT valid UTF-8
    // when re-encoded, so repair leaves it alone
    assert(fixMojibakeValue(orig) == orig)
    assert(fixMojibakeValue("café résumé") == "café résumé")
    assert(fixMojibakeValue("pure ascii stays") == "pure ascii stays")
    assert(fixMojibakeValue("") == "")
    // column + SQL surfaces agree, null passes through
    val df = Seq((0L, mojibakeDamageValue("naïve 😀")), (1L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = df.select(graft.ops.TextClean.fixMojibake(col("text")))
      .orderBy(df("id")).collect()
    assert(got(0).getString(0) == "naïve 😀" && got(1).isNullAt(0))
    df.createOrReplaceTempView("moji_t")
    graft.spark.GraftExtensions.install(spark)
    val sqlGot = spark.sql("SELECT graft_fix_mojibake(text) FROM moji_t WHERE id = 0")
      .head().getString(0)
    assert(sqlGot == "naïve 😀")
  }

  test("c4Filter: line rules, sentence minimum, page poisons, audit counts") {
    val good = "This sentence is long enough and ends well."
    val page5 = (1 to 5).map(i => s"Good sentence number $i ends here.").mkString("\n")
    val df = Seq(
      (0L, page5), // clean 5-sentence page → kept
      (1L, page5 + "\nno terminal punct line\nShort.\nwe use javascript here."),
      (2L, (1 to 4).map(i => s"Only sentence $i is present here.").mkString("\n")),
      (3L, page5 + "\nSadly lorem ipsum appears here."),
      (4L, page5 + "\nBraces { break pages."),
      (5L, page5 + "\nA SLUR word poisons the page.")).toDF("doc_id", "text")
    val out = graft.ops.TextClean.c4Filter(df, "text", badWords = Seq("slur"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("keep") == 1 && out(0).getAs[Long]("n_sentences") == 5)
    // doc 1: the three bad lines are dropped, page still has its 5 good ones
    assert(out(1).getAs[Long]("keep") == 1)
    assert(out(1).getAs[Long]("n_lines_dropped") == 3)
    assert(out(1).getAs[String]("text") == page5)
    // doc 2: only 4 sentences → dropped, text retained for audit
    assert(out(2).getAs[Long]("keep") == 0 && out(2).getAs[Long]("n_sentences") == 4)
    // docs 3-5: lorem ipsum / brace / bad word (case-insensitive, whole word)
    assert(out(3).getAs[Long]("keep") == 0)
    assert(out(4).getAs[Long]("keep") == 0)
    assert(out(5).getAs[Long]("keep") == 0)
    // whole-word: "slurp" must NOT poison
    val ok = graft.ops.TextClean.c4Filter(
      Seq((0L, page5 + "\nWe slurp soup together tonight.")).toDF("doc_id", "text"),
      "text", badWords = Seq("slur")).head()
    assert(ok.getAs[Long]("keep") == 1)
    assert(good.nonEmpty)
  }

  test("astral-plane safety: emoji/supplementary chars survive normalize, tokens, dedup") {
    // U+1F600 GRINNING FACE (surrogate pair in UTF-16) + U+10348 GOTHIC HWAIR
    val emoji = new String(Character.toChars(0x1F600))
    val hwair = new String(Character.toChars(0x10348))
    val df = Seq(
      (0L, s"hello $emoji world $hwair end"),
      (1L, s"$emoji$emoji\n$emoji$emoji\ntail")).toDF("doc_id", "text")
    // normalize must not mangle supplementary characters (NFC is identity
    // on them; the regex classes must not split surrogate pairs)
    val norm = df.select(graft.ops.TextClean.normalizeUnicode(col("text")))
      .orderBy(df("doc_id")).collect().map(_.getString(0))
    assert(norm(0) == s"hello $emoji world $hwair end")
    // token counting sees them as non-space runs
    val toks = df.select(graft.ops.TextStats.wsTokens(col("text")))
      .orderBy(df("doc_id")).collect().map(_.getInt(0))
    assert(toks(0) == 5)
    // within-doc line dedup on emoji-only lines
    val dd = graft.ops.Dedup.dedupLinesWithinDoc(df, "text")
      .orderBy("doc_id").collect()
    assert(dd(1).getAs[String]("text") == s"$emoji$emoji\ntail")
    // BPE symbols are CODE POINTS: a surrogate pair is one symbol, never
    // two lone surrogates (which couldn't round-trip through UTF-8)
    val model = graft.ops.Bpe.BpeModel(Seq.empty, 0L, 0, 1.0)
    val enc = graft.ops.Bpe.encodeWordValue(s"a$emoji", model.ranks)
    assert(enc.toSeq == Seq("a", emoji, "</w>"))
  }

  test("property: mojibake damage inverts for arbitrary code-point soup; c4 idempotent") {
    import graft.ops.TextClean.{fixMojibakeValue, mojibakeDamageValue}
    // alphabet chosen over the full range: ASCII, Latin-1 accents (whose
    // Latin-1 bytes can never form valid UTF-8 next to these neighbors),
    // BMP CJK, astral emoji, whitespace/punct
    val cps = Array(97, 98, 99, 32, 32, 0xE9, 0xF1, 0x4E49, 0x6C49,
      0x1F600, 0x2026, 10, 9, 46, 63)
    val rnd = new scala.util.Random(42)
    def randString(): String = {
      val sb = new java.lang.StringBuilder
      val n = rnd.nextInt(40)
      var i = 0
      while (i < n) { sb.appendCodePoint(cps(rnd.nextInt(cps.length))); i += 1 }
      sb.toString
    }
    for (_ <- 1 to 300) {
      val s = randString()
      assert(fixMojibakeValue(mojibakeDamageValue(s)) == s, s"once: $s")
      assert(fixMojibakeValue(mojibakeDamageValue(mojibakeDamageValue(s))) == s,
        s"twice: $s")
    }
    // c4Filter is idempotent on its own kept output: kept lines satisfy
    // every line rule, and a kept page satisfies every page rule
    val page = (1 to 6).map(i => s"Idempotent sentence number $i ends here.")
      .mkString("\n") + "\nno punct dropped line"
    val once = graft.ops.TextClean.c4Filter(
      Seq((0L, page)).toDF("doc_id", "text"), "text", badWords = Seq("zzz"))
    val kept = once.where(col("keep") === 1).select("doc_id", "text")
    val twice = graft.ops.TextClean.c4Filter(kept, "text", badWords = Seq("zzz"))
      .head()
    assert(twice.getAs[Long]("keep") == 1)
    assert(twice.getAs[String]("text") == once.head().getAs[String]("text"))
    assert(twice.getAs[Long]("n_lines_dropped") == 0L)
  }

  test("corpus report: per-language volume, exact quantiles, dup rate") {
    val df = Seq(
      (0L, "the fast hash join of the table"), // en
      (1L, "the fast hash join of the table"), // exact dup of 0
      (2L, "a tiny doc is here"),              // en
      (3L, "el que la de y los")).toDF("doc_id", "text") // es
    val r = graft.ops.TextStats.corpusReport(df, "text", "doc_id").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("en", "es")) // n_docs desc
    val en = r(0)
    assert(en.getAs[Long]("n_docs") == 3L && en.getAs[Long]("n_tokens") == 19L)
    assert(en.getAs[Long]("n_exact_dups") == 1L)
    assert(en.getAs[Double]("dup_frac") == 0.333333)
    assert(en.getAs[Double]("p50_tokens") == 7.0) // tokens 7,7,5 -> median 7
    val es = r(1)
    assert(es.getAs[Long]("n_docs") == 1L && es.getAs[Long]("n_exact_dups") == 0L)
  }

  test("property: normalizeUnicode is idempotent; vocab/pmi partition-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // idempotence over laced real data: normalize(normalize(x)) == normalize(x)
    val laced = docs.limit(200).withColumn("text",
      concat(lit("\u2018q\u2019 cafe\u0301\u200B "), col("text"), lit("  x")))
    val once = graft.ops.TextClean.normalizeUnicode(col("text"), foldPunct = true)
    val diff = laced
      .select(once.as("a"),
        graft.ops.TextClean.normalizeUnicode(
          graft.ops.TextClean.normalizeUnicode(col("text"), foldPunct = true),
          foldPunct = true).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
    // partitioning must not change vocab/pmi results (grained logs +
    // deterministic cuts are the mechanism under test)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val v1 = canon(graft.ops.Vocab.topKNgrams(docs, "text", n = 2, k = 30, minCount = 2))
    val v2 = canon(graft.ops.Vocab.topKNgrams(docs.repartition(13), "text", n = 2, k = 30, minCount = 2))
    assert(v1 == v2)
    val p1 = canon(graft.ops.Vocab.pmiCollocations(docs, "text", minCount = 3, k = 20))
    val p2 = canon(graft.ops.Vocab.pmiCollocations(docs.repartition(7), "text", minCount = 3, k = 20))
    assert(p1 == p2)
  }

  test("domain blocklist: PSL-resolved removal, non-URLs kept, table variant agrees") {
    val df = Seq(
      // PSL: registeredDomain("a.spam.example.co.uk") = example.co.uk
      (0L, "https://a.spam.example.co.uk/x"),
      (1L, "https://sub.bad.net/y"),
      (2L, "https://good.org/z"),
      (3L, "plain text"),
      (4L, null: String)).toDF("id", "url") // null url: not named -> kept
    val kept = graft.ops.Urls.filterBlockedDomains(df, "url",
        Seq("example.co.uk", "bad.net"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
    val blocklist = Seq("example.co.uk", "bad.net").toDF("domain")
    val kept2 = graft.ops.Urls.filterBlockedDomainsDf(df, "url", blocklist)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
    // the table variant must not reorder/drop other columns
    assert(graft.ops.Urls.filterBlockedDomainsDf(df, "url", blocklist)
      .columns.toSeq == Seq("id", "url"))
  }

  test("bpe fit: Sennrich worked example elects es, est, est</w>, lo in order") {
    val types = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = graft.ops.Bpe.fitOnTypes(types, 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")))
    // more merges than pairs exist -> stops when nothing is left to fuse
    val all = graft.ops.Bpe.fitOnTypes(Seq(("ab", 1L)), 100)
    assert(all == Seq(("a", "b"), ("ab", "</w>")))
  }

  test("bpe encode: lowest -> lo w est</w>; unseen words fall through to chars") {
    val ranks = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"))
      .zipWithIndex.toMap
    assert(graft.ops.Bpe.encodeWordValue("lowest", ranks).toSeq ==
      Seq("lo", "w", "est</w>"))
    assert(graft.ops.Bpe.encodeWordValue("newest", ranks).toSeq ==
      Seq("n", "e", "w", "est</w>"))
    assert(graft.ops.Bpe.encodeWordValue("xyz", ranks).toSeq ==
      Seq("x", "y", "z", "</w>"))
    assert(graft.ops.Bpe.encodeWordValue("low", Map.empty).toSeq ==
      Seq("l", "o", "w", "</w>"))
  }

  test("bpe distributed: fit stats, encode conservation, compression on repeats") {
    val docs = Seq(
      (0L, "the lowest price the lowest cost"),
      (1L, "newest widest lowest"),
      (2L, "the the the")).toDF("doc_id", "text")
    val model = graft.ops.Bpe.fit(docs, "text", numMerges = 50)
    assert(model.nWordTypes == 6 && model.typesUsed == 6 &&
      model.tokenMassCovered == 1.0)
    val enc = graft.ops.Bpe.encode(docs, "text", model)
      .orderBy("doc_id").collect()
    // 50 merges over 6 types saturate: every word becomes ONE token
    assert(enc(0).getAs[Long]("n_bpe_tokens") == 6L)
    assert(enc(2).getAs[scala.collection.Seq[String]]("bpe_tokens").toSeq ==
      Seq("the</w>", "the</w>", "the</w>"))
    // char conservation: concat of tokens = chars + one marker per word
    enc.foreach { r =>
      val toks = r.getAs[scala.collection.Seq[String]]("bpe_tokens")
      val words = r.getAs[String]("text").toLowerCase.trim.split("\\s+")
      assert(toks.mkString("") == words.map(_ + "</w>").mkString(""))
    }
    // truncated type table still encodes every word (char fallback)
    val tiny = graft.ops.Bpe.fit(docs, "text", numMerges = 5, maxWordTypes = 2)
    assert(tiny.typesUsed == 2 && tiny.tokenMassCovered < 1.0)
    val enc2 = graft.ops.Bpe.encode(docs, "text", tiny).collect()
    assert(enc2.forall(_.getAs[Long]("n_bpe_tokens") > 0L))
  }

  test("bpe decode inverts encode up to the canonicalization contract") {
    val docs = Seq(
      (0L, "The LOWEST price   the lowest cost"),
      (1L, "newest widest lowest"),
      (2L, ""),
      (3L, "one")).toDF("doc_id", "text")
    val model = graft.ops.Bpe.fit(docs, "text", numMerges = 50)
    val out = graft.ops.Bpe.encode(docs, "text", model)
      .select(col("doc_id"), graft.ops.Bpe.decode(col("bpe_tokens")).as("d"),
        col("text"))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      val want = r.getAs[String]("text").toLowerCase.trim
        .split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(r.getAs[String]("d") == want, s"doc ${r.getLong(0)}")
    }
    // truncated model (char fallback path) still round-trips
    val tiny = graft.ops.Bpe.fit(docs, "text", numMerges = 3, maxWordTypes = 2)
    val out2 = graft.ops.Bpe.encode(docs, "text", tiny)
      .select(graft.ops.Bpe.decode(col("bpe_tokens")).as("d"), col("text"))
      .collect()
    out2.foreach { r =>
      val want = r.getAs[String]("text").toLowerCase.trim
        .split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(r.getAs[String]("d") == want)
    }
  }

  test("within-doc line dedup: first occurrence survives in order, zero-shuffle") {
    val df = Seq(
      (0L, "nav\nbody one\nnav\nbody two\nnav\nfooter"),
      (1L, "a\n\nb\n\na"), // empty lines dedup like any line
      (2L, "unique\nlines\nonly"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dedupLinesWithinDoc(df, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("text") == "nav\nbody one\nbody two\nfooter")
    assert(out(0).getAs[Long]("n_lines_removed") == 2L)
    assert(out(1).getAs[String]("text") == "a\n\nb")
    assert(out(1).getAs[Long]("n_lines_removed") == 2L)
    assert(out(2).getAs[String]("text") == "unique\nlines\nonly")
    assert(out(2).getAs[Long]("n_lines_removed") == 0L)
    assert(out(3).isNullAt(out(3).fieldIndex("text")))
  }

  test("unicode normalize: NFC composes, invisibles drop, spaces map, controls strip") {
    val df = Seq(
      (0L, "cafe\u0301 ok"),                       // NFD -> composed
      (1L, "a\u200Bb\uFEFFc\u00ADd"),              // zero-width / BOM / soft hyphen
      (2L, "x\u00A0y\u3000z\u2009w"),              // NBSP, ideographic, thin space
      (3L, "ke\u0007pt\tn\nl\u007F"),             // controls; tab/LF survive
      (4L, "\u2018a\u2019 \u201Cb\u201D \u2013 \u2026")) // punct (fold on)
      .toDF("doc_id", "text")
    val plain = df.select(col("doc_id"),
      graft.ops.TextClean.normalizeUnicode(col("text")).as("t"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(plain(0) == "caf\u00E9 ok" && plain(0).length == 7)
    assert(plain(1) == "abcd")
    assert(plain(2) == "x y z w")
    assert(plain(3) == "kept\tn\nl")
    assert(plain(4) == "\u2018a\u2019 \u201Cb\u201D \u2013 \u2026") // no fold by default
    val folded = df.select(graft.ops.TextClean.normalizeUnicode(
        col("text"), foldPunct = true))
      .orderBy(df("doc_id")).collect().map(_.getString(0))
    assert(folded(4) == "'a' \"b\" - ...")
    // NFKC is exposed too (compatibility: ligature fi -> fi, superscript 2 -> 2)
    val nfkc = Seq((0L, "\uFB01 x\u00B2")).toDF("doc_id", "text")
      .select(graft.ops.TextClean.normalizeUnicode(col("text"), form = "NFKC"))
      .head().getString(0)
    assert(nfkc == "fi x2")
    // null propagates; SQL surface agrees with the DataFrame API
    graft.spark.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT graft_normalize('cafe\u0301') AS t," +
        " graft_normalize('\uFB01', 'NFKC') AS k," +
        " graft_normalize(CAST(NULL AS STRING)) AS n").head()
    assert(viaSql.getString(0) == "caf\u00E9" && viaSql.getString(1) == "fi" &&
      viaSql.isNullAt(2))
  }

  test("topKPerGroup: sharded election == single-window answer, ties by id") {
    import graft.ops.Sampling
    val rnd = new scala.util.Random(5)
    val df = (0 until 500).map(i =>
      (i.toLong, s"g${i % 4}", rnd.nextInt(40))).toDF("id", "g", "score")
    val got = Sampling.topKPerGroup(df, "id", "g", "score", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    // reference: plain window (ties on score break by ascending id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
    val ref = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 7)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong)).sorted.toSeq
    assert(got == ref)
    // ascending variant + small group keeps everything
    val tiny = Seq((1L, "a", 9), (2L, "a", 3), (3L, "b", 5))
      .toDF("id", "g", "score")
    val asc = Sampling.topKPerGroup(tiny, "id", "g", "score", k = 2,
        descending = false)
      .orderBy("g", "rank_in_group").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(asc == Seq((2L, 1L), (1L, 2L), (3L, 1L)))
    // partitioning invariance
    val rep = Sampling.topKPerGroup(df.repartition(13), "id", "g",
      "score", 7).collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(rep == got)
  }

  test("property: BloomProbeExpression keeps every member key and drops " +
      "null keys for any keys and fpp") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.GraftBridge
    // Bloom filters have no false NEGATIVES: whatever the fpp (even an
    // absurd 0.9), filter(probe) may pass extra rows but never drops a
    // row whose key was added; a NULL key must be dropped by the
    // probe's null-propagating eval, never crash the build or survive
    val scen = for {
      fpp <- Gen.oneOf(0.9, 0.5, 0.01, 1e-6)
      seed <- Gen.choose(0L, 1000000L)
    } yield (fpp, seed)
    val prop = Prop.forAllNoShrink(scen) { case (fpp, seed) =>
      val rnd = new scala.util.Random(seed)
      // negative keys, dup keys on both sides, disjoint tails, and NULL
      // keys on BOTH sides
      def key(span: Int, off: Int): Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(span).toLong - off)
      val big = (0 until 300).map(i =>
        (key(80, 40), i.toLong)).toDF("k", "payload")
      val small = (0 until 12).map(i =>
        (key(120, 60), s"v$i")).toDF("k", "v")
      val nKeys = math.max(1L, small.select(col("k")).distinct().count())
      val bc = spark.sparkContext.broadcast(
        small.stat.bloomFilter("k", nKeys, fpp))
      val probe = GraftBridge.column(graft.spark.BloomProbeExpression(
        GraftBridge.expression(col("k")), bc))
      val members = small.collect().filterNot(_.isNullAt(0))
        .map(_.getLong(0)).toSet
      val kept = big.filter(probe).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
      val keptIds = kept.map(_._2).toSet
      val missed = big.collect().filter(r => !r.isNullAt(0) &&
        members(r.getLong(0)) && !keptIds(r.getLong(1)))
      val nullKept = kept.count(_._1.isEmpty)
      if (missed.nonEmpty || nullKept > 0) info(s"BloomProbeExpression " +
        s"MISMATCH fpp=$fpp seed=$seed: missed=${missed.length} " +
        s"nullKept=$nullKept")
      missed.isEmpty && nullKept == 0
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(45L), prop)
    assert(res.passed, res.status.toString)
  }

  test("pageRank9: cycle symmetry, sink attraction, mass bound") {
    import graft.ops.Graph
    // 3-cycle: perfect symmetry, each node keeps ~1/3 of the mass
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val rc = Graph.pageRank9(cyc, "src", "dst", iters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rc.values.toSet.size == 1, s"cycle must stay uniform: $rc")
    assert(math.abs(rc(1L) - 333333333L) < 1000000)
    // star into a hub: the hub outranks every leaf
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L))
      .toDF("src", "dst")
    val rs = Graph.pageRank9(star, "src", "dst", iters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 1 and 9 recirculate the mass (2-cycle, oscillating convergence);
    // the unfed leaves decay to the damping base
    assert(rs(9L) > 5 * rs(2L) && rs(1L) > 5 * rs(2L), s"$rs")
    assert(rs(2L) == rs(3L), s"symmetric leaves: $rs")
    // total mass never exceeds 1.0 (floors + no dangling redistribution
    // only LOSE mass)
    assert(rs.values.sum <= 1000000000L)
    // partition invariance (exact integer arithmetic)
    val rep = Graph.pageRank9(star.repartition(5), "src", "dst", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep == rs)
  }

  test("topKPerGroupAgg == topKPerGroup on random data, k-bounded state") {
    import graft.ops.Sampling
    val rnd = new scala.util.Random(7)
    val df = (0 until 400).map(i =>
      (i.toLong, s"g${i % 5}", rnd.nextInt(30))).toDF("id", "g", "score")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val win = canon(Sampling.topKPerGroup(df, "id", "g", "score", 6))
    val agg = canon(Sampling.topKPerGroupAgg(df, "id", "g", "score", 6))
    assert(agg == win)
    // partition invariance
    val rep = canon(Sampling.topKPerGroupAgg(df.repartition(13), "id", "g",
      "score", 6))
    assert(rep == win)
    // string ids: typed aggregator, lexicographic ties == window path
    // (note "10" < "2" lexicographically — exactly what col(id).asc
    // does on a string column, so the two formulations agree)
    val strIds = Seq(("10", "g", 5), ("2", "g", 5), ("zz", "g", 9),
      ("a", "h", 1)).toDF("id", "g", "score")
    def canonS(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(3))).sorted.toSeq
    val winS = canonS(Sampling.topKPerGroup(strIds, "id", "g", "score", 2))
    val aggS = canonS(Sampling.topKPerGroupAgg(strIds, "id", "g", "score", 2))
    assert(aggS == winS)
    assert(aggS.contains(("10", 2L)) && !aggS.exists(_._1 == "2"))
    // unsupported id types still rejected loudly
    intercept[IllegalArgumentException] {
      Sampling.topKPerGroupAgg(
        Seq((1.5, "g", 1)).toDF("id", "g", "score"), "id", "g", "score", 2)
    }
    // ascending (bottom-k) variant == ascending window election
    val winA = canon(Sampling.topKPerGroup(df, "id", "g", "score", 6,
      descending = false))
    val aggA = canon(Sampling.topKPerGroupAgg(df, "id", "g", "score", 6,
      descending = false))
    assert(aggA == winA)
  }

  test("weightedSamplePerGroup: A-ES draw favors weight, deterministic") {
    import graft.ops.Sampling
    // one group: a single weight-1000 row among 60 weight-1 rows — the
    // heavy row survives a k=5 draw with probability ~1 - tiny
    val df = ((0 until 60).map(i => (i.toLong, "g", 1.0)) :+
      (999L, "g", 1000.0)).toDF("id", "g", "w")
    val got = Sampling.weightedSamplePerGroup(df, "id", "g", "w", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.length == 5)
    assert(got.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got.exists(_._1 == 999L), "weight-1000 row must be drawn")
    // zero/negative/null weights never sample; small group keeps all
    val mixed = Seq((1L, "a", 4.0), (2L, "a", 0.0), (3L, "a", -1.0),
      (4L, "b", 2.0)).toDF("id", "g", "w")
      .union(Seq((5L, "b", Option.empty[Double])).toDF("id", "g", "w"))
    val kept = Sampling.weightedSamplePerGroup(mixed, "id", "g", "w", k = 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L))
    // partitioning invariance (rank included)
    val big = (0 until 300).map(i => (i.toLong, s"g${i % 3}",
      1.0 + (i % 7))).toDF("id", "g", "w")
    val a = Sampling.weightedSamplePerGroup(big, "id", "g", "w", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val b = Sampling.weightedSamplePerGroup(big.repartition(17), "id", "g",
      "w", k = 8).collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(a == b)
  }

  test("coalesceIntervals: overlap/touch/contain merge, gap bridging, " +
      "reversed raises, partition invariance") {
    import graft.ops.Intervals
    // numeric axis: overlapping [1,5)+[3,7) merge; touching [7,9)
    // merges too (half-open union); contained [10,12)⊂[9,15) collapses;
    // disjoint [20,21) stands alone; zero-length [30,30) is a point span
    val df = Seq(("a", 1L, 5L), ("a", 3L, 7L), ("a", 7L, 9L),
      ("a", 9L, 15L), ("a", 10L, 12L), ("a", 20L, 21L), ("a", 30L, 30L),
      ("b", 2L, 4L)).toDF("k", "s", "e")
    val got = Intervals.coalesceIntervals(df, "k", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(got == Seq(("a", 1L, 15L, 5L, 14L), ("a", 20L, 21L, 1L, 1L),
      ("a", 30L, 30L, 1L, 0L), ("b", 2L, 4L, 1L, 2L)), s"$got")
    // gap=5 bridges the 15→20 silence but not the 9-wide 21→30 one;
    // gap=9 bridges both
    val bridged5 = Intervals.coalesceIntervals(df.filter(col("k") === "a"),
        "k", "s", "e", gap = 5L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(bridged5 == Seq((1L, 21L), (30L, 30L)), s"$bridged5")
    val bridged9 = Intervals.coalesceIntervals(df.filter(col("k") === "a"),
        "k", "s", "e", gap = 9L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(bridged9 == Seq((1L, 30L)), s"$bridged9")
    // partition invariance
    val rep = Intervals.coalesceIntervals(df.repartition(7), "k", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(rep == got)
    // reversed interval raises in-plan
    val err = intercept[Exception] {
      Intervals.coalesceIntervals(
        Seq(("a", 5L, 3L)).toDF("k", "s", "e"), "k", "s", "e").collect()
    }
    assert(err.getMessage != null)
    // unsupported axis fails fast
    intercept[IllegalArgumentException] {
      Intervals.coalesceIntervals(
        Seq(("a", "x", "y")).toDF("k", "s", "e"), "k", "s", "e")
    }
  }

  test("intervalCoverage / intervalGaps: union-exact coverage, " +
      "interior-only gaps, timestamp axis round-trip") {
    import graft.ops.Intervals
    val df = Seq(("a", 1L, 5L), ("a", 3L, 7L), ("a", 9L, 15L),
      ("a", 20L, 21L), ("b", 2L, 4L)).toDF("k", "s", "e")
    val cov = Intervals.intervalCoverage(df, "k", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
    // a: union [1,7)+[9,15)+[20,21) = 6+6+1 = 13 over 3 spans, 4 inputs
    assert(cov == Seq(("a", 4L, 3L, 13L, 1L, 21L), ("b", 1L, 1L, 2L, 2L, 4L)),
      s"$cov")
    val gaps = Intervals.intervalGaps(df, "k", "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted.toSeq
    // interior silences only: [7,9) and [15,20); b has one span → none
    assert(gaps == Seq(("a", 7L, 9L, 2L), ("a", 15L, 20L, 5L)), s"$gaps")
    // timestamp axis: micros-exact round trip, gap in SECONDS
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val tdf = Seq(("a", ts(0), ts(60)), ("a", ts(100), ts(160)))
      .toDF("k", "s", "e")
    val spans = Intervals.coalesceIntervals(tdf, "k", "s", "e", gap = 40L)
      .collect()
    assert(spans.length == 1)
    assert(spans.head.getAs[java.sql.Timestamp]("span_start") == ts(0) &&
      spans.head.getAs[java.sql.Timestamp]("span_end") == ts(160) &&
      spans.head.getAs[Long]("covered_us") == 160000000L, spans.head.toString)
    val tgaps = Intervals.intervalGaps(tdf, "k", "s", "e")
      .collect().map(r => r.getAs[Long]("gap_us")).toSeq
    assert(tgaps == Seq(40000000L), s"$tgaps")
  }

  test("property: coalesceIntervals == brute-force union over random " +
      "interval sets; coverage and gaps consistent") {
    import graft.ops.Intervals
    val rnd = new scala.util.Random(42)
    // brute force: mark covered points on a small integer axis
    def bruteSpans(iv: Seq[(Long, Long)], gap: Long): Seq[(Long, Long)] = {
      if (iv.isEmpty) return Nil
      val sorted = iv.sortBy(x => (x._1, x._2))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var (cs, ce) = sorted.head
      for ((s, e) <- sorted.tail) {
        if (s <= ce + gap) ce = math.max(ce, e)
        else { out += ((cs, ce)); cs = s; ce = e }
      }
      out += ((cs, ce))
      out.toSeq
    }
    for (trial <- 0 until 8) {
      val gap = Seq(0L, 0L, 1L, 3L)(trial % 4)
      val data = (0 until 120).map { _ =>
        val k = s"k${rnd.nextInt(4)}"
        val s = rnd.nextInt(200).toLong
        (k, s, s + rnd.nextInt(12).toLong)
      }
      val df = data.toDF("k", "s", "e")
      val got = Intervals.coalesceIntervals(df, "k", "s", "e", gap)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.toSeq)
        .toMap
      val want = data.groupBy(_._1).view
        .mapValues(v => bruteSpans(v.map(x => (x._2, x._3)), gap).sorted)
        .toMap
      assert(got == want, s"trial $trial gap $gap")
      // coverage rollup consistent with the spans
      val cov = Intervals.intervalCoverage(df, "k", "s", "e", gap)
        .collect().map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3))).toMap
      for ((k, spans) <- want) {
        assert(cov(k)._1 == spans.length.toLong, s"n_spans $k")
        assert(cov(k)._2 == spans.map(x => x._2 - x._1).sum, s"covered $k")
      }
      // gaps are exactly the complement between consecutive spans
      val gaps = Intervals.intervalGaps(df, "k", "s", "e", gap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.toSeq)
        .toMap.withDefaultValue(Seq.empty)
      for ((k, spans) <- want) {
        val expect = spans.sliding(2).collect {
          case Seq((_, e1), (s2, _)) => (e1, s2)
        }.toSeq
        assert(gaps(k) == expect, s"gaps $k")
      }
    }
  }

  test("topKIdsPerGroupAgg / weightedSampleIdsPerGroup == hydrated forms") {
    import graft.ops.Sampling
    val rnd = new scala.util.Random(11)
    val df = (0 until 400).map(i =>
      (i.toLong, s"g${i % 5}", rnd.nextInt(30))).toDF("id", "g", "score")
    // ids-only election == (group, id, rank) projection of the join form
    val ids = Sampling.topKIdsPerGroupAgg(df, "id", "g", "score", 6)
    assert(ids.columns.toSeq == Seq("g", "id", "rank_in_group"))
    val got = ids.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val hyd = Sampling.topKPerGroupAgg(df, "id", "g", "score", 6)
      .select(col("g"), col("id"), col("rank_in_group")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == hyd)
    // same for the A-ES draw: identical ids AND draw order, no join in
    // the ids-only plan (streaming-capable shape)
    val wdf = (0 until 300).map(i => (i.toLong, s"g${i % 3}",
      1.0 + (i % 7))).toDF("id", "g", "w")
    val sIds = Sampling.weightedSampleIdsPerGroup(wdf, "id", "g", "w", k = 8)
    assert(sIds.columns.toSeq == Seq("g", "id", "sample_rank"))
    val sGot = sIds.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val sHyd = Sampling.weightedSamplePerGroup(wdf, "id", "g", "w", k = 8)
      .select(col("g"), col("id"), col("sample_rank")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(sGot == sHyd)
    assert(!sIds.queryExecution.executedPlan.toString.contains("Join"),
      "ids-only election must not join back to the input")
    // partition invariance
    val rep = Sampling.weightedSampleIdsPerGroup(wdf.repartition(17),
        "id", "g", "w", k = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rep == sGot)
  }

  test("blockedPairs: only in-block pairs, threshold distance, a<b") {
    val df = Seq(
      (1L, "smith john", "b1"), (2L, "smith jon", "b1"),
      (3L, "smith johnny", "b1"), // dist 2 from #1, 3 from #2
      (4L, "smith john", "b2")) // same name, other block: never paired
      .toDF("id", "name", "blk")
    val out = graft.ops.Linkage.blockedPairs(df, "id", "name",
        col("blk"), maxDist = 2)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 2L)))
  }

  test("jaroWinklerValue: published worked examples + edge cases") {
    import graft.ops.Linkage.jaroWinklerValue
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(close(jaroWinklerValue("martha", "marhta"), 0.9611111111111111))
    assert(close(jaroWinklerValue("dixon", "dicksonx"), 0.8133333333333332))
    // no boost when jaro <= 0.7 (CRATE/TRACE has prefix 0 anyway) and
    // when there is no common prefix
    assert(close(jaroWinklerValue("CRATE", "TRACE"), 0.7333333333333334))
    assert(close(jaroWinklerValue("jellyfish", "smellyfish"),
      0.8962962962962964))
    // boost prefix caps at 4
    assert(close(jaroWinklerValue("abcd", "abcd!!!!!!!!!!!!!!!!!"),
      0.8380952380952381))
    // either-empty and zero-match conventions (DuckDB parity)
    assert(jaroWinklerValue("", "") == 0.0)
    assert(jaroWinklerValue("", "abc") == 0.0)
    assert(jaroWinklerValue("ab", "ba") == 0.0) // window 0: no matches
    assert(jaroWinklerValue("abc", "abc") == 1.0)
    // SQL surface registers the codegen'd expression
    graft.spark.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta')").head().getDouble(0)
    assert(close(viaSql, 0.9611111111111111))
    // code-POINT granularity pin: 20 astral chars are 20 units to this
    // kernel (a UTF-16-unit kernel would score 40/43 = 0.98605 here);
    // the end-to-end DataFrame path keeps the pair through the length
    // guard (the discriminating guard-vs-kernel consistency property
    // lives in the conservativeness test's astral alphabet)
    val astral = "𝕏" * 20 // 20 code points, 40 UTF-16 units
    val jwAstral = jaroWinklerValue(astral, astral + "abc")
    assert(close(jwAstral, 0.9739130434782608), jwAstral.toString)
    val pair = Seq((1L, astral), (2L, astral + "abc"))
      .toDF("id", "name").withColumn("blk", lit("b"))
    val kept = graft.ops.Linkage.blockedPairsJw(pair, "id", "name",
      col("blk"), minSim = 0.97).count()
    assert(kept == 1L, "astral pair must survive the guard end-to-end")
  }

  test("JW length bound is conservative: jw >= c implies the guard") {
    import graft.ops.Linkage.jaroWinklerValue
    val rnd = new scala.util.Random(11)
    // alphabet includes an astral char: the guard compares code-point
    // lengths (Catalyst length()), so the property would FAIL under a
    // UTF-16-unit kernel — this is the discriminating regression pin
    // for the code-point alignment fix
    val alphabet = Seq("a", "b", "c", "d", "𝕏")
    def randStr() = (0 until 1 + rnd.nextInt(20))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (c <- Seq(0.9, 0.95, 0.985)) {
      val r = 3 * ((c - 0.4) / 0.6) - 2
      assert(r > 0)
      for (_ <- 0 until 2000) {
        val (a, b) = (randStr(), randStr())
        if (jaroWinklerValue(a, b) >= c) {
          // code-POINT lengths — the unit Catalyst length() counts and
          // the guard compares
          val pa = a.codePointCount(0, a.length)
          val pb = b.codePointCount(0, b.length)
          val (lo, hi) = (math.min(pa, pb), math.max(pa, pb))
          assert(lo >= r * hi,
            s"bound dropped qualifying pair ($a, $b) at c=$c")
        }
      }
    }
  }

  test("byteJaccardValue: byte-set semantics incl. multi-byte, SQL surface") {
    import graft.ops.Linkage.byteJaccardValue
    def j(a: String, b: String) =
      byteJaccardValue(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(j("ab", "b") == 0.5)
    assert(j("aab", "ab") == 1.0) // SET of bytes, multiplicity-free
    assert(j("abc", "abc") == 1.0)
    assert(j("AB", "ab") == 0.0) // case = different bytes
    // multi-byte code points contribute individual bytes (DuckDB parity:
    // 'héllo' vs 'hello' = {h,C3,A9,l,o} vs {h,e,l,o} = 3/6)
    assert(j("héllo", "hello") == 0.5)
    assert(j("", "abc") == 0.0 && j("", "") == 0.0)
    graft.spark.GraftExtensions.install(spark)
    assert(spark.sql("SELECT graft_byte_jaccard('ab', 'b')")
      .head().getDouble(0) == 0.5)
  }

  test("zorderKey2: exact Morton interleave, envelope report quadrants") {
    import graft.ops.Layout
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("a", "b")
    val z = df.select(Layout.zorderKey2(col("a"), col("b"), 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave(a=3 (011), b=5 (101)) = a1 b1 a0 b0: bits
    // z = sum a_i<<(2i+1) | b_i<<2i = (1<<1)|(1<<3) | (1<<0)|(1<<4) = 27
    assert(z == Seq(0L, 2L, 1L, 3L, 27L))
    // envelope: 4 buckets over 2-bit dims -> each zorder bucket is one
    // quadrant (half of each dim); linear buckets span all of b
    val grid = (for (a <- 0 until 4; b <- 0 until 4) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val rep = Layout.zorderEnvelopeReport(grid, "a", "b", bits = 2,
        nBuckets = 4)
      .orderBy("layout", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val zorder = rep.filter(_._1 == "zorder")
    assert(zorder.forall(r => r._4 - r._3 == 1 && r._6 - r._5 == 1),
      s"each zorder bucket must span half of each dim: ${zorder.toSeq}")
    val linear = rep.filter(_._1 == "linear")
    assert(linear.forall(r => r._5 == 0 && r._6 == 3),
      "linear buckets span the whole b domain")
  }

  test("zorderKey N-dim: 2-col case == zorderKey2, 3-col round-robin") {
    import graft.ops.Layout
    val df = Seq((3L, 5L, 6L)).toDF("a", "b", "c")
    val two = df.select(
      Layout.zorderKey(Seq(col("a"), col("b")), 3).as("zn"),
      Layout.zorderKey2(col("a"), col("b"), 3).as("z2")).head()
    assert(two.getLong(0) == two.getLong(1))
    // 3 cols x 2 bits: round i holds bits (a_i b_i c_i) at 3i+2,3i+1,3i
    // a=11b, b=01b, c=10b -> round0: a0=1,b0=1,c0=0 -> 110b at bits 2..0
    // round1: a1=1,b1=0,c1=1 -> 101b at bits 5..3 => 101110b = 46
    val three = df.select(
      Layout.zorderKey(Seq(col("a"), col("b"), col("c")), 2)).head().getLong(0)
    assert(three == 46L)
  }

  test("clusterByZorder: range partitions follow the morton key") {
    import graft.ops.Layout
    val grid = (for (a <- 0 until 8; b <- 0 until 8) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val parts = Layout.clusterByZorder(grid, "a", "b", bits = 3,
        nPartitions = 4)
      .rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator.single(i -> it.map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }.collect().toMap
    assert(parts.values.map(_.size).sum == 64)
    // partitions are contiguous, non-overlapping z ranges
    def zOf(p: (Long, Long)) = (0 until 3).map(i =>
      (((p._1 >> i) & 1) << (2 * i + 1)) | (((p._2 >> i) & 1) << (2 * i))).sum
    val ranges = parts.toSeq.sortBy(_._1)
      .map { case (_, rows) => (rows.map(zOf).min, rows.map(zOf).max) }
      .filter(_ => true)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2)
      case _ => ()
    }
  }

  test("writeClustered: per-file envelopes rectangular on both dims") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_wc")
    try {
      val grid = (for (a <- 0 until 64; b <- 0 until 64)
        yield (a.toLong, b.toLong, s"pay-$a-$b")).toDF("a", "b", "pay")
      // ~tiny files so several materialize
      val (rpf, _) = graft.ops.Materialize.writeClustered(grid,
        s"$scratch/out", "a", "b", bits = 6, targetFileMB = 1)
      assert(rpf >= 1L)
      val back = spark.read.parquet(s"$scratch/out")
      assert(back.count() == 64L * 64)
      assert(back.columns.sorted.toSeq == Seq("a", "b", "pay"))
      val envs = back
        .select(input_file_name().as("f"), col("a"), col("b"))
        .groupBy("f")
        .agg((max(col("a")) - min(col("a"))).as("sa"),
          (max(col("b")) - min(col("b"))).as("sb"))
        .collect()
      // with a z-ordered layout no file should span a full dimension on
      // BOTH axes (a linear sort would give sb = 63 for every file)
      if (envs.length >= 4) {
        assert(envs.forall(r => r.getLong(1) < 63 || r.getLong(2) < 63),
          envs.mkString(","))
        assert(envs.count(_.getLong(2) < 63) * 2 >= envs.length,
          envs.mkString(","))
      }
    } finally {
      rmScratch(scratch)
    }
  }

  test("cojoinBucketed: shuffle-free sort-merge join, correct rows") {
    import graft.ops.Layout
    val scratch = java.nio.file.Files.createTempDirectory("graft_bkt_t")
    try {
      val l = (0 until 100).map(i => (i.toLong % 10, i.toLong))
        .toDF("k", "lv")
      val r = (0 until 10).map(i => (i.toLong, s"n$i")).toDF("k", "rv")
      val j = Layout.cojoinBucketed(spark, l, r, "k", nBuckets = 4,
        scratch.toString, "graft_t_l", "graft_t_r")
      assert(j.count() == 100)
      assert(j.filter(col("k") === 3L).count() == 10)
      // the write-time amortization extends to aggregation: groupBy on
      // the bucket key over the bucketed table plans NO exchange either
      val agg = spark.table("graft_t_l").groupBy(col("k")).count()
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.count() == 10)
      Seq("graft_t_l", "graft_t_r")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    } finally {
      rmScratch(scratch)
    }
  }

  test("mergeAggStates: merge(base, delta) == state(union), disjoint keys") {
    import graft.ops.Snapshot
    val all = Seq((1L, 2.0), (1L, 3.5), (1L, -1.0), (2L, 7.0), (3L, 0.5))
      .toDF("k", "v")
    val base = Snapshot.additiveAggState(
      all.filter(col("v") > 0), "k", "v")
    val delta = Snapshot.additiveAggState(
      all.filter(col("v") <= 0), "k", "v") // key 3 only in base side? no:
    val merged = Snapshot.mergeAggStates(base, delta)
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val full = Snapshot.additiveAggState(all, "k", "v")
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(merged.toSeq == full.toSeq)
    // keys present on one side only must survive the full-outer merge
    assert(merged.exists(_._1 == 2L) && merged.exists(_._1 == 3L))
  }

  test("packingPlan: exact chunk math, packed beats padded") {
    val df = Seq("a b c d e", "a b c", "", "a").toDF("text")
    val out = graft.ops.Packing.packingPlan(df, "text", Seq(4))
      .head()
    // docs: 5, 3, (blank dropped), 1 tokens; L=4:
    // chunks: 2 + 1 + 1 = 4 -> padded 16; total 9 -> packed ceil(9/4)*4=12
    assert(out.getLong(1) == 3L && out.getLong(2) == 9L)
    assert(out.getLong(3) == 16L && out.getLong(5) == 12L)
    assert(out.getDouble(4) > out.getDouble(6))
  }

  test("langIdWithConfidence: margins, script tier, tie and und cases") {
    import graft.ops.TextStats
    val df = Seq(
      (0L, "the cat is of the and in a to house"), // en, strong margin
      (1L, "la de the"),                           // es 2 vs en 1 -> margin 1
      (2L, "zz qq ww"),                            // und: 0, 0
      (3L, "的 是 一 在 不 了 有 和"),                // zh script tier
      (4L, "le la de")).toDF("doc_id", "text")     // es/fr tie at 2 -> margin 0
    val out = df.select(col("doc_id"),
        TextStats.langIdWithConfidence(col("text")).as("c"))
      .orderBy("doc_id").collect()
      .map(r => { val c = r.getStruct(1)
        (c.getString(0), c.getInt(1), c.getInt(2)) })
    assert(out(0)._1 == "en" && out(0)._2 >= 5 && out(0)._3 == 0)
    assert(out(1) == ("es", 2, 1))
    assert(out(2) == ("und", 0, 0))
    assert(out(3)._1 == "zh" && out(3)._2 == 8 && out(3)._3 == 0)
    // tie: es wins by list order but margin 0 flags it unconfident
    assert(out(4) == ("es", 2, 2))
    // lang agrees with the kernel langId everywhere on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dis = docs.select(
        TextStats.langId(col("text")).as("k"),
        TextStats.langIdWithConfidence(col("text")).getField("lang").as("d"))
      .filter(col("k") =!= col("d")).count()
    assert(dis == 0)
  }

  test("pseudonymizeEmails: stable tokens, coreference preserved, count") {
    import graft.ops.TextClean
    val df = Seq(
      (0L, "from a@x.com to b@y.org, cc a@x.com"),
      (1L, "reply by A@x.com only"),
      (2L, "no addresses here")).toDF("doc_id", "text")
    val out = TextClean.pseudonymizeEmails(df, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    def tok(e: String) = "<EMAIL_" + java.security.MessageDigest
      .getInstance("MD5").digest(e.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(8) + ">"
    // both occurrences of a@x.com get the SAME token (coreference)
    assert(out(0)._1 ==
      s"from ${tok("a@x.com")} to ${tok("b@y.org")}, cc ${tok("a@x.com")}")
    assert(out(0)._2 == 2L)
    // case-insensitive identity: A@x.com maps to a@x.com's token
    assert(out(1)._1 == s"reply by ${tok("a@x.com")} only")
    // untouched doc passes through with zero identities
    assert(out(2)._1 == "no addresses here" && out(2)._2 == 0L)
  }

  test("curriculumOrder: phase-major dense ranks, md5 shuffle within phase") {
    import graft.ops.Sampling
    val df = (0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "phase")
    val out = Sampling.curriculumOrder(df, "id", "phase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dense 1..N
    assert(out.map(_._3).sorted.toSeq == (1L to 300L))
    // phase-major: every phase-0 rank < every phase-1 rank < phase-2
    val byPhase = out.groupBy(_._2).map { case (p, rs) =>
      p -> (rs.map(_._3).min, rs.map(_._3).max) }
    assert(byPhase(0L)._2 < byPhase(1L)._1 && byPhase(1L)._2 < byPhase(2L)._1)
    // within a phase: rank order == driver-side (md5(id||salt), id) order
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    val phase1 = out.filter(_._2 == 1L).sortBy(_._3).map(_._1).toSeq
    val expect = (0 until 300).filter(_ % 3 == 1).map(_.toLong)
      .sortBy(id => (md5hex(s"${id}curriculum"), id))
    assert(phase1 == expect)
    // partitioning invariance
    val rep = Sampling.curriculumOrder(df.repartition(17), "id", "phase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rep.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("importanceSample: weight-proportional odds, clipping, determinism") {
    import graft.ops.Sampling
    val df = (0 until 2000).map(i =>
      (i.toLong, if (i < 100) 50.0 else 1.0)).toDF("id", "w")
    // heavy rows clip at p=1 (50 * 400 / 6900 > 1): ALL 100 kept
    val out = Sampling.importanceSample(df, "id", "w", targetRows = 400L,
      salt = "t")
    val kept = out.collect().map(_.getLong(0)).toSet
    assert((0L until 100L).forall(kept.contains))
    // light rows keep ≈ (400 - clip surplus) share; just bound loosely
    val nLight = kept.count(_ >= 100L)
    assert(nLight > 50 && nLight < 400)
    // deterministic + partition-independent
    val again = Sampling.importanceSample(df.repartition(13), "id", "w",
      400L, "t").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // zero/negative/null weights never kept
    val bad = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 0.0), (2L, -5.0), (3L, null), (4L, 100.0))
      .toDF("id", "w")
    val keptBad = Sampling.importanceSample(bad, "id", "w", 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(keptBad == Seq(4L))
    // expected-count calibration without clipping: uniform weights,
    // target 500 of 2000 -> binomial(2000, 0.25), well within 5 sigma
    val uni = (0 until 2000).map(i => (i.toLong, 1.0)).toDF("id", "w")
    val n = Sampling.importanceSample(uni, "id", "w", 500L, "u").count()
    assert(math.abs(n - 500.0) < 5 * math.sqrt(2000 * 0.25 * 0.75))
  }

  test("pipeline DSL: spec compiles to the hand-written chain; validate catches errors") {
    import graft.pipeline.Pipeline
    val df = Seq(
      (0L, "the cat sat on the mat and the dog ran off today"),
      (1L, "the cat sat on the mat and the dog ran off today"), // dup of 0
      (2L, "el la de que y los una palabra mas aqui hoy bien"),
      (3L, "short doc"),
      (4L, "le la les et un des que mots ici plus encore bien"))
      .toDF("doc_id", "text")
    val spec =
      """[{:op :filter-min-words :n 5}
        | {:op :dedup-exact}
        | {:op :lang-id :out "lang_pred"}
        | {:op :filter-lang :langs ["en" "es"]}]""".stripMargin
    val got = Pipeline.run(df, spec)
      .select("doc_id", "lang_pred").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // hand-written chain: drop doc 3 (short), dup 1 loses to 0, doc 4
    // is fr and filtered; 0=en, 2=es survive
    assert(got == Seq((0L, "en"), (2L, "es")))
    // the DSL output must equal the literally hand-composed chain
    val hand = {
      val f = df.filter(graft.ops.TextStats.wsTokens(col("text")) >= 5)
      val d = f.join(graft.ops.Dedup.exact(f, "text", "doc_id")
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      d.withColumn("lang_pred", graft.ops.TextStats.langId(col("text")))
        .filter(col("lang_pred").isin("en", "es"))
    }.select("doc_id", "lang_pred").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == hand)
    // transform stages keep the schema pure (diagnostics dropped)
    val norm = Pipeline.run(df,
      """[{:op :normalize} {:op :redact-pii} {:op :pseudonymize}]""")
    assert(norm.columns.toSeq == Seq("doc_id", "text"))
    // near-dedup stage: exact dup of doc 0 (doc 1) dropped keep-first
    val near = Pipeline.run(df,
      """[{:op :dedup-near :threshold 0.9}]""")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(near == Seq(0L, 2L, 3L, 4L))
    assert(Pipeline.validate("""[{:op :dedup-near :threshold 1.5}]""")
      .exists(_.contains(":threshold out of")))
    // validation: unknown op, missing arg, bad rate — no data touched
    assert(Pipeline.validate("""[{:op :nope}]""")
      .exists(_.contains("unknown op :nope")))
    assert(Pipeline.validate("""[{:op :filter-min-words}]""")
      .exists(_.contains("missing :n")))
    assert(Pipeline.validate("""[{:op :sample :rate 1.5}]""")
      .exists(_.contains(":rate out of")))
    assert(Pipeline.validate("""{:op :sample}""").nonEmpty) // not a vector
    assert(Pipeline.validate(
      """[{:op :sample :rate 0.5} {:op :normalize :form "NFKC"}]""").isEmpty)
    // run fails fast with the stage index
    val e = intercept[IllegalArgumentException](
      Pipeline.run(df, """[{:op :normalize} {:op :bogus}]""").collect())
    assert(e.getMessage.contains("stage 1"))
  }

  test("fuzzy decontamination: containment scores, threshold, clean corpus") {
    import graft.ops.Decontaminate
    val train = Seq(
      (0L, "a b c d e f g h"),        // contains all of bench 100's grams
      (1L, "a b c x y z q w"),        // 2 of bench 100's 6 3-grams
      (2L, "totally unrelated words here")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f g h")).toDF("bench_id", "text")
    val pairs = Decontaminate.fuzzyContaminationPairs(
        train, bench, "text", "doc_id", "bench_id", n = 3, minFrac = 0.5)
      .orderBy("doc_id").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0L && pairs(0).getLong(2) == 6L &&
      pairs(0).getLong(3) == 6L && pairs(0).getDouble(4) == 1.0)
    // lowering the bar under 1/6 admits the partial overlap at its score
    val loose = Decontaminate.fuzzyContaminationPairs(
        train, bench, "text", "doc_id", "bench_id", n = 3,
        minFrac = 0.16)
      .orderBy("doc_id").collect()
    assert(loose.length == 2 && loose(1).getLong(0) == 1L &&
      loose(1).getLong(2) == 1L) // only "a b c" shared
    // clean corpus drops exactly the flagged doc
    val clean = Decontaminate.fuzzy(train, bench, "text", "doc_id",
        "bench_id", n = 3, minFrac = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(clean == Seq(1L, 2L))
    // whitespace variants hash to the same grams (the \s+ contract)
    val wsTrain = Seq((7L, "a  b\tc   d e f g h")).toDF("doc_id", "text")
    val wsPairs = Decontaminate.fuzzyContaminationPairs(
      wsTrain, bench, "text", "doc_id", "bench_id", n = 3, minFrac = 0.99)
    assert(wsPairs.count() == 1)
  }

  test("unimaxMixturePlan: ascending water-filling with caps and donated slack") {
    import graft.ops.Sampling
    // A=10, B=100, C=1000 tokens; budget 600, cap 2 epochs:
    // A share 200 -> cap 20; B share (580/2)=290 -> cap 200; C gets 380
    val df = (Seq.fill(1)(("A", 10)) ++ Seq(("B", 100)) ++ Seq(("C", 1000)))
      .toDF("domain", "n")
    val out = Sampling.unimaxMixturePlan(df, "domain", col("n"),
        budget = 600L, maxEpochs = 2.0)
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(
      ("A", 10L, 20L, 20L, 2.0),
      ("B", 100L, 200L, 200L, 2.0),
      ("C", 1000L, 2000L, 380L, 0.38)))
    // uncapped domains receive the SAME share (the fairness property):
    // budget 300 caps nothing -> each of the three gets exactly 100
    val fair = Sampling.unimaxMixturePlan(
        Seq(("A", 200), ("B", 300), ("C", 400)).toDF("domain", "n"),
        "domain", col("n"), budget = 300L, maxEpochs = 4.0)
      .orderBy("domain").collect().map(_.getLong(3)).toSeq
    assert(fair == Seq(100L, 100L, 100L))
    // a zero-token domain allocates 0 with epochs 0.0 (not null)
    val z = Sampling.unimaxMixturePlan(
        Seq(("Z", 0), ("B", 50)).toDF("domain", "n"),
        "domain", col("n"), budget = 100L, maxEpochs = 2.0)
      .orderBy("domain").collect()
    assert(z(1).getString(0) == "Z" && z(1).getLong(3) == 0L &&
      z(1).getDouble(4) == 0.0)
    // allocation never exceeds budget and is partitioning-independent
    val big = (0 until 30).map(i => (s"d$i", i * 7 + 1)).toDF("domain", "n")
    val a1 = Sampling.unimaxMixturePlan(big, "domain", col("n"), 1000L, 2.0)
      .orderBy("domain").collect().map(_.toSeq).toSeq
    val a2 = Sampling.unimaxMixturePlan(big.repartition(11), "domain",
        col("n"), 1000L, 2.0)
      .orderBy("domain").collect().map(_.toSeq).toSeq
    assert(a1 == a2)
    assert(a1.map(_(3).asInstanceOf[Long]).sum <= 1000L)
  }

  test("html strip: blocks vanish with content, entities decode, ws collapses") {
    val df = Seq(
      (0L, "<html><body><h1>T</h1><script>if (1 < 2) { x(); }</script>" +
        "<style>p > a { }</style><!-- note --><p>body  text</p>" +
        " &amp;lt; &amp; &lt;tag&gt;</body></html>")).toDF("doc_id", "text")
    val got = df.select(graft.ops.TextClean.stripHtml(col("text"))).head().getString(0)
    // &amp;lt; decodes to the literal "&lt;" (amp decoded LAST), the
    // standalone &lt;tag&gt; to "<tag>", script/style content is gone
    assert(got == "T body text &lt; & <tag>")
  }

  test("lossy-id-cast guards: pageRank9 fails fast; clusters routes strings distributed") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    // pageRank9 on string nodes used to collapse every URL to the null
    // node and silently rank garbage
    val e = intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank9(
        Seq(("a.com", "b.com")).toDF("src", "dst"), "src", "dst", iters = 2)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // clusters: string ids are legitimate (URL dedup graphs) — the
    // type-generic distributed min-label path must serve them at any
    // size instead of the long-decoding driver shortcut crashing
    val pairs = Seq(("u1", "u2"), ("u2", "u3"), ("u9", "u8")).toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("u1" -> "u1", "u2" -> "u1", "u3" -> "u1",
      "u8" -> "u8", "u9" -> "u8"), labels.toString)
    // the stateful near-dup stream decodes typed long keys — it must
    // reject at plan-build time, not mid-stream inside the encoder
    val sdf = Seq(("s1", "t", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id", "text", "ts")
    intercept[IllegalArgumentException] {
      graft.streaming.StatefulOps.streamingNearDupHits(sdf, "text", "id", "ts")
    }
  }

  test("clusters: output id/label type equals the input id type on BOTH paths") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val pairs = Seq((1, 2), (2, 3), (9, 8)).toDF("id_a", "id_b")
    val driver = Dedup.clusters(pairs) // 3 edges -> driver shortcut
    val dist = Dedup.clusters(pairs, driverThreshold = 0L) // forced distributed
    assert(driver.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType, driver.schema.treeString)
    assert(driver.schema.map(_.dataType) == dist.schema.map(_.dataType))
    val a = driver.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val b = dist.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(a == b && a == Set((1, 1), (2, 1), (3, 1), (8, 8), (9, 8)))
  }

  test("pass-through operators reject reserved staging names at plan build") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    def named(e: Exception, token: String): Unit =
      assert(e.getMessage.contains(token), e.getMessage)
    // silent-LOSS sites: user column overwritten by staging, dropped
    named(intercept[IllegalArgumentException] {
      graft.ops.Urls.filterBlockedDomainsDf(
        Seq(("http://a.com/x", 1L)).toDF("url", "__rd"), "url",
        Seq("a.com").toDF("domain"))
    }, "__rd")
    named(intercept[IllegalArgumentException] {
      graft.ops.TextClean.pseudonymizeEmails(
        Seq(("a@b.com", 1L)).toDF("text", "__m"), "text")
    }, "__m")
    named(intercept[IllegalArgumentException] {
      graft.ops.TextClean.c4Filter(
        Seq(("Good line here.", 1L)).toDF("text", "__kept"), "text")
    }, "__kept")
    named(intercept[IllegalArgumentException] {
      graft.ops.Layout.clusterByZorder(
        Seq((1L, 2L, 3L)).toDF("a", "b", "__z"), "a", "b", 8, 2)
    }, "__z")
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.importanceSample(
        Seq((1L, 0.5, 0.1)).toDF("id", "w", "__p"), "id", "w", 10L)
    }, "__p")
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.weightedSamplePerGroup(
        Seq((1L, "g", 0.5, 0.1)).toDF("id", "g", "w", "__aes_key"),
        "id", "g", "w", 1)
    }, "__aes_key")
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.leakageSafeSplit(
        Seq((1L, "x")).toDF("id", "__rep"),
        Seq((1L, 2L)).toDF("id_a", "id_b"), "id")
    }, "__rep")
    named(intercept[IllegalArgumentException] {
      graft.spark.SparkHighlighter.mergeSameTypeRelational(
        Seq((1L, "T", 0L, 5L, "e1", 9L)).toDF("doc_id", "ann_type",
          "begin_offset", "end_offset", "dict_entry_id", "__cluster"))
    }, "__cluster")
    named(intercept[IllegalArgumentException] {
      graft.streaming.StatefulOps.streamingDedup(
        Seq(("t", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "h"))
          .toDF("text", "ts", "__text_md5"), "text", "ts")
    }, "__text_md5")
    // silent-CORRUPTION site: an id column named like a staged temp is
    // REPLACED mid-election — the semi-join would key on shard numbers
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.sampleExactPerGroup(
        Seq((1L, "g")).toDF("__s", "g"), "__s", "g", k = 1)
    }, "__s")
    // rank-output duplication: a named error, not an ambiguous column
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.topKPerGroup(
        Seq((1L, "g", 2.0, 1L)).toDF("id", "g", "s", "rank_in_group"),
        "id", "g", "s", k = 1)
    }, "rank_in_group")
    named(intercept[IllegalArgumentException] {
      graft.ops.Sampling.topKPerGroupAgg(
        Seq((1L, "g", 2.0, 1L)).toDF("id", "g", "s", "rank_in_group"),
        "id", "g", "s", k = 1)
    }, "rank_in_group")
    // clean inputs keep working through a guarded op
    assert(graft.ops.Urls.filterBlockedDomainsDf(
      Seq(("http://a.com/x", 1L)).toDF("url", "v"), "url",
      Seq("b.com").toDF("domain")).count() == 1)
  }

  test("fit entry points raise NAMED errors on empty input") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("id", "text")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Bpe.fit(noDocs, "text", numMerges = 5)
    }
    assert(e1.getMessage.contains("Bpe.fit: empty input"), e1.getMessage)
    // perplexityBuckets with zero SCORED rows: the documented
    // unscored→tail policy decides everything — graceful, not a crash
    val unscored = Seq((1L, None: Option[Double]), (2L, None: Option[Double]))
      .toDF("id", "ppl")
    val buckets = graft.ops.Lm.perplexityBuckets(unscored, "id")
      .select("bucket").collect().map(_.getString(0)).toSeq
    assert(buckets == Seq("tail", "tail"), buckets.toString)
  }

  test("CacheRelease lifecycle: caches release after the caller's first action") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    spark2.catalog.clearCache()
    // baseline: RDD-level persists from earlier tests (localCheckpoint
    // blocks awaiting GC) are outside clearCache's reach and not ours —
    // the contract under test is that THIS operator adds nothing
    val baseline = spark2.sparkContext.getPersistentRDDs.keySet
    // the release listener fires on the listener-bus thread after the
    // action returns — poll briefly instead of asserting instantly
    def storedAfter(f: => Unit): Int = {
      f
      def fresh = spark2.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
      val deadline = System.currentTimeMillis + 30000
      while (fresh.nonEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      fresh.size
    }
    // the recompute-safe persist in corpusReport is
    // released (snapshot-dependent persists — packingOffsets,
    // trainingOrder — deliberately are NOT; see CacheRelease scaladoc)
    val docs = Seq((1L, "a b a"), (2L, "b c d")).toDF("id", "text")
    val n1 = storedAfter {
      graft.ops.TextStats.corpusReport(docs, "text", "id").count()
    }
    assert(n1 == 0, s"corpusReport left $n1 cached RDDs")
    // release must fire on a FAILED first action too (the onFailure
    // path): a cache pinned by a crashed job would otherwise leak
    val cached = Seq(1L, 2L).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count() // materialize
    val marked = graft.spark.CacheRelease.afterFirstAction(
      cached.withColumn("boom",
        when(col("id") > 0, expr("raise_error('intentional test failure')"))
          .otherwise(lit("x"))),
      Seq(cached))
    val n2 = storedAfter {
      intercept[Exception] { marked.collect() }
    }
    assert(n2 == 0, s"failed action left $n2 cached RDDs")
  }

  test("CacheRelease: pending introspection and the maxPending cap") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val CR = graft.spark.CacheRelease
    val base = CR.pending
    // armed-but-abandoned plans are visible in pending (registration is
    // synchronous on the arming thread)
    val c1 = Seq(1L).toDF("id").persist(); c1.count()
    val c2 = Seq(2L).toDF("id").persist(); c2.count()
    val m1 = CR.afterFirstAction(c1.select("id"), Seq(c1))
    val m2 = CR.afterFirstAction(c2.select("id"), Seq(c2))
    assert(CR.pending == base + 2, s"expected ${base + 2}, got ${CR.pending}")
    // first actions drain them (the release rides the async listener
    // bus — poll instead of asserting instantly)
    m1.count(); m2.count()
    def drainTo(target: Int): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (CR.pending > target && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(CR.pending == target, s"pending ${CR.pending} != $target")
    }
    drainTo(base)
    // the cap: arming past maxPending force-releases the OLDEST hook —
    // its materialized cache must actually drop, not just the counter
    val before = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    val old = Seq(9L).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    old.count()
    assert(spark2.sparkContext.getPersistentRDDs.keySet.toSet != before)
    CR.afterFirstAction(old.select("id"), Seq(old))
    val armed = (1 to CR.maxPending).map { i =>
      CR.afterFirstAction(Seq(i.toLong).toDF("id"), Seq.empty)
    }
    assert(CR.pending <= CR.maxPending,
      s"cap ${CR.maxPending} exceeded: ${CR.pending}")
    // eviction unpersists synchronously on the arming thread
    assert(spark2.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "evicted hook must unpersist its cache")
    // drain the armed hooks so they don't shadow later tests' counters
    armed.foreach(_.count())
    drainTo(base)
  }

  test("CacheRelease: concurrent arming never exceeds the cap and drains clean") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val CR = graft.spark.CacheRelease
    val base = CR.pending
    // 4 threads arming 20 hooks each races the registry add against
    // the eviction loop; the cap may transiently over-evict (harmless,
    // recompute-safe) but must never be exceeded at rest, and every
    // armed frame must still be runnable afterwards
    val armed = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.DataFrame]())
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 20).foreach { i =>
          armed.add(CR.afterFirstAction(
            Seq((t * 100 + i).toLong).toDF("id"), Seq.empty))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(CR.pending <= CR.maxPending,
      s"cap ${CR.maxPending} exceeded after concurrent arming: ${CR.pending}")
    // surviving hooks drain on their actions; evicted frames still run
    // (they just lost nothing — empty cache lists here)
    armed.forEach(df => assert(df.count() == 1))
    val deadline = System.currentTimeMillis + 30000
    while (CR.pending > base && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(CR.pending == base, s"pending ${CR.pending} != $base after drain")
  }

  test("CacheRelease: maxPending conf honored, eviction logs the marker") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val CR = graft.spark.CacheRelease
    // earlier suites' hooks ride the async listener bus — wait them out
    // so the cap-of-3 arithmetic below starts from a clean registry
    val startDeadline = System.currentTimeMillis + 30000
    while (CR.pending > 0 && System.currentTimeMillis < startDeadline)
      Thread.sleep(50)
    assert(CR.pending == 0, s"stale pending hooks from earlier tests: ${CR.pending}")
    // capture the eviction WARN via a log4j2 appender on the exact
    // logger CacheRelease writes to (the conf contract says evictions
    // are LOUD — a silent force-release is the bug this test pins)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-cr-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val coreLogger = org.apache.logging.log4j.LogManager
      .getLogger("graft.spark.CacheRelease")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val prevLevel = coreLogger.getLevel
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.spark.CacheRelease", org.apache.logging.log4j.Level.WARN)
    coreLogger.addAppender(appender)
    try {
      spark2.conf.set(CR.maxPendingKey, "3")
      assert(CR.maxPending == 3, "introspection must read the session conf")
      val armed = (1 to 5).map { i =>
        CR.afterFirstAction(Seq(i.toLong).toDF("id"), Seq.empty)
      }
      assert(CR.pending <= 3, s"conf cap 3 exceeded: ${CR.pending}")
      val msgs = captured.toArray.map(_.toString)
      assert(msgs.exists(m => m.contains("graft_cache_release_") &&
          m.contains(CR.maxPendingKey)),
        s"eviction must log the evicted marker and the conf knob; got: " +
          msgs.mkString(" | "))
      // a bad value fails loudly at arming, never a silent default
      spark2.conf.set(CR.maxPendingKey, "0")
      intercept[IllegalArgumentException] {
        CR.afterFirstAction(Seq(9L).toDF("id"), Seq.empty)
      }
      spark2.conf.set(CR.maxPendingKey, "banana")
      intercept[IllegalArgumentException] { CR.maxPending }
      spark2.conf.unset(CR.maxPendingKey)
      assert(CR.maxPending == 64, "unset conf falls back to the default")
      armed.foreach(_.count())
      val deadline = System.currentTimeMillis + 30000
      while (CR.pending > 0 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(CR.pending == 0, s"pending ${CR.pending} != 0 after drain")
    } finally {
      spark2.conf.unset(CR.maxPendingKey)
      coreLogger.removeAppender(appender)
      appender.stop()
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "graft.spark.CacheRelease", prevLevel)
    }
  }

  test("reserved-name guard matches the session's case resolution") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    // default caseSensitive=false: withColumn("__z", ...) REPLACES a
    // user '__Z' case-insensitively, so the guard must reject it too
    val pts = Seq((1L, 2L, "x")).toDF("a", "b", "__Z")
    val err = intercept[IllegalArgumentException] {
      graft.ops.Layout.clusterByZorder(pts, "a", "b", bits = 4, nPartitions = 1)
    }
    assert(err.getMessage.contains("__Z"), err.getMessage)
    // case-SENSITIVE session: '__Z' is a genuinely different column,
    // never overwritten — rejecting it would be a false positive
    val prev = spark2.conf.get("spark.sql.caseSensitive")
    try {
      spark2.conf.set("spark.sql.caseSensitive", "true")
      assert(graft.ops.Layout.clusterByZorder(pts, "a", "b", bits = 4,
        nPartitions = 1).count() == 1L)
    } finally spark2.conf.set("spark.sql.caseSensitive", prev)
  }

  test("reserved-name guard follows the DataFrame's session, not the " +
      "thread-active one") {
    // r13 board #5: in a multi-session JVM with divergent
    // spark.sql.caseSensitive the staging withColumn resolves against
    // the DataFrame's OWN session — a guard reading getActiveSession
    // follows the wrong mode and re-opens the silent-overwrite path.
    val base = SparkTestSession.spark // case-INsensitive (default)
    import base.implicits._
    val caseSens = base.newSession()
    caseSens.conf.set("spark.sql.caseSensitive", "true")
    val pts = Seq((1L, 2L, "x")).toDF("a", "b", "__Z")
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    try {
      // df owned by the case-insensitive session ('__Z' WILL be
      // overwritten by withColumn("__z", ...)) while a case-sensitive
      // session is thread-active: must still reject
      org.apache.spark.sql.SparkSession.setActiveSession(caseSens)
      val err = intercept[IllegalArgumentException] {
        graft.ops.Layout.clusterByZorder(pts, "a", "b", bits = 4,
          nPartitions = 1)
      }
      assert(err.getMessage.contains("__Z"), err.getMessage)
      // converse: df owned by the case-SENSITIVE session ('__Z' is a
      // genuinely different, safe column) while the insensitive session
      // is active: must still accept
      val ptsCs = { import caseSens.implicits._
        Seq((1L, 2L, "x")).toDF("a", "b", "__Z") }
      org.apache.spark.sql.SparkSession.setActiveSession(base)
      assert(graft.ops.Layout.clusterByZorder(ptsCs, "a", "b", bits = 4,
        nPartitions = 1).count() == 1L)
    } finally prevActive.foreach(
      org.apache.spark.sql.SparkSession.setActiveSession)
  }

  test("Ids.fieldOf honors spark.sql.caseSensitive") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val df = Seq((1L, "a")).toDF("DocId", "text")
    // default (insensitive): the fallback resolves like the analyzer
    assert(graft.ops.Ids.fieldOf(df, "docid", "t").name == "DocId")
    val prev = spark2.conf.get("spark.sql.caseSensitive")
    try {
      spark2.conf.set("spark.sql.caseSensitive", "true")
      // case-sensitive session: the guard must NOT resolve a column the
      // analyzer would reject — a pass here would validate the wrong one
      intercept[IllegalArgumentException] {
        graft.ops.Ids.fieldOf(df, "docid", "t")
      }
      assert(graft.ops.Ids.fieldOf(df, "DocId", "t").name == "DocId")
    } finally spark2.conf.set("spark.sql.caseSensitive", prev)
  }

  test("numeric-id contract: lossless DECIMAL(p<=18,0) ids accepted, null sample ids raise") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    // JDBC NUMERIC keys arrive as scale-0 decimals; their long cast is
    // exact, so the guard must not reject them
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .select(col("src").cast("decimal(10,0)").as("src"),
        col("dst").cast("decimal(10,0)").as("dst"))
    assert(graft.ops.Graph.pageRank9(e, "src", "dst", iters = 2).count() == 3)
    assert(!graft.ops.Ids.isIntegral(
      org.apache.spark.sql.types.DecimalType(19, 0)), "19 digits can overflow long")
    assert(!graft.ops.Ids.isIntegral(org.apache.spark.sql.types.DoubleType))
    // a null id used to silently vanish from every sample/split at any
    // fraction; now the selection hash raises naming the contract
    val ids = Seq(Some(1L), Some(2L), None).toDF("id")
    val err = intercept[Exception] {
      graft.ops.Sampling.assignSplit(ids, "id").collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(x => Option(x.getMessage)).mkString(" | "))
    assert(rootMsg(err).contains("NULL id"), rootMsg(err))
  }

  test("stratifiedSample: null strata form their own stratum, never silently vanish") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val ids = (0L until 200L).map(i => (i, if (i % 3 == 0) null else "a"))
      .toDF("id", "src")
    // fraction 1.0 must keep EVERY row — the old concat-null hash
    // dropped all null-strata rows at any fraction
    assert(graft.ops.Sampling.stratifiedSample(ids, "id", "src", 1.0, "z").count() == 200L)
    // null-strata rows sample at ~fraction like any other stratum
    val nullKept = graft.ops.Sampling.stratifiedSample(ids, "id", "src", 0.5, "z")
      .filter(col("src").isNull).count()
    assert(nullKept > 10 && nullKept < 57, s"null stratum kept $nullKept of 67")
    // and non-null strata selection is unchanged by null rows' presence
    val a1 = graft.ops.Sampling.stratifiedSample(ids, "id", "src", 0.3, "z")
      .filter(col("src") === "a").collect().map(_.getLong(0)).toSet
    val a2 = graft.ops.Sampling.stratifiedSample(ids.filter(col("src").isNotNull),
      "id", "src", 0.3, "z").collect().map(_.getLong(0)).toSet
    assert(a1 == a2)
  }

  test("applyChanges rejects unknown/null ops instead of vanishing the row") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val base = Seq((1L, "old"), (2L, "keep")).toDF("id", "text")
    val ok = Seq((1L, "new", "update"), (3L, "ins", "insert"))
      .toDF("id", "text", "op")
    val applied = graft.ops.Snapshot.applyChanges(base, ok, "id", "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(applied == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
    // a misspelled op used to anti-join the base row away AND drop the
    // change payload — id 1 silently vanished; now the job fails named
    val bad = Seq((1L, "new", "Delete")).toDF("id", "text", "op")
    val e = intercept[Exception] {
      graft.ops.Snapshot.applyChanges(base, bad, "id", "op").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("unknown op"),
      s"${e.getClass}: ${e.getMessage}")
    val nullOp = Seq((1L, "new", null: String)).toDF("id", "text", "op")
    intercept[Exception] {
      graft.ops.Snapshot.applyChanges(base, nullOp, "id", "op").collect()
    }
  }

  test("Bench self-adjudication: suspect flags headline-row dispersion >2") {
    import graft.Bench.{dispersion, median, suspect}
    assert(median(Vector(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(math.abs(dispersion(Vector(2.0, 7.0, 7.2, 6.9)) - 3.475) < 1e-9)
    // quiet window: K+1 samples agree (disp 1.0-1.3) -- not suspect
    val quiet = Map(
      "annotate_5k_dict" -> Vector(1.00, 1.05, 1.10, 0.98),
      "annotate_80k_mixed" -> Vector(2.0, 2.1, 2.2, 2.05))
    assert(!suspect(quiet))
    // the r12 contamination shape: all K round-aligned samples poisoned,
    // only the time-displaced K+1th clean -- median/min 3.5, must flag
    val poisoned = quiet + ("annotate_5k_mixed" -> Vector(7.0, 7.2, 6.9, 2.0))
    assert(suspect(poisoned))
    // headline rows only: an op-query blip never flags the artifact
    // (op mins already self-defend via K interleaved rounds)
    assert(!suspect(quiet + ("q_triplets" -> Vector(30.0, 3.0, 3.1, 3.0))))
    // threshold is a parameter: the same quiet window flags under a
    // hair-trigger threshold, pinning that the comparison is med/min
    assert(suspect(quiet, threshold = 1.01))
    // canary row (r15 board #1): a uniformly-loaded window elevates the
    // canary's every sample EQUALLY — tight dispersion, so it must NOT
    // flip suspect (it is a normalization signal for bench_compare's
    // canary-normalized geomean, not a discard-the-row signal)
    assert(!suspect(quiet + ("canary_cpu" -> Vector(0.9, 0.95, 0.92, 0.91))))
  }

  test("Bench compactTailLine: budget-bounded, valid JSON, headline " +
      "intact, most-expensive queries first, omission count honest") {
    import graft.Bench.compactTailLine
    val headline = """{"docs_per_sec":248834,"cpus":32,"suspect":false,""" +
      """"attempts":1}"""
    val mins = Seq("q_small" -> 0.099, "q_triplets" -> 4.340,
      "q_stream_join" -> 4.626, "q_mid" -> 0.590, "q_tiny" -> 0.012,
      "q_exact_one" -> 1.0)
    val line = compactTailLine(headline, 92.391, "/root/testdata/sf0.1",
      mins, budgetBytes = 1870)
    assert(line.length <= 1870, s"over budget: ${line.length}")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(line) // throws on invalid JSON
    assert(root.get("headline").get("docs_per_sec").asLong == 248834L)
    assert(root.get("metric").asText == "total")
    assert(math.abs(root.get("value").asDouble - 92.391) < 1e-9)
    assert(root.get("sf").asText == "/root/testdata/sf0.1")
    // generous budget: every key fits, values at 1ms resolution
    val q = root.get("queries")
    assert(q.size == 6 && root.get("queries_omitted").asInt == 0)
    assert(math.abs(q.get("q_triplets").asDouble - 4.34) < 1e-9)
    assert(math.abs(q.get("q_tiny").asDouble - 0.012) < 1e-9)
    assert(math.abs(q.get("q_exact_one").asDouble - 1.0) < 1e-9)
    // tight budget: the expensive keys win the slots, count is honest,
    // line still parses and never exceeds the budget (the budget
    // guarantee holds whenever it covers the fixed headline+metric
    // prefix, here ~163 bytes; below that the prefix prints regardless)
    val sizes = (165 to 320 by 7)
    sizes.foreach { b =>
      val l = compactTailLine(headline, 92.391, "sf", mins, budgetBytes = b)
      assert(l.length <= b, s"budget $b overflowed: ${l.length}")
      val r = om.readTree(l)
      val got = r.get("queries")
      assert(got.size + r.get("queries_omitted").asInt == mins.size)
      if (got.size > 0 && got.size < mins.size) {
        // first-fit by descending time: q_triplets/q_stream_join take
        // priority over the sub-second keys whenever one of them fits
        assert(got.has("q_stream_join") || got.has("q_triplets") ||
          !got.has("q_tiny"))
      }
    }
    // the real-shape sanity check: a 182-key map at realistic key
    // lengths must deliver ≥40 keys within the r18-measured tail budget
    val big = (1 to 182).map(i => f"q_realistic_key_$i%03d" -> (0.05 + i * 0.02))
    val real = compactTailLine(headline, 120.0, "/root/testdata/sf0.1",
      big, budgetBytes = 1870)
    assert(real.length <= 1870)
    val rb = om.readTree(real)
    assert(rb.get("queries").size >= 40,
      s"only ${rb.get("queries").size} keys fit")
    // a data dir with a quote, a backslash and a tab, and a key with a
    // quote, still make a line that parses and round-trips both
    val oddDir = "/tmp/a\"b\\c\td"
    val odd = compactTailLine(headline, 1.0, oddDir,
      Seq("q_\"odd" -> 0.5), budgetBytes = 1870)
    val ro = om.readTree(odd)
    assert(ro.get("sf").asText == oddDir)
    assert(math.abs(ro.get("queries").get("q_\"odd").asDouble - 0.5) < 1e-9)
  }

  test("Bench op-row band residuals: the recorded r16 driver window " +
      "flags, the quiet r16a window does not") {
    import graft.Bench.{Band, loadBands, opRowsOverBand, opRowsSuspect}
    // decision unit first: median over 1.4×band-max AND disp > 1.5,
    // three rows needed
    val b = Map("q_a" -> Band(0.1, 0.2), "q_b" -> Band(0.1, 0.2),
      "q_c" -> Band(0.1, 0.2))
    val hot = Map("q_a" -> (0.3, 2.0), "q_b" -> (0.29, 1.6),
      "q_c" -> (0.5, 1.8))
    assert(opRowsSuspect(hot, b))
    assert(opRowsOverBand(hot, b) == Seq("q_a", "q_b", "q_c"))
    // two rows are not enough — one regression or unlucky row must not
    // discard a window
    assert(!opRowsSuspect(hot - "q_c", b))
    // a high residual with QUIET dispersion is a real regression, not
    // a burst: report it, never auto-discard it
    assert(!opRowsSuspect(hot.map { case (k, (m, _)) => k -> (m, 1.1) }, b))
    // unbanded rows and non-op rows never count
    assert(!opRowsSuspect(Map("q_new1" -> (9.0, 9.0), "q_new2" -> (9.0, 9.0),
      "q_new3" -> (9.0, 9.0)), b))
    assert(!opRowsSuspect(Map("annotate_5k_dict" -> (9.0, 9.0),
      "canary_cpu" -> (9.0, 9.0), "q_a" -> (0.3, 2.0)), b))
    // a missing bands file disables the rule (fresh checkout)
    assert(loadBands("/nonexistent/bands.json").isEmpty)
    assert(!opRowsSuspect(hot, Map.empty))

    // the PERMANENT-RECORD shapes: BENCH_LOCAL_r16driver.json is the
    // r16 driver window (suspect:false with a quiet canary yet six op
    // medians 1.4–1.9× over band, disp 1.46–2.18 — the blind spot);
    // BENCH_LOCAL_r16a.json is the same round's clean builder window
    val bands = loadBands("BENCH_BANDS.json")
    assert(bands.nonEmpty && bands.contains("q_vocab"), bands.size.toString)
    def rowsOf(path: String): Map[String, (Double, Double)] = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)))
      val med = root.get("queries_median")
      val disp = root.get("queries_disp")
      val out = Map.newBuilder[String, (Double, Double)]
      val it = med.fields()
      while (it.hasNext) {
        val e = it.next()
        val d = disp.get(e.getKey)
        if (d != null) out += e.getKey -> (e.getValue.asDouble, d.asDouble)
      }
      out.result()
    }
    val driver = rowsOf("BENCH_LOCAL_r16driver.json")
    assert(opRowsSuspect(driver, bands),
      s"r16 driver shape must flag: over=${opRowsOverBand(driver, bands)}")
    assert(opRowsOverBand(driver, bands).size >= 3)
    val quiet = rowsOf("BENCH_LOCAL_r16a.json")
    assert(!opRowsSuspect(quiet, bands),
      s"r16a quiet window must stay clean: ${opRowsOverBand(quiet, bands)}")
  }

  test("Bench attempt scheduler: escalating pauses outlast a burst " +
      "longer than attempts 1+2's span; rejection evidence kept; a " +
      "never-quiet host returns the last window with full history") {
    import graft.Bench.{retryPauseSec, runAttempts}
    // the documented escalation: 240 s, then capped at 900 s
    assert(retryPauseSec(1) == 240)
    assert(retryPauseSec(2) == 900)
    assert(retryPauseSec(3) == 900)
    assert(retryPauseSec(9) == 900) // no overflow at silly depths
    assert(retryPauseSec(2, 0, 900) == 0) // PAUSE_SEC=0 = no-pause drill
    // fake clock: a window takes 900 s of wall time; the burst covers
    // t ∈ [0, burstEnd). A window is suspect iff it STARTS inside it.
    def run(burstEndSec: Long, maxAttempts: Int) = {
      var now = 0L
      val evidence = Seq.newBuilder[(Long, Int)]
      val (win, attempts, rejected) = runAttempts[(Long, Boolean)](
        maxAttempts,
        a => retryPauseSec(a),
        () => (),
        () => { val start = now; now += 900; (start, start < burstEndSec) },
        (w: (Long, Boolean)) => w._2,
        (w: (Long, Boolean), a: Int) => evidence += ((w._1, a)),
        ms => now += ms / 1000)
      (win, attempts, rejected, evidence.result())
    }
    // burst 2100 s > window1 + pause1 + window2 = 2040 s: attempts 1
    // (t=0) and 2 (t=1140) both land inside it; the 900 s escalation
    // puts attempt 3 at t=2940 — quiet, accepted
    val (win, attempts, rejected, evidence) = run(2100L, 3)
    assert(!win._2 && attempts == 3 && win._1 == 2940L, s"$win $attempts")
    assert(evidence == Seq((0L, 1), (1140L, 2)), evidence.toString)
    assert(rejected.map(_._1) == Seq(0L, 1140L), rejected.toString)
    // the r17 policy (2 attempts, no escalation past the first pause)
    // provably could not have escaped the same burst
    val (w17, a17, rej17, _) = run(2100L, 2)
    assert(w17._2 && a17 == 2 && rej17.size == 1, s"$w17 $a17")
    // a burst outlasting every attempt: the final window comes back
    // suspect WITH both prior rejections attached — the "host never
    // quieted" proof the archive embeds
    val (wAll, aAll, rejAll, _) = run(Long.MaxValue / 2, 3)
    assert(wAll._2 && aAll == 3 && rejAll.size == 2, s"$wAll $aAll")
  }

  test("Bench canary: deterministic, code-independent fixed work") {
    // the canary's work must never change (its numbers form a cross-
    // round band): pin the checksum of the constant buffer + FNV loop.
    // If this assertion ever fails, the canary changed and BENCH bands
    // before/after are incomparable — bump deliberately, note in
    // COVERAGE.md.
    val h = graft.Bench.canaryOnce(passes = 3)
    assert(h == graft.Bench.canaryOnce(passes = 3))
    assert(graft.Bench.canaryOnce(passes = 1500) == -4665232685988848699L)
    // scaling sanity: more passes = different (more) work
    assert(graft.Bench.canaryOnce(passes = 2) != h)
    // the timed unit: 32 identical per-thread checksums folded by
    // commutative addition — deterministic regardless of thread order
    assert(graft.Bench.canaryWall(threads = 2) ==
      graft.Bench.canaryOnce() * 2)
  }

  test("Bench loadavg: parse, JSON form, and the pre-window quiet gate") {
    import graft.Bench.{loadavgJson, parseLoadavg, readLoadavg, waitForQuiet}
    // /proc/loadavg line shape: three averages then scheduler fields
    assert(parseLoadavg("0.52 1.10 2.75 2/1136 12345") ==
      Some((0.52, 1.10, 2.75)))
    assert(parseLoadavg("") == None)
    assert(parseLoadavg("a b c") == None)
    assert(loadavgJson(Some((0.5, 1.0, 2.0))) == "[0.50,1.00,2.00]")
    assert(loadavgJson(None) == "null")
    // this test host IS Linux: the artifact keys must be real numbers
    val live = readLoadavg()
    assert(live.exists(l => l._1 >= 0 && l._2 >= 0 && l._3 >= 0), live.toString)

    // quiet gate decision loop, with an injected clock (no sleeping):
    // load above the gate drains the budget then reports NOT quiet
    var slept = 0L
    val logs = scala.collection.mutable.Buffer.empty[String]
    assert(!waitForQuiet(threshold = 4.0, budgetSec = 60, pollSec = 15,
      read = () => Some(9.9), sleep = ms => slept += ms, log = logs.append(_)))
    assert(slept == 4 * 15000L, s"4 polls of 15s expected, slept $slept ms")
    assert(logs.size == 4 && logs.forall(_.contains("loadavg 9.90")))
    // a burst that ends mid-budget: gate opens as soon as load drops
    val seq = Iterator(Some(8.0), Some(5.0), Some(1.2))
    slept = 0L
    assert(waitForQuiet(4.0, 600, 15, () => seq.next(), ms => slept += ms,
      _ => ()))
    assert(slept == 2 * 15000L, s"gate must open on the 3rd read: $slept")
    // already quiet: zero sleeps; unreadable loadavg (None): fail open —
    // a non-Linux host must measure rather than spin forever
    assert(waitForQuiet(4.0, 600, 15, () => Some(0.3), _ => fail(), _ => ()))
    assert(waitForQuiet(4.0, 600, 15, () => None, _ => fail(), _ => ()))
  }
}

package graft

import graft.dict.{DictionaryEntry => DE, HighlighterOpts => HO}
import graft.spark.SparkHighlighter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the properties that matter at 100 TB —
  * scan-level filter pushdown and column pruning, broadcast joins for small
  * dimensions, whole-stage codegen around the hot path, and no redundant
  * shuffles — asserted on the actual plans so a refactor that silently
  * loses one of them fails the build, not the cluster bill.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("parquet scan gets pushed filters and pruned read schema") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100)
      .select(col("text"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"), plan)
    // projection pruning: the scan must not read `text` plus everything else
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang"), readSchema) // untouched column stays unread
  }

  test("orders-customer top-n join broadcasts the dimension side") {
    val plan = planOf(SparkEntry.queries("q_join_topn")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("aggregation pipeline runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // AQE finalizes the physical plan on execution
    val executed = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the executed-plan string
    assert(executed.contains("*(1)"), executed)
    // partial (map-side) aggregation before the exchange
    assert(executed.contains("partial_sum"), executed)
  }

  test("fingerprint window kernel stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q_fp_card")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val line = executed.linesIterator.find(_.contains("graft_window_hashes(")).get
    assert(line.contains("*("), s"graft_window_hashes not codegen'd:\n$executed")
  }

  test("annotate expression stays inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = SparkHighlighter(Seq(DE("hash join", id = Some("1"))), HO())
      .annotateExploded(docs, "text")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    // the Project carrying annotate(...) must print with a codegen stage
    // marker — a CodegenFallback would exclude the stage entirely
    val annLine = executed.linesIterator.find(_.contains("annotate(")).get
    assert(annLine.contains("*("), s"annotate not codegen'd:\n$executed")
  }

  test("bucketed tables co-locate the join: no shuffle exchange at all") {
    val spark2 = spark
    import spark2.implicits._
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bkt")
      spark.read.parquet(s"$sf/customer.parquet")
        .select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
        .saveAsTable("customer_bkt")
      val j = spark.table("orders_bkt").join(spark.table("customer_bkt"),
        $"o_custkey" === $"c_custkey")
      j.collect()
      val executed = j.queryExecution.executedPlan.toString
      // both sides pre-bucketed on the join key -> sort-merge join reads
      // buckets directly, zero Exchange operators (the 100 TB join shape:
      // pay the shuffle once at write time, never per query)
      assert(executed.contains("SortMergeJoin"), executed)
      assert(!executed.contains("Exchange"), executed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("annotate + count shuffles once for the groupBy (plus final sort)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = SparkHighlighter(Seq(DE("hash join", id = Some("1"))), HO())
      .annotateExploded(docs, "text")
      .groupBy(col("dict_entry_id")).agg(count(lit(1)).as("n"))
    val plan = planOf(df)
    // formatted mode puts partitioning on an Arguments line under Exchange
    val hashExchanges = plan.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
    // matching is partition-local: the explode sits below the only exchange
    val genIdx = plan.indexOf("Generate")
    val exIdx = plan.indexOf("Exchange")
    assert(genIdx >= 0 && exIdx >= 0 && exIdx < genIdx, plan)
  }

  test("simhash and fingerprint kernels stay inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(graft.ops.Dedup.simhash64(col("text")).as("s"),
      graft.ops.TextStats.fingerprint(col("text")).as("f"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val line = executed.linesIterator
      .find(l => l.contains("graft_simhash") && l.contains("graft_fingerprint")).get
    assert(line.contains("*("), s"kernels not codegen'd:\n$executed")
  }

  test("gopher quality is scan-local: zero shuffles, kernel in codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.TextStats.gopherQuality(docs, "text", "doc_id")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    // per-document statistics must never shuffle the corpus
    assert(!executed.contains("Exchange"), executed)
    val line = executed.linesIterator
      .find(_.contains("graft_repetition_counts")).get
    assert(line.contains("*("), s"repetition kernel not codegen'd:\n$executed")
  }

  test("ngram decontamination broadcasts bench grams; shuffles ids only") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 101 === 0)
    val df = graft.ops.Decontaminate(docs, bench, "text", "doc_id", n = 4)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val executed = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // bench side broadcast, semi-join probe; corpus never sort-merge-joined
    assert(executed.contains("BroadcastHashJoin") && executed.contains("LeftSemi"), executed)
    assert(!executed.contains("SortMergeJoin"), executed)
    // gram hashing is the codegen'd shingle kernel — no gram STRING is
    // ever materialized anywhere in the plan
    assert(executed.contains("graft_shingle_hashes"), executed)
    assert(!executed.contains("concat_ws"), executed)
    // every shuffle carries an 8-byte key only: the corpus-side distinct
    // on doc_id and the (tiny) bench-side distinct on the gram hash — no
    // text and no gram strings ever cross the network
    val exchanges = executed.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => l.contains("doc_id") || l.contains("__gh")), executed)
    assert(!exchanges.exists(l => l.contains("text#") || l.contains("__g#")), executed)
  }

  test("jaccard pair scoring is partial-aggregated; arrays only in final verify") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id", persist = false)
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — position
    // assertions must look at the final plan section only
    val full = df.queryExecution.executedPlan.toString
    val executed = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // candidate scoring must be a count aggregate with a map-side partial
    // (only 16-byte pair keys cross the shuffle, never shingle arrays)
    assert(executed.contains("partial_count"), executed)
    assert(!executed.contains("CartesianProduct"), executed)
    // every array intersection (Catalyst may clone it into the verify
    // join's condition) must apply to already-pruned survivor pairs
    // only, never inside candidate scoring: no whole-stage-codegen
    // pipeline may contain BOTH an array_intersect and the
    // candidate-count partial aggregation (the stage that processes
    // one row per shared shingle of every candidate)
    def spans(needle: String): Set[String] =
      executed.linesIterator.filter(_.contains(needle))
        .flatMap("""\*\((\d+)\)""".r.findFirstMatchIn(_).map(_.group(1)))
        .toSet
    val verify = spans("array_intersect")
    val scoring = spans("partial_count")
    assert(verify.nonEmpty && scoring.nonEmpty, executed)
    assert(verify.intersect(scoring).isEmpty, executed)
    // and in the logical plan, every array intersection sits downstream
    // of the candidate count: a per-candidate intersection in its own
    // stage upstream of the aggregate would pass the span check above
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val opt = df.queryExecution.optimizedPlan
    val intersecting = opt.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersect])) => p
    }
    assert(intersecting.nonEmpty, opt.treeString)
    for (p <- intersecting)
      assert(p.exists {
        case a: Aggregate => a.aggregateExpressions.exists(_.name == "common_capped")
        case _ => false
      }, s"array_intersect upstream of the candidate count:\n${opt.treeString}")
  }

  test("bloom decontamination: codegen'd probe, no bench broadcast in confirm join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 101 === 0)
    val ids = graft.ops.Decontaminate.bloomContaminatedIds(
      docs, bench, "text", "doc_id", n = 4)
    ids.collect()
    val full = ids.queryExecution.executedPlan.toString
    val executed = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // the probe runs inside a whole-stage-codegen'd Filter on the scan
    assert(executed.linesIterator.exists(l =>
      l.contains("graft_bloom_might_contain") && l.contains("*(")), executed)
    // the confirm semi-join is SHUFFLED on the 8-byte gram hash — the
    // whole point of this path is that the bench side is not broadcast
    assert(executed.contains("ShuffledHashJoin") && executed.contains("LeftSemi"), executed)
    // and, like the broadcast path, no text and no gram strings shuffle
    val exchanges = executed.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => l.contains("doc_id") || l.contains("__gh")), executed)
    assert(!exchanges.exists(_.contains("text#")), executed)
  }

  test("line dedup: the dedup decision shuffles hashes, never line text") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.Dedup.lineDedup(docs, "text", "doc_id")
    val opt = df.queryExecution.optimizedPlan
    // owner election is ONE count/min window pass partitioned on the
    // 8-byte hash (r18 shape: no owner aggregate + join-back), with
    // line strings already projected away below the window's shuffle
    val ownerWindows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "lh")) => w
    }
    assert(ownerWindows.nonEmpty, opt.toString)
    ownerWindows.foreach(w =>
      assert(!w.child.output.exists(_.dataType == StringType),
        s"line text enters the owner-election window shuffle:\n$opt"))
    // and no lh-keyed join remains to sneak the text back in
    val dropJoins = opt.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "lh")) => j
    }
    assert(dropJoins.isEmpty, s"lh-keyed join reappeared:\n$opt")
  }

  test("minhash bucket cap is a count-over-window, not a size join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.Dedup.minhashPairs(docs, "text", "doc_id",
      persist = false)
    val opt = df.queryExecution.optimizedPlan
    // the skew cap attaches bucket sizes with ONE window over
    // (band, band_key) — the r18 shape: its exchange is the same one the
    // posting-list aggregation needs, and no bucket-size join exists to
    // go AQE-bimodal (broadcast vs shuffle) run to run
    val capWindows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "band_key")) => w
    }
    assert(capWindows.nonEmpty, opt.toString)
    // only (id, band, band_key) rows enter that shuffle — the shingle
    // and signature arrays stay out of the banding path entirely
    capWindows.foreach(w =>
      assert(!w.child.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"array column enters the bucket-cap window shuffle:\n$opt"))
    val bandJoins = opt.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "band_key")) => j
    }
    assert(bandJoins.isEmpty, s"band-keyed join reappeared:\n$opt")
  }

  test("cleaning and url ops are scan-local: zero exchanges, codegen'd") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cleaned = graft.ops.TextClean.redactPii(
      graft.ops.TextClean.normalizeUnicodeDf(
        graft.ops.TextClean.stripHtmlDf(docs, "text"), "text"), "text")
      .withColumn("u", graft.ops.Urls.normalize(
        concat(lit("https://example.com/"), col("doc_id"))))
      .withColumn("host", graft.ops.Urls.host(col("u")))
      .transform(d => graft.ops.Dedup.dedupLinesWithinDoc(d, "text"))
    val plan = planOf(cleaned)
    assert(!plan.contains("Exchange"), plan)
    cleaned.collect()
    val executed = cleaned.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"), executed) // one fused codegen stage
  }

  test("keepBestInClusters: election sees no text; corpus rejoins broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.5)
    val out = graft.ops.Dedup.keepBestInClusters(docs, pairs, "doc_id",
      length(col("text")))
    // the per-cluster argmax window runs on (id, rank, label) only —
    // no string column below it
    val opt = out.queryExecution.optimizedPlan
    val wins = opt.collect { case w: Window => w }
    assert(wins.nonEmpty, opt.toString)
    wins.foreach(w => assert(!w.child.output.exists(_.dataType == StringType),
      s"text below the election window:\n$opt"))
    // the id-keyed semi/anti rejoins broadcast the tiny id lists — the
    // corpus (with text) streams through without an exchange of its own
    out.collect()
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"), executed)
  }

  test("dictionary redaction is a scan-local codegen'd projection") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hl = graft.spark.SparkHighlighter(Seq(
      graft.dict.DictionaryEntry("hash join", id = Some("hj"))))
    val out = docs.select(col("doc_id"), hl.redactColumn(docs, "text").as("t"))
    val plan = planOf(out)
    assert(!plan.contains("Exchange"), plan)
    out.collect()
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"), executed) // stays in whole-stage codegen
  }

  test("c4 filter and mojibake repair are scan-local: zero exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.TextClean.c4Filter(
      docs.withColumn("text",
        graft.ops.TextClean.fixMojibake(col("text"))),
      "text", badWords = Seq("verboten"))
    val plan = planOf(out)
    assert(!plan.contains("Exchange"), plan)
    out.collect()
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"), executed) // one fused codegen stage
  }

  test("vocab top-k and pmi: tokens shuffle with partial agg, cut is TakeOrdered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val top = graft.ops.Vocab.topKNgrams(docs, "text", n = 2, k = 50, minCount = 2)
    val topPlan = planOf(top)
    // top-k via executor-local heaps, never a global sort; map-side
    // partial aggregation before the single gram shuffle
    assert(topPlan.contains("TakeOrderedAndProject"), topPlan)
    assert(!topPlan.contains("Exchange rangepartitioning"), topPlan)
    assert(topPlan.contains("partial_count"), topPlan)
    val pmi = graft.ops.Vocab.pmiCollocations(docs, "text", minCount = 2, k = 20)
    val pmiPlan = planOf(pmi)
    assert(pmiPlan.contains("TakeOrderedAndProject"), pmiPlan)
    assert(!pmiPlan.contains("Exchange rangepartitioning"), pmiPlan)
    // count tables are tiny relative to the corpus: both pair-count
    // joins must broadcast, never sort-merge the token stream
    assert(!pmiPlan.contains("SortMergeJoin"), pmiPlan)
  }

  test("bpe encode: scan-local codegen'd projection, zero exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = graft.ops.Bpe.BpeModel(
      Seq(("t", "h"), ("th", "e"), ("the", "</w>")), 3L, 3, 1.0)
    val enc = graft.ops.Bpe.encode(docs, "text", model)
    val plan = planOf(enc)
    assert(!plan.contains("Exchange"), plan)
    enc.collect()
    val executed = enc.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"), executed) // stays in whole-stage codegen
  }

  test("corpus report shuffles no text") {
    // only the scan sees text; every shuffle carries lang + numeric/hash
    // columns
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = graft.ops.TextStats.corpusReport(docs, "text", "doc_id")
    val executed = { rep.collect(); rep.queryExecution.executedPlan.toString }
    val exchanges = executed.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, executed)
    assert(!exchanges.exists(_.contains("text#")), executed)
  }

  test("bpe fit: type-table truncation is TakeOrdered, not a global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val counts = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(50000)
    val plan = planOf(counts)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("LM scoring shuffles grams and ids, never document text") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (scored <- Seq(
        graft.ops.Lm.bigramPerplexity(docs,
          docs.filter(col("doc_id") % 5 === 0), "text", "doc_id"),
        graft.ops.Lm.importanceWeights(docs,
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id", buckets = 256))) {
      val opt = scored.queryExecution.optimizedPlan
      val joins = opt.collect { case j: Join => j }
      assert(joins.nonEmpty, opt.toString)
      joins.foreach(j => j.children.foreach(c =>
        assert(!c.output.exists(_.name == "text"),
          s"document text crosses an LM-scoring join:\n$opt")))
    }
  }

  test("cdc dedup: election joins shuffle hashes only, text stays at the scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Dedup.cdcDedupDocs(docs, "text", "doc_id")
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val opt = out.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    // text may reach at most ONE join side in the whole plan — the docs
    // side of the final rebuild join (where the small drop-list side is
    // AQE-broadcastable); every ownership-election join moves only
    // (id, chunk_id, md5) triples
    val textSides = joins.flatMap(_.children)
      .count(_.output.exists(_.name == "text"))
    assert(textSides <= 1, s"text crosses an election join:\n$opt")
  }

  test("cdc delta dedup: decision joins shuffle hashes only, like the batch path") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Dedup.cdcDedupDelta(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val opt = out.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    val textSides = joins.flatMap(_.children)
      .count(_.output.exists(_.name == "text"))
    assert(textSides <= 1, s"text crosses a decision join:\n$opt")
  }

  test("sampleExactPerGroup: semi join carries ids only, strategy left to AQE") {
    // no forced broadcast hint (k×strata exceeds broadcast limits at
    // scale — r7 verdict #4 / ADVICE): the logical plan must contain a
    // LeftSemi join whose picked side exposes only the id column, and no
    // ResolvedHint forcing broadcast
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Sampling.sampleExactPerGroup(docs, "doc_id", "lang", k = 5)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val analyzed = out.queryExecution.analyzed
    assert(!analyzed.toString.contains("ResolvedHint"),
      s"forced join-strategy hint present:\n$analyzed")
    val opt = out.queryExecution.optimizedPlan
    val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, opt.toString)
    semis.foreach { j =>
      assert(!j.right.output.exists(_.name == "text"),
        s"payload crosses the election join:\n$opt")
    }
    // and the join still resolves to a physical join (broadcast OR
    // shuffled — whichever AQE picks)
    val plan = planOf(out)
    assert(plan.contains("Join"), plan)
  }

  test("kl report: document text never crosses a join (bucket counts only)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = graft.ops.Lm.klDivergenceReport(docs, "source", "text")
    val opt = rep.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    joins.foreach(j => j.children.foreach(c =>
      assert(!c.output.exists(_.name == "text"),
        s"document text crosses a KL cell join:\n$opt")))
  }

  test("snapshot diff joins (id, hash) projections — text stays in the scans") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val diff = graft.ops.Snapshot.corpusDiff(
      docs, docs.withColumn("text", concat(col("text"), lit("x"))),
      "doc_id", "text")
    val opt = diff.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    joins.foreach(j => j.children.foreach(c =>
      assert(!c.output.exists(_.name == "text"),
        s"document text crosses the diff join:\n$opt")))
    // and the overlap report's intersection joins 8-byte hashes only
    val rep = graft.ops.Snapshot.overlapReport(docs,
      docs.filter(col("doc_id") % 101 === 0), "text")
    val opt2 = rep.queryExecution.optimizedPlan
    opt2.collect { case j: Join => j }.foreach(j => j.children.foreach(c =>
      assert(!c.output.exists(_.name == "text"),
        s"text crosses the overlap join:\n$opt2")))
  }

  test("relational merger shuffles once: second window reuses the exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dict = Seq(
      graft.dict.DictionaryEntry("hash join", id = Some("hj")),
      graft.dict.DictionaryEntry("join", id = Some("j")))
    val merged = graft.spark.SparkHighlighter.mergeSameTypeRelational(
      new graft.spark.SparkHighlighter(dict, graft.dict.HighlighterOpts(),
        mergeAnnotations = false).annotateExploded(docs, "text"))
    val plan = planOf(merged)
    // the (doc, type, cluster) window is co-located by the (doc, type)
    // hash partitioning: exactly one exchange in the whole plan (counted
    // via the formatted detail headers, one per physical node)
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, plan)
  }

  test("fuzzy decontamination: bench side broadcasts, text never joins") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val pairs = graft.ops.Decontaminate.fuzzyContaminationPairs(
      docs, bench, "text", "doc_id", "bench_id", n = 3, minFrac = 0.5)
    val opt = pairs.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    joins.foreach(j => j.children.foreach(c =>
      assert(!c.output.exists(_.name == "text"),
        s"document text crosses a decontam join:\n$opt")))
    val plan = planOf(pairs)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("importance sample: Σw broadcasts back, no payload shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Sampling.importanceSample(docs, "doc_id",
      "n_chars", 100L)
    val plan = planOf(out)
    // the only join is the scalar-aggregate broadcast; the corpus side
    // must not sort-merge or exchange for it
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("per-group elections shuffle only (id, group, score) projections") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // window election: two-stage sharded (the __s shard column)
    val win = graft.ops.Sampling.topKPerGroup(docs, "doc_id", "source",
      "n_chars", k = 5)
    win.collect()
    val winPlan = win.queryExecution.executedPlan.toString
    val winEx = winPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(winEx.nonEmpty && !winEx.exists(_.contains("text#")), winPlan)
    assert(winPlan.contains("__s"), winPlan)
    // A-ES sampler now routes through the Aggregator election:
    // k-bounded buffers, no window sort, still no text on exchanges
    val wrs = graft.ops.Sampling.weightedSamplePerGroup(docs, "doc_id",
      "source", "n_chars", k = 5)
    wrs.collect()
    val wrsPlan = wrs.queryExecution.executedPlan.toString
    assert(!wrsPlan.contains("Window"), wrsPlan)
    assert(wrsPlan.contains("partial_topkaggregator"), wrsPlan)
    val wrsEx = wrsPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(wrsEx.nonEmpty && !wrsEx.exists(_.contains("text#")), wrsPlan)
  }

  test("zorder envelope report is scan-local: no window, agg exchanges only") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val rep = graft.ops.Layout.zorderEnvelopeReport(li, "l_partkey",
      "l_suppkey", bits = 11, nBuckets = 16)
    val plan = planOf(rep)
    assert(!plan.contains("Window"), plan) // equal-width keys, no ntile
    // column pruning: only the two clustered dims are read
    val readSchemas = plan.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => !l.contains("l_orderkey") &&
        !l.contains("l_extendedprice")), plan)
  }

  test("star join broadcasts every dimension; fact table never shuffles " +
      "for the joins") {
    val df = SparkEntry.queries("q_star")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val executed = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // all four dimension joins resolve as broadcasts
    assert(executed.linesIterator.count(_.contains("BroadcastHashJoin")) == 4,
      executed)
    assert(!executed.contains("SortMergeJoin"), executed)
    // the only hash exchange is the final rollup on n_name — the fact
    // scan itself never re-partitions for a join
    val exchanges = executed.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(_.contains("n_name")), executed)
  }

  test("JW prefilter rule: length guard injected before the kernel, " +
      "results unchanged") {
    import spark.implicits._
    graft.spark.GraftExtensions.install(spark)
    val names = Seq((1L, "annotation engine"), (2L, "annotation enginx"),
      (3L, "a"), (4L, "annotation engine plus a very long suffix here"))
      .toDF("id", "name").withColumn("blk", lit("b"))
    val pairs = graft.ops.Linkage.blockedPairsJw(names, "id", "name",
      col("blk"), minSim = 0.95)
    val optimized = pairs.queryExecution.optimizedPlan.toString
    // the guard (least/greatest of lengths) sits in the Filter condition
    assert(optimized.contains("least(length("), optimized)
    // idempotent: rule ran in the fixpoint batch without duplicating
    assert("least\\(length\\(".r.findAllIn(optimized).size == 1, optimized)
    // correctness: same pairs as the raw kernel over the cross block
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = for {
      (ia, na) <- Seq((1L, "annotation engine"), (2L, "annotation enginx"),
        (3L, "a"), (4L, "annotation engine plus a very long suffix here"))
      (ib, nb) <- Seq((1L, "annotation engine"), (2L, "annotation enginx"),
        (3L, "a"), (4L, "annotation engine plus a very long suffix here"))
      if ia < ib && graft.ops.Linkage.jaroWinklerValue(na, nb) >= 0.95
    } yield (ia, ib)
    assert(got == raw.toSet)
  }

  test("topKPerGroupAgg: no window sort; election is one aggregation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Sampling.topKPerGroupAgg(docs, "doc_id", "source",
      "n_chars", k = 5)
    out.collect()
    val full = out.queryExecution.executedPlan.toString
    val executed = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    assert(!executed.contains("Window"), executed)
    // partial aggregation trims to k BEFORE the exchange
    assert(executed.contains("partial_topkaggregator"), executed)
    // no text on any exchange (ids + k-bounded buffers only)
    val exchanges = executed.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      executed)
  }

  test("clusters frees superseded checkpoint blocks across reruns") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run(): Long = {
      val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        persist = false)
      graft.ops.Dedup.clusters(pairs).count()
    }
    run()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    run()
    spark.catalog.clearCache()
    val after = spark.sparkContext.getPersistentRDDs.size
    // each run may leave at most its own final-labels checkpoint behind
    // (released by the context cleaner once unreferenced); per-round
    // checkpoints and the edge caches must have been freed eagerly
    assert(after <= before + 1, s"stored RDDs grew: $before -> $after")
  }

  test("q_er_jw: the JW length prefilter guards the query's own plan") {
    // the synthetic-join test above pins the RULE; this pins that the
    // production query actually runs under the guard (not only the
    // operator-side one)
    val df = SparkEntry.queries("q_er_jw")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("least\\(length\\(".r.findAllIn(optimized).nonEmpty, optimized)
    spark.catalog.clearCache()
  }

  test("coalesceIntervals: ONE exchange — both windows share the sort, " +
      "island agg reuses the partitioning map-side") {
    import spark.implicits._
    val df = Seq(("a", 1L, 5L), ("a", 3L, 7L), ("b", 2L, 4L))
      .toDF("k", "s", "e")
    val executed = graft.ops.Intervals.coalesceIntervals(df, "k", "s", "e")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(executed).length == 1, executed)
    // the aggregation is a hash agg with a map-side partial, not a sort
    assert(!executed.contains("SortAggregate"), executed)
    assert(executed.contains("partial_min"), executed)
  }
}

package annbench

import graft.api.Annotator
import graft.dict.{Annotation, DictionaryEntry, ValidatorCli}
import graft.engine.CompiledDictionary
import graft.spark.SparkHighlighter
import graft.streaming.RefreshingAnnotator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload and writes its result as JSON.
  *
  * {{{
  * annbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --out FILE [--tiny]
  * }}}
  *
  * Phases, in order; each times calls into one module's public functions:
  *  1. inputs: generate the seeded dictionary and corpus, write the
  *     dictionary file;
  *  2. setup: one untimed setup of a small dictionary from another seed
  *     (JIT warm-up), then timed setups of the workload's dictionary
  *     (read + compile + broadcast), at least three and more while they
  *     take under four seconds; setup_s is the median of all but the first;
  *  3. warm-up: `api.Annotator` twice over the corpus on one thread, then
  *     `SparkHighlighter.annotateExploded(...).count()` rounds on the
  *     cached corpus;
  *  4. measurement cycles, each measured batch rounds and one timed
  *     `api.Annotator` pass over the corpus, two before the stream and one
  *     after it; the first pass's outputs are the single-thread reference
  *     the Spark output is checked against;
  *  5. stream: an open-loop generator feeds a micro-batch stream through
  *     `RefreshingAnnotator.writer` while a second thread rewrites the
  *     dictionary, each version adding its marker entry and removing the
  *     previous one;
  *  6. layers (traced runs): the bare engine on nproc threads, real
  *     `matchDoc` and its outside-in [[Replay]] on one thread.
  */
object Main {
  private val Beacon = "ZQXBEACON ZQXMARK"
  private val SetupSeconds = 4.0
  private val WarmupRounds = 6
  private val WarmupFullSeconds = 3.0
  /** Measurement cycles per run: batch rounds, then a latency pass. */
  private val Cycles = 3

  final class Args(m: Map[String, String]) {
    private def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = need("workload")
    val seed: Long = need("seed").toLong
    val seconds: Double = need("seconds").toDouble
    val trace: Boolean = need("trace") == "1"
    val work: Path = Paths.get(need("work"))
    val out: Path = Paths.get(need("out"))
    val tiny: Boolean = m.contains("tiny")
  }

  def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--"), s"unexpected argument '${args(i)}'")
      val k = args(i).drop(2)
      if (k == "tiny") { m(k) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"--$k needs a value")
        m(k) = args(i + 1)
        i += 2
      }
    }
    new Args(m.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val base = Workloads.byName(args.workload)
    val w = if (args.tiny) Workloads.tiny(base) else base
    Files.createDirectories(args.work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val slots = if (w.batch) nproc else math.max(1, nproc - 1)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("annbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val r = new Run(spark, w, args, nproc, slots).run()
        Files.write(args.out, Json.write(r).getBytes(UTF_8))
        if (r("correct") == true) 0 else 1
      } finally spark.stop()
    System.exit(code)
  }

  /** Heap in use after full collections, bytes. */
  def heapAfterGc(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private final class Run(spark: SparkSession, w: Workload, args: Args, nproc: Int, slots: Int) {
    import spark.implicits._

    private val tr = new Tracer(args.trace)
    private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    private val failedDocs = mutable.Set.empty[String]
    private var attempted = 0L
    private val problems = mutable.ArrayBuffer.empty[String]
    private val checks = mutable.LinkedHashMap.empty[String, Any]

    private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    private val phases = mutable.LinkedHashMap.empty[String, Double]
    private def phase[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + secs(t)
    }

    private def fail(what: String, docs: Iterable[Long], scope: String): Unit = {
      docs.foreach(d => failedDocs += s"$scope:$d")
      checks(what) = if (docs.isEmpty) "ok" else s"${docs.size} docs failed"
      if (docs.nonEmpty) problems += s"$what: ${docs.size} docs failed, e.g. ${docs.take(5).mkString(",")}"
    }

    def run(): mutable.LinkedHashMap[String, Any] = {
      val load0 = loadAvg()
      val (gcCount0, gcMs0) = gcTotals()
      val t0 = System.nanoTime()

      // 1. inputs
      val (gen, corpus, dictPath, inputs) = phase("inputs") {
        val gen = new Gen(args.seed, w.spec)
        val corpus = gen.corpus()
        val dictPath = args.work.resolve(s"dict-${w.name}.json")
        DictFile.write(dictPath, gen.dictionary)
        (gen, corpus, dictPath, inputProps(gen, corpus))
      }

      // 2. setup
      val probeDf = Seq((0L, "warm")).toDF("doc_id", "text")
      val smallPath = args.work.resolve(s"dict-${w.name}-warmup.json")
      DictFile.write(smallPath, new Gen(args.seed ^ 0x5eedL,
        w.spec.copy(dictSize = math.min(w.spec.dictSize, 5000), docs = 0)).dictionary)
      // every highlighter stays reachable until the heap is measured, so
      // no broadcast is cleaned up between two measurements; each setup's
      // retained heap is the growth it leaves after full collections
      val warm = phase("setup_warmup")(setup(smallPath, probeDf, -1))
      var heap = heapAfterGc()
      val retainedMb = mutable.ArrayBuffer.empty[Double]
      // at least three timed setups, and more while they take under
      // SetupSeconds, so a small dictionary's short setups get more samples
      val setups = phase("setup") {
        val t = System.nanoTime()
        val out = mutable.ArrayBuffer.empty[(Double, Double, Double, SparkHighlighter)]
        while (out.length < 3 || secs(t) < SetupSeconds) {
          out += setup(dictPath, probeDf, out.length)
          val h = heapAfterGc()
          retainedMb += (h - heap) / 1e6
          heap = h
        }
        out.toSeq
      }
      val hl = setups.last._4
      // the first timed setup still meets code the JIT has not compiled
      // yet; it is reported as dict.setup_cold_s and left out of setup_s
      val warmSetups = setups.tail
      e2e("setup_s") = (Stats.median(warmSetups.map(s => s._1 + s._2 + s._3)), "s")
      e2e("setup_heap_mb") = (Stats.median(retainedMb.toSeq), "MB")
      checks("setup_retained_mb") = retainedMb.map(m => math.round(m * 10) / 10.0)
      checks("setup_each_s") = setups.map(s => s._1 + s._2 + s._3)
      checks("setup_warmup_s") = warm._1 + warm._2 + warm._3
      layer("dict.read_s") = (Stats.median(warmSetups.map(_._1)), "s")
      layer("dict.compile_s") = (Stats.median(warmSetups.map(_._2)), "s")
      layer("spark.broadcast_s") = (Stats.median(warmSetups.map(_._3)), "s")
      layer("dict.setup_cold_s") = (setups.head._1 + setups.head._2 + setups.head._3, "s")

      // 3. warm-up: the latency probe, then Spark's batch rounds
      val docsDf = corpus.docs.indices.map(i => (i.toLong, corpus.docs(i))).toDF("doc_id", "text")
        .repartition(slots * 8).cache()
      docsDf.count()
      val lat = phase("latency")(new Latency(gen, corpus))
      // the stream workload's docs_per_s is the stream's; its batch rounds
      // only feed spark.share in traced runs
      val rounds = if (w.batch || args.trace) Some(phase("batch")(new BatchRounds(hl, docsDf))) else None

      // 4. measurement cycles, each some batch rounds and one latency pass,
      // spread through the run (before the batch check, before the stream
      // and after it), so that one slow stretch of the host does not set
      // a figure
      val blockSeconds = math.max(args.seconds * (1 - w.streamShare), 1.0) / Cycles
      def cycle(): Array[Seq[Annotation]] = {
        rounds.foreach(r => phase("batch")(r.block(blockSeconds)))
        phase("latency")(lat.pass())
      }
      // the first pass's outputs are the single-thread reference
      val reference = cycle()
      attempted += corpus.docs.length
      val sparkAnns = phase("batch_check")(hl.annotateExploded(docsDf, "text")
        .select("doc_id", "dict_entry_id", "begin_offset", "end_offset", "matched_text", "ann_type")
        .as[(Long, String, Int, Int, String, String)].collect()
        .map { case (d, id, b, e, t, ty) => Checks.Ann(d, id, b, e, t, ty) })
      val refAnns = reference.indices.flatMap(d => Checks.fromEngine(d.toLong, reference(d)))
      fail("batch_equals_single_thread", Checks.multisetDiff(sparkAnns, refAnns), "batch")
      fail("planted_found", Checks.plantedMissing(corpus.planted, refAnns), "batch")
      (1 until Cycles - 1).foreach(_ => cycle())

      // 5. stream
      phase("stream")(stream(gen, corpus, math.max(args.seconds * w.streamShare, 3.0)))
      cycle()
      docsDf.unpersist()
      lat.report()
      val sparkDps = rounds.fold(0.0)(_.report())
      if (w.batch) e2e("docs_per_s") = (sparkDps, "1/s")

      // 6. layers
      if (args.trace) phase("layers")(layers(hl.compiled, corpus, reference, sparkDps))

      val (gcCount1, gcMs1) = gcTotals()
      layer("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      layer("jvm.gc_count") = ((gcCount1 - gcCount0).toDouble, "count")
      layer("trace.spans") = (tr.size.toDouble, "count")
      if (args.trace) tr.write(args.out.resolveSibling(args.out.getFileName.toString + ".spans.jsonl"))

      val failed = failedDocs.size.toLong
      val res = mutable.LinkedHashMap[String, Any](
        "workload" -> w.name, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "tiny" -> args.tiny,
        "correct" -> (failed == 0 && problems.isEmpty),
        "attempted" -> attempted, "failed" -> failed,
        "ops_failed_ratio" -> failed.toDouble / math.max(1L, attempted),
        "problems" -> problems.toSeq, "checks" -> checks,
        "end_to_end" -> metricsJson(e2e), "per_layer" -> metricsJson(layer),
        "inputs" -> inputs,
        "env" -> mutable.LinkedHashMap[String, Any](
          "nproc" -> nproc, "spark_slots" -> slots,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
          "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
          "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
          "gc_count" -> (gcCount1 - gcCount0), "gc_ms" -> (gcMs1 - gcMs0),
          "wall_s" -> secs(t0), "phases_s" -> phases))
      if (args.trace) res("span_summary") = mutable.LinkedHashMap.from(tr.summary.toSeq.sortBy(-_._2._2).map {
        case (k, (n, tot, self)) => k -> mutable.LinkedHashMap("spans" -> n, "total_ms" -> tot / 1e6, "self_ms" -> self / 1e6)
      })
      res
    }

    private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }

    private def inputProps(gen: Gen, c: Corpus): mutable.LinkedHashMap[String, Any] = {
      val conf = graft.analysis.AnalysisConf.default
      val lens = c.docs.map(d => graft.analysis.Analyzer.analyze(conf, d).length.toDouble)
      val distinct = new java.util.HashSet[String]()
      var longTokens = 0L
      c.docs.foreach(_.split("[ ,.]+").foreach { t =>
        distinct.add(t)
        if (t.length >= 40) longTokens += 1
      })
      val fams = gen.dictTexts.indices.groupBy(gen.family).map { case (f, is) => Gen.FamilyNames(f) -> is.size }
      mutable.LinkedHashMap[String, Any](
        "dictionary_entries" -> gen.dictTexts.length, "entry_families" -> fams,
        "vocabulary" -> gen.vocab.length, "fuzzy_memo_entries" -> Gen.FuzzyMemoEntries,
        "docs" -> c.docs.length, "distinct_tokens" -> distinct.size(),
        "tokens_per_doc_mean" -> lens.sum / lens.length,
        "tokens_per_doc_p50" -> Stats.quantile(lens.toSeq, 0.5),
        "tokens_per_doc_p99" -> Stats.quantile(lens.toSeq, 0.99),
        "planted_per_token" -> w.spec.plantPerToken,
        "planted_exact" -> c.planted.length,
        "long_token_share" -> longTokens.toDouble / lens.sum,
        "stream_rate_docs_per_s" -> w.streamRate, "trigger_ms" -> w.triggerMs,
        "reload_every_ms" -> w.reloadEveryMs)
    }

    /** Dictionary file → ready highlighter with its broadcast. Returns
      * (read s, compile s, broadcast s, highlighter).
      */
    private def setup(path: Path, probeDf: DataFrame, req: Int): (Double, Double, Double, SparkHighlighter) =
      tr.span("setup", req) {
        var t = System.nanoTime()
        val entries = tr.span("dict.read", req)(
          ValidatorCli.readJsonString(new String(Files.readAllBytes(path), UTF_8)))
        val read = secs(t)
        t = System.nanoTime()
        val hl = tr.span("dict.compile", req)(SparkHighlighter(entries))
        val compile = secs(t)
        t = System.nanoTime()
        tr.span("spark.broadcast", req)(hl.annotateColumn(probeDf, "text"))
        (read, compile, secs(t), hl)
      }

    /** `annotateExploded(...).count()` rounds on the cached corpus.
      * Spark's own per-round code keeps speeding up over the first rounds,
      * so the constructor runs warm-up rounds: some on an eighth of the
      * corpus, where a round costs little, then full rounds for
      * `WarmupFullSeconds`; [[block]] runs measured rounds and [[report]]
      * gives their median docs/s.
      */
    private final class BatchRounds(hl: SparkHighlighter, df: DataFrame) {
      private val docs = df.count().toInt
      private var round = 0
      private val rates = mutable.ArrayBuffer.empty[Double]
      private val counts = mutable.Set.empty[Long]

      private def one(d: DataFrame, n: Int): (Double, Long) = tr.span("spark.round", round) {
        val t = System.nanoTime()
        val count = hl.annotateExploded(d, "text").count()
        round += 1
        (n / secs(t), count)
      }

      locally {
        val sample = df.sample(0.125, 1L).cache()
        val sampleDocs = sample.count().toInt
        (0 until WarmupRounds).foreach(_ => one(sample, sampleDocs))
        sample.unpersist()
        val t = System.nanoTime()
        while (secs(t) < WarmupFullSeconds) one(df, docs)
      }

      /** Measured rounds for `seconds`, at least two. */
      def block(seconds: Double): Unit = {
        val t = System.nanoTime()
        var n = 0
        while (n < 2 || secs(t) < seconds) {
          val (r, c) = one(df, docs)
          rates += r
          counts += c
          n += 1
        }
      }

      def report(): Double = {
        if (counts.size != 1) problems += s"annotation counts differ between rounds: $counts"
        checks("batch_round_docs_per_s") = rates.map(r => math.round(r))
        Stats.median(rates.toSeq)
      }
    }

    /** One thread, closed loop, the whole corpus through `api.Annotator`:
      * two untimed passes to warm, then timed passes, each over the whole
      * corpus; a quantile is the median of the passes' own.
      */
    private final class Latency(gen: Gen, c: Corpus) {
      private val api = new Annotator(gen.dictionary.asJava)
      (0 until 2).foreach(_ => c.docs.foreach(api.annotate))
      private val samples = mutable.ArrayBuffer.empty[Array[Double]]

      /** One timed pass; returns each doc's annotations. */
      def pass(): Array[Seq[Annotation]] = {
        val n = c.docs.length
        val out = new Array[Seq[Annotation]](n)
        val lat = new Array[Double](n)
        var d = 0
        while (d < n) {
          val t = System.nanoTime()
          out(d) = tr.span("api.annotate", d)(api.annotate(c.docs(d))).asScala.toSeq
          lat(d) = (System.nanoTime() - t) / 1e6
          d += 1
        }
        samples += lat
        out
      }

      def report(): Unit = {
        val p50 = samples.map(p => Stats.quantile(p.toSeq, 0.5)).toSeq
        val p99 = samples.map(p => Stats.quantile(p.toSeq, 0.99)).toSeq
        e2e("doc_latency_p50_ms") = (Stats.median(p50), "ms")
        e2e("doc_latency_p99_ms") = (Stats.median(p99), "ms")
        checks("latency_samples") = samples.map(_.length).sum
        checks("latency_pass_p50_ms") = p50
        checks("latency_pass_p99_ms") = p99
      }
    }

    /** Per-layer split of the engine, in traced runs: its replay and
      * extra passes feed no end-to-end metric.
      */
    private def layers(cd: CompiledDictionary, c: Corpus, reference: Array[Seq[Annotation]],
        sparkDps: Double): Unit = {
      val docs = c.docs
      val engineDps = tr.span("engine.threads", 0) {
        engineThreads(cd, docs)
        Stats.median(Seq.fill(3)(engineThreads(cd, docs)))
      }
      layer("engine.docs_per_s") = (engineDps, "1/s")
      layer("spark.share") = (1 - sparkDps / engineDps, "ratio")

      // single thread: warm every path, then per doc the real matchDoc,
      // the untraced replay and the traced replay back to back, so all
      // meet the same JIT, GC and memo state; the two replays swap order
      // from doc to doc
      val plain = new Replay(cd, new Tracer(false))
      val replay = new Replay(cd, new Tracer(true))
      docs.indices.foreach { d => plain.run(docs(d), d); replay.run(docs(d), d); cd.matchDoc(docs(d)) }
      replay.tr = tr
      replay.reset()
      var plainNs, tracedNs = 0L
      def timed(r: Replay, d: Int): Seq[Annotation] = {
        val t = System.nanoTime()
        val out = r.run(docs(d), d)
        if (r eq plain) plainNs += System.nanoTime() - t else tracedNs += System.nanoTime() - t
        out
      }
      val bad = docs.indices.filter { d =>
        tr.span("engine.match_doc", d)(cd.matchDoc(docs(d)))
        val got =
          if (d % 2 == 0) { timed(plain, d); timed(replay, d) }
          else { val g = timed(replay, d); timed(plain, d); g }
        Checks.multisetDiff(Checks.fromEngine(d, got), Checks.fromEngine(d, reference(d))).nonEmpty
      }
      fail("replay_equals_match_doc", bad.map(_.toLong), "batch")

      val spans = tr.summary
      val perDoc = docs.length.toDouble
      def ns(name: String) = spans.get(name).fold(0L)(_._2) / perDoc
      def selfNs(name: String) = spans.get(name).fold(0L)(_._3) / perDoc
      val matchNs = ns("engine.match_doc")
      val attributed = ns("analysis") + ns("engine.presearch") + ns("engine.verify")
      layer("analysis.ns_per_doc") = (ns("analysis"), "ns")
      layer("analysis.tokens_per_doc") = (replay.tokens / perDoc, "count")
      layer("analysis.field_confs") = (cd.fieldConfs.length.toDouble, "count")
      layer("engine.presearch.ns_per_doc") = (ns("engine.presearch"), "ns")
      layer("engine.presearch.self_ns_per_doc") = (selfNs("engine.presearch"), "ns")
      layer("engine.anchor_probe.ns_per_doc") = (ns("engine.anchor_probe"), "ns")
      layer("engine.fuzzy_probe.ns_per_doc") = (ns("engine.fuzzy_probe"), "ns")
      layer("engine.fuzzy_variants_per_doc") = (replay.fuzzyVariants / perDoc, "count")
      layer("engine.candidates_per_doc") = (replay.candidates / perDoc, "count")
      layer("engine.ac.ns_per_doc") = (ns("engine.ac"), "ns")
      layer("engine.verify.ns_per_doc") = (ns("engine.verify"), "ns")
      layer("engine.verify.self_ns_per_doc") = (selfNs("engine.verify"), "ns")
      Seq("phrase", "slop", "span", "fuzzy").foreach { f =>
        layer(s"engine.verify.$f.ns_per_doc") = (ns(s"engine.verify.$f"), "ns")
      }
      layer("engine.verifications_per_doc") = (replay.verifications / perDoc, "count")
      layer("engine.verify_yield") =
        (replay.verifiedWithOutput.toDouble / math.max(1L, replay.verifications), "ratio")
      layer("engine.match_doc.ns_per_doc") = (matchNs, "ns")
      layer("engine.unattributed_ratio") = (1 - attributed / matchNs, "ratio")
      layer("spark.encode.ns_per_doc") = (ns("spark.encode"), "ns")
      layer("spark.annotations_per_doc") =
        (reference.map(_.length).sum.toDouble / reference.length, "count")
      // the same replay with spans recorded and without, per doc
      layer("trace.overhead_ratio") = (tracedNs.toDouble / plainNs - 1, "ratio")
      // how well the replayed layers account for the real matchDoc; a
      // property of the measurement, not of the program's output, so it is
      // reported and does not fail the run
      checks("layer_coverage") = f"analysis+presearch+verify = ${attributed / matchNs}%.3f of match_doc, " +
        (if (math.abs(1 - attributed / matchNs) <= 0.10) "within 10%" else "outside 10%")
      // the Java-serialized compiled form: its exact size in bytes
      val bin = args.work.resolve("compiled.bin")
      tr.span("dict.save", 0)(CompiledDictionary.save(cd, bin.toString))
      layer("dict.compiled_mb") = (Files.size(bin) / 1e6, "MB")
      Files.delete(bin)
    }

    /** docs/s of `matchDoc` over `docs` on nproc plain threads. */
    private def engineThreads(cd: CompiledDictionary, docs: Array[String]): Double = {
      val next = new AtomicInteger(0)
      val t = System.nanoTime()
      val threads = (0 until nproc).map { _ =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < docs.length) { cd.matchDoc(docs(i)); i = next.getAndIncrement() }
        })
        th.start()
        th
      }
      threads.foreach(_.join())
      docs.length / secs(t)
    }

    // ------------------------------------------------------------ stream

    private final class Committed(val batch: Checks.Batch, val sinkMs: Double, val offeredAtCommit: Long)

    private def stream(gen: Gen, c: Corpus, seconds: Double): Unit = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val entries = gen.dictionary
      def version(v: Int): Seq[DictionaryEntry] =
        entries :+ DictionaryEntry(Beacon, id = Some(s"marker-$v"))
      val streamDict = args.work.resolve(s"dict-${w.name}-stream.json")
      DictFile.write(streamDict, version(0))

      val rate = w.streamRate
      val warmS = 1.0
      def text(j: Int): String = c.docs(j % c.docs.length) + " " + Beacon
      val late = mutable.ArrayBuffer.empty[Double]
      val added = new AtomicLong(0)
      val committed = new java.util.concurrent.ConcurrentLinkedQueue[Committed]()
      val progress = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]()
      val durations = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

      val listener = new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs
          def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue()).getOrElse(0.0)
          progress.put(e.progress.batchId, (ms("triggerExecution"), ms("addBatch")))
          d.forEach((k, v) => durations.add((k, v.doubleValue())))
        }
      }
      spark.streams.addListener(listener)
      val ms = MemoryStream[(Long, String)]
      val ann = new RefreshingAnnotator(streamDict.toString)
      val ckpt = args.work.resolve(s"ckpt-${System.nanoTime()}")
      val query = ann.writer(ms.toDF().toDF("doc_id", "text"), "text") { (batch, id) =>
        val s = System.nanoTime()
        val rows = batch.select(col("doc_id"),
          expr("transform(filter(annotations, a -> a.dictEntryId LIKE 'marker-%'), a -> a.dictEntryId)"))
          .collect()
        val e = System.nanoTime()
        committed.add(new Committed(
          Checks.Batch(id, e, rows.map(_.getLong(0)), rows.map(_.getSeq[String](1))),
          (e - s) / 1e6, added.get()))
      }.trigger(Trigger.ProcessingTime(w.triggerMs.toLong))
        .option("checkpointLocation", ckpt.toString)
        .start()

      // the first batch compiles version 0; it is not measured
      ms.addData(Seq((-1L, text(0))))
      query.processAllAvailable()

      // Spark fires processing-time triggers at wall-clock multiples of
      // the interval; the schedule starts on one, at least 100 ms ahead so
      // the generator has started, so docs and reloads meet triggers at
      // the same phase in every run
      val t0 = {
        val ms = System.currentTimeMillis()
        val aligned = ((ms + 100) / w.triggerMs + 1) * w.triggerMs
        System.nanoTime() + (aligned - ms) * 1000000L
      }
      def due(j: Int): Long = t0 + (j * 1e9 / rate).toLong
      val windowStart = t0 + (warmS * 1e9).toLong
      val windowEnd = windowStart + (seconds * 1e9).toLong
      // rewrites land half a trigger after a trigger boundary, well after
      // the batch started there has read the file's mtime, from the start
      // of the schedule or after the window; docs keep coming for a second
      // after the last, so a batch reads it
      val period = w.reloadEveryMs * 1000000L
      val firstReload = (if (w.reloadsAfterWindow) windowEnd else t0) + w.triggerMs * 500000L
      val reloadAt = (0 until w.reloads).map(k => firstReload + k * period)
      val streamEnd = math.max(windowEnd, reloadAt.last + 1000000000L)
      val total = math.ceil((streamEnd - t0) * rate / 1e9).toInt
      // MemoryStream makes one partition per addData call, so the
      // generator offers what is due once per tick, one tick per task slot
      // in a trigger: a batch is one wave of tasks. Ticks fall half a tick
      // off the trigger boundaries, so a tick never races the trigger and
      // every on-time batch carries the same number of ticks
      val tickNs = w.triggerMs * 1000000L / slots
      val generator = new Thread(() => {
        var i = 0
        var tick = t0 + tickNs / 2
        while (i < total) {
          var now = System.nanoTime()
          if (now < tick) java.util.concurrent.locks.LockSupport.parkNanos(tick - now)
          now = System.nanoTime()
          val from = i
          while (i < total && due(i) <= now) i += 1
          if (i > from) {
            ms.addData((from until i).map(j => (j.toLong, text(j))))
            late += (now - tick) / 1e6
            added.set(i)
          }
          tick += tickNs
        }
      }, "annbench-generator")
      val writes = mutable.ArrayBuffer.empty[Long]
      val reloader = new Thread(() => {
        reloadAt.zipWithIndex.foreach { case (at, k) =>
          val now = System.nanoTime()
          if (now < at) java.util.concurrent.locks.LockSupport.parkNanos(at - now)
          DictFile.write(streamDict, version(k + 1))
          writes.synchronized { writes += System.nanoTime() }
        }
      }, "annbench-reloader")
      generator.start()
      reloader.start()
      generator.join()
      reloader.join()
      query.processAllAvailable()
      query.stop()
      val deadline = System.nanoTime() + 5000000000L
      val batches = committed.asScala.toSeq.sortBy(_.batch.id)
      while (batches.exists(b => !progress.containsKey(b.batch.id)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      spark.streams.removeListener(listener)
      deleteTree(ckpt)

      // checks
      val (bad, versions) = Checks.stream(total.toLong, batches.map(_.batch).filter(_.docs.exists(_ >= 0)),
        m => if (m.startsWith("marker-")) m.drop(7).toIntOption else None)
      attempted += total
      fail("stream_exactly_once_and_markers", bad, "stream")
      val firstSeen = mutable.LinkedHashMap.empty[Int, Long]
      versions.foreach { case (b, v) => if (!firstSeen.contains(v)) firstSeen(v) = b.commitNs }
      val writeNs = writes.synchronized(writes.toList)
      val lags = writeNs.indices.flatMap(k => firstSeen.get(k + 1).map(c => (c - writeNs(k)) / 1e6))
      if (lags.length != writeNs.length)
        problems += s"reloads: ${writeNs.length} written, ${lags.length} seen in the output"
      checks("reloads") = writeNs.length
      checks("reload_lags_ms") = lags.map(l => math.round(l).toDouble)

      // metrics over the steady window
      val inWindow = (0 until total).filter(j => due(j) >= windowStart && due(j) < windowEnd)
      val commitOf = new Array[Long](total)
      batches.foreach(b => b.batch.docs.foreach(d => if (d >= 0 && d < total) commitOf(d.toInt) = b.batch.commitNs))
      val lat = inWindow.map(j => (commitOf(j) - due(j)) / 1e6)
      val windowBatches = batches.filter(b => b.batch.commitNs >= windowStart && b.batch.commitNs < windowEnd)
      e2e("stream_latency_p50_ms") = (Stats.quantile(lat, 0.5), "ms")
      e2e("stream_latency_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
      e2e("reload_lag_ms") = (if (lags.isEmpty) 0.0 else Stats.median(lags), "ms")
      // committed throughput: docs of the window's batches after its first,
      // over the time from the first commit to the last
      if (!w.batch) e2e("docs_per_s") = (
        if (windowBatches.length < 2) 0.0
        else windowBatches.tail.map(_.batch.docs.count(_ >= 0)).sum /
          ((windowBatches.last.batch.commitNs - windowBatches.head.batch.commitNs) / 1e9), "1/s")
      checks("stream_batches_in_window") = windowBatches.length
      checks("stream_docs_offered") = total
      checks("stream_progress_median_ms") = durations.asScala.toSeq.groupBy(_._1).map {
        case (k, vs) => k -> Stats.median(vs.map(_._2))
      }
      checks("stream_sink_median_ms") = Stats.median(batches.map(_.sinkMs))

      val reloadBatches = versions.sliding(2).collect { case Seq((_, a), (b, v)) if v != a => b.id }.toSet
      val refresh = batches.filter(b => reloadBatches.contains(b.batch.id)).flatMap { b =>
        Option(progress.get(b.batch.id)).map(p => p._2 - b.sinkMs)
      }
      val trig = windowBatches.flatMap(b => Option(progress.get(b.batch.id)).map(_._1))
      var cum = 0L
      val backlog = batches.map { b =>
        cum += b.batch.docs.count(_ >= 0)
        b.offeredAtCommit - cum
      }
      layer("streaming.refresh_ms") = (if (refresh.isEmpty) 0.0 else Stats.median(refresh), "ms")
      layer("streaming.batch_ms_p50") = (if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.5), "ms")
      layer("streaming.batch_ms_p90") = (if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.9), "ms")
      layer("streaming.batches") = (windowBatches.length.toDouble, "count")
      layer("streaming.backlog_max_docs") = (if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count")
      layer("streaming.generator_late_ms") = (Stats.quantile(late.toSeq, 0.99), "ms")
      if (args.trace) batches.foreach { b =>
        val start = b.batch.commitNs - (b.sinkMs * 1e6).toLong
        tr.add("streaming.sink", start, b.batch.commitNs, -1, b.batch.id)
      }
    }

    private def deleteTree(p: Path): Unit =
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
        finally s.close()
      }
  }
}

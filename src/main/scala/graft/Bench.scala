package graft

import graft.dict.{DictionaryEntry => DE}
import graft.spark.SparkHighlighter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main. Headline: documents/second annotating the `documents`
  * table against a 5k-entry dictionary (the reference's published
  * baseline workload shape: large dictionary, few-percent match rate —
  * `README.md:161-214`, BASELINE.md). Plus wall-times for the heavier
  * pipeline operators. Stdout: the full JSON line, then a compact
  * headline-only object, then (FINAL line) a tail-budget-sized
  * headline+top-queries superset — see [[compactTailLine]].
  * File (`SPARK_GRAFT_BENCH_OUT`, default `BENCH_LOCAL.json`): ONE
  * JSON document — the full object with the headline embedded under a
  * `"headline"` key — so single-document parsers don't choke on a
  * two-object stream.
  *
  * Noise robustness: the host is time-shared and identical runs have
  * shown 2–20× wall-time swings from neighbor contention, including
  * multi-minute hypervisor stalls. Timing the same query twice
  * back-to-back (min-of-2) does NOT survive such a stall — both runs
  * land inside it. Instead we run WARMUP then K full rounds over ALL
  * queries, interleaved, and report per-query min across rounds: a
  * stall now has to span the entire suite K times to poison a number.
  */
object Bench {

  private[graft] def median(v: Vector[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-thunk sample dispersion: median/min over the K+1 samples. ~1
    * on a quiet host (all samples agree); >>1 when some samples hit
    * neighbor contention. The MIN is still the headline estimate — this
    * ratio measures how much the window had to discard to get it.
    */
  private[graft] def dispersion(v: Vector[Double]): Double =
    if (v.isEmpty || v.min <= 0) Double.NaN else median(v) / v.min

  /** Self-adjudication flag for the headline annotate rows (r12 board
    * #1): when ANY headline thunk's median/min dispersion exceeds the
    * threshold, the window itself was contended and the row's min may
    * STILL be poisoned (the r12 episode: round-boundary-aligned host
    * bursts hit all K samples of exactly the headline rows, and only
    * an isolated re-run minutes later showed the artifact was 3.5×
    * low). The flag makes that machine-detectable in the permanent
    * record instead of round lore; the consumer side
    * (tools/bench_compare.py) already prints `suspect` when present.
    * Threshold 2.0: quiet-window dispersions here run 1.0–1.4 (round
    * K+1 is time-displaced, not cache-displaced), while the r12
    * contamination was ≥3.5 — 2 splits the bands with margin.
    * The canary row is deliberately NOT consulted: a high canary with
    * quiet dispersion means UNIFORM load — the mins are comparable to
    * each other but the whole window is slow, which is a
    * normalization question (bench_compare's canary-normalized
    * geomean), not a discard-the-row question.
    */
  private[graft] def suspect(samples: collection.Map[String, Vector[Double]],
      threshold: Double = 2.0): Boolean =
    samples.exists { case (name, v) =>
      name.startsWith("annotate_") && dispersion(v) > threshold
    }

  /** A committed per-query quiet band (BENCH_BANDS.json shape). */
  private[graft] final case class Band(min: Double, max: Double)

  /** Parse the committed quiet bands (`{"bands": {name: {min, max,
    * n}}}`) — the op-row suspect rule's reference. Empty map on a
    * missing or unparsable file: the rule then never fires (a fresh
    * checkout measures without bands and builds them).
    */
  private[graft] def loadBands(path: String): Map[String, Band] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isReadable(p)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(p))
        val bands = root.get("bands")
        if (bands == null) Map.empty
        else {
          val b = Map.newBuilder[String, Band]
          val it = bands.fields()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.has("min") && e.getValue.has("max"))
              b += e.getKey -> Band(e.getValue.get("min").asDouble,
                e.getValue.get("max").asDouble)
          }
          b.result()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Mid-window-burst detector over the OP rows (r16 board #1): the
    * headline-dispersion heuristic and the canary both sample at round
    * START, so a co-tenant burst that begins mid-op-list leaves them
    * quiet while poisoning op medians — the exact shape the r16 driver
    * artifact carried clean-flagged (six rows with medians 1.4–1.9×
    * over their committed band-max, dispersions 1.46–2.18, all in-band
    * on the same binary hours earlier). Returns the op rows whose
    * MEDIAN exceeds `residualFactor ×` the committed band-max AND
    * whose med/min dispersion exceeds `dispMin` — both conditions,
    * because a high residual with QUIET dispersion is a real
    * regression (report it, don't discard it), and high dispersion
    * alone already keeps an in-band min trustworthy. `rows` maps op
    * name → (median, dispersion); unbanded rows never count (new
    * queries band as evidence accumulates).
    */
  private[graft] def opRowsOverBand(rows: Map[String, (Double, Double)],
      bands: Map[String, Band], residualFactor: Double = 1.4,
      dispMin: Double = 1.5): Seq[String] =
    rows.collect { case (name, (med, disp))
      if name.startsWith("q_") && bands.get(name).exists(b =>
        med > b.max * residualFactor && disp > dispMin) => name
    }.toSeq.sorted

  /** ≥ `minRows` op rows over band with burst-grade dispersion → the
    * window is suspect (retry-on-suspect fires). 3 rows: a single
    * genuine regression or an unlucky row can't discard a window, a
    * burst wide enough to matter poisons many (r16: six).
    */
  private[graft] def opRowsSuspect(rows: Map[String, (Double, Double)],
      bands: Map[String, Band], residualFactor: Double = 1.4,
      dispMin: Double = 1.5, minRows: Int = 3): Boolean =
    opRowsOverBand(rows, bands, residualFactor, dispMin).size >= minRows

  /** Host-speed canary (r14 board → r15 #1): one fixed-work,
    * CODE-INDEPENDENT, CPU-bound thunk — an FNV-1a hash loop over a
    * constant 64 KiB buffer, zero Spark, zero allocation in the loop —
    * timed with the same K+1 schedule as the headline rows and emitted
    * in the headline `samples` map. The dispersion detector is blind
    * to UNIFORM contention (every sample equally slow reads as a quiet
    * window — BENCH_AB_r14 §3 needed a manual isolated re-run); the
    * canary closes that: its true cost never changes across rounds or
    * code versions, so an elevated canary MIN is host load by
    * construction, and bench_compare can print a canary-normalized
    * geomean. The timed row ([[canaryWall]]) runs the loop on 32
    * threads because the suite saturates every core: a single probe
    * thread among N spinners on ≥N cores can still find a mostly-free
    * slot and under-reads uniform load
    * ~2× (measured: burner window, suite 2.4× slow, 1-thread canary
    * min only 1.25× up; the 32-thread wall tracks the suite's own
    * slowdown). Fixed 32 threads, NOT availableProcessors, so the work
    * is identical across hosts and rounds. Wall ≈0.15 s quiet.
    * Returns the checksum so the JIT can't dead-code the loop; the
    * value is deterministic (pinned in OpsSpec) — any change means the
    * canary's work changed and its numbers start a new band.
    */
  private[graft] val canaryBuf: Array[Byte] = {
    val b = new Array[Byte](65536)
    var i = 0
    var x = 0x9e3779b97f4a7c15L
    while (i < b.length) { // splitmix64-ish fill, constant across runs
      x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
      x ^= x >>> 27; x *= 0x94d049bb133111ebL
      x ^= x >>> 31
      b(i) = x.toByte
      i += 1
    }
    b
  }

  private[graft] def canaryOnce(passes: Int = 1500): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a offset basis
    var p = 0
    while (p < passes) {
      var i = 0
      while (i < canaryBuf.length) {
        h ^= canaryBuf(i)
        h *= 0x100000001b3L
        i += 1
      }
      p += 1
    }
    h
  }

  /** The timed canary unit: [[canaryOnce]] on each of 32 threads over
    * the shared read-only buffer, wall-clocked by the caller. The
    * per-thread checksums (all the same known constant) fold by
    * commutative addition — thread-order-independent, so the result
    * stays deterministic for the JIT blackhole.
    */
  private[graft] def canaryWall(threads: Int = 32): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until threads).map { _ =>
      new Thread(() => { acc.getAndAdd(canaryOnce()) })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    acc.get()
  }

  /** (1, 5, 15)-minute load averages from a /proc/loadavg-shaped line;
    * None when the line doesn't parse (non-Linux, truncated read).
    */
  private[graft] def parseLoadavg(line: String): Option[(Double, Double, Double)] = {
    val a = line.trim.split("\\s+")
    if (a.length < 3) None
    else try Some((a(0).toDouble, a(1).toDouble, a(2).toDouble))
    catch { case _: NumberFormatException => None }
  }

  /** Host load right now, or None off-Linux. Recorded at window start
    * and end in the headline artifact (r15 board #2): the r15
    * six-window contamination episode adjudicated against out-of-band
    * `/proc/loadavg` reads that never made it into the JSON — these
    * keys make an episode record self-contained.
    */
  private[graft] def readLoadavg(): Option[(Double, Double, Double)] =
    try {
      val p = java.nio.file.Paths.get("/proc/loadavg")
      if (!java.nio.file.Files.isReadable(p)) None
      else parseLoadavg(new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def loadavgJson(v: Option[(Double, Double, Double)]): String =
    v.map { case (a, b, c) => f"[$a%.2f,$b%.2f,$c%.2f]" }.getOrElse("null")

  /** Pre-window load gate (r15 board #1): this host's co-tenant bursts
    * for tens of minutes at a time (BENCH_AB_r15 §5 — three consecutive
    * suspect windows one night), so starting a 15-minute measurement
    * into a visible burst just burns the round's retry budget. Poll the
    * 1-minute loadavg every `pollSec` until it drops to `threshold` or
    * the `budgetSec` budget runs out; returns whether the host was
    * quiet at go time. Injected reader/sleeper/logger keep the decision
    * loop unit-testable without a clock.
    */
  private[graft] def waitForQuiet(threshold: Double, budgetSec: Int,
      pollSec: Int, read: () => Option[Double], sleep: Long => Unit,
      log: String => Unit): Boolean = {
    var waited = 0
    var l = read()
    while (l.exists(_ > threshold) && waited < budgetSec) {
      log(f"[bench] 1-min loadavg ${l.get}%.2f > gate $threshold%.2f — " +
        s"waiting ${pollSec}s (${waited}s of ${budgetSec}s budget)")
      sleep(pollSec * 1000L)
      waited += pollSec
      l = read()
    }
    l.forall(_ <= threshold)
  }

  /** Deterministic 5k-entry dictionary: 250 vocab bigrams that really
    * occur in the corpus (~5% of entries match, like city names in news)
    * + 4750 synthetic phrases that never match (prunes via presearcher).
    */
  private def benchDict(size: Int): Seq[DE] = {
    val vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "batch", "stream",
      "spark", "dup", "group", "query", "row", "data", "slow", "filter",
      "customer", "line", "value", "agg", "column", "big", "vector")
    val matching = (for {
      (a, i) <- vocab.zipWithIndex
      (b, j) <- vocab.zipWithIndex
      if i != j
    } yield s"$a $b").take(size / 20)
    val synthetic = (0 until (size - matching.size)).map(i => s"city$i центр$i")
    (matching ++ synthetic).zipWithIndex.map { case (text, i) =>
      DE(text, id = Some(s"e$i"))
    }
  }

  /** Mixed-config variant of [[benchDict]]: the default-config dictionary
    * is all slop-0 exact phrases — the Aho-Corasick fast path. Real
    * dictionaries (the reference's own per-entry configs,
    * `phrases_test.clj:198-280,494-521`) mix stemming, case folding,
    * sloppy/ordered spans, synonyms and fuzzy terms, which exercise the
    * analyzer-chain variety, the MultiPhrase/SpanNear matchers and the
    * fuzzy presearch. Config spread, by entry index: 20% stemmed, 20%
    * case-insensitive, 20% slop>0 (half of it in-order), 20% with a
    * synonym, 5% fuzzy (fuzziness 1 — each doc term within one edit of a
    * fuzzy entry's anchor term hits it through the hashed deletion-variant
    * index, so per-doc fuzzy cost follows the doc's terms, not the 4k
    * fuzzy entries of the 80k point), 15% default exact phrases.
    */
  private def benchDictMixed(size: Int): Seq[DE] = {
    benchDict(size).zipWithIndex.map { case (e, i) =>
      (i % 20) match {
        case 0 | 5 | 10 | 15     => e.copy(stem = Some(true))
        case 1 | 6 | 11 | 16     => e.copy(caseSensitive = Some(false))
        case 2 | 12              => e.copy(slop = Some(1))
        case 7 | 17              => e.copy(slop = Some(2), inOrder = Some(true))
        case 3 | 8 | 13 | 18     => e.copy(synonyms =
          Seq(e.text.split(" ").reverse.mkString(" ")))
        case 4                   => e.copy(fuzzy = Some(true), fuzziness = Some(1))
        case _                   => e
      }
    }
  }

  // JIT blackhole for the canary checksum — written, never read
  @volatile private var canarySink: Long = 0L

  /** One measured window: the full artifact line, the compact headline
    * object (attempt count appended by the caller), the
    * self-adjudication flag, the suite total, and the per-OP-query mins
    * (annotate rows excluded — their mins are recoverable from the
    * headline's docs_per_sec fields) for the truncation-proof tail line.
    */
  private final case class Window(json: String, headlineObj: String,
      isSuspect: Boolean, total: Double, opMins: Seq[(String, Double)])

  /** A JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in oracle SQL, or a quote in a data
    * path, would otherwise make a consumer's json.load fail.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Truncation-proof FINAL stdout line (r18 verdict #1): the driver
    * keeps only a ~2000-byte stdout tail of the bench run, so the full
    * metric line — whose per-query map alone is ~3.6 KB at 182 keys —
    * has been truncated mid-line two rounds running and PERF_r17/r18
    * carried no per-query table at all. This line packs the COMPLETE
    * headline object plus as many per-query mins as fit (most expensive
    * first, first-fit) into `budgetBytes` (2000-byte tail minus sbt's
    * trailing "[success] ..." line minus margin), so the one complete
    * JSON line a tail capture retains carries both the headline and
    * real per-query numbers, whether the tail parser takes the first,
    * the last, or every parseable line. The full 182-key map still
    * ships unchanged on the metric line (stdout line 1) and in the file
    * artifact — this is an ADDITION, no key removed or renamed;
    * `queries_omitted` records how many keys did not fit. Values print
    * at the same 1 ms resolution with trailing zeros trimmed.
    */
  private[graft] def compactTailLine(headlineObj: String, total: Double,
      sfDir: String, mins: Seq[(String, Double)],
      budgetBytes: Int): String = {
    def num(v: Double): String = {
      val s = f"$v%.3f"
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t + "0" else t
    }
    val prefixBase = s"""{"headline":$headlineObj,"metric":"total"""" +
      s""","value":${num(total)},"unit":"sec","sf":${jsonString(sfDir)}"""
    def prefix(omitted: Int): String =
      s"""$prefixBase,"queries_omitted":$omitted,"queries":{"""
    val close = "}}"
    val entries = mins.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => jsonString(k) + ":" + num(v) }
    // reserve the widest possible queries_omitted rendering so the
    // greedy fill can never overflow the budget when the count shrinks
    var used = prefix(mins.size).length + close.length
    val taken = Seq.newBuilder[String]
    var n = 0
    entries.foreach { e =>
      val add = e.length + (if (n > 0) 1 else 0)
      if (used + add <= budgetBytes) { used += add; taken += e; n += 1 }
    }
    prefix(mins.size - n) + taken.result().mkString(",") + close
  }

  /** Escalating post-rejection pause (r17 board #1): a fixed short
    * pause cannot outlast the documented 10–20 min co-tenant bursts —
    * BENCH_r17.json entered the archive suspect because BOTH attempts
    * (one retry, 240 s apart) landed inside the same evening burst.
    * Attempt i's pause quadruples from `baseSec` and caps at `capSec`:
    * 240 s, then 900 s, then 900 s — so a 3-attempt schedule spans
    * ~19 min of pauses plus two full windows, longer than any burst
    * the episode record has seen.
    */
  private[graft] def retryPauseSec(attempt: Int, baseSec: Int = 240,
      capSec: Int = 900): Int = {
    // baseSec 0 stays valid: SPARK_GRAFT_BENCH_RETRY_PAUSE_SEC=0 is
    // the documented "no pause" drill configuration (pre-r18 behavior)
    require(attempt >= 1 && baseSec >= 0 && capSec >= baseSec,
      s"retryPauseSec: bad attempt/base/cap $attempt/$baseSec/$capSec")
    val shift = math.min(2 * (attempt - 1), 30)
    math.min(capSec.toLong, baseSec.toLong << shift).toInt
  }

  /** The attempt scheduler, pure and injectable so a unit test can
    * replay a burst against it with a fake clock: up to `maxAttempts`
    * measured windows; a suspect window (when retries remain) is
    * handed to `onReject` — its evidence is KEPT, not discarded — then
    * the escalating pause sleeps and the next attempt measures.
    * Returns (the accepted — or final, still-suspect — window, the
    * attempt count, every rejected window in attempt order) so the
    * final artifact can embed the full rejection history.
    */
  private[graft] def runAttempts[W](maxAttempts: Int, pauseSec: Int => Int,
      waitQuiet: () => Unit, measure: () => W, isSuspect: W => Boolean,
      onReject: (W, Int) => Unit, sleep: Long => Unit): (W, Int, Seq[W]) = {
    require(maxAttempts >= 1, s"runAttempts: bad maxAttempts $maxAttempts")
    val rejected = Seq.newBuilder[W]
    var attempt = 1
    while (true) {
      waitQuiet()
      val w = measure()
      if (isSuspect(w) && attempt < maxAttempts) {
        rejected += w
        onReject(w, attempt)
        sleep(pauseSec(attempt) * 1000L)
        attempt += 1
      } else return (w, attempt, rejected.result())
    }
    sys.error("unreachable")
  }

  /** The data dir that Bench and [[Dev]] read (`SPARK_GRAFT_SF_DIR`). */
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed rounds per query (`SPARK_GRAFT_BENCH_ROUNDS`), for Bench's
    * interleaved min-of-K and for `Dev time`.
    */
  private[graft] def rounds: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt

  private[graft] def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CPUS=4 reproduces the BASELINE.md per-core parity
    // configuration
    val cores = Sessions.defaultCores
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    // Retry-on-suspect (r15 board #1, escalated r17 board #1):
    // BENCH_r15.json entered the permanent record suspect:true because
    // the bench path measured exactly once; BENCH_r17.json regressed to
    // suspect because ONE retry with a fixed 240 s pause cannot bridge
    // a 10–20 min burst — both attempts landed inside the same one.
    // Now: wait for a quiet loadavg before every attempt, and when a
    // finished window still self-flags, keep its artifact as evidence
    // (<out>.rejectedN), sleep the ESCALATING pause (retryPauseSec:
    // 240 s → 900 s → 900 s), and re-measure — up to
    // SPARK_GRAFT_BENCH_MAX_ATTEMPTS (default 3) windows. The driver
    // slot gets the first clean window, or the last window with its
    // suspect flag AND every rejected attempt's headline embedded
    // under "rejected_attempts" — proof the host never quieted.
    val maxAttempts = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "3").toInt)
    val retryBaseSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_PAUSE_SEC", "240").toInt
    val retryCapSec = math.max(retryBaseSec,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_CAP_SEC", "900").toInt)
    val loadGate =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_GATE", "4.0").toDouble
    val loadWaitSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT_SEC", "300").toInt
    def withAttempts(h: String, n: Int): String =
      h.dropRight(1) + s""","attempts":$n}"""
    // FILE form stays ONE JSON document (headline embedded); the final
    // accepted document additionally carries every rejected attempt's
    // headline object so the episode record is self-contained even if
    // the .rejectedN siblings are lost
    def fileJson(w: Window, attempts: Int, rejected: Seq[Window]): String = {
      val rej =
        if (rejected.isEmpty) ""
        else rejected.zipWithIndex.map { case (r, i) =>
          withAttempts(r.headlineObj, i + 1)
        }.mkString(""","rejected_attempts":[""", ",", "]")
      w.json.dropRight(1) +
        s""","headline":${withAttempts(w.headlineObj, attempts)}$rej}"""
    }
    def writeDoc(path: String, doc: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (win, attempt, rejectedWins) = runAttempts[Window](
      maxAttempts,
      a => retryPauseSec(a, retryBaseSec, retryCapSec),
      () => {
        if (!waitForQuiet(loadGate, loadWaitSec, pollSec = 15,
            () => readLoadavg().map(_._1), Thread.sleep, System.err.println))
          System.err.println(f"[bench] load-gate budget exhausted at " +
            f"loadavg ${readLoadavg().map(_._1).getOrElse(-1.0)}%.2f — " +
            "measuring anyway")
      },
      () => runWindow(sfDir, cores),
      (w: Window) => w.isSuspect,
      (w: Window, a: Int) => {
        val rejPath = s"$outPath.rejected$a"
        writeDoc(rejPath, fileJson(w, a, Nil))
        System.err.println(s"[bench] window came back suspect (attempt " +
          s"$a/$maxAttempts): artifact kept at $rejPath; retrying after " +
          s"a ${retryPauseSec(a, retryBaseSec, retryCapSec)}s pause")
      },
      Thread.sleep)
    val headlineObj = withAttempts(win.headlineObj, attempt)
    val headline = s"""{"headline":$headlineObj}"""
    // 2000-byte driver tail minus sbt's "[success] Total time ..."
    // trailer (~75 B) minus margin — see compactTailLine
    val tailBudget = math.max(200,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_BUDGET", "1870").toInt)
    val compact =
      compactTailLine(headlineObj, win.total, sfDir, win.opMins, tailBudget)
    // stdout tail contract: the big line, the compact headline, then the
    // budget-sized headline+queries superset as the TRUE last line (the
    // only complete JSON line a 2000-byte tail retains)
    println(win.json)
    println(headline)
    println(compact)
    // belt and braces for harnesses that scrape a prefixed stdout
    System.err.println(win.json)
    System.err.println(headline)
    System.err.println(compact)
    writeDoc(outPath, fileJson(win, attempt, rejectedWins))
  }

  /** The registered queries each bench window times, one row apiece.
    * Every key must name a query in [[SparkEntry.queries]]; an unknown
    * key fails the run instead of dropping its row. */
  private[graft] val opQueries = Seq(
    "q_dedup_minhash", "q_dedup_exact",
    "q1_agg", "q_events_window", "q_ann_counts",
    "q_dedup_simhash", "q_langid", "q_lang_conf",
    "q_tfidf", "q_dedup_jaccard", "q_dedup_cluster", "q_alpha_bool",
    "q_pipeline", "q_stream_counts",
    "q_gopher", "q_decontam_ngram",
    "q_decontam_bloom", "q_line_dedup", "q_boilerplate", "q_pii",
    "q_html_strip", "q_pseudonym",
    "q_dup_spans", "q_url_norm", "q_dedup_incr",
    "q_pack", "q_pack_write", "q_dup_remove", "q_perplexity",
    "q_dsir", "q_kl", "q_text_norm", "q_selfline_dedup",
    "q_vocab", "q_pmi", "q_bpe", "q_url_filter",
    "q_corpus_report", "q_corpus_card",
    "q_pipeline2", "q_sent_dedup", "q_mix_apply",
    "q_c4_filter", "q_mojibake", "q_bpe_decode", "q_mix_temp",
    "q_quantile_filter", "q_dedup_best", "q_pipeline3",
    "q_gopher_rules", "q_domain_report", "q_url_dedup", "q_ngram_rep",
    "q_snapshot_diff", "q_overlap",
    "q_redact", "q_sample_topk",
    "q_split_safe", "q_lang_agree",
    "q_cdc", "q_cdc_dedup", "q_cdc_pairs", "q_cdc_delta", "q_srcdup",
    "q_order", "q_mix_unimax", "q_decontam_fuzzy", "q_pipeline_dsl", "q_imp_sample", "q_curriculum",
    "q_topk", "q_wrs", "q_er",
    "q_zorder", "q_bucket_join",
    "q_rollup", "q_pivot", "q_agg_merge",
    "q_session_window", "q_part_prune",
    "q_star", "q_rank_norm", "q_checksum", "q_latest", "q_er_jw",
    "q_top_terms", "q_pack_plan", "q_upsert", "q_sliding",
    "q_schema_merge", "q_topk_agg", "q_pagerank",
    "q_stream_topk", "q_audit", "q_jaccard_sim",
    "q_erasure",
    "q_er_eval",
    "q_bottom_k", "q_interval_union",
    "q_coverage", "q_interval_gaps")

  private def runWindow(sfDir: String, cores: Int): Window = {
    val loadStart = readLoadavg()
    val spark = Sessions.local(cores)

    // headline: annotation throughput over the documents table at the
    // reference's dictionary scaling points (BASELINE.md: 5k and 80k).
    // The sf0.1 corpus is only 5k docs — replicate it so each core
    // gets enough rows that fixed job overhead stops dominating and
    // the number reflects steady-state per-row cost (the 100 TB regime).
    // Materialized to parquet (not .cache()) so clearCache() between op
    // queries can't silently drop the annotate input mid-suite; a parquet
    // scan of this corpus is milliseconds and is what a cluster job pays.
    val repl = sys.env.getOrElse("SPARK_GRAFT_DOC_REPL", "8").toInt
    val docsDir = java.nio.file.Files
      .createTempDirectory("graft_bench_docs").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(spark.range(repl.toLong).select(col("id").as("__copy")))
      .repartition(cores * 2)
      .write.mode("overwrite").parquet(docsDir)
    val docs = spark.read.parquet(docsDir)
    val nDocs = docs.count()

    // Component row for the q_dedup_best composite (r7 verdict #10): the
    // pairs are precomputed OUTSIDE the timed region so the row isolates
    // clustering + election — the part that reads as a hot spot when the
    // composite pays MinHash pair generation in the same timed unit.
    val pairsDir = java.nio.file.Files
      .createTempDirectory("graft_bench_pairs").toString
    graft.ops.Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        "text", "doc_id", n = 3, threshold = 0.5)
      .write.mode("overwrite").parquet(pairsDir)

    val hl = SparkHighlighter(benchDict(5000))
    val hl80 = SparkHighlighter(benchDict(80000))
    // 12.5x the reference's largest published dictionary: the AC path is
    // dictionary-size-independent, so this must stay in the same class
    // as 80k (compile ~5s happens once, here, outside the timed region)
    val hl1m = SparkHighlighter(benchDict(1000000))
    val hlMixed = SparkHighlighter(benchDictMixed(5000))
    val hlMixed80 = SparkHighlighter(benchDictMixed(80000))
    var annCount = 0L

    // The full timed unit for an op query includes clearCache so internal
    // persist() calls can't leak cached inputs into the next round.
    val allThunks: Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
      "annotate_5k_dict" ->
        (() => { annCount = hl.annotateExploded(docs, "text").count(); () }),
      "annotate_80k_dict" ->
        (() => { hl80.annotateExploded(docs, "text").count(); () }),
      "annotate_1m_dict" ->
        (() => { hl1m.annotateExploded(docs, "text").count(); () }),
      "annotate_5k_mixed" ->
        (() => { hlMixed.annotateExploded(docs, "text").count(); () }),
      "annotate_80k_mixed" ->
        (() => { hlMixed80.annotateExploded(docs, "text").count(); () })
    ) ++ opQueries.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (() => { fn(spark, sfDir).count(); spark.catalog.clearCache() })
    } ++ Seq[(String, () => Unit)](
      "q_dedup_best_elect" -> (() => {
        graft.ops.Dedup.keepBestInClusters(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            spark.read.parquet(pairsDir),
            "doc_id", length(col("text"))).count()
        spark.catalog.clearCache()
      })
    )

    // Isolation filter for adjudication re-runs (COVERAGE.md protocol):
    // SPARK_GRAFT_BENCH_ONLY=<regex> keeps only matching OP thunks; the
    // headline annotate rows always run (the artifact's docs_per_sec
    // keys must stay computable). BENCH_ONLY='^$' = headline rows only,
    // with the real artifact format — samples, dispersion, suspect.
    val thunks: Seq[(String, () => Unit)] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(allThunks) { pat =>
        allThunks.filter { case (n, _) =>
          n.startsWith("annotate_") || pat.r.findFirstIn(n).isDefined }
      }

    // Warm each query once ON THE REAL DATA: AQE picks size-dependent
    // physical plans, so a small-slice warmup leaves the full-size plan's
    // codegen cold (measured: q_dedup_minhash 10.7s cold vs 1.8s steady).
    canarySink = canaryWall() // JIT-warm the canary loop too
    thunks.foreach { case (_, f) => f() }
    spark.catalog.clearCache()
    System.err.println("[bench] warmup done")

    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    // Canary samples live OUTSIDE the samples map: the per-query
    // "queries" min map carries only real workloads (a code-independent
    // constant would dilute every window geomean), but the canary IS a
    // headline samples row — see canaryOnce's doc. Sampled at round
    // start, adjacent to the annotate rows it normalizes.
    var canary = Vector.empty[Double]
    for (r <- 1 to rounds) {
      canary = canary :+ seconds { canarySink = canaryWall() }
      for ((name, f) <- thunks) {
        val t = seconds(f())
        samples(name) = samples.getOrElse(name, Vector.empty) :+ t
      }
      // progress markers (stderr only — the stdout tail contract is the
      // two JSON lines): lets an external adjudication harness align a
      // deliberate load window with round boundaries (COVERAGE.md)
      System.err.println(s"[bench] round $r/$rounds done")
    }
    // One extra TIME-DISPLACED sample of the headline annotate thunks:
    // they run adjacently at the START of every round, so host
    // contention recurring near round boundaries can poison all K
    // samples of exactly the headline rows while the op queries read
    // ~clean (observed once: BENCH_AB_r12 §3, mixed rows 10× with suite
    // geomean 1.098 and an in-band isolated re-run minutes later).
    // Sampling them once more at the END of the suite breaks that
    // alignment; min across K+1 keeps the artifact keys unchanged.
    // The canary takes its displaced K+1 sample on the same schedule.
    canary = canary :+ seconds { canarySink = canaryWall() }
    for ((name, f) <- thunks if name.startsWith("annotate_")) {
      val t = seconds(f())
      samples(name) = samples(name) :+ t
    }
    // min is the headline (least noise-contaminated estimate of true
    // cost); median is reported alongside so a host-noise round can't
    // mask a real trend across rounds (r4 verdict: uniform ~1.34×
    // inflation on untouched queries was indistinguishable from drift)
    val results = samples.map { case (k, v) => k -> v.min }
    val medians = samples.map { case (k, v) => k -> median(v) }

    val annotateSec = results("annotate_5k_dict")
    val docsPerSec = nDocs / annotateSec
    // Cache-hygiene observable: RDDs still tracked after the suite (the
    // clearCache() in each op thunk should leave only checkpoint blocks
    // awaiting GC). Growth across rounds would mean an operator leaks.
    // Captured here — the parity block below restarts the session.
    val storedRdds = spark.sparkContext.getPersistentRDDs.size

    // Per-core parity row (BASELINE.md's SPARK_GRAFT_CPUS=4 config),
    // emitted from the SAME run so the baseline comparison stops
    // requiring arithmetic: restart at local[4] and re-time the
    // headline annotate workload. Skipped when the run is already at 4
    // cores: it then IS the parity configuration.
    val parity4: Option[(Double, Vector[Double])] = if (cores == 4) None else {
      spark.stop()
      val s4 = Sessions.local(4)
      val docs4 = s4.read.parquet(docsDir)
      val n4 = docs4.count()
      def one(): Double = seconds { hl.annotateExploded(docs4, "text").count() }
      // TWO warm runs: the 3 timed samples run back-to-back right after
      // a full SparkSession restart, so a single warm call leaves a
      // first-sample JIT/page-cache outlier that can push med/min past
      // the suspect threshold on a clean host (ADVICE r14) — unlike the
      // round-interleaved annotate rows the threshold was calibrated on.
      one(); one()
      val v = (1 to 3).map(_ => one()).toVector
      Some((n4 / v.min, v))
    }
    val docsPerSec4: Option[Double] = parity4.map(_._1)
    val qs = results.map { case (k, v) => jsonString(k) + f":$v%.3f" }
      .mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => jsonString(k) + f":$v%.3f" }
      .mkString("{", ",", "}")
    // Per-OP-row dispersion (r15 board #2): the judge adjudicates op
    // movers every round with min+median only — emit med/min per op row
    // (same statistic as the headline samples' `disp`; -1 = not
    // computable) so an op mover carries its own contention evidence.
    // Placed BEFORE the min map: "queries" stays LAST for the
    // truncated-tail contract below.
    val qsDisp = samples.map { case (k, v) =>
      val d = dispersion(v)
      jsonString(k) + f""":${if (d.isNaN) -1.0 else d}%.2f"""
    }.mkString("{", ",", "}")
    val total = results.values.sum
    val parity = docsPerSec4.map(v => f""","docs_per_sec_4core":$v%.0f""").getOrElse("")
    // Key order matters for truncated-tail readers (the driver captures
    // the END of this line): the MEDIAN map first, the headline MIN map
    // ("queries") LAST, so a cut-off prefix never leaves the median map
    // masquerading as the headline numbers (r9 verdict "what's wrong"
    // #2 — a median tail read as mins faked a 4x q_pipeline3 regression).
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries_median":$qsMed,"queries_disp":$qsDisp,"sf":${jsonString(sfDir)},"docs":$nDocs,"annotations":$annCount,"docs_per_sec":$docsPerSec%.0f,"docs_per_sec_80k_dict":${nDocs / results("annotate_80k_dict")}%.0f,"docs_per_sec_1m_dict":${nDocs / results("annotate_1m_dict")}%.0f,"docs_per_sec_5k_mixed":${nDocs / results("annotate_5k_mixed")}%.0f,"docs_per_sec_80k_mixed":${nDocs / results("annotate_80k_mixed")}%.0f$parity,"cpus":$cores,"stored_rdds":$storedRdds,"queries":$qs}"""
    // The big line can exceed the driver's stdout-capture window:
    // BENCH_r10.json kept only a truncated TAIL, which (with the min map
    // last) preserved per-query mins but lost every docs_per_sec headline
    // that precedes the map (r10 verdict "what's wrong" #1). A compact
    // headline-only object as the FINAL stdout line makes any tail
    // capture self-sufficient: either the driver parses the big line, or
    // the surviving tail ends with this complete object.
    // Self-adjudication (r12 board #1): per-thunk sample min/med/max +
    // median/min dispersion for every headline annotate row, and one
    // `suspect` flag, INSIDE the headline object — so a window like
    // BENCH_r12's (round-aligned host bursts poisoning all K samples of
    // only the headline rows, artifact 3.5× low forever) flags itself
    // in the permanent record instead of needing an adjudication
    // session. Keys are appended after the existing ones: consumers of
    // the r13-and-earlier shape are untouched, and bench_compare.py
    // already prints `suspect` when present.
    // canary_cpu row (r15 board #1): host-speed reference, same K+1
    // schedule — see canaryOnce. Uniform contention shows as an
    // elevated canary MIN with quiet dispersion everywhere; suspect()
    // deliberately ignores it (normalization signal, not a discard).
    val headlineSamples: Seq[(String, Vector[Double])] =
      samples.toSeq.filter(_._1.startsWith("annotate_")) ++
        parity4.map { case (_, v) => "annotate_4core" -> v } ++
        Seq("canary_cpu" -> canary)
    val samplesJson = headlineSamples.map { case (k, v) =>
      // a NaN dispersion (empty/zero vector — dispersion()'s own guard
      // path) would render as the bare token NaN and corrupt the whole
      // artifact's JSON; emit -1 as the "not computable" sentinel
      val d = dispersion(v)
      val dj = if (d.isNaN) -1.0 else d
      jsonString(k) + ":" +
        f"""{"min":${v.min}%.3f,"med":${median(v)}%.3f,"max":${v.max}%.3f,"disp":$dj%.2f}"""
    }.mkString("{", ",", "}")
    // FORCE_SUSPECT=1 is a drill hook: flags the window regardless of
    // its real dispersions so the retry/rejected-artifact path can be
    // exercised on demand (COVERAGE.md protocol) — the samples map
    // still records the true measurements
    // op-row band residuals (r16 board #1): grade each op MEDIAN
    // against the committed quiet band — a burst that starts after the
    // canary/annotate samples were taken (mid-op-list) is invisible to
    // the headline heuristic but poisons op medians with burst-grade
    // dispersion; ≥3 such rows flag the window so retry-on-suspect
    // fires. The offending names ship in the artifact.
    val bands = loadBands(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BANDS", "BENCH_BANDS.json"))
    val opRows = samples.collect { case (k, v) if k.startsWith("q_") =>
      val d = dispersion(v)
      k -> (median(v), if (d.isNaN) -1.0 else d)
    }.toMap
    val overBand = opRowsOverBand(opRows, bands)
    // the helper owns the minRows threshold (ADVICE r17: an inlined
    // `>= 3` here could drift from what the unit tests pin)
    val opSuspect = opRowsSuspect(opRows, bands)
    if (opSuspect) System.err.println("[bench] op-row burst: " +
      s"${overBand.mkString(",")} — medians over committed band-max " +
      "with burst-grade dispersion")
    val overBandJson = overBand.map(jsonString)
      .mkString("[", ",", "]")
    val isSuspect = suspect(headlineSamples.toMap) || opSuspect ||
      sys.env.get("SPARK_GRAFT_BENCH_FORCE_SUSPECT").contains("1")
    // loadavg_start/loadavg_end (r15 board #2): host load bracketing the
    // window, in the artifact — the r15 episode's out-of-band
    // /proc/loadavg reads, made self-contained
    val loadEnd = readLoadavg()
    val headlineObj =
      f"""{"docs_per_sec":$docsPerSec%.0f,"docs_per_sec_80k_dict":${nDocs / results("annotate_80k_dict")}%.0f,"docs_per_sec_1m_dict":${nDocs / results("annotate_1m_dict")}%.0f,"docs_per_sec_5k_mixed":${nDocs / results("annotate_5k_mixed")}%.0f,"docs_per_sec_80k_mixed":${nDocs / results("annotate_80k_mixed")}%.0f$parity,"total_sec":$total%.3f,"docs":$nDocs,"cpus":$cores,"stored_rdds":$storedRdds,"loadavg_start":${loadavgJson(loadStart)},"loadavg_end":${loadavgJson(loadEnd)},"samples":$samplesJson,"op_over_band":$overBandJson,"suspect":$isSuspect}"""
    SparkSession.getActiveSession.foreach(_.stop())
    // the replicated bench corpus is multi-copy parquet — don't leak it
    // into /tmp on every run (nor across retry attempts)
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(rmTree(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rmTree(java.nio.file.Paths.get(docsDir))
    rmTree(java.nio.file.Paths.get(pairsDir))
    Window(json, headlineObj, isSuspect, total,
      results.toSeq.filterNot(_._1.startsWith("annotate_")))
  }
}

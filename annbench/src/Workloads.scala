package annbench

/** One benchmark workload: its inputs and how each phase is driven.
  *
  * @param batch         docs_per_s comes from Spark batch rounds (true) or
  *                      from the open-loop stream (false)
  * @param streamRate    docs/s the stream generator offers, well under what
  *                      the stream sustains on a 4-core host, so the loop
  *                      stays open
  * @param triggerMs     micro-batch processing-time trigger
  * @param reloadEveryMs dictionary rewrite period during the stream phase
  * @param reloads       dictionary rewrites per run
  * @param reloadsAfterWindow false: rewrites start with the stream's
  *                      schedule and run through its steady window; true:
  *                      the window runs on a fixed dictionary and the
  *                      rewrites follow it
  * @param streamShare   share of the run's measured seconds given to the
  *                      stream's steady window; batch rounds get the rest
  */
final case class Workload(
    name: String,
    spec: GenSpec,
    batch: Boolean,
    streamRate: Double,
    triggerMs: Int,
    reloadEveryMs: Int,
    reloads: Int,
    reloadsAfterWindow: Boolean,
    streamShare: Double)

object Workloads {
  /** Zipf vocabulary: larger than the engine's fuzzy memo. */
  private val Vocab = 200000

  val all: Seq[Workload] = Seq(
    // Mixed configs at 80k: analysis over three field configs, fuzzy
    // presearch and slop/span verification do most of the work. An 80k
    // reload stalls the stream for ~2 s, so its stream latencies are taken
    // on a fixed dictionary and two rewrites follow the window, far enough
    // apart that the stream has caught up before the second; ten would
    // add 30 s to every run.
    Workload("batch-mixed-80k",
      GenSpec(Vocab, 80000, mixed = true, docs = 1500, medianTokens = 150,
        lenSigma = 0.6, plantPerToken = 0.02, longTokenShare = 0.002),
      batch = true, streamRate = 300, triggerMs = 1000, reloadEveryMs = 3000,
      reloads = 2, reloadsAfterWindow = true, streamShare = 0.45),
    // Write beside read: a 20k mixed dictionary rewritten ten times, every
    // 2 s, under an open-loop stream; reloads and the micro-batch protocol
    // dominate and the engine is light. A batch takes ~0.4 s and a reload
    // batch ~0.8 s; on a 1 s trigger even a reload batch ends before the
    // next trigger, so every batch starts on the trigger clock and a
    // reload does not hold up the batches after it (on a 500 ms trigger it
    // did, and the latency quantiles moved with how long it held them).
    Workload("stream-reload-20k",
      GenSpec(Vocab, 20000, mixed = true, docs = 1500, medianTokens = 150,
        lenSigma = 0.6, plantPerToken = 0.02, longTokenShare = 0.002),
      batch = false, streamRate = 600, triggerMs = 1000, reloadEveryMs = 2000,
      reloads = 10, reloadsAfterWindow = false, streamShare = 1.0))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  /** The same workload at a size that runs in seconds, for self-tests. */
  def tiny(w: Workload): Workload = w.copy(
    spec = w.spec.copy(vocabSize = 5000, dictSize = 2000, docs = 200),
    streamRate = 200, triggerMs = 500, reloadEveryMs = 1000, reloads = math.min(w.reloads, 3))
}

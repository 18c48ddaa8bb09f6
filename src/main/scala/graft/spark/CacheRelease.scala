package graft.spark

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scoped persist lifecycle for operators that cache an intermediate
  * relation consumed by several branches of the plan they RETURN
  * (per-document stat tables, degree tables): the operator cannot
  * unpersist before returning — no action has run, so the cache would be
  * dropped before it was ever filled — and leaving it pinned forever
  * forces callers into manual `clearCache()` bookkeeping (the r10 caveat
  * this replaces).
  *
  * [[CacheRelease.afterFirstAction]] tags the returned plan with a
  * zero-cost `observe` marker and registers a one-shot
  * [[QueryExecutionListener]]: when the FIRST action over any plan
  * containing the marker completes (success or failure), the listener
  * unpersists the caches and unregisters itself. Within that one action
  * Spark fills and reuses the cache across all consuming branches —
  * exactly the window the persist exists for; re-executing the returned
  * DataFrame afterwards recomputes (correct, just uncached), the
  * documented trade for a session that never accumulates stale blocks.
  *
  * The marker survives caller-side transforms (projections/joins stack
  * ON TOP of the CollectMetrics node), so `op(...).filter(...).count()`
  * releases just the same.
  *
  * Leak bound + observability: if the caller never runs an action the
  * cache and its listener stay pinned — unavoidable without an action
  * to observe — and each pending listener adds one analyzed-plan
  * traversal (the marker scan) to EVERY subsequent action's
  * listener-bus callback, so unbounded accumulation would degrade all
  * later queries in a long-lived session. Two mitigations: (1)
  * [[CacheRelease.pending]] reports the number of still-armed hooks
  * (drains to 0 once their actions run) so a service can watch the
  * leak; (2) the number of simultaneously-armed hooks is CAPPED at
  * [[CacheRelease.maxPending]] — arming one past the cap force-releases
  * the OLDEST pending hook (unpersist + unregister). Force-release is
  * always safe here because every wrapped persist is recompute-safe by
  * contract (see below): the abandoned plan still computes correctly if
  * later executed, just without the cache. The per-action overhead is
  * therefore bounded by `maxPending` marker scans, each a cheap
  * short-circuiting tree walk.
  *
  * NOT for snapshot-dependent persists: when a collected artifact
  * (driver-side partition bases, range boundaries) describes one
  * specific materialization — `packingOffsets`, `trainingOrder`,
  * `curriculumOrder` — releasing the cache makes RE-execution produce
  * different partitioning and WRONG results, not just slow ones. Those
  * persists are correctness pins and stay caller-managed (and must
  * never ride this hook, whose cap may release early).
  */
private[graft] object CacheRelease {

  /** Monotonic marker suffix — observation names must be unique within
    * one query, and a query that composes several wrapped operators puts
    * several markers in one action.
    */
  private val counter = new AtomicLong(0)

  /** Armed hooks awaiting their first action, oldest first. */
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[Hook]

  /** Number of armed hooks whose first action has not yet completed.
    * Drains to 0 as actions run (or as the [[maxPending]] cap evicts);
    * a long-lived service building speculative never-executed plans can
    * watch this instead of discovering the leak via heap growth.
    */
  def pending: Int = registry.size

  /** Conf key for the armed-hook cap, read at each arming so a running
    * service can retune it: `spark.conf.set(maxPendingKey, "256")`.
    */
  val maxPendingKey = "spark.graft.cacheRelease.maxPending"

  private val maxPendingDefault = 64

  /** Cap on simultaneously-armed hooks: arming past it force-releases
    * the oldest (recompute-safe by contract — the abandoned plan just
    * loses its cache, and the eviction logs one WARN line naming the
    * evicted marker). Bounds both the pinned-cache leak and the
    * per-action marker-scan overhead of abandoned plans. Tunable per
    * session via [[maxPendingKey]] (default 64) — a service that
    * legitimately arms more concurrent plans raises it instead of
    * eating surprise recomputes. Reads the ACTIVE session's conf here
    * (introspection convenience); [[afterFirstAction]] reads the conf
    * of the session it arms on.
    */
  def maxPending: Int =
    maxPendingFor(SparkSession.getActiveSession)

  private def maxPendingFor(spark: Option[SparkSession]): Int =
    spark.map { s =>
      val raw = s.conf.get(maxPendingKey, maxPendingDefault.toString)
      val cap =
        try raw.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"CacheRelease: $maxPendingKey must be a positive int, got '$raw'")
        }
      require(cap > 0,
        s"CacheRelease: $maxPendingKey must be a positive int, got '$raw'")
      cap
    }.getOrElse(maxPendingDefault)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.spark.CacheRelease")

  /** One armed release hook: listener + its caches + one-shot state. */
  private final class Hook(spark: SparkSession, val name: String,
      cached: Seq[DataFrame]) extends QueryExecutionListener {
    private val released = new AtomicBoolean(false)

    /** Unpersist + unregister + deregister, exactly once; called from
      * the listener bus (marker seen) or from the cap eviction.
      */
    def release(): Unit = if (released.compareAndSet(false, true)) {
      cached.foreach { df =>
        try df.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
      try spark.listenerManager.unregister(this)
      catch { case _: Throwable => () }
      registry.remove(this)
    }

    // plan-based detection (not observedMetrics) so a FAILED action
    // still releases — metrics are unavailable on failure
    private def marked(qe: QueryExecution): Boolean =
      try qe.analyzed.exists {
        case c: CollectMetrics => c.name == name
        case _ => false
      } catch { case _: Throwable => false }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (marked(qe)) release()

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = if (marked(qe)) release()
  }

  /** Return `result` tagged so that the first completed action over it
    * unpersists every DataFrame in `cached`, then drops the hook.
    */
  def afterFirstAction(result: DataFrame, cached: Seq[DataFrame]): DataFrame = {
    val name = s"graft_cache_release_${counter.incrementAndGet()}"
    val hook = new Hook(result.sparkSession, name, cached)
    val cap = maxPendingFor(Some(result.sparkSession))
    result.sparkSession.listenerManager.register(hook)
    registry.add(hook)
    while (registry.size > cap) {
      val oldest = registry.poll()
      if (oldest != null) {
        // loud, one line per eviction: a service that legitimately arms
        // more than the cap sees WHY its plan recomputed and which knob
        // to turn, instead of a silent slowdown
        log.warn(s"force-releasing oldest pending hook '${oldest.name}': " +
          s"armed hooks exceeded $maxPendingKey=$cap — the abandoned plan " +
          "recomputes without its cache if executed later (recompute-safe " +
          "by contract); raise the conf if this arming rate is intended")
        oldest.release()
      }
    }
    result.observe(name, count(lit(1)).as("rows"))
  }
}

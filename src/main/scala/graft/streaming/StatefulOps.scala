package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A closed user session: [start, end] with its event count. */
final case class ClosedSession(userId: Long, startMs: Long, endMs: Long, nEvents: Long)

/** The open-session state carried between micro-batches. */
final case class OpenSession(startMs: Long, endMs: Long, nEvents: Long)

/** A streaming near-dup candidate: `docId`'s minhash band `band` bucket
  * already held `priorId`; `sigAgreement` is the fraction of equal
  * signature components — the standard minhash estimator of jaccard
  * similarity between the two documents.
  */
final case class BandHit(docId: Long, band: Int, priorId: Long, sigAgreement: Double)

/** Bucket state: the first document that claimed a (band, band_key)
  * bucket within the watermark horizon, with its full signature.
  */
final case class BucketState(priorId: Long, sig: Array[Long], lastMs: Long)

/** One dimension version in [[StatefulOps.streamAsofTemporal]] state:
  * attributes (JSON at the state boundary) valid from `fromUs` (epoch
  * MICROS — TimestampType's own grain, so the as-of compare is exact
  * where the millis watermark clock is not) until the next version's
  * `fromUs`.
  */
final case class DimVersion(fromUs: Long, dimJson: String)

/** An event buffered in [[StatefulOps.streamAsofTemporal]] state until
  * the watermark seals its as-of lookup; `tsUs` in epoch micros.
  */
final case class PendingEv(tsUs: Long, eventJson: String)

/** Per-key [[StatefulOps.streamAsofTemporal]] state: the dim version
  * history (pruned to one at-or-before the watermark) plus the events
  * awaiting their watermark; `lastUs` is the key's newest seen event
  * time (either side, epoch micros), the idle-TTL anchor.
  */
final case class TemporalAsofState(versions: Array[DimVersion],
    pending: Array[PendingEv], lastUs: Long)

/** A resolved [[StatefulOps.streamAsofTemporal]] event: the original
  * event row and its matched dim version (null JSON = no version at or
  * before the event time), both re-inflated by `from_json` downstream.
  */
final case class TemporalResolved(eventJson: String, dimJson: String)

/** Stateful Structured-Streaming operators. The annotate matcher itself is
  * stateless, so custom state appears only in the analytics around the
  * stream, each operator's state bounded by the watermark horizon:
  *
  *  - exact dedup ([[streamingDedup]]: a content hash per doc, not the
  *    text) and chunk-granular dedup ([[streamingChunkDedup]]: a hash per
  *    distinct chunk);
  *  - near-dup candidates ([[streamingNearDupHits]]: one minhash
  *    signature per (band, bucket));
  *  - gap-based sessionization ([[sessionize]]: one [[OpenSession]] per
  *    active user, evicted the moment the watermark passes its gap);
  *  - the event-time joins: windowed stream-stream ([[streamStreamJoin]])
  *    and the as-of lookups of a stream into a batch dimension
  *    ([[streamAsofScd2]]) or into a second, versioned stream
  *    ([[streamAsofTemporal]]).
  */
object StatefulOps {

  /** Streaming exact dedup: emit the first occurrence of each distinct
    * `textCol` value; duplicates arriving within the watermark horizon are
    * dropped. State is the 128-bit content hash, evicted by watermark.
    * (On a batch frame use [[graft.ops.Dedup.exact]] instead.)
    */
  def streamingDedup(df: DataFrame, textCol: String, tsCol: String,
      delay: String = "10 minutes"): DataFrame = {
    // a user __text_md5 would be overwritten by the content-hash
    // staging and dropped from the pass-through output — silent loss
    graft.ops.Ids.requireNoReservedNames("streamingDedup", "input",
      df.columns.toSeq, Set("__text_md5"), Some(df.sparkSession))
    df.withWatermark(tsCol, delay)
      .withColumn("__text_md5", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("__text_md5")
      .drop("__text_md5")
  }

  /** Streaming chunk-granular dedup: the online counterpart of
    * [[graft.ops.Dedup.cdcDedupDocs]]'s ownership election. The stream
    * CDC-chunks each document (stateless scan-local kernel — the same
    * boundaries as batch, so a passage syndicated across the stream
    * chunks identically wherever it arrives) and keeps each chunk
    * content's FIRST arrival within the watermark horizon. State is one
    * 128-bit hash per distinct chunk in the horizon, never the text.
    * Output: surviving `(idCol, chunk_id, chunk_text)` rows; document
    * REBUILD is a batch sink step (group survivors by id, order by
    * chunk_id) — a stream cannot retro-edit documents it already
    * emitted, which is also why ownership here is first-ARRIVAL where
    * the batch election is min (id, chunk_id): identical when arrival
    * follows id order, documented divergence otherwise.
    */
  def streamingChunkDedup(df: DataFrame, textCol: String, idCol: String,
      tsCol: String, window: Int = 5, divisor: Long = 64,
      delay: String = "10 minutes"): DataFrame = {
    // the staging runs on a fresh (id, ts, chunks) projection, so other
    // user columns are safe — but an id/ts column ITSELF named __h
    // would be REPLACED by the chunk hash (and then dropped), and one
    // named like the chunk output columns would duplicate on rename
    graft.ops.Ids.requireNoReservedNames("streamingChunkDedup",
      "idCol/tsCol", Seq(idCol, tsCol),
      Set("__h", "chunk_id", "chunk_text"), Some(df.sparkSession))
    df.withWatermark(tsCol, delay)
      .select(col(idCol), col(tsCol),
        posexplode(graft.ops.TextStats.cdcChunks(col(textCol), window, divisor)))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
      .withColumn("__h", md5(col("chunk_text")))
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
  }

  /** Streaming NEAR-duplicate candidates: the online counterpart of
    * [[graft.ops.Dedup.minhashPairs]]. Each document's minhash signature
    * is banded exactly like the batch operator (same codegen'd
    * [[graft.spark.ShingleSignatureExpression]] kernel, same
    * xxhash64-of-slice band keys); a document arriving into a (band,
    * band_key) bucket that an earlier document already claimed emits a
    * [[BandHit]] carrying the signature-agreement estimate of their
    * jaccard similarity.
    *
    * The streaming relaxation, stated honestly: batch minhashPairs
    * exact-verifies candidates against the full shingle sets; a stream
    * cannot hold shingle sets in state, so verification here is the
    * signature AGREEMENT (unbiased jaccard estimator, ±1/sqrt(numPerms))
    * against the bucket's FIRST owner only. State per bucket is one id +
    * numPerms longs (~520 bytes at 64 perms), evicted when the watermark
    * passes `delaySec` past the bucket's last activity — memory scales
    * with distinct buckets in the horizon, not stream length.
    *
    * Doc-level gating (drop if ANY band hits with agreement ≥ t) is a
    * stateless filter + dedup downstream:
    * `hits.filter(_.sigAgreement >= t)` then distinct on docId (within a
    * watermark if done in-stream, or in the batch sink).
    */
  def streamingNearDupHits(df: DataFrame, textCol: String, idCol: String,
      tsCol: String, n: Int = 3, numPerms: Int = 64, bands: Int = 16,
      delaySec: Long = 600): Dataset[BandHit] = {
    require(numPerms % bands == 0, s"bands must divide numPerms: $numPerms/$bands")
    // the typed stream decodes ids as longs; fail at plan-build time,
    // not mid-stream inside the encoder (graft.ops.Ids contract)
    graft.ops.Ids.requireIntegralId(df, idCol, "streamingNearDupHits")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = numPerms / bands
    val delayMs = delaySec * 1000L
    val shingleSig = org.apache.spark.sql.GraftBridge.column(
      graft.spark.ShingleSignatureExpression(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), n, numPerms))
    df.select(col(idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"), shingleSig.as("ss"))
      .withWatermark("ts", s"$delaySec seconds")
      .filter(size(col("ss.sh")) > 0)
      .select(col("id"), col("ts"), col("ss.sig").as("sig"))
      .select(col("id"), col("ts"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> xxhash64(slice(sig, b * $rows + 1, $rows)))")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
      .as[(Long, java.sql.Timestamp, Seq[Long], Int, Long)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), docs: Iterator[(Long, java.sql.Timestamp, Seq[Long], Int, Long)],
            state: GroupState[BucketState]) => {
          if (docs.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // micro-batch iterators are unordered: replay in event order
            val sorted = docs.toArray.sortBy(d => (d._2.getTime, d._1))
            val out = Vector.newBuilder[BandHit]
            var st = state.getOption
            sorted.foreach { case (id, ts, sig, band, _) =>
              st match {
                case Some(s) =>
                  var eq = 0
                  var i = 0
                  while (i < s.sig.length) { if (s.sig(i) == sig(i)) eq += 1; i += 1 }
                  out += BandHit(id, band, s.priorId, eq.toDouble / s.sig.length)
                  st = Some(s.copy(lastMs = math.max(s.lastMs, ts.getTime)))
                case None =>
                  st = Some(BucketState(id, sig.toArray, ts.getTime))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + delayMs + 1)
            }
            out.result().iterator
          }
        })
  }

  /** Gap-based streaming sessionization: a session closes when no event
    * arrives for `gapSec` seconds (event time). Closed sessions are
    * emitted once, when the watermark passes session end + gap (or when a
    * later in-stream event proves the gap). Equivalent batch semantics:
    * the lag + cumulative-sum sessionization of `SparkEntry.q_sessions`.
    *
    * Decision grain is MILLISECONDS (`ClosedSession` carries epoch-ms
    * bounds): two events whose true gap straddles the boundary by less
    * than 1ms may be split/merged differently than a micros-grain batch
    * rebuild — irrelevant at human session scales (gapSec >= 1), stated
    * here because the as-of family deliberately pays for micros
    * ([[streamAsofTemporal]]) where sub-ms order changes JOIN results.
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
      gapSec: Long, delay: String = "10 minutes"): Dataset[ClosedSession] = {
    // typed state keys decode the user as long; fail at plan-build
    // time, not mid-stream inside the encoder (graft.ops.Ids contract)
    graft.ops.Ids.requireIntegralId(df, userCol, "sessionize")
    val spark = df.sparkSession
    import spark.implicits._
    val gapMs = gapSec * 1000L
    df.select(col(userCol).cast("long").as("user"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, events: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) => {
          if (events.isEmpty && state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.startMs, s.endMs, s.nEvents))
          } else {
            // micro-batch iterators are unordered: sort, then fold gaps
            val times = events.map(_._2.getTime).toArray
            java.util.Arrays.sort(times)
            val closed = Vector.newBuilder[ClosedSession]
            var open = state.getOption
            times.foreach { t =>
              open match {
                case Some(s) if t - s.endMs <= gapMs =>
                  open = Some(OpenSession(s.startMs, math.max(s.endMs, t), s.nEvents + 1))
                case Some(s) =>
                  closed += ClosedSession(user, s.startMs, s.endMs, s.nEvents)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // fire once the event-time watermark passes the gap horizon
              state.setTimeoutTimestamp(s.endMs + gapMs + 1)
            }
            closed.result().iterator
          }
        })
  }

  /** Stream-stream join with an event-time range bound — the online
    * attribution primitive (every left event paired with the
    * right-stream events on the same key whose timestamp falls in
    * `[left.ts, left.ts + windowSec]`). Both sides carry watermarks and
    * the join condition bounds event time in BOTH directions, which is
    * exactly what lets Spark evict join state: a buffered left row can
    * stop waiting once the right watermark passes `l_ts + windowSec`,
    * and vice versa — state is the last `delay + windowSec` of each
    * stream per key, not the stream's history. Inner-join matches emit
    * as they are found (no watermark hold), so the final match SET
    * equals the batch range join whenever no input arrives later than
    * `delay` out of order — the q_stream_join gate replays the same
    * join relationally in DuckDB.
    *
    * `joinType = "left_outer"` keeps the same matches and ADDITIONALLY
    * emits every left event that found no partner, with null `r_*`
    * columns — the "clicks that never converted" half of attribution,
    * which the inner join silently omits. Unmatched rows cannot emit
    * eagerly (a partner may still arrive), so Spark holds them until
    * the watermark closes their window — expect them
    * ~`(delay + windowSec)` late (the watermark must pass
    * `left.ts + windowSec` before "no partner" is final; with
    * multi-hour windows that dominates the latency budget), the same
    * event-time-correctness price the temporal join pays. The match
    * set is unchanged; only null-padded rows are added, so the batch
    * equivalent is the same range join made LEFT.
    *
    * `joinType = "right_outer"` is the mirror — every right event that
    * no left event's window covers emits once with null LEFT columns,
    * ~`delay` late (a right row is unmatched-final as soon as the
    * watermark passes its own timestamp: its candidate partners all
    * have `l_ts >= r_ts - windowSec` and `l_ts <= r_ts`). Same
    * condition, same eviction bounds — callers keep the unprefixed
    * left / `r_`-prefixed right naming instead of hand-mirroring
    * columns through a swapped left_outer call.
    *
    * Right-side columns come back prefixed `r_`; the left keeps its
    * names (mirrors [[graft.ops.Joins.asofJoin]]'s convention).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, windowSec: Long,
      delay: String = "1 hour", joinType: String = "inner"): DataFrame = {
    require(windowSec >= 0, s"streamStreamJoin: bad window $windowSec")
    require(Set("inner", "left_outer", "right_outer")(joinType),
      s"streamStreamJoin: joinType must be inner, left_outer or " +
        s"right_outer, got '$joinType' — stream-stream state eviction " +
        "bounds only these three here (full_outer doubles the unmatched " +
        "hold and is deliberately not exposed)")
    // same output-name collision guard as the batch prefixing joins: a
    // left column already named r_<x> would silently duplicate in the
    // join output (or mis-bind the join condition's r_ references)
    val clash = left.columns.toSet.intersect(right.columns.map("r_" + _).toSet)
    require(clash.isEmpty,
      s"streamStreamJoin: left column(s) ${clash.mkString(", ")} collide " +
        "with the r_-prefixed right columns — rename them first")
    val l = left.withWatermark(tsCol, delay)
    val r = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c")
    }.withWatermark(s"r_$tsCol", delay)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
  }

  /** Stream-batch SCD2 as-of enrichment: each streaming event joins the
    * ONE dimension version valid at its event time — equi-join on the
    * key plus the half-open validity interval
    * (`fromCol <= ts < toCol`, a null `toCol` marking the open current
    * version). The daily pipeline shape: a batch-maintained SCD2
    * dimension (e.g. [[graft.ops.Events.scd2]]'s output) enriching a
    * live event stream with the attributes that were true WHEN the
    * event happened, not the attributes of right now.
    *
    * State and plan shape at 100 TB/day: this is a stream-STATIC join,
    * which Structured Streaming executes STATELESSLY — every
    * micro-batch joins against the static side and nothing is buffered
    * between batches, so unlike a stream-stream join there is NO join
    * state for a watermark to bound (the `delay` watermark is applied
    * for downstream stateful operators and sinks, not for this join).
    * The dimension is broadcast-pinned: SCD2 collapses consecutive
    * duplicates so versions-per-key stays dimension-sized, and a
    * shuffled join would re-exchange every micro-batch. One cost to
    * know about: Structured Streaming RE-EVALUATES the static side's
    * plan each micro-batch — so when the input is streaming,
    * `materializeDim` (default ON) persists the projected dimension
    * for the lifetime of the streaming query: the first micro-batch
    * computes and caches it, every later batch broadcasts from the
    * cache, and a `StreamingQueryListener` releases it whenever the
    * session's last streaming query terminates and re-arms it on the
    * next query start (see [[releaseWhenStreamsQuiet]] — recompute-safe
    * plain cache of a deterministic plan, NOT a snapshot-dependent
    * persist, so an early release costs recompute, never correctness;
    * with several concurrent streaming queries the release is deferred
    * until all are quiet; armed pins are bounded by [[maxDimPinsKey]]).
    * Pass
    * `materializeDim = false` to manage the dimension's lifecycle
    * yourself (e.g. a plain parquet read that needs no cache, or a
    * dimension you refresh by restarting the query). In batch mode
    * (the as-of equivalence property) the plan executes once and
    * nothing is persisted.
    *
    * As-of equivalence (the correctness gate lands on the batch
    * rebuild): SCD2 validity intervals partition the time axis per key
    * from the first version onward, so interval membership selects
    * exactly the row a backward as-of join on `fromCol` selects;
    * events before a key's first version, or with keys the dimension
    * lacks, pass through with null `dim_*` columns (left join) — the
    * same rows a backward [[graft.ops.Joins.asofJoin]] leaves unmatched.
    *
    * Output: every stream column unchanged, plus `dim_<c>` for each
    * requested dimension attribute `c`.
    */
  def streamAsofScd2(stream: DataFrame, dim: DataFrame, keyCol: String,
      tsCol: String, dimCols: Seq[String],
      fromCol: String = "effective_from", toCol: String = "effective_to",
      delay: String = "1 hour", materializeDim: Boolean = true): DataFrame = {
    require(dimCols.nonEmpty, "streamAsofScd2: no dimension columns requested")
    require(dimCols.distinct.size == dimCols.size,
      s"streamAsofScd2: duplicate dimension columns ${dimCols.mkString(", ")}" +
        " — the output would carry ambiguous dim_<c> twins that fail " +
        "only on first downstream reference")
    val outNames = dimCols.map("dim_" + _)
    // a stream column named like an output dim_<c> would duplicate in
    // the join output; __dk/__df/__dt are staged on the dim side only
    // (fresh select, never pass-through) but reserved on the stream too
    // so the post-join drop can't eat a user column
    graft.ops.Ids.requireNoReservedNames("streamAsofScd2", "stream",
      stream.columns.toSeq, outNames.toSet ++ Set("__dk", "__df", "__dt"),
      Some(stream.sparkSession))
    (Seq(keyCol, fromCol, toCol) ++ dimCols).foreach(c =>
      graft.ops.Ids.fieldOf(dim, c, "streamAsofScd2"))
    val projected = dim.select(
      Seq(col(keyCol).as("__dk"), col(fromCol).as("__df"),
        col(toCol).as("__dt")) ++
        dimCols.zip(outNames).map { case (c, o) => col(c).as(o) }: _*)
    // persist the static side for the query's lifetime (see the
    // docstring): streaming-input only — a batch caller's plan runs
    // once and a persist would just leak
    val d = if (materializeDim && stream.isStreaming) {
      projected.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      releaseWhenStreamsQuiet(stream.sparkSession, projected)
      projected
    } else projected
    stream.withWatermark(tsCol, delay)
      .join(broadcast(d),
        col(keyCol) === col("__dk") && col(tsCol) >= col("__df") &&
          (col("__dt").isNull || col(tsCol) < col("__dt")),
        "left_outer")
      .drop("__dk", "__df", "__dt")
  }

  /** Conf key bounding armed dim-pin listeners per JVM (below). */
  val maxDimPinsKey = "spark.graft.streamAsof.maxDimPins"

  private val dimPinLog =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.StatefulOps")
  private case class DimPin(
      spark: org.apache.spark.sql.SparkSession, frame: DataFrame,
      listener: org.apache.spark.sql.streaming.StreamingQueryListener)
  private val dimPins = new java.util.ArrayDeque[DimPin]()

  /** Armed dimension pins right now (introspection for tests and
    * service dashboards — the lifecycle itself is event-driven).
    */
  def dimPinCount: Int = dimPins.synchronized(dimPins.size)

  /** Keep `frame` persisted while streaming queries run; unpersist
    * when the session goes quiet. The plan is built before any query
    * starts and termination events carry no plan, so the consuming
    * query is unknowable — the lifecycle is driven by session-level
    * events instead:
    *
    *  - every `onQueryStarted` RE-PERSISTS the frame if a quiet-session
    *    release dropped it (an unrelated query terminating between this
    *    plan's build and its query's start must not silently revert the
    *    optimization to per-micro-batch recompute — the cache re-arms
    *    the moment any query, ours included, starts; a batch-1 race
    *    with the async listener bus costs at most ONE extra dim
    *    evaluation). `persist` registration is LAZY, so re-pinning a
    *    frame whose query is long gone costs a CacheManager entry, not
    *    memory — only a plan that executes again materializes anything;
    *  - every `onQueryTerminated` that leaves `spark.streams.active`
    *    empty unpersists (while ANY query runs the cache is held — ours
    *    might be the one running). The listener is NOT retired on
    *    release: there is no event that distinguishes "our consumer
    *    finished" from "some other query finished", and retiring on the
    *    latter is exactly the premature-release bug this design closes.
    *
    * Armed listeners are instead bounded by [[maxDimPinsKey]] (default
    * 64, session-tunable, validated at arming): arming one past the cap
    * evicts the OLDEST pin — removeListener + unpersist + one loud WARN
    * naming the knob — mirroring [[graft.spark.CacheRelease]]'s pending
    * cap. Deliberately NOT CacheRelease.afterFirstAction itself: the
    * whole point is surviving PAST the first action (micro-batch 1) to
    * the query's end, and this cache must not count against that cap.
    * Recompute-safe throughout: a released-then-reused frame
    * recomputes, never returns wrong rows.
    */
  private def releaseWhenStreamsQuiet(
      spark: org.apache.spark.sql.SparkSession, frame: DataFrame): Unit = {
    val capRaw = spark.conf.get(maxDimPinsKey, "64")
    val cap = try capRaw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"streamAsofScd2: $maxDimPinsKey must be a positive integer, got " +
          s"'$capRaw'")
    }
    require(cap >= 1,
      s"streamAsofScd2: $maxDimPinsKey must be >= 1, got $cap")
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        // storageLevel == NONE means a quiet-session release already
        // dropped the cache entry — re-register it (the guard also
        // silences the "already cached" warning on the common path)
        if (frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (spark.streams.active.isEmpty) frame.unpersist(blocking = false)
    }
    dimPins.synchronized {
      // pins from STOPPED sessions are dead weight (their caches died
      // with the context, their listeners can never fire again) — drop
      // them silently before the cap arithmetic so a session restart
      // (Bench's local[4] parity block does exactly that) can't occupy
      // cap slots or blow up in the eviction below
      dimPins.removeIf(pin => pin.spark.sparkContext.isStopped)
      dimPins.addLast(DimPin(spark, frame, listener))
      while (dimPins.size > cap) {
        val oldest = dimPins.removeFirst()
        // best-effort: eviction touches ANOTHER plan's session, which
        // may stop concurrently — a dead pin must never fail the
        // innocent caller arming the new one
        try {
          oldest.spark.streams.removeListener(oldest.listener)
          oldest.frame.unpersist(blocking = false)
        } catch { case scala.util.control.NonFatal(_) => () }
        dimPinLog.warn(s"evicting oldest streamAsofScd2 dimension pin: " +
          s"armed pins exceeded $maxDimPinsKey=$cap — that query's static " +
          "side recomputes per micro-batch from here on (recompute-safe " +
          "by contract); raise the conf if this arming rate is intended")
      }
    }
    spark.streams.addListener(listener)
  }

  /** JSON options pinning the state-boundary round trip of
    * [[streamAsofTemporal]]: Spark's default `to_json` timestamp
    * format keeps milliseconds only, so a microsecond event time would
    * come back truncated — both directions use an explicit 6-digit
    * fraction (and the NTZ variant for naive nested timestamps).
    */
  private val temporalJsonOpts = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Greatest version with `fromUs <= tsUs` in an ascending-sorted
    * history, or null JSON when the event predates every version.
    */
  private def asofLookup(versions: Array[DimVersion], tsUs: Long): String = {
    var lo = 0
    var hi = versions.length - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (versions(mid).fromUs <= tsUs) { best = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (best < 0) null else versions(best).dimJson
  }

  /** Epoch MICROS of a java.sql.Timestamp — getTime() alone is millis
    * and would round two sub-millisecond neighbors onto one instant,
    * silently diverging from the batch as-of compare (TimestampType is
    * micros); the sub-ms micros live in the nanos field.
    */
  private def usOf(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  /** Stream-STREAM event-time temporal as-of join (the Flink
    * "event-time temporal join" shape, which Spark's built-in
    * stream-stream joins cannot express): dimension UPDATES arrive as
    * their own stream — each `(key, dimTsCol, attrs)` row meaning "from
    * this instant until the key's next update, the attributes are X" —
    * and every event joins the version in force AT ITS EVENT TIME,
    * exactly [[graft.ops.Joins.asofJoin]]'s backward semantics
    * (inclusive at equality; events before a key's first version, or
    * with keys the dimension never updated, pass through with null
    * `dim_*`). Use this instead of [[streamAsofScd2]] when the
    * dimension cannot be a maintained batch table — the updates ARE the
    * stream (CDC feed, price ticks, config pushes).
    *
    * Correct under out-of-order arrival on BOTH sides, which is the
    * whole point: an event must not resolve until no older-stamped dim
    * update can still arrive, so each event is buffered until the
    * joint watermark (min across the two inputs, both delayed by
    * `delay`) passes its event time, then resolved against the version
    * history and emitted — output latency is therefore ~`delay`, the
    * price of event-time correctness (Flink's temporal join pays the
    * same). Rows LATER than the watermark are DROPPED by the engine
    * before this operator sees them — Spark's
    * `FlatMapGroupsWithStateExec` filters input older than the
    * event-time watermark ahead of the user function, the same
    * contract as every built-in stateful operator — so a
    * watermark-late event emits NOTHING (not a null-enriched row) and
    * a watermark-late dim update never merges. Size `delay` to the
    * real out-of-orderness; there is no in-operator grace path in
    * streaming. (In BATCH execution no watermark exists, nothing is
    * ever late, and every row participates — the degeneration note
    * below.)
    * Duplicate updates for the same (key, instant) resolve
    * deterministically (greatest serialized attributes win, stable
    * across arrival orders and micro-batch cuts).
    *
    * State and plan shape at 100 TB/day: per key, the version history
    * prunes to ONE version at-or-before the watermark (the one future
    * events may still need) plus any not-yet-effective future versions
    * — i.e. steady-state dim-table-sized, the stream-stream analogue of
    * [[streamAsofScd2]]'s broadcast — plus the events inside the
    * `delay` horizon. Keys that stop receiving events keep their
    * current version forever by default (a dimension does not expire);
    * pass `idleTtlSec > 0` to evict a key's state once the watermark
    * runs that far past its last activity — events arriving after an
    * eviction re-enrich as null until the next update (the documented
    * trade). Row payloads cross the state boundary as JSON against the
    * plan-time schema (timestamps pinned to microsecond precision —
    * see `temporalJsonOpts`); this keeps checkpointed state stable
    * across library upgrades, where a Java/Kryo-serialized Row would
    * not be. Watermark floor note: Spark's initial watermark is 0, so
    * pre-1970 event times resolve in their arrival batch rather than
    * waiting out the delay. In BATCH execution (equivalence rebuilds,
    * backfills) no watermark exists and all input is present, so every
    * event seals immediately — the operator degenerates to exactly
    * [[graft.ops.Joins.asofJoin]].
    *
    * Null semantics match the batch asof family (r14 contract): null
    * key/ts events pass through with null `dim_*` (emitted immediately
    * — they wait on nothing); null key/ts dim updates can never match
    * and are dropped. Both ts columns must already be TIMESTAMP
    * (instant semantics): the watermark needs it, and a silent cast
    * from date/ntz would shift naive wall-clock through the session
    * zone.
    *
    * Observability (r15 board #3): pass a
    * [[TemporalAsofMetrics.register]]ed bundle as `metrics` to surface
    * the state-size claims per trigger — max versions kept per key
    * AFTER pruning (≈ 1 + futures when pruning works), max pending
    * events per key, sealed-event and TTL-eviction counts — as named
    * accumulators, without touching the state store; total keys held
    * is already on `lastProgress.stateOperators`. When `idleTtlSec`
    * is 0 on a streaming input, a session-wide [[StateGrowthWatch]] is
    * armed (idempotently) to WARN if any query's state grows
    * monotonically — the unbounded-key-space misuse.
    *
    * Output: every stream column unchanged, plus `dim_<c>` for each
    * requested dimension attribute `c`.
    */
  def streamAsofTemporal(stream: DataFrame, dim: DataFrame, keyCol: String,
      tsCol: String, dimCols: Seq[String], dimTsCol: String = "effective_from",
      delay: String = "10 minutes", idleTtlSec: Long = 0L,
      metrics: Option[TemporalAsofMetrics] = None): DataFrame = {
    require(dimCols.nonEmpty, "streamAsofTemporal: no dimension columns requested")
    require(dimCols.distinct.size == dimCols.size,
      s"streamAsofTemporal: duplicate dimension columns ${dimCols.mkString(", ")}" +
        " — the output would carry ambiguous dim_<c> twins that fail " +
        "only on first downstream reference")
    require(idleTtlSec >= 0L,
      s"streamAsofTemporal: idleTtlSec must be >= 0, got $idleTtlSec")
    val outNames = dimCols.map("dim_" + _)
    graft.ops.Ids.requireNoReservedNames("streamAsofTemporal", "stream",
      stream.columns.toSeq, outNames.toSet, Some(stream.sparkSession))
    (Seq(keyCol, dimTsCol) ++ dimCols).foreach(c =>
      graft.ops.Ids.fieldOf(dim, c, "streamAsofTemporal"))
    graft.ops.Ids.requireIntegralId(stream, keyCol, "streamAsofTemporal")
    graft.ops.Ids.requireIntegralId(dim, keyCol, "streamAsofTemporal")
    Seq((stream, tsCol, "stream"), (dim, dimTsCol, "dim")).foreach {
      case (df, c, side) =>
        val dt = graft.ops.Ids.fieldOf(df, c, "streamAsofTemporal").dataType
        require(dt == org.apache.spark.sql.types.TimestampType,
          s"streamAsofTemporal: $side ts column `$c` is ${dt.simpleString} " +
            "— the watermark needs TIMESTAMP, and an implicit cast would " +
            "shift naive date/ntz wall-clock through the session zone; " +
            "cast explicitly to choose the instant semantics")
    }
    val spark = stream.sparkSession
    import spark.implicits._
    if (idleTtlSec == 0L && stream.isStreaming)
      StateGrowthWatch.armOnce(spark)
    val eventSchema = stream.schema
    val dimStruct = org.apache.spark.sql.types.StructType(
      dimCols.map(c => dim.schema(dim.schema.fieldIndex(c))))
    val ttlMs = idleTtlSec * 1000L
    // tagged union: dim updates and events share (key, ts, isDim, json)
    val evIn = stream
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("long").as("__k"), col(tsCol).as("__ts"),
        lit(false).as("__isDim"),
        to_json(struct(stream.columns.map(col).toIndexedSeq: _*),
          temporalJsonOpts).as("__json"))
      .withWatermark("__ts", delay)
    val dimIn = dim
      .filter(col(keyCol).isNotNull && col(dimTsCol).isNotNull)
      .select(col(keyCol).cast("long").as("__k"), col(dimTsCol).as("__ts"),
        lit(true).as("__isDim"),
        to_json(struct(dimCols.map(col).toIndexedSeq: _*),
          temporalJsonOpts).as("__json"))
      .withWatermark("__ts", delay)
    val resolved = evIn.union(dimIn)
      .as[(Long, java.sql.Timestamp, Boolean, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[(Long, java.sql.Timestamp, Boolean, String)],
            state: GroupState[TemporalAsofState]) => {
          // batch execution erases withWatermark, and GroupState then
          // refuses watermark reads — in batch EVERYTHING is sealed
          // (all input is present), so the operator degenerates to
          // exactly the backward as-of join, enabling batch-mode
          // equivalence rebuilds; the sealed sentinel also skips the
          // timeout arming below (batch GroupState refuses that too).
          // The watermark clock is MILLIS; state times are MICROS
          // (TimestampType's grain, exact for the as-of compare), so
          // the seal threshold scales the clock down conservatively.
          val wmMs = try state.getCurrentWatermarkMs() catch {
            case _: UnsupportedOperationException => Long.MaxValue
          }
          val wmUs = if (wmMs == Long.MaxValue) Long.MaxValue else wmMs * 1000L
          val firstSeen = state.getOption.isEmpty
          val hadInput = rows.nonEmpty
          var st = state.getOption.getOrElse(
            TemporalAsofState(Array.empty, Array.empty, 0L))
          if (rows.nonEmpty) {
            val rs = rows.toArray
            st = st.copy(lastUs = math.max(st.lastUs,
              rs.iterator.map(r => usOf(r._2)).max))
            val newDims = rs.filter(_._3)
            if (newDims.nonEmpty) {
              // upsert by instant; at a duplicate instant the greatest
              // serialized attributes win — the SAME rule within a batch
              // and across batches, so arrival order and micro-batch
              // cuts cannot change the surviving version
              val m = scala.collection.mutable.LongMap.empty[String]
              st.versions.foreach(v => m(v.fromUs) = v.dimJson)
              newDims.foreach { r =>
                val fm = usOf(r._2)
                if (!m.get(fm).exists(_ >= r._4)) m(fm) = r._4
              }
              st = st.copy(versions = m.toArray
                .map { case (f, j) => DimVersion(f, j) }.sortBy(_.fromUs))
            }
            val newEvs = rs.filter(!_._3)
              .map(r => PendingEv(usOf(r._2), r._4))
            if (newEvs.nonEmpty) st = st.copy(pending = st.pending ++ newEvs)
          }
          // the watermark seals every event STRICTLY before it: the
          // engine's late-row filter drops only strictly-older input,
          // so a dim update with effective_from EXACTLY at the
          // watermark can still be admitted by a later micro-batch —
          // sealing an equal-ts event now would resolve it against a
          // version floor that update should have joined, diverging
          // from the batch cascade. An exactly-at-watermark event
          // re-seals at the next watermark advance or the pending-min
          // timeout.
          val (ready, wait) = st.pending.partition(_.tsUs < wmUs)
          val out = ready.sortBy(p => (p.tsUs, p.eventJson)).iterator
            .map(p => TemporalResolved(p.eventJson, asofLookup(st.versions, p.tsUs)))
            .toVector
          st = st.copy(pending = wait)
          // prune history: unsealed events all have ts >= wm, so only
          // the LATEST version at-or-before wm (plus every later one)
          // can still win an as-of lookup — for any ts >= wm that
          // floor version dominates every earlier one
          if (st.versions.length > 1) {
            var floor = -1
            var i = 0
            while (i < st.versions.length && st.versions(i).fromUs <= wmUs) {
              floor = i; i += 1
            }
            if (floor > 0) st = st.copy(versions = st.versions.drop(floor))
          }
          var ttlEvicted = false
          if (wmMs == Long.MaxValue) {
            // batch: state dies with the (single) invocation anyway
          } else {
            // idle anchored on the key's own last EVENT-TIME activity,
            // not the (possibly lagging) watermark at arming time — a
            // fresh version must get its full ttl of quiet first
            val idleExpired = state.hasTimedOut && st.pending.isEmpty &&
              ttlMs > 0L && wmUs >= st.lastUs + ttlMs * 1000L
            ttlEvicted = idleExpired
            if (idleExpired || (st.versions.isEmpty && st.pending.isEmpty)) {
              state.remove()
            } else {
              state.update(st)
              if (st.pending.nonEmpty)
                state.setTimeoutTimestamp(math.max(wmMs + 1L,
                  st.pending.iterator.map(_.tsUs).min / 1000L + 1L))
              else if (ttlMs > 0L)
                state.setTimeoutTimestamp(
                  math.max(wmMs + 1L, st.lastUs / 1000L + ttlMs))
            }
          }
          // observability (see TemporalAsofMetrics): the maxes read the
          // POST-prune state — exactly the bound the design claims
          metrics.foreach { m =>
            if (hadInput && firstSeen) m.newKeys.add(1L)
            m.sealedEvents.add(out.size.toLong)
            m.versionsKeptMax.add(st.versions.length.toLong)
            m.pendingMax.add(st.pending.length.toLong)
            if (ttlEvicted) m.ttlEvictions.add(1L)
          }
          out.iterator
        })
    val enriched = resolved
      .select(from_json(col("eventJson"), eventSchema, temporalJsonOpts).as("__e"),
        from_json(col("dimJson"), dimStruct, temporalJsonOpts).as("__d"))
      .select(stream.columns.map(c => col(s"__e.$c").as(c)).toIndexedSeq ++
        dimCols.map(c => col(s"__d.$c").as(s"dim_$c")): _*)
    // SQL null semantics: null key/ts events can match nothing — they
    // bypass the stateful path (nothing to wait for) with null dim_*
    val bypass = stream
      .filter(col(keyCol).isNull || col(tsCol).isNull)
      .select(stream.columns.map(col).toIndexedSeq ++
        dimCols.map(c => lit(null).cast(dim.schema(dim.schema.fieldIndex(c))
          .dataType).as(s"dim_$c")): _*)
    enriched.unionByName(bypass)
  }
}

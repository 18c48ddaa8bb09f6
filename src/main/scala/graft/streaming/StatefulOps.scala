package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

/** Stateful Structured-Streaming operators. The annotate matcher itself is
  * stateless, so custom state appears only in the analytics around the
  * stream, each operator's state bounded by the watermark horizon:
  *
  *  - exact dedup ([[streamingDedup]]: a content hash per doc, not the
  *    text) and chunk-granular dedup ([[streamingChunkDedup]]: a hash per
  *    distinct chunk);
  *  - near-dup candidates ([[streamingNearDupHits]]: one minhash
  *    signature per (band, bucket)).
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
      df.columns.toSeq, Set("__text_md5"), df.sparkSession)
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
      Set("__h", "chunk_id", "chunk_text"), df.sparkSession)
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
}

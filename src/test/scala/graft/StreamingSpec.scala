package graft

import graft.dict.{DictionaryEntry => DE}
import graft.streaming.AnnotationStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("windowed annotation counts with watermark over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val df = stream.toDF().toDF("ts", "text")
    val dict = Seq(DE("hash join", id = Some("hj")), DE("scan", id = Some("sc")))
    val counts = AnnotationStream.windowedMatchCounts(
      df, "text", "ts", dict, windowDuration = "1 hour", watermark = "10 minutes")
    val query = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      stream.addData(
        (ts(10, 5), "a hash join here"),
        (ts(10, 20), "hash join and scan"),
        (ts(11, 1), "scan only"))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(date_format($"window.start", "HH").as("h"), $"dict_entry_id", $"n_matches")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("10", "hj", 2L), ("10", "sc", 1L), ("11", "sc", 1L)))
    } finally query.stop()
  }

  test("streaming dedup drops duplicates within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val df = stream.toDF().toDF("ts", "text")
    val out = graft.streaming.StatefulOps.streamingDedup(df, "text", "ts")
    val query = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      stream.addData((ts(0), "same doc"), (ts(1), "same doc"), (ts(2), "other doc"))
      query.processAllAvailable()
      stream.addData((ts(3), "same doc")) // still within watermark: dropped
      query.processAllAvailable()
      val texts = spark.table("dedup_out").select($"text")
        .collect().map(_.getString(0)).sorted
      assert(texts.toSeq == Seq("other doc", "same doc"))
    } finally query.stop()
  }

  test("streaming near-dup: band hits fire for near-copies, not strangers") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val out = graft.streaming.StatefulOps.streamingNearDupHits(
      df, "text", "doc_id", "ts")
    val query = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      val base = "the quick brown fox jumps over the lazy dog and then naps"
      // last word changed: 1 of 10 shingles differs, shares 7/16 bands
      val near = "the quick brown fox jumps over the lazy dog and then rests"
      val other = "completely unrelated content regarding distributed query engines"
      stream.addData((1L, ts(0), base))
      query.processAllAvailable()
      stream.addData((2L, ts(1), near), (3L, ts(2), other))
      query.processAllAvailable()
      val hits = spark.table("neardup_out")
        .as[graft.streaming.BandHit].collect()
      // only the near-copy fires, always against the first owner
      assert(hits.nonEmpty)
      assert(hits.map(_.docId).distinct.toSeq == Seq(2L))
      assert(hits.forall(_.priorId == 1L))
      // shared bands mean high signature agreement (jaccard estimate)
      assert(hits.forall(_.sigAgreement >= 0.8), hits.mkString(","))
      // an exact duplicate arriving later hits with agreement 1.0 on all bands
      stream.addData((4L, ts(3), base))
      query.processAllAvailable()
      val dup = spark.table("neardup_out").as[graft.streaming.BandHit]
        .collect().filter(_.docId == 4L)
      assert(dup.length == 16 && dup.forall(h => h.sigAgreement == 1.0 && h.priorId == 1L))
    } finally query.stop()
  }

  test("streaming sessionization closes sessions on gap and watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val df = stream.toDF().toDF("user_id", "ts")
    val sessions = graft.streaming.StatefulOps.sessionize(
      df, "user_id", "ts", gapSec = 1800, delay = "10 minutes")
    val query = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // user 1: two events 10 min apart (one session), then a 110-min gap
      stream.addData((1L, ts(10, 0)), (1L, ts(10, 10)), (1L, ts(12, 0)))
      query.processAllAvailable()
      // in-stream gap already closed the first session
      val afterGap = spark.table("sess_out").as[graft.streaming.ClosedSession]
        .collect()
      assert(afterGap.map(s => (s.userId, s.nEvents)).toSeq == Seq((1L, 2L)))
      assert(afterGap.head.endMs - afterGap.head.startMs == 10 * 60 * 1000L)
      // advance the watermark past 12:00 + gap: the open session times out
      stream.addData((2L, ts(13, 30)))
      query.processAllAvailable()
      stream.addData((2L, ts(13, 31))) // extra batch so the timeout fires
      query.processAllAvailable()
      val all = spark.table("sess_out").as[graft.streaming.ClosedSession]
        .collect().map(s => (s.userId, s.nEvents)).toSet
      assert(all.contains((1L, 1L)), s"timed-out session missing: ${all.mkString(",")}")
    } finally query.stop()
  }

  test("dictionary hot-reload: new version picked up at the next batch") {
    implicit val sqlCtx = spark.sqlContext
    val dictFile = java.nio.file.Files.createTempFile("dict", ".json")
    def writeDict(json: String, mtime: Long): Unit = {
      java.nio.file.Files.write(dictFile, json.getBytes("UTF-8"))
      dictFile.toFile.setLastModified(mtime)
    }
    writeDict("""[{"text": "alpha", "id": "a"}]""", 1000000L)
    val ann = new graft.streaming.RefreshingAnnotator(dictFile.toString)
    val stream = MemoryStream[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val query = ann.writer(stream.toDF().toDF("text"), "text") { (batch, id) =>
      batch.selectExpr("explode(annotations) AS a").select("a.dictEntryId")
        .collect().foreach(r => seen.synchronized { seen += ((id, r.getString(0))) })
    }.start()
    try {
      stream.addData("alpha and beta")
      query.processAllAvailable()
      writeDict("""[{"text": "beta", "id": "b"}]""", 2000000L)
      stream.addData("alpha and beta")
      query.processAllAvailable()
      // a writer caught mid-write: the truncated file keeps the last
      // good version, and the repaired one is picked up at the next batch
      writeDict("""[{"text": "gamma", "id": "g"}""", 3000000L)
      stream.addData("alpha and beta and gamma")
      query.processAllAvailable()
      writeDict("""[{"text": "gamma", "id": "g"}]""", 4000000L)
      stream.addData("alpha and beta and gamma")
      query.processAllAvailable()
      val byBatch = seen.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(byBatch(0L) == Set("a"), seen)
      assert(byBatch(1L) == Set("b"), seen) // old entry gone, new one live
      assert(byBatch(2L) == Set("b"), seen) // torn write: previous version kept
      assert(byBatch(3L) == Set("g"), seen) // repaired file picked up
      // with no good version to keep, an unreadable first load throws
      writeDict("", 5000000L)
      intercept[Exception](
        new graft.streaming.RefreshingAnnotator(dictFile.toString).refreshIfNeeded(spark))
    } finally {
      query.stop()
      java.nio.file.Files.deleteIfExists(dictFile)
    }
  }

  test("scan-local cleaning ops run unchanged on a stream, equal to batch") {
    // stripHtml / redactPii / gopherQuality / langId are stateless
    // per-row projections, so the SAME operator calls must work on a
    // streaming DataFrame and produce byte-identical rows to batch —
    // the claim that the cleaning pipeline is streaming-safe, pinned.
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("doc_id", "text")
    def pipeline(in: org.apache.spark.sql.DataFrame) = {
      val cleaned = graft.ops.TextClean.redactPii(
        graft.ops.TextClean.stripHtmlDf(in, "text"), "text")
      graft.ops.TextStats.gopherQuality(cleaned, "text", "doc_id")
        .join(cleaned.select(col("doc_id"), col("text"),
          graft.functions.langId(col("text")).as("lang")), "doc_id")
    }
    val rows = Seq(
      (0L, "<p>mail me at a@b.io</p><script>x()</script> the of and is in a plain doc"),
      (1L, "<div>el la de que y los una</div>"))
    val query = pipeline(df).writeStream.format("memory")
      .queryName("clean_stream").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("clean_stream").orderBy("doc_id").collect()
      val batch = pipeline(rows.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      val r0 = streamed(0)
      assert(r0.getAs[String]("text").contains("<EMAIL>") &&
        !r0.getAs[String]("text").contains("script"))
      assert(streamed(1).getAs[String]("lang") == "es")
    } finally query.stop()
  }

  test("round-7 scan-local ops stream unchanged: normalize, self-line dedup, bpe") {
    implicit val sqlCtx = spark.sqlContext
    val model = graft.ops.Bpe.BpeModel(
      Seq(("t", "h"), ("th", "e"), ("the", "</w>")), 3L, 3, 1.0)
    def pipeline(in: org.apache.spark.sql.DataFrame) = {
      val norm = graft.ops.TextClean.normalizeUnicodeDf(in, "text", foldPunct = true)
      val deduped = graft.ops.Dedup.dedupLinesWithinDoc(norm, "text")
      graft.ops.Bpe.encode(deduped, "text", model)
        .select(col("doc_id"), col("text"), col("n_lines_removed"),
          col("n_bpe_tokens"))
    }
    val rows = Seq(
      (0L, "the\u00A0start\nthe\u00A0start\nthe end\u200B"),
      (1L, "\u2018quoted\u2019 words"))
    val stream = MemoryStream[(Long, String)]
    val query = pipeline(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("r7_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("r7_stream").orderBy("doc_id").collect()
      val batch = pipeline(rows.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      // NBSP became a plain space, repeated line collapsed, "the" fused
      val r0 = streamed(0)
      assert(r0.getAs[String]("text") == "the start\nthe end")
      assert(r0.getAs[Long]("n_lines_removed") == 1L)
      assert(streamed(1).getAs[String]("text") == "'quoted' words")
    } finally query.stop()
  }

  test("c4 filter and mojibake repair stream unchanged, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    def pipeline(in: org.apache.spark.sql.DataFrame) =
      graft.ops.TextClean.c4Filter(
        in.withColumn("text", graft.ops.TextClean.fixMojibake(col("text"))),
        "text", badWords = Seq("verboten"))
        .select(col("doc_id"), col("text"), col("n_lines_kept"),
          col("n_sentences"), col("keep"))
    val damaged = graft.ops.TextClean.mojibakeDamageValue(
      (1 to 5).map(i => s"Tidy sentence número $i ends properly.").mkString("\n"))
    val rows = Seq(
      (0L, damaged),
      (1L, "too short page."))
    val stream = MemoryStream[(Long, String)]
    val query = pipeline(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("r7_clean_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("r7_clean_stream").orderBy("doc_id").collect()
      val batch = pipeline(rows.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed(0).getAs[Long]("keep") == 1L)
      assert(streamed(0).getAs[String]("text").contains("número")) // repaired
      assert(streamed(1).getAs[Long]("keep") == 0L)
    } finally query.stop()
  }

  test("deterministic sampling and splits stream unchanged, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    def pipeline(in: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.assignSplit(
        graft.ops.Sampling.sample(in, "doc_id", 0.6, salt = "s7"),
        "doc_id", salt = "s7")
        .select(col("doc_id"), col("split"))
    val rows = (0L until 200L).map(i => (i, s"doc $i"))
    val stream = MemoryStream[(Long, String)]
    val query = pipeline(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("r7_sample_stream")
      .outputMode("append").start()
    try {
      // two micro-batches: selection must not depend on batch boundaries
      stream.addData(rows.take(120): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(120): _*)
      query.processAllAvailable()
      val streamed = spark.table("r7_sample_stream").orderBy("doc_id").collect()
      val batch = pipeline(rows.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length > 60 && streamed.length < 180) // ~0.6 of 200
    } finally query.stop()
  }

  test("cms estimates from a streamed corpus equal batch: bounded d×w state") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (0L, "alpha beta alpha gamma"),
      (1L, "beta beta delta"),
      (2L, "alpha epsilon zeta"))
    val terms = Seq("alpha", "beta", "gamma", "missing")
    val stream = MemoryStream[(Long, String)]
    // the sketch table is an ordinary streaming aggregation: state is
    // d×w counters regardless of how many distinct terms stream past
    val query = graft.ops.Sketch.cmsTable(
        stream.toDF().toDF("doc_id", "text"), "text", d = 3, w = 512)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      stream.addData(rows.take(2): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(2): _*)
      query.processAllAvailable()
      val streamed = graft.ops.Sketch.cmsProbe(
          spark.table("cms_stream"), terms, d = 3, w = 512)
        .orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = graft.ops.Sketch.cmsTermCounts(
          rows.toDF("doc_id", "text"), "text", terms, d = 3, w = 512)
        .orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamed == batch)
      assert(streamed.toMap.apply("alpha") == 3L &&
        streamed.toMap.apply("missing") == 0L)
    } finally query.stop()
  }

  test("streaming chunk dedup: shared passage survives once, first arrival owns") {
    implicit val sqlCtx = spark.sqlContext
    val shared = (0 until 120).map(i => s"s$i").mkString(" ")
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val out = graft.streaming.StatefulOps.streamingChunkDedup(
      df, "text", "doc_id", "ts", window = 5, divisor = 8)
    val query = out.writeStream.format("memory").queryName("chunk_dedup_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      stream.addData((0L, ts(0), "one two three " + shared))
      query.processAllAvailable()
      stream.addData((1L, ts(1), "four five six seven " + shared))
      query.processAllAvailable()
      val byDoc = spark.table("chunk_dedup_out")
        .collect().map(r => r.getLong(0) -> r.getString(3))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val chunks0 = graft.ops.TextStats
        .cdcChunksValue("one two three " + shared, 5, 8).toSet
      // the first arrival owns every one of its chunks
      assert(byDoc(0L) == chunks0)
      // the later doc keeps its unique head but not the realigned shared
      // interior (already owned by doc 0)
      assert(byDoc(1L).exists(_.startsWith("four five six seven")))
      assert(byDoc(1L).intersect(chunks0).isEmpty)
      val chunks1 = graft.ops.TextStats
        .cdcChunksValue("four five six seven " + shared, 5, 8).toSet
      assert(byDoc(1L).size < chunks1.size)
    } finally query.stop()
  }

  test("cdc chunk table streams unchanged, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 30).map(i =>
      (i.toLong, (0 until 40).map(j => s"w${(i * 40 + j) % 150}").mkString(" ")))
    val stream = MemoryStream[(Long, String)]
    // chunking is a stateless scan-local explode — append mode, no state
    val q = graft.ops.Dedup.cdcChunkTable(
        stream.toDF().toDF("doc_id", "text"), "text", "doc_id",
        window = 5, divisor = 8)
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows.take(15): _*)
      q.processAllAvailable()
      stream.addData(rows.drop(15): _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      val batch = graft.ops.Dedup.cdcChunkTable(
        rows.toDF("doc_id", "text"), "text", "doc_id", window = 5, divisor = 8)
      assert(key(spark.table("cdc_stream")) == key(batch))
    } finally q.stop()
  }

  test("histogram buckets from a streamed corpus equal batch: bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1 to 100).map(i => (i.toLong, i.toDouble)) ++
      Seq((101L, -5.0), (102L, 250.0))
    val stream = MemoryStream[(Long, Double)]
    // the bucket table is an ordinary streaming aggregation: state is
    // buckets+2 counters no matter how many values stream past
    val query = graft.ops.Sketch.histTable(
        stream.toDF().toDF("id", "v"), "v", 0, 200, 20)
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    try {
      stream.addData(rows.take(50): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(50): _*)
      query.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = graft.ops.Sketch.histTable(rows.toDF("id", "v"), "v", 0, 200, 20)
      assert(m(spark.table("hist_stream")) == m(batch))
      // and a quantile read off the streamed counters agrees exactly
      val se = graft.ops.Sketch.histQuantile(
        spark.table("hist_stream"), 0.5, 0, 200, 20).collect().head
      val be = graft.ops.Sketch.histQuantile(batch, 0.5, 0, 200, 20)
        .collect().head
      assert(se == be)
    } finally query.stop()
  }

  test("hll registers from a streamed corpus equal batch: bounded 2^p state") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 500).map(i => (i.toLong, s"tok$i tok${i % 50}"))
    val stream = MemoryStream[(Long, String)]
    // the register table is an ordinary streaming MAX aggregation:
    // state is 2^p registers no matter how many distinct values pass
    val toks = graft.ops.Hll.hllRegisters(
      stream.toDF().toDF("doc_id", "text")
        .select(explode(split(col("text"), " ")).as("tok")), "tok", p = 10)
    val query = toks.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      stream.addData(rows.take(250): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(250): _*)
      query.processAllAvailable()
      def regMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val batch = graft.ops.Hll.hllRegisters(
        rows.toDF("doc_id", "text")
          .select(explode(split(col("text"), " ")).as("tok")), "tok", p = 10)
      assert(regMap(spark.table("hll_stream")) == regMap(batch))
      // and the estimates built from those registers agree too
      val se = graft.ops.Hll.hllEstimate(spark.table("hll_stream"), p = 10)
        .collect().head.getDouble(2)
      val be = graft.ops.Hll.hllEstimate(batch, p = 10)
        .collect().head.getDouble(2)
      assert(se == be)
    } finally query.stop()
  }

  test("match totals with HLL distinct-doc sketch (batch)") {
    val docs = Seq(
      (0L, "hash join hash join"),
      (1L, "hash join"),
      (2L, "nothing")).toDF("doc_id", "text")
    val out = AnnotationStream.matchTotals(docs, "text", "doc_id",
      Seq(DE("hash join", id = Some("hj")))).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 3L) // 3 matches
    assert(out.head.getLong(2) == 2L) // ~2 distinct docs
  }

  test("IdempotentSink: replayed batch id is a no-op, torn batch invisible") {
    import graft.streaming.IdempotentSink
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    assert(IdempotentSink.writeBatch(b0, dir, 0L))
    assert(IdempotentSink.writeBatch(b1, dir, 1L))
    // engine replay of batch 1 (same id, even different data): skipped
    assert(!IdempotentSink.writeBatch(
      Seq((99L, "dup")).toDF("id", "v"), dir, 1L))
    // torn write: batch dir exists but no marker -> invisible to readers
    Seq((42L, "torn")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/batch=7")
    val got = IdempotentSink.readCommitted(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // end-to-end through a REAL foreachBatch stream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val dir2 = java.nio.file.Files.createTempDirectory("graft_sink2").toString
    val q = ms.toDF().toDF("id", "v").writeStream
      .foreachBatch(graft.streaming.IdempotentSink.sink(dir2))
      .option("checkpointLocation", s"$dir2/_ckpt").start()
    try {
      ms.addData((1L, "x")); q.processAllAvailable()
      ms.addData((2L, "y")); q.processAllAvailable()
    } finally q.stop()
    val rows = IdempotentSink.readCommitted(spark, dir2)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L))
  }

  test("streamStreamJoin: range-bounded matches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    def toDf(ms: MemoryStream[(Long, Long, Timestamp)]) =
      ms.toDF().toDF("id", "user_id", "ts")
    val joined = graft.streaming.StatefulOps.streamStreamJoin(
      toDf(left), toDf(right), "user_id", "ts", windowSec = 600L,
      delay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      left.addData((1L, 7L, ts(0)), (2L, 8L, ts(1)))
      q.processAllAvailable()
      // match from a LATER micro-batch (state buffered), in-window
      right.addData((10L, 7L, ts(5)))
      // out-of-window (> 10 min after left #1): no match
      right.addData((11L, 7L, ts(12)))
      // wrong key: no match
      right.addData((12L, 9L, ts(2)))
      q.processAllAvailable()
      // right event BEFORE any left event in its window
      left.addData((3L, 9L, ts(1)))
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select($"id", $"r_id", $"user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // left 3 @10:01 vs right 12 @10:02: matches (arrived earlier,
      // still buffered — stream order must not matter within the delay)
      assert(rows == Set((1L, 10L), (3L, 12L)))
    } finally q.stop()
  }

  test("streamStreamJoin left_outer: unmatched lefts emit null-padded " +
      "once the watermark closes their window") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    def toDf(ms: MemoryStream[(Long, Long, Timestamp)]) =
      ms.toDF().toDF("id", "user_id", "ts")
    val joined = graft.streaming.StatefulOps.streamStreamJoin(
      toDf(left), toDf(right), "user_id", "ts", windowSec = 600L,
      delay = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_lo_out")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // click 1 converts (right in window); click 2 NEVER converts —
      // the row the inner join silently omits
      left.addData((1L, 7L, ts(10, 0)), (2L, 8L, ts(10, 1)))
      right.addData((10L, 7L, ts(10, 5)))
      q.processAllAvailable()
      // push both watermarks far past click 2's window so its
      // unmatched row is released
      left.addData((99L, 999L, ts(12, 0)))
      right.addData((98L, 999L, ts(12, 0)))
      q.processAllAvailable()
      left.addData((97L, 998L, ts(13, 0)))
      right.addData((96L, 998L, ts(13, 0)))
      q.processAllAvailable()
      val rows = spark.table("ssj_lo_out")
        .filter($"id" < 90).select($"id", $"r_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sortBy(identity).toSeq
      // exact multiset: the matched pair once, the unmatched left once
      // with null right — same match set as inner, plus the null row
      assert(rows == Seq((1L, 10L), (2L, -1L)), rows.toString)
    } finally q.stop()
    spark.catalog.dropTempView("ssj_lo_out")
  }

  test("streamStreamJoin right_outer: unmatched rights emit null-padded " +
      "once the watermark passes their timestamp") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    def toDf(ms: MemoryStream[(Long, Long, Timestamp)]) =
      ms.toDF().toDF("id", "user_id", "ts")
    val joined = graft.streaming.StatefulOps.streamStreamJoin(
      toDf(left), toDf(right), "user_id", "ts", windowSec = 600L,
      delay = "10 minutes", joinType = "right_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_ro_out")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // purchase 10 attributes to click 1; purchase 11 has NO click in
      // the 10 minutes before it — the row the inner join omits
      left.addData((1L, 7L, ts(10, 0)))
      right.addData((10L, 7L, ts(10, 5)), (11L, 8L, ts(10, 1)))
      q.processAllAvailable()
      // two sentinel rounds push both watermarks far past purchase 11
      left.addData((99L, 999L, ts(12, 0)))
      right.addData((98L, 999L, ts(12, 0)))
      q.processAllAvailable()
      left.addData((97L, 998L, ts(13, 0)))
      right.addData((96L, 998L, ts(13, 0)))
      q.processAllAvailable()
      val rows = spark.table("ssj_ro_out")
        .filter($"r_id" < 90).select($"id", $"r_id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq
      // exact multiset: the matched pair once, the unmatched right once
      // with null LEFT columns — the caller keeps the r_ naming instead
      // of hand-mirroring a swapped left_outer
      assert(rows == Seq((-1L, 11L), (1L, 10L)), rows.toString)
    } finally q.stop()
    spark.catalog.dropTempView("ssj_ro_out")
  }

  test("property: streamStreamJoin right_outer equals the batch RIGHT " +
      "range join on random feeds and chunk cuts") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    implicit val sqlCtx = spark.sqlContext
    // the r15 verdict's mirror property, stated against the ground
    // truth instead of a hand-mirrored call (the window is directional
    // — r.ts ∈ [l.ts, l.ts+w] — so left_outer-with-swapped-inputs is a
    // DIFFERENT predicate; the batch rebuild through the same operator
    // is the honest oracle, and batch withWatermark is a no-op)
    val prop = Prop.forAllNoShrink(Gen.choose(0L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      def rows(idBase: Long, n: Int): Seq[(Long, Long, Timestamp)] =
        (0 until n).map { i =>
          (idBase + i, rnd.nextInt(3).toLong + 1L,
            Timestamp.valueOf(f"2024-01-01 10:${rnd.nextInt(50)}%02d:00"))
        }
      val lRows = rows(100L, 10)
      val rRows = rows(200L, 10)
      val left = MemoryStream[(Long, Long, Timestamp)]
      val right = MemoryStream[(Long, Long, Timestamp)]
      def toDf(ms: MemoryStream[(Long, Long, Timestamp)]) =
        ms.toDF().toDF("id", "user_id", "ts")
      val joined = graft.streaming.StatefulOps.streamStreamJoin(
        toDf(left), toDf(right), "user_id", "ts", windowSec = 600L,
        delay = "10 minutes", joinType = "right_outer")
      val name = "ssj_ro_prop"
      spark.catalog.dropTempView(name)
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // random chronological cut: both sides advance together so the
        // joint watermark moves — the unmatched-release path must hold
        // across micro-batch boundaries, not just in one batch
        val cutMs = Timestamp.valueOf(
          f"2024-01-01 10:${rnd.nextInt(50)}%02d:00").getTime
        Seq(
          (lRows.filter(_._3.getTime < cutMs), rRows.filter(_._3.getTime < cutMs)),
          (lRows.filter(_._3.getTime >= cutMs), rRows.filter(_._3.getTime >= cutMs))
        ).foreach { case (ls, rs) =>
          if (ls.nonEmpty) left.addData(ls)
          if (rs.nonEmpty) right.addData(rs)
          if (ls.nonEmpty || rs.nonEmpty) q.processAllAvailable()
        }
        def ts(h: Int) = Timestamp.valueOf(f"2024-01-02 $h%02d:00:00")
        Seq(12, 13).foreach { h =>
          left.addData((999L, 999L, ts(h)))
          right.addData((998L, 999L, ts(h)))
          q.processAllAvailable()
        }
      } finally q.stop()
      def multiset(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        df.select(
            coalesce(col("user_id"), col("r_user_id")).as("k"),
            col("id"), col("r_id"))
          .filter(col("k") < 900)
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
          .sortBy(identity).toSeq
      val got = multiset(spark.table(name))
      val want = multiset(graft.streaming.StatefulOps.streamStreamJoin(
        lRows.toDF("id", "user_id", "ts"), rRows.toDF("id", "user_id", "ts"),
        "user_id", "ts", windowSec = 600L, joinType = "right_outer"))
      spark.catalog.dropTempView(name)
      if (got != want) info(s"MISMATCH seed=$seed got=$got want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(16L), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: streamAsofScd2 equals the batch asofJoin rebuild on " +
      "random SCD2 histories, nulls included") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the operator docstring's as-of equivalence claim, generator-pinned:
    // interval membership against an Events.scd2 dimension selects
    // exactly the row a backward asofJoin on effective_from selects —
    // including null/unknown probe keys and null probe timestamps
    // (both unmatched under SQL semantics on both sides since r14),
    // duplicate-timestamp transitions (degenerate empty intervals),
    // and probes before a key's first version. Batch withWatermark is
    // a no-op, so no streaming query per generated case is needed; the
    // micro-batch behavior itself is pinned by the fixed-case test.
    val prop = Prop.forAllNoShrink(Gen.choose(0L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      def k(): Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(3).toLong)
      def t(): Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(1000L + rnd.nextInt(50))
      val hist = (0 until 30).map(i =>
        (k(), t(), i.toLong, Seq("p", "q", "r")(rnd.nextInt(3))))
        .toDF("user_id", "ts", "event_id", "plan")
      val dim = graft.ops.Events.scd2(hist, "user_id", "ts", "event_id",
        "plan")
      // unknown key 42 and null keys/ts among the probes
      val probes = (0 until 25).map { i =>
        val pk = if (rnd.nextInt(8) == 0) Some(42L) else k()
        (pk, t(), i.toLong)
      }.toDF("user_id", "ts", "event_id")
      // MULTISET comparison (ADVICE r14): collapsing into a Map keyed
      // by event_id would mask a fan-out bug (duplicate output rows for
      // one probe — e.g. a dim version-overlap regression) on both
      // sides at once. Sorted tuple Seqs preserve duplicates, and the
      // row count must equal the probe count exactly (left join: one
      // output row per probe, matched or not).
      def m(df: org.apache.spark.sql.DataFrame, v: String, p: String) =
        df.select(col("event_id"), col(v), col(p)).collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) "" else r.getString(2)))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      val stream = m(graft.streaming.StatefulOps.streamAsofScd2(
        probes, dim, "user_id", "ts", Seq("version", "plan")),
        "dim_version", "dim_plan")
      val batch = m(graft.ops.Joins.asofJoin(
        probes,
        dim.select(col("user_id"), col("effective_from").as("ts"),
          col("version"), col("plan")),
        "user_id", "ts"), "r_version", "r_plan")
      if (stream != batch) info(s"MISMATCH seed=$seed: " +
        stream.zip(batch).filter(x => x._1 != x._2).take(5).toString)
      stream.size == 25 && batch.size == 25 && stream == batch
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(48L), prop)
    assert(res.passed, res.status.toString)
  }

  test("streamAsofScd2 equals the batch asofJoin rebuild across batches") {
    implicit val sqlCtx = spark.sqlContext
    // event history with several versions per user, plus boundary hits
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val hist = Seq(
      (1L, 7L, ts(0), "free"), (2L, 7L, ts(10), "pro"),
      (3L, 7L, ts(20), "free"),
      (4L, 8L, ts(5), "pro"),
      (5L, 9L, ts(1), "free"), (6L, 9L, ts(1), "free")) // dup collapses
    val histDf = hist.toDF("event_id", "user_id", "ts", "plan")
    val dim = graft.ops.Events.scd2(histDf, "user_id", "ts", "event_id", "plan")
    // probes: mid-interval, EXACT boundary (must take the NEW version:
    // half-open intervals), before first version (null), unknown key
    val probes = Seq(
      (100L, 7L, ts(5)),   // free
      (101L, 7L, ts(10)),  // boundary -> pro
      (102L, 7L, ts(25)),  // open current interval -> free (v3)
      (103L, 8L, ts(4)),   // before first version -> null
      (104L, 42L, ts(5)))  // unknown key -> null
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val streamDf = ms.toDF().toDF("event_id", "user_id", "ts")
    val enriched = graft.streaming.StatefulOps.streamAsofScd2(
      streamDf, dim, "user_id", "ts", Seq("version", "plan"))
    val q = enriched.writeStream.format("memory").queryName("sasof_out")
      .outputMode("append").start()
    try {
      // two micro-batches: stream-static is stateless, every batch must
      // see the same dimension
      ms.addData(probes.take(2))
      q.processAllAvailable()
      ms.addData(probes.drop(2))
      q.processAllAvailable()
      // sorted-Seq MULTISET compare + exact row count (ADVICE r14): a
      // Set would collapse a fan-out duplicate and still pass
      def rows(df: org.apache.spark.sql.DataFrame, v: String, p: String) =
        df.select(col("event_id"), col(v), col(p)).collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) "" else r.getString(2)))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      val got = rows(spark.table("sasof_out"), "dim_version", "dim_plan")
      assert(got.size == probes.size,
        s"one output row per probe expected, got ${got.size}: $got")
      // batch rebuild: backward as-of join of the same probes against
      // the dimension keyed on effective_from — must agree row for row
      val dimAsTs = dim.select($"user_id", $"effective_from".as("ts"),
        $"version", $"plan")
      val batch = rows(graft.ops.Joins.asofJoin(
          probes.toDF("event_id", "user_id", "ts"), dimAsTs,
          "user_id", "ts"), "r_version", "r_plan")
      assert(got == batch, s"stream $got != batch rebuild $batch")
      assert(got == Seq(
        (100L, 1L, "free"), (101L, 2L, "pro"), (102L, 3L, "free"),
        (103L, -1L, ""), (104L, -1L, "")))
    } finally q.stop()
  }

  test("streamAsofScd2 materializes the dimension once across " +
      "micro-batches and releases it on query termination") {
    implicit val sqlCtx = spark.sqlContext
    // Structured Streaming re-evaluates the static side's plan every
    // micro-batch; materializeDim (default ON) must confine the
    // dimension pipeline to exactly ONE execution. Counted with an
    // accumulator inside the pipeline: with the persist, only the
    // first micro-batch's cache build pays it; without, 4 micro-batches
    // would add 4 x nDim.
    val acc = spark.sparkContext.longAccumulator("dim_evals_r15")
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val hist = Seq(
      (1L, 7L, ts(0), "free"), (2L, 7L, ts(10), "pro"),
      (3L, 8L, ts(5), "pro"))
      .toDF("event_id", "user_id", "ts", "plan")
    val tick = udf((v: Long) => { acc.add(1L); v })
    val dim = graft.ops.Events.scd2(hist, "user_id", "ts", "event_id", "plan")
      .withColumn("version", tick(col("version")))
    val nDim = hist.count() // scd2 keeps all 3 (no consecutive dups)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val streamDf = ms.toDF().toDF("event_id", "user_id", "ts")
    val enriched = graft.streaming.StatefulOps.streamAsofScd2(
      streamDf, dim, "user_id", "ts", Seq("version", "plan"))
    val q = enriched.writeStream.format("memory").queryName("sasof_once")
      .outputMode("append").start()
    try {
      for (i <- 0 until 4) {
        ms.addData((100L + i, 7L, ts(i * 3 + 1)))
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
      assert(spark.table("sasof_once").count() == 4)
      assert(acc.value == nDim,
        s"dimension pipeline row-evals: ${acc.value}, want $nDim — the " +
          "static side must execute exactly once across 4 micro-batches")
    } finally q.stop()
    // the listener releases the cache once the session's last
    // streaming query terminates (fires async on the listener bus)
    val deadline = System.nanoTime + 10000000000L
    while (spark.sparkContext.getPersistentRDDs.size > rddsBefore &&
        System.nanoTime < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore,
      "dimension cache must release after the streaming query terminates")
  }

  test("streamAsofScd2 dim cache survives an unrelated query's " +
      "quiet-session release before the consumer starts") {
    implicit val sqlCtx = spark.sqlContext
    // the hole the r15 review found: the release listener arms at plan
    // BUILD time, so an unrelated query terminating (session quiet)
    // between build and our query's start used to unpersist the dim
    // and retire the listener — the consumer then recomputed the whole
    // dimension pipeline EVERY micro-batch for its whole life, with no
    // signal. The listener now re-persists on any query start and only
    // retires after a start was observed since arming.
    val acc = spark.sparkContext.longAccumulator("dim_evals_r15b")
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val hist = Seq(
      (1L, 7L, ts(0), "free"), (2L, 7L, ts(10), "pro"))
      .toDF("event_id", "user_id", "ts", "plan")
    val tick = udf((v: Long) => { acc.add(1L); v })
    val dim = graft.ops.Events.scd2(hist, "user_id", "ts", "event_id", "plan")
      .withColumn("version", tick(col("version")))
    val nDim = hist.count()
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val enriched = graft.streaming.StatefulOps.streamAsofScd2(
      ms.toDF().toDF("event_id", "user_id", "ts"), dim,
      "user_id", "ts", Seq("version", "plan")) // plan built, listener armed
    // unrelated query starts and stops -> session quiet -> old code
    // unpersisted the dim here and retired the listener
    val msOther = MemoryStream[Long]
    val qOther = msOther.toDF().writeStream.format("memory")
      .queryName("sasof_unrelated").outputMode("append").start()
    msOther.addData(1L)
    qOther.processAllAvailable()
    qOther.stop()
    qOther.awaitTermination()
    // drain the listener bus so the quiet-session release definitely
    // happened before the consumer starts (the worst-case ordering)
    Thread.sleep(500)
    val q = enriched.writeStream.format("memory").queryName("sasof_revive")
      .outputMode("append").start()
    try {
      for (i <- 0 until 4) {
        ms.addData((300L + i, 7L, ts(i * 3 + 1)))
        q.processAllAvailable()
      }
      assert(spark.table("sasof_revive").count() == 4)
      // fixed: <= 2 evaluations (one from the pre-release build path or
      // a first batch racing the async re-persist, one cache build).
      // The old behavior recomputes per batch: 4 x nDim minimum.
      assert(acc.value <= 2 * nDim,
        s"dimension pipeline row-evals: ${acc.value} for nDim=$nDim — " +
          "the dim cache did not survive the unrelated query's release")
    } finally q.stop()
  }

  test("streamAsofScd2: maxDimPins conf honored, eviction logs the knob") {
    implicit val sqlCtx = spark.sqlContext
    val SO = graft.streaming.StatefulOps
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val dim = Seq((7L, ts(0), null.asInstanceOf[Timestamp], 1L, "free"))
      .toDF("user_id", "effective_from", "effective_to", "version", "plan")
    def plan(): Unit = {
      val ms = MemoryStream[(Long, Long, Timestamp)]
      SO.streamAsofScd2(ms.toDF().toDF("event_id", "user_id", "ts"), dim,
        "user_id", "ts", Seq("version", "plan"))
      ()
    }
    // capture the eviction WARN via a log4j2 appender on the exact
    // logger the pin registry writes to (the operability contract says
    // evictions are LOUD — same technique as the CacheRelease cap test)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-dimpin-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val coreLogger = org.apache.logging.log4j.LogManager
      .getLogger("graft.streaming.StatefulOps")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val prevLevel = coreLogger.getLevel
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.streaming.StatefulOps", org.apache.logging.log4j.Level.WARN)
    coreLogger.addAppender(appender)
    try {
      spark.conf.set(SO.maxDimPinsKey, "1")
      plan() // may already evict pins armed by earlier tests
      plan() // definitely evicts the pin armed one line up
      assert(SO.dimPinCount == 1,
        s"cap 1 must hold: ${SO.dimPinCount} pins armed")
      val msgs = captured.toArray.map(_.toString)
      assert(msgs.exists(_.contains(SO.maxDimPinsKey)),
        s"eviction must log the conf knob; got: ${msgs.mkString(" | ")}")
      // bad values fail loudly at plan build, never a silent default
      spark.conf.set(SO.maxDimPinsKey, "0")
      intercept[IllegalArgumentException] { plan() }
      spark.conf.set(SO.maxDimPinsKey, "banana")
      intercept[IllegalArgumentException] { plan() }
      spark.conf.unset(SO.maxDimPinsKey)
      plan() // default 64 accepted
      assert(SO.dimPinCount == 2)
    } finally {
      spark.conf.unset(SO.maxDimPinsKey)
      coreLogger.removeAppender(appender)
      appender.stop()
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "graft.streaming.StatefulOps", prevLevel)
    }
  }

  test("streamAsofScd2: enriched output is invariant to micro-batch " +
      "cuts (1/2/4 chunks, 2 random cut seeds)") {
    implicit val sqlCtx = spark.sqlContext
    // the stateless-join claim implies the result cannot depend on
    // where the stream is chopped into micro-batches — pin it by
    // running the SAME probe set through 1, 2 and 4 random
    // chronological cuts and demanding identical multisets
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val hist = Seq(
      (1L, 7L, ts(0), "free"), (2L, 7L, ts(10), "pro"),
      (3L, 7L, ts(20), "free"), (4L, 8L, ts(5), "pro"))
      .toDF("event_id", "user_id", "ts", "plan")
    val dim = graft.ops.Events.scd2(hist, "user_id", "ts", "event_id", "plan")
    val probes = Seq(
      (200L, 7L, ts(1)), (201L, 7L, ts(10)), (202L, 7L, ts(15)),
      (203L, 7L, ts(25)), (204L, 8L, ts(4)), (205L, 8L, ts(6)),
      (206L, 42L, ts(8)), (207L, 7L, ts(0)), (208L, 8L, ts(30)),
      (209L, 7L, ts(19)), (210L, 7L, ts(20)), (211L, 42L, ts(2)))
      .sortBy(_._3.getTime)
    var runId = 0
    def run(chunks: Seq[Seq[(Long, Long, Timestamp)]]): Seq[(Long, Long, String)] = {
      runId += 1
      val name = s"sasof_cuts_$runId"
      val ms = MemoryStream[(Long, Long, Timestamp)]
      val enriched = graft.streaming.StatefulOps.streamAsofScd2(
        ms.toDF().toDF("event_id", "user_id", "ts"), dim,
        "user_id", "ts", Seq("version", "plan"))
      val q = enriched.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          if (c.nonEmpty) { ms.addData(c); q.processAllAvailable() }
        }
      } finally q.stop()
      val out = spark.table(name)
        .select($"event_id", $"dim_version", $"dim_plan").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) "" else r.getString(2)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      spark.catalog.dropTempView(name)
      out
    }
    for (seed <- Seq(11L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val outs = Seq(1, 2, 4).map { n =>
        // n-1 distinct random cut POSITIONS in the chronological order
        val pos = rnd.shuffle((1 until probes.size).toList).take(n - 1).sorted
        val bounds = 0 +: pos :+ probes.size
        val chunks = bounds.zip(bounds.tail)
          .map { case (a, b) => probes.slice(a, b) }
        run(chunks)
      }
      outs.foreach(o => assert(o.size == probes.size,
        s"seed $seed: one output row per probe, got ${o.size}"))
      assert(outs.distinct.size == 1,
        s"seed $seed: outputs differ across micro-batch cuts: $outs")
    }
  }

  test("streamingDedup state survives a checkpoint restart; sink stays " +
      "exactly-once across the stop") {
    // the production lifecycle no other test exercises: a stateful
    // query STOPS (deploy, crash, rebalance) and a NEW query resumes
    // from the checkpoint — dedup state must carry over (a text seen
    // before the stop stays suppressed after it) and the idempotent
    // sink must not double-write any replayed batch
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val ms = MemoryStream[(Timestamp, String)]
    def start() = graft.streaming.StatefulOps.streamingDedup(
        ms.toDF().toDF("ts", "text"), "text", "ts", delay = "1 hour")
      .writeStream.foreachBatch(graft.streaming.IdempotentSink.sink(s"$root/out"))
      .option("checkpointLocation", s"$root/_ckpt").start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val q1 = start()
    try {
      ms.addData((ts(0), "alpha"), (ts(1), "beta"))
      q1.processAllAvailable()
    } finally q1.stop()
    q1.awaitTermination()
    val q2 = start() // same checkpoint, fresh query
    try {
      // "alpha" is a dup ONLY if the dropDuplicatesWithinWatermark
      // state store recovered; "gamma" proves the resumed query flows
      ms.addData((ts(5), "alpha"), (ts(5), "gamma"))
      q2.processAllAvailable()
    } finally q2.stop()
    val texts = graft.streaming.IdempotentSink.readCommitted(spark, s"$root/out")
      .select($"text").collect().map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("alpha", "beta", "gamma"),
      s"expected exactly-once texts across the restart, got $texts")
  }

  test("streamingNearDupHits custom state survives a checkpoint restart: " +
      "pre-stop bucket owner still triggers hits") {
    // pins the CUSTOM state class (BucketState: priorId + sig array +
    // lastMs) through a state-store round trip — an encoder/schema
    // regression would silently forget every bucket owner on restart
    // and near-dups arriving after a deploy would sail through
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_restart_nd").toString
    val ms = MemoryStream[(Long, Timestamp, String)]
    // the memory sink refuses checkpoint recovery; foreachBatch (the
    // production sink shape) supports it
    def start() = graft.streaming.StatefulOps.streamingNearDupHits(
        ms.toDF().toDF("doc_id", "ts", "text"), "text", "doc_id", "ts",
        n = 3, numPerms = 64, bands = 16, delaySec = 3600)
      .toDF()
      .writeStream.foreachBatch(graft.streaming.IdempotentSink.sink(s"$root/out"))
      .option("checkpointLocation", s"$root/_ckpt").start()
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val q1 = start()
    try {
      ms.addData((1L, ts(0), textA)) // doc 1 claims every band bucket
      q1.processAllAvailable()
    } finally q1.stop()
    q1.awaitTermination()
    val preStop = graft.streaming.IdempotentSink.readCommitted(spark, s"$root/out")
    assert(preStop.isEmpty) // first owner: no hits
    val q2 = start()
    try {
      ms.addData((2L, ts(5), textA)) // identical text, post-restart
      q2.processAllAvailable()
    } finally q2.stop()
    val hits = graft.streaming.IdempotentSink.readCommitted(spark, s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // all 16 bands hit, each remembering the PRE-RESTART owner
    assert(hits.length == 16, s"expected 16 band hits, got ${hits.mkString(", ")}")
    assert(hits.forall { case (docId, priorId, agree) =>
      docId == 2L && priorId == 1L && agree == 1.0 }, hits.mkString(", "))
  }

  test("streamAsofTemporal: out-of-order dim update wins once the joint " +
      "watermark seals the event") {
    implicit val sqlCtx = spark.sqlContext
    val ev = MemoryStream[(Long, Long, Timestamp)] // event_id, user_id, ts
    val dm = MemoryStream[(Long, Timestamp, String)] // user_id, from, plan
    val out = graft.streaming.StatefulOps.streamAsofTemporal(
      ev.toDF().toDF("event_id", "user_id", "ts"),
      dm.toDF().toDF("user_id", "effective_from", "plan"),
      "user_id", "ts", Seq("plan"))
    val q = out.writeStream.format("memory").queryName("satemp_out")
      .outputMode("append").start()
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // batch 1: v1 bronze@10:00; events BEFORE any version (e0@9:00),
      // mid (e1@10:30), and a key the dim never updates (e5)
      dm.addData((7L, ts(10, 0), "bronze"))
      ev.addData((0L, 7L, ts(9, 0)), (1L, 7L, ts(10, 30)), (5L, 8L, ts(10, 40)))
      q.processAllAvailable()
      // the joint watermark (min of both inputs, here dim's 09:50)
      // already seals e0@9:00 — null, no version that early — but NOT
      // e1@10:30: the out-of-order silver update can still win it
      assert(spark.table("satemp_out").select($"event_id")
        .collect().map(_.getLong(0)).toSeq == Seq(0L))
      // batch 2: the OUT-OF-ORDER dim update — silver@10:25 arrives
      // AFTER e1@10:30 did; a stream-static join would have missed it
      dm.addData((7L, ts(10, 25), "silver"))
      q.processAllAvailable()
      // batch 3: sentinels push BOTH watermarks past every event
      ev.addData((99L, 999L, ts(12, 0)))
      dm.addData((999L, ts(12, 0), "x"))
      q.processAllAvailable()
      val got = spark.table("satemp_out")
        .filter($"event_id" < 90).select($"event_id", $"dim_plan")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) "" else r.getString(1)))
        .sortBy(_._1).toSeq
      assert(got == Seq((0L, ""), (1L, "silver"), (5L, "")),
        s"got $got — e1 must enrich with the out-of-order silver version")
    } finally q.stop()
    spark.catalog.dropTempView("satemp_out")
  }

  test("property: streamAsofTemporal in batch mode equals asofJoin on " +
      "random update streams, nulls included") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // batch execution seals every event immediately (no watermark), so
    // the operator must BE the backward as-of join — generator-pinned
    // against Joins.asofJoin, including null/unknown event keys, null
    // event timestamps (both pass through unmatched under SQL
    // semantics), null-key/null-ts dim updates (never matches), and
    // events before a key's first version
    val prop = Prop.forAllNoShrink(Gen.choose(0L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      def k(): Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(3).toLong)
      def t(): Option[Timestamp] =
        if (rnd.nextInt(8) == 0) None
        else Some(new Timestamp(1700000000000L + rnd.nextInt(50) * 60000L))
      // distinct (key, instant) pairs: the duplicate-instant tie-break
      // is deterministic but deliberately not bitwise the batch rule
      val upd = rnd.shuffle((0L to 2L).flatMap(kk => (0 until 50).map(i =>
          (kk, 1700000000000L + i * 60000L))).toList).take(20)
        .map { case (kk, ms) =>
          val key: Option[Long] = if (rnd.nextInt(10) == 0) None else Some(kk)
          val ts: Option[Timestamp] =
            if (rnd.nextInt(10) == 0) None else Some(new Timestamp(ms))
          (key, ts, Seq("p", "q", "r")(rnd.nextInt(3)))
        }.toDF("user_id", "effective_from", "plan")
      val probes = (0 until 25).map { i =>
        val pk = if (rnd.nextInt(8) == 0) Some(42L) else k()
        (pk, t(), i.toLong)
      }.toDF("user_id", "ts", "event_id")
      def m(df: org.apache.spark.sql.DataFrame, p: String) =
        df.select(col("event_id"), col(p)).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
          .sortBy(identity).toSeq
      val stream = m(graft.streaming.StatefulOps.streamAsofTemporal(
        probes, upd, "user_id", "ts", Seq("plan"),
        dimTsCol = "effective_from"), "dim_plan")
      val batch = m(graft.ops.Joins.asofJoin(
        probes, upd.select(col("user_id"), col("effective_from").as("ts"),
          col("plan")), "user_id", "ts"), "r_plan")
      if (stream != batch) info(s"MISMATCH seed=$seed: " +
        stream.zip(batch).filter(x => x._1 != x._2).take(5).toString)
      stream.size == 25 && batch.size == 25 && stream == batch
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(52L), prop)
    assert(res.passed, res.status.toString)
  }

  test("streamAsofTemporal STREAMING equals the batch asofJoin on random " +
      "histories fed in random chronological cuts") {
    // the batch-mode property pins the resolution logic; this pins the
    // STREAMING path — watermark sealing, per-key state carry across
    // micro-batches, timeout-driven emission — against the same batch
    // asofJoin oracle, on randomized histories and randomized cuts
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    var runId = 0
    for (seed <- Seq(7L, 19L, 31L)) {
      val rnd = new scala.util.Random(seed)
      // distinct (key, instant) update pairs; events free to collide
      val upd = rnd.shuffle((0L to 2L).flatMap(k => (0 until 40).map(i =>
          (k, base + i * 60000L))).toList).take(12)
        .map { case (k, ms) => (k, new Timestamp(ms),
          Seq("p", "q", "r")(rnd.nextInt(3))) }
      val evs = (0 until 20).map { i =>
        val k = if (rnd.nextInt(6) == 0) 42L else rnd.nextInt(3).toLong
        (i.toLong, k, new Timestamp(base + rnd.nextInt(40) * 60000L))
      }
      // one chronological timeline, cut at random positions (in-order
      // feed = the watermark contract under which results are exact)
      val timeline: Seq[Either[(Long, Long, Timestamp), (Long, Timestamp, String)]] =
        (evs.map(Left(_)) ++ upd.map(Right(_))).sortBy {
          case Left(e) => (e._3.getTime, 0, e._1)
          case Right(u) => (u._2.getTime, 1, u._1)
        }
      val nCuts = 1 + rnd.nextInt(4)
      val pos = rnd.shuffle((1 until timeline.size).toList).take(nCuts).sorted
      val bounds = 0 +: pos :+ timeline.size
      runId += 1
      val name = s"satemp_prop_$runId"
      val msE = MemoryStream[(Long, Long, Timestamp)]
      val msU = MemoryStream[(Long, Timestamp, String)]
      val out = graft.streaming.StatefulOps.streamAsofTemporal(
        msE.toDF().toDF("event_id", "user_id", "ts"),
        msU.toDF().toDF("user_id", "effective_from", "plan"),
        "user_id", "ts", Seq("plan"))
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val seg = timeline.slice(a, b)
          val es = seg.collect { case Left(e) => e }
          val us = seg.collect { case Right(u) => u }
          if (es.nonEmpty) msE.addData(es)
          if (us.nonEmpty) msU.addData(us)
          if (es.nonEmpty || us.nonEmpty) q.processAllAvailable()
        }
        val flush = new Timestamp(base + 86400000L)
        msE.addData((-1L, -10L, flush))
        msU.addData((-10L, flush, "zz"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).filter($"event_id" >= 0)
        .select($"event_id", $"dim_plan").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
        .sortBy(identity).toSeq
      spark.catalog.dropTempView(name)
      val batch = graft.ops.Joins.asofJoin(
          evs.toDF("event_id", "user_id", "ts"),
          upd.toDF("user_id", "ts", "plan"), "user_id", "ts")
        .select($"event_id", $"r_plan").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
        .sortBy(identity).toSeq
      assert(got.size == evs.size,
        s"seed $seed: one row per event, got ${got.size}")
      assert(got == batch, s"seed $seed cuts $pos: stream $got != batch $batch")
    }
  }

  test("streamAsofTemporal: micro-batch cut invariance, duplicate-instant " +
      "updates deterministic across arrival orders") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // one chronological timeline of events and updates (the watermark
    // contract: invariance is guaranteed for in-order feeds — an
    // out-of-order straggler is the documented best-effort case) with
    // two updates at the SAME instant, whose tie must resolve to the
    // greatest serialized attributes regardless of which cut or
    // within-instant order they arrive in
    type Upd = (Long, Timestamp, String)
    type Ev = (Long, Long, Timestamp)
    def timeline(swapTie: Boolean): Seq[Either[Ev, Upd]] = {
      val tie: Seq[Either[Ev, Upd]] =
        if (swapTie) Seq(Right((7L, ts(10, 20), "silver")), Right((7L, ts(10, 20), "gold")))
        else Seq(Right((7L, ts(10, 20), "gold")), Right((7L, ts(10, 20), "silver")))
      Seq[Either[Ev, Upd]](
        Right((7L, ts(10, 0), "bronze")),
        Left((4L, 8L, ts(10, 4))), // before key 8's first version
        Right((8L, ts(10, 5), "pro")),
        Left((5L, 8L, ts(10, 6))),
        Left((1L, 7L, ts(10, 10)))) ++ tie ++ Seq[Either[Ev, Upd]](
        Left((2L, 7L, ts(10, 20))), // exactly at the tie instant
        Left((3L, 7L, ts(10, 45))))
    }
    var runId = 0
    def run(tl: Seq[Either[Ev, Upd]], cutAt: Seq[Int]): Seq[(Long, String)] = {
      runId += 1
      val name = s"satemp_cuts_$runId"
      val ev = MemoryStream[(Long, Long, Timestamp)]
      val dm = MemoryStream[(Long, Timestamp, String)]
      val out = graft.streaming.StatefulOps.streamAsofTemporal(
        ev.toDF().toDF("event_id", "user_id", "ts"),
        dm.toDF().toDF("user_id", "effective_from", "plan"),
        "user_id", "ts", Seq("plan"))
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val bounds = 0 +: cutAt.distinct.sorted :+ tl.size
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val seg = tl.slice(a, b)
          val es = seg.collect { case Left(e) => e }
          val us = seg.collect { case Right(u) => u }
          if (es.nonEmpty) ev.addData(es)
          if (us.nonEmpty) dm.addData(us)
          if (es.nonEmpty || us.nonEmpty) q.processAllAvailable()
        }
        ev.addData((99L, 999L, ts(12, 0)))
        dm.addData((999L, ts(12, 0), "zz"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).filter($"event_id" < 90)
        .select($"event_id", $"dim_plan").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
        .sortBy(identity).toSeq
      spark.catalog.dropTempView(name)
      got
    }
    val outs = Seq(
      run(timeline(false), Nil), // one batch
      run(timeline(false), Seq(3, 6)), // cut inside the tie pair
      run(timeline(true), Seq(5)), // tie arrives swapped
      run(timeline(true), Seq(1, 2, 4, 7))) // near row-at-a-time
    outs.foreach(o => assert(o.size == 5, s"one row per event, got $o"))
    assert(outs.distinct.size == 1,
      s"outputs differ across cuts/arrival orders: $outs")
    // and the tie at 10:20 resolved to the greatest attributes (silver)
    assert(outs.head == Seq((1L, "bronze"), (2L, "silver"), (3L, "silver"),
      (4L, ""), (5L, "pro")), outs.head.toString)
  }

  test("streamAsofTemporal: dim history survives a checkpoint restart; " +
      "idleTtl evicts a quiet key's state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // --- restart: versions learned before the stop enrich events after
    val root = java.nio.file.Files.createTempDirectory("graft_satemp").toString
    val ev = MemoryStream[(Long, Long, Timestamp)]
    val dm = MemoryStream[(Long, Timestamp, String)]
    def start() = graft.streaming.StatefulOps.streamAsofTemporal(
        ev.toDF().toDF("event_id", "user_id", "ts"),
        dm.toDF().toDF("user_id", "effective_from", "plan"),
        "user_id", "ts", Seq("plan"))
      .writeStream.foreachBatch(graft.streaming.IdempotentSink.sink(s"$root/out"))
      .option("checkpointLocation", s"$root/_ckpt").start()
    val q1 = start()
    try {
      dm.addData((7L, ts(10, 0), "bronze"))
      q1.processAllAvailable()
    } finally q1.stop()
    q1.awaitTermination()
    val q2 = start()
    try {
      ev.addData((1L, 7L, ts(10, 30)))
      q2.processAllAvailable()
      ev.addData((99L, 999L, ts(12, 0)))
      dm.addData((999L, ts(12, 0), "zz"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = graft.streaming.IdempotentSink.readCommitted(spark, s"$root/out")
      .filter($"event_id" === 1L).select($"dim_plan")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("bronze"),
      s"pre-restart dim version must enrich post-restart events: $got")

    // --- idleTtl: same feed, ttl=60s — the version is evicted once the
    // watermark runs 60s past the key's last activity, so a much later
    // event re-enriches as null; with the default (no ttl, the restart
    // query above) it would have enriched
    val ev2 = MemoryStream[(Long, Long, Timestamp)]
    val dm2 = MemoryStream[(Long, Timestamp, String)]
    val ttlMetrics = graft.streaming.TemporalAsofMetrics.register(spark, "ttl_test")
    val out2 = graft.streaming.StatefulOps.streamAsofTemporal(
      ev2.toDF().toDF("event_id", "user_id", "ts"),
      dm2.toDF().toDF("user_id", "effective_from", "plan"),
      "user_id", "ts", Seq("plan"), delay = "1 minute", idleTtlSec = 60L,
      metrics = Some(ttlMetrics))
    val q3 = out2.writeStream.format("memory").queryName("satemp_ttl")
      .outputMode("append").start()
    try {
      dm2.addData((7L, ts(10, 0), "bronze"))
      q3.processAllAvailable()
      // sentinels drive the watermark far past 10:00 + ttl, firing the
      // idle timeout that evicts key 7's state
      ev2.addData((98L, 999L, ts(11, 0)))
      dm2.addData((999L, ts(11, 0), "zz"))
      q3.processAllAvailable()
      ev2.addData((97L, 999L, ts(11, 30)))
      dm2.addData((999L, ts(11, 30), "zz"))
      q3.processAllAvailable()
      // an event for the evicted key, then seal it
      ev2.addData((1L, 7L, ts(11, 40)))
      q3.processAllAvailable()
      ev2.addData((96L, 999L, ts(13, 0)))
      dm2.addData((999L, ts(13, 0), "zz"))
      q3.processAllAvailable()
      val ttlGot = spark.table("satemp_ttl").filter($"event_id" === 1L)
        .select($"dim_plan").collect().map(r =>
          if (r.isNullAt(0)) "" else r.getString(0)).toSeq
      assert(ttlGot == Seq(""),
        s"evicted key must re-enrich as null under idleTtl: $ttlGot")
      // the eviction above must be visible in the metrics (r15 board
      // #3): key 7's removal is a TTL eviction, not a drain
      assert(ttlMetrics.ttlEvictions.value >= 1L,
        s"idle-TTL eviction not counted: ${ttlMetrics.ttlEvictions.value}")
    } finally q3.stop()
    spark.catalog.dropTempView("satemp_ttl")
  }

  test("streamAsofTemporal metrics: version state stays ≤ 1 + futures " +
      "per key on a history that would grow unbounded without pruning") {
    implicit val sqlCtx = spark.sqlContext
    // one key, 100 dim updates + 100 events at minute grain, delay 5
    // minutes, fed in 10-minute chronological chunks. Without the
    // history prune the key's version array would reach 100; with it,
    // after trigger k the watermark sits at (chunk k-1 end) - 5min, so
    // versions kept = 1 floor + futures in (wm, chunk-k end] — at most
    // 1 + (5 + 10) = 16. Read from the NAMED ACCUMULATORS, not the
    // state store — the production observability path under test.
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(min: Int) = new Timestamp(base + min * 60000L)
    val ev = MemoryStream[(Long, Long, Timestamp)]
    val dm = MemoryStream[(Long, Timestamp, String)]
    val m = graft.streaming.TemporalAsofMetrics.register(spark, "prune_test")
    val out = graft.streaming.StatefulOps.streamAsofTemporal(
      ev.toDF().toDF("event_id", "user_id", "ts"),
      dm.toDF().toDF("user_id", "effective_from", "plan"),
      "user_id", "ts", Seq("plan"), delay = "5 minutes",
      metrics = Some(m))
    val q = out.writeStream.format("memory").queryName("satemp_metrics")
      .outputMode("append").start()
    try {
      (0 until 10).foreach { chunk =>
        val minutes = (chunk * 10) until (chunk * 10 + 10)
        dm.addData(minutes.map(i => (7L, ts(i), s"plan$i")))
        ev.addData(minutes.map(i => (i.toLong, 7L, ts(i))))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(m.maxVersionsKept >= 2L,
      s"metrics observed nothing: maxVersionsKept=${m.maxVersionsKept}")
    assert(m.maxVersionsKept <= 16L,
      s"history prune bound violated: ${m.maxVersionsKept} versions " +
        "kept for one key (100 updates fed) — ≤ 1 + futures expected")
    // pending events obey the same horizon: ≤ those not yet sealed
    assert(m.maxPending <= 16L,
      s"pending-event bound violated: ${m.maxPending}")
    // exactly-once emission of sealed events would be 100 minus the
    // tail still buffered at stop; at least the first 8 chunks' events
    // must have sealed (wm reached minute 84 by the last trigger)
    assert(m.sealedEvents.value >= 80L,
      s"sealedEvents=${m.sealedEvents.value}")
    assert(m.ttlEvictions.value == 0L, "no TTL configured, none expected")
    assert(m.newKeys.value == 1L,
      s"one state key fed, newKeys=${m.newKeys.value}")
    spark.catalog.dropTempView("satemp_metrics")
  }

  test("StateGrowthWatch.observe: warns once after N consecutive " +
      "strict growths; plateaus and dips reset the streak") {
    val w = new graft.streaming.StateGrowthWatch(nTriggers = 3)
    val qid = java.util.UUID.randomUUID()
    // growth but interrupted by a plateau: never fires
    assert(!w.observe(qid, 10L)) // first sight: no prior, streak 0
    assert(!w.observe(qid, 11L)) // streak 1
    assert(!w.observe(qid, 12L)) // streak 2
    assert(!w.observe(qid, 12L)) // plateau: streak resets
    assert(!w.observe(qid, 13L)) // streak 1
    assert(!w.observe(qid, 11L)) // dip: reset
    // clean run of 3 strict growths fires exactly once
    assert(!w.observe(qid, 12L))
    assert(!w.observe(qid, 13L))
    assert(w.observe(qid, 14L), "3rd consecutive growth must warn")
    assert(!w.observe(qid, 15L), "warned already: silent forever after")
    // an independent query has its own streak
    val qid2 = java.util.UUID.randomUUID()
    assert(!w.observe(qid2, 1L))
    assert(!w.observe(qid2, 2L))
    assert(!w.observe(qid2, 3L))
    assert(w.observe(qid2, 4L))
  }

  test("streamAsofTemporal state survives under the RocksDB state store " +
      "provider, checkpoint restart included") {
    // the default HDFSBackedStateStoreProvider keeps state in executor
    // HEAP — at production state sizes the RocksDB provider is the
    // deployment reality, and it serializes state through an entirely
    // different path (changelog + SST files, not heap maps): pin that
    // the custom TemporalAsofState round-trips it, across a restart
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      val root = java.nio.file.Files.createTempDirectory("graft_rocks").toString
      val ev = MemoryStream[(Long, Long, Timestamp)]
      val dm = MemoryStream[(Long, Timestamp, String)]
      def start() = graft.streaming.StatefulOps.streamAsofTemporal(
          ev.toDF().toDF("event_id", "user_id", "ts"),
          dm.toDF().toDF("user_id", "effective_from", "plan"),
          "user_id", "ts", Seq("plan"))
        .writeStream.foreachBatch(graft.streaming.IdempotentSink.sink(s"$root/out"))
        .option("checkpointLocation", s"$root/_ckpt").start()
      val q1 = start()
      try {
        dm.addData((7L, ts(10, 0), "bronze"))
        ev.addData((1L, 7L, ts(10, 30))) // buffers in RocksDB state
        q1.processAllAvailable()
      } finally q1.stop()
      q1.awaitTermination()
      val q2 = start()
      try {
        // out-of-order update arriving AFTER the restart must still win
        // the pre-restart buffered event
        dm.addData((7L, ts(10, 20), "silver"))
        q2.processAllAvailable()
        ev.addData((99L, 999L, ts(12, 0)))
        dm.addData((999L, ts(12, 0), "zz"))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = graft.streaming.IdempotentSink.readCommitted(spark, s"$root/out")
        .filter($"event_id" === 1L).select($"dim_plan")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("silver"),
        s"RocksDB-backed state must carry the buffered event and version " +
          s"history across the restart: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streamAsofTemporal: payloads round-trip the JSON state boundary " +
      "exactly — microsecond timestamps, doubles, arrays, binary") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val microTs = Timestamp.valueOf("2024-01-01 10:30:00.123456")
    val ev = MemoryStream[(Long, Long, Timestamp, Timestamp, Double, Seq[String], Array[Byte])]
    val dm = MemoryStream[(Long, Timestamp, String, Double)]
    val out = graft.streaming.StatefulOps.streamAsofTemporal(
      ev.toDF().toDF("event_id", "user_id", "ts", "seen_at", "score", "tags", "blob"),
      dm.toDF().toDF("user_id", "effective_from", "plan", "rate"),
      "user_id", "ts", Seq("plan", "rate"))
    val q = out.writeStream.format("memory").queryName("satemp_rt")
      .outputMode("append").start()
    try {
      // sub-MILLISECOND as-of discrimination: silver is 56µs before
      // the event, gold 44µs after — the micros state grain must pick
      // silver (a millis grain would see all three at .123 and hand
      // the event to gold, diverging from the batch asofJoin compare)
      dm.addData((7L, ts(10, 0), "bronze", 0.25),
        (7L, Timestamp.valueOf("2024-01-01 10:30:00.123400"), "silver", 0.5),
        (7L, Timestamp.valueOf("2024-01-01 10:30:00.123500"), "gold", 0.75))
      ev.addData((1L, 7L, microTs, microTs, 2.5, Seq("a", "b"),
        Array[Byte](1, 2, -3)))
      q.processAllAvailable()
      ev.addData((99L, 999L, ts(12, 0), ts(12, 0), 0.0, Nil, Array[Byte]()))
      dm.addData((999L, ts(12, 0), "zz", 0.0))
      q.processAllAvailable()
      val r = spark.table("satemp_rt").filter($"event_id" === 1L).collect()
      assert(r.length == 1, s"expected one sealed row, got ${r.length}")
      val row = r.head
      assert(row.getAs[Timestamp]("ts") == microTs, "event ts micros lost")
      assert(row.getAs[Timestamp]("seen_at") == microTs, "payload ts micros lost")
      assert(row.getAs[Double]("score") == 2.5)
      assert(row.getAs[scala.collection.Seq[String]]("tags").toSeq == Seq("a", "b"))
      assert(row.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2, -3))
      assert(row.getAs[String]("dim_plan") == "silver",
        s"sub-ms as-of must pick the 56µs-earlier version, got " +
          row.getAs[String]("dim_plan"))
      assert(row.getAs[Double]("dim_rate") == 0.5)
    } finally q.stop()
    spark.catalog.dropTempView("satemp_rt")
  }
}

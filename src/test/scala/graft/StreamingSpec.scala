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

}

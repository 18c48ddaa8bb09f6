package graft

import graft.dict.{DictionaryEntry => DE, HighlighterOpts => HO, Readers,
  ValidatorCli}
import graft.engine.Compiler
import graft.spark.{SparkAlphaAnnotator, SparkHighlighter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local(4, Seq(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}

class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  override def afterAll(): Unit = () // shared session; leave it up

  test("the shared test session runs local[4], 4 shuffle partitions, " +
      "UTC, no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("annotate a DataFrame, explode, aggregate") {
    val docs = Seq(
      (0L, "before annotated test phrase after annotated"),
      (1L, "no match here"),
      (2L, "test phrase test phrase")).toDF("doc_id", "text")
    val hl = SparkHighlighter(Seq(DE("test phrase", id = Some("tp"))))
    val out = hl.annotateExploded(docs, "text")
    val rows = out.select("doc_id", "matched_text", "dict_entry_id", "begin_offset", "end_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4)))
      .sortBy(r => (r._1, r._4))
    assert(rows.toSeq == Seq(
      (0L, "test phrase", "tp", 17, 28),
      (2L, "test phrase", "tp", 0, 11),
      (2L, "test phrase", "tp", 12, 23)))
    val counts = out.groupBy("dict_entry_id").count().collect()
    assert(counts.head.getLong(1) == 3L)
  }

  test("relational merger equals the per-row merger") {
    // overlap shapes: containment (hash in hash join), extension chains
    // (join after hash join), disjoint repeats, multi-type isolation
    val docs = Seq(
      (0L, "a hash join b"),
      (1L, "hash join join hash join"),
      (2L, "hash x join y hash"),
      (3L, "no matches at all"),
      (4L, "join hash join hash hash join join")).toDF("doc_id", "text")
    val dict = Seq(DE("hash join", id = Some("hj")), DE("join", id = Some("j")),
      DE("hash", id = Some("h")))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "dict_entry_id", "begin_offset", "end_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .sortBy(identity).toSeq
    val perRow = new SparkHighlighter(dict, HO(), mergeAnnotations = true)
      .annotateExploded(docs, "text")
    val relational = SparkHighlighter.mergeSameTypeRelational(
      new SparkHighlighter(dict, HO(), mergeAnnotations = false)
        .annotateExploded(docs, "text"))
    assert(key(relational) == key(perRow))
    assert(key(relational).nonEmpty)
    // distinct ann types never merge across each other
    val dict2 = Seq(DE("hash join", id = Some("hj"), entryType = Some("T1")),
      DE("join", id = Some("j"), entryType = Some("T2")))
    val perRow2 = new SparkHighlighter(dict2, HO(), mergeAnnotations = true)
      .annotateExploded(docs, "text")
    val rel2 = SparkHighlighter.mergeSameTypeRelational(
      new SparkHighlighter(dict2, HO(), mergeAnnotations = false)
        .annotateExploded(docs, "text"))
    assert(key(rel2) == key(perRow2))
    assert(key(rel2).exists(_._2 == "j")) // contained but different type: kept
  }

  test("csv dictionary fixture parsing (readers.clj rules)") {
    val csv = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/dict.csv")))
    val entries = Readers.readCsvString(csv)
    assert(entries.size == 17)
    val e0 = entries.head
    assert(e0.text == "test-dictionary-item" && e0.id.contains("id1"))
    assert(e0.synonyms == Seq("syn1", "syn2"))
    assert(e0.meta == Map("k1" -> "v1", "k2" -> "v2"))
    assert(e0.caseSensitive.contains(true) && e0.asciiFold.contains(true))
    assert(e0.entryType.contains("TEST"))
    // Boolean.valueOf semantics: FALSE and NOT_BOOL -> false
    assert(entries(3).asciiFold.contains(false))
    assert(entries(4).asciiFold.contains(false))
    // odd trailing meta value ignored
    assert(entries(7).meta == Map("k" -> "v"))
    assert(entries(8).meta == Map.empty)
    // short rows
    assert(entries(15).id.isEmpty && entries(15).synonyms.isEmpty)
    assert(entries(16).entryType.contains("TEST") && entries(16).id.isEmpty)
    // same result through the Spark csv source
    val viaSpark = Readers.readCsv(spark, "src/test/resources/dict.csv")
    assert(viaSpark == entries)
  }

  test("json dictionary fixture via spark.read.json") {
    val entries = Readers.readJson(spark, "src/test/resources/dict.json")
    assert(entries.size == 1)
    val e = entries.head
    assert(e.text == "test text" && e.id.contains("test-id"))
    assert(e.caseSensitive.contains(true) && e.asciiFold.contains(true))
    assert(e.meta == Map("email" -> "test@example.com"))
    // null synonyms and meta values are absent, not the string "null"
    val nulls = """[{"text": "foo", "id": "n", "synonyms": ["bar", null],
                  |  "meta": {"k": null, "email": "a@b"}}]""".stripMargin
    val file = java.nio.file.Files.createTempFile("graft-nulls", ".json")
    try {
      java.nio.file.Files.write(file, nulls.getBytes("UTF-8"))
      val asMap = Readers.fromDataFrame(spark.read.option("multiLine", "true")
        .schema("text STRING, id STRING, synonyms ARRAY<STRING>, " +
          "meta MAP<STRING, STRING>").json(file.toString))
      for (read <- Seq(Readers.readJson(spark, file.toString),
          ValidatorCli.readJsonString(nulls), asMap)) {
        assert(read.map(e => (e.text, e.synonyms, e.meta)) ==
          Seq(("foo", Seq("bar"), Map("email" -> "a@b"))))
        assert(Compiler.compile(read, HO()).matchDoc("a null value")
          .isEmpty)
      }
    } finally java.nio.file.Files.delete(file)
    // one coercion rule: numbers and boolean/numeric text read the same
    // through Spark and through the Spark-free reader hot reloads use
    val typed = """[{"text": "foo", "id": 5, "case-sensitive?": "true", "slop": "2"}]"""
    val typedFile = java.nio.file.Files.createTempFile("graft-typed", ".json")
    try {
      java.nio.file.Files.write(typedFile, typed.getBytes("UTF-8"))
      val viaSpark = Readers.readJson(spark, typedFile.toString)
      assert(viaSpark.map(e => (e.id, e.caseSensitive, e.slop)) ==
        Seq((Some("5"), Some(true), Some(2L))))
      assert(ValidatorCli.readJsonString(typed) == viaSpark)
    } finally java.nio.file.Files.delete(typedFile)
    // each entry keeps its own value types: an integer id next to a
    // fractional one under the same key reads "5", not "5.0"; a
    // directory path reads the files in it
    val mixed = """[{"text": "a", "id": 5}, {"text": "b", "id": 5.5}]"""
    val mixedDir = java.nio.file.Files.createTempDirectory("graft-mixed")
    val mixedFile = mixedDir.resolve("dict.json")
    try {
      java.nio.file.Files.write(mixedFile, mixed.getBytes("UTF-8"))
      val viaSpark = Readers.readJson(spark, mixedDir.toString)
      assert(viaSpark.map(e => (e.text, e.id)) ==
        Seq(("a", Some("5")), ("b", Some("5.5"))))
      assert(ValidatorCli.readJsonString(mixed) == viaSpark)
    } finally {
      java.nio.file.Files.delete(mixedFile)
      java.nio.file.Files.delete(mixedDir)
    }
  }

  test("alpha annotator over a DataFrame") {
    val docs = Seq((0L, "this and that"), (1L, "this only")).toDF("doc_id", "text")
    val ann = new SparkAlphaAnnotator(Seq(DE("this AND that", id = Some("1"))))
    val out = ann.annotateExploded(docs, "text").select("doc_id", "dict_entry_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((0L, "1")))
  }

  test("structured streaming passthrough (stateless per-row annotate)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val hl = SparkHighlighter(Seq(DE("test phrase", id = Some("tp"))))
    val df = stream.toDF().toDF("doc_id", "text")
    val annotated = hl.annotate(df, "text")
      .select($"doc_id", size($"annotations").as("n"))
    val query = annotated.writeStream.format("memory").queryName("anns_out")
      .outputMode("append").start()
    try {
      stream.addData((0L, "before test phrase after"), (1L, "nothing"))
      query.processAllAvailable()
      val rows = spark.table("anns_out").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(rows.toSeq == Seq((0L, 1), (1L, 0)))
    } finally query.stop()
  }

  test("null text rows yield empty annotation arrays, not nulls") {
    val docs = Seq((0L, "test phrase"), (1L, null)).toDF("doc_id", "text")
    val hl = SparkHighlighter(Seq(DE("test phrase", id = Some("tp"))))
    val rows = hl.annotate(docs, "text")
      .select($"doc_id", size($"annotations")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, 1), (1L, 0)))
  }

  test("native expression path equals the engine's matchDoc") {
    val docs = Seq(
      (0L, "before annotated test phrase after annotated"),
      (1L, "schön test phrase test phrase"),
      (2L, "")).toDF("doc_id", "text")
    val hl = SparkHighlighter(Seq(
      DE("test phrase", id = Some("tp"), meta = Map("k" -> "v")),
      DE("schön", id = Some("s"), asciiFold = Some(true))))
    // decoded through the reflection encoder for Seq[Annotation]: the
    // expression's Catalyst encoding must read back as the engine's values
    val rows = docs.withColumn("a", hl.annotateColumn(docs, "text"))
      .select($"doc_id", $"text", $"a").as[(Long, String, Seq[graft.dict.Annotation])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    rows.foreach { case (id, text, anns) =>
      assert(anns == hl.compiled.matchDoc(text), s"doc $id")
    }
    assert(rows.map(_._3.map(_.dictEntryId).toSet).toSeq ==
      Seq(Set("tp"), Set("s", "tp"), Set.empty[String]))
    assert(rows(0)._3.head.meta == Map("k" -> "v"))
  }

  test("redactColumn replaces matched spans; overlapping matches merge") {
    val hl = graft.spark.SparkHighlighter(Seq(
      graft.dict.DictionaryEntry("big table", id = Some("bt")),
      graft.dict.DictionaryEntry("table scan", id = Some("ts"))))
    val df = Seq(
      (0L, "a big table scan here"), // overlap -> ONE merged replacement
      (1L, "big table only"),
      (2L, "no matches at all"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), hl.redactColumn(df, "text").as("t"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "a <TERM> here")
    assert(out(1).getString(1) == "<TERM> only")
    assert(out(2).getString(1) == "no matches at all")
    assert(out(3).isNullAt(1))
    // custom token
    val custom = df.limit(2).select(
      hl.redactColumn(df, "text", token = "__X__").as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(custom.contains("a __X__ here"))
  }

  test("annotate_text SQL function via SparkSessionExtensions") {
    graft.spark.GraftExtensions.install(spark)
    Seq((0L, "before test phrase after"), (1L, "none"))
      .toDF("doc_id", "text").createOrReplaceTempView("sql_docs")
    val rows = spark.sql(
      """SELECT doc_id, a.dictEntryId, a.beginOffset
        |FROM sql_docs
        |LATERAL VIEW explode(annotate_text(text, '[{"text": "test phrase", "id": "tp"}]')) AS a
        |""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((0L, "tp", 7)))
  }

  test("graft_simhash / graft_fingerprint SQL functions match the kernels") {
    graft.spark.GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT graft_simhash('the quick brown fox') AS sh,
        |       graft_fingerprint('a b c d e f g') AS fp,
        |       graft_fingerprint('a b c d e f g', 3) AS fp3,
        |       graft_simhash(NULL) AS sh_null""".stripMargin).collect().head
    assert(r.getLong(0) == graft.ops.Dedup.simhashValue("the quick brown fox"))
    assert(r.getLong(1) == graft.ops.TextStats.fingerprintValue("a b c d e f g", 5))
    assert(r.getLong(2) == graft.ops.TextStats.fingerprintValue("a b c d e f g", 3))
    assert(r.isNullAt(3))
    assert(r.getLong(1) != r.getLong(2))
  }

  test("merge-annotations is a per-call option like the reference match opts") {
    // phrases.clj:231-234,271-273: the highlighter fn accepts opts per call;
    // the same compiled dictionary must serve both merged and raw calls.
    val docs = Seq((0L, "one two three")).toDF("doc_id", "text")
    val hl = SparkHighlighter(Seq(
      DE("one two", id = Some("a")), DE("two three", id = Some("b"))))
    def count(df: org.apache.spark.sql.DataFrame) =
      df.select(size($"anns")).collect().head.getInt(0)
    assert(count(hl.annotate(docs, "text", "anns")) == 2)
    assert(count(hl.annotate(docs, "text", "anns", merge = true)) == 1)
    assert(count(hl.annotate(docs, "text", "anns", merge = false)) == 2)
  }

  test("annotation struct schema is stable for downstream SQL") {
    val docs = Seq((0L, "test phrase here")).toDF("doc_id", "text")
    val hl = SparkHighlighter(Seq(DE("test phrase", id = Some("tp"),
      meta = Map("k" -> "v"))))
    val out = hl.annotate(docs, "text")
    out.createOrReplaceTempView("t_anns")
    val r = spark.sql(
      "SELECT a.text, a.dictEntryId, a.meta['k'], a.beginOffset FROM t_anns LATERAL VIEW explode(annotations) AS a")
      .collect().head
    assert(r.getString(0) == "test phrase" && r.getString(1) == "tp" &&
      r.getString(2) == "v" && r.getInt(3) == 0)
  }
}

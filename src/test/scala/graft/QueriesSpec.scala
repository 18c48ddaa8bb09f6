package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for the driver contract: every SparkEntry query runs at
  * sf0.001, every oracle key has a matching query, and the flagship
  * entry produces rows.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
    val unregistered = Bench.opQueries.toSet.diff(SparkEntry.queries.keySet)
    assert(unregistered.isEmpty, s"bench keys without queries: $unregistered")
    val dups = Bench.opQueries.diff(Bench.opQueries.distinct)
    assert(dups.isEmpty, s"bench keys listed twice: $dups")
    // the queries that reach the matcher or the dictionary code: every
    // removal of the operators around them must leave these registered
    // and oracled
    val inScope = Set("q_alpha_bool", "q_alpha_ext", "q_ann_cooc",
      "q_ann_counts", "q_ann_inorder", "q_ann_merge", "q_ann_merge_rel",
      "q_ann_offsets", "q_ann_slop", "q_decontaminate", "q_dict_optimize",
      "q_dict_read", "q_pipeline", "q_pipeline3", "q_redact",
      "q_sql_annotate", "q_stream_counts")
    val unqueried = inScope.diff(SparkEntry.queries.keySet)
    assert(unqueried.isEmpty, s"in-scope keys not registered: $unqueried")
    val unoracled = inScope.diff(SparkEntry.oracleSql.keySet)
    assert(unoracled.isEmpty, s"in-scope keys without oracles: $unoracled")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001 with stable columns") {
      val df = fn(spark, dir)
      val cols = df.columns
      assert(cols.nonEmpty && cols.distinct.length == cols.length)
      assert(df.count() >= 0)
      // blanket 100TB guard: no unbroadcast cartesian product may appear
      // in ANY query plan (crossJoin(broadcast(tiny)) compiles to
      // BroadcastNestedLoopJoin and stays legal; a plain CartesianProduct
      // replicates the corpus quadratically and never is)
      val executed = df.queryExecution.executedPlan.toString
      assert(!executed.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$executed")
    }
  }

  test("long concatenated documents don't degrade pathologically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ~30x longer docs (news-article scale) from the same vocabulary
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id") % 16 as "g", col("text"))
      .groupBy("g").agg(concat_ws(" ", collect_list(col("text"))).as("text"))
    val n = docs.count()
    val hl = graft.spark.SparkHighlighter(Seq(
      graft.dict.DictionaryEntry("hash join", id = Some("hj")),
      graft.dict.DictionaryEntry("table scan", id = Some("ts")),
      graft.dict.DictionaryEntry("group query", id = Some("gq"), slop = Some(1))))
    val t0 = System.nanoTime()
    val anns = hl.annotateExploded(docs, "text").count()
    val perDocMs = (System.nanoTime() - t0) / 1e6 / n
    assert(anns > 0)
    // Guard against superlinear-in-length matching: a pathological doc
    // would cost seconds here. The bound includes fixed Spark job overhead
    // amortized over only 16 docs, so it is deliberately loose — the
    // steady-state per-doc cost is benchmarked (and ~10x lower) in Bench.
    assert(perDocMs < 150, f"per-doc cost $perDocMs%.1f ms")
  }
}

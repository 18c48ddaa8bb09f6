package graft.spark

import graft.dict.{DictionaryEntry, HighlighterOpts}
import graft.engine.{CompiledDictionary, Compiler, LuceneAlpha}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/** One broadcast of `value` per SparkContext. Cached per context, not
  * per owner: a JVM that restarts its session (tests, notebooks, the
  * bench's per-core parity rerun) must not hand tasks a broadcast whose
  * owning context is stopped.
  */
private[spark] final class ContextBroadcast[T: ClassTag](value: T) extends Serializable {
  @transient private var bc: Broadcast[T] = _
  @transient private var context: SparkContext = _

  def apply(spark: SparkSession): Broadcast[T] = synchronized {
    val sc = spark.sparkContext
    if (bc == null || (context ne sc)) {
      bc = sc.broadcast(value)
      context = sc
    }
    bc
  }
}

/** Spark-native highlighter: the reference's `phrases/highlighter`
  * (`phrases.clj:236-273`) lifted to DataFrames.
  *
  * Scale design (SURVEY §3.1, §4): the dictionary is compiled ONCE on the
  * driver into an immutable [[CompiledDictionary]] (inverted
  * term→query-id presearcher included) and broadcast — the single
  * driver→executor boundary. Matching is a per-row scalar function: the
  * [[AnnotateExpression]] carries only the broadcast HANDLE, so tasks
  * ship bytes, not the dictionary; executors fetch the compiled
  * dictionary once via torrent broadcast regardless of task count.
  * Everything downstream (explode, groupBy) is stock Catalyst and
  * optimizes/shuffles as usual.
  *
  * The same column expression works unchanged on streaming DataFrames
  * (stateless per-row map — the reference is stream-agnostic too,
  * `phrases.clj:271-273`).
  */
final class SparkHighlighter(
    dictionary: Seq[DictionaryEntry],
    opts: HighlighterOpts = HighlighterOpts.default,
    mergeAnnotations: Boolean = false) extends Serializable {

  val compiled: CompiledDictionary = Compiler.compile(dictionary, opts)

  private val bc = new ContextBroadcast(compiled)

  /** Column of array<struct<text,annType,dictEntryId,meta,beginOffset,endOffset>>
    * from the native Catalyst [[AnnotateExpression]].
    */
  def annotateColumn(df: DataFrame, textCol: String): Column =
    annotateColumn(df, textCol, mergeAnnotations)

  /** Per-call override of merge-annotations, mirroring the reference's
    * match-time opts (`phrases.clj:231-234,271-273`): the compiled
    * dictionary is construction-time state, merging is a call-time choice.
    */
  def annotateColumn(df: DataFrame, textCol: String, merge: Boolean): Column =
    DictionaryExpression.column(textCol)(AnnotateExpression(_, bc(df.sparkSession), merge))

  /** Dictionary-driven redaction: matched spans replaced by `token`
    * (overlaps merged), unmatched text passes through by reference.
    * The matcher as a cleaning operator — remove known boilerplate
    * phrases / sensitive terms at codegen'd scan speed, any tokenizer
    * / stemmer / fuzziness the dictionary carries included.
    */
  def redactColumn(df: DataFrame, textCol: String,
      token: String = "<TERM>"): Column =
    DictionaryExpression.column(textCol)(RedactExpression(_, bc(df.sparkSession), token))

  def annotate(df: DataFrame, textCol: String, outputCol: String = "annotations"): DataFrame =
    df.withColumn(outputCol, annotateColumn(df, textCol))

  def annotate(df: DataFrame, textCol: String, outputCol: String,
      merge: Boolean): DataFrame =
    df.withColumn(outputCol, annotateColumn(df, textCol, merge))

  /** Exploded, flattened view: one output row per annotation, original
    * columns retained. Rows with no matches are dropped (inner explode)
    * unless `keepUnmatched` — then they surface once with null annotation
    * columns (explode_outer), the shape joins/coverage audits want.
    */
  def annotateExploded(df: DataFrame, textCol: String,
      keepUnmatched: Boolean = false): DataFrame = {
    val ex = if (keepUnmatched) explode_outer(col("__anns")) else explode(col("__anns"))
    annotate(df, textCol, "__anns")
      .select(df.columns.map(col).toIndexedSeq :+ ex.as("ann"): _*)
      .select(df.columns.map(col).toIndexedSeq ++ Seq(
        col("ann.text").as("matched_text"),
        col("ann.annType").as("ann_type"),
        col("ann.dictEntryId").as("dict_entry_id"),
        col("ann.meta").as("ann_meta"),
        col("ann.beginOffset").as("begin_offset"),
        col("ann.endOffset").as("end_offset")): _*)
  }
}

/** Spark lift of the reference's `lucene-alpha/annotator`
  * (`lucene_alpha.clj:57-66`): boolean query-string matching, no offsets.
  */
final class SparkAlphaAnnotator(
    dictionary: Seq[DictionaryEntry],
    opts: HighlighterOpts = HighlighterOpts.default) extends Serializable {

  val annotator = new LuceneAlpha.AlphaAnnotator(dictionary, opts)

  private val bc = new ContextBroadcast(annotator)

  def annotate(df: DataFrame, textCol: String, outputCol: String = "annotations"): DataFrame = {
    val b = bc(df.sparkSession)
    val fn = udf((text: String) => b.value.annotate(text))
    df.withColumn(outputCol, fn(col(textCol)))
  }

  def annotateExploded(df: DataFrame, textCol: String): DataFrame =
    annotate(df, textCol, "__anns")
      .select(df.columns.map(col).toIndexedSeq :+ explode(col("__anns")).as("ann"): _*)
      .select(df.columns.map(col).toIndexedSeq ++ Seq(
        col("ann.text").as("query_string"),
        col("ann.annType").as("ann_type"),
        col("ann.dictEntryId").as("dict_entry_id"),
        col("ann.meta").as("ann_meta")): _*)
}

object SparkHighlighter {
  def apply(dictionary: Seq[DictionaryEntry], opts: HighlighterOpts = HighlighterOpts.default,
      mergeAnnotations: Boolean = false): SparkHighlighter =
    new SparkHighlighter(dictionary, opts, mergeAnnotations)

  /** The annotation merger (`merger.clj:~6-40` / `Matcher.merge`) as a
    * RELATIONAL operator over an already-exploded annotation table —
    * SURVEY §2.5's "relationally" disposition. The per-row sweep
    * collapses overlapping same-type annotations, keeping the current
    * parent when the next annotation is contained in it and otherwise
    * adopting the next; its survivor is equivalently the row with the
    * greatest end offset in each overlap cluster (then least begin, then
    * greatest id — a table has no input order, so the sweep's last-wins
    * tie is totalized by (begin, id) sort order).
    *
    * Shape at scale: ONE shuffle on (doc, type). The overlap clusters
    * come from the classic running-max session trick on the sorted
    * partition; the survivor pick is a second window over (doc, type,
    * cluster), which hash-partitioning on the (doc, type) prefix already
    * co-locates — Spark inserts only a re-sort, no second exchange
    * (pinned by PlanSpec).
    */
  def mergeSameTypeRelational(
      anns: DataFrame,
      docCol: String = "doc_id",
      typeCol: String = "ann_type",
      beginCol: String = "begin_offset",
      endCol: String = "end_offset",
      idCol: String = "dict_entry_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the sweep stages cluster state on the pass-through annotation
    // relation: a user column with a staged name would be overwritten
    // and dropped from the output — silent column loss
    graft.ops.Ids.requireNoReservedNames("mergeSameTypeRelational",
      "input", anns.columns.toSeq, Set("__nc", "__cluster", "__rn"),
      anns.sparkSession)
    val w1 = Window.partitionBy(col(docCol), col(typeCol))
      .orderBy(col(beginCol), col(idCol))
    // running max of end over STRICTLY PRIOR rows: a row starts a new
    // cluster when it begins after everything seen so far has ended
    // (related() is inclusive, so strictly-greater ends the chain)
    val prevMax = max(col(endCol))
      .over(w1.rowsBetween(Window.unboundedPreceding, -1))
    val clustered = anns
      .withColumn("__nc",
        when(col(beginCol) > coalesce(prevMax, lit(Long.MinValue)), 1)
          .otherwise(0))
      .withColumn("__cluster",
        sum(col("__nc")).over(w1.rowsBetween(Window.unboundedPreceding, 0)))
    val w2 = Window
      .partitionBy(col(docCol), col(typeCol), col("__cluster"))
      .orderBy(col(endCol).desc, col(beginCol).asc, col(idCol).desc)
    clustered.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") === 1)
      .drop("__nc", "__cluster", "__rn")
  }
}

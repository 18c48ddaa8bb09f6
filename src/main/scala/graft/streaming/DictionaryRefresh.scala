package graft.streaming

import graft.dict.{HighlighterOpts, ValidatorCli}
import graft.engine.{CompiledDictionary, Compiler}
import graft.spark.{AnnotateExpression, DictionaryExpression}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dictionary hot-reload for long-running streams.
  *
  * The compiled dictionary is broadcast once per VERSION, not per batch:
  * each micro-batch checks the dictionary file's mtime and only when it
  * changed recompiles on the driver, broadcasts the new compiled form,
  * and lazily unpersists the old one (running tasks finish on the old
  * broadcast; subsequent batches read the new). This is the streaming
  * operational shape for a percolation service — queries are long-lived
  * state that ops teams update underneath a running stream.
  */
final class RefreshingAnnotator(
    dictPath: String,
    opts: HighlighterOpts = HighlighterOpts.default) extends Serializable {

  @transient private var lastMtime = Long.MinValue
  @transient private var current: Broadcast[CompiledDictionary] = _

  /** Current broadcast, recompiling + rebroadcasting iff the file's
    * mtime moved. Driver-side only (called from foreachBatch).
    *
    * A file that fails to read, parse or compile (a writer caught
    * mid-write: a truncated array, an empty file) keeps the last good
    * broadcast with a WARN, and `lastMtime` stays put so the next batch
    * retries. With no good version yet there is nothing to keep, so the
    * first load throws.
    */
  def refreshIfNeeded(spark: SparkSession): Broadcast[CompiledDictionary] =
    synchronized {
      val mtime = new java.io.File(dictPath).lastModified()
      if (current == null || mtime != lastMtime) {
        try {
          val next = spark.sparkContext.broadcast(Compiler.compile(
            ValidatorCli.readJsonString(new String(Files.readAllBytes(Paths.get(dictPath)),
              StandardCharsets.UTF_8)), opts))
          if (current != null) current.unpersist(blocking = false)
          current = next
          lastMtime = mtime
        } catch {
          case NonFatal(e) if current != null =>
            RefreshingAnnotator.log.warn(s"dictionary $dictPath (mtime $mtime) " +
              s"unreadable, keeping the previous version: $e")
        }
      }
      current
    }

  /** Annotate one (micro-)batch against the current dictionary version. */
  def annotateBatch(batch: DataFrame, textCol: String,
      outputCol: String = "annotations"): DataFrame =
    batch.withColumn(outputCol, DictionaryExpression.column(textCol)(
      AnnotateExpression(_, refreshIfNeeded(batch.sparkSession), merge = false)))

  /** foreachBatch writer: `sink` receives each annotated micro-batch. */
  def writer(stream: DataFrame, textCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(annotateBatch(batch, textCol), batchId)
    }
}

private object RefreshingAnnotator {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[RefreshingAnnotator])
}

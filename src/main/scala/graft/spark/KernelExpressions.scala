package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-surface wrappers over the pure text kernels, so SQL users get the
  * same scalar functions the DataFrame API composes with:
  * `graft_simhash(text)` and `graft_fingerprint(text[, window])`.
  * Null input → null (standard SQL scalar-function contract). Both
  * generate a direct kernel call, keeping the stage in whole-stage
  * codegen.
  */
final case class SimhashExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override protected def withNewChildInternal(newChild: Expression): SimhashExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): Long = graft.ops.Dedup.simhashValue(s.toString)
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhashExpr", this, classOf[SimhashExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Two-tier language-ID kernel (`graft_lang_id`) — see
  * [[graft.ops.TextStats.langIdValue]]. One character scan (script
  * tier) + one token scan (stopword tier) per row, replacing an
  * 11-language `array_intersect` expression forest; pinned
  * kernel ≡ declarative in OpsSpec.
  */
final case class LangIdExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_lang_id"
  override protected def withNewChildInternal(newChild: Expression): LangIdExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.ops.TextStats.langIdValue(s.toString))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("langIdExpr", this, classOf[LangIdExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Registered domain of a host per the compiled public-suffix-list
  * snapshot (`graft_domain`) — see [[graft.ops.Psl]]. Input is a HOST
  * (already lowercased, no scheme), output "" when the host is itself a
  * public suffix or empty; null input → null.
  */
final case class PslDomainExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_domain"
  override protected def withNewChildInternal(newChild: Expression): PslDomainExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.ops.Psl.registeredDomain(s.toString))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pslExpr", this, classOf[PslDomainExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Sorted distinct 64-bit n-gram shingle hashes (`graft_shingle_hashes`)
  * — the candidate-generation kernel of the jaccard dedup path.
  */
final case class ShingleHashesExpression(child: Expression, n: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.Dedup.shingleHashesValue(s.toString, n))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shExpr", this, classOf[ShingleHashesExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Shingle hashes + minhash signature in one pass — struct(sh, sig),
  * the minhash dedup path's per-row kernel.
  */
final case class ShingleSignatureExpression(child: Expression, n: Int, numPerms: Int)
  extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_shingle_signature"
  override protected def withNewChildInternal(newChild: Expression): ShingleSignatureExpression =
    copy(child = newChild)
  @transient private lazy val seeds = graft.ops.Dedup.minhashSeeds(numPerms)
  def kernel(s: UTF8String): InternalRow = {
    val (sh, sig) = graft.ops.Dedup.shingleSignatureValue(s.toString, n, seeds)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(sh),
      UnsafeArrayData.fromPrimitiveArray(sig)))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ssExpr", this, classOf[ShingleSignatureExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** ExactSubstr cut-window rebuild (`graft_cut_rebuild`) — tokens
  * covered by any duplicated `window`-token cut starting at the given
  * positions are removed, survivors re-joined single-spaced. One pass
  * per row; see [[graft.ops.Dedup.cutRebuildValue]] for the exact
  * kept-range semantics (pinned by OpsSpec's adversarial 500-cut test).
  * `cuts` is coalesced to empty upstream so the expression stays a
  * plain null-safe binary kernel.
  */
final case class CutRebuildExpression(left: Expression, right: Expression,
    window: Int) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("text", org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "graft_cut_rebuild"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CutRebuildExpression =
    copy(left = newLeft, right = newRight)
  def kernel(t: UTF8String, cutsData: ArrayData): InternalRow = {
    val (n, s) = graft.ops.Dedup.cutRebuildValue(
      t.toString, cutsData.toIntArray(), window)
    new GenericInternalRow(Array[Any](n, UTF8String.fromString(s)))
  }
  override protected def nullSafeEval(t: Any, c: Any): Any =
    kernel(t.asInstanceOf[UTF8String], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cutRebuildExpr", this, classOf[CutRebuildExpression].getName)
    defineCodeGen(ctx, ev, (t, c) => s"$self.kernel($t, $c)")
  }
}

/** Jaro-Winkler similarity (`graft_jaro_winkler`) — Spark ships
  * Levenshtein but no Jaro-Winkler; see
  * [[graft.ops.Linkage.jaroWinklerValue]] (pinned against DuckDB's
  * native `jaro_winkler_similarity` by the q_er_jw oracle). Null
  * input → null; codegen'd direct kernel call.
  */
final case class JaroWinklerExpression(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpression =
    copy(left = newLeft, right = newRight)
  def kernel(a: UTF8String, b: UTF8String): Double =
    graft.ops.Linkage.jaroWinklerValue(a.toString, b.toString)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jwExpr", this, classOf[JaroWinklerExpression].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.kernel($a, $b)")
  }
}

/** Byte-set Jaccard similarity (`graft_byte_jaccard`) — see
  * [[graft.ops.Linkage.byteJaccardValue]], pinned against DuckDB's
  * native `jaccard` by the q_jaccard_sim oracle. Null input → null.
  */
final case class ByteJaccardExpression(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_byte_jaccard"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteJaccardExpression =
    copy(left = newLeft, right = newRight)
  def kernel(a: UTF8String, b: UTF8String): Double =
    graft.ops.Linkage.byteJaccardValue(a.getBytes, b.getBytes)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bjExpr", this, classOf[ByteJaccardExpression].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.kernel($a, $b)")
  }
}

/** All rolling `window`-token hashes of a text
  * (`graft_window_hashes`) — the set [[FingerprintExpression]] minimizes
  * over, exposed for cardinality certification (q_fp_card).
  */
final case class WindowHashesExpression(child: Expression, window: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"
  override protected def withNewChildInternal(newChild: Expression): WindowHashesExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.TextStats.windowHashesValue(s.toString, window))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("whExpr", this, classOf[WindowHashesExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Content-defined chunks of a text (`graft_cdc_chunks`) — Rabin-style
  * token-level CDC; see [[graft.ops.TextStats.cdcChunksValue]] for the
  * exact cut rule (low bits of the rolling window hash, oracle-
  * replayable).
  */
final case class CdcChunksExpression(child: Expression, window: Int,
    divisor: Long) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"
  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.ops.TextStats.cdcChunksValue(s.toString, window, divisor)
        .map(UTF8String.fromString))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cdcExpr", this, classOf[CdcChunksExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Chunk-drop rebuild (`graft_chunk_drop_rebuild`) — re-chunks the text
  * (same CDC rule as [[CdcChunksExpression]]), drops the given chunk
  * indices, re-joins survivors single-spaced; struct(n_chunks, text).
  * The scan-local rebuild half of [[graft.ops.Dedup.cdcDedupDocs]].
  * `drops` is coalesced to empty upstream (the [[CutRebuildExpression]]
  * convention) so this stays a plain null-safe binary kernel.
  */
final case class ChunkDropRebuildExpression(left: Expression, right: Expression,
    window: Int, divisor: Long) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chunks", LongType, nullable = false),
    StructField("text", org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "graft_chunk_drop_rebuild"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChunkDropRebuildExpression =
    copy(left = newLeft, right = newRight)
  def kernel(t: UTF8String, dropsData: ArrayData): InternalRow = {
    val (n, s) = graft.ops.Dedup.chunkDropRebuildValue(
      t.toString, dropsData.toIntArray(), window, divisor)
    new GenericInternalRow(Array[Any](n, UTF8String.fromString(s)))
  }
  override protected def nullSafeEval(t: Any, d: Any): Any =
    kernel(t.asInstanceOf[UTF8String], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cdrExpr", this, classOf[ChunkDropRebuildExpression].getName)
    defineCodeGen(ctx, ev, (t, d) => s"$self.kernel($t, $d)")
  }
}

final case class FingerprintExpression(child: Expression, window: Int)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): Long =
    graft.ops.TextStats.fingerprintValue(s.toString, window)
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fpExpr", this, classOf[FingerprintExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Bloom-filter membership probe over a broadcast
  * [[org.apache.spark.util.sketch.BloomFilter]]
  * (`graft_bloom_might_contain`): true iff the 64-bit child value MIGHT
  * be in the set (no false negatives; false-positive rate is the
  * filter's `fpp`). Carries only the broadcast HANDLE — the filter bits
  * ship once per executor, not per task, same contract as
  * [[AnnotateExpression]] — and generates a direct probe call so the
  * scan stays in whole-stage codegen. The prefilter stage of
  * [[graft.ops.Decontaminate.bloom]].
  */
final case class BloomProbeExpression(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_might_contain"
  override protected def withNewChildInternal(newChild: Expression): BloomProbeExpression =
    copy(child = newChild)
  def kernel(v: Long): Boolean = bc.value.mightContainLong(v)
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomExpr", this, classOf[BloomProbeExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** BPE encode of a whitespace-joined text (`graft_bpe_encode`): split
  * on single spaces (the caller pre-normalizes whitespace), encode each
  * word via [[graft.ops.Bpe.encodeWordValue]] against the broadcast
  * rank table, concatenate in order. A bounded per-expression-instance
  * memo exploits the Zipf word distribution — the hit rate approaches
  * the corpus type/token ratio, so the per-word merge loop runs
  * roughly once per TYPE per task, not once per token.
  */
final case class BpeEncodeExpression(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]])
  extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpression =
    copy(child = newChild)
  private val MaxMemo = 65536
  // expression instances ride the codegen references array and are hit
  // from every task thread in the executor — memo must be per-thread
  @transient private lazy val memo =
    ThreadLocal.withInitial[java.util.LinkedHashMap[String, Array[String]]](() =>
      new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean =
          size() > MaxMemo
      })
  def kernel(s: UTF8String): ArrayData = {
    val ranks = bc.value
    val m = memo.get()
    val text = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var start = 0
    while (start <= text.length) {
      val sp = text.indexOf(' ', start)
      val end = if (sp < 0) text.length else sp
      if (end > start) {
        val w = text.substring(start, end)
        var enc = m.get(w)
        if (enc == null) {
          enc = graft.ops.Bpe.encodeWordValue(w, ranks)
          m.put(w, enc)
        }
        var i = 0
        while (i < enc.length) { out += UTF8String.fromString(enc(i)); i += 1 }
      }
      start = end + 1
    }
    ArrayData.toArrayData(out.toArray)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeExpr", this, classOf[BpeEncodeExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Deflate compression ratio of the UTF-8 text bytes
  * (`graft_compression_ratio`) — see
  * [[graft.ops.TextStats.compressionRatio]]. Empty text → null (no
  * content to measure).
  */
final case class CompressionRatioExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_compression_ratio"
  override protected def withNewChildInternal(newChild: Expression): CompressionRatioExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): java.lang.Double =
    graft.ops.TextStats.compressionRatioValue(s.toString)
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("crExpr", this, classOf[CompressionRatioExpression].getName)
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
      |${childGen.code}
      |java.lang.Double ${ev.value}_boxed = ${childGen.isNull} ? null :
      |  $self.kernel(${childGen.value});
      |boolean ${ev.isNull} = ${ev.value}_boxed == null;
      |double ${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}_boxed.doubleValue();
      |""".stripMargin)
  }
}

/** Unicode normalization form applied per row (`graft_normalize`) —
  * NFC/NFD/NFKC/NFKD via `java.text.Normalizer` (UAX #15, same
  * algorithm DuckDB's `nfc_normalize` implements, so NFC output is
  * oracle-replicable byte-for-byte). Fast path: `Normalizer.isNormalized`
  * returns without allocating for already-normalized text, which is the
  * overwhelming majority of real corpora.
  */
final case class NormalizeFormExpression(child: Expression, form: String)
  extends UnaryExpression {
  @transient private lazy val nf = java.text.Normalizer.Form.valueOf(form)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_normalize"
  override protected def withNewChildInternal(newChild: Expression): NormalizeFormExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, nf)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, nf))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nfExpr", this, classOf[NormalizeFormExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Word n-gram repetition counters for one order n:
  * `[n_ngrams, top_ngram_count, dup_ngram_occurrences]` — the
  * RefinedWeb `rep_ngram` kernel. One pass per row, codegen'd.
  */
final case class NgramRepetitionExpression(child: Expression, n: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_repetition"
  override protected def withNewChildInternal(newChild: Expression): NgramRepetitionExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.TextStats.ngramRepetitionValue(s.toString, n))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nrExpr", this, classOf[NgramRepetitionExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Mojibake repair (`graft_fix_mojibake`) — inverts up to two rounds
  * of UTF-8-read-as-Latin-1 damage per row; clean text passes through
  * unchanged. See [[graft.ops.TextClean.fixMojibakeValue]].
  */
final case class FixMojibakeExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_fix_mojibake"
  override protected def withNewChildInternal(newChild: Expression): FixMojibakeExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = graft.ops.TextClean.fixMojibakeValue(str)
    if (out eq str) s else UTF8String.fromString(out)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fmExpr", this, classOf[FixMojibakeExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** One round of UTF-8-read-as-Latin-1 damage — the inverse of
  * [[FixMojibakeExpression]]'s repair step; fixture/gate helper.
  */
final case class MojibakeDamageExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_mojibake_damage"
  override protected def withNewChildInternal(newChild: Expression): MojibakeDamageExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.ops.TextClean.mojibakeDamageValue(s.toString))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("mdExpr", this, classOf[MojibakeDamageExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Per-document repetition counters (`graft_repetition_counts`) — one
  * pass over the text producing `[n_words, n_distinct_words,
  * sum_word_chars, n_bigrams, top_bigram_count, dup_bigram_occurrences]`;
  * the scan-local kernel behind [[graft.ops.TextStats.gopherQuality]].
  */
final case class RepetitionCountsExpression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repetition_counts"
  override protected def withNewChildInternal(newChild: Expression): RepetitionCountsExpression =
    copy(child = newChild)
  def kernel(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.TextStats.repetitionCountsValue(s.toString))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rcExpr", this, classOf[RepetitionCountsExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
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

private[spark] object KernelUtil {
  /** `ArrayData.toDoubleArray` throws a bare NPE on a null element; wrap
    * it so a bad embedding column fails with an actionable message.
    */
  def toDoubles(v: ArrayData, fn: String): Array[Double] =
    try v.toDoubleArray()
    catch {
      case _: NullPointerException =>
        throw new IllegalArgumentException(s"$fn: vector contains null elements")
    }
}

/** Cosine similarity of two double vectors (`graft_cosine`). Spark's
  * higher-order functions (`aggregate`/`zip_with`) are CodegenFallback
  * and evaluate their lambdas interpreted with per-element boxing — on
  * the similarity scan paths this kernel replaces them, accumulating in
  * the SAME left-to-right order so results stay bit-identical to the
  * SQL formulation (and to the DuckDB oracles).
  */
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

final case class CosineExpression(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpression =
    copy(left = newLeft, right = newRight)
  def kernel(av: ArrayData, bv: ArrayData): Double = {
    val a = KernelUtil.toDoubles(av, "graft_cosine")
    val b = KernelUtil.toDoubles(bv, "graft_cosine")
    require(a.length == b.length,
      s"graft_cosine: vector length mismatch (${a.length} vs ${b.length})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i)
      na += a(i) * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cosExpr", this, classOf[CosineExpression].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.kernel($a, $b)")
  }
}

/** Random-hyperplane LSH band keys for an embedding: the sign bits of
  * the vector's dot products with `planes.length` hyperplanes, packed
  * MSB-first into `bands` keys of planes/bands bits each. Accumulates
  * each dot product left-to-right like the `zip_with`/`aggregate`
  * formulation it replaces, so bit decisions are identical.
  *
  * `grain > 0` snaps each component to `round(x*grain)` (Spark
  * `round()`'s HALF_UP, the randomProject convention) before the dot.
  * With ±1 plane entries the per-plane sum is then a sum of exact
  * integers (|Σ| « 2^53 at any realistic dim/grain) — commutative and
  * bit-identical on any engine — which is what lets an external SQL
  * oracle replay the sign bits (see q_knn_lsh's DuckDB replay).
  * `grain == 0` keeps the raw-double path (the near-dup banding user).
  */
final case class HyperplaneBandsExpression(child: Expression,
    planes: Array[Array[Double]], bands: Int,
    grain: Double = 0.0) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_bands"
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandsExpression =
    copy(child = newChild)
  def kernel(v: ArrayData): ArrayData = {
    val raw = KernelUtil.toDoubles(v, "graft_hyperplane_bands")
    val a = if (grain == 0.0) raw else {
      val g = new Array[Double](raw.length)
      var i = 0
      while (i < raw.length) {
        val x = raw(i) * grain
        // BigDecimal.valueOf throws a bare NumberFormatException on
        // NaN/Infinity — name the offending component instead (the
        // replayable-grain contract requires finite vectors anyway)
        require(java.lang.Double.isFinite(x),
          s"graft_hyperplane_bands: component ${raw(i)} at index $i " +
            s"grains to non-finite $x (grain=$grain) — the grained " +
            "(replayable) path requires finite values")
        g(i) = java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        i += 1
      }
      g
    }
    require(a.length == planes(0).length,
      s"graft_hyperplane_bands: vector dim ${a.length} != plane dim ${planes(0).length}")
    val rowsPerBand = planes.length / bands
    val keys = new Array[Long](bands)
    var b = 0
    var p = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < rowsPerBand) {
        val plane = planes(p)
        var d = 0.0
        var i = 0
        while (i < a.length) { d += a(i) * plane(i); i += 1 }
        key = key * 2 + (if (d >= 0) 1L else 0L)
        r += 1
        p += 1
      }
      keys(b) = key
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hpExpr", this, classOf[HyperplaneBandsExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
  // case-class equality on Array fields is reference equality, which
  // defeats Catalyst canonicalization/CSE — compare plane VALUES instead
  override def equals(other: Any): Boolean = other match {
    case h: HyperplaneBandsExpression =>
      h.child == child && h.bands == bands && h.grain == grain &&
        java.util.Arrays.deepEquals(
          h.planes.asInstanceOf[Array[AnyRef]], planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(bands),
      java.lang.Double.valueOf(grain),
      Integer.valueOf(java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])))
}

/** Johnson–Lindenstrauss ±1 random projection (`graft_random_project`)
  * — the codegen'd kernel behind [[graft.ops.Embeddings.randomProject]].
  * Replicates the grained HOF formulation it replaces BIT-FOR-BIT:
  * component grains are Spark `round(x*1e6, 0)` (BigDecimal HALF_UP;
  * NaN/Inf pass through the round and saturate/zero on the long cast,
  * exactly Spark's non-ANSI double→long), each output component is the
  * exact-long Σ grain_j · sign_kj cast to double and divided once by
  * `scale` — so the swap is invisible to the q_embed_rp oracle. Null
  * element or a vector whose length differs from the sign matrix's
  * inDim yields that row's components all-null (the zip_with null-pad
  * semantics of the SQL form). The interpreted form paid
  * outDim × inDim lambda evaluations per row (aggregate/zip_with are
  * CodegenFallback); this is one kernel call inside whole-stage
  * codegen.
  */
final case class RandomProjectExpression(child: Expression,
    signs: Array[Array[Long]], scale: Double) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_random_project"
  override protected def withNewChildInternal(newChild: Expression): RandomProjectExpression =
    copy(child = newChild)
  private def grain(x: Double): Long = {
    val m = x * 1e6
    // Spark round(double, 0): NaN/Infinity pass through unchanged,
    // finite values go through BigDecimal HALF_UP; the long cast then
    // zeroes NaN and saturates ±Inf (Scala/Java double→long semantics,
    // which Spark's non-ANSI cast shares)
    val r = if (java.lang.Double.isNaN(m) || java.lang.Double.isInfinite(m)) m
    else java.math.BigDecimal.valueOf(m)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    r.toLong
  }
  def kernel(v: ArrayData): ArrayData = {
    val outDim = signs.length
    val inDim = signs(0).length
    val nulls = v.numElements() != inDim || {
      var i = 0
      var hasNull = false
      while (i < v.numElements() && !hasNull) {
        hasNull = v.isNullAt(i); i += 1
      }
      hasNull
    }
    if (nulls) {
      // every component's sum touches every element, so one bad/ragged
      // element nulls ALL components — the zip_with null-pad contract
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](outDim))
    } else {
      val g = new Array[Long](inDim)
      var j = 0
      while (j < inDim) { g(j) = grain(v.getDouble(j)); j += 1 }
      val out = new Array[Double](outDim)
      var k = 0
      while (k < outDim) {
        val row = signs(k)
        var s = 0L
        var i = 0
        while (i < inDim) { s += g(i) * row(i); i += 1 }
        out(k) = s.toDouble / scale
        k += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rpExpr", this, classOf[RandomProjectExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
  // array fields default to reference equality — compare values so
  // Catalyst canonicalization/CSE sees identical kernels as equal
  override def equals(other: Any): Boolean = other match {
    case r: RandomProjectExpression =>
      r.child == child && r.scale == scale &&
        java.util.Arrays.deepEquals(
          r.signs.asInstanceOf[Array[AnyRef]], signs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Double.valueOf(scale),
      Integer.valueOf(java.util.Arrays.deepHashCode(signs.asInstanceOf[Array[AnyRef]])))
}

/** Grained cosine against a CONSTANT reference centroid
  * (`graft_grained_cosine_const`) — the codegen'd scoring kernel behind
  * [[graft.ops.Drift.embeddingDrift]]. Replicates the zip_with /
  * aggregate HOF formulation BIT-FOR-BIT: per element the grained
  * products are Spark `floor(x*y*1e9)` of doubles — `(long)
  * Math.floor(...)`, NaN → 0, ±Inf saturating, exactly Spark's
  * double→long floor — summed left-to-right as exact longs, and the
  * final value is `sd / sqrt(sv * scA)` in the same IEEE order the
  * `when(...)` column computed. Null/ragged contract preserved: a
  * vector whose length differs from the centroid's, a null element
  * (zip_with null-pad → null sum → null condition), `sv <= 0`, or
  * `scA <= 0` all yield null. The HOF form evaluated interpreted
  * (aggregate/zip_with are CodegenFallback — ~4·d boxed lambda calls
  * per row); this is one kernel call inside whole-stage codegen.
  */
final case class GrainedCosineConstExpression(child: Expression,
    cent: Array[Double], sc9: Long) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_grained_cosine_const"
  override protected def withNewChildInternal(newChild: Expression): GrainedCosineConstExpression =
    copy(child = newChild)
  def kernel(v: ArrayData): Any = {
    val n = cent.length
    if (v.numElements() != n || sc9 <= 0L) return null
    var sd = 0L
    var sv = 0L
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      sd += math.floor(x * cent(i) * 1e9).toLong
      sv += math.floor(x * x * 1e9).toLong
      i += 1
    }
    if (sv <= 0L) null
    else java.lang.Double.valueOf(
      sd.toDouble / math.sqrt(sv.toDouble * sc9.toDouble))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gccExpr", this,
      classOf[GrainedCosineConstExpression].getName)
    val value = ctx.freshName("gcc")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $value = $self.kernel($c);
      if ($value == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Double) $value).doubleValue(); }
    """)
  }
  // array field defaults to reference equality — compare values so
  // Catalyst canonicalization/CSE sees identical kernels as equal
  override def equals(other: Any): Boolean = other match {
    case g: GrainedCosineConstExpression =>
      g.child == child && g.sc9 == sc9 &&
        java.util.Arrays.equals(g.cent, cent)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Long.valueOf(sc9),
      Integer.valueOf(java.util.Arrays.hashCode(cent)))
}

/** Grained cosine against a PER-ROW reference centroid
  * (`graft_grained_cosine`) — the scoring kernel behind
  * [[graft.ops.Drift.embeddingDriftByGroup]], where the centroid and
  * its grained self-norm arrive on the row via the broadcast group
  * join. Same bit-identical grain/sum/guard contract as
  * [[GrainedCosineConstExpression]]; a null element in EITHER array,
  * length mismatch, `sv <= 0` or `sc9 <= 0` yield null.
  */
final case class GrainedCosineExpression(first: Expression,
    second: Expression, third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_grained_cosine"
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): GrainedCosineExpression =
    copy(first = f, second = s, third = t)
  def kernel(v: ArrayData, cent: ArrayData, sc9: Long): Any = {
    val n = cent.numElements()
    if (v.numElements() != n || sc9 <= 0L) return null
    var sd = 0L
    var sv = 0L
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || cent.isNullAt(i)) return null
      val x = v.getDouble(i)
      sd += math.floor(x * cent.getDouble(i) * 1e9).toLong
      sv += math.floor(x * x * 1e9).toLong
      i += 1
    }
    if (sv <= 0L) null
    else java.lang.Double.valueOf(
      sd.toDouble / math.sqrt(sv.toDouble * sc9.toDouble))
  }
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[java.lang.Long].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gcExpr", this,
      classOf[GrainedCosineExpression].getName)
    val value = ctx.freshName("gc")
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"""
      Object $value = $self.kernel($a, $b, $c);
      if ($value == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Double) $value).doubleValue(); }
    """)
  }
}

/** IVF coarse-quantizer assignment — struct(cluster, angle) of the
  * nearest centroid. Reads the vector as a primitive double array
  * (`ArrayData.toDoubleArray`), avoiding the per-element boxing a
  * `Seq[Double]` UDF pays on every row of an embedding scan.
  */
final case class IvfAssignExpression(child: Expression,
    centroids: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("angle", DoubleType, nullable = false)))
  override def prettyName: String = "graft_ivf_assign"
  override protected def withNewChildInternal(newChild: Expression): IvfAssignExpression =
    copy(child = newChild)
  def kernel(v: ArrayData): InternalRow = {
    val arr = KernelUtil.toDoubles(v, "graft_ivf_assign")
    require(arr.length == centroids(0).length,
      s"graft_ivf_assign: vector dim ${arr.length} != centroid dim ${centroids(0).length}")
    val (c, a) = graft.ops.Similarity.assignValue(arr, centroids)
    new GenericInternalRow(Array[Any](c, a))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ivfExpr", this, classOf[IvfAssignExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
  // value equality over the centroid matrix (see HyperplaneBandsExpression)
  override def equals(other: Any): Boolean = other match {
    case e: IvfAssignExpression =>
      e.child == child && java.util.Arrays.deepEquals(
        e.centroids.asInstanceOf[Array[AnyRef]], centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])))
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

/** Int8 max-abs quantization of a double vector
  * (`graft_quantize_int8`): struct(scale, q) with
  * q_i = round(127 · x_i / maxabs) (half away from zero — the SQL
  * `round` semantics in both Spark and DuckDB, so the codes are
  * oracle-replicable) and scale = maxabs / 127, i.e. x_i ≈ q_i · scale.
  * Zero and empty vectors quantize to scale 0 / all-zero codes. The
  * 100 TB story: 4× smaller vectors through storage and shuffles, and
  * cosine is scale-invariant, so ranking on int8 codes needs no
  * dequantization (see [[Int8CosineExpression]]).
  */
final case class QuantizeInt8Expression(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(ByteType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_quantize_int8"
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expression =
    copy(child = newChild)
  def kernel(av: ArrayData): InternalRow = {
    val a = KernelUtil.toDoubles(av, "graft_quantize_int8")
    var m = 0.0
    var i = 0
    while (i < a.length) { val x = math.abs(a(i)); if (x > m) m = x; i += 1 }
    val q = new Array[Byte](a.length)
    if (m > 0) {
      i = 0
      while (i < a.length) {
        val s = 127.0 * a(i) / m
        q(i) = math.copySign(math.floor(math.abs(s) + 0.5), s).toByte
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](m / 127.0,
      UnsafeArrayData.fromPrimitiveArray(q)))
  }
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("qi8Expr", this, classOf[QuantizeInt8Expression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
}

/** Cosine over int8 code vectors (`graft_int8_cosine`) — integer dot
  * product and norms, one pass, no dequantization (scales cancel).
  * The hot path for ranking a quantized corpus: 4× less memory traffic
  * than the double kernel. Zero-norm inputs (the quantizer maps zero
  * vectors to all-zero codes) return 0.0 rather than NaN: the quantize
  * path makes zero vectors first-class, and a NaN would silently fail
  * threshold predicates instead of ranking the degenerate vector last.
  */
final case class Int8CosineExpression(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_int8_cosine"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8CosineExpression =
    copy(left = newLeft, right = newRight)
  def kernel(av: ArrayData, bv: ArrayData): Double = {
    val a = av.toByteArray()
    val b = bv.toByteArray()
    require(a.length == b.length,
      s"graft_int8_cosine: vector length mismatch (${a.length} vs ${b.length})")
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < a.length) {
      dot += a(i).toLong * b(i)
      na += a(i).toLong * a(i)
      nb += b(i).toLong * b(i)
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("i8cosExpr", this, classOf[Int8CosineExpression].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.kernel($a, $b)")
  }
}

/** Product-quantization encode (`graft_pq_encode`): unit-normalize the
  * vector, then per subspace the index of the L2-nearest sub-centroid —
  * `array<byte>` of `codebooks.length` codes, 32× smaller than 64
  * float dims. The one-scan encode step of the PQ/IVF-PQ ANN path
  * ([[graft.ops.Similarity.pqTopK]]).
  */
final case class PqEncodeExpression(child: Expression,
    codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpression =
    copy(child = newChild)
  def kernel(v: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.Similarity.pqEncodeValue(
        KernelUtil.toDoubles(v, "graft_pq_encode"), codebooks))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqEncExpr", this, classOf[PqEncodeExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
  // value equality over the nested codebook arrays (see HyperplaneBandsExpression)
  override def equals(other: Any): Boolean = other match {
    case e: PqEncodeExpression =>
      e.child == child && java.util.Arrays.deepEquals(
        e.codebooks.asInstanceOf[Array[AnyRef]], codebooks.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]])))
}

/** PQ asymmetric-distance lookup (`graft_pq_adc`): Σ_m table[m·k +
  * code_m] over a precomputed query/centroid dot-product table — the
  * per-row scoring kernel of the PQ candidate scan (reads only the
  * byte codes, never the vectors).
  */
final case class PqAdcExpression(child: Expression,
    table: Array[Double], k: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  override protected def withNewChildInternal(newChild: Expression): PqAdcExpression =
    copy(child = newChild)
  def kernel(codes: ArrayData): Double =
    graft.ops.Similarity.pqAdcValue(codes.toByteArray(), table, k)
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcExpr", this, classOf[PqAdcExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }
  override def equals(other: Any): Boolean = other match {
    case e: PqAdcExpression =>
      e.child == child && e.k == k && java.util.Arrays.equals(e.table, table)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(k),
      Integer.valueOf(java.util.Arrays.hashCode(table)))
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

/** Matryoshka truncation + L2 renorm of a double-array embedding —
  * see [[graft.ops.Embeddings.truncateNormalize]].
  */
final case class TruncateNormExpression(child: Expression, dims: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_truncate_norm"
  override protected def withNewChildInternal(newChild: Expression): TruncateNormExpression =
    copy(child = newChild)
  def kernel(a: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.Embeddings.truncateNormalizeValue(a.toDoubleArray(), dims))
  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tnExpr", this, classOf[TruncateNormExpression].getName)
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

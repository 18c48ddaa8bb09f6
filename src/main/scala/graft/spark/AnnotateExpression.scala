package graft.spark

import graft.engine.CompiledDictionary
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared body of the dictionary expressions ([[AnnotateExpression]],
  * [[RedactExpression]], [[AnnotateLocalExpression]]): one string child,
  * one null-safe scalar kernel `evalText` that both `eval` and the
  * generated code call. `doGenCode` emits a direct call into the kernel
  * (via a reference object), so the surrounding projection stays inside
  * whole-stage codegen — a CodegenFallback here would force the whole
  * stage back to interpreted row-at-a-time execution. The expressions
  * that take a broadcast carry only its HANDLE: the compiled dictionary
  * ships once per executor, not per task.
  */
abstract class DictionaryExpression extends UnaryExpression {

  /** Null-safe scalar kernel shared by eval and generated code. */
  def evalText(s: UTF8String): Any

  override def eval(input: InternalRow): Any =
    evalText(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val self = ctx.addReferenceObj("dictExpr", this, classOf[DictionaryExpression].getName)
    val javaType = CodeGenerator.javaType(dataType)
    val body = code"""
      |${childGen.code}
      |$javaType ${ev.value} = ($javaType) $self.evalText(
      |  ${childGen.isNull} ? null : ${childGen.value});
      |""".stripMargin
    if (nullable) ev.copy(code = body + code"boolean ${ev.isNull} = ${ev.value} == null;")
    else ev.copy(code = body, isNull = FalseLiteral)
  }
}

object DictionaryExpression {
  /** `textCol` through `expr`: the one route from a dictionary expression
    * to a DataFrame column.
    */
  def column(textCol: String)(expr: Expression => DictionaryExpression): Column =
    GraftBridge.column(expr(GraftBridge.expression(col(textCol))))
}

/** Native Catalyst expression for per-row annotation: annotations are
  * written straight into Catalyst `InternalRow`/`ArrayData`, no
  * reflection encoder per row.
  */
final case class AnnotateExpression(
    child: Expression,
    bc: Broadcast[CompiledDictionary],
    merge: Boolean) extends DictionaryExpression {

  override def dataType: DataType = AnnotateExpression.outputType
  override def nullable: Boolean = false
  override def prettyName: String = "annotate"

  override protected def withNewChildInternal(newChild: Expression): AnnotateExpression =
    copy(child = newChild)

  def evalText(s: UTF8String): GenericArrayData =
    if (s == null) AnnotateExpression.evalEmpty
    else AnnotateExpression.toCatalyst(bc.value.matchDocMerged(s.toString, merge))
}

/** Per-row dictionary REDACTION: matched spans replaced by `token`
  * (overlapping matches merge into one replacement; text without
  * matches passes through by reference). The engine's matcher
  * composed directly into the cleaning family (dictionary-driven
  * boilerplate/term removal at scan speed).
  */
final case class RedactExpression(
    child: Expression,
    bc: Broadcast[CompiledDictionary],
    token: String) extends DictionaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "redact_dictionary"

  override protected def withNewChildInternal(newChild: Expression): RedactExpression =
    copy(child = newChild)

  def evalText(s: UTF8String): UTF8String = {
    if (s == null) return null
    val text = s.toString
    val anns = bc.value.matchDoc(text)
    if (anns.isEmpty) return s
    val spans = anns.map(a => (a.beginOffset, a.endOffset))
      .sortBy { case (b, e) => (b, -e) }
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    spans.foreach { case (b, e) =>
      if (merged.nonEmpty && b <= merged.last._2) {
        val (lb, le) = merged.last
        merged(merged.length - 1) = (lb, math.max(le, e))
      } else merged += ((b, e))
    }
    val sb = new java.lang.StringBuilder
    var pos = 0
    merged.foreach { case (b, e) =>
      sb.append(text, pos, b).append(token)
      pos = e
    }
    sb.append(text, pos, text.length)
    UTF8String.fromString(sb.toString)
  }
}

object AnnotateExpression {
  /** Matches the schema the reflection encoder derives for
    * Seq[graft.dict.Annotation], so a Dataset of annotations and this
    * column read the same.
    */
  val annotationType: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("annType", StringType),
    StructField("dictEntryId", StringType),
    StructField("meta", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("beginOffset", IntegerType, nullable = false),
    StructField("endOffset", IntegerType, nullable = false)))

  val outputType: DataType = ArrayType(annotationType, containsNull = false)

  private val emptyArray = new GenericArrayData(Array.empty[Any])

  def evalEmpty: GenericArrayData = emptyArray

  def toCatalyst(anns: Seq[graft.dict.Annotation]): GenericArrayData = {
    if (anns.isEmpty) return emptyArray
    val out = new Array[Any](anns.length)
    var i = 0
    anns.foreach { a =>
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(a.text),
        UTF8String.fromString(a.annType),
        UTF8String.fromString(a.dictEntryId),
        ArrayBasedMapData(a.meta,
          (k: Any) => UTF8String.fromString(k.toString),
          (v: Any) => UTF8String.fromString(v.toString)),
        a.beginOffset,
        a.endOffset))
      i += 1
    }
    new GenericArrayData(out)
  }
}

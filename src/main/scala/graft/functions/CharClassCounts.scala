package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

object CharClassCounts {
  /** One pass over the UTF-8 bytes: counts of the q75 character classes
    * [a-z], [A-Z], [0-9], ' ', the q15 punctuation set {.,;:!?}, and
    * `other`, in that fixed order. The five named classes are pure ASCII,
    * and UTF-8 lead/continuation bytes of multi-byte code points are all
    * ≥ 0x80 (negative as JVM bytes), so per-byte matching counts exactly
    * the matching CODE POINTS — identical to the
    * `length(x) - length(regexp_replace(x, class, ''))` definition; the
    * `other` bucket is numChars minus the ASCII matches, so non-ASCII
    * text (multi-byte CJK, supplementary emoji) lands there by code
    * point, exactly as the regex definition counts it. */
  def compute(s: UTF8String): ArrayData = {
    var lower = 0L; var upper = 0L; var digit = 0L; var space = 0L; var punct = 0L
    var i = 0
    val n = s.numBytes()
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 'a' && b <= 'z') lower += 1
      else if (b >= 'A' && b <= 'Z') upper += 1
      else if (b >= '0' && b <= '9') digit += 1
      else if (b == ' ') space += 1
      else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') punct += 1
      i += 1
    }
    val other = s.numChars().toLong - lower - upper - digit - space - punct
    new GenericArrayData(Array(lower, upper, digit, space, punct, other))
  }
}

/** Native Catalyst expression: `char_class_counts(text)` — the six q75
  * character-class counts in one fused byte scan, replacing six separate
  * `regexp_replace` passes (each a full regex traversal of the document)
  * with a single loop and zero regex machinery. */
case class CharClassCountsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "char_class_counts"

  override protected def nullSafeEval(s: Any): Any =
    CharClassCounts.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.CharClassCounts.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): CharClassCountsExpr =
    copy(child = newChild)
}

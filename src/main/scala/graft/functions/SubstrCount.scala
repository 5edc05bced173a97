package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

object SubstrCount {
  /** Non-overlapping occurrence count of `pat` in `str` — the same count
    * `regexp_count(str, <literal>)` produces for a metachar-free pattern
    * (after a match, scanning resumes past it), via UTF8String.indexOf
    * instead of the regex engine: no Pattern/Matcher machinery, no
    * per-row String materialization. Empty pattern → UTF-16 length + 1,
    * exactly regexp_count's empty-regex position count: Java's regex engine
    * advances zero-width matches by UTF-16 UNIT, so a supplementary
    * (surrogate-pair) character contributes TWO positions, not one — the
    * expression is SQL-registered, so ad-hoc SQL treating it as a drop-in
    * must get drop-in semantics on every edge, including non-BMP text
    * (ExprEquivalenceSpec pins it dynamically against regexp_count on
    * emoji). */
  def count(str: UTF8String, pat: UTF8String): Int = {
    val plen = pat.numChars()
    if (plen == 0) {
      // UTF-16 length = code points + #supplementary (4-byte UTF-8 leads)
      var supp = 0
      var i = 0
      while (i < str.numBytes()) {
        if ((str.getByte(i) & 0xF8) == 0xF0) supp += 1
        i += 1
      }
      return str.numChars() + supp + 1
    }
    var from = 0
    var n = 0
    var found = str.indexOf(pat, from)
    while (found >= 0) {
      n += 1
      from = found + plen
      found = str.indexOf(pat, from)
    }
    n
  }
}

/** Native Catalyst expression: `substr_count(text, literal)` — the
  * fixed-substring occurrence counter behind the language-ID profile scans
  * (q41 runs 24 of these per row; each regex literal pays Pattern/Matcher
  * overhead that a direct scan does not). Value-identical to
  * `regexp_count` on a metachar-free pattern (ExprEquivalenceSpec pins
  * it). */
case class SubstrCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = IntegerType

  override def prettyName: String = "substr_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SubstrCount.count(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) => s"graft.functions.SubstrCount.count($s, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubstrCountExpr =
    copy(left = newLeft, right = newRight)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: the Hilbert curve index of a 2-D point —
  * the q205 layout key, fused into whole-stage codegen as one Java loop of
  * branch-and-shift arithmetic (an `aggregate` fold over the levels would
  * pay per-row struct allocation × `bits` iterations). BIT-IDENTICAL to
  * [[graft.operators.Scale.hilbert2Jvm]]: the interpreted eval calls it
  * directly, and ExprEquivalenceSpec pins the generated code to it.
  * Inputs truncate to `bits` bits; nulls propagate. */
case class HilbertIndexExpr(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"hilbert2 bits must be in [1,31] (got $bits)")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "hilbert2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.operators.Scale.hilbert2Jvm(
      a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val rx = ctx.freshName("rx"); val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      val n1 = (1L << bits) - 1
      s"""
         |long $x = $a & ${n1}L;
         |long $y = $b & ${n1}L;
         |long $d = 0L;
         |for (long $s = ${1L << (bits - 1)}L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = ${n1}L - $x; $y = ${n1}L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndexExpr =
    copy(left = newLeft, right = newRight)
}

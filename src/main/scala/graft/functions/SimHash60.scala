package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

object SimHash60 {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** SimHash over the token array: each token's 60-bit md5 value (same
    * derivation as [[MinHash60.compute]], so the hash matches
    * `conv(substring(md5(w),1,15),16,10)` bit-for-bit) votes ±1 on each of
    * 60 bit positions, duplicates included; output bit b is set iff the
    * vote sum is positive. Integer votes are order-free, so this equals the
    * explode → 60×sum(CASE) → reassemble formulation exactly. */
  /** Null-propagating wrapper: an array containing a null element yields a
    * NULL hash (a null token has no md5 to vote with) instead of an NPE —
    * the expression is SQL-registered and callable on arbitrary
    * array<string> input, not just TextOps.words output, which never holds
    * a null element. */
  def computeOrNull(words: ArrayData): java.lang.Long = {
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (words.isNullAt(i)) return null
      i += 1
    }
    java.lang.Long.valueOf(compute(words))
  }

  def compute(words: ArrayData): Long = {
    val digest = md.get()
    val votes = new Array[Int](60)
    var i = 0
    val n = words.numElements()
    while (i < n) {
      digest.reset()
      val h = digest.digest(words.getUTF8String(i).getBytes)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      v = v >>> 4
      var bit = 0
      while (bit < 60) {
        if (((v >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 60) { if (votes(bit) > 0) out |= 1L << bit; bit += 1 }
    out
  }
}

/** Native Catalyst expression: `sim_hash60(words)` — the whole SimHash
  * fingerprint (per-token 60-bit md5 + bit votes + majority reassembly) in
  * one pass over the token array, replacing an explode to |tokens| rows, a
  * 60-column conditional-sum aggregation, and its keyed shuffle with a
  * scalar projection. */
case class SimHash60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true // null array OR null element → NULL

  override def prettyName: String = "sim_hash60"

  override protected def nullSafeEval(input: Any): Any =
    SimHash60.computeOrNull(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_r = graft.functions.SimHash60.computeOrNull($c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }
    """)

  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

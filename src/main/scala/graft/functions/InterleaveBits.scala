package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleave of two dimensions — the multi-column
  * clustering key behind ZORDER-style data layout: sort/range-partition a
  * 100 TB table by `interleave_bits(a, b)` and file-level min/max stats
  * become selective for range predicates on EITHER column, because
  * z-order keeps both dimensions' locality in one sort key (a plain
  * compound sort only prunes on its leading column).
  *
  * Contract: inputs are the LOW 31 BITS of each dimension (callers bucket
  * or mod larger domains down first — `pmod(x, 1<<31)`); the result is
  * Σ_i (a_i << (2i+1)) + (b_i << 2i) < 2^62, so it never touches the sign
  * bit and integer comparisons order it identically in every engine,
  * which is what makes z-ordered outputs SQL-oracle-able.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "interleave_bits requires two bigint arguments, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): InterleaveBits =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "interleave_bits"
}

object InterleaveBits {

  /** Morton-interleave the low 31 bits of a (odd positions) and b (even
    * positions) via the standard bit-spreading magic numbers.
    */
  def interleave(a: Long, b: Long): Long = {
    require(a >= 0 && b >= 0 && a < (1L << 31) && b < (1L << 31),
      s"interleave_bits inputs must be in [0, 2^31): $a, $b")
    (spread(a) << 1) | spread(b)
  }

  /** Spread the low 31 bits of v to even positions of a 62-bit value. */
  private def spread(v0: Long): Long = {
    var v = v0 & 0x7fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Column entry point (registry-bridged — call [[register]] first). */
  def interleave_bits(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("interleave_bits", a, b)

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(
      spark, "interleave_bits", exprs => InterleaveBits(exprs.head, exprs(1)))
  }
}

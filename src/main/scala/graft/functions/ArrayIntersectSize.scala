package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for `|a ∩ b|` over string arrays — the
  * similarity-join verify kernel (the reference's positional-overlap merge
  * count, `DSim-Join/src/main/scala/ds_join/JaccardIndex.scala:27-97`).
  *
  * `size(array_intersect(a, b))` allocates the intersection ARRAY just to
  * count it; on a verify path running millions of candidate pairs ×
  * ~100-token arrays that allocation is pure overhead. This expression
  * hashes the smaller side and counts membership of the other — no result
  * array, one static call emitted straight into whole-stage codegen (the
  * preferred extension tier, same as [[JavaStringHash]]).
  *
  * Inputs are treated as SETS (distinct elements), matching
  * `array_intersect`'s dedup semantics on the tokenized inputs (which are
  * `array_distinct`-ed upstream). Null elements are not expected on the
  * verify path and are ignored.
  */
case class ArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        // hashed-token tier: dedup state stored as xxhash64 token ids
        // verifies in hash space with the same kernel shape
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "intersect_size requires two array<string> or two array<bigint> arguments, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  private def isLongVariant: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isLongVariant)
      ArrayIntersectSize.intersectSizeLong(
        a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    else
      ArrayIntersectSize.intersectSize(
        a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (isLongVariant) "intersectSizeLong" else "intersectSize"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ArrayIntersectSize.$kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): ArrayIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "intersect_size"
}

object ArrayIntersectSize {

  /** Count distinct common UTF8String elements; hashes the smaller array. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](Math.max(4, n * 2))
    var i = 0
    while (i < n) {
      if (!small.isNullAt(i)) set.add(small.getUTF8String(i))
      i += 1
    }
    var count = 0
    val m = big.numElements()
    var j = 0
    while (j < m) {
      if (!big.isNullAt(j) && set.remove(big.getUTF8String(j))) count += 1
      j += 1
    }
    count
  }

  /** Long-array kernel (hashed-token tier): sorted-probe-free HashSet
    * membership count, same smaller-side hashing as the string kernel.
    */
  def intersectSizeLong(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[java.lang.Long](Math.max(4, n * 2))
    var i = 0
    while (i < n) {
      if (!small.isNullAt(i)) set.add(small.getLong(i))
      i += 1
    }
    var count = 0
    val m = big.numElements()
    var j = 0
    while (j < m) {
      if (!big.isNullAt(j) && set.remove(big.getLong(j))) count += 1
      j += 1
    }
    count
  }

  /** Column-level entry point (registry-bridged, see [[JavaStringHash]]):
    * call [[register]] on the session first.
    */
  def intersect_size(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("intersect_size", a, b)

  /** Register `intersect_size` for SQL and [[intersect_size]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(
      spark, "intersect_size", exprs => ArrayIntersectSize(exprs.head, exprs(1)))
  }
}

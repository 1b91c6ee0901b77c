package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two `array<float>` embeddings — the ANN /
  * semantic-dedup verify kernel (reference similarity scans:
  * `DSim-Join/src/main/scala/ds_join/JaccardIndex.scala` is the token
  * analogue; the embedding path has no reference counterpart and follows
  * the same fused-kernel design as [[ArrayIntersectSize]]).
  *
  * The composed-column form (`aggregate(zip_with(a, b, _*_), …) /
  * (sqrt(aggregate(…)) * sqrt(aggregate(…)))`) has two structural costs on
  * a candidate-verify path that runs millions of pairs:
  *   - `aggregate`/`zip_with` are higher-order functions → CodegenFallback:
  *     every element evaluation goes through interpreted lambda dispatch
  *     and the `zip_with` materializes the products array;
  *   - the dot and the two norms are three separate passes over the same
  *     arrays, and a flat projection re-evaluates the whole subtree once
  *     per referencing column (measured 17× on q58's signal battery).
  *
  * This expression computes dot, ‖a‖² and ‖b‖² in ONE loop with no
  * allocation, emitted as a single static call inside whole-stage codegen.
  *
  * FP semantics are IDENTICAL to the composed form (so every oracle that
  * replays cosine in SQL stays bit-exact): each float is widened to double,
  * the three sums accumulate left-to-right from 0.0, and the result is
  * `dot / (sqrt(na2) * sqrt(nb2))` — NOT `sqrt(na2 * nb2)`, which rounds
  * differently. Null array, length mismatch, or any null element → null
  * (exactly what `zip_with`'s null padding + `acc + null` propagation
  * produce in the composed form).
  *
  * ONE deliberate divergence: a zero-norm input → null (`try_divide`
  * semantics). Under Spark 4's default ANSI mode the composed form's
  * `Divide` THROWS on a zero divisor — a single all-zero embedding (a
  * decode failure, a padded row) would kill a corpus-scale job. A
  * zero-norm vector has no defined cosine; null is the answer a curation
  * pipeline can route, an exception is not. (Spec'd explicitly.)
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "cosine_sim requires two array<float> arguments, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.CosineSimilarity.cosine($a, $b);
      if (${ev.value}_r == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}_r.doubleValue();
      }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {

  /** One fused pass; boxed null signals length mismatch / null element. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na2 = 0.0
    var nb2 = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na2 += x * x
      nb2 += y * y
      i += 1
    }
    if (na2 == 0.0 || nb2 == 0.0) return null
    java.lang.Double.valueOf(dot / (Math.sqrt(na2) * Math.sqrt(nb2)))
  }

  /** Column-level entry point; call [[register]] on the session first. */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)

  /** Register `cosine_sim` for SQL and [[cosine_sim]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(
      spark, "cosine_sim", exprs => CosineSimilarity(exprs.head, exprs(1)))
  }
}

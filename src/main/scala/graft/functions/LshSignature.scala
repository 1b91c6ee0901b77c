package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression computing ALL random-hyperplane LSH bucket
  * ids of an embedding in one pass: `lsh_signature(emb, tables, bits)` →
  * `array<long>` of `tables` bucket ids, bit j of table t set iff
  * `⟨emb, plane(t·97+j)⟩ > 0` for the deterministic Rademacher (±1)
  * hyperplane seeded by the plane id.
  *
  * The declarative form (per-plane `aggregate`/`zip_with` with a hash per
  * element) re-derives the sign matrix per row per element — tables×bits×
  * dim hash evaluations and tables×bits array allocations per row. Here
  * the sign matrix is precomputed once per (tables, bits, dim) and the
  * whole signature is one tight fused loop emitted into whole-stage
  * codegen. Same recall model, ~free bucketize.
  */
case class LshSignature(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  require(tables > 0 && bits > 0 && bits <= 63, s"bad LSH shape: $tables x $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"lsh_signature requires array<float>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    LshSignature.signature(input.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshSignature.signature($c, $tables, $bits);")

  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)

  override def prettyName: String = "lsh_signature"
}

object LshSignature {

  // (tables, bits, dim) → flat sign matrix, plane-major
  private val signCache = TrieMap.empty[(Int, Int, Int), Array[Array[Float]]]

  /** Deterministic ±1 hyperplane for plane id `t·97 + j` — a fixed-seed
    * PRNG (java.util.Random's sequence is part of its spec), reproducible
    * across runs and JVMs.
    */
  private def signs(tables: Int, bits: Int, dim: Int): Array[Array[Float]] =
    signCache.getOrElseUpdate((tables, bits, dim), {
      Array.tabulate(tables * bits) { p =>
        val t = p / bits
        val j = p % bits
        val rnd = new java.util.Random((t * 97 + j).toLong)
        Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      }
    })

  /** All `tables` bucket ids of one embedding. */
  def signature(emb: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dim = emb.numElements()
    val planes = signs(tables, bits, dim)
    val vals = new Array[Float](dim)
    var i = 0
    while (i < dim) { vals(i) = emb.getFloat(i); i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var acc = 0L
      var j = 0
      while (j < bits) {
        val s = planes(t * bits + j)
        var d = 0.0
        var k = 0
        while (k < dim) { d += vals(k) * s(k); k += 1 }
        if (d > 0) acc |= 1L << j
        j += 1
      }
      out(t) = acc
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column-level entry point — call [[register]] on the session first. */
  def lsh_signature(emb: Column, tables: Int, bits: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "lsh_signature",
      emb,
      org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(bits))

  private def literalInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(
        s"lsh_signature: $what must be an integer literal, got $other")
  }

  def builder(exprs: Seq[Expression]): LshSignature = {
    require(exprs.length == 3, s"lsh_signature(emb, tables, bits): got ${exprs.length} args")
    LshSignature(exprs.head, literalInt(exprs(1), "tables"), literalInt(exprs(2), "bits"))
  }

  /** Register `lsh_signature` for SQL and [[lsh_signature]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "lsh_signature", builder)
  }
}

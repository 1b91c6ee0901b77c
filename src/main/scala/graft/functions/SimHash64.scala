package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing a 64-bit SimHash fingerprint of a
  * token array in ONE pass: `simhash64(toks)` → long.
  *
  * SimHash (Charikar's random-hyperplane sketch over token features — the
  * classic near-dup fingerprint): bit p of the fingerprint is set iff
  * `Σ_tokens sign_p(token) > 0`, where `sign_p` is a ±1 drawn from bit p of
  * the token's hash.
  *
  * Token hash = the first 8 bytes of the token's MD5, read as 16 hex
  * nibbles: plane p (0…63) takes bit `p mod 4` of nibble `p / 4` (nibble 0
  * = the first hex character of the digest). MD5 is chosen deliberately:
  * it is bit-identical across engines (`md5()` exists in both Spark and
  * DuckDB), which makes the whole fingerprint — and therefore the pair
  * output of [[graft.operators.Dedup.simhashPairs]] — ORACLE-ABLE in
  * portable SQL, unlike a seeded xxhash64.
  *
  * The declarative form (`transform(sequence(0,63), j => aggregate(toks,
  * …))`) re-hashes every token 64× inside interpreted higher-order
  * functions — measured 489 s for q43 at sf0.1. Here each token is hashed
  * once and the 64 counters update in a tight fused loop emitted straight
  * into whole-stage codegen (measured ~100× less expression time).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.fingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.fingerprint($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  // MessageDigest is stateful; one per thread, reset by digest() itself.
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** One-pass fingerprint over the token array (null elements ignored). */
  def fingerprint(toks: ArrayData): Long = {
    val md = mdLocal.get()
    val counts = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val d = md.digest(toks.getUTF8String(i).getBytes)
        // byte k carries hex nibbles 2k (high) and 2k+1 (low); nibble i
        // feeds planes 4i+b, b = bit b of the nibble value
        var k = 0
        while (k < 8) {
          val hi = (d(k) >> 4) & 0xf
          val lo = d(k) & 0xf
          val base = k * 8
          var b = 0
          while (b < 4) {
            counts(base + b) += (((hi >> b) & 1) << 1) - 1
            counts(base + 4 + b) += (((lo >> b) & 1) << 1) - 1
            b += 1
          }
          k += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var p = 0
    while (p < 64) {
      if (counts(p) > 0) fp |= 1L << p
      p += 1
    }
    fp
  }

  /** Column-level entry point — call [[register]] on the session first. */
  def simhash64(toks: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", toks)

  /** Register `simhash64` for SQL and [[simhash64]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "simhash64", exprs => SimHash64(exprs.head))
  }
}

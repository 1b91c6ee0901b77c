package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing ALL banded MinHash signatures of a
  * token array in one pass: `minhash_bands(toks, bands, rowsPerBand)` →
  * `array<long>` of `bands` band signatures.
  *
  * MinHash value j (j < bands·rowsPerBand) is `min over tokens of
  * mix_j(xxh64(token))`: each token is hashed ONCE and the k permutation
  * approximations are j-seeded xxh64 mixes of that 8-byte hash — a few
  * arithmetic ops each, instead of the declarative form's k full re-hashes
  * of every token through interpreted higher-order functions
  * (`transform(sequence(0,k−1), j => array_min(transform(toks, t =>
  * xxhash64(j,t))))` — k·|toks| string hashes and k array allocations per
  * row). Band b's signature folds its `rowsPerBand` MinHash slice through
  * the same mixer, seeded by the band id.
  *
  * Two records share band b with probability `1−(1−J^r)^b` exactly as with
  * any independent hash family — the LSH recall model is unchanged, and
  * all dedup correctness is anchored by exact-Jaccard verification
  * downstream regardless.
  */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(bands > 0 && rowsPerBand > 0, s"bad shape: $bands x $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_bands requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.signatures(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashBands.signatures($c, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {

  /** All band signatures of one token array. */
  def signatures(toks: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val k = bands * rowsPerBand
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h = XXH64.hashUTF8String(toks.getUTF8String(i), 42L) // one string hash per token
        var j = 0
        while (j < k) {
          val m = XXH64.hashLong(h, j) // cheap 8-byte mix per permutation
          if (m < mins(j)) mins(j) = m
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = XXH64.hashLong(b.toLong, 77L)
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + r) ^ acc, b.toLong)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column-level entry point — call [[register]] on the session first. */
  def minhash_bands(toks: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_bands",
      toks,
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(rowsPerBand))

  private def literalInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(
        s"minhash_bands: $what must be an integer literal, got $other")
  }

  def builder(exprs: Seq[Expression]): MinHashBands = {
    require(
      exprs.length == 3,
      s"minhash_bands(toks, bands, rowsPerBand): got ${exprs.length} args")
    MinHashBands(
      exprs.head,
      literalInt(exprs(1), "bands"),
      literalInt(exprs(2), "rowsPerBand"))
  }

  /** Register `minhash_bands` for SQL and [[minhash_bands]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "minhash_bands", builder)
  }
}

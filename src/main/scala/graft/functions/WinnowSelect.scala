package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing a document's WINNOWED fingerprint
  * set in one pass: `winnow_select(words, k, w)` → `array<long>` of the
  * distinct w-window minima over the k-shingle hashes (first-occurrence
  * order — the `array_distinct` contract).
  *
  * Shingle hash = first 8 hex chars of MD5 of the space-joined k-gram, as
  * an unsigned 32-bit value in a long — the engine-portable
  * [[graft.operators.Sampling.hashUniform]] recipe, so the selected sets
  * replay exactly in SQL.
  *
  * The declarative form (`transform(sequence…, i => conv(substring(md5(
  * concat_ws(" ", slice(wd, i+1, k)))…)` + a second transform of
  * `array_min(slice(hs…))`) built two array slices and a string per
  * shingle inside interpreted higher-order functions — measured 152 s for
  * q52 at sf0.1, the q43-SimHash syndrome. Here each shingle is joined
  * and hashed once in a tight loop and the window minima come from a
  * monotonic deque (O(n) total), emitted straight into whole-stage
  * codegen — same values, same order.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int) extends UnaryExpression {

  require(k >= 1 && w >= 1, s"bad winnow shape: k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"winnow_select requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WinnowSelect.select(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowSelect.select($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)

  override def prettyName: String = "winnow_select"
}

object WinnowSelect {

  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private val HexDigits = "0123456789abcdef".getBytes

  /** Distinct w-window minima of the k-shingle hashes, first-occurrence
    * order; empty when the document has no full window.
    */
  def select(words: ArrayData, k: Int, w: Int): ArrayData = {
    val n = words.numElements()
    val m = n - k + 1 // shingle count
    if (m < w) return ArrayData.toArrayData(Array.emptyLongArray)

    val md = mdLocal.get()
    val hs = new Array[Long](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        if (!words.isNullAt(i + j)) sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      // first 8 hex chars = first 4 digest bytes, big-endian unsigned
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }

    // sliding-window minima via monotonic deque (indices, increasing hash)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // [head, tail)
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.add(hs(deque(head)))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    ArrayData.toArrayData(arr)
  }

  /** Column-level entry point — call [[register]] on the session first. */
  def winnow_select(words: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "winnow_select",
      words,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))

  private def literalInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(
        s"winnow_select: $what must be an integer literal, got $other")
  }

  def builder(exprs: Seq[Expression]): WinnowSelect = {
    require(
      exprs.length == 3,
      s"winnow_select(words, k, w): got ${exprs.length} args")
    WinnowSelect(exprs.head, literalInt(exprs(1), "k"), literalInt(exprs(2), "w"))
  }

  /** Register `winnow_select` for SQL and [[winnow_select]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "winnow_select", builder)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression running WordPiece-style tokenizer INFERENCE:
  * `wordpiece_encode(words, starts, continuations)` → `array<string>` of
  * sub-word pieces. Per word, greedy longest-match-first segmentation (the
  * standard WordPiece algorithm): the first piece is the longest `starts`
  * vocab entry prefixing the word, every further piece the longest
  * `continuations` entry prefixing the remainder (emitted with the `##`
  * marker); if any position has no match the WHOLE word degrades to a
  * single `[UNK]` — exactly the BERT-tokenizer contract.
  *
  * Why an expression and not SQL functions: greedy segmentation is a
  * per-word loop with early exit — inexpressible in `transform`/`aggregate`
  * without a quadratic unroll, and higher-order array functions are
  * CodegenFallback anyway (the measured q52/q58 syndrome). Here the loop
  * runs in a tight JVM method invoked from whole-stage codegen via a
  * reference object; vocab lookup is an O(1) hash probe per candidate
  * length, longest first, bounded by the longest vocab entry.
  *
  * At scale the vocab rides the serialized expression (a real 30k-piece
  * WordPiece vocab is ~300 KB — task-broadcast-sized, the same way a
  * production tokenizer ships its vocab file to executors). The whole
  * operator is a narrow projection: no shuffle, no state.
  */
case class WordPieceEncode(child: Expression, starts: Seq[String], conts: Seq[String])
    extends UnaryExpression {

  require(starts.nonEmpty, "wordpiece_encode: empty start vocab")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"wordpiece_encode requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val startSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](starts.size * 2)
    starts.foreach(s.add)
    s
  }
  @transient private lazy val contSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](conts.size * 2)
    conts.foreach(s.add)
    s
  }
  @transient private lazy val maxStartLen: Int = starts.map(_.length).max
  @transient private lazy val maxContLen: Int =
    if (conts.isEmpty) 0 else conts.map(_.length).max

  /** Segment one word; appends pieces to `out` (or one "[UNK]"). */
  private def encodeWord(word: String, out: java.util.ArrayList[UTF8String]): Unit = {
    val n = word.length
    if (n == 0) return
    val mark = out.size()
    var pos = 0
    while (pos < n) {
      val first = pos == 0
      val set = if (first) startSet else contSet
      val maxLen = if (first) maxStartLen else maxContLen
      var end = math.min(n, pos + maxLen)
      var found: String = null
      while (found == null && end > pos) {
        val cand = word.substring(pos, end)
        if (set.contains(cand)) found = cand else end -= 1
      }
      if (found == null) {
        // whole-word failure: roll back pieces already emitted for it
        while (out.size() > mark) out.remove(out.size() - 1)
        out.add(WordPieceEncode.Unk)
        return
      }
      out.add(
        if (first) UTF8String.fromString(found)
        else UTF8String.fromString("##" + found))
      pos = end
    }
  }

  def encode(words: ArrayData): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) encodeWord(words.getUTF8String(i).toString, out)
      i += 1
    }
    ArrayData.toArrayData(out.toArray(new Array[UTF8String](out.size())))
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wp", this, classOf[WordPieceEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncode =
    copy(child = newChild)

  override def prettyName: String = "wordpiece_encode"
}

object WordPieceEncode {

  private[functions] val Unk: UTF8String = UTF8String.fromString("[UNK]")

  /** Column-level entry point — call [[register]] on the session first. */
  def wordpiece_encode(words: Column, starts: Seq[String], conts: Seq[String]): Column = {
    val f = org.apache.spark.sql.functions
    f.call_function(
      "wordpiece_encode",
      words,
      f.array(starts.map(f.lit): _*),
      f.array(conts.map(f.lit): _*))
  }

  private def literalStrings(e: Expression, what: String): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"wordpiece_encode: $what must be a literal array of strings, got $e")
    e.eval() match {
      case a: ArrayData => a.toObjectArray(StringType).map {
        case s: UTF8String => s.toString
        case other =>
          throw new IllegalArgumentException(
            s"wordpiece_encode: $what must contain strings, got $other")
      }.toSeq
      case other =>
        throw new IllegalArgumentException(
          s"wordpiece_encode: $what must be an array literal, got $other")
    }
  }

  def builder(exprs: Seq[Expression]): WordPieceEncode = {
    require(
      exprs.length == 3,
      s"wordpiece_encode(words, starts, continuations): got ${exprs.length} args")
    WordPieceEncode(
      exprs.head,
      literalStrings(exprs(1), "starts"),
      literalStrings(exprs(2), "continuations"))
  }

  /** Register `wordpiece_encode` for SQL and [[wordpiece_encode]] use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "wordpiece_encode", builder)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the text
  * pipeline's canonicalization step: "é" as U+00E9 and as e+U+0301 must
  * dedup, token-count, and join identically, and every serious corpus
  * mixes both (different OCR stacks, keyboards, editors emit different
  * forms). NFC (canonical composition, UAX #15) is the standard answer;
  * the transform is defined by the Unicode tables, so any conformant
  * engine produces the SAME bytes — which is what makes queries over it
  * exactly SQL-oracle-able (DuckDB's `nfc_normalize` replays it).
  *
  * A codegen'd `UnaryExpression`: the already-normalized fast path
  * (`Normalizer.isNormalized`, a table lookup that never allocates for
  * ASCII — the overwhelmingly common case) returns the input UTF8String
  * untouched; only denormalized strings pay the compose. One static
  * helper serves both eval paths.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {

  /** One implementation for both eval paths (called from generated code). */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "nfc_normalize", exprs => NfcNormalize(exprs.head))
  }
}

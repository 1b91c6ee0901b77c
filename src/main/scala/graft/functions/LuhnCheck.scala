package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the Luhn checksum (ISO/IEC 7812) — the
  * validity test behind payment-card, IMEI, and many national-id
  * numbers. The PII tier's PRECISION upgrade: a redactor that masks
  * every 13-19-digit run dominated by false positives (timestamps,
  * invoice ids); gating on the Luhn check drops ~90 % of random digit
  * runs (exactly the 1-in-10 that checksum by chance) while never
  * missing a real card number.
  *
  * Semantics: true iff the input, after removing ASCII spaces and
  * hyphens (the common formatting), is 13-19 characters of pure digits
  * whose Luhn sum ≡ 0 (mod 10). Any other character, or a length
  * outside the card range, is false — never null (on non-null input).
  *
  * A codegen'd `UnaryExpression` (the preferred extension tier): the
  * right-to-left double-every-second-digit loop inlines into
  * whole-stage codegen via `doGenCode`; a shared static helper keeps
  * interpreted and generated paths on ONE implementation.
  */
case class LuhnCheck(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"luhn_check requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    LuhnCheck.isValid(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LuhnCheck.isValid($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): LuhnCheck =
    copy(child = newChild)

  override def prettyName: String = "luhn_check"
}

object LuhnCheck {

  /** One implementation for both eval paths (called from generated code —
    * must stay a public static-forwardable method on this object).
    */
  def isValid(raw: String): Boolean = {
    var digits = 0
    var i = 0
    while (i < raw.length) { // count digits, reject non-format chars
      val ch = raw.charAt(i)
      if (ch >= '0' && ch <= '9') digits += 1
      else if (ch != ' ' && ch != '-') return false
      i += 1
    }
    if (digits < 13 || digits > 19) return false
    var sum = 0
    var pos = 0 // position from the RIGHT among digits only
    i = raw.length - 1
    while (i >= 0) {
      val ch = raw.charAt(i)
      if (ch >= '0' && ch <= '9') {
        var d = ch - '0'
        if (pos % 2 == 1) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        pos += 1
      }
      i -= 1
    }
    sum % 10 == 0
  }

  /** Column-level entry point (register first). */
  def luhn_check(c: Column): Column =
    org.apache.spark.sql.functions.call_function("luhn_check", c)

  /** Register `luhn_check` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "luhn_check", exprs => LuhnCheck(exprs.head))
  }
}

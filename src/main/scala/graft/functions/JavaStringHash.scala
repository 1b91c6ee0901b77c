package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Java `String.hashCode` — the reference's
  * universal hash (`DSim-Join/src/main/scala/ds_join/BuildSig.scala:61,280`
  * keys every signature by it), exposed as an engine function so a
  * migrating user gets IDENTICAL hash keys.
  *
  * A codegen'd `UnaryExpression` rather than a Scala UDF (the preferred
  * extension tier): `doGenCode` emits the rolling-hash loop straight into
  * whole-stage codegen — no serialization boundary, no UDF call overhead,
  * null-safety handled by the framework.
  */
case class JavaStringHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"java_hash requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toString.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c.toString().hashCode();")

  override protected def withNewChildInternal(newChild: Expression): JavaStringHash =
    copy(child = newChild)

  override def prettyName: String = "java_hash"
}

object JavaStringHash {

  /** Column-level entry point: `java_hash($"text")`. Resolves through the
    * function registry (Column↔Expression bridges are private[sql] in
    * Spark 4) — call [[register]] on the session first.
    */
  def java_hash(c: Column): Column =
    org.apache.spark.sql.functions.call_function("java_hash", c)

  /** Register `java_hash` for SQL and [[java_hash]] use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerIfAbsent(spark, "java_hash", exprs => JavaStringHash(exprs.head))
  }
}

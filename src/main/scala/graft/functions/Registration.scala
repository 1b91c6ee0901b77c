package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one registration path behind every `register(spark)` of this
  * package. The Column entry points resolve their function by name
  * (`call_function`), so a session built without [[graft.GraftExtensions]]
  * needs the name registered; a session built with it already holds
  * graft's entry, with its usage text and owner class.
  */
private[functions] object Registration {

  /** Register `name` unless the session's registry already has it.
    * Operators call `register` on every plan build, so an unconditional
    * replace would clobber the extension's entry each time. Spark's own
    * built-in of the same name (`luhn_check`) is still replaced.
    */
  def registerIfAbsent(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val id = FunctionIdentifier(name)
    val registry = spark.sessionState.functionRegistry
    val current = registry.lookupFunction(id)
    if (current.isEmpty || current == FunctionRegistry.builtin.lookupFunction(id))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Bridge between graft's native Catalyst expressions and the public
  * Column API (Spark 4 moved the Column(expr) constructor behind
  * private[sql] ExpressionUtils). Lives in the org.apache.spark.sql
  * package purely to re-export those conversions; no Spark behavior
  * is modified. Using direct Column construction (instead of the
  * session FunctionRegistry) keeps expression-backed helper Columns
  * session-independent — important for code paths that build Columns
  * without a session at hand (PartitionInvarianceSpec runs the same
  * query on sibling sessions whose temp-function registries differ). */
object GraftExprShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The function builder `spark.udf.register(name, f)` installs for a
    * Scala UDF — arity check, then the named ScalaUDF over the call's
    * arguments — as a value, so an extension can inject it too. */
  def udfBuilder(name: String, f: UserDefinedFunction): Seq[Expression] => Expression = {
    val named = f.withName(name).asInstanceOf[SparkUserDefinedFunction]
    val arity = named.inputEncoders.size
    args => {
      if (args.length != arity)
        throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity.toString), args.length)
      classic.UserDefinedFunctionUtils.toScalaUDF(named, args)
    }
  }
}

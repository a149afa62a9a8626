package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, not}

/** The two ways Spark evaluates an expression, for specs that compare a
  * native expression with the form it replaces. By default Spark falls back
  * to `eval` when generated code does not compile, which would hide a
  * broken `doGenCode`; the compiled mode turns that fallback off. */
object CodegenModes {

  /** (label, session confs): "" compiles every expression and fails on a
    * codegen error; "interpreted" runs `eval` only. The compiled mode also
    * keeps the optimizer from evaluating a projection over an in-memory
    * input (ConvertToLocalRelation does that with `eval`). */
  val modes: Seq[(String, Map[String, String])] = Seq(
    "" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" -> "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"),
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))

  /** Rows of `df` where the expected value `o` and the native value `n`
    * differ, counted with `confs` set; null-safe and bit-exact (any ULP
    * difference counts). */
  def differWith(confs: Map[String, String])(df: DataFrame, o: Column, n: Column): Long = {
    val spark = df.sparkSession
    val before = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.select(o.as("o"), n.as("n")).where(not(col("o") <=> col("n"))).count()
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

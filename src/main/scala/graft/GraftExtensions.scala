package graft

import org.apache.spark.sql.{GraftSessions, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Standard Spark extension entry point: enable every graft engine
  * function on ANY SparkSession — including spark-submit / spark-sql
  * sessions that never touch GraftContext — with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * Injects [[GraftExtensions.functions]] (the codegen'd `dot_q` vector
  * expression, the text/Bloom/KLL functions and the DataFusion-name
  * compat aliases) through the supported
  * `SparkSessionExtensions.injectFunction` hook (the same mechanism
  * delta-spark and iceberg-spark use), so no session-construction code
  * is required.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  // DataFusion name -> Spark builtin name (SURVEY §2.8 compat shim):
  // queries written for the reference engine keep working unmodified, on
  // the builtin's own expression builder (full codegen, no UDF overhead).
  // ONLY pairs whose semantics match exactly are aliased: regexp_match
  // (first-match vs all-matches, flags vs group-index 3rd arg) and to_hex
  // (lowercase vs uppercase) were considered and rejected — a
  // silently-different result is worse than an unresolved-function error.
  private val compatAliases = Seq(
    "strpos" -> "instr",            // strpos(str, substr), both 1-based
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    "make_array" -> "array",
    "array_length" -> "array_size",
    "list_element" -> "element_at") // both 1-based list indexing

  /** Every engine function, the one list both [[GraftExtensions]] and
    * [[ensure]] register from. */
  lazy val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = {
    def fn(name: String, cls: String, b: Builder) =
      (FunctionIdentifier(name), new ExpressionInfo(cls, name), b)
    val native =
      fn("dot_q", classOf[graft.functions.DotProductLong].getName,
        es => graft.functions.DotProductLong(es(0), es(1))) +:
      (graft.functions.TextExprs.sqlBuilders.map((_, "graft.functions.TextExprs")) ++
        graft.functions.BloomFunctions.sqlBuilders.map((_, "graft.functions.BloomFunctions")) ++
        graft.functions.KllFunctions.sqlBuilders.map((_, "graft.functions.KllFunctions")))
        .map { case ((name, b), cls) => fn(name, cls, b) }
    val compat = compatAliases.flatMap { case (alias, builtin) =>
      val id = FunctionIdentifier(builtin)
      for (info <- FunctionRegistry.builtin.lookupFunction(id);
           b <- FunctionRegistry.builtin.lookupFunctionBuilder(id))
        yield fn(alias, info.getClassName, b)
    }
    native ++ compat
  }

  /** Register the engine functions `spark` does not resolve yet. Idempotent:
    * a session built with the extension, or one a previous GraftContext
    * already covered, registers nothing. */
  def ensure(spark: SparkSession): Unit =
    functions.foreach { case (id, info, b) => GraftSessions.ensureFunction(spark, id, info, b) }
}

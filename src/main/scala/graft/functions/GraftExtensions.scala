package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point (SURVEY.md §4.3's "keep an extension
  * point"): installs the engine's custom expressions into a session whose
  * builder was handed `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` (a session not
  * started through graft.GraftSession, which registers the functions
  * itself),
  *
  * so `SELECT cosine_similarity(a, b)` — and every other name of
  * [[GraftFunctions.sqlFunctions]], the table `registerAll` reads too —
  * works in plain SQL, plus one optimizer rule: [[RewriteHofCosine]]
  * turns the hand-written HOF cosine shape into the codegen'd expression
  * (a user writing the natural `aggregate(zip_with(...))` spelling gets
  * the fused loop transparently). Planner strategies aren't needed —
  * reference parity composes from built-in operators (§4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, builder) <- GraftFunctions.sqlFunctions)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name), builder))
    ext.injectOptimizerRule(_ => RewriteHofCosine)
  }
}

package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes the
  * native functions available to pure-SQL users cluster-wide.
  *
  * The function set is DERIVED from `GraftFunctions.builders`, and the rules
  * from `GraftRules` — the same seqs `GraftFunctions.register` uses — so the
  * extensions path and the programmatic path can never register different
  * surfaces (a hand-kept copy here once silently dropped two functions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.GraftRules.optimizerRules.foreach(ext.injectOptimizerRule)
    graft.plans.GraftRules.strategies.foreach(ext.injectPlannerStrategy)
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ArrayDistinct
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.WordShingles

/** graft's Catalyst optimizer rules and planner strategy, in injection
  * order: the one list that both `GraftExtensions` (spark.sql.extensions)
  * and `GraftFunctions.register` (a session built in code) install.
  */
object GraftRules {
  val optimizerRules: Seq[SparkSession => Rule[LogicalPlan]] = Seq(
    _ => CollapseDistinctShingles,
    ManifestPrune(_),
    ManifestAgg(_),
    BloomPrune(_),
    _ => PruneJsonFields)

  val strategies: Seq[SparkSession => SparkStrategy] = Seq(_ => IntervalJoinStrategy)
}

/** `array_distinct(graft_word_shingles(x, k))` == `graft_word_shingles(x, k)`
  * — the expression already emits distinct shingles, so a user-composed
  * array_distinct is a per-row O(n) no-op walk. Idempotence collapse.
  */
object CollapseDistinctShingles extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayDistinct(ws: WordShingles) => ws
    }
}

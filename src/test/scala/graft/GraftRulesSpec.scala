package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans._

class GraftRulesSpec extends SparkSpecBase {
  private class Recording extends SparkSessionExtensions {
    val rules = ArrayBuffer.empty[SparkSession => Rule[LogicalPlan]]
    val strategies = ArrayBuffer.empty[SparkSession => SparkStrategy]
    override def injectOptimizerRule(b: SparkSession => Rule[LogicalPlan]): Unit = {
      rules += b; super.injectOptimizerRule(b)
    }
    override def injectPlannerStrategy(b: SparkSession => SparkStrategy): Unit = {
      strategies += b; super.injectPlannerStrategy(b)
    }
  }

  private val ruleClasses = Seq(CollapseDistinctShingles.getClass,
    classOf[ManifestPrune], classOf[ManifestAgg], classOf[BloomPrune], PruneJsonFields.getClass)
  private def sessionRules = spark.experimental.extraOptimizations.map(_.getClass)
  private def sessionStrategies = spark.experimental.extraStrategies.map(_.getClass)

  test("GraftExtensions injects the session's rules and strategy, in order") {
    val ext = new Recording
    new functions.GraftExtensions()(ext)
    assert(ext.rules.map(_(spark).getClass) == sessionRules)
    assert(ext.strategies.map(_(spark).getClass) == sessionStrategies)
    assert(sessionRules == ruleClasses)
    assert(sessionStrategies == Seq(IntervalJoinStrategy.getClass))
  }

  test("register twice adds no duplicate rule or strategy") {
    val registry = spark.sessionState.functionRegistry
    def infos = registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .map(f => f.funcName -> registry.lookupFunction(f).get).toMap
    functions.GraftFunctions.register(spark)
    val first = infos
    functions.GraftFunctions.register(spark)
    assert(sessionRules == ruleClasses)
    assert(sessionStrategies == Seq(IntervalJoinStrategy.getClass))
    // a registered function is left in place, not replaced (a replacement
    // logs a WARN per function on every query)
    val second = infos
    assert(first.size == 24 && second.keySet == first.keySet)
    first.foreach { case (name, info) => assert(second(name) eq info, name) }
  }
}

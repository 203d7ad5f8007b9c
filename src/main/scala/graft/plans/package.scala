package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Runtime installs of the planner extensions into a session built
  * without `GraftExtensions`: each appends once, so a repeated call (a
  * public operator used twice, a re-used session) never makes the
  * planner consult a strategy, or the optimizer run a rule, twice.
  */
package object plans {
  def addStrategy(spark: SparkSession, strategy: Strategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy

  def addOptimization(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
}

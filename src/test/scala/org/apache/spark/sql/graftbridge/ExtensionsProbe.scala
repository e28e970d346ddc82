package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Test access to what an extensions hook injects (the builders are
  * `private[sql]`): the optimizer rules and planner strategies a session
  * built with `spark.sql.extensions` would get. */
object ExtensionsProbe {
  def injected(hook: SparkSessionExtensions => Unit, spark: SparkSession)
      : (Seq[Rule[LogicalPlan]], Seq[SparkStrategy]) = {
    val ext = new SparkSessionExtensions
    hook(ext)
    (ext.buildOptimizerRules(spark), ext.buildPlannerStrategies(spark))
  }
}

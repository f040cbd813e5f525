package graft.observability

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The one AQE-aware physical-plan walk, Spark's own: its `collect`
  * descends into `AdaptiveSparkPlanExec.executedPlan` and
  * `QueryStageExec.plan`, the subplans a plain `SparkPlan.collect` stops
  * at (once AQE has run a query, every exchange sits inside a stage).
  * Like `SparkPlan.collect`, it does not enter subquery expressions.
  */
object PlanWalk extends AdaptiveSparkPlanHelper

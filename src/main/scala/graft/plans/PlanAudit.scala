package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Structural physical-plan audits behind PlanSpec (the regression gate).
  * The headline check is the SINGLE-TASK-WINDOW detector: a `Window` with an
  * empty partitionSpec moves its whole input through ONE task — fatal at
  * 100 TB when the input is a full-table row stream, harmless when the
  * input was already reduced to a dictionary/bucket-sized aggregate (the
  * |days|-frame skyline prefix, the |buckets|-row rank offsets). The
  * detector therefore counts only no-partition windows with NO aggregate
  * anywhere below them — the shape the round-10 verdict flagged in q178 and
  * q158 — so the documented bare-value boundary passes (q150/q156/q170/
  * q174/q189, each with an in-repo GK swap gated by q165) must be
  * explicitly whitelisted by their audit, and any future operator that
  * reintroduces the shape fails PlanSpec.
  */
object PlanAudit {

  /** All physical nodes, expanded through AQE wrappers (an
    * `AdaptiveSparkPlanExec` is a leaf to `collect`, hiding everything
    * beneath it — exactly where exchanges, and thus windows, live).
    */
  def nodes(df: DataFrame): Seq[SparkPlan] = expand(df.queryExecution.executedPlan)

  private def expand(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => expand(a.inputPlan)
      case n => Seq(n)
    }.flatten

  /** Count of no-partition Window / WindowGroupLimit nodes whose input
    * subtree holds no aggregate — i.e. full-input row streams funneled
    * through one task. Zero for every query except the whitelisted
    * boundary passes.
    */
  def rawGlobalWindows(df: DataFrame): Int =
    nodes(df).count {
      case w: WindowExec if w.partitionSpec.isEmpty => !aggregatedBelow(w.child)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => !aggregatedBelow(w.child)
      case _ => false
    }

  /** True when the subtree reduces cardinality through an aggregate before
    * reaching any leaf — the frame entering the window above is
    * group-count-sized, not input-sized.
    */
  private def aggregatedBelow(p: SparkPlan): Boolean =
    expand(p).exists {
      case _: BaseAggregateExec => true
      case _ => false
    }
}

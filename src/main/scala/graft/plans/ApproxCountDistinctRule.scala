package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer rule: rewrite exact `COUNT(DISTINCT x)` into
  * HyperLogLog++ `approx_count_distinct(x)` (SURVEY.md §4: the one
  * plausible custom `Rule[LogicalPlan]` for this workload).
  *
  * Motivation at 100 TB: exact distinct inside a two-level aggregate
  * (billing A2 / grid A4, `fact_customer_billing_daily.sql:61`,
  * `fact_grid_load_hourly.sql:58`) is the priciest node in both mart
  * plans — Spark plans it as an Expand (row multiplication) plus an extra
  * exchange on the distinct key. HLL++ keeps the aggregation single-pass
  * and mergeable with a fixed-size sketch buffer. Guarded by
  * [[ApproxCountDistinctRule.ConfKey]] (default off) because it trades
  * exactness (~2% relative error) for that plan shape — parity runs and
  * the DuckDB oracle need it off.
  *
  * Registered either via [[GraftExtensions]]
  * (`.withExtensions(new GraftExtensions)` at session build) or through
  * `spark.experimental.extraOptimizations` on a live session.
  */
object ApproxCountDistinctRule extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.approxCountDistinct.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "false").toBoolean) plan
    else plan.transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(c: Count, _, true, None, _) if c.children.size == 1 =>
            ae.copy(
              aggregateFunction = HyperLogLogPlusPlus(c.children.head),
              isDistinct = false)
        }
    }
}

/** Session-extensions entry point for graft's planner additions:
  * `.withExtensions(new GraftExtensions)` on a session builder. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ApproxCountDistinctRule)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

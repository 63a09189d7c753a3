package graft

import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape invariants over EVERY registered query: no accidental
  * cartesian product may survive optimization. A condition-less join is
  * legal only when (a) one side carries an explicit broadcast hint (the
  * small-dim × facts pattern — constant-size at any SF), or (b) the query
  * is a documented quadratic baseline whose scale path is a separate
  * bucketed query (q40 → q59). Everything else would become an |L|×|R|
  * blow-up at 100 TB, so it fails here first. */
class PlanInvariantsSpec extends AnyFunSuite with SparkSpec {

  /** all-pairs-by-design baselines (scale path: LSH-bucketed variants).
    * Empty since round 3: q40's exact baseline broadcasts its bounded
    * slice, so even it plans no unbroadcast cartesian. */
  private val quadraticBaselines = Set.empty[String]

  private def isBroadcast(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST))

  private def offendingCrosses(plan: LogicalPlan): Seq[Join] =
    plan.collectWithSubqueries {
      case j: Join if j.condition.isEmpty &&
        !isBroadcast(j.hint.leftHint) && !isBroadcast(j.hint.rightHint) => j
    }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name}: no unbroadcast cartesian product in the optimized plan") {
      val df = q.fn(spark, sf001)
      val bad = offendingCrosses(df.queryExecution.optimizedPlan)
      if (quadraticBaselines(q.name)) ()
      else assert(bad.isEmpty,
        s"${q.name} plans ${bad.size} condition-less join(s) without a " +
          s"broadcast hint:\n${bad.map(_.simpleString(3)).mkString("\n")}")
    }
  }
}

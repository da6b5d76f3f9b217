package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.sources.GraftLakeScan

/** Elide a GLOBAL sort over a lake scan whose manifest proves the data
  * already arrives globally ordered.
  *
  * Spark's own `RemoveRedundantSorts` can elide a global `SortExec`
  * only when the child's physical partitioning satisfies
  * `OrderedDistribution` — which a DSv2 scan can never report (its
  * vocabulary is KeyGrouped/Unknown, not Range). But after
  * `CALL system.cluster` the manifest KNOWS the stronger fact: every
  * file is an ascending run, partitions are planned in file order, and
  * consecutive min/max ranges are disjoint-nondecreasing — so the
  * concatenation of partitions in index order IS the totally ordered
  * relation, which is exactly the physical guarantee RangePartitioning
  * describes. This rule closes that vocabulary gap: a single-key
  * `ORDER BY` whose per-partition ordering is already reported by the
  * scan ([[GraftLakeScan]] via SupportsReportOrdering) and whose
  * global property the scan certifies ([[GraftLakeScan.isGloballyOrdered]])
  * drops the `SortExec` and the range `ShuffleExchangeExec` that
  * `EnsureRequirements` inserted for it.
  *
  * Injected as an AQE query-stage-preparation rule (it runs AFTER
  * EnsureRequirements, so both the sort and its exchange are visible).
  * Scope guards:
  *  - single sort key only: with `ORDER BY a, b` a tie on `a` spanning
  *    two files could order `b` across partitions arbitrarily, and the
  *    manifest chain check (`max(prev) <= min(next)`, ties allowed)
  *    cannot see it — multi-key elision would need STRICT disjointness,
  *    deliberately not claimed;
  *  - only Project/Filter between sort and scan (both preserve
  *    partition order and per-partition row order);
  *  - the per-partition ordering must satisfy the requested one through
  *    Spark's own `SortOrder.orderingSatisfies` (alias-aware via the
  *    plan's `outputOrdering`).
  * At 100 TB this is the difference between `ORDER BY ts LIMIT n` on a
  * clustered table re-shuffling the table and reading it as-is. */
object OrderedScanSortElision extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(orders, true, child0, _) if orders.length == 1 =>
      // EnsureRequirements has already run: strip the range exchange it
      // inserted for THIS sort (shape: Sort <- Exchange(range) <- ...)
      val child = child0 match {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
          e.child
        case other => other
      }
      if (SortOrder.orderingSatisfies(child.outputOrdering, orders) &&
          globallyOrderedScan(child)) child
      else s
  }

  private def globallyOrderedScan(p: SparkPlan): Boolean = p match {
    case b: BatchScanExec => b.scan match {
      case g: GraftLakeScan => g.isGloballyOrdered
      case _ => false
    }
    case pr: ProjectExec => globallyOrderedScan(pr.child)
    case f: FilterExec => globallyOrderedScan(f.child)
    case _ => false
  }
}

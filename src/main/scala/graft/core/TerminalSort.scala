package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plans a query's terminal ORDER BY over one partition when its input is
  * small, instead of over a range exchange.
  *
  * A global sort normally range-partitions its input, and the range bounds
  * come from a sampling job that runs the whole child stage once before the
  * stage runs for real. Every registered query ends in such a sort, and at
  * the sizes the suite runs AQE then coalesces the sorted shuffle into one
  * partition anyway. When the child's size estimate is at most
  * `spark.sql.autoBroadcastJoinThreshold` (Spark's "fits on one node"
  * bound) the rule puts a single-partition exchange under the sort:
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so no
  * range exchange and no sample are planned, and the rows come out in the
  * same order. A threshold of -1 turns the rewrite off, as it turns off
  * broadcasting.
  *
  * Only the terminal sort is rewritten — the root, or a sort under
  * root-level deterministic Project/Filter nodes. A sort inside the plan
  * keeps its range exchange, whose partitioning a join or window above
  * may use. */
object TerminalSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if fitsOnOneNode(child) =>
      s.copy(child = Repartition(1, shuffle = true, child))
    // a nondeterministic expression above the sort may read the partition
    // layout (monotonically_increasing_id, spark_partition_id), which the
    // rewrite changes
    case p: Project if p.projectList.forall(_.deterministic) => p.copy(child = rewrite(p.child))
    case f: Filter if f.condition.deterministic => f.copy(child = rewrite(f.child))
    case other => other
  }

  // a child that is already one partition needs no exchange (this also
  // makes the rule idempotent), and one of at most one row needs no sort
  private def fitsOnOneNode(child: LogicalPlan): Boolean = child match {
    case Repartition(1, _, _) => false
    case _ =>
      val threshold = conf.autoBroadcastJoinThreshold
      threshold >= 0 && !child.maxRows.exists(_ <= 1L) &&
        child.stats.sizeInBytes <= threshold
  }

  /** Adds the rule to the session's optimizer, once. The imperative twin
    * of the session-build injection in `graft.exprs.GraftExtensions`, for
    * sessions built without `spark.sql.extensions`; a session that has
    * either already keeps its rules unchanged. Synchronized for the same
    * reason as `GraftFunctions.register`: queries build concurrently. */
  def install(spark: SparkSession): Unit = synchronized {
    val experimental = spark.experimental
    if (!experimental.extraOptimizations.contains(this) &&
        !spark.sessionState.optimizer.preCBORules.contains(this)) {
      experimental.extraOptimizations = experimental.extraOptimizations :+ this
    }
  }
}

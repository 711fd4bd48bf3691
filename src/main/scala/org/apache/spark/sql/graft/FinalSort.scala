package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** The catalog-boundary rule for a face's final `ORDER BY`: sort a grouped
  * result in one partition instead of range-partitioning it.
  *
  * Spark plans every global `Sort` as a range-partitioned shuffle. Under
  * AQE that costs a sampling job (the range bounds) plus one more map
  * stage, whatever the row count, and the dashboard-style faces sort
  * 5–25-row group-bys. When a face's root is a global `Sort` (under
  * Projects) whose input, through Projects and Filters, is a grouped
  * `Aggregate`, this rewrites the sort into `Sort(global = false)` over
  * `Repartition(1, shuffle = false)` — a coalesce to one task, then a
  * local sort on the same keys, which is the same total order.
  *
  * A coalesce pulls its whole stage into the one task, back to the nearest
  * shuffle, so the rewrite is kept only when the rewritten physical plan
  * holds nothing but aggregates, projects, filters and sorts between the
  * coalesce and a shuffle exchange: the one task then merges the grouped
  * rows the shuffle brings and sorts them. Its bound is the grouped
  * result's size, a median of 10 rows and at most 8,961 (q06) over the
  * rewritten faces at sf0.1. When the aggregate's input is already
  * partitioned on a subset of its grouping keys (q13's sessions, grouped by
  * the key their window partitions on; an aggregate over a join on a
  * grouping key), Spark plans no shuffle under the aggregate, the stage
  * would reach down into the window or the join, and the face is returned
  * untouched.
  *
  * Every other plan comes back untouched too: a sort over a join, scan,
  * generate, window or union keeps its range sort, since coalescing it
  * would pull real work into one task; so does a global aggregate (one
  * row, already one partition) and a sort under a limit (planned as a
  * top-k, no range shuffle).
  *
  * Only `SparkEntry.queries` applies it, once over the merged map. The
  * `*On` library forms in `ops/` are not wrapped: they take arbitrary
  * frames, so the grouped input a catalog face sorts can be any size
  * there, and Spark's range sort stays the safe default.
  *
  * The file sits under `org.apache.spark.sql` because
  * `classic.Dataset.ofRows`, which turns the rewritten plan back into a
  * frame, is `private[sql]`.
  */
object FinalSort {

  /** `df` with its root sort of a grouped aggregate made single-partition,
    * or `df` itself when its plan is any other shape or the one task would
    * reach below the aggregate's shuffle.
    */
  def apply(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val rewritten = rewrite(plan)
    if (rewritten eq plan) df
    else {
      val out = classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession], rewritten)
      if (coalescesAggregation(out.queryExecution.executedPlan)) out else df
    }
  }

  /** The rewritten plan, or `plan` itself (same reference) when the rule
    * does not apply.
    */
  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ Project(_, child) =>
      val c = rewrite(child)
      if (c eq child) p else p.copy(child = c)
    case s @ Sort(_, true, child, _) if groupedBelow(child) =>
      s.copy(global = false, child = Repartition(1, shuffle = false, child))
    case other => other
  }

  private def groupedBelow(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => groupedBelow(child)
    case Filter(_, child) => groupedBelow(child)
    case a: Aggregate => a.groupingExpressions.nonEmpty
    case _ => false
  }

  /** True when the topmost coalesce of `plan` (before AQE runs a stage,
    * or without AQE) reads a shuffle through aggregation alone.
    */
  private def coalescesAggregation(plan: SparkPlan): Boolean = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collectFirst { case c: CoalesceExec => c }
      .exists(c => aggregationToShuffle(c.child))
  }

  private def aggregationToShuffle(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike | _: ReusedExchangeExec => true
    case _: BaseAggregateExec | _: ProjectExec | _: FilterExec | _: SortExec |
        _: WholeStageCodegenExec | _: InputAdapter =>
      aggregationToShuffle(p.children.head)
    case _ => false
  }
}

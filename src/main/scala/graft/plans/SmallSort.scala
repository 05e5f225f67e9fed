package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, Distinct,
  Filter, Generate, GlobalLimit, LogicalPlan, Project, Repartition, Sort, SubqueryAlias, Window}
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.operators.Checkpointing

/** A small result sorts on one partition. A global `Sort` plans a range
  * exchange, which costs two Spark jobs on any input: the
  * `RangePartitioner` sampling job and the shuffle-map job. When a
  * frame ends in a global sort (possibly under `Project`s) and Spark
  * would broadcast the sort's input ([[Checkpointing.broadcastable]]),
  * this puts `Repartition(1, shuffle = false)` under the sort. The
  * resulting `CoalesceExec` reports `SinglePartition`, which satisfies
  * the sort's ordered distribution, so neither job is planned.
  *
  * Rows stay bit-identical: the coalesce computes each upstream
  * partition exactly as before, only in one task, and a total ORDER BY
  * (every contract query has one) fixes the order. A streaming frame, a
  * frame that does not end in a global sort, a sort whose input already
  * runs on one partition, a sort input above the threshold and a
  * threshold of -1 return the frame as it is.
  */
object SmallSort {

  def apply(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else coalescedUnderSort(df.queryExecution.analyzed).fold(df) { plan =>
      val spark = df.queryExecution.sparkSession
      val one = DatasetBridge.ofRows(spark, plan)
      // a Sort's size estimate is its input's; the rewritten frame is
      // optimized only when the threshold is not -1, and its execution
      // reuses that optimized plan
      if (Checkpointing.broadcastable(belowProjects(one.queryExecution.optimizedPlan),
          spark.sessionState.conf)) one
      else df
    }

  /** `plan` with a one-partition coalesce under its root global sort,
    * reached through `Project`s; `None` when it ends in none, or when
    * the sort's input is already on one partition. */
  private def coalescedUnderSort(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case p: Project => coalescedUnderSort(p.child).map(c => p.withNewChildren(Seq(c)))
    case s: Sort if s.global && !onOnePartition(s.child) =>
      Some(s.copy(child = Repartition(1, shuffle = false, s.child)))
    case _ => None
  }

  /** Whether `plan` runs on one partition: a window without partition
    * keys, a global aggregate or a limit gathers its input there, and
    * the operators listed keep their input's partitioning (one
    * partition satisfies every distribution they require). Such a sort
    * plans no range exchange, and a coalesce under it would only hide
    * an input ordering that lets Spark drop the sort. Any other
    * operator (an `Expand` reports unknown partitioning) counts as not
    * on one partition. */
  private def onOnePartition(plan: LogicalPlan): Boolean = plan match {
    case w: Window => w.partitionSpec.isEmpty || onOnePartition(w.child)
    case a: Aggregate => a.groupingExpressions.isEmpty || onOnePartition(a.child)
    case _: GlobalLimit => true
    case _: Project | _: Filter | _: Sort | _: Distinct | _: Generate | _: CollectMetrics |
        _: SubqueryAlias => onOnePartition(plan.children.head)
    case _ => false
  }

  private def belowProjects(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project => belowProjects(p.child)
    case _ => plan
  }
}

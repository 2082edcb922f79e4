package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Optimizer contract: a small query result sorts in one task.
  *
  * A global `Sort` plans as `Exchange rangepartitioning(k, n)`, and the
  * exchange's `RangePartitioner` runs a sampling job that re-executes the
  * whole stage below it before the stage runs for real. For a result a
  * driver collects, that is one extra Spark job per ordered query, and on
  * the small queries of the analytic surface the job count is the cost.
  *
  * The contract: a global `Sort` at the plan root, or under a root
  * `Project`, whose input's estimated `sizeInBytes` is at most
  * `spark.sql.autoBroadcastJoinThreshold` gets a [[Gather]] under it. The
  * bound is the one Spark already uses for "small enough for one task to
  * hold"; `-1` turns this contract off together with broadcast joins. A
  * larger estimate keeps the range form, and so does every sort that is not
  * the result's: a sort under a limit (TopK), inside a subtree, under a
  * write command, or in a streaming plan.
  *
  * [[GatherStrategy]] plans `Gather` as [[GatherExec]], which requires
  * `AllTuples` and reports `SinglePartition`. `EnsureRequirements` then adds
  * an `Exchange SinglePartition` only where the child is not already one
  * partition (a union of global aggregates is), so no sampling job runs and
  * no exchange is added over a child that needs none. Rows are the range
  * form's rows in the same order: both sort the same multiset by the same
  * keys, and only the ordering within ties could differ.
  *
  * Registered with the strategy beside [[SargableTimestampRules]] in
  * `GraftFunctions.rules` / `GraftFunctions.strategies`: at runtime by
  * `Engine.ensureInitialized`, at build time by `graft.GraftExtensions`.
  */
object GatherSmallSorts extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort => gathered(s).getOrElse(plan)
    case p @ Project(_, s: Sort) => gathered(s).map(g => p.copy(child = g)).getOrElse(plan)
    case _ => plan
  }

  private def gathered(s: Sort): Option[Sort] = s.child match {
    case _: Gather => None
    case child if s.global && !s.isStreaming && fits(child) =>
      Some(s.copy(child = Gather(child)))
    case _ => None
  }

  private def fits(child: LogicalPlan): Boolean = {
    val bound = conf.autoBroadcastJoinThreshold
    bound >= 0 && child.stats.sizeInBytes <= bound
  }
}

/** The child's rows in one partition (see [[GatherSmallSorts]]). */
case class Gather(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): Gather =
    copy(child = newChild)
}

/** Physical [[Gather]]: passes its child's rows through. Requiring
  * `AllTuples` makes `EnsureRequirements` bring a many-partition child into
  * one partition; a child that already is one is read as it is, in its own
  * order, so a sort over an already-ordered child stays redundant. */
case class GatherExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): GatherExec =
    copy(child = newChild)
}

/** Plans [[Gather]] as [[GatherExec]]. */
object GatherStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Gather(child) => GatherExec(planLater(child)) :: Nil
    case _ => Nil
  }
}

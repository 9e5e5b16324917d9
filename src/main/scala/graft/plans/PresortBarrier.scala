package graft.plans

import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Optimizer rule: `Sort(global, child)` → `Sort(global,
  * RepartitionByExpression(Nil, child))` when the range sampler would
  * otherwise run costly work in `child` a second time.
  *
  * A global sort's `RangePartitioner` samples its child to pick bounds, so
  * with no exchange between the sort and the scans the upstream runs once
  * for the sampler and once for the shuffle (`q_tokens_per_doc`'s fold ran
  * exactly twice, OPTIMIZATION_r21.md §1). The round-robin shuffle gives
  * AQE a stage that materializes the child once; the sampler and the sort
  * both read it. Shuffle files keep their lineage, and the ContextCleaner
  * removes them with the plan. No partition count is given, so AQE
  * coalesces a small output.
  *
  * Fires when the child, down to the leaves or the first operator that
  * plans its own exchange, holds a `Generate`, a broadcast or nested-loop
  * join, a `ScalaUDF`, a higher-order function, a `graft.functions`
  * expression, or object (de)serialization. Never on a streaming plan, a
  * sort under a limit (TakeOrderedAndProject has no sampler), a child that
  * is a materialized leaf under projections and filters, a child that is
  * one partition (no range exchange is planned), or a child that is
  * itself an exchange — which keeps the rule idempotent.
  */
object PresortBarrier extends Rule[LogicalPlan] with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan, underLimit = false)

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan = {
    val limits = p match {
      case _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset => true
      case _: Project => underLimit
      case _ => false
    }
    p.mapChildren(rewrite(_, limits)) match {
      case s @ Sort(_, true, child, _) if !underLimit && !materialized(child) &&
          !single(child) && sampled(child) =>
        s.copy(child = RepartitionByExpression(Nil, child, None))
      case other => other
    }
  }

  /** One partition: a barrier would add two exchanges where none is. */
  private def single(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: Tail => true
    case a: Aggregate => a.groupingExpressions.isEmpty
    case w: Window => w.partitionSpec.isEmpty
    case u: Union => u.children.forall(single)
    case j: Join => broadcastSide(j) match {
      case Some(BuildRight) => single(j.left)
      case Some(BuildLeft) => single(j.right)
      case None => false
    }
    case u: UnaryNode if !exchange(u) => single(u.child)
    case _ => false
  }

  private def materialized(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => materialized(c)
    case Filter(_, c) => materialized(c)
    case r: LogicalRDD => persisted(r)
    case _: LocalRelation | _: InMemoryRelation => true
    case _ => false
  }

  private def persisted(r: LogicalRDD): Boolean =
    r.rdd.isCheckpointed || r.rdd.getStorageLevel.isValid

  private def sampled(p: LogicalPlan): Boolean =
    !exchange(p) && (work(p) || p.children.exists(sampled))

  private def exchange(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Window | _: Distinct | _: Deduplicate |
        _: RepartitionOperation | _: RebalancePartitions | _: GlobalLimit |
        _: MapGroups | _: FlatMapGroupsInR | _: CoGroup => true
    case s: Sort => s.global
    // as JoinSelection: an equi-join shuffles unless a hint or the size
    // test picks a broadcast side; other joins never shuffle
    case j: Join => ExtractEquiJoinKeys.unapply(j).isDefined && broadcastSide(j).isEmpty
    case _ => false
  }

  private def broadcastSide(j: Join): Option[BuildSide] =
    getBroadcastBuildSide(j, hintOnly = true, conf)
      .orElse(getBroadcastBuildSide(j, hintOnly = false, conf))

  private def work(p: LogicalPlan): Boolean = p match {
    case _: Generate | _: Join | _: ObjectProducer | _: ObjectConsumer => true
    case r: LogicalRDD => !persisted(r)
    case _ => p.expressions.exists(_.exists {
      case _: ScalaUDF | _: HigherOrderFunction => true
      case e => e.getClass.getName.startsWith("graft.functions.")
    })
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LogicalRDD, PartitionedFileUtil}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Optimizer rule placing the two round-robin exchanges at the ends of a
  * costly narrow stage: a pre-sort barrier on top, a scan spread at the
  * bottom. Never on a streaming plan.
  *
  * '''Barrier.''' `Sort(global, child)` → `Sort(global,
  * RepartitionByExpression(Nil, child, None))` when the range sampler would
  * otherwise run costly work in `child` a second time. A global sort's
  * `RangePartitioner` samples its child to pick bounds, so with no exchange
  * between the sort and the scans the upstream runs once for the sampler
  * and once for the shuffle (`q_tokens_per_doc`'s fold ran exactly twice,
  * OPTIMIZATION_r21.md §1). The round-robin shuffle gives AQE a stage that
  * materializes the child once; the sampler and the sort both read it.
  * Shuffle files keep their lineage, and the ContextCleaner removes them
  * with the plan. No partition count is given, so AQE coalesces a small
  * output. Fires when the child, down to the leaves or the first operator
  * that plans its own exchange, holds a `Generate`, a broadcast or
  * nested-loop join, a `ScalaUDF`, a higher-order function, a
  * `graft.functions` expression, or object (de)serialization. Never on a
  * sort under a limit (TakeOrderedAndProject has no sampler), a child that
  * is a materialized leaf under projections and filters, a child that is
  * one partition (no range exchange is planned), or a child that is itself
  * an exchange.
  *
  * '''Spread.''' A batch file scan planned as fewer splits than the session
  * has cores → `RepartitionByExpression(Nil, scan, Some(cores))`. Parquet
  * splits only at row-group boundaries, so a single-row-group file is one
  * scan task however many cores there are, and the narrow stage above it
  * runs serially (q_tokens_per_doc 5.8 s wall ≈ its single-task time at
  * sf1 on 32 cores, OPTIMIZATION_r21.md §1b). Fires when the narrow chain
  * from the scan up to its stage's end holds per-row work on text in its
  * expressions (a `ScalaUDF`, higher-order function or `graft.functions`
  * expression with a string or string-array input — a `Generate` counts by
  * what computes its input, so an explode of a split or a two-element
  * array does not) and that end is an operator that plans a shuffle: a
  * chain that runs to the plan's root (a `sortWithinPartitions` write
  * path), under a limit or into a broadcast build side keeps its scan as
  * is. Text work (splitting, shingle hashing, span probes) costs many
  * times the shuffle that moves its input; numeric array work over
  * embedding vectors costs about what shipping the vectors costs, and
  * spreading it measured slower (q_ann_opq +35% at sf0.1 on 4 cores).
  * "The scan" is the relation with the attribute projections and
  * deterministic filters directly above it, so pruning and pushed filters
  * stay below the exchange, as Spark would push them below a hand-written
  * repartition. The split count is Spark's own sizing
  * (`FilePartition.maxSplitBytes`/`getFilePartitions`) over the relation's
  * listed files — no Spark job. It is taken before partition pruning: a
  * partitioned relation counts the splits of every partition, so a pruned
  * scan may go unspread. A user partition count keeps AQE from coalescing
  * the spread away; at real scale a corpus scan has many splits and the
  * spread never fires.
  *
  * Both exchanges end a stage, so a second pass finds nothing to add: the
  * rule is idempotent.
  */
object PresortBarrier extends Rule[LogicalPlan] with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else spread(rewrite(plan, underLimit = false), None, None)

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

  /** `heavy`: `Some(w)` when a shuffle ends `p`'s stage, `w` telling whether
    * the operators between that shuffle and `p` do per-row work on text;
    * `None` when the stage ends at the root, a limit or a broadcast.
    * `read`: the columns `p`'s parent reads when that parent is a
    * `Project`, which names each one — a spread carries only those. Any
    * other parent keeps every column: a `Union` matches its legs by
    * position and a `Generate` its child's unrequired columns by index (an
    * `Aggregate` ends the stage, so no spread sits under one). */
  private def spread(p: LogicalPlan, heavy: Option[Boolean], read: Option[AttributeSet]): LogicalPlan =
    scanOf(p) match {
      case Some(r) if heavy.contains(true) && splits(r) < r.sparkSession.sparkContext.defaultParallelism =>
        val keep = read.fold(p.output)(c => p.output.filter(c.contains))
        RepartitionByExpression(Nil, if (keep.size == p.output.size) p else Project(keep, p),
          Some(r.sparkSession.sparkContext.defaultParallelism))
      case Some(_) => p
      case None =>
        val below = p match {
          case _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset => None
          case _ if exchange(p) => Some(false)
          case _ => heavy.map(_ || perRow(p, textOnly = true))
        }
        val named = p match {
          case _: Project => Some(p.references)
          case _ => None
        }
        p match {
          case j: Join if !exchange(j) => // a broadcast build side ends in no shuffle
            val b = broadcastSide(j)
            j.copy(left = spread(j.left, below.filter(_ => b.contains(BuildRight)), None),
              right = spread(j.right, below.filter(_ => b.contains(BuildLeft)), None))
          case _ => p.mapChildren(spread(_, below, named))
        }
    }

  /** The file relation under attribute projections and deterministic
    * filters — what Spark would push below a repartition written over it. */
  private def scanOf(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(list, c) if list.forall(_.isInstanceOf[Attribute]) => scanOf(c)
    case Filter(cond, c) if cond.deterministic => scanOf(c)
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _) if r.bucketSpec.isEmpty => Some(r)
    case _ => None
  }

  /** The scan's planned partition count, sized as `FileSourceScanExec` does. */
  private def splits(r: HadoopFsRelation): Int = {
    val (s, dirs) = (r.sparkSession, r.location.listFiles(Nil, Nil))
    val max = FilePartition.maxSplitBytes(s,
      dirs.flatMap(_.files).map(_.getLen + conf.filesOpenCostInBytes).sum)
    FilePartition.getFilePartitions(s, dirs.flatMap(d => d.files.flatMap(f =>
      PartitionedFileUtil.splitFiles(f, f.getPath, r.fileFormat.isSplitable(s, r.options, f.getPath),
        max, d.values))).sortBy(-_.length), max).size
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

  // a shuffle strategy hint outranks the size test, as in JoinSelection
  private def broadcastSide(j: Join): Option[BuildSide] =
    getBroadcastBuildSide(j, hintOnly = true, conf).orElse(
      if (Seq(j.hint.leftHint, j.hint.rightHint).flatten
          .exists(_.strategy.exists(_ != BROADCAST))) None
      else getBroadcastBuildSide(j, hintOnly = false, conf))

  private def work(p: LogicalPlan): Boolean = p match {
    case _: Generate | _: Join | _: ObjectProducer | _: ObjectConsumer => true
    case r: LogicalRDD => !persisted(r)
    case _ => perRow(p)
  }

  /** Per-row work in an operator's expressions — a generator counts by
    * what computes its input, not by the fan-out itself. `textOnly`: only
    * work with a string or string-array input counts. */
  private def perRow(p: LogicalPlan, textOnly: Boolean = false): Boolean = p.expressions.exists(_.exists { e =>
    (e.isInstanceOf[ScalaUDF] || e.isInstanceOf[HigherOrderFunction] ||
      e.getClass.getName.startsWith("graft.functions.")) && (!textOnly || e.children.exists(_.dataType match {
        case _: StringType | ArrayType(_: StringType, _) => true
        case _ => false
      }))
  })
}

package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dev tool: physical-plan inspection of declared queries. Not part of the
  * declared query surface.
  *
  * Usage: `runMain graft.tools.Plans <sfDir> <predicate> [query…]` — every
  * declared query (by name) when none is given; session sized by
  * `SPARK_GRAFT_CPUS`. Predicates:
  *
  *  - `explain`: the formatted physical plan.
  *  - `audit`: one line of operator counts that matter at 100 TB —
  *    exchanges (round-robin ones apart), join strategies,
  *    nested-loop/cartesian fallbacks,
  *    generators, windows — and whether filters reached the scan.
  *  - `window-keys` (AQE off): every physical window's partition keys —
  *    the inventory RegistrySpec's bounded-window-key dictionary is built
  *    from.
  *
  * The AQE-off predicates want the plain tree shape, not runtime
  * reoptimization.
  */
object Plans {
  private val predicates: Map[String, (Boolean, (String, DataFrame) => Seq[String])] = Map(
    "explain" -> (false, explain),
    "audit" -> (false, audit),
    "window-keys" -> (true, windowKeys))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && predicates.contains(args(1)),
      s"usage: Plans <sfDir> <${predicates.keys.toSeq.sorted.mkString("|")}> [query…]")
    val (sfDir, (aqeOff, lines)) = (args(0), predicates(args(1)))
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.buildLocal("graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { n =>
      try lines(n, SparkEntry.queries(n)(spark, sfDir)).foreach(println)
      catch {
        case t: Throwable =>
          println(s"$n PLAN-FAIL ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    spark.stop()
  }

  private def explain(name: String, df: DataFrame): Seq[String] =
    Seq(s"===== $name =====", df.queryExecution.explainString(FormattedMode))

  /** `xchg` counts hash, range and single-partition exchanges; `rr`
    * counts the round-robin ones (`PresortBarrier`'s barriers and scan
    * spreads) apart, so audit lines from before `rr` existed still compare. */
  private[graft] def audit(name: String, df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
    def n(p: String) = p.r.findAllIn(plan).length
    val flags = Seq(
      "xchg" -> n("Exchange (?:hash|range|Single)"),
      "rr" -> n("Exchange RoundRobinPartitioning"),
      "bcast" -> n("BroadcastExchange"),
      "bhj" -> n("BroadcastHashJoin"),
      "smj" -> n("SortMergeJoin"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      "cart" -> n("CartesianProduct"),
      "gen" -> n("Generate"),
      "winNodes" -> n("Window"))
      .filter(_._2 > 0)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    val pushed = if (plan.contains("PushedFilters: [I") ||
      plan.contains("PushedFilters: [G")) "pushed" else ""
    Seq(f"$name%-28s $flags $pushed")
  }

  private def windowKeys(name: String, df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty => w.partitionSpec
      case w: WindowGroupLimitExec if w.partitionSpec.nonEmpty => w.partitionSpec
    }.map(_.flatMap(_.references.map(_.name)).distinct.sorted.mkString(","))
      .distinct.map(ks => s"WINKEY\t$name\t$ks")
}

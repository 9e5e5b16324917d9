package graft.plans

import graft.functions.{Haversine, JaroWinkler, LongArrayDot, RollingHash64, SortedArrayContains, Sq8Code}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions registering graft's custom Catalyst expressions for
  * SQL use. [[graft.GraftSession.build]] installs them:
  *
  * {{{
  *   spark.sql("SELECT haversine_km(lat, lon, 41.8781, -87.6298) ...")
  * }}}
  *
  * graft's optimizer [[GraftExtensions.rules]] arrive through
  * [[GraftExtensions.registerOn]] only — `build` calls it, and so does
  * every path onto a session graft did not construct (the driver owns the
  * session in the Verify/Bench contract) — so each rule runs once per
  * session whichever way the session was made. They run in the last
  * optimizer batch ("User Provided Optimizers"), after scan push-down:
  * V1 file scans (graft's parquet reads) still push the bounding box,
  * because `FileSourceStrategy` collects filters at physical planning,
  * but a DSv2 scan or catalog partition pruning never sees it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], usage: String, arity: Int)(
      make: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => { require(args.length == arity, usage); make(args) })

  /** graft's SQL functions — the one table both install paths iterate. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)] = Seq(
    fn("haversine_km", classOf[Haversine], "haversine_km(lat1, lon1, lat2, lon2)", 4)(
      a => Haversine.ofAny(a(0), a(1), a(2), a(3))),
    fn("long_array_dot", classOf[LongArrayDot],
      "long_array_dot(array<bigint>, array<bigint>)", 2)(a => LongArrayDot(a(0), a(1))),
    fn("sq8_code", classOf[Sq8Code], "sq8_code(array<float>)", 1)(a => Sq8Code(a(0))),
    fn("jaro_winkler", classOf[JaroWinkler], "jaro_winkler(string, string)", 2)(
      a => JaroWinkler(a(0), a(1))),
    fn("sorted_contains", classOf[SortedArrayContains],
      "sorted_contains(sorted array<string>, string)", 2)(
      a => SortedArrayContains(a(0), a(1))),
    fn("rolling_hash64", classOf[RollingHash64], "rolling_hash64(string, window int)", 2)(
      a => RollingHash64(a(0), a(1))))

  /** graft's optimizer rules — the one list [[registerOn]] installs. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(HaversineBoundingBox, PresortBarrier)

  /** Install the functions and the [[rules]] (through
    * `experimental.extraOptimizations`, which works on a live session) on
    * an already-built session, idempotently. */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, builder) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    val x = spark.experimental
    x.synchronized {
      val missing = rules.filterNot(x.extraOptimizations.contains)
      if (missing.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ missing
    }
  }
}

package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries and oracles are assembled from [[Registry]]; each module under
  * graft.analytics / graft.ingest / graft.ext contributes [[QueryDef]]s
  * whose Spark and DuckDB sides are kept adjacent in source.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The minimum end-to-end slice of SURVEY.md §7.2: grouped delay/pricing
    * trend aggregate (A1/A2) over a parquet scan. */
  def entry(spark: SparkSession): DataFrame =
    analytics.CoreQueries.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * first installs graft's functions and rules on the caller's session
    * (idempotent), so a session graft did not build plans the same way. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      plans.GraftExtensions.registerOn(s)
      q.fn(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

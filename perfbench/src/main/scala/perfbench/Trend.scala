package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's trend query: delay share per line × hour of
  * `prediction_generated_at`, and the latest state per train (the access
  * pattern of the reference's per-train status table). Input columns:
  * train_id, line, prediction_generated_at, is_train_delayed,
  * next_station. */
object Trend {
  final case class Out(byLineHour: Map[String, (Long, Long)],
      latest: Map[String, (String, Boolean, String)])

  def fromLake(spark: SparkSession, lake: String): DataFrame =
    spark.read.parquet(lake).select("train_id", "line", "prediction_generated_at",
      "is_train_delayed", "next_station")

  def fromDaily(spark: SparkSession, daily: String): DataFrame =
    spark.read.parquet(daily).select(col("train_id"),
      split(col("train_id"), "#").getItem(1).as("line"),
      to_timestamp(col("prediction_generated_timestamp")).as("prediction_generated_at"),
      (col("is_train_delayed") === "1").as("is_train_delayed"),
      col("next_station"))

  def run(df: DataFrame): Out = {
    val byLineHour = df
      .groupBy(col("line"), hour(col("prediction_generated_at")).as("hour"))
      .agg(count(lit(1)).as("n"), sum(col("is_train_delayed").cast("long")).as("delayed"))
      .collect().map(r => s"${r.getString(0)}|${r.getInt(1)}" -> (r.getLong(2), r.getLong(3)))
      .toMap
    val latest = df.groupBy("train_id")
      .agg(max(struct(col("prediction_generated_at"), col("is_train_delayed"),
        col("next_station"))).as("s"))
      .select(col("train_id"),
        date_format(col("s.prediction_generated_at"), "yyyy-MM-dd'T'HH:mm:ss"),
        col("s.is_train_delayed"), col("s.next_station"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2), r.getString(3)))
      .toMap
    Out(byLineHour, latest)
  }

  /** First few differing keys, for the failure record. */
  def diff(got: Out, want: Out): String =
    if (got == want) ""
    else {
      def d[V](g: Map[String, V], w: Map[String, V]) =
        (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k)).take(3)
          .map(k => s"$k: got ${g.get(k)} want ${w.get(k)}")
      (d(got.byLineHour, want.byLineHour) ++ d(got.latest, want.latest)).mkString("; ")
    }
}

/** Values the generator computed from the seed (see gen.py). */
final case class Expect(pollTs: String, landed: Map[String, Seq[Long]],
    fresh: Trend.Out, daily: Trend.Out, dailyDistinct: Long)

object Expect {
  def load(path: String): Expect = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    def trend(t: JValue): Trend.Out = Trend.Out(
      (t \ "by_line_hour").extract[Map[String, Seq[Long]]]
        .map { case (k, v) => k -> (v(0), v(1)) },
      (t \ "latest").extract[Map[String, JArray]].map { case (k, v) =>
        val JArray(List(JString(p), JBool(d), JString(n))) = v
        k -> (p, d, n)
      })
    Expect((j \ "poll_ts").extract[String],
      (j \ "landed").extract[Map[String, Seq[Long]]],
      trend(j \ "fresh"), trend(j \ "daily"), (j \ "daily_distinct").extract[Long])
  }
}

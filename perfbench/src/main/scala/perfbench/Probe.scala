package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small measurements around the workload: files on disk, process memory,
  * an HTTP GET to the mock, and the per-expression probes of
  * graft.functions. */
object Probe {
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  def get(url: String): String =
    http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()

  private def files(root: File): Seq[File] =
    if (!root.exists) Seq.empty
    else if (root.isFile) Seq(root)
    else Option(root.listFiles()).toSeq.flatten.flatMap(files)

  def dirMb(path: String): Double =
    if (path.isEmpty) 0.0
    else path.split(",").map(p => files(new File(p)).map(_.length).sum).sum / 1048576.0

  /** bytes and parquet data files under a directory, as JSON */
  def tree(path: String): String = {
    val fs = files(new File(path))
    val pq = fs.filter(f => f.getName.endsWith(".parquet"))
    Json.obj(Seq("parquet_files" -> pq.size.toString,
      "parquet_mb" -> Json.num(pq.map(_.length).sum / 1048576.0),
      "mb" -> Json.num(fs.map(_.length).sum / 1048576.0)))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Simple names of the graft.functions expressions in a plan, including
    * its subqueries. */
  def functionsIn(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    val found = scala.collection.mutable.SortedSet[String]()
    def walk(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Unit = p.foreach { node =>
      node.asInstanceOf[org.apache.spark.sql.catalyst.plans.QueryPlan[_]].expressions.foreach(_.foreach {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => walk(sq.plan)
        case e if e.getClass.getName.startsWith("graft.functions.") =>
          found += e.getClass.getSimpleName
        case _ =>
      })
    }
    walk(plan)
    found.toSeq
  }

  /** Each public graft.functions Column constructor alone over its natural
    * table scan (median of 3 after one warm run), in ms. */
  def functions(spark: SparkSession, data: String, trace: Trace): Seq[(String, Double)] = {
    import graft.functions._
    def t(n: String) = spark.read.parquet(s"$data/$n.parquet")
    val docs = t("documents")
    val emb = t("embeddings")
    val words = split(col("text"), " ")
    val longs = transform(col("embedding"), x => (x * 1000).cast("long"))
    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("longArrayDot", emb, LongArrayDot.longArrayDot(longs, longs)),
      ("cdcChunks", docs, CdcChunks.cdcChunks(col("text"), 8, 64L)),
      ("haversineKm", t("lineitem"), Haversine.haversineKm(
        col("l_discount") + 41.0, col("l_tax") - 87.0, lit(41.88), lit(-87.63))),
      ("jaroWinkler", t("part"), JaroWinkler.jaroWinkler(col("p_name"), col("p_type"))),
      ("minhashSig", docs, MinhashSig.minhashSig(words)),
      ("rollingHash64", docs, RollingHash64.rollingHash64(col("text"), lit(8))),
      ("sanitizeUtf8", docs, SanitizeUtf8.sanitizeUtf8(col("text"))),
      ("sortedContains", docs,
        SortedArrayContains.sortedContains(sort_array(words), lit("spark"))),
      ("sq8Code", emb, Sq8Code.sq8Code(col("embedding"))))
    cases.map { case (name, df, c) =>
      val q = df.select(bit_xor(xxhash64(c)))
      val runs = (0 until 4).map { _ =>
        val s = System.nanoTime()
        trace.span("functions", name)(q.collect())
        (System.nanoTime() - s) / 1e6
      }
      name -> runs.drop(1).sorted.apply(1)
    }
  }
}

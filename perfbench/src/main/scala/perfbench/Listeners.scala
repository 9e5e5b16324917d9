package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task metrics summed per label. A job's label is its job group (the
  * benchmark sets one per timed operation) or, for a streaming
  * micro-batch, `batch:<queryId>:<batchId>`. Delivery is asynchronous:
  * read only after the listener bus has drained. */
final class TaskStats extends SparkListener {
  val fields: Seq[String] = Seq("tasks", "run_ms", "gc_ms", "input_mb",
    "input_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "fetch_wait_ms")
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, Array[Double]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    // a micro-batch's jobs carry the stream's run id as their job group,
    // so the batch properties are read first
    val label = (for {
        x <- p
        q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield s"batch:$q:$b")
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    e.stageIds.foreach(s => stageLabel.put(s, label))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val label = Option(stageLabel.get(e.stageId)).getOrElse("other")
      val a = sums.computeIfAbsent(label, _ => new Array[Double](fields.size))
      val mb = 1024.0 * 1024.0
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.jvmGCTime
        a(3) += m.inputMetrics.bytesRead / mb
        a(4) += m.inputMetrics.recordsRead
        a(5) += m.shuffleReadMetrics.totalBytesRead / mb
        a(6) += m.shuffleWriteMetrics.bytesWritten / mb
        a(7) += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
        a(8) += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  def byLabel: Map[String, Map[String, Double]] =
    sums.asScala.map { case (k, a) => k -> fields.zip(a).toMap }.toMap
}

/** Per-batch progress of every streaming query, as the engine reports it. */
final class BatchLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer[Map[String, Double]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    batches.synchronized {
      batches += d ++ Map("batchId" -> p.batchId.toDouble,
        "rows" -> p.numInputRows.toDouble)
    }
  }
}

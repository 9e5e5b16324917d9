package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

/** Test-scope accessor for a streaming query's last micro-batch EXECUTED
  * plan (round 18, VERDICT r17 item 3). `StreamingQueryWrapper` /
  * `StreamExecution.lastExecution` are `private[sql]`, so the accessor
  * lives in the sql namespace exactly like the main-source [[Bridge]];
  * it is the only internal surface the streaming plan guards need.
  */
object StreamBridge {
  def lastExecutedPlan(q: StreamingQuery): Option[SparkPlan] = {
    val se: Option[StreamExecution] = q match {
      case w: StreamingQueryWrapper => Some(w.streamingQuery)
      case s: StreamExecution => Some(s)
      case _ => None
    }
    // lastExecution is null until the first micro-batch completes
    se.flatMap(s => Option(s.lastExecution)).map(_.executedPlan)
  }
}

/** Test-scope accessor for the listener bus (`private[spark]`): job and
  * stage events reach the status store asynchronously, so a spec that
  * counts jobs through `statusTracker` drains the bus first. */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Test-scope accessor for the checkpoint file manager a session resolves
  * for a path, and for a streaming offset log over a checkpoint's
  * `offsets` directory: `sessionState` lives on the classic session, and
  * the checkpoint log classes are Spark internals. */
object CheckpointBridge {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, OffsetSeq, OffsetSeqLog}
  import org.apache.spark.sql.connector.read.streaming.Offset

  def fileManager(spark: SparkSession, dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf())

  /** `OffsetSeqLog.add(batchId, offsets)` on the log in `dir`: false when
    * the batch id already has an entry. */
  def addOffsets(spark: SparkSession, dir: String, batchId: Long,
      offsets: Offset*): Boolean =
    new OffsetSeqLog(spark, dir).add(batchId, OffsetSeq.fill(offsets: _*))
}

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

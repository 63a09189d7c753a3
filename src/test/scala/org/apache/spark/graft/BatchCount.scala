package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** Counts the streaming micro-batches a block runs on `spark`'s
  * queries: progress events of the triggers that executed a batch (the
  * ones that timed `addBatch`). The listener bus is drained before and
  * after the block, as in [[JobRecorder]]. */
object BatchCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val batches = new AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch")) {
          batches.incrementAndGet(); ()
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, batches.get)
    } finally spark.streams.removeListener(listener)
  }
}

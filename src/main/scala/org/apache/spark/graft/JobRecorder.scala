package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent

/** One Spark job of a recorded block: driver wall-clock start and end
  * (ms), the tasks its executed stages ran, and its call site. */
final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int, site: String) {
  def ms: Long = endMs - startMs
}

/** What a recorded block ran: its jobs in start order, the streaming
  * queries it started, and its own wall window (the jobs' clock). */
final case class Recording(jobs: Seq[Job], streamStarts: Int, startMs: Long, endMs: Long) {

  def wallMs: Long = endMs - startMs

  def tasks: Int = jobs.map(_.tasks).sum

  /** Job intervals clipped to the window and merged where they overlap
    * or nest, in start order, each with the site of the job opening it. */
  private def busySpans: List[(Long, Long, String)] =
    jobs.map(j => (j.startMs.max(startMs), j.endMs.min(endMs), j.site))
      .filter(s => s._1 < s._2).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long, String)]) {
        case ((s0, e0, site) :: done, (s, e, _)) if s <= e0 => (s0, e0.max(e), site) :: done
        case (done, span) => span :: done
      }.reverse

  /** Time at least one job ran, the union of the job intervals:
    * `0 <= busyMs <= wallMs`. */
  def busyMs: Long = busySpans.map(s => s._2 - s._1).sum

  /** `(site, jobs, summed job ms)` per call site, heaviest first. */
  def sites: Seq[(String, Int, Long)] =
    jobs.groupBy(_.site).toSeq.map { case (site, js) => (site, js.size, js.map(_.ms).sum) }
      .sortBy { case (site, n, ms) => (-ms, -n, site) }

  /** The window's idle spans (no job running), largest first, each with
    * the site of the job ending it; `(end)` after the last job. */
  def gaps: Seq[(String, Long)] = {
    val spans = busySpans
    (startMs +: spans.map(_._2)).zip(spans.map(s => (s._1, s._3)) :+ ((endMs, "(end)")))
      .collect { case (from, (to, site)) if to > from => (site, to - from) }.sortBy(-_._2)
  }
}

/**
 * The one job recorder: runs a block under a listener that records each
 * Spark job it starts and counts the streaming queries it starts (child
 * sessions post theirs on the same bus). Listener events arrive
 * asynchronously, so the bus is drained before and after the block; the
 * drain is `private[spark]`, hence this package.
 *
 * A job's site is its SQL execution's call site (the `description` of
 * the execution whose id the job carries), so the AQE query-stage jobs
 * of an action land on that action, not on their `CompletableFuture`
 * stage name. A micro-batch's executions are described by the stream:
 * the site is the stream's name, or `micro-batch` for an unnamed one. A
 * job outside any SQL execution keeps its last stage's name.
 */
object JobRecorder {

  def record[T](sc: SparkContext)(body: => T): (T, Recording) = {
    val executions = TrieMap.empty[Long, String]
    val jobs = TrieMap.empty[Int, Job] // end -1 until the job ends
    val stageJob = TrieMap.empty[Int, Int]
    val streams = new AtomicInteger(0)
    def update(id: Int)(f: Job => Job): Unit = jobs.get(id).foreach(j => jobs.update(id, f(j)))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.update(x.executionId, siteOf(x.description))
        case _: QueryStartedEvent => streams.incrementAndGet(); ()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => executions.get(id.toLong))
          .getOrElse(e.stageInfos.lastOption.fold("?")(_.name))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
        jobs.update(e.jobId, Job(e.jobId, e.time, -1L, 0, site))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageJob.get(e.stageInfo.stageId).foreach(update(_)(j =>
          j.copy(tasks = j.tasks + e.stageInfo.numTasks)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        update(e.jobId)(_.copy(endMs = e.time))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val out = body
      val endMs = System.currentTimeMillis()
      sc.listenerBus.waitUntilEmpty()
      val ran = jobs.values.toSeq.map(j => if (j.endMs < 0) j.copy(endMs = endMs) else j)
      (out, Recording(ran.sortBy(j => (j.startMs, j.id)), streams.get, startMs, endMs))
    } finally sc.removeSparkListener(listener)
  }

  /** An execution description's first line: the call site, or for a
    * micro-batch the stream's name. */
  private def siteOf(description: String): String =
    description.linesIterator.nextOption().map(_.trim).filter(_.nonEmpty)
      .getOrElse("micro-batch")
}

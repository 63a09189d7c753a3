package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's public instrumentation, collected for a traced run: every job
  * with its stages and summed task metrics (a [[SparkListener]]), and every
  * executed plan's analysis / optimization / planning phases and physical
  * node count (a [[QueryExecutionListener]]). Nothing is attributed here;
  * events carry wall-clock times (epoch ms) and run.py assigns each one to
  * the op whose interval contains it. */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class JobRec(val id: Int, val start: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
    @volatile var ok: Boolean = false
    var stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var inputBytes, outputBytes, outputRows = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobRec(e.jobId, e.time, e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.ok = e.jobResult == JobSucceeded
      j.end = e.time
    }

  private def jobOf(stageId: Int): Option[JobRec] =
    Option(stageToJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOf(e.stageId).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRows += m.outputMetrics.recordsWritten
        }
      }
    }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).filter(_ > 0).minOption.getOrElse(-1L)
    val nodes = try Recorder.nodes(qe.executedPlan) catch { case _: Throwable => 0 }
    plans.add(Map("start" -> start, "analysis_ms" -> dur("analysis"),
      "optimization_ms" -> dur("optimization"), "planning_ms" -> dur("planning"),
      "nodes" -> nodes, "ok" -> ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  /** True once every started job has ended: the listener bus delivers
    * events asynchronously, so the harness polls this before dumping. */
  def drained: Boolean = jobs.values.asScala.forall(_.end >= 0)

  def jobsJson: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      j.synchronized {
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
          "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "task_run_ms" -> j.runMs, "task_cpu_ns" -> j.cpuNs, "task_gc_ms" -> j.gcMs,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill, "input_bytes" -> j.inputBytes,
          "output_bytes" -> j.outputBytes, "output_rows" -> j.outputRows)
      }
    }

  def plansJson: Seq[Map[String, Any]] = plans.asScala.toSeq
}

object Recorder {
  /** Physical operators in a plan, looking through adaptive wrappers,
    * query stages, command results and subqueries to the final plan. */
  def nodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => 1 + nodes(a.executedPlan)
    case s: QueryStageExec => 1 + nodes(s.plan)
    case c: CommandResultExec => 1 + nodes(c.commandPhysicalPlan)
    case _ => 1 + p.children.map(nodes).sum + p.subqueries.map(nodes).sum
  }
}

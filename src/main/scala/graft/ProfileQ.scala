package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1): run selected
  * queries once, with a listener recording every Spark job's wall time
  * and call site, then print a per-job breakdown — job-count and
  * job-time vs driver wall time separates "too many tiny actions /
  * driver-side protocol work" from "one slow stage". Bench's session
  * ([[GraftSession.local]]); subset via SPARK_GRAFT_ONLY (required).
  * Diagnostic only — bench numbers stay [[Bench]]'s. */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(GraftSession.only.nonEmpty, "set SPARK_GRAFT_ONLY=qNNN[,qNNN...]")
    val spark = GraftSession.local()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String, Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.put(e.jobId, (e.time, site,
          e.stageInfos.map(_.numTasks).sum))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (t0, site, nTasks) =>
          done.add((e.jobId, e.time - t0, site, nTasks, e.time)); ()
        }
      }
    })
    SparkEntry.registry.filter(q => GraftSession.selects(q.name))
      .foreach { q =>
        done.clear()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wallMs = (System.nanoTime() - t0) / 1e6
        // listener events are delivered asynchronously; give the bus a
        // moment to drain so every job is attributed (diagnostic only)
        Thread.sleep(500)
        import scala.jdk.CollectionConverters._
        val js = done.asScala.toSeq.map(t => (t._1, t._2, t._3, t._4))
          .sortBy(-_._2)
        val jobMs = js.map(_._2).sum
        println(f"== ${q.name}: wall ${wallMs / 1000}%.2fs, " +
          f"${js.size} jobs totalling ${jobMs / 1000.0}%.2fs " +
          f"(driver-side gap ${(wallMs - jobMs) / 1000}%.2fs)")
        js.take(25).foreach { case (id, ms, site, nTasks) =>
          println(f"   job $id%4d $ms%6dms $nTasks%4d tasks  $site")
        }
        // per-site histogram: which call sites submit how many jobs
        js.groupBy(_._3).toSeq
          .map { case (site, g) => (site, g.size, g.map(_._2).sum) }
          .sortBy(-_._3).take(20).foreach { case (site, n, ms) =>
            println(f"   site $n%4d jobs $ms%7dms  $site")
          }
        // driver stalls: the biggest gaps BETWEEN consecutive jobs,
        // attributed to the NEXT job's call site (plan building, file
        // ops, commit protocol — whatever ran with no job active)
        val ordered = done.asScala.toSeq.sortBy(_._1)
        ordered.sliding(2).flatMap {
          case Seq((_, _, _, _, e1), (id2, d2, site2, _, e2)) =>
            val gap = (e2 - e1) - d2 // idle span before job id2 started
            Some((gap, id2, site2)).filter(_._1 > 0)
          case _ => None
        }.toSeq.sortBy(-_._1).take(15).foreach { case (gap, id, site) =>
          println(f"   gap before job $id%4d: $gap%6dms  $site")
        }
      }
    spark.stop()
  }
}

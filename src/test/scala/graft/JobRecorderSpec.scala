package graft

import org.apache.spark.graft.{Job, JobRecorder, Recording}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[org.apache.spark.graft.JobRecorder]]: jobs filed under their SQL
  * execution's call site, child-session stream starts counted, and the
  * busy time as the union of the job intervals. */
class JobRecorderSpec extends AnyFunSuite with SparkSpec {

  test("the AQE stage jobs of a shuffle join plus aggregate are filed under the action's call site") {
    val a = spark.range(0, 2000, 1, 4).select((col("id") % 97).as("k"), col("id").as("a"))
    val b = spark.range(0, 500, 1, 4).select((col("id") % 97).as("k"), col("id").as("b"))
    val (n, rec) = JobRecorder.record(spark.sparkContext) {
      a.join(b.hint("shuffle_hash"), "k").groupBy("k").agg(sum("b").as("s")).count()
    }
    assert(n == 97)
    assert(rec.jobs.size > 1, s"expected AQE stage jobs, got ${rec.jobs}")
    assert(!rec.jobs.exists(_.site.contains("CompletableFuture")), rec.jobs.mkString("\n"))
    assert(rec.jobs.forall(_.site.startsWith("count at JobRecorderSpec.scala:")),
      rec.jobs.mkString("\n"))
    assert(rec.tasks > 0 && rec.streamStarts == 0)
  }

  test("a stream run on a child session is one stream start, its micro-batch jobs filed under the stream") {
    val (rows, rec) = JobRecorder.record(spark.sparkContext) {
      graft.streaming.StreamingDemand.runToBatch(spark, sf001).collect()
    }
    assert(rows.nonEmpty)
    assert(rec.streamStarts == 1, s"${rec.streamStarts} stream starts recorded")
    val batchSites = rec.jobs.map(_.site).filter(_.startsWith("replay_"))
    assert(batchSites.nonEmpty, rec.jobs.mkString("\n"))
    assert(!rec.jobs.exists(j => j.site.contains("\n") ||
      j.site.contains("CompletableFuture")), rec.jobs.mkString("\n"))
  }

  test("busy time is the union of overlapping and nested job intervals, within the wall") {
    def job(id: Int, s: Long, e: Long, site: String) = Job(id, s, e, 1, site)
    // [10,40) overlaps [30,50); [60,90) nests [65,70); [95,120) runs past the end
    val rec = Recording(Seq(job(0, 10, 40, "a"), job(1, 30, 50, "b"),
      job(2, 60, 90, "c"), job(3, 65, 70, "d"), job(4, 95, 120, "e")),
      streamStarts = 0, startMs = 0, endMs = 100)
    assert(rec.busyMs == 40 + 30 + 5)
    assert(rec.gaps == Seq(("a", 10L), ("c", 10L), ("e", 5L)))
    assert(rec.sites.take(2) == Seq(("a", 1, 30L), ("c", 1, 30L)))
    val idle = Recording(Nil, 0, 5, 25)
    assert(idle.busyMs == 0 && idle.gaps == Seq(("(end)", 20L)))
    // a real run: 0 <= busy <= wall
    val (_, real) = JobRecorder.record(spark.sparkContext) {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
    }
    assert(real.jobs.nonEmpty && real.busyMs >= 0 && real.busyMs <= real.wallMs,
      s"busy ${real.busyMs} ms, wall ${real.wallMs} ms")
  }
}

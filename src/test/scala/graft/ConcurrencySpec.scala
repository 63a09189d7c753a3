package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session-concurrency invariants: operators must not communicate
  * through session-global state. [[graft.dedup.Dedup.connectedComponents]]
  * used to flip `spark.sql.shuffle.partitions` around its star loop —
  * correct serially, a data race for any other query running in the same
  * session. The width is now set structurally (repartition inside the
  * phases), so two concurrent closures over different graphs must produce
  * exactly the labels each produces alone, with the session conf
  * untouched throughout. */
class ConcurrencySpec extends AnyFunSuite with SparkSpec {
  import graft.dedup.Dedup.connectedComponents

  // chain 0-1-2-...-9 plus a disjoint triangle, shifted per-graph so the
  // two concurrent runs can't share partial results by accident
  private def graph(shift: Long) = {
    import spark.implicits._
    val chain = (0L until 9L).map(i => (shift + i, shift + i + 1))
    val tri = Seq((shift + 100L, shift + 101L), (shift + 101L, shift + 102L),
      (shift + 102L, shift + 100L))
    (chain ++ tri).toDF("i", "j")
  }

  private def labels(shift: Long): Map[Long, Long] =
    // driverMaxEdges = 0 forces the distributed star loop — the path
    // that used to mutate the session conf
    connectedComponents(graph(shift), driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two concurrent connectedComponents runs don't interfere (no session-conf race)") {
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val serialA = labels(0L)
    val serialB = labels(1000L)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (concA, concB) = Await.result(
      Future(labels(0L)).zip(Future(labels(1000L))), 120.seconds)

    assert(concA == serialA, "concurrent run A diverged from its serial labels")
    assert(concB == serialB, "concurrent run B diverged from its serial labels")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore,
      "connectedComponents mutated session-global shuffle partitions")
    // sanity on the expected clustering: one 10-node chain + one triangle
    assert(serialA.values.toSet == Set(0L, 100L))
    assert(serialB.values.toSet == Set(1000L, 1100L))
  }

  test("streaming run beside a batch query: no session-conf flip observable") {
    // withStatePartitions used to set spark.sql.shuffle.partitions=8 on
    // the SHARED session for the stream's lifetime — a concurrent batch
    // query could observe it. It now runs the stream on a child session
    // (private SQLConf); this pins a LIVE stream+batch pair: the batch
    // side polls the session conf while the stream is actually running.
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val dir = "/root/testdata/sf0.001"
    val serialStream = graft.streaming.StreamingDemand.runToBatch(spark, dir)
      .collect().map(_.toSeq).toSet
    val batchTruth = graft.io.Sources.table(spark, dir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var observed = List.empty[String]
    val streamF = Future(
      graft.streaming.StreamingDemand.runToBatch(spark, dir)
        .collect().map(_.toSeq).toSet)
    val batchF = Future {
      // poll the shared-session conf + run real batch queries while the
      // stream drives its micro-batches
      (1 to 5).map { _ =>
        observed = spark.conf.get("spark.sql.shuffle.partitions") :: observed
        graft.io.Sources.table(spark, dir, "events")
          .groupBy("event_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }
    val (concStream, batchRuns) =
      Await.result(streamF.zip(batchF), 180.seconds)

    assert(concStream == serialStream,
      "stream result diverged when run beside a batch query")
    assert(batchRuns.forall(_ == batchTruth),
      "batch query diverged while a stream was running")
    assert(observed.forall(_ == confBefore),
      s"batch side observed a flipped shuffle-partitions value: $observed")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore,
      "stream run mutated the shared session conf")
  }

  test("Scratch.table builds once under concurrent requests for the same key") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def get() = graft.io.Scratch.table(spark, sf001, "concurrency_spec_probe") {
      builds.incrementAndGet()
      graft.io.Sources.table(spark, sf001, "region")
    }
    val rows = Await.result(
      Future.sequence((1 to 4).map(_ => Future(get().count()))), 120.seconds)
    assert(builds.get() == 1,
      s"memoized build ran ${builds.get()} times for one key")
    assert(rows.toSet.size == 1 && rows.head == 5,
      s"concurrent readers saw different tables: $rows")
  }
}

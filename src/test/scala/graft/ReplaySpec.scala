package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Replay, StreamingOhlc, StreamingSketch, StreamingUpsert}

/** The finite-replay drivers in [[graft.streaming.Replay]]: cleanup when
  * a staged stream fails, and the schema of every monoid fold over an
  * empty staged frame. */
class ReplaySpec extends AnyFunSuite with SparkSpec {

  private def stagesNamed(prefix: String): Seq[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith(prefix))

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  private def typedEvents: DataFrame =
    graft.io.Sources.table(spark, sf001, "events")
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"))

  test("a failed second staging write starts no stream and leaves no stage behind") {
    val prefix = "graft_replay_leak_" + java.util.UUID.randomUUID().toString.take(8)
    val failing = typedEvents.withColumn("event_id",
      coalesce(raise_error(lit("stage b failed")).cast("long"), col("event_id")))
    val err = intercept[Exception] {
      Replay.staged(spark, 2)(
        Replay.Staged(prefix + "_a", typedEvents, (_, _) => ()),
        Replay.Staged(prefix + "_b", failing, (_, _) => ()))
    }
    assert(messages(err).contains("stage b failed"), messages(err))
    assert(spark.streams.active.isEmpty,
      s"streams left running: ${spark.streams.active.map(_.id).mkString(", ")}")
    assert(stagesNamed(prefix).isEmpty,
      s"stages left behind: ${stagesNamed(prefix).mkString(", ")}")
  }

  test("a failing micro-batch stops every stream of a staged replay and removes every stage") {
    val prefix = "graft_replay_sink_" + java.util.UUID.randomUUID().toString.take(8)
    val err = intercept[Exception] {
      Replay.staged(spark, 2)(
        Replay.Staged(prefix + "_a", typedEvents, (_, _) => ()),
        Replay.Staged(prefix + "_b", typedEvents,
          (_, _) => throw new IllegalStateException("sink b failed")))
    }
    assert(messages(err).contains("sink b failed"), messages(err))
    assert(spark.streams.active.isEmpty,
      s"streams left running: ${spark.streams.active.map(_.id).mkString(", ")}")
    assert(stagesNamed(prefix).isEmpty,
      s"stages left behind: ${stagesNamed(prefix).mkString(", ")}")
  }

  test("every fold over an empty staged frame returns an empty frame with its sf0.001 schema") {
    val empty = graft.io.Sources.scratchDir("graft_replay_empty")
    try {
      spark.read.parquet(s"$sf001/events.parquet").limit(0)
        .write.parquet(s"$empty/events.parquet")
      val folds = Seq[(String, String => DataFrame)](
        "latest-wins" -> (d => StreamingUpsert.runLatestWinsToBatch(spark, d)),
        "cdc-deletes" -> (d => StreamingUpsert.runCdcDeletesToBatch(spark, d)),
        "ohlc" -> (d => StreamingOhlc.runOhlcToBatch(spark, d)),
        "count-min" -> (d => StreamingSketch.runCountMinToBatch(spark, d)),
        "kmv" -> (d => StreamingSketch.runKmvToBatch(spark, d)),
        "bottom-k" -> (d => StreamingSketch.runBottomKToBatch(spark, d)))
      folds.foreach { case (name, run) =>
        val want = run(sf001).schema
        val got = run(empty)
        assert(got.isEmpty, s"$name folded rows out of an empty stage")
        assert(got.schema == want,
          s"$name: empty-stage schema\n${got.schema.treeString}" +
            s"differs from the sf0.001 schema\n${want.treeString}")
      }
    } finally graft.io.Sources.removeScratchDir(empty)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Event sessionization with an inactivity gap — batch and streaming forms.
 *
 * Batch: the classic lag→flag→running-sum window chain; one shuffle on
 * the user key, linear in events.
 *
 * Streaming: `flatMapGroupsWithState` with event-time timeout — the
 * custom-state path (SURVEY.md §2.11 extension; the reference itself is
 * batch-only).
 */
object Sessionize {

  /** Batch sessionization: sessions break when the gap to the previous
   * event exceeds `gapMinutes`. Output: one row per session with epoch
   * bounds and event count. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("sec").asc, col("event_id").asc)
    events
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("new_sess",
        when(col("sec") - lag(col("sec"), 1).over(w) > gapMinutes * 60L, 1L)
          .otherwise(when(lag(col("sec"), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("session_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("sec").as("start_epoch"), max("sec").as("end_epoch"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  // ------------------------------------------------------------- streaming

  final case class Ev(user_id: Long, sec: Long)
  final case class SessState(start: Long, last: Long, n: Long)
  final case class SessOut(user_id: Long, start_epoch: Long, end_epoch: Long,
                           n_events: Long)

  /**
   * Streaming sessionization over a watermarked event stream (needs
   * `user_id` + timestamp `ts` columns): per-user state carries the open
   * session; a session is emitted when a new event arrives past the gap,
   * or when the event-time timeout fires.
   */
  def sessionizeStream(events: DataFrame, gapMinutes: Int): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    val gapSec = gapMinutes * 60L

    def fn(userId: Long, evs: Iterator[Ev],
           state: GroupState[SessState]): Iterator[SessOut] = {
      var out = List.empty[SessOut]
      if (state.hasTimedOut) {
        state.getOption.foreach { s =>
          out ::= SessOut(userId, s.start, s.last, s.n)
        }
        state.remove()
        out.iterator
      } else {
        var cur = state.getOption
        evs.toSeq.sortBy(_.sec).foreach { e =>
          cur match {
            case Some(s) if e.sec - s.last <= gapSec =>
              // min() on start: a late-but-within-watermark event from a
              // later micro-batch can PRECEDE the open session's start —
              // keeping the old start would emit a session whose
              // start_epoch disagrees with the batch min(sec) truth
              cur = Some(SessState(math.min(s.start, e.sec),
                math.max(s.last, e.sec), s.n + 1))
            case Some(s) =>
              out ::= SessOut(userId, s.start, s.last, s.n)
              cur = Some(SessState(e.sec, e.sec, 1))
            case None =>
              cur = Some(SessState(e.sec, e.sec, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last * 1000 + gapSec * 1000)
        }
        out.reverseIterator
      }
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      // keep the watermarked ts column in the projection — dropping it
      // severs the watermark and EventTimeTimeout refuses to plan
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /**
   * Drive the streaming sessionizer over the finite harness events
   * parquet to completion ([[graft.streaming.Replay.memory]]; the
   * trailing no-data micro-batch advances the watermark and fires the
   * event-time timeouts) and return the emitted sessions. Sessions
   * still open at the final watermark — those ending within ~2 gaps of
   * the last event — remain in state, exactly as they would on a live
   * stream.
   */
  def runStreamToBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                       gapMinutes: Int = 30): DataFrame =
    graft.streaming.Replay.memory(spark, dir, "append") { child =>
      sessionizeStream(
        graft.streaming.StreamingDemand.eventsStream(child, dir), gapMinutes).toDF()
    }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Structured Streaming extension of the demand model (SURVEY.md §2.11:
 * the reference is batch-only; this is the stream path for the same
 * per-hour demand semantics — `readStream` → watermark → tumbling window
 * agg). Batch parquet drives the stream to completion through
 * [[Replay.memory]].
 */
object StreamingDemand {

  /** events schema when the parquet stores ts as TIMESTAMP(NANOS), read
    * with `nanosAsLong` (ts = raw nanos). */
  val eventsRawSchemaNanos: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events schema when the parquet stores ts as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) — Spark reads TimestampNTZType. */
  val eventsRawSchemaMicros: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming scan of `dir`/events.parquet with `ts` normalized to
    * session-zoned TimestampType at micro precision — the same two-flavor
    * normalization as [[graft.io.Sources.table]]. FileStreamSource needs
    * an explicit schema up front, so a footer-only batch read picks the
    * flavor first (the glob filter selects the events table;
    * FileStreamSource requires a directory, not a file path). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val nanos = spark.read.parquet(s"$dir/events.parquet").schema
      .exists(f => f.name == "ts" && f.dataType == LongType)
    val raw = spark.readStream
      .schema(if (nanos) eventsRawSchemaNanos else eventsRawSchemaMicros)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.io.Sources.normalizeTs(raw, nanosAsLong = nanos)
  }

  /** Tumbling 1-hour event-time counts with a 1-hour watermark. */
  def hourlyCountsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /**
   * Stream-static enrichment join: the event stream broadcast-joins a
   * static dimension (re-resolved per micro-batch — the standard
   * streaming enrichment pattern; the stream side never shuffles for the
   * join) and aggregates counts per dimension attribute. Driven to
   * completion like [[runToBatch]]; the oracle replays the equivalent
   * BATCH join+agg in SQL, so stream≡batch holds by hash, not assertion.
   */
  def runEnrichedToBatch(spark: SparkSession, dir: String,
                         dim: DataFrame, dimKey: String,
                         dimAttr: String): DataFrame =
    Replay.memory(spark, dir, "complete") { child =>
      val stream = eventsStream(child, dir)
      // exact integer aggregates only: streaming rejects count(DISTINCT),
      // and a double sum would be micro-batch-order-dependent
      stream
        .join(org.apache.spark.sql.functions.broadcast(dim),
          stream("user_id") === dim(dimKey))
        .groupBy(dimAttr)
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
    }.orderBy(dimAttr)

  /**
   * SLIDING event-time windows (2 h length, 30 min slide): every event
   * lands in exactly 4 overlapping windows — the smoothing/trend shape
   * tumbling windows can't express. Event time is floored to whole
   * seconds (`ts DIV 1e9`) so the window arithmetic is exact integer
   * logic the oracle replays as `((sec // 1800) - k) * 1800, k ∈ 0..3`.
   * NB: this harness driver materializes via complete-mode (all windows
   * retained — that is what lets the memory sink restate the full
   * table); a LIVE unbounded deployment of the same aggregation must
   * use append mode, where the watermark does evict each window's state
   * past its end. `maxTs` (exclusive, epoch seconds) bounds the slice
   * driven through the stream.
   */
  def runSlidingToBatch(spark: SparkSession, dir: String,
                        maxTs: Long): DataFrame =
    Replay.memory(spark, dir, "complete") { child =>
      eventsStream(child, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .filter(col("ts") < timestamp_seconds(lit(maxTs)))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }
      .select(unix_timestamp(col("window.start")).as("window_epoch"),
        col("event_type"), col("n"))

  /**
   * Stream-STREAM interval self-join: clicks joined to the same user's
   * purchases in the trailing hour, both sides watermarked — the
   * attribution-join pattern (Spark buffers each side in keyed state and
   * evicts it once the other side's watermark passes the join bound, so
   * state stays bounded on an unbounded stream). Event time is floored
   * to WHOLE SECONDS before the join (`date_trunc("second", ts)`): the
   * interval arithmetic is then exact integer-second logic the DuckDB
   * oracle replays verbatim — micro-precision bounds would disagree at
   * the fractional boundary.
   *
   * Returns the matched (c_user, click_id, c_ts, purchase_id, p_ts)
   * pairs, materialized to a batch frame.
   */
  def runIntervalJoinToBatch(spark: SparkSession, dir: String): DataFrame =
    Replay.memory(spark, dir, "append") { child =>
      def side(evType: String, prefix: String) = eventsStream(child, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          date_trunc("second", col("ts")).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val joined = side("click", "c").join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"))
      joined
        .select(col("c_user"), col("c_id"), col("c_ts"), col("p_id"), col("p_ts"))
    }

  /**
   * LEFT-OUTER stream-stream interval join — attribution WITH misses:
   * every click either pairs with the same user's purchases in the
   * trailing hour or, once the watermark passes its eviction bound, is
   * emitted once with null purchase columns. Spark holds the unmatched
   * left row in keyed state and null-pads it only when no future right
   * row can match (global watermark > click time) — bounded state on an
   * unbounded stream, and the miss rows arrive exactly once.
   *
   * `cutoffSec` (exclusive, epoch seconds) must trail the stream's max
   * event time by MORE than watermark delay + join interval (1 h + 1 h
   * here): outer state for a click is only evicted — and its miss row
   * only emitted — once the watermark passes click-time plus the
   * interval span, and on a FINITE replay the final watermark stops at
   * max(ts) − 1 h. Clicks past the cutoff would sit in state forever;
   * the cutoff keeps the replayed slice deterministic (the q131 oracle
   * applies the same cutoff to the batch truth).
   */
  def runLeftOuterIntervalJoinToBatch(spark: SparkSession, dir: String,
                                      cutoffSec: Long): DataFrame =
    Replay.memory(spark, dir, "append") { child =>
      def side(evType: String, prefix: String) = eventsStream(child, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          date_trunc("second", col("ts")).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val clicks = side("click", "c")
        .filter(col("c_ts") < timestamp_seconds(lit(cutoffSec)))
      val joined = clicks.join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"),
        "left_outer")
      joined
        .select(col("c_user"), col("c_id"), col("c_ts"), col("p_id"), col("p_ts"))
    }

  /**
   * NATIVE session windows (`session_window(ts, gap)`): the built-in
   * merging-window state operator — Spark's idiomatic spelling of gap
   * sessionization, complementing the `flatMapGroupsWithState` twin in
   * [[graft.ops.Sessionize]]. Window end is EXCLUSIVE (last event +
   * gap), so an event arriving exactly `gap` after the previous one
   * starts a NEW session — the batch replay must break on `diff >=
   * gap`, not `>` (q55's hand-rolled chain uses `>`; q134's oracle
   * encodes the native semantics). Complete mode for the finite-replay
   * harness; a live deployment uses append + watermark eviction.
   */
  def runSessionWindowToBatch(spark: SparkSession, dir: String,
                              gapMinutes: Int): DataFrame =
    Replay.memory(spark, dir, "complete") { child =>
      eventsStream(child, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"))
    }.select(col("user_id"),
      unix_timestamp(col("session_window.start")).as("start_epoch"),
      unix_timestamp(col("session_window.end")).as("end_epoch"),
      col("n_events"))

  /**
   * Watermark LATE-DATA DROP, pinned: the events table arrives in two
   * controlled waves (wave 1 = odd event_ids, wave 2 = even — written
   * to a scratch dir, the second as an arrival of [[Replay.memory]] once
   * the first has run to completion, so the file source sees exactly
   * two arrival batches). After wave 1 the
   * watermark advances to max(wave-1 event time) − 1 h and APPEND mode
   * emits + evicts every hour window that closed; wave-2 rows falling
   * in those closed windows are dropped by the late-data filter —
   * Spark's actual bounded-state guarantee on an unbounded
   * out-of-order stream, which none of the single-arrival streaming
   * queries can exercise. The emitted table is therefore an exact
   * deterministic function of the two wave maxima: a window (start s,
   * end s+3600) appears iff s+3600 ≤ final watermark, with count =
   * wave-1 rows + only those wave-2 rows whose window was still open
   * at the wave-1 watermark (boundary: a window is closed and its
   * late rows dropped when end ≤ watermark) — the q297 oracle replays
   * exactly that arithmetic. Event time floors to whole seconds so
   * the window/watermark arithmetic is integer-exact.
   */
  def runLateDropToBatch(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.io.Sources.scratchDir("graft_late_src")
    val ev = graft.io.Sources.table(spark, dir, "events")
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
        col("event_type"))
    def wave(parity: Int): Unit =
      ev.filter(pmod(col("event_id"), lit(2)) === parity)
        .write.mode("append").parquet(src)
    try {
      wave(1)
      // wave 1 runs to completion (watermark set) before the late wave lands
      Replay.memory(spark, dir, "append", arrivals = Seq(() => wave(0))) { child =>
        child.readStream
          .schema(Replay.stagedSchema(ev))
          .option("pathGlobFilter", "*.parquet")
          .parquet(src)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("ws_sec"),
            col("event_type"), col("n"))
      }
    } finally graft.io.Sources.removeScratchDir(src)
  }

  /**
   * Run the stream over a (finite) parquet path to completion and return
   * the materialized result: epoch-second window start per event type.
   * Output mode "complete" so late batches restate the full table.
   */
  def runToBatch(spark: SparkSession, dir: String): DataFrame =
    Replay.memory(spark, dir, "complete")(hourlyCountsStream(_, dir))
      .select(unix_timestamp(col("window.start")).as("hora_epoch"),
        col("event_type"), col("n"))
      .orderBy("hora_epoch", "event_type")
}

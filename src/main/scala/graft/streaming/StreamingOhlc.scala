package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental OHLC bar building: the event stream folds into per-
 * (day, type) candle bars one micro-batch at a time via `foreachBatch`
 * — the live-dashboard shape where bars must stay queryable WHILE the
 * day is still open. Every component of the merge is commutative and
 * associative — open/close ride `min`/`max` over (time, id, value)
 * structs, high/low are plain extrema, volume a sum — so the final
 * bars are independent of file/batch arrival order (safe on an
 * out-of-order replay), and a batch engine can verify them exactly:
 * the result is hash-identical to q150's one-shot aggregate.
 */
object StreamingOhlc {

  /** Partial bars for one slice of events: the (time, id) prefix of the
    * o/c structs makes min/max pick the earliest/latest event; `value`
    * rides along and never decides (ids are unique). */
  private def bars(df: DataFrame): DataFrame =
    df.groupBy("day", "event_type")
      .agg(min(struct(col("us"), col("event_id"), col("value"))).as("o"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(struct(col("us"), col("event_id"), col("value"))).as("c"),
        count(lit(1)).as("volume"))

  /** Merge partial bars (same shape as [[bars]] output) — the monoid
    * combine: struct extrema re-minimize/maximize, volumes add. The
    * volume sum is never null (every group has a count); the coalesce
    * keeps [[bars]]' non-null type, so merged bars, a single batch's
    * bars and the empty fold all share one schema. */
  private def merge(df: DataFrame): DataFrame =
    df.groupBy("day", "event_type")
      .agg(min(col("o")).as("o"), max(col("high")).as("high"),
        min(col("low")).as("low"), max(col("c")).as("c"),
        coalesce(sum(col("volume")), lit(0L)).as("volume"))

  /**
   * Stage the events table into `nFiles` parquet files, stream them
   * back one file per micro-batch, and fold each batch's partial bars
   * into the accumulated bar table ([[Replay.fold]]). State is the bar
   * table itself (localCheckpointed per batch — bounded lineage), sized
   * by days×types, never by events. Returns the final bars with q150's
   * exact column set.
   */
  def runOhlcToBatch(spark: SparkSession, dir: String,
                     nFiles: Int = 4): DataFrame = {
    val staged = graft.io.Sources.table(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
    Replay.fold(spark, "graft_ohlc", staged, nFiles)(bars)(
      (target, d) => merge(target.unionByName(d)))
      .select(col("day"), col("event_type"), col("o.value").as("open"),
        col("high"), col("low"), col("c.value").as("close"), col("volume"))
  }
}

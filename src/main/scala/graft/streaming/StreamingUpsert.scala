package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental CDC apply: a change stream folded into a latest-wins
 * keyed target, one micro-batch at a time via `foreachBatch` — the
 * streaming MERGE pattern (what a lakehouse `MERGE INTO` does per
 * batch, expressed engine-side). The merge is a per-key `max(struct)`
 * — commutative and associative — so the final target is independent
 * of file/batch arrival order, which is what makes the operator safe
 * on an out-of-order stream.
 */
object StreamingUpsert {

  /** Per-key latest-wins reduction: keep each user's event with the
    * greatest (sec, event_id). */
  private def latest(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(max(struct(col("sec"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.sec").as("sec"),
        col("m.event_id").as("event_id"), col("m.event_type").as("event_type"))

  /** Latest-wins WITH the op carried: the retraction-aware CDC state.
    * Still a per-key max(struct) — commutative/associative, so the
    * folded state is arrival-order independent; a DELETE only wins if
    * it is the key's LATEST change, exactly the changelog contract. */
  private def latestOp(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(max(struct(col("sec"), col("event_id"), col("op"), col("v"))).as("m"))
      .select(col("user_id"), col("m.sec").as("sec"),
        col("m.event_id").as("event_id"), col("m.op").as("op"),
        col("m.v").as("v"))

  /**
   * CDC apply WITH DELETES: the change stream carries upserts ('U')
   * and deletions ('D'); the fold keeps each key's latest change
   * (op included), and the materialized view is the keys whose latest
   * op is an upsert — a deletion retracts the row unless a later
   * upsert re-creates it. Ops are derived deterministically from the
   * events table (event_id % 7 = 0 → delete; value quantized to
   * integer milli). Same [[Replay.fold]] harness as
   * [[runLatestWinsToBatch]]; state is the keyed target itself.
   */
  def runCdcDeletesToBatch(spark: SparkSession, dir: String,
                           nFiles: Int = 4): DataFrame = {
    val staged = graft.io.Sources.table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"),
        when(col("event_id") % 7 === 0, "D").otherwise("U").as("op"),
        round(col("value") * 1000, 0).cast("long").as("v"))
    Replay.fold(spark, "graft_cdc_del", staged, nFiles)(latestOp)(
      (target, d) => latestOp(target.unionByName(d)))
      .filter(col("op") === "U") // deletions retract their key
      .select("user_id", "sec", "event_id", "v")
  }

  /**
   * Stage the events table into `nFiles` parquet files, stream them
   * back ONE FILE PER MICRO-BATCH, and fold each batch into the
   * accumulated target with the latest-wins merge ([[Replay.fold]]:
   * the target is localCheckpointed per batch — bounded lineage however
   * many batches arrive; the state is the keyed target itself, not
   * stream state). Returns the final target (one row per user: their
   * latest event).
   */
  def runLatestWinsToBatch(spark: SparkSession, dir: String,
                           nFiles: Int = 4): DataFrame = {
    val staged = graft.io.Sources.table(spark, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
    Replay.fold(spark, "graft_cdc", staged, nFiles)(latest)(
      (target, d) => latest(target.unionByName(d)))
  }
}

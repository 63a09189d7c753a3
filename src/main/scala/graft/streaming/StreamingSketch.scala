package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming sketch folds: each micro-batch's partial sketch merges into
 * the accumulated one via a MONOID, so the final sketch is independent
 * of batch boundaries and arrival order, and matches the one-shot batch
 * build — count-min by cell-wise addition (error-bounded estimates,
 * hash-identical cells) and KMV by bottom-k set union (exact set
 * algebra). State is the fixed-size sketch itself (localCheckpointed
 * per batch), never the key universe — the live dashboard shape.
 */
object StreamingSketch {

  /** The event keys every user-keyed sketch stages ([[Replay.fold]]
    * streams them back one file per micro-batch). */
  private def userIds(spark: SparkSession, dir: String): DataFrame =
    graft.io.Sources.table(spark, dir, "events").select(col("user_id"))

  /** Streaming count-min sketch: per-batch cell counts fold by
    * cell-wise ADDITION — hash-identical to the one-shot
    * [[graft.sketch.Sketches.countMinBuild]] at any batch boundary.
    * An added cell is never null; the coalesce keeps the build's
    * non-null `c`, so a merged sketch, a single batch's sketch and the
    * empty fold share one schema. Returns the final (d, pos, c) sketch
    * (≤ depth×width rows). */
  def runCountMinToBatch(spark: SparkSession, dir: String,
                         depth: Int = 3, width: Int = 1024,
                         nFiles: Int = 4): DataFrame =
    Replay.fold(spark, "graft_cms", userIds(spark, dir), nFiles)(
      batch => graft.sketch.Sketches
        .countMinBuild(batch, col("user_id"), depth, width))(
      (target, d) => target.unionByName(d)
        .groupBy("d", "pos").agg(coalesce(sum("c"), lit(0L)).as("c")))

  /** Streaming KMV distinct sketch: per-batch bottom-`k` distinct-hash
    * sets fold by union → distinct → bottom-k. Min-k over a union
    * equals min-k over per-part min-k's (set algebra, no counting), so
    * unlike count-min this monoid is EXACT: the final k hashes are
    * identical to the one-shot batch build at any batch boundary or
    * arrival order. State between merges is ≤ 2k hashes. Returns the
    * k-row hash table (h). */
  def runKmvToBatch(spark: SparkSession, dir: String, k: Int = 64,
                    nFiles: Int = 4): DataFrame =
    Replay.fold(spark, "graft_kmv", userIds(spark, dir), nFiles)(
      batch => batch
        .select(graft.ops.Exprs.md5Long(col("user_id")).as("h"))
        .distinct().orderBy(col("h").asc).limit(k))(
      (target, d) => target.unionByName(d).distinct()
        .orderBy(col("h").asc).limit(k))

  /** Streaming bottom-k QUANTILE-sample fold: per-batch bottom-k
    * (md5(event_id), value) pairs — the
    * [[graft.functions.BottomKSketchAgg]] sample — fold by
    * union → bottom-k by (h, v). Bottom-k of a union is the bottom-k
    * of per-part bottom-ks (the KMV argument on the ROW hash), so the
    * fold is EXACT: the final sample is identical to the one-shot
    * batch sketch at any batch boundary or arrival order; quantile
    * estimates read off it are therefore batch≡stream by construction.
    * State between merges is ≤ 2k pairs. Returns the k-row (h, v)
    * sample. */
  def runBottomKToBatch(spark: SparkSession, dir: String, k: Int = 256,
                        nFiles: Int = 4): DataFrame = {
    def bottomK(df: DataFrame): DataFrame =
      df.orderBy(col("h").asc, col("v").asc).limit(k)
    val staged = graft.io.Sources.table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("value"))
    Replay.fold(spark, "graft_qsk_stream", staged, nFiles)(
      batch => bottomK(batch
        .agg(graft.sketch.Sketches.bottomKSketch(
          graft.ops.Exprs.md5Long(col("event_id")), col("value"), k)
          .as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.h").as("h"), col("e.v").as("v"))))(
      (target, d) => bottomK(target.unionByName(d)))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal join operators Spark lacks natively: the as-of join and the
 * interval (range) join — both expressed as single-shuffle declarative
 * plans rather than inequality joins, which Catalyst would otherwise
 * plan as a cartesian/broadcast-nested-loop explosion.
 *
 * As-of join (union + ordered window): tag both inputs, union them, and
 * carry the most recent right-side payload forward with
 * `last(_, ignoreNulls)` over a (key, time) window. ONE hash shuffle on
 * the key, linear scan within each key — at 100 TB this is the
 * sort-merge-shaped plan a native as-of operator would produce, with no
 * per-row probe and no range-condition blowup. (DuckDB/kdb expose the
 * same semantics as ASOF JOIN; the oracle replays ours with it.)
 *
 * Range join (bucketize + equi-join): map each interval to the coarse
 * time buckets it covers (bounded fan-out = interval span / bucket
 * width), equi-join point events on (key, bucket), then apply the exact
 * containment predicate. The equi-join shuffles on (key, bucket) — the
 * skew-safe scalable shape — while the residual range filter runs
 * map-side post-join.
 */
object Temporal {

  /**
   * As-of join: for every left row, attach `valCols` from the latest
   * right row of the same `key` with `rightTime <= leftTime`
   * (backward-looking, inclusive). Right rows must be unique per
   * (key, rightTime) — pre-dedup with [[latestPerKeyTime]] when the
   * source can carry same-second duplicates; uniqueness is what makes
   * the match deterministic in every engine.
   *
   * Left columns all survive; attached columns are named `asof_<col>`
   * plus `asof_time` (null when no right row precedes the left row).
   * The left frame must not already contain columns named `_at`,
   * `_side`, `_rrow`, `_asof`, `asof_time`, or `asof_<valCol>` — they
   * would be silently clobbered (guarded with `require`).
   *
   * Null hygiene mirrors SQL ASOF JOIN (the oracle's semantics): a
   * right row with a null key or null `rightTime` can match nothing in
   * an equi+inequality join, so both are dropped from the right side
   * up front — otherwise a null-time row would sort FIRST (nulls-first
   * asc) and ride `last(ignoreNulls)` as a universal fallback payload,
   * and null keys would match null-key left rows (window partitioning
   * groups nulls where SQL equality never matches them). A null-key or
   * null-time LEFT row keeps its columns with a null `asof_*` payload —
   * exactly what the SQL join produces.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               valCols: Seq[String]): DataFrame = {
    val reserved = Seq("_at", "_side", "_rrow", "_asof", "asof_time") ++
      valCols.map(c => s"asof_$c")
    reserved.foreach(c => require(!left.columns.contains(c),
      s"asofJoin: left input already has a column named '$c'"))
    val l = left
      .withColumn("_at", col(leftTime))
      .withColumn("_side", lit(1))
    // the matched row rides as ONE struct: `last(ignoreNulls)` then skips
    // left rows (struct null there) but never a right row — a right row
    // whose payload column is null still carries its own (time, null),
    // instead of leaking an older row's non-null payload
    val r = right
      .filter(col(key).isNotNull && col(rightTime).isNotNull)
      .select(
        col(key), col(rightTime).as("_at"), lit(0).as("_side"),
        struct(col(rightTime).as("_t") +: valCols.map(col): _*).as("_rrow"))
    // right rows sort BEFORE left rows at the same timestamp (side 0 < 1)
    // → a right row at exactly leftTime is visible: inclusive as-of.
    val w = Window.partitionBy(key).orderBy(col("_at").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r, allowMissingColumns = true)
      .withColumn("_asof", last(col("_rrow"), ignoreNulls = true).over(w))
      .withColumn("asof_time", col("_asof._t"))
    val attached = valCols.foldLeft(carried) { (df, c) =>
      df.withColumn(s"asof_$c", col(s"_asof.$c"))
    }
    attached.filter(col("_side") === 1)
      .drop("_at", "_side", "_rrow", "_asof")
  }

  /** Keep one row per (key, time): the one with the greatest `tiebreak`
   * — the deterministic pre-dedup an as-of right side needs. */
  def latestPerKeyTime(df: DataFrame, key: String, time: String,
                       tiebreak: String): DataFrame = {
    val w = Window.partitionBy(key, time).orderBy(col(tiebreak).desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /**
   * Interval-point range join: pair every left interval
   * [`loCol`, `hiCol`] (inclusive, epoch seconds) with the right rows of
   * the same `key` whose `timeCol` falls inside it. Fan-out per left row
   * is `(hi-lo)/bucketSec + 1` coarse buckets — keep bucketSec within ~a
   * few× the typical span so the explode stays bounded. Returns
   * left ⋈ right matched rows (inner).
   */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                loCol: String, hiCol: String, timeCol: String,
                bucketSec: Long): DataFrame = {
    // hi < lo (corrupt/swapped interval) can contain nothing, but
    // Spark's sequence(start, stop) defaults to step -1 when
    // start > stop — one dirty row would explode into a huge DESCENDING
    // bucket list. Drop invalid intervals before bucketizing.
    val l = left
      .filter(col(hiCol) >= col(loCol))
      .withColumn(
        "_bkt",
        explode(sequence(floor(col(loCol) / bucketSec).cast("long"),
          floor(col(hiCol) / bucketSec).cast("long"))))
    val r = right.withColumn(
      "_bkt", floor(col(timeCol) / bucketSec).cast("long"))
    l.join(r, Seq(key, "_bkt"))
      .filter(col(timeCol) >= col(loCol) && col(timeCol) <= col(hiCol))
      .drop("_bkt")
  }
}

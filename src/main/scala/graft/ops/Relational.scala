package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational building blocks the reference hand-rolls in pandas
 * (SURVEY.md §2.2-2.7): spine generation + left-join-fill, pivot with
 * totals, percent-of-total, top-K, Pareto cumulative distribution.
 *
 * Scale notes (100 TB): spines are generated with `sequence`+`explode`
 * on a 1-row frame (no driver-side collect); spine joins broadcast the
 * spine (it is bounded: hours, days) so the fact side never shuffles;
 * pct-of-total uses a scalar agg cross-joined back (2-pass, no global
 * single-partition window); top-K is `orderBy().limit()` which Spark plans
 * as TakeOrderedAndProject (no global sort materialization).
 */
object Relational {

  // ---------------------------------------------------------------- spines

  /** Daily date spine [start, end] (SURVEY.md S12,
   * indicador-modelo-vs-facturacion.py:643-647). */
  def dateSpine(spark: SparkSession, start: String, end: String,
                colName: String = "d"): DataFrame =
    spark.range(1).select(explode(sequence(
      to_date(lit(start)), to_date(lit(end)),
      expr("INTERVAL 1 DAY"))).as(colName))

  /**
   * Left-join facts onto a spine and zero-fill the gaps (SURVEY.md J4/J5).
   * The FACTS side is broadcast: callers pass facts already aggregated to
   * spine granularity (bounded: hours, days), and for a left outer join
   * Spark can only build/broadcast the right side — broadcasting the spine
   * would be silently ignored (HintErrorLogger). The big fact table never
   * reaches this join un-aggregated.
   */
  def spineJoin(spine: DataFrame, facts: DataFrame, keys: Seq[String],
                fillZero: Seq[String]): DataFrame =
    spine.join(broadcast(facts), keys, "left").na.fill(0, fillZero)

  // ----------------------------------------------------------------- pivot

  /**
   * Crosstab count with an explicit pivot-value list (SURVEY.md A9).
   * Explicit values keep the plan static (no extra distinct-collect job)
   * and bound the width — the reference's unbounded user×unit pivots are a
   * §7.4-6 risk; callers pass a top-N value list instead.
   */
  def pivotCount(df: DataFrame, rowKey: String, colKey: String,
                 values: Seq[String]): DataFrame =
    df.groupBy(rowKey).pivot(colKey, values).count().na.fill(0)

  /**
   * Unbounded-pivot mitigation (SURVEY.md §7.4-6): the reference pivots
   * on user/unit columns with unbounded cardinality. Cap to the top-N
   * column values by frequency and fold the tail into an OTROS column —
   * plan width stays static and small regardless of data cardinality.
   */
  def pivotCountTopN(df: DataFrame, rowKey: String, colKey: String, topN: Int,
                     otherLabel: String = "OTROS"): DataFrame = {
    // cast to string so non-string pivot columns type; NULL pivot values
    // route to OTROS (isin never matches null), so they are excluded
    // from the top-N candidate list rather than minting a dead column
    val ck = col(colKey).cast("string")
    val top = df.select(ck.as("_ck0")).filter(col("_ck0").isNotNull)
      .groupBy("_ck0").count()
      .orderBy(col("count").desc, col("_ck0").asc)
      .limit(topN).collect().map(_.getString(0)).toSeq
    val bucketed = df.withColumn("_ck",
      when(ck.isin(top: _*), ck).otherwise(otherLabel))
    bucketed.groupBy(rowKey).pivot("_ck", top :+ otherLabel).count().na.fill(0)
  }

  /** Row-wise TOTAL column over the pivoted value columns (SURVEY.md A12). */
  def withRowTotal(df: DataFrame, valueCols: Seq[String],
                   totalCol: String = "TOTAL"): DataFrame =
    df.withColumn(totalCol, valueCols.map(c => coalesce(col(c), lit(0L))).reduce(_ + _))

  // ------------------------------------------------------------ pct / topK

  /**
   * Percent-of-total (SURVEY.md A11): per-group count / grand total * 100.
   * Two-pass aggregate + broadcast cross join of the 1-row total — avoids
   * the single-partition `Window.over()` that would serialize all data
   * through one task at scale.
   */
  def pctOfTotal(df: DataFrame, groupCols: Seq[String],
                 valueExpr: Column, pctCol: String = "pct"): DataFrame = {
    val grouped = df.groupBy(groupCols.map(col): _*).agg(valueExpr.as("_v"))
    val total = grouped.agg(sum("_v").as("_t"))
    grouped.join(broadcast(total))
      .withColumn(pctCol, round(col("_v") / col("_t") * 100, 4))
      .drop("_t")
      .withColumnRenamed("_v", "value")
  }

  /** Top-K by a value with a deterministic tiebreak (SURVEY.md W4) —
   * plans as TakeOrderedAndProject, not a global sort. */
  def topK(df: DataFrame, k: Int, by: Column, tiebreak: Column*): DataFrame =
    df.orderBy((by.desc +: tiebreak.map(_.asc)): _*).limit(k)

  /**
   * Pareto table (SURVEY.md A16, indicador-modelo-vs-facturacion.py:1006-1092):
   * frequency desc, cumulative percent, top-N kept and the tail re-bucketed
   * as OTROS. The running sum's window is over the (small) aggregated
   * frequency table, not the fact table, so the single-partition window is
   * bounded by the number of distinct keys.
   */
  def pareto(df: DataFrame, key: String, topN: Int = 10,
             otherLabel: String = "OTROS"): DataFrame = {
    val freq = df.groupBy(key).agg(count(lit(1)).as("cnt"))
    val ranked = freq.withColumn("_rk",
      row_number().over(Window.orderBy(col("cnt").desc, col(key).asc)))
    val bucketed = ranked
      .withColumn("bucket", when(col("_rk") <= topN, col(key)).otherwise(lit(otherLabel)))
      .groupBy("bucket").agg(sum("cnt").as("cnt"),
        min(when(col("_rk") <= topN, col("_rk")).otherwise(topN + 1)).as("ord"))
    val total = bucketed.agg(sum("cnt").as("_t"))
    bucketed.join(broadcast(total))
      .withColumn("pct", round(col("cnt") / col("_t") * 100, 4))
      .withColumn("cum_pct", round(
        sum(col("cnt")).over(Window.orderBy(col("ord").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) / col("_t") * 100, 4))
      .select(col("bucket"), col("cnt"), col("pct"), col("cum_pct"))
      .orderBy(col("cnt").desc, col("bucket").asc)
  }

  // ---------------------------------------------------------------- rollup

  /** Aggregate with a grand-total row appended (SURVEY.md A12), the
   * reference's concat-a-TOTAL-row pattern as a native rollup. The
   * total row is identified by `grouping()`, not by a null key — a
   * genuine NULL-key group keeps its own row (labeled "null" after the
   * string cast) instead of being conflated with the total. The key is
   * cast to string so the label types for non-string keys. */
  def withTotalsRow(df: DataFrame, key: String, aggs: Seq[Column],
                    totalLabel: String = "TOTAL"): DataFrame =
    df.rollup(key)
      .agg(aggs.head, aggs.tail :+ grouping(col(key)).cast("int").as("_gt"): _*)
      .withColumn(key,
        when(col("_gt") === 1, lit(totalLabel))
          .otherwise(col(key).cast("string")))
      .drop("_gt")

  // ----------------------------------------------------------------- skew

  /**
   * Salted two-phase aggregation for skewed keys: partial-aggregate on
   * (key, salt) so one hot key spreads over `salts` reducers, then final
   * aggregate on key. Use when one group holds a disproportionate share
   * of rows (the classic hot-customer / null-key skew); for JOIN skew
   * prefer AQE's skew-join split (enabled in the session configs).
   *
   * `partialAggs` must be decomposable (sum/count/min/max — anything with
   * an associative merge); pass the merge expressions via `finalAggs`
   * keyed by the partial column names.
   */
  def saltedAggregate(df: DataFrame, keys: Seq[String], salts: Int,
                      partialAggs: Seq[Column], finalAggs: Seq[Column]): DataFrame = {
    val salted = df.withColumn("_salt",
      (rand(42) * salts).cast("int")) // salt only routes rows; result is salt-independent
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    partial.groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /**
   * Skew-safe salted equi-join: the build side is replicated once per
   * salt value, the (skewed) probe side routes each row to a
   * deterministic salt — `md5(saltSource) % salts`, NOT rand(), so the
   * routing is reproducible across retries — and the join runs on
   * (key, salt). A hot key's rows thereby spread over `salts` reducers
   * instead of hammering one. Result is salt-independent: exactly the
   * plain join's rows (q87's oracle proves it by hash). Use when one
   * join key dominates; the build-side blowup costs |build| × salts, so
   * keep `salts` small (4-16) and the build side the smaller input.
   */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 salts: Int, saltSource: Column): DataFrame = {
    // a NULL saltSource hashes to NULL and would silently DROP the row
    // from the inner (key, salt) join where the plain join keeps it —
    // route null-salt rows to bucket 0 instead (deterministic, and the
    // build side carries every salt value)
    val p = probe.withColumn("_salt",
      pmod(coalesce(Exprs.md5Long(saltSource), lit(0L)), lit(salts.toLong)))
    val b = build.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    p.join(b, keys :+ "_salt").drop("_salt")
  }

  /**
   * Latest-wins upsert (the MERGE/SCD refresh primitive without a table
   * format): delta rows replace base rows sharing the same key; base
   * rows without a delta survive unchanged. One shuffle on the key, rank
   * window, filter — the declarative shape a storage-level MERGE compiles
   * to anyway. Each side must be key-unique (pre-dedup with
   * [[graft.ops.Windows]] first-per-key otherwise); with multiple delta
   * generations, call iteratively or pre-collapse the delta to its
   * latest generation.
   */
  def upsertLatest(base: DataFrame, delta: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_v").desc)
    base.withColumn("_v", lit(0))
      .unionByName(delta.withColumn("_v", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_v", "_rn")
  }

  // ---------------------------------------------------------------- SCD2

  /**
   * Slowly-changing-dimension (type 2) history build from a change log:
   * per key, order events by `seqCol` (ties on `tieCol` — deterministic),
   * keep only rows where the tracked attribute actually CHANGES
   * (lag-compare), then close each version with the next change's
   * sequence value (`lead`). Open versions have null `valid_to`.
   *
   * One shuffle: both window passes and the change filter share the
   * (key) partitioning and (seq, tie) order, so Spark plans a single
   * exchange + sort reused across the chain — the warehouse
   * dimension-versioning primitive at log scale.
   *
   * Returns (key, attr, valid_from = seqCol's value, valid_to exclusive,
   * version 1..n per key, is_current).
   */
  def scd2Versions(log: DataFrame, keyCol: String, seqCol: String,
                   tieCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(seqCol).asc, col(tieCol).asc)
    // null-safe change detection: first row by rank (NOT by `_prev` null,
    // which conflates with a null previous VALUE), value compare with
    // `<=>` so a change to/from null is still a change
    val changes = log
      .withColumn("_rn", row_number().over(w))
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .filter(col("_rn") === 1 || !(col("_prev") <=> col(attrCol)))
      .drop("_rn", "_prev")
    val w2 = Window.partitionBy(keyCol).orderBy(col(seqCol).asc, col(tieCol).asc)
    changes
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w2))
      .withColumn("version", row_number().over(w2).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  // -------------------------------------------------------- grouped OLS

  /**
   * Grouped least-squares line fit from EXACT integer moments: y is
   * pre-quantized to integer micro-units, x is a small integer feature,
   * and slope/intercept come from the closed-form normal equations
   *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
   *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
   * where every Σ is an exact BIGINT sum — associativity-proof at any
   * partitioning — and only the FINAL division is floating point (one
   * IEEE op, identical in every engine). This is the distributed
   * grouped-OLS primitive: one map-side-combined aggregate per group,
   * no driver collect, where `ml.Forecast` fits one model on one
   * collected table. Output: group, n, slope_q, intercept_q (quantized
   * y-units per unit of x / at x=0), rounded to 4 decimals.
   *
   * A group with constant x (including single-row groups) has a zero
   * normal-equation denominator — the line is undefined, so slope and
   * intercept are NULL, guarded by the overflow-free min(x) = max(x)
   * test (a double 0/0 would be NaN in Spark but NULL in DuckDB).
   *
   * Overflow headroom: the moment products must fit BIGINT — with
   * milli-quantized y ≤ 1e6 and x ≤ 100 that holds to ~1e9 rows per
   * group; beyond that, coarsen the quantization (the bound scales
   * linearly with it).
   */
  def groupedLinearFit(df0: DataFrame, groupCol: String, x: Column,
                       yQuant: Column): DataFrame = {
    // n must count exactly the rows the moment sums see: sums skip
    // nulls, so a null x or y row left in would mix inconsistent
    // moments into the normal equations (wrong but non-null output)
    val df = df0.filter(x.isNotNull && yQuant.isNotNull)
    val agg = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(x.cast("long")).as("sx"),
      sum(x.cast("long") * x.cast("long")).as("sxx"),
      sum(yQuant).as("sy"),
      sum(x.cast("long") * yQuant).as("sxy"),
      (min(x.cast("long")) === max(x.cast("long"))).as("constx"))
    agg.select(col(groupCol), col("n"),
      when(col("constx"), lit(null)).otherwise(
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4)).as("slope_q"),
      when(col("constx"), lit(null)).otherwise(
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4)).as("intercept_q"))
  }

  // ------------------------------------------------------------- argmax

  /** Global extreme with argmax attribution (SURVEY.md A8):
   * `max_by(struct(attrs), value)` — single reduction, no sort. */
  def argmax(df: DataFrame, value: Column, attrs: Column*): DataFrame =
    df.agg(max(value).as("max_value"),
      max_by(struct(attrs: _*), value).as("arg"))
      .select(col("max_value"), col("arg.*"))

  /**
   * Snapshot diff (table reconciliation): classify every key across two
   * table versions as added / removed / changed / unchanged by comparing
   * a caller-supplied payload HASH — the content-digest full-outer-join
   * shape a lake diff/audit runs. One key-keyed exchange per side; the
   * payload digests are computed map-side, so the shuffle carries
   * (key, hash), never the row payloads. Callers hash STRING columns
   * (md5 over a delimited concat) — float formatting is engine-specific
   * and would poison a cross-engine digest.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
                   payload: Column): DataFrame = {
    // null-safe key equality: a NULL-keyed record present in both
    // versions is ONE record to reconcile — a plain equi-join would
    // report it as simultaneously 'added' and 'removed'
    val a = oldDf.select(col(key).as("_ko"), payload.as("h_old"))
    val b = newDf.select(col(key).as("_kn"), payload.as("h_new"))
    a.join(b, a("_ko") <=> b("_kn"), "full_outer")
      .select(coalesce(col("_ko"), col("_kn")).as(key),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("change_type"))
  }
}

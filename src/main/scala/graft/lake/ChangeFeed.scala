package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/**
 * CHANGE DATA FEED over a merge-on-read table — the row-level deltas
 * BETWEEN committed versions, extracted FROM the overlay chain itself
 * (the Delta Lake "change data feed" / Iceberg "changelog scan"
 * capability, on either commit core). The overlay IS the delta, so no
 * extra change files are ever written:
 *
 *   - a DELETION-VECTOR version contributes `delete` rows: the
 *     pre-image of its keys — the previous version SEMI-JOINED to the
 *     vector's key set, O(|matched rows|) output with the key filter
 *     pushed into the scan. A key the table never held contributes
 *     nothing (the vector tolerated it; the feed reports only rows
 *     that actually died);
 *   - an UPSERT version contributes `delete` rows for the REPLACED
 *     pre-images (previous version semi-joined to the batch's keys —
 *     brand-new keys contribute no delete) and `insert` rows for the
 *     batch itself. A replaced key thus appears as a delete+insert
 *     pair — the CDC convention that keeps downstream consumers
 *     algebraic (counts/sums retract the old row and absorb the new
 *     one; [[graft.plans.ViewRewrite.refresh]] consumes exactly this
 *     shape);
 *   - a FULL version (a [[Versions.commit]]/[[TxLog.commit]] Put, or a
 *     compaction) has no row-level lineage, so the feed computes the
 *     MULTISET DIFF against the previous version — `exceptAll` both
 *     ways, O(|table|) for that step alone, and a content-preserving
 *     compaction contributes ZERO rows (the diff is empty), so
 *     maintenance commits never spam the feed;
 *   - the GENESIS version (reading from `fromVersion = -1`) is all
 *     `insert` rows.
 *
 * Every step's rows are aligned to the schema AT `toVersion` (added
 * columns null-backfill on pre-evolution rows, mirroring
 * [[Versions.readEvolved]]), then stamped with `_change_type`
 * (`insert` | `delete`) and `_commit_version` (the version that
 * produced the change). Applying the feed telescopes by construction:
 * read(from) ⊎ inserts ∖ deletes = read(to) as multisets.
 *
 * At 100 TB: a consumer tailing one version at a time pays
 * O(|that version's delta|) per poll (overlay versions — the steady
 * state of a CDC-fed table) and O(|table|) only when someone ran a
 * full rewrite; the pre-image semi joins read the previous version
 * with the key set broadcast or shuffled as Catalyst picks, never a
 * driver-side materialization.
 */
object ChangeFeed {

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** Row-level changes introduced BY version `v` (vs `v - 1`) of the
    * table under `root`, on `core`. Columns: the table's schema at
    * `schemaAt` (default `v`) plus [[ChangeType]] and
    * [[CommitVersion]]. */
  def changesAt(spark: SparkSession, root: String, v: Int,
                core: Core = Versions,
                schemaAt: Int = -1): DataFrame = {
    val cur = core.current(root)
    require(v >= 0 && v <= cur,
      s"version $v out of range for $root (current $cur)")
    // target schema from chain METADATA ([[Mor.chainSchema]] replays
    // the resolve's column algebra off cached footers) — building and
    // ANALYZING a full resolve plan per step just for .schema.fields
    // made an N-version feed pay O(N²) plan analyses
    val want = Mor.chainSchema(spark, core.versionDir(root, _),
      if (schemaAt >= 0) schemaAt else v, root).fields
    changesAtAligned(spark, root, v, core, want)
  }

  private def changesAtAligned(spark: SparkSession, root: String, v: Int,
                               core: Core,
                               want: Array[org.apache.spark.sql.types.StructField]): DataFrame = {
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      val filled = want.foldLeft(df) { (d, f) =>
        if (have(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }
      filled.select(want.map(f => col(f.name)).toSeq: _*)
    }
    def stamped(df: DataFrame, tpe: String): DataFrame =
      aligned(df).withColumn(ChangeType, lit(tpe))
        .withColumn(CommitVersion, lit(v))
    val dir = core.versionDir(root, v)
    Mor.overlayOf(dir) match {
      case Some((kc, false)) => // deletion vector: pre-image rows
        val keys = Mor.readDir(spark, dir).select(kc)
        stamped(core.read(spark, root, v - 1)
          .join(keys, Seq(kc), "left_semi"), "delete")
      case Some((kc, true)) => // upsert: replaced pre-images + batch
        val ov = Mor.readDir(spark, dir)
        val pre = core.read(spark, root, v - 1)
          .join(ov.select(kc).distinct(), Seq(kc), "left_semi")
        stamped(pre, "delete").unionByName(stamped(ov, "insert"))
      case None => // full version: genesis all-insert, else multiset diff
        if (v == 0) stamped(core.read(spark, root, 0), "insert")
        else {
          val prev = aligned(core.read(spark, root, v - 1))
          val now = aligned(core.read(spark, root, v))
          stamped(now.exceptAll(prev), "insert")
            .unionByName(stamped(prev.exceptAll(now), "delete"))
        }
    }
  }

  /** Row-level changes that take `read(fromVersion)` to
    * `read(toVersion)` — the union of [[changesAt]] over
    * `(fromVersion, toVersion]`, every step aligned to the schema at
    * `toVersion`. `fromVersion = -1` starts the feed at genesis;
    * `toVersion = -1` reads up to current. */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Int = -1, toVersion: Int = -1,
                     core: Core = Versions): DataFrame = {
    val to = if (toVersion >= 0) toVersion else core.current(root)
    require(to >= 0, s"no committed version under $root")
    require(fromVersion >= -1 && fromVersion <= to,
      s"bad feed window ($fromVersion, $to] for $root")
    val steps = (fromVersion + 1) to to
    require(steps.nonEmpty, s"empty feed window ($fromVersion, $to]")
    // ONE metadata schema derivation for the whole window (every step
    // aligns to the same to-version schema)
    val want = Mor.chainSchema(spark, core.versionDir(root, _), to, root)
      .fields
    steps.map(changesAtAligned(spark, root, _, core, want))
      .reduce(_.unionByName(_))
  }

  /** Split a feed frame into its (inserts, deletes) payload frames —
    * meta columns dropped — the exact pair
    * [[graft.plans.ViewRewrite.refresh]] consumes. */
  def splitFeed(changes: DataFrame): (Option[DataFrame], Option[DataFrame]) = {
    val payload: Seq[Column] = changes.columns
      .filterNot(c => c == ChangeType || c == CommitVersion)
      .map(col).toSeq
    // ONE aggregation decides both sides' presence (this ran one
    // filter+isEmpty action PER SIDE before r14 — two shuffle-free but
    // fully scheduled jobs per call, pure per-job overhead on the tiny
    // frames the lifecycle queries feed through here)
    import org.apache.spark.sql.functions.{max => fmax}
    val present = changes.agg(
      fmax(col(ChangeType) === "insert"),
      fmax(col(ChangeType) === "delete")).collect()(0)
    def side(tpe: String, idx: Int): Option[DataFrame] =
      if (present.isNullAt(idx) || !present.getBoolean(idx)) None
      else Some(changes.filter(col(ChangeType) === tpe).select(payload: _*))
    (side("insert", 0), side("delete", 1))
  }
}

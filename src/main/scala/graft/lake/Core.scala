package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * A COMMIT CORE — the single-writer [[Versions]] manifest or the
 * multi-writer [[TxLog]] CAS log — as a value that knows its own
 * discipline: [[Catalog]] members and [[ChangeFeed]] windows take the
 * core object itself (`Put(df, TxLog)`) and call it, never match on it.
 * Not sealed: the two implementations live in their own files.
 *
 * The surface is what a dispatch site calls. Chain depth and the
 * compaction policy are identical on both cores, so they live here
 * over each core's own compaction.
 */
trait Core {

  /** Highest committed version, or -1 for an empty table. */
  def current(root: String): Int

  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame

  /** The physical directory holding version `v`. */
  private[lake] def versionDir(root: String, v: Int): java.io.File

  def vacuum(root: String, keepFrom: Int): Int

  def vacuumAged(root: String, maxAgeMs: Long, keep: Set[Int] = Set.empty): Int

  /** Remove version `v`, which THIS caller just committed and no
    * catalog record names ([[Catalog]] phase-1 rollback). */
  private[lake] def rollback(root: String, v: Int): Unit

  /** The [[Catalog]] member disciplines. A [[Catalog.Put]] commits at
    * the member's PHYSICAL head, wherever crash garbage left it (full
    * versions cap chains, so garbage below is unreachable). An overlay
    * ([[Catalog.DeleteKeys]]/[[Catalog.UpsertRows]]) commits at exactly
    * `expected + 1`, with auto-compaction off (a member's auto-compact
    * would make a version no catalog record names). */
  private[lake] def commitPut(df: DataFrame, root: String): Int

  private[lake] def commitDeleteAt(keys: DataFrame, root: String,
                                   keyCol: String, expected: Int): Int

  private[lake] def commitUpsertAt(rows: DataFrame, root: String,
                                   keyCol: String, expected: Int,
                                   evolveSchema: Boolean): Int

  /** Collapse the current merge-on-read chain into one full version;
    * returns the new version. */
  protected def compactChain(spark: SparkSession, root: String): Int

  /** How long an unreferenced data directory must have been quiescent
    * (newest mtime in its tree) before it counts as a crashed writer's
    * orphan rather than an in-flight commit. A crashed writer's orphan
    * ages past this within minutes; an active writer keeps touching its
    * task files. */
  private[graft] val orphanGraceMs: Long = 10 * 60 * 1000L

  /** The versions age-based retention ([[vacuumAged]]) reclaims out of
    * the listed `versions`: those below the current `cur`, outside
    * `keep`, and at least `maxAgeMs` past their commit stamp
    * (`stampMs`), except any member of a RETAINED version's
    * merge-on-read chain (current, kept, or simply young) — age cutoffs
    * can leave holes, and a hole under a retained overlay would break
    * its chain, so chains are protected as units. Ascending. */
  protected def agedVictims(root: String, versions: Seq[Int], cur: Int,
                            maxAgeMs: Long, keep: Set[Int])(
                            stampMs: Int => Long): Seq[Int] = {
    val now = System.currentTimeMillis()
    val sorted = versions.sorted
    val aged = sorted.filter(v =>
      v < cur && !keep(v) && now - stampMs(v) >= maxAgeMs).toSet
    val protectChains = sorted.filterNot(aged)
      .flatMap(v => Mor.fullBase(versionDir(root, _), v) to v).toSet
    sorted.filter(v => aged(v) && !protectChains(v))
  }

  override def toString: String = getClass.getSimpleName.stripSuffix("$")

  /** Overlay-chain depth of version `v` (default: current) — how many
    * anti-join overlays a read must resolve; 0 for a full version. */
  def chainDepth(root: String, v: Int = -1): Int = {
    val at = if (v >= 0) v else current(root)
    if (at < 0) 0 else Mor.chainDepth(versionDir(root, _), at)
  }

  /** Maintenance entry: collapse the current chain iff it is deeper
    * than `threshold` overlays. Returns the new full version, or -1
    * when the chain was already shallow enough. */
  def compactIfDeeper(spark: SparkSession, root: String, threshold: Int): Int =
    if (chainDepth(root) > threshold) compactChain(spark, root) else -1

  /** Commit-time auto-compaction: when THIS writer's overlay `v` pushed
    * the chain past `threshold`, compact. `<= 0` disables. */
  protected def maybeAutoCompact(spark: SparkSession, root: String,
                                 v: Int, threshold: Int): Unit =
    if (threshold > 0 && chainDepth(root, v) > threshold) {
      compactChain(spark, root)
      ()
    }
}

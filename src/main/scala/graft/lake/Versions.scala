package graft.lake

import graft.io.FileTree.{newestMtime, rmTree}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Minimal versioned-table layout — the lakehouse COMMIT primitive the
 * MERGE family (q320/q324) and the incremental-view / vacuum queries
 * (q325/q326) build on. Each version is an immutable parquet directory
 * `v<N>` under the table root; the CURRENT version is a one-line
 * `_current` manifest naming it. A commit is
 * write-new-directory-then-flip-pointer:
 *
 *   - readers of the old version are never disturbed (its files are
 *     immutable and stay on disk until [[vacuum]]);
 *   - a crash before the pointer flip leaves the old version current —
 *     the half-written directory is garbage, never corruption;
 *   - time travel is just [[read]] with an explicit version that
 *     vacuum hasn't reclaimed yet;
 *   - at 100 TB the pointer flip is O(1) regardless of table size —
 *     the same role Delta Lake's `_last_checkpoint` and Iceberg's
 *     `version-hint.text` play (public formats; here reduced to the
 *     single-writer harness case, so the manifest write IS the commit
 *     with no CAS needed).
 *
 * The reference has no storage engine at all (pandas frames die with
 * the Streamlit process, SURVEY.md §0) — this is part of the scale
 * extension surface.
 */
object Versions extends Core {

  private def manifest(root: String) = new java.io.File(root, "_current")

  /** A branch root's `_base` file: two lines — the PHYSICAL directory
    * of the snapshot the branch was cut from, and (for audit) the
    * source root it came from. Resolved once at [[branch]] time so a
    * branch-of-a-branch still reads its v0 in one hop. */
  private def baseFile(root: String) = new java.io.File(root, "_base")

  private def baseDir(root: String): Option[java.io.File] = {
    val b = baseFile(root)
    if (!b.isFile) None
    else new String(java.nio.file.Files.readAllBytes(b.toPath), "UTF-8")
      .linesIterator.toSeq.headOption.map(new java.io.File(_))
  }

  /** The physical directory holding version `v` of the table at
    * `root` — local `v<N>` for ordinary tables and for a branch's own
    * commits (v1+); the recorded base snapshot for a branch's v0. */
  private[lake] def versionDir(root: String, v: Int): java.io.File =
    if (v == 0) baseDir(root).getOrElse(new java.io.File(root, "v0"))
    else new java.io.File(root, s"v$v")

  private def manifestTokens(root: String): Array[String] = {
    val m = manifest(root)
    if (!m.isFile) Array.empty
    else new String(
      java.nio.file.Files.readAllBytes(m.toPath), "UTF-8").trim
      .split("\\s+")
  }

  /** Highest committed version, or -1 for an empty table root. */
  def current(root: String): Int = {
    val t = manifestTokens(root)
    if (t.isEmpty) -1 else t(0).toInt
  }

  /** The writer-transaction HIGH-WATER MARK: the highest txn id any
    * commit ever recorded (-1 if none, or the table is empty). Because
    * the id rides the `_current` pointer flip itself, "txn recorded"
    * and "version visible" are ONE atomic step — the idempotence handle
    * a streaming writer needs (Delta's `txn` action, public docs). The
    * mark SURVIVES txn-less commits ([[commit]] carries it forward) and
    * [[vacuum]] (which never touches the manifest): a maintenance
    * rewrite between stream batches cannot reset it and silently
    * re-admit a replayed batch. */
  def lastTxn(root: String): Long = {
    val t = manifestTokens(root)
    if (t.length < 2) -1L else t(1).toLong
  }

  /** Commit `df` as the next version: write `v<N>` fully, then flip
    * the `_current` pointer. Returns N.
    *
    * Crash recovery: a writer that died between starting the `v<N>`
    * write and flipping the pointer leaves a half-written `v<N>`
    * directory that is provably garbage (the pointer never reached it,
    * so no reader can hold it) — once it has been quiescent for
    * [[Core.orphanGraceMs]] it is cleared here so a crashed commit never
    * wedges the table. A FRESH `v<N>`, by contrast, is most likely a
    * concurrent writer mid-commit: the single-writer contract is being
    * violated, and this fails loudly (IllegalStateException) rather
    * than deleting another writer's in-progress data. Real lakehouses
    * upgrade this rung to optimistic concurrency (CAS the manifest,
    * detect conflicts); the loud failure is the honest single-writer
    * version of the same guarantee.
    *
    * Txn high-water: when `txn` is supplied the recorded mark is
    * `max(txn, previous)`; when it is not, the PREVIOUS mark is carried
    * forward — so a txn-less maintenance commit (compaction, manual
    * fix-up) between stream batches can never reset the idempotence
    * handle and double-apply a redelivered batch. */
  def commit(df: DataFrame, root: String, txn: Long = -1L): Int = {
    val n = current(root) + 1
    reclaimOrphan(root, n)
    df.write.mode("errorifexists").parquet(s"$root/v$n")
    // read() keys completeness off this marker — fail loudly NOW if the
    // committer was configured not to write it
    require(new java.io.File(root, s"v$n/_SUCCESS").isFile,
      s"commit wrote no _SUCCESS marker under $root/v$n")
    writeStamp(root, n)
    flipPointer(root, n, txn)
    n
  }

  private def reclaimOrphan(root: String, n: Int): Unit = {
    val orphan = new java.io.File(root, s"v$n")
    if (orphan.isDirectory) {
      val quietMs = System.currentTimeMillis() - newestMtime(orphan)
      if (quietMs < orphanGraceMs)
        throw new IllegalStateException(
          s"v$n under $root exists and was written ${quietMs}ms ago — " +
            "a concurrent writer is mid-commit (single-writer contract " +
            "violated); refusing to clobber it. A crashed writer's " +
            s"orphan is reclaimed after ${orphanGraceMs}ms of quiescence.")
      rmTree(orphan)
    }
  }

  /** Stamp the COMMIT TIME into the version directory's own content
    * (`_ts`, millis) — age-based retention reads this, never the inode
    * mtime: an object-store copy/restore resets mtimes, making fresh
    * data look aged (or stale data look fresh). Written before the
    * pointer flip, so it rides the same crash rule as the data. */
  private def writeStamp(root: String, n: Int): Unit = {
    java.nio.file.Files.write(
      new java.io.File(root, s"v$n/_ts").toPath,
      (System.currentTimeMillis().toString + "\n").getBytes("UTF-8"))
    ()
  }

  /** The stamped commit time of version `v`, or None for a version an
    * older writer committed (falls back to mtime in [[vacuumAged]]). */
  private def stampOf(root: String, v: Int): Option[Long] = {
    val f = new java.io.File(versionDir(root, v), "_ts")
    if (!f.isFile) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong)
  }

  private def flipPointer(root: String, n: Int, txn: Long): Unit = {
    val hw = math.max(txn, lastTxn(root))
    val tmp = new java.io.File(root, s"_current.tmp$n")
    val line = if (hw >= 0) s"$n $hw\n" else s"$n\n"
    java.nio.file.Files.write(tmp.toPath, line.getBytes("UTF-8"))
    // atomic on POSIX; object stores swap this for a CAS'd manifest PUT
    java.nio.file.Files.move(tmp.toPath, manifest(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Merge-on-read overlay marker of a version: `Some((keyCol,
    * isUpsert))` for a DV/upsert version, None for a full one. The
    * marker lives INSIDE the version directory ([[Mor]] owns the
    * convention, shared with [[TxLog]]), so it rides every existing
    * crash rule (an unflipped dir is orphan garbage whether or not the
    * marker got written). */
  private def overlay(root: String, v: Int): Option[(String, Boolean)] =
    Mor.overlayOf(versionDir(root, v))

  /** Nearest FULL version at or below `v` — the base a merge-on-read
    * chain resolves down to. */
  private def fullBase(root: String, v: Int): Int =
    Mor.fullBase(versionDir(root, _), v)

  /** DELETION-VECTOR commit (merge-on-read delete — the Delta/Iceberg
    * deletion-vector rung, public docs): record WHICH rows die instead
    * of rewriting the table. The new version's directory holds ONLY the
    * distinct deleted keys plus a `_dv` marker naming the key column;
    * [[read]] of a DV version resolves the previous version and
    * anti-joins the vector, recursively down to the nearest full
    * version. At 100 TB a delete therefore costs O(|keys|) written
    * bytes and a pointer flip — the copy-on-write rewrite is deferred
    * to [[compactDeletes]], exactly the merge-on-read/copy-on-write
    * trade every lakehouse exposes. Time travel still works at every
    * version; [[vacuum]] auto-lowers its floor to the retained chain's
    * base so it can never orphan a readable version's chain.
    *
    * NOTE on the return value under auto-compaction: when this commit
    * pushes the chain past `autoCompactAt`, a compaction commit follows
    * IMMEDIATELY, so `current(root)` is the compacted version N+1, not
    * the returned overlay N — and N becomes vacuum-eligible as soon as
    * the retention floor passes it. A caller that needs the returned
    * version to BE current (a fixture pinning a chain shape, a caller
    * chaining `expected =` off it) passes `autoCompactAt = 0` and runs
    * [[compactIfDeeper]] from its own maintenance loop instead. */
  def commitDelete(keys: DataFrame, root: String, keyCol: String,
                   txn: Long = -1L, autoCompactAt: Int = autoCompactDepth): Int = {
    val cur = current(root)
    require(cur >= 0, s"cannot delete from empty table $root")
    val n = cur + 1
    reclaimOrphan(root, n)
    keys.select(keyCol).distinct()
      .write.mode("errorifexists").parquet(s"$root/v$n")
    require(new java.io.File(root, s"v$n/_SUCCESS").isFile,
      s"commit wrote no _SUCCESS marker under $root/v$n")
    Mor.writeMarker(new java.io.File(root, s"v$n"), keyCol, upsert = false)
    writeStamp(root, n)
    flipPointer(root, n, txn)
    maybeAutoCompact(keys.sparkSession, root, n, autoCompactAt)
    n
  }

  /** MERGE-ON-READ UPSERT (the Iceberg equality-delete + data-file
    * shape, public docs): commit `rows` as an OVERLAY version whose
    * read is "previous minus the overlay's keys, plus the overlay's
    * rows" — replaced rows and brand-new inserts both land in one
    * O(|delta|) commit, and the base is never rewritten. `rows` must
    * carry the full row schema; keys are taken from it. Chains compose
    * with [[commitDelete]] freely and collapse via [[compactDeletes]].
    */
  def commitUpsert(rows: DataFrame, root: String, keyCol: String,
                   txn: Long = -1L, autoCompactAt: Int = autoCompactDepth,
                   evolveSchema: Boolean = false): Int = {
    val cur = current(root)
    require(cur >= 0, s"cannot upsert into empty table $root — commit first")
    // loud write-side contracts: no silent both-rows-survive, and no
    // schema drift without the explicit evolution opt-in. Column names
    // and types come from the METADATA chain schema ([[Mor.chainSchema]])
    // — the full resolve plan was being built and analyzed once per
    // commit just to read its schema.
    Mor.requireSchemaAligned(rows,
      Mor.chainSchema(rows.sparkSession, versionDir(root, _), cur, root),
      evolveSchema, root)
    Mor.requireKeyUnique(rows, keyCol, root)
    val n = cur + 1
    reclaimOrphan(root, n)
    rows.write.mode("errorifexists").parquet(s"$root/v$n")
    require(new java.io.File(root, s"v$n/_SUCCESS").isFile,
      s"commit wrote no _SUCCESS marker under $root/v$n")
    Mor.writeMarker(new java.io.File(root, s"v$n"), keyCol, upsert = true,
      evolve = evolveSchema)
    writeStamp(root, n)
    flipPointer(root, n, txn)
    maybeAutoCompact(rows.sparkSession, root, n, autoCompactAt)
    n
  }

  /** Default chain-depth threshold past which an overlay commit
    * auto-compacts ([[compactDeletes]]): each overlay costs one
    * anti-join at read time, so an unattended writer looping overlay
    * commits must not grow an unbounded plan. High enough that a
    * deliberate chain-shape fixture never trips it; `<= 0` disables
    * (the [[Catalog]] passes 0 — a member's auto-compact would create
    * a version the catalog record does not name). */
  val autoCompactDepth: Int = 64

  protected def compactChain(spark: SparkSession, root: String): Int =
    compactDeletes(spark, root)

  /** Collapse the current merge-on-read chain into one FULL version
    * (the OPTIMIZE/compaction step): commit the resolved current state,
    * after which [[vacuum]] may reclaim the whole old chain. Returns
    * the new version. No-op-shaped but still a commit when current is
    * already full. */
  def compactDeletes(spark: SparkSession, root: String): Int =
    commit(read(spark, root), root)

  /** Roll the table BACK to version `keep`, removing `made` — the
    * version the CALLER ITSELF just committed (`made` must be current,
    * and `keep` the version directly below it; `keep = -1` un-creates a
    * table whose ONLY version this caller made, by deleting the
    * manifest itself). This is the [[Catalog]] phase-1 rollback: a
    * multi-table transaction that lost the catalog CAS removes its own
    * member versions so the member log stays 1:1 with cataloged history
    * (an abandoned OVERLAY version would poison the positional chain
    * under the next transaction's overlay). Single-writer-per-member
    * contract, like every Versions write. The pointer rewinds FIRST
    * (readers move off the victim before its files die); the txn
    * high-water is carried, never regressed. */
  private[lake] def rollbackTo(root: String, keep: Int, made: Int): Unit = {
    require(keep >= -1 && made == keep + 1,
      s"rollbackTo only unwinds the one version this caller made " +
        s"(keep=$keep, made=$made under $root)")
    require(current(root) == made,
      s"refusing rollback: $root moved to ${current(root)} past $made — " +
        "another writer committed on top (single-writer contract violated)")
    if (keep >= 0) flipPointer(root, keep, -1L) // -1 carries the txn mark
    else manifest(root).delete() // v0 was ours: un-create the table
    val d = new java.io.File(root, s"v$made")
    new java.io.File(d, "_SUCCESS").delete() // invalidate before delete
    rmTree(d)
  }

  private[lake] def rollback(root: String, v: Int): Unit =
    rollbackTo(root, v - 1, v)

  /** The [[Catalog]] member disciplines on the single-writer core: a
    * Put is a plain [[commit]]; with no CAS, an overlay's contiguity is
    * checked loudly ([[requireContiguous]]). */
  private[lake] def commitPut(df: DataFrame, root: String): Int =
    commit(df, root)

  private[lake] def commitDeleteAt(keys: DataFrame, root: String,
                                   keyCol: String, expected: Int): Int = {
    requireContiguous(root, expected)
    commitDelete(keys, root, keyCol, autoCompactAt = 0)
  }

  private[lake] def commitUpsertAt(rows: DataFrame, root: String,
                                   keyCol: String, expected: Int,
                                   evolveSchema: Boolean): Int = {
    requireContiguous(root, expected)
    commitUpsert(rows, root, keyCol, autoCompactAt = 0,
      evolveSchema = evolveSchema)
  }

  private def requireContiguous(root: String, expected: Int): Unit = {
    val physical = current(root)
    if (physical != expected) throw new IllegalStateException(
      s"member $root is physically at version $physical but the catalog " +
        s"names $expected — uncataloged garbage from a crashed transaction " +
        "(or an out-of-band writer) sits at the overlay's slot; an " +
        "overlay committed on top would resolve THROUGH it. Run " +
        "Catalog.repairMember to cap the garbage with a full version.")
  }

  /** Test/migration hook: overwrite version `v`'s stamped commit time
    * (fixtures age versions through the SUPPORTED aging channel — the
    * stamp — rather than inode mtimes, which retention ignores). */
  private[graft] def restamp(root: String, v: Int, ts: Long): Unit = {
    java.nio.file.Files.write(
      new java.io.File(versionDir(root, v), "_ts").toPath,
      (ts.toString + "\n").getBytes("UTF-8"))
    ()
  }

  /** Read a version (default: current). Reading a vacuumed,
    * never-committed, or HALF-VACUUMED version fails loudly (no files ≠
    * empty table; a directory a crashed [[vacuum]] partially deleted
    * would otherwise read back as silently-partial data — the
    * `_SUCCESS` marker is removed FIRST by vacuum precisely so this
    * gate catches the remains). */
  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else current(root)
    require(v >= 0, s"no committed version under $root")
    val dir = versionDir(root, v)
    require(new java.io.File(dir, "_SUCCESS").isFile,
      s"version $v under $root (dir $dir) is vacuumed, incomplete, " +
        "or was never committed")
    // merge-on-read chain resolution is the [[Mor]] core shared with
    // the multi-writer TxLog — every chain member re-gated on _SUCCESS
    Mor.resolveChain(spark, versionDir(root, _), v, root)
  }

  /** The CURRENT version's physical directory — the handle a LIVE
    * materialized-view registration ([[graft.plans.MatView]]'s
    * `viewRoot`) resolves at plan time, so a refresh COMMIT is also
    * the re-registration. Immutable once returned: commits only ever
    * add a new directory and flip the pointer. */
  def currentDir(root: String): String = {
    val v = current(root)
    require(v >= 0, s"no committed version under $root")
    versionDir(root, v).getAbsolutePath
  }

  /** SNAPSHOT-ISOLATION handle: the version a multi-query pipeline
    * pins itself to. Every [[read]](root, snap) against the returned
    * version sees the SAME immutable files no matter how many commits
    * land in between (commits only ever add `v<N+1>` and flip the
    * pointer; committed directories are never rewritten), so a report
    * that runs ten queries against one snapshot is internally
    * consistent — the repeatable-read guarantee MVCC tables get from
    * their snapshot epoch. The handle stays valid until [[vacuum]]
    * reclaims the version, at which point reads fail loudly rather
    * than silently switching data. */
  def snapshot(root: String): Int = {
    val v = current(root)
    require(v >= 0, s"no committed version under $root to snapshot")
    v
  }

  /** Zero-copy BRANCH (shallow clone): cut `dstRoot` from `srcRoot`'s
    * snapshot `version` (default: current) WITHOUT copying any data —
    * the Delta `SHALLOW CLONE` / Iceberg snapshot-ref shape (public
    * docs). The branch's v0 is a `_base` pointer at the source
    * snapshot's physical directory (resolved once here, so branching a
    * branch still reads in one hop); diverging commits write LOCAL
    * v1, v2, … under `dstRoot` and never disturb the source. At 100 TB
    * the branch costs two metadata files regardless of table size.
    *
    * Ownership contract: the branch does NOT pin the source's files —
    * [[vacuum]] on the branch only ever reclaims the branch's own local
    * versions (v0 has no local directory, so the shared snapshot is
    * never deleted from the branch side), while vacuuming the SOURCE
    * below the branched version breaks the branch's v0 LOUDLY (the
    * `_SUCCESS` gate in [[read]]), the same retention footgun a real
    * lakehouse documents for shallow clones. The branch starts with a
    * clean txn high-water (-1): it is a new table, and a streaming
    * writer attached to it keeps its own idempotence ledger. */
  def branch(srcRoot: String, dstRoot: String, version: Int = -1): Int = {
    val v = if (version >= 0) version else current(srcRoot)
    require(v >= 0, s"no committed version under $srcRoot to branch from")
    require(overlay(srcRoot, v).isEmpty,
      s"v$v under $srcRoot is a merge-on-read overlay version — its " +
        "data lives in the chain below it, which a zero-copy branch " +
        "cannot carry; compactDeletes first")
    val src = versionDir(srcRoot, v)
    require(new java.io.File(src, "_SUCCESS").isFile,
      s"source snapshot v$v under $srcRoot is vacuumed or incomplete")
    require(current(dstRoot) < 0 && !baseFile(dstRoot).isFile,
      s"$dstRoot already holds a table; refusing to overwrite it")
    new java.io.File(dstRoot).mkdirs()
    java.nio.file.Files.write(baseFile(dstRoot).toPath,
      (src.getAbsolutePath + "\n" + srcRoot + " v" + v + "\n")
        .getBytes("UTF-8"))
    val tmp = new java.io.File(dstRoot, "_current.tmp0")
    java.nio.file.Files.write(tmp.toPath, "0\n".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, manifest(dstRoot).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    0
  }

  /** Read a version EVOLVED to the CURRENT version's schema — the
    * mergeSchema-on-read rung (Delta/Iceberg schema evolution, public
    * docs): columns the old version predates come back as typed NULLs,
    * columns the current schema dropped are omitted, and the column
    * order is the current schema's — so any two as-of reads union by
    * position as well as by name. Plain [[read]] stays schema-faithful
    * for audits; this is the read a pipeline pinned to "latest schema"
    * uses when time traveling. Column-add/drop only (the metadata-only
    * evolutions); a type change between versions still fails loudly in
    * the parquet reader rather than silently coercing. */
  def readEvolved(spark: SparkSession, root: String,
                  version: Int = -1): DataFrame = {
    // current schema from chain METADATA (no plan build/analysis)
    val curFields =
      Mor.chainSchema(spark, versionDir(root, _), current(root), root).fields
    val v = read(spark, root, version)
    val have = v.columns.toSet
    val filled = curFields.foldLeft(v) { (df, f) =>
      if (have(f.name)) df
      else df.withColumn(f.name,
        org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    }
    filled.select(curFields.map(f =>
      org.apache.spark.sql.functions.col(f.name)).toSeq: _*)
  }

  /** AGE-BASED retention (the "older than N days" rung — the retention
    * window public lakehouse VACUUMs expose, orthogonal to the
    * version-floor rule of [[vacuum]]): reclaim version directories
    * whose STAMPED COMMIT TIME (`_ts`, written by every commit — never
    * the inode mtime, which an object-store copy/restore resets,
    * making fresh data look aged or stale data look fresh; only
    * pre-stamp versions fall back to the newest-file mtime) is older
    * than `maxAgeMs`, except (a) the current version, (b) anything in
    * `keep` (e.g. versions a catalog snapshot still names —
    * [[Catalog.vacuumAged]] passes these), and (c) any member of a
    * RETAINED version's merge-on-read chain: age cutoffs can leave
    * HOLES, and a hole under a retained overlay would break its chain,
    * so chains are protected as units rather than per-directory.
    * Victims lose `_SUCCESS` first, as in [[vacuum]]. Returns
    * directories reclaimed. */
  def vacuumAged(root: String, maxAgeMs: Long,
                 keep: Set[Int] = Set.empty): Int = {
    val cur = current(root)
    if (cur < 0) return 0
    val versions = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.stripPrefix("v").toInt)
    val victims = agedVictims(root, versions, cur, maxAgeMs, keep)(v =>
      stampOf(root, v).getOrElse(
        newestMtime(new java.io.File(root, s"v$v")))) // pre-stamp versions
    victims.foreach { v =>
      val d = new java.io.File(root, s"v$v")
      new java.io.File(d, "_SUCCESS").delete() // invalidate before delete
      rmTree(d)
    }
    victims.size
  }

  /** Retention: remove all versions BELOW `keepFrom` (the current
    * version is always kept regardless). Returns the number of version
    * directories reclaimed. Each victim's `_SUCCESS` marker is deleted
    * FIRST, so a crash mid-delete leaves a directory [[read]] rejects
    * rather than one that reads back partial data. Time travel to a
    * vacuumed version fails loudly in [[read]] — the
    * retention/readability trade every lakehouse exposes. The manifest
    * (and with it [[lastTxn]]) is never touched: vacuuming history
    * cannot break a streaming writer's replay-skip test. */
  def vacuum(root: String, keepFrom: Int): Int = {
    val cur = current(root)
    // merge-on-read safety: a DV version is only readable down to its
    // nearest FULL base, so the retention floor auto-lowers to that
    // base — vacuum can never orphan a retained version's chain.
    val floor = fullBase(root, math.min(keepFrom, cur))
    val victims = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter(f => f.getName.stripPrefix("v").toInt < floor)
    victims.foreach { v =>
      new java.io.File(v, "_SUCCESS").delete() // invalidate before delete
      rmTree(v)
    }
    victims.size
  }
}

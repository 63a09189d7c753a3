package graft.lake

import graft.io.FileTree.{newestMtime, rmTree}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Conflict signal for [[TxLog.commit]]: another writer committed the
  * version this writer targeted. Carries enough to rebase: re-read the
  * new current state, re-apply the transformation, retry. */
final class CommitConflict(val attempted: Int, msg: String)
  extends RuntimeException(msg)

/**
 * MULTI-WRITER versioned table — the optimistic-concurrency upgrade of
 * [[Versions]] (whose manifest flip is safe only under the documented
 * single-writer contract). The design is the public Delta Lake
 * transaction-log protocol reduced to its core:
 *
 *   - each commit writes its data to a UNIQUELY-NAMED directory
 *     (`d<N>-<nonce>`), so concurrent writers can never collide on
 *     files;
 *   - the commit POINT is put-if-absent creation of `_commits/<N>`
 *     (staged to a temp name, then hard-linked into place — link(2)
 *     fails atomically with EEXIST, unlike POSIX rename which silently
 *     replaces): exactly one writer can create each `<N>`, so the
 *     version sequence is a total order decided by the filesystem, not
 *     by timing luck;
 *   - a loser gets [[CommitConflict]], removes its orphaned data
 *     directory, and REBASES: re-read the winner's state, re-apply the
 *     transformation, retry at `<N+1>` ([[readModifyWrite]] is that
 *     loop) — optimistic concurrency with conflict detection, the
 *     serializable read-modify-write recipe;
 *   - a crash between the data write and the commit-record move leaves
 *     a data directory NO commit record names — invisible to every
 *     reader by construction (readers resolve directories only through
 *     records), reclaimed by [[vacuumOrphans]] after a quiescence
 *     grace.
 *
 * At 100 TB the commit point is still one empty-ish file rename; the
 * log directory grows one tiny record per commit (real systems
 * checkpoint it — out of scope here, the protocol is the point). On
 * object stores without atomic rename this maps onto a put-if-absent
 * primitive or a coordination service, exactly as Delta documents.
 */
object TxLog extends Core {

  private def logDir(root: String) = new java.io.File(root, "_commits")

  private def recordFile(root: String, n: Int) =
    CasLog.recordFile(logDir(root), n)

  private def checkpointFile(root: String, v: Int) =
    new java.io.File(logDir(root), f"_checkpoint.$v%010d")

  private def listedCheckpoints(root: String): Seq[java.io.File] =
    Option(logDir(root).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && f.getName.matches("_checkpoint\\.\\d+"))

  /** The folded log prefix `(version, txn high-water)` the NEWEST
    * [[checkpoint]] recorded, or (-1, -1) if none. Checkpoints are
    * versioned put-if-absent files, so readers take the max — a
    * concurrent checkpointer can only ever ADD a newer fold, never
    * regress this. Any file a listing saw can be reclaimed by an
    * even-newer checkpoint's cleanup between the list and the read, so
    * the read walks the listing NEWEST-FIRST and takes the first file
    * that still exists — an older fold is always a valid (merely
    * lower) floor, since every caller maxes it with the live records.
    * Only when EVERY listed file vanished does it re-list (a vanished
    * file implies a newer one was created); this is on every read path
    * (current/lastTxn/commit precheck), so it must never spuriously
    * fail a healthy reader under sustained checkpoint churn — but the
    * re-list is BOUNDED: a listing that persistently names files that
    * fail to read (stat/listing caches, eventually-consistent stores)
    * must fail loudly, never spin every read path forever. Each retry
    * implies a whole checkpoint generation was superseded during one
    * read, so a healthy log exhausts the cap only under a pathological
    * churn storm — exactly when a loud error beats an infinite loop. */
  private def checkpointState(root: String): (Int, Long) = {
    var attempt = 0
    while (attempt < 50) {
      val files = listedCheckpoints(root)
      if (files.isEmpty) return (-1, -1L)
      files.sortBy(-_.getName.stripPrefix("_checkpoint.").toInt)
        .foreach { f =>
          try {
            val t = new String(
              java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
              .split("\\s+")
            return (t(0).toInt, t(1).toLong)
          } catch {
            case _: java.nio.file.NoSuchFileException => // superseded; older
          }
        }
      // the whole listing vanished → a newer fold exists; re-list
      attempt += 1
    }
    throw new IllegalStateException(
      s"checkpoint listing under $root names only unreadable files " +
        "after 50 re-lists — the store is returning stale listings " +
        "(or a churn storm is superseding every fold mid-read)")
  }

  private def listedRecords(root: String): Seq[Int] =
    CasLog.listed(logDir(root))

  /** Highest committed version, or -1 for an empty table. Readers list
    * the log directory, never the data directories; after a
    * [[vacuum]], the checkpoint floor stands in for reclaimed
    * records. */
  def current(root: String): Int = {
    val ns = listedRecords(root)
    val ck = checkpointState(root)._1
    if (ns.isEmpty) ck else math.max(ns.max, ck)
  }

  private def record(root: String, n: Int): (String, Long) = {
    val f = recordFile(root, n)
    require(f.isFile,
      s"version $n under $root is vacuumed or was never committed")
    val t = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.split("\\s+")
    (t(0), if (t.length > 1) t(1).toLong else -1L)
  }

  /** The commit timestamp RECORDED IN the record line (third token),
    * or None for a record an older writer wrote. Age-based retention
    * reads THIS, never the inode mtime: an object-store copy/restore
    * resets mtimes, making fresh data look aged (or stale data look
    * fresh) — the commit time belongs in the record content. */
  private def recordTs(root: String, n: Int): Option[Long] = {
    val f = recordFile(root, n)
    if (!f.isFile) return None
    val t = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.split("\\s+")
    if (t.length > 2) Some(t(2).toLong) else None
  }

  /** [[record]], tolerating a record a concurrent [[vacuum]] unlinked
    * between a listing and this read — a vacuumed record's txn is
    * always folded into a newer checkpoint first. */
  private def recordOpt(root: String, n: Int): Option[(String, Long)] =
    try { if (recordFile(root, n).isFile) Some(record(root, n)) else None }
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Writer-transaction high-water mark across all commits (the
    * streaming idempotence handle, as in [[Versions.lastTxn]]): the
    * max of the checkpointed fold and every record past it, so it is
    * O(tail) after a [[checkpoint]] and survives [[vacuum]] of the
    * folded prefix. A record a concurrent vacuum unlinks mid-scan is
    * skipped — vacuum auto-checkpoints first, so the re-read
    * checkpoint floor covers its txn. */
  def lastTxn(root: String): Long = {
    val (ckV, ckTxn) = checkpointState(root)
    val tail = listedRecords(root).filter(_ > ckV)
    val reads = tail.map(recordOpt(root, _))
    val txns = reads.flatten.map(_._2)
    if (reads.exists(_.isEmpty))
      (checkpointState(root)._2 +: ckTxn +: txns).max
    else (ckTxn +: txns).max
  }

  /** Fold the log prefix into a VERSIONED `_checkpoint.<N>` — the role
    * Delta's parquet checkpoint plays (public docs): `current`/
    * `lastTxn` no longer need the records at or below the checkpointed
    * version, which makes them O(tail) on long histories and lets
    * [[vacuum]] reclaim the prefix records entirely. The file is
    * created put-if-absent via link(2), and readers take the highest
    * number — so two concurrent checkpointers cannot regress the fold
    * (the old single-file check-then-rename was exactly that TOCTOU:
    * both read a stale prev, both passed the guard, last rename won).
    * A lost link means another checkpointer folded the SAME version —
    * success either way. Superseded checkpoint files are reclaimed
    * here; readers re-list if the one they chose vanishes. Returns the
    * checkpointed version. */
  def checkpoint(root: String): Int = {
    val cur = current(root)
    require(cur >= 0, s"nothing to checkpoint under $root")
    val f = checkpointFile(root, cur)
    if (!f.isFile) {
      // a lost CAS means another checkpointer folded the SAME version —
      // success either way (CasLog always reclaims the staged temp)
      CasLog.putIfAbsentAt(f, s"$cur ${lastTxn(root)}\n")
      ()
    }
    // reclaim superseded folds (strictly below the newest on disk;
    // `cur` is included defensively — a racing lister can miss a
    // just-created entry, and ours is known to exist)
    val newest = (cur +: listedCheckpoints(root)
      .map(_.getName.stripPrefix("_checkpoint.").toInt)).max
    listedCheckpoints(root)
      .filter(_.getName.stripPrefix("_checkpoint.").toInt < newest)
      .foreach(_.delete())
    cur
  }

  /** Retention for the multi-writer table: reclaim data directories
    * AND log records of all versions below `keepFrom` (current always
    * kept). Auto-[[checkpoint]]s first so the txn high-water and the
    * version counter survive the reclaimed prefix. Reads of a
    * vacuumed version fail loudly in [[read]]/[[record]]. Returns
    * versions reclaimed. */
  def vacuum(root: String, keepFrom: Int): Int = {
    val cur = current(root)
    if (cur < 0) return 0
    checkpoint(root)
    val want = math.min(keepFrom, cur)
    if (!recordFile(root, want).isFile) return 0 // below an earlier floor
    // merge-on-read safety (as in [[Versions.vacuum]]): an overlay
    // version is only readable down to its nearest FULL base, so the
    // retention floor auto-lowers to that base — vacuum can never
    // orphan a retained version's chain
    val floor = Mor.fullBase(versionDir(root, _), want)
    listedRecords(root).filter(_ < floor).count(reclaim(root, _))
  }

  /** Reclaim one vacuum victim. The record unlinks FIRST: a crash
    * mid-vacuum leaves a version that already reads as vacuumed, never
    * one with missing data. A concurrent vacuum may have unlinked the
    * record already (recordOpt tolerates the race); only the caller
    * whose unlink succeeded counts (and reclaims) the victim, so racing
    * vacuums' counts partition correctly. */
  private def reclaim(root: String, v: Int): Boolean =
    recordOpt(root, v).exists { case (dataName, _) =>
      val won = recordFile(root, v).delete()
      if (won) rmTree(new java.io.File(root, dataName))
      won
    }

  /** AGE-BASED retention on the multi-writer log ([[Versions.vacuumAged]]'s
    * semantics on the CAS core): reclaim versions whose COMMIT STAMP —
    * the timestamp recorded in the commit record's own line, never the
    * inode mtime, which an object-store copy/restore resets — is older
    * than `maxAgeMs`, except (a) the current version, (b) anything in
    * `keep` (versions a catalog snapshot still names), and (c) any
    * member of a RETAINED version's merge-on-read chain (age cutoffs
    * can leave holes; a hole under a retained overlay would break its
    * chain). Pre-stamp records fall back to the record file's mtime.
    * Auto-[[checkpoint]]s first so the txn high-water survives the
    * reclaimed prefix. Returns versions reclaimed. */
  def vacuumAged(root: String, maxAgeMs: Long,
                 keep: Set[Int] = Set.empty): Int = {
    val cur = current(root)
    if (cur < 0) return 0
    checkpoint(root)
    agedVictims(root, listedRecords(root), cur, maxAgeMs, keep)(v =>
      recordTs(root, v).getOrElse(
        recordFile(root, v).lastModified())) // pre-stamp records only
      .count(reclaim(root, _))
  }

  /** The physical data directory of version `v`, resolved THROUGH the
    * commit record — half-written or orphaned directories are
    * unreachable by construction. */
  private[lake] def versionDir(root: String, v: Int): java.io.File =
    new java.io.File(root, record(root, v)._1)

  /** Read a version (default: current) by resolving its data directory
    * THROUGH the commit record, then resolving any merge-on-read chain
    * ([[Mor]] — shared with [[Versions]]) down to the nearest full
    * version, with a `_SUCCESS` gate on every chain member. */
  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else current(root)
    require(v >= 0, s"no committed version under $root")
    Mor.resolveChain(spark, versionDir(root, _), v, root)
  }

  /** DELETION-VECTOR commit on the MULTI-WRITER log (the
    * [[Versions.commitDelete]] semantics on the CAS core — the
    * composition the two-parallel-stacks split forbade): the new
    * version's uniquely-named directory holds ONLY the distinct
    * deleted keys plus the `_dv` marker, staged BEFORE the commit
    * record links, so a lost CAS or crash leaves garbage no reader
    * resolves. Reads resolve the chain via [[Mor]]; a conflict rebases
    * exactly like a full commit (the vector itself rarely depends on
    * the base, so retrying with the new expected version usually
    * suffices). O(|keys|) written bytes + one record link.
    *
    * As on [[Versions.commitDelete]]: past `autoCompactAt` the returned
    * overlay version is immediately superseded by a compaction commit —
    * `current(root)` reads N+1, and chaining `expected = n` off the
    * return conflicts. Pass `autoCompactAt = 0` to pin the returned
    * version as current and compact from a maintenance loop. */
  def commitDelete(keys: DataFrame, root: String, keyCol: String,
                   expected: Int, txn: Long = -1L,
                   autoCompactAt: Int = Versions.autoCompactDepth): Int = {
    require(expected >= 0, s"cannot delete from empty table $root")
    val n = commitImpl(keys.select(keyCol).distinct(), root, expected, txn,
      precheck = true, marker = Some((keyCol, false, false)))
    maybeAutoCompact(keys.sparkSession, root, n, autoCompactAt)
    n
  }

  /** MERGE-ON-READ UPSERT on the multi-writer log: commit `rows` as an
    * overlay whose read is "previous minus the overlay's keys, plus
    * the overlay's rows" — O(|delta|) written bytes + one record link,
    * composing with [[commitDelete]] chains and collapsing via
    * [[compact]]. `rows` must carry the full row schema. */
  def commitUpsert(rows: DataFrame, root: String, keyCol: String,
                   expected: Int, txn: Long = -1L,
                   autoCompactAt: Int = Versions.autoCompactDepth,
                   evolveSchema: Boolean = false): Int = {
    require(expected >= 0,
      s"cannot upsert into empty table $root — commit first")
    // loud write-side contracts: no both-rows-survive, no schema drift
    // without the explicit evolution opt-in (checked against the
    // EXPECTED version's schema — the one this overlay resolves onto).
    // Column names and types come from the METADATA chain schema
    // ([[Mor.chainSchema]]) — no resolve-plan analysis per commit.
    Mor.requireSchemaAligned(rows,
      Mor.chainSchema(rows.sparkSession, versionDir(root, _), expected, root),
      evolveSchema, root)
    Mor.requireKeyUnique(rows, keyCol, root)
    val n = commitImpl(rows, root, expected, txn,
      precheck = true, marker = Some((keyCol, true, evolveSchema)))
    maybeAutoCompact(rows.sparkSession, root, n, autoCompactAt)
    n
  }

  /** Auto-compaction and [[compactIfDeeper]] fold through the
    * optimistic [[compact]] loop — a racing writer merely makes the
    * loop re-resolve. */
  protected def compactChain(spark: SparkSession, root: String): Int =
    compact(spark, root)

  /** Collapse the current merge-on-read chain into one FULL version
    * through the optimistic loop (the OPTIMIZE/compaction step): reads
    * resolve the chain, the commit writes the resolved state, and a
    * racing writer simply makes the loop re-resolve. Returns the new
    * version. */
  def compact(spark: SparkSession, root: String): Int =
    readModifyWrite(spark, root) { base =>
      base.getOrElse(throw new IllegalArgumentException(
        s"nothing to compact under $root"))
    }

  /** Commit `df` as version `expected + 1`, failing with
    * [[CommitConflict]] if any other writer got there first — before
    * the data write when the log has already moved (cheap early exit),
    * or at the put-if-absent commit point for a true photo-finish race.
    * On conflict this writer's own data directory is removed; nothing
    * another writer wrote is ever touched. */
  def commit(df: DataFrame, root: String, expected: Int,
             txn: Long = -1L): Int =
    commitImpl(df, root, expected, txn, precheck = true, marker = None)

  /** `precheck = false` skips the cheap early version test so specs can
    * drive the photo-finish path (data written, then the link itself
    * loses the race) deterministically. `marker` stamps the staged
    * directory as a merge-on-read overlay — (keyCol, isUpsert,
    * evolveSchema) — BEFORE the record links. */
  private[graft] def commitImpl(df: DataFrame, root: String, expected: Int,
                                txn: Long, precheck: Boolean,
                                marker: Option[(String, Boolean, Boolean)] = None): Int = {
    val n = expected + 1
    if (precheck && current(root) != expected)
      throw new CommitConflict(n,
        s"expected version $expected but $root is at ${current(root)}")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataName = s"d$n-$nonce"
    df.write.mode("errorifexists").parquet(s"$root/$dataName")
    require(new java.io.File(root, s"$dataName/_SUCCESS").isFile,
      s"commit wrote no _SUCCESS marker under $root/$dataName")
    marker.foreach { case (kc, up, ev) =>
      Mor.writeMarker(new java.io.File(root, dataName), kc, up, ev) }
    // put-if-absent commit point ([[CasLog]]): link(2) fails with
    // EEXIST if the record exists, and the record appears fully formed
    // or not at all. (POSIX rename(2) — Files.move ATOMIC_MOVE —
    // silently REPLACES an existing target, so it cannot be the CAS.)
    // The line is `dataName txn commitTs` — the stamp rides the record
    // CONTENT so age-based retention never trusts inode mtimes (-1
    // placeholder keeps the txn token positional for old parsers).
    if (CasLog.putIfAbsent(logDir(root), n,
        s"$dataName $txn ${System.currentTimeMillis()}\n")) n
    else {
      rmTree(new java.io.File(root, dataName))
      throw new CommitConflict(n,
        s"version $n under $root was committed by another writer")
    }
  }

  /** Roll back version `v` — a commit THIS CALLER made and no catalog
    * record ever named ([[Catalog]] phase-1 rollback after a lost
    * catalog CAS or a failed sibling member). The record unlinks first
    * (reads fail loudly, never partial), then the data dir dies. Safe
    * because the CAS guarantees record `v` is the caller's own: records
    * are immutable and exactly one writer ever creates each number. A
    * full version later committed ON TOP (a blind Put at the physical
    * head) survives — the resulting hole reads as vacuumed, and
    * overlay chains can never span it (overlays require contiguity
    * with the cataloged head, and full versions cap chains). */
  private[lake] def rollback(root: String, v: Int): Unit = {
    recordOpt(root, v).foreach { case (dataName, _) =>
      recordFile(root, v).delete()
      rmTree(new java.io.File(root, dataName))
    }
  }

  /** The [[Catalog]] member disciplines on the CAS core. A Put is a
    * BLIND retry at the physical head: a racing transaction's member
    * commit just bumps the number; the CATALOG CAS still arbitrates
    * whose snapshot wins. An overlay's member CAS at `expected` (the
    * cataloged version) enforces chain contiguity: a stale snapshot or
    * crashed garbage surfaces as [[CommitConflict]] for the catalog's
    * transact loop. */
  private[lake] def commitPut(df: DataFrame, root: String): Int = {
    var attempt = 0
    while (true) {
      try return commit(df, root, expected = current(root))
      catch {
        case c: CommitConflict =>
          attempt += 1
          if (attempt > 20) throw c
      }
    }
    -1 // unreachable
  }

  private[lake] def commitDeleteAt(keys: DataFrame, root: String,
                                   keyCol: String, expected: Int): Int =
    commitDelete(keys, root, keyCol, expected = expected, autoCompactAt = 0)

  private[lake] def commitUpsertAt(rows: DataFrame, root: String,
                                   keyCol: String, expected: Int,
                                   evolveSchema: Boolean): Int =
    commitUpsert(rows, root, keyCol, expected = expected, autoCompactAt = 0,
      evolveSchema = evolveSchema)

  /** Test/migration hook: overwrite version `v`'s stamped commit time
    * (the third record-line token) — fixtures age versions through the
    * SUPPORTED channel, not inode mtimes, which retention ignores. */
  private[graft] def restamp(root: String, v: Int, ts: Long): Unit = {
    val (dataName, txn) = record(root, v)
    java.nio.file.Files.write(recordFile(root, v).toPath,
      s"$dataName $txn $ts\n".getBytes("UTF-8"))
    ()
  }

  /** The optimistic-transaction loop: read the current state, apply
    * `transform`, try to commit; on [[CommitConflict]] re-read the
    * winner's state and re-apply. `transform` sees `None` for an empty
    * table. Returns the committed version. This is the serializable
    * read-modify-write recipe — every committed version is `transform`
    * applied to the version immediately below it, regardless of how
    * many writers race. */
  def readModifyWrite(spark: SparkSession, root: String, maxRetries: Int = 20)
                     (transform: Option[DataFrame] => DataFrame): Int = {
    var attempt = 0
    while (true) {
      val v = current(root)
      val base = if (v < 0) None else Some(read(spark, root, v))
      try return commit(transform(base), root, expected = v)
      catch {
        case c: CommitConflict =>
          attempt += 1
          if (attempt > maxRetries) throw c
      }
    }
    -1 // unreachable
  }

  /** Maintenance: reclaim data directories NO commit record names —
    * crashed writers' leftovers. In-flight commits are protected by
    * the quiescence grace (an active writer keeps touching its task
    * files), mirroring [[Versions]]' orphan rule. Returns directories
    * reclaimed. Pass `graceMs = 0` only in tests. */
  def vacuumOrphans(root: String, graceMs: Long = orphanGraceMs): Int = {
    val cur = current(root)
    val named = (0 to cur).filter(recordFile(root, _).isFile)
      .map(record(root, _)._1).toSet
    val victims = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("d") &&
        f.getName.matches("d\\d+-[0-9a-f-]+") && !named(f.getName))
      .filter(f => System.currentTimeMillis() - newestMtime(f) >= graceMs)
    victims.foreach(rmTree)
    victims.size
  }
}

package graft.lake

import graft.io.FileTree.rmTree
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * MULTI-TABLE ATOMIC COMMITS — a catalog-level meta-log over member
 * tables committed through EITHER core: the single-writer [[Versions]]
 * manifest or the multi-writer [[TxLog]] CAS log (the Iceberg
 * REST-catalog multi-table transaction shape, public docs: single-table
 * commits cannot keep two tables mutually consistent, so the catalog's
 * OWN pointer names a `(table → version)` snapshot and flips once for
 * all of them).
 *
 * Layout: each member table lives under `root/<table>` with its own
 * core's on-disk layout (`_current` manifest → Versions, `_commits`
 * log → TxLog; the directory shape IS the core declaration, chosen by
 * the [[Put]] that creates the member). The catalog log
 * `root/_catalog/<N>` holds one record per catalog version — a single
 * line `tableA=vA tableB=vB … #ts=<millis>` — and the COMMIT POINT is
 * put-if-absent creation of record `<N>` via `link(2)` (staged to a
 * temp name, then hard-linked into place — link fails atomically with
 * EEXIST where rename would silently replace), exactly the [[TxLog]]
 * CAS one level up. Two concurrent multi-table transactions therefore
 * CONFLICT LOUDLY ([[CommitConflict]]) instead of last-write-wins
 * losing a snapshot; the loser re-reads the winner's snapshot and
 * re-applies ([[transact]]/[[transactUpdates]] is that rebase loop).
 *
 * The protocol ([[commitUpdates]]): commit every member's new version
 * FIRST (phase 1, each through its member's OWN commit discipline),
 * then link the catalog record once (phase 2). A lost CAS — or a
 * failed sibling member mid-phase-1 — ROLLS BACK the member versions
 * this transaction already made (best-effort; a rollback that itself
 * fails leaves crash-equivalent garbage, see below), so the member
 * logs stay 1:1 with cataloged history. That 1:1 contiguity is a
 * CORRECTNESS requirement for merge-on-read members: overlay chains
 * resolve POSITIONALLY ([[Mor.resolveChain]]), so an abandoned
 * uncataloged version sitting under a later cataloged overlay would
 * silently poison its read. Hence the member disciplines:
 *
 *   - [[Put]] (full contents) is self-contained and commits at the
 *     member's PHYSICAL head, whatever it is — full versions cap
 *     chains, so crash garbage below them is harmless;
 *   - [[DeleteKeys]]/[[UpsertRows]] (overlays) commit at exactly
 *     `cataloged version + 1`: on a TxLog member the CAS enforces it
 *     (a conflict rebases through the transact loop); on a Versions
 *     member a contiguity check fails loudly. If a CRASHED transaction
 *     (no rollback ran) left garbage at that slot, overlay commits
 *     stay loud until [[repairMember]] caps the garbage with a full
 *     cataloged-content version.
 *
 * A crash anywhere before the record link leaves the catalog on the
 * OLD snapshot: readers that go through the catalog ([[read]]) can
 * never see phase-1 versions no record names, so no torn state
 * (table A new + table B old) is observable.
 *
 * Concurrency contract per member core: TxLog members fully serialize
 * same-member transactions through their own CAS (the loser's
 * phase-1 conflict rebases). Versions members keep the single-writer
 * contract — [[transact]] only serializes transactions whose Versions
 * members are DISJOINT; two transactions racing phase 1 on one
 * Versions member race its manifest exactly as two raw
 * [[Versions.commit]] calls would. Put contended tables on the TxLog
 * core; that composition is the point of the shared [[Mor]] layer.
 *
 * At 100 TB: N member commits (each O(|delta|) or O(data) by update
 * kind, plus an O(1) flip/link) plus ONE tiny catalog record link,
 * regardless of data size. Old catalog records are kept — they are the
 * cross-table time-travel history ([[read]] with an explicit
 * snapshot) — until [[vacuumTo]] collapses history to the current
 * snapshot or [[vacuumAged]] prunes it by the commit stamp carried IN
 * each record line (never inode mtimes, which an object-store
 * copy/restore resets).
 */
object Catalog {

  /** One member table's change inside a catalog transaction. */
  sealed trait MemberUpdate
  /** Full new contents. Creates the member (on `core`, [[Versions]] or
    * [[TxLog]]) when it does not exist yet; `core` is ignored for an
    * existing member — the on-disk layout wins. */
  final case class Put(df: DataFrame, core: Core = Versions)
    extends MemberUpdate
  /** Merge-on-read deletion vector: O(|keys|) written bytes. */
  final case class DeleteKeys(keys: DataFrame, keyCol: String)
    extends MemberUpdate
  /** Merge-on-read upsert overlay: O(|rows|) written bytes; the batch
    * must be key-unique ([[Mor.requireKeyUnique]]). `evolveSchema`
    * opts in to committing a batch whose column set differs from the
    * member's current schema (added columns null-backfill at read —
    * [[Mor.resolveChain]]); without it a differing batch is rejected
    * loudly at commit. */
  final case class UpsertRows(rows: DataFrame, keyCol: String,
                              evolveSchema: Boolean = false)
    extends MemberUpdate
  /** Collapse the member's merge-on-read overlay chain into ONE full
    * version of its CATALOGED contents — maintenance INSIDE the
    * transaction protocol, so the compacted version is catalog-named
    * the instant it exists (an out-of-band compaction would strand an
    * uncataloged version at the overlay slot and trip the contiguity
    * gate). Content-preserving by construction: the snapshot read and
    * the full commit happen in one phase-1 step, and a lost catalog CAS
    * rolls the version back like any other member commit. This is how
    * a long-running streaming writer ([[graft.streaming.StreamingLake
    * .applyBatchCatalog]]) bounds a member's read plan: one overlay per
    * micro-batch, compacted through [[compactMemberIfDeeper]] once the
    * chain passes the threshold. */
  final case class Compact(spark: SparkSession) extends MemberUpdate

  private def logDir(root: String) = new java.io.File(root, "_catalog")

  private def recordFile(root: String, n: Int) =
    CasLog.recordFile(logDir(root), n)

  private def listed(root: String): Seq[Int] = CasLog.listed(logDir(root))

  /** Highest committed catalog version, or -1 for a fresh catalog. */
  def catalogVersion(root: String): Int = CasLog.maxRecord(logDir(root))

  /** The member core of `table`, read off its on-disk layout; None for
    * a member that does not exist yet. Declared by the [[Put]] that
    * CREATES the member; detected from the layout ever after (the
    * layout is the declaration — no side register to drift out of
    * sync). */
  def coreOf(root: String, table: String): Option[Core] = {
    val dir = new java.io.File(root, table)
    if (new java.io.File(dir, "_commits").isDirectory) Some(TxLog)
    else if (new java.io.File(dir, "_current").isFile) Some(Versions)
    else None
  }

  /** [[coreOf]] for an existing member ([[Versions]] when absent, whose
    * reads then fail loudly on the missing table). */
  private def memberCore(root: String, table: String): Core =
    coreOf(root, table).getOrElse(Versions)

  private def recordLine(root: String, n: Int): String = {
    val f = recordFile(root, n)
    require(f.isFile, s"catalog version $n under $root was never committed")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
  }

  /** The snapshot a specific catalog version recorded: table →
    * member-table version. `#`-prefixed tokens are record metadata
    * (the commit stamp), not snapshot entries — `#` cannot appear in a
    * validated table name. */
  def snapshotAt(root: String, n: Int): Map[String, Int] =
    recordLine(root, n)
      .split("\\s+").filter(t => t.nonEmpty && !t.startsWith("#"))
      .map { tok =>
        val Array(t, v) = tok.split("=")
        t -> v.toInt
      }.toMap

  /** The commit timestamp recorded IN the record line (`#ts=` token),
    * or None for a record an older writer wrote. Age-based retention
    * reads this, never the inode mtime. */
  private def recordTs(root: String, n: Int): Option[Long] =
    recordLine(root, n).split("\\s+")
      .find(_.startsWith("#ts=")).map(_.stripPrefix("#ts=").toLong)

  /** The writer-transaction HIGH-WATER MARKS a record carries, BY
    * WRITER APP: the anonymous `#txn=` token is app `""` (the original
    * single-writer mark), `#txn.<app>=` tokens are named writers. Every
    * commit carries ALL marks forward, so N independent streaming
    * writers into one catalog each keep their own idempotence ledger —
    * the Delta `txn` action's appId, lifted to multi-table commits. */
  private def txnMarks(root: String, n: Int): Map[String, Long] =
    if (n < 0) Map.empty
    else recordLine(root, n).split("\\s+").flatMap { t =>
      if (t.startsWith("#txn=")) Some("" -> t.stripPrefix("#txn=").toLong)
      else if (t.startsWith("#txn.")) {
        val body = t.stripPrefix("#txn.")
        val i = body.indexOf('=')
        if (i > 0) Some(body.take(i) -> body.drop(i + 1).toLong) else None
      } else None
    }.toMap

  /** The writer-transaction HIGH-WATER MARK across the whole catalog
    * (the [[Versions.lastTxn]] idempotence handle lifted to multi-table
    * transactions), PER WRITER APP (`""` = the anonymous default): -1
    * if none. Because it rides the catalog record's own put-if-absent
    * link, "txn recorded" and "snapshot visible" are ONE atomic step —
    * a streaming writer that updates SEVERAL members per micro-batch
    * gets exactly-once across all of them with `batchId <=
    * lastTxn(root, app)` as the complete skip test (a CAS-losing
    * transaction never wrote a record, so its batchId is never falsely
    * marked), and TWO streams with distinct apps never skip off each
    * other's ledger. Carried forward by txn-less commits and by other
    * apps' commits, exactly like the manifest mark. */
  def lastTxn(root: String, app: String = ""): Long =
    txnMarks(root, catalogVersion(root)).getOrElse(app, -1L)

  /** [[lastTxn]] at an EXPLICIT catalog version — the lineage probe: a
    * writer's marks across records 0..current must be monotone, which
    * is exactly per-stream exactly-once made auditable. */
  def lastTxnAt(root: String, n: Int, app: String = ""): Long =
    txnMarks(root, n).getOrElse(app, -1L)

  /** Test/migration hook: overwrite record `n`'s commit stamp (the
    * supported aging channel for fixtures — retention ignores inode
    * mtimes by design). */
  private[graft] def restamp(root: String, n: Int, ts: Long): Unit = {
    val kept = recordLine(root, n).split("\\s+")
      .filter(t => t.nonEmpty && !t.startsWith("#ts="))
    java.nio.file.Files.write(recordFile(root, n).toPath,
      (kept :+ s"#ts=$ts").mkString(" ").concat("\n").getBytes("UTF-8"))
    ()
  }

  /** The current cataloged snapshot: table → version. Empty map for a
    * fresh catalog. */
  def snapshot(root: String): Map[String, Int] = {
    val n = catalogVersion(root)
    if (n < 0) Map.empty else snapshotAt(root, n)
  }

  /** Phase 1 for one member: commit through the member's own core
    * discipline and return the new member version. */
  private def phase1(root: String, t: String, up: MemberUpdate,
                     catalogedV: Option[Int]): Int = {
    val memberRoot = s"$root/$t"
    val core = coreOf(root, t).getOrElse(up match {
      case Put(_, declared) => declared
      case _ => throw new IllegalArgumentException(
        s"member $t does not exist under $root — a catalog transaction " +
          "must Put full contents before overlay updates")
    })
    up match {
      case Put(df, _) => core.commitPut(df, memberRoot)
      case Compact(sp) =>
        // the CATALOGED contents (never the physical head — garbage
        // must not be folded in), committed as a chain-capping full
        // version through the Put discipline
        val v = catalogedV.getOrElse(throw new IllegalArgumentException(
          s"member $t does not exist under $root — nothing to compact"))
        core.commitPut(core.read(sp, memberRoot, v), memberRoot)
      case DeleteKeys(keys, kc) =>
        core.commitDeleteAt(keys, memberRoot, kc, catalogedV.getOrElse(-1))
      case UpsertRows(rows, kc, evolve) =>
        core.commitUpsertAt(rows, memberRoot, kc, catalogedV.getOrElse(-1),
          evolve)
    }
  }

  /** Commit updates to SEVERAL member tables as one atomic unit AT
    * catalog version `expected + 1`: all become visible together, or
    * none do. Fails with [[CommitConflict]] if another transaction got
    * there first — at the catalog precheck, at a TxLog member's own
    * CAS, or at the catalog's put-if-absent link for a true
    * photo-finish race. On ANY failure after phase 1 started, the
    * member versions THIS call already committed are rolled back
    * (reverse order, best-effort — a rollback failure is attached as a
    * suppressed exception and the leftovers are crash-equivalent
    * garbage with a loud [[repairMember]] path), so member logs stay
    * 1:1 with cataloged history. Returns the new snapshot. */
  def commitUpdates(root: String, updates: Map[String, MemberUpdate],
                    expected: Int, txn: Long = -1L,
                    txnApp: String = ""): Map[String, Int] = {
    require(updates.nonEmpty, "empty multi-table commit")
    require(txnApp.isEmpty || txnApp.matches("[A-Za-z0-9_.-]+"),
      s"txn app id '$txnApp' would corrupt the catalog record")
    updates.keys.foreach(t => require(
      t.matches("[A-Za-z0-9_.-]+") && t != "." && t != "..",
      s"table name '$t' would corrupt the catalog record or escape " +
        "the catalog root"))
    val n = expected + 1
    if (catalogVersion(root) != expected)
      throw new CommitConflict(n,
        s"expected catalog version $expected but $root is at " +
          s"${catalogVersion(root)}")
    val prev = if (expected < 0) Map.empty[String, Int]
               else snapshotAt(root, expected)
    // phase 1: commit every member — new versions exist but are
    // UNREFERENCED until the catalog record lands; every version this
    // call makes is tracked for rollback
    val made = scala.collection.mutable.ListBuffer[(String, Core, Int, Boolean)]()
    def rollback(cause: Throwable): Unit = made.reverse.foreach {
      case (t, core, v, fresh) =>
        val memberRoot = s"$root/$t"
        try {
          // ALWAYS unwind only the one version THIS call made — never
          // rmTree off the pre-commit `fresh` flag: two transactions
          // racing to CREATE the same TxLog-core member both observe
          // fresh=true, the loser's blind-CAS Put lands on top of the
          // winner's record 0, and a flag-keyed rmTree would delete the
          // winner's committed, catalog-named version with it (TOCTOU).
          core.rollback(memberRoot, v)
          // the member DIRECTORY dies only when, AFTER the version
          // rollback, nothing committed remains in it AND no catalog
          // record names it — both re-checked now, not at phase-1 entry
          if (fresh && core.current(memberRoot) < 0 &&
              !snapshot(root).contains(t))
            rmTree(new java.io.File(memberRoot))
        } catch {
          // surfacing the ORIGINAL failure matters more; un-rolled
          // versions are crash-equivalent garbage (repairMember path)
          case scala.util.control.NonFatal(e) => cause.addSuppressed(e)
        }
    }
    val next = prev ++ updates.toSeq.sortBy(_._1).map { case (t, up) =>
      val fresh = coreOf(root, t).isEmpty
      try {
        val v = phase1(root, t, up, prev.get(t))
        made += ((t, coreOf(root, t).getOrElse(
          throw new IllegalStateException(
            s"member $t has no detectable core after its own commit")),
          v, fresh))
        t -> v
      } catch { case e: Throwable => rollback(e); throw e }
    }
    // phase 2: ONE put-if-absent record for the whole snapshot
    // ([[CasLog]] — link(2) fails atomically with EEXIST if the record
    // exists; rename would silently REPLACE, losing the winner's
    // snapshot). The commit stamp AND the per-app txn high-waters (this
    // app maxed with its previous mark; EVERY app's mark carried
    // forward — a txn-less or other-app commit can never regress a
    // stream's ledger) ride the record content, so all of it is atomic
    // with visibility.
    val prevMarks = txnMarks(root, expected)
    val marks =
      if (txn < 0) prevMarks
      else prevMarks + (txnApp ->
        math.max(txn, prevMarks.getOrElse(txnApp, -1L)))
    val line = next.toSeq.sortBy(_._1)
      .map { case (t, v) => s"$t=$v" }
      .mkString(" ") + s" #ts=${System.currentTimeMillis()}" +
      marks.toSeq.sortBy(_._1).map {
        case ("", v) => s" #txn=$v"
        case (a, v) => s" #txn.$a=$v"
      }.mkString + "\n"
    if (CasLog.putIfAbsent(logDir(root), n, line)) next
    else {
      val c = new CommitConflict(n,
        s"catalog version $n under $root was committed by another " +
          "transaction")
      rollback(c)
      throw c
    }
  }

  /** Commit new FULL contents for several tables — the [[Put]]-only
    * convenience shape of [[commitUpdates]]. */
  def commitAll(root: String, updates: Map[String, DataFrame],
                expected: Int): Map[String, Int] =
    commitUpdates(root,
      updates.map { case (t, df) => t -> (Put(df): MemberUpdate) }, expected)

  /** [[commitAll]] against the snapshot read at entry — still CAS'd,
    * so a race conflicts loudly rather than losing a snapshot. */
  def commitAll(root: String, updates: Map[String, DataFrame]): Map[String, Int] =
    commitAll(root, updates, catalogVersion(root))

  /** [[commitUpdates]] against the snapshot read at entry. */
  def commitUpdates(root: String,
                    updates: Map[String, MemberUpdate]): Map[String, Int] =
    commitUpdates(root, updates, catalogVersion(root))

  /** The optimistic multi-table transaction loop over typed member
    * updates: read the current snapshot, build the updates FROM it
    * (read member tables with [[read]]`(…, asOf = snap)` so the
    * transaction is internally consistent), try to commit; on
    * [[CommitConflict]] — from the catalog CAS or from a TxLog
    * member's own CAS — re-read the winner's snapshot and re-apply,
    * with a small linear backoff to break conflict phase-lock.
    * Returns the committed snapshot. */
  def transactUpdates(root: String, maxRetries: Int = 20)
                     (make: Map[String, Int] => Map[String, MemberUpdate]): Map[String, Int] = {
    var attempt = 0
    while (true) {
      val expected = catalogVersion(root)
      val snap = if (expected < 0) Map.empty[String, Int]
                 else snapshotAt(root, expected)
      try return commitUpdates(root, make(snap), expected)
      catch {
        case c: CommitConflict =>
          attempt += 1
          if (attempt > maxRetries) throw c
          Thread.sleep(math.min(attempt, 10) * 5L)
      }
    }
    Map.empty // unreachable
  }

  /** The [[Put]]-only transaction loop (the original API shape). */
  def transact(root: String, maxRetries: Int = 20)
              (make: Map[String, Int] => Map[String, DataFrame]): Map[String, Int] =
    transactUpdates(root, maxRetries)(snap =>
      make(snap).map { case (t, df) => t -> (Put(df): MemberUpdate) })

  /** Repair a member whose physical head ran past its cataloged
    * version — a CRASHED transaction's un-rolled-back garbage (or an
    * out-of-band writer) — by committing the CATALOGED contents as a
    * fresh FULL version through a normal catalog transaction: the full
    * version caps the garbage (overlay chains can never reach through
    * it), contiguity is restored at the new head, and the snapshot's
    * CONTENT is unchanged. The garbage versions stay unreferenced and
    * age out under later retention floors. */
  def repairMember(spark: SparkSession, root: String,
                   table: String): Map[String, Int] =
    transactUpdates(root) { snap =>
      Map(table -> Put(read(spark, root, table, snap)))
    }

  /** CHANGE DATA FEED of one member BETWEEN CATALOG SNAPSHOTS — the
    * [[ChangeFeed]] row-level deltas, windowed by catalog version
    * instead of member version: the member's cataloged versions at
    * `fromCatalogV` (exclusive; -1 = before the member existed) and
    * `toCatalogV` (inclusive; -1 = current) bound the member-chain walk.
    * Because member commits stay 1:1 with catalog records (phase-1
    * rollback), every member version in the window was catalog-named,
    * so a consumer tailing record-by-record sees exactly the rows each
    * TRANSACTION changed — and a [[Compact]] maintenance record
    * contributes ZERO rows (content-preserving full version), so
    * subscribers never reprocess a compaction. A record that did not
    * touch the member yields an empty window (fromV == toV) and returns
    * an empty frame. At 100 TB: the poll cost is O(|that record's
    * delta|) for overlay commits — the catalog twin of tailing a Delta
    * table's change feed. */
  def memberChanges(spark: SparkSession, root: String, table: String,
                    fromCatalogV: Int = -1,
                    toCatalogV: Int = -1): DataFrame = {
    val to = if (toCatalogV >= 0) toCatalogV else catalogVersion(root)
    require(to >= 0, s"no catalog record under $root")
    val vTo = snapshotAt(root, to).getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not in catalog record $to under $root"))
    val vFrom =
      if (fromCatalogV < 0) -1
      else snapshotAt(root, fromCatalogV).getOrElse(table, -1)
    if (vFrom == vTo) {
      // record(s) that never touched this member: empty frame in the
      // feed's schema (payload at vTo + the two meta columns)
      val schema = memberSchemaAt(spark, root, table, to)
        .add(ChangeFeed.ChangeType, "string")
        .add(ChangeFeed.CommitVersion, "integer")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else ChangeFeed.changesBetween(spark, s"$root/$table", vFrom, vTo,
      memberCore(root, table))
  }

  /** The schema of member `table` as catalog record `catalogV` names it
    * — from chain METADATA ([[Mor.chainSchema]] over the member's own
    * version directories), never a resolve-plan analysis, so a caller
    * can check every record of a history cheaply. */
  def memberSchemaAt(spark: SparkSession, root: String, table: String,
                     catalogV: Int): StructType = {
    val v = snapshotAt(root, catalogV).getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not in catalog record $catalogV under $root"))
    val memberRoot = s"$root/$table"
    Mor.chainSchema(spark, memberCore(root, table).versionDir(memberRoot, _),
      v, table)
  }

  /** Overlay-chain depth of a member AT ITS CATALOGED VERSION — how
    * many anti-join overlays a catalog [[read]] of the table resolves;
    * 0 for a full version (or a member not yet cataloged). */
  def memberChainDepth(root: String, table: String): Int =
    snapshot(root).get(table)
      .map(memberCore(root, table).chainDepth(s"$root/$table", _))
      .getOrElse(0)

  /** Maintenance entry (the catalog twin of [[Versions.compactIfDeeper]]):
    * when `table`'s cataloged chain is deeper than `threshold` overlays,
    * commit a [[Compact]] through a normal catalog transaction — the
    * compacted full version and the record naming it land atomically,
    * so contiguity holds throughout and every historical snapshot stays
    * readable. The depth is re-checked INSIDE the transaction loop
    * against the snapshot being rebased onto, so a racing compactor
    * makes this a no-op instead of stacking redundant full versions.
    * Returns the new catalog version, or -1 when the chain was shallow
    * enough. At 100 TB: O(|table|) once per `threshold` overlay
    * commits — the standard amortized merge-on-read rent, now payable
    * WITHOUT leaving the transaction protocol. */
  def compactMemberIfDeeper(spark: SparkSession, root: String,
                            table: String, threshold: Int): Int = {
    require(threshold >= 0, s"negative compaction threshold $threshold")
    def depthAt(snap: Map[String, Int]): Int =
      snap.get(table)
        .map(memberCore(root, table).chainDepth(s"$root/$table", _))
        .getOrElse(0)
    if (depthAt(snapshot(root)) <= threshold) return -1
    transactUpdates(root) { snap =>
      // re-check on every rebase: a racing compactor already paid
      if (depthAt(snap) <= threshold) return -1
      Map(table -> Compact(spark))
    }
    catalogVersion(root)
  }

  /** Read a member table AT THE CATALOGED VERSION — the only read path
    * that sees mutually-consistent tables — through the member's own
    * core. Pass an explicit `asOf` snapshot (from
    * [[snapshot]]/[[snapshotAt]]) to pin a multi-query pipeline to one
    * consistent cut across ALL tables, the cross-table form of
    * [[Versions.snapshot]]. */
  def read(spark: SparkSession, root: String, table: String,
           asOf: Map[String, Int] = null): DataFrame = {
    val snap = Option(asOf).getOrElse(snapshot(root))
    val v = snap.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not in the catalog snapshot under $root"))
    memberCore(root, table).read(spark, s"$root/$table", v)
  }

  /** Retention derived FROM the snapshot: collapse the cross-table
    * history to the CURRENT snapshot. Superseded catalog records are
    * pruned FIRST, then every member table is vacuumed below its
    * cataloged version THROUGH ITS OWN CORE — so "the record exists"
    * stays equivalent to "its snapshot is readable" (vacuuming data
    * under a record that remained listable would strand as-of readers
    * at the `_SUCCESS` gate with a snapshot map that still resolves).
    * Reads of a pruned snapshot fail loudly in [[snapshotAt]].
    * Unreferenced newer versions (a crashed transaction's un-rolled
    * garbage) age out through each table's own orphan rule or a
    * [[repairMember]]+vacuum cycle; the current snapshot's versions
    * can never be reclaimed here by construction. For age-windowed
    * retention that KEEPS readable history, use [[vacuumAged]].
    * Returns member directories reclaimed. */
  def vacuumTo(root: String): Int = {
    val cur = catalogVersion(root)
    if (cur < 0) return 0
    listed(root).filter(_ < cur).foreach(n => recordFile(root, n).delete())
    snapshotAt(root, cur).toSeq.sortBy(_._1).map { case (t, v) =>
      memberCore(root, t).vacuum(s"$root/$t", keepFrom = v)
    }.sum
  }

  /** AGE-BASED retention across the whole catalog: first prune catalog
    * RECORDS whose commit stamp (carried in the record line — never
    * the inode mtime, which an object-store copy/restore resets) is
    * older than `maxAgeMs` (never the newest — the current snapshot
    * always stays addressable), then reclaim member-table versions
    * older than the window EXCEPT any version a RETAINED record still
    * names (each core's `vacuumAged` `keep` set) — so cataloged
    * history, however old, stays readable by construction, and an
    * as-of pipeline pinned to a retained snapshot can never lose a
    * table out from under it. Returns member directories reclaimed. */
  def vacuumAged(root: String, maxAgeMs: Long): Int = {
    val cur = catalogVersion(root)
    if (cur < 0) return 0
    val now = System.currentTimeMillis()
    def ageMs(n: Int): Long = now - recordTs(root, n).getOrElse(
      recordFile(root, n).lastModified()) // pre-stamp records only
    listed(root).filter(n => n < cur && ageMs(n) >= maxAgeMs)
      .foreach(n => recordFile(root, n).delete())
    val retained = listed(root).map(snapshotAt(root, _))
    retained.flatMap(_.keys).distinct.sorted.map { t =>
      val keep = retained.flatMap(_.get(t)).toSet
      memberCore(root, t).vacuumAged(s"$root/$t", maxAgeMs, keep)
    }.sum
  }
}

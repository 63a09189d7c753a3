package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming micro-batch commits into a [[graft.lake.Versions]] table —
 * the streaming→lakehouse ingestion rung that joins the two stories:
 * q325's incremental view maintenance DRIVEN BY A STREAM, one versioned
 * commit per micro-batch, with idempotent redelivery.
 *
 * Shape per micro-batch (the standard `foreachBatch` exactly-once sink
 * recipe): aggregate the BATCH alone (O(|batch|)), full-outer merge
 * with the current view read back from storage (O(|view|)), and commit
 * the refreshed view as the next version WITH the batchId riding the
 * commit's own atomic pointer flip ([[graft.lake.Versions.commit]]'s
 * `txn` — Delta's `txn` action, public docs). "Batch applied" and
 * "version visible" are therefore ONE atomic step: a writer that dies
 * mid-commit leaves the pointer (and the recorded txn) on the OLD
 * version, so the replayed batch re-merges from exactly the state it
 * saw before — never a double count. Since streaming batchIds are
 * monotone, `batchId <= lastTxn` is the complete skip test. At 100 TB
 * the per-batch cost is O(|batch| + |view|): the base is never
 * rescanned, and the commit itself is a pointer flip.
 */
object StreamingLake {

  private def aggOf(batch: DataFrame): DataFrame =
    batch.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))

  private def mergeInto(base: Option[DataFrame], agg: DataFrame): DataFrame =
    base match {
      case None => agg
      case Some(curDf) =>
        val cur = curDf.select(col("event_type").as("c_et"),
          col("n").as("c_n"), col("id_sum").as("c_sum"))
        cur.join(agg, col("c_et") === col("event_type"), "full_outer")
          .select(coalesce(col("c_et"), col("event_type")).as("event_type"),
            (coalesce(col("c_n"), lit(0L)) + coalesce(col("n"), lit(0L)))
              .as("n"),
            (coalesce(col("c_sum"), lit(0L)) + coalesce(col("id_sum"), lit(0L)))
              .as("id_sum"))
    }

  /** One micro-batch into the versioned view: skip if already applied
    * (batchId ≤ the txn recorded by the LAST commit — batchIds are
    * monotone), else delta-aggregate + merge with the stored view +
    * commit with the batchId as the commit's txn. Exposed for the
    * redelivery test — calling it twice with the same batchId must
    * commit exactly once, and because the txn rides the pointer flip
    * there is no crash window where the view is committed but the
    * batch not marked. */
  private[graft] def applyBatch(root: String, batch: DataFrame,
                                batchId: Long): Unit = {
    import graft.lake.Versions
    if (batchId <= Versions.lastTxn(root)) return // redelivered epoch
    val spark = batch.sparkSession
    val agg = aggOf(batch)
    val merged = mergeInto(
      if (Versions.current(root) < 0) None
      else Some(Versions.read(spark, root)), agg)
    Versions.commit(merged, root, txn = batchId)
    ()
  }

  /** One micro-batch into a MULTI-WRITER [[graft.lake.TxLog]] table —
    * the q327 recipe upgraded from the single-writer manifest flip to
    * the CAS commit log, so a MAINTENANCE writer (compaction, manual
    * fix-up) may race the stream and nobody loses: the skip test
    * (`batchId <= lastTxn`, re-checked inside the loop in case another
    * worker applied this very epoch) keeps redelivery idempotent, and
    * a [[graft.lake.CommitConflict]] means some other commit won the
    * version — rebase on the winner's state and retry, at most
    * `maxRetries` times before the conflict SURFACES (mirroring
    * [[graft.lake.TxLog.readModifyWrite]]'s bound): under a
    * pathological conflict storm the stream must fail loudly inside
    * foreachBatch, never wedge silently in an unbounded loop. A short
    * linear backoff breaks phase-lock with a similarly-paced
    * maintenance writer (two ~equal-cost loops can otherwise lose the
    * same race dozens of times in a row). The batch aggregate is
    * checkpointed once so retries never rescan the batch. Returns true
    * if THIS call committed the batch. */
  private[graft] def applyBatchCas(root: String, batch: DataFrame,
                                   batchId: Long,
                                   maxRetries: Int = 100): Boolean = {
    import graft.lake.TxLog
    if (batchId <= TxLog.lastTxn(root)) return false // redelivered epoch
    val spark = batch.sparkSession
    // checkpointed so retries never rescan the batch; explicitly
    // unpersisted on exit — one leaked block per micro-batch is exactly
    // the slow-creep class the round-10 listener-bus fix taught us to
    // never leave to the GC on a long-running stream
    val agg = aggOf(batch).localCheckpoint()
    try rebasing(maxRetries, batchId <= TxLog.lastTxn(root)) {
      val v = TxLog.current(root)
      (v, if (v < 0) None else Some(TxLog.read(spark, root, v)))
    } { case (v, base) =>
      TxLog.commit(mergeInto(base, agg), root, expected = v, txn = batchId)
    } finally { agg.unpersist(); () }
  }

  /** The bounded rebase loop both CAS appliers share: unless `applied`
    * (the skip test, re-checked every round in case another worker
    * applied this very epoch), `read` the current state, pass the
    * [[casInterleave]] point and `commit` against it. A
    * [[graft.lake.CommitConflict]] means another commit won the
    * version: back off linearly and rebase, at most `maxRetries` times
    * before the conflict surfaces. Returns true if THIS call committed. */
  private def rebasing[S](maxRetries: Int, applied: => Boolean)(read: => S)(
                          commit: S => Unit): Boolean = {
    var attempt = 0
    while (!applied) {
      val state = read
      casInterleave()
      try {
        commit(state)
        return true
      } catch {
        case c: graft.lake.CommitConflict =>
          attempt += 1
          if (attempt > maxRetries) throw c
          Thread.sleep(math.min(10L * attempt, 200L)) // break phase-lock
      }
    }
    false
  }

  /** Test-only interleave point between the stream's state read and
    * its commit attempt, so a spec can deterministically force the CAS
    * to lose every round (the hook mirrors TxLog.commitImpl's precheck
    * flag). A no-op in production. */
  private[graft] var casInterleave: () => Unit = () => ()

  // ------------------- one micro-batch, TWO derived tables, ONE commit

  private def aggWithMax(batch: DataFrame): DataFrame =
    batch.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
        max("event_id").as("id_max"))

  private def mergeWithMax(base: Option[DataFrame], agg: DataFrame): DataFrame =
    base match {
      case None => agg
      case Some(curDf) =>
        val cur = curDf.select(col("event_type").as("c_et"),
          col("n").as("c_n"), col("id_sum").as("c_sum"),
          col("id_max").as("c_max"))
        cur.join(agg, col("c_et") === col("event_type"), "full_outer")
          .select(coalesce(col("c_et"), col("event_type")).as("event_type"),
            (coalesce(col("c_n"), lit(0L)) + coalesce(col("n"), lit(0L)))
              .as("n"),
            (coalesce(col("c_sum"), lit(0L)) + coalesce(col("id_sum"), lit(0L)))
              .as("id_sum"),
            when(col("c_max").isNull, col("id_max"))
              .when(col("id_max").isNull, col("c_max"))
              .otherwise(greatest(col("c_max"), col("id_max"))).as("id_max"))
    }

  /** One micro-batch updating TWO derived tables ATOMICALLY through a
    * single [[graft.lake.Catalog]] transaction — the exactly-once PAIR
    * the unified stack makes possible: the per-type VIEW (count / sum /
    * max, a [[graft.lake.Catalog.Put]] of the merged aggregate on the
    * Versions core) and a last-event INDEX (per-type max event id,
    * merge-on-read [[graft.lake.Catalog.UpsertRows]] on the TxLog core,
    * O(|batch keys|) per batch — created by the first batch's Put).
    * Either BOTH absorb the batch or NEITHER does: the batchId rides
    * the catalog record's own put-if-absent link
    * ([[graft.lake.Catalog.lastTxn]]), so `batchId <= lastTxn` is the
    * complete skip test across both tables — no crash window where the
    * view counted a batch the index missed, which a per-table txn mark
    * cannot rule out. Conflicts (a maintenance writer, another worker)
    * rebase boundedly with backoff, exactly like [[applyBatchCas]];
    * the batch aggregate is checkpointed so retries never rescan it.
    * Index chains grow one overlay per batch; `compactAt > 0` bounds
    * the read plan by folding the index's chain through a
    * [[graft.lake.Catalog.Compact]] transaction whenever a batch pushes
    * it past the threshold — maintenance INSIDE the protocol, so the
    * compacted version is catalog-named the instant it exists and
    * every historical snapshot stays readable.
    *
    * `app` scopes the idempotence ledger ([[graft.lake.Catalog.lastTxn]]'s
    * per-app marks): TWO streams into one catalog each replay-skip off
    * their OWN batchId lineage, never each other's — without it, stream
    * B silently drops batches whenever stream A's ids run ahead.
    * Returns true if THIS call committed the batch. */
  private[graft] def applyBatchCatalog(root: String, batch: DataFrame,
                                       batchId: Long,
                                       maxRetries: Int = 100,
                                       app: String = "",
                                       compactAt: Int = 0,
                                       viewCore: graft.lake.Core =
                                         graft.lake.Versions): Boolean = {
    import graft.lake.{Catalog, TxLog}
    import graft.lake.Catalog.{MemberUpdate, Put, UpsertRows}
    if (batchId <= Catalog.lastTxn(root, app)) return false // redelivered
    val spark = batch.sparkSession
    val agg = aggWithMax(batch).localCheckpoint()
    try rebasing(maxRetries, batchId <= Catalog.lastTxn(root, app)) {
      val expected = Catalog.catalogVersion(root)
      val snap = if (expected < 0) Map.empty[String, Int]
                 else Catalog.snapshotAt(root, expected)
      val merged = mergeWithMax(
        if (snap.contains("view"))
          Some(Catalog.read(spark, root, "view", snap)) else None, agg)
      // the index row for a touched type is the CUMULATIVE max (from
      // the merged view, so view and index can never disagree), but
      // only the types this batch touched upsert — O(|batch keys|)
      val idxRows = merged
        .join(agg.select("event_type"), Seq("event_type"), "left_semi")
        .select(col("event_type"), col("id_max").as("last_id"))
      // the view member's core is the caller's call: single-writer
      // loops keep the Versions manifest (q353); CONCURRENT writers
      // must declare TxLog — racing Puts on a Versions member
      // would race its manifest outside any CAS (the documented
      // disjointness contract)
      val updates = Map[String, MemberUpdate](
        "view" -> Put(merged, viewCore),
        "index" -> (if (snap.contains("index"))
          UpsertRows(idxRows, "event_type")
        else Put(idxRows, TxLog)))
      (expected, updates)
    } { case (expected, updates) =>
      Catalog.commitUpdates(root, updates, expected, txn = batchId,
        txnApp = app)
      // bound the index's read plan: fold its overlay chain through
      // a Compact transaction once this batch pushed it past the
      // threshold (re-checked inside — a racing compactor already
      // paid makes this a no-op)
      if (compactAt > 0) {
        Catalog.compactMemberIfDeeper(spark, root, "index", compactAt)
        ()
      }
    } finally { agg.unpersist(); () }
  }

  /** The staged input of every streamed view: (event_type, event_id)
    * of the typed events. */
  private def typedEvents(spark: SparkSession, dir: String): DataFrame =
    graft.io.Sources.table(spark, dir, "events")
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"))

  /** Drive the events table through [[applyBatchCatalog]] in `nFiles`
    * controlled micro-batches ([[Replay.staged]]: one staged file per
    * trigger). Returns micro-batches processed; the caller reads view
    * and index back through [[graft.lake.Catalog.read]]. `compactAt`
    * bounds the index member's chain depth (0 = never compact, the
    * q353 shape). */
  def runViewIndexCatalog(spark: SparkSession, dir: String, root: String,
                          nFiles: Int = 4, compactAt: Int = 0): Long =
    Replay.staged(spark, nFiles)(Replay.Staged("graft_streamcat",
      typedEvents(spark, dir),
      applyBatchCatalog(root, _, _, compactAt = compactAt))).head

  /** TWO CONCURRENT STREAMING WRITERS into ONE catalog — two real
    * structured-streaming queries (separate sources, checkpoints, and
    * micro-batch schedulers, not threads faking it), each updating the
    * SAME two members ("view" + "index") through [[applyBatchCatalog]]
    * under its own app id. The catalog CAS serializes their commits
    * (losers rebase with backoff); the PER-APP txn marks keep each
    * stream's replay-skip ledger independent, so neither stream can
    * drop a batch because the other's ids ran ahead. `split` routes
    * each event row to exactly one stream (here: event_id parity).
    * Returns (stream-A batches, stream-B batches). */
  def runTwoStreamCatalog(spark: SparkSession, dir: String, root: String,
                          nFiles: Int = 4,
                          compactAt: Int = 0): (Long, Long) = {
    val ev = typedEvents(spark, dir)
    def stream(app: String, slice: DataFrame) =
      Replay.Staged(s"graft_stream2_$app", slice,
        applyBatchCatalog(root, _, _, app = app, compactAt = compactAt,
          viewCore = graft.lake.TxLog))
    val Seq(a, b) = Replay.staged(spark, nFiles)(
      stream("even", ev.filter(col("event_id") % 2 === 0)),
      stream("odd", ev.filter(col("event_id") % 2 =!= 0)))
    (a, b)
  }

  /** Drive the events table through the stream in `nFiles` controlled
    * micro-batches ([[Replay.staged]]: one staged file per trigger),
    * committing one view version per batch into `root`. Returns the
    * number of micro-batches processed; the caller reads the final
    * view back through [[graft.lake.Versions]].
    */
  def runViewCommits(spark: SparkSession, dir: String, root: String,
                     nFiles: Int = 4): Long =
    Replay.staged(spark, nFiles)(Replay.Staged("graft_streamlake",
      typedEvents(spark, dir), applyBatch(root, _, _))).head

  /** [[runViewCommits]] against a [[graft.lake.TxLog]] table via
    * [[applyBatchCas]] — safe to run WHILE other writers commit to the
    * same root. Returns micro-batches processed. */
  def runViewCommitsCas(spark: SparkSession, dir: String, root: String,
                        nFiles: Int = 4): Long =
    Replay.staged(spark, nFiles)(Replay.Staged("graft_streamcas",
      typedEvents(spark, dir), applyBatchCas(root, _, _))).head
}

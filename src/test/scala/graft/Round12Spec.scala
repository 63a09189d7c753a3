package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins: the catalog-level link(2) CAS (no lost snapshot
  * under interleaved multi-table transactions), and the other
  * round-12 protocol upgrades.
  */
class Round12Spec extends AnyFunSuite with SparkSpec {

  import graft.lake.{Catalog, CommitConflict, Versions}

  test("racing multi-table transactions serialize on the catalog CAS: no snapshot lost") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_catalog_race")
    try {
      val threads = 3
      val opsEach = 3
      // each thread owns a disjoint member table (same-table phase-1
      // concurrency is governed by the member core's own contract);
      // the CATALOG record is what all of them race on
      (0 until threads).foreach { i =>
        Catalog.commitAll(root, Map(s"t$i" -> Seq(0L).toDF("n")))
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = (0 until threads).map { i =>
        new Thread(() => {
          try (1 to opsEach).foreach { _ =>
            Catalog.transact(root, maxRetries = 200) { snap =>
              Map(s"t$i" -> Catalog.read(spark, root, s"t$i", snap)
                .select((col("n") + 1L).as("n")))
            }
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join())
      assert(errs.isEmpty, s"transaction thread failed: ${errs.peek()}")
      // one catalog record per committed transaction, none lost
      assert(Catalog.catalogVersion(root) == threads + threads * opsEach - 1)
      val fin = Catalog.snapshot(root)
      (0 until threads).foreach { i =>
        // the rename-REPLACE flip loses here: a losing writer's stale
        // snapshot map would drop another thread's latest version, so
        // some table would read back fewer than opsEach increments
        assert(Catalog.read(spark, root, s"t$i").as[Long].head() ==
          opsEach.toLong, s"t$i lost an update")
        assert(fin.contains(s"t$i"), s"t$i missing from the final snapshot")
      }
      // every intermediate catalog version is a readable, internally
      // consistent snapshot (the cross-table history survives)
      (0 to Catalog.catalogVersion(root)).foreach { v =>
        Catalog.snapshotAt(root, v).foreach { case (t, tv) =>
          assert(Versions.read(spark, s"$root/$t", tv).count() == 1)
        }
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("catalog conflict is loud: a stale-expected commitAll throws, winner's snapshot intact") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_catalog_conflict")
    try {
      Catalog.commitAll(root, Map("t" -> Seq(1L).toDF("n")))
      val cv = Catalog.catalogVersion(root)
      Catalog.commitAll(root, Map("t" -> Seq(2L).toDF("n")), cv)
      val winner = Catalog.snapshot(root)
      intercept[CommitConflict](
        Catalog.commitAll(root, Map("u" -> Seq(9L).toDF("n")), cv))
      assert(Catalog.snapshot(root) == winner, "loser replaced the snapshot")
      assert(Catalog.read(spark, root, "t").as[Long].head() == 2L)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("txlog checkpoint is a versioned CAS: concurrent folds cannot regress, superseded folds reclaimed") {
    import spark.implicits._
    import graft.lake.TxLog
    val root = graft.io.Sources.scratchDir("graft_ckpt_cas")
    try {
      (0 to 4).foreach(i =>
        TxLog.commit(Seq(i.toLong).toDF("n"), root, expected = i - 1,
          txn = 100L + i))
      assert(TxLog.checkpoint(root) == 4)
      // same-version re-checkpoint rides the EEXIST path: success, and
      // exactly one fold file on disk
      assert(TxLog.checkpoint(root) == 4)
      def folds = Option(new java.io.File(root, "_commits").listFiles())
        .toSeq.flatten.map(_.getName).filter(_.startsWith("_checkpoint"))
      assert(folds == Seq("_checkpoint.0000000004"), s"folds: $folds")
      // a newer fold supersedes and reclaims the old one; the state
      // can only move forward (no single-file rename to lose a race on)
      TxLog.commit(Seq(5L).toDF("n"), root, expected = 4, txn = 200L)
      assert(TxLog.checkpoint(root) == 5)
      assert(folds == Seq("_checkpoint.0000000005"), s"folds: $folds")
      assert(TxLog.vacuum(root, keepFrom = 5) == 5)
      assert(TxLog.current(root) == 5 && TxLog.lastTxn(root) == 200L)
      // concurrent checkpointers against a live committer: never throws,
      // never regresses below the last fold each observed
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val committer = new Thread(() => {
        try (6 to 15).foreach(i =>
          TxLog.commit(Seq(i.toLong).toDF("n"), root, expected = i - 1))
        catch { case t: Throwable => errs.add(t); () }
      })
      val folders = (1 to 2).map(_ => new Thread(() => {
        try (1 to 8).foreach(_ => TxLog.checkpoint(root))
        catch { case t: Throwable => errs.add(t); () }
      }))
      committer.start(); folders.foreach(_.start())
      committer.join(); folders.foreach(_.join())
      assert(errs.isEmpty, s"checkpoint race failed: ${errs.peek()}")
      assert(TxLog.current(root) == 15 && TxLog.lastTxn(root) == 200L)
      assert(TxLog.read(spark, root).as[Long].head() == 15L)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("a permanently-conflicted stream batch fails loudly instead of wedging") {
    import spark.implicits._
    import graft.lake.{CommitConflict, TxLog}
    import graft.streaming.StreamingLake
    val root = graft.io.Sources.scratchDir("graft_cas_storm")
    try {
      val batch = Seq(("click", 1L), ("view", 2L)).toDF("event_type", "event_id")
      // a maintenance writer that wins EVERY race, via the interleave
      // hook between the stream's state read and its commit attempt
      // (schema-compatible with the view so the post-storm merge works)
      StreamingLake.casInterleave = () =>
        TxLog.commit(Seq(("maint", 0L, 0L)).toDF("event_type", "n", "id_sum"),
          root, expected = TxLog.current(root))
      try {
        val c = intercept[CommitConflict](
          StreamingLake.applyBatchCas(root, batch, batchId = 0L,
            maxRetries = 3))
        // either conflict variant (cheap precheck or lost link) is a
        // correctly-surfaced storm
        assert(c.getMessage.contains(root))
      } finally StreamingLake.casInterleave = () => ()
      // with the storm gone, the SAME batch applies cleanly
      assert(StreamingLake.applyBatchCas(root, batch, batchId = 0L))
      assert(TxLog.lastTxn(root) == 0L)
      assert(!StreamingLake.applyBatchCas(root, batch, batchId = 0L),
        "redelivered batch re-applied")
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("deletion vectors and upserts compose on the multi-writer log under thread contention") {
    import spark.implicits._
    import graft.lake.TxLog
    val root = graft.io.Sources.scratchDir("graft_txlog_mor_race")
    try {
      val base = (0L until 900L).map(k => (k, k * 10L)).toDF("k", "v")
      TxLog.commit(base, root, expected = -1)
      // three writers on DISJOINT key classes (so the serialization
      // order cannot change the final state), all racing the CAS
      def retryMor(op: Int => Int): Unit = {
        var done = false
        var attempts = 0
        while (!done) {
          try { op(TxLog.current(root)); done = true }
          catch { case _: graft.lake.CommitConflict =>
            attempts += 1
            assert(attempts < 200, "MoR writer starved") }
        }
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ths = Seq(
        new Thread(() => {
          try retryMor(e => TxLog.commitDelete(
            base.filter(col("k") % 9 === 0).select("k"), root, "k", e))
          catch { case t: Throwable => errs.add(t); () }
        }),
        new Thread(() => {
          try retryMor(e => TxLog.commitUpsert(
            base.filter(col("k") % 9 === 1)
              .select(col("k"), (col("v") + 5L).as("v")), root, "k", e))
          catch { case t: Throwable => errs.add(t); () }
        }),
        new Thread(() => {
          try retryMor(e => TxLog.commitUpsert(
            base.filter(col("k") % 9 === 2)
              .select(col("k"), (col("v") + 7L).as("v")), root, "k", e))
          catch { case t: Throwable => errs.add(t); () }
        }))
      ths.foreach(_.start()); ths.foreach(_.join())
      assert(errs.isEmpty, s"MoR writer failed: ${errs.peek()}")
      assert(TxLog.current(root) == 3, "a commit was lost or doubled")
      val want = (0L until 900L).filter(_ % 9 != 0).map { k =>
        (k, k * 10L + (if (k % 9 == 1) 5L else if (k % 9 == 2) 7L else 0L))
      }.toDF("k", "v")
      val got = TxLog.read(spark, root)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "final chain state diverged under contention")
      // the chain collapses and the compacted state is identical
      val v = TxLog.compact(spark, root)
      val full = TxLog.read(spark, root, v)
      assert(full.exceptAll(want).isEmpty && want.exceptAll(full).isEmpty)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("partialRetrain end-to-end still conserves rows and stays probeable") {
    import graft.sim.Ivf
    val dir = graft.io.Sources.scratchDir("graft_retraine2e")
    try {
      val emb = graft.io.Sources.table(spark, sf001, "embeddings")
        .filter(col("embedding").isNotNull)
      Ivf.persistIndex(emb, dir, nClusters = 8)
      val before = Ivf.liveAssigned(spark, dir).count()
      val (nHot, newIds) = Ivf.partialRetrain(spark, dir,
        cells = Seq(0, 1), kNew = 4)
      assert(nHot > 0 && newIds.size == 4)
      assert(Ivf.liveAssigned(spark, dir).count() == before,
        "retrain lost or duplicated rows")
      // no staging residue, and probes work against the new pair
      Seq("assigned_retraining", "centroids_new", "centroids_old",
        "assigned_old").foreach(n =>
        assert(!new java.io.File(s"$dir/$n").exists(), s"$n left behind"))
      assert(Ivf.probeIndex(emb.filter(col("vec_id") < 10), dir,
        k = 3, nProbe = 4).count() > 0)
    } finally graft.io.Sources.removeScratchDir(dir)
  }

  test("differential: a mixed DV/upsert/compact history reads identically on BOTH commit cores") {
    import spark.implicits._
    import graft.lake.{TxLog, Versions}
    // the unification's strongest pin: the SAME 12-step history of
    // upserts, deletion vectors, and compactions applied to a
    // Versions root, a TxLog root, and an in-memory model — after
    // every step all three agree exactly, including through the
    // overlay chains BEFORE any compaction collapses them
    val vRoot = graft.io.Sources.scratchDir("graft_diff_versions")
    val tRoot = graft.io.Sources.scratchDir("graft_diff_txlog")
    try {
      var model: Map[Long, Long] = (0L until 200L).map(k => k -> k).toMap
      Versions.commit(model.toSeq.toDF("k", "v"), vRoot)
      TxLog.commit(model.toSeq.toDF("k", "v"), tRoot, expected = -1)
      def check(step: Int): Unit = {
        val want = model.toSeq.toDF("k", "v")
        Seq(("Versions", Versions.read(spark, vRoot)),
            ("TxLog", TxLog.read(spark, tRoot))).foreach { case (core, got) =>
          assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
            s"$core diverged from the model after step $step")
        }
      }
      (1 to 12).foreach { i =>
        i % 4 match {
          case 1 => // upsert: replace some keys, insert some new ones
            val rows = (0L until 200L).filter(_ % (i + 2) == 0)
              .map(k => (k, k * 100L + i)) ++
              Seq((1000L + i, i.toLong)) // a brand-new key each time
            model = model ++ rows
            Versions.commitUpsert(rows.toDF("k", "v"), vRoot, "k")
            TxLog.commitUpsert(rows.toDF("k", "v"), tRoot, "k",
              expected = TxLog.current(tRoot))
            ()
          case 2 => // deletion vector (some keys may already be gone:
            // deleting an absent key must be a no-op on all three)
            val dead = (0L until 220L).filter(_ % (i + 3) == 1)
            model = model -- dead
            Versions.commitDelete(dead.toDF("k"), vRoot, "k")
            TxLog.commitDelete(dead.toDF("k"), tRoot, "k",
              expected = TxLog.current(tRoot))
            ()
          case 3 => // another upsert so chains stack DV-on-upsert
            val rows = (0L until 200L).filter(_ % (i + 1) == 2)
              .map(k => (k, k * 10L - i))
            model = model ++ rows
            Versions.commitUpsert(rows.toDF("k", "v"), vRoot, "k")
            TxLog.commitUpsert(rows.toDF("k", "v"), tRoot, "k",
              expected = TxLog.current(tRoot))
            ()
          case 0 => // collapse the chain; history must read the same after
            Versions.compactDeletes(spark, vRoot)
            TxLog.compact(spark, tRoot)
            ()
        }
        check(i)
      }
      // both cores hold the same version COUNT too: one commit per
      // step on top of the v0 seed
      assert(Versions.current(vRoot) == 12 && TxLog.current(tRoot) == 12)
    } finally {
      graft.io.Sources.removeScratchDir(vRoot)
      graft.io.Sources.removeScratchDir(tRoot)
    }
  }

  test("catalog rejects table names that would corrupt the record or escape the root") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_catalog_names")
    try {
      Seq("a=b", "a b", "a/b", "../up", "", ".", "..").foreach { bad =>
        intercept[IllegalArgumentException](
          Catalog.commitAll(root, Map(bad -> Seq(1L).toDF("n"))))
      }
      assert(Catalog.catalogVersion(root) == -1, "a rejected name committed")
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("vacuumTo prunes superseded records WITH their data: a listable record always reads") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_catalog_vacto")
    try {
      Catalog.commitAll(root, Map("t" -> Seq(1L).toDF("n")))
      Catalog.commitAll(root, Map("t" -> Seq(2L).toDF("n")))
      Catalog.commitAll(root, Map("t" -> Seq(3L).toDF("n")))
      assert(Catalog.vacuumTo(root) == 2) // t: v0, v1
      // superseded records are gone TOGETHER with their data — an
      // as-of reader can no longer resolve a snapshot whose data was
      // reclaimed out from under it
      intercept[IllegalArgumentException](Catalog.snapshotAt(root, 0))
      assert(Catalog.catalogVersion(root) == 2)
      assert(Catalog.read(spark, root, "t").as[Long].head() == 3L)
      // every record still listed has readable data
      Catalog.snapshotAt(root, 2).foreach { case (t, v) =>
        assert(graft.lake.Versions.read(spark, s"$root/$t", v).count() == 1)
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("sequenced index: mixed-mode maintenance fails at write time; retrain preserves seq") {
    import graft.sim.Ivf
    val dir = graft.io.Sources.scratchDir("graft_seq_guard")
    try {
      val emb = graft.io.Sources.table(spark, sf001, "embeddings")
        .filter(col("embedding").isNotNull)
        .withColumn("seq", lit(0L))
      Ivf.persistIndex(emb, dir, nClusters = 8, seqCol = Some("seq"))
      // a seq-less append or an unsequenced delete must fail HERE, not
      // corrupt the directory for some later probe to trip over
      intercept[IllegalArgumentException](
        Ivf.appendToIndex(emb.limit(5), dir))
      intercept[IllegalArgumentException](
        Ivf.deleteFromIndex(emb.limit(5).select("vec_id"), dir))
      // retrain keeps the seq column, so sequenced maintenance still
      // works on the swapped-in table (the drop-the-column bug bricked
      // the index right after any retrain)
      Ivf.partialRetrain(spark, dir, cells = Seq(0, 1), kNew = 2)
      val dead = emb.filter(pmod(col("vec_id"), lit(9)) === 2)
        .select(col("vec_id"), lit(1L).as("seq"))
      Ivf.deleteFromIndex(dead, dir, seqCol = Some("seq"))
      val live = Ivf.liveAssigned(spark, dir)
      assert(live.columns.contains("seq"), "retrain dropped the seq column")
      assert(live.join(dead.select("vec_id"), Seq("vec_id"), "left_semi")
        .count() == 0, "sequenced tombstone did not apply after retrain")
      assert(live.count() == emb.count() - dead.count())
    } finally graft.io.Sources.removeScratchDir(dir)
  }
}

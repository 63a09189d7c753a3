package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: catalog transactions over EITHER commit core (mixed
  * Versions/TxLog members, phase-1 rollback, member-level conflicts,
  * repairMember), content-stamped age retention (inode mtimes neither
  * rescue nor doom), the upsert key-uniqueness contract, and the MoR
  * auto-compaction policy.
  */
class Round13Spec extends AnyFunSuite with SparkSpec {

  import graft.lake.{Catalog, CommitConflict, TxLog, Versions}
  import graft.lake.Catalog.{DeleteKeys, Put, UpsertRows}

  private def antiJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.size

  test("mixed-core catalog transactions race on the CAS: member logs stay 1:1 with cataloged history") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_cat_mixed_race")
    try {
      val threads = 3
      val opsEach = 3
      // each thread owns a DISJOINT pair: one Versions member (Put)
      // and one TxLog member (UpsertRows overlay) updated in ONE
      // transaction — so every retry exercises both cores' phase-1
      // plus the loser's rollback (a broken rollback would strand the
      // TxLog member's overlay slot and starve the retry loop)
      (0 until threads).foreach { i =>
        Catalog.commitUpdates(root, Map(
          s"v$i" -> Put(Seq(0L).toDF("n")),
          s"t$i" -> Put(Seq((i.toLong, 0L)).toDF("k", "v"), TxLog)))
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = (0 until threads).map { i =>
        new Thread(() => {
          try (1 to opsEach).foreach { _ =>
            Catalog.transactUpdates(root, maxRetries = 300) { snap =>
              Map(
                s"v$i" -> Put(Catalog.read(spark, root, s"v$i", snap)
                  .select((col("n") + 1L).as("n"))),
                s"t$i" -> UpsertRows(
                  Catalog.read(spark, root, s"t$i", snap)
                    .select(col("k"), (col("v") + 1L).as("v")), "k"))
            }
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join())
      assert(errs.isEmpty, s"transaction thread failed: ${errs.peek()}")
      assert(Catalog.catalogVersion(root) == threads + threads * opsEach - 1)
      val fin = Catalog.snapshot(root)
      (0 until threads).foreach { i =>
        assert(Catalog.read(spark, root, s"v$i").as[Long].head() ==
          opsEach.toLong, s"v$i lost an update")
        val trow = Catalog.read(spark, root, s"t$i")
          .as[(Long, Long)].head()
        assert(trow == ((i.toLong, opsEach.toLong)), s"t$i lost an update")
        // 1:1 contiguity: the TxLog member's physical head IS the
        // cataloged version — every lost-CAS phase-1 was rolled back
        assert(TxLog.current(s"$root/t$i") == fin(s"t$i"),
          s"t$i holds uncataloged versions (rollback failed)")
        assert(fin(s"t$i") == opsEach)
      }
      // every historical snapshot still reads consistently on both cores
      (0 to Catalog.catalogVersion(root)).foreach { v =>
        Catalog.snapshotAt(root, v).foreach { case (t, _) =>
          assert(Catalog.read(spark, root, t,
            Catalog.snapshotAt(root, v)).count() == 1)
        }
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("one contended TxLog member: overlay transactions conflict at the member CAS and rebase") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_cat_member_race")
    try {
      Catalog.commitUpdates(root, Map("acct" ->
        Put(Seq((1L, 0L), (2L, 0L)).toDF("k", "v"), TxLog)))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val opsEach = 3
      val pool = (1 to 2).map { key =>
        new Thread(() => {
          try (1 to opsEach).foreach { _ =>
            Catalog.transactUpdates(root, maxRetries = 300) { snap =>
              Map("acct" -> UpsertRows(
                Catalog.read(spark, root, "acct", snap)
                  .filter(col("k") === key.toLong)
                  .select(col("k"), (col("v") + 1L).as("v")), "k"))
            }
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      val got = Catalog.read(spark, root, "acct")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, opsEach.toLong), (2L, opsEach.toLong)),
        "a contended overlay was lost")
      // contiguity under contention: exactly one member version per
      // committed transaction, chain resolvable at every snapshot
      assert(TxLog.current(s"$root/acct") == 2 * opsEach)
      assert(Catalog.catalogVersion(root) == 2 * opsEach)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("crashed-transaction garbage: overlays stay loud, phase-1 rolls back, repairMember heals") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_cat_repair")
    try {
      val baseA = Seq((1L, 10L)).toDF("k", "v")
      val baseB = (0L until 20L).map(k => (k, k * 2L)).toDF("k", "v")
      Catalog.commitUpdates(root, Map(
        "a" -> Put(baseA),
        "b" -> Put(baseB, TxLog)))
      // a CRASHED transaction (no rollback ran) left an uncataloged
      // member version at b's overlay slot
      TxLog.commit(baseB.select(col("k"), lit(-1L).as("v")), s"$root/b",
        expected = TxLog.current(s"$root/b"))
      val cv = Catalog.catalogVersion(root)
      val aV = Versions.current(s"$root/a")
      // an overlay on b must conflict at the member CAS (committing it
      // would resolve THROUGH the garbage); a's phase-1 — committed
      // first, alphabetical order — must be rolled back
      intercept[CommitConflict] {
        Catalog.commitUpdates(root, Map(
          "a" -> Put(Seq((1L, 11L)).toDF("k", "v")),
          "b" -> DeleteKeys(Seq(0L).toDF("k"), "k")), cv)
      }
      assert(Versions.current(s"$root/a") == aV,
        "the failed transaction's Versions phase-1 was not rolled back")
      assert(Catalog.catalogVersion(root) == cv)
      // repair caps the garbage with a full cataloged-content version…
      Catalog.repairMember(spark, root, "b")
      val repaired = Catalog.read(spark, root, "b")
      assert(repaired.exceptAll(baseB).isEmpty &&
        baseB.exceptAll(repaired).isEmpty,
        "repairMember changed the cataloged content")
      assert(!repaired.as[(Long, Long)].collect().exists(_._2 == -1L),
        "garbage content leaked into the repaired snapshot")
      // …after which overlay transactions flow again
      Catalog.commitUpdates(root, Map("b" -> DeleteKeys(Seq(0L).toDF("k"), "k")))
      assert(Catalog.read(spark, root, "b").count() == 19)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("catalog txn high-water rides the record: losers never mark, txn-less commits carry forward") {
    import spark.implicits._
    import graft.lake.Catalog.Put
    val root = graft.io.Sources.scratchDir("graft_cat_txn")
    try {
      Catalog.commitUpdates(root,
        Map("t" -> (Put(Seq(1L).toDF("n")): Catalog.MemberUpdate)),
        expected = -1, txn = 7L)
      assert(Catalog.lastTxn(root) == 7L)
      // a txn-less commit CARRIES the mark forward (a maintenance
      // commit between stream batches must never re-admit a replay)
      Catalog.commitAll(root, Map("t" -> Seq(2L).toDF("n")))
      assert(Catalog.lastTxn(root) == 7L)
      // a CAS loser never records its txn — "txn marked" and
      // "snapshot visible" are one atomic step
      intercept[CommitConflict](Catalog.commitUpdates(root,
        Map("t" -> (Put(Seq(3L).toDF("n")): Catalog.MemberUpdate)),
        expected = 0, txn = 9L))
      assert(Catalog.lastTxn(root) == 7L)
      // a higher txn advances the mark; a LOWER one cannot regress it
      Catalog.commitUpdates(root,
        Map("t" -> (Put(Seq(4L).toDF("n")): Catalog.MemberUpdate)),
        expected = Catalog.catalogVersion(root), txn = 12L)
      Catalog.commitUpdates(root,
        Map("t" -> (Put(Seq(5L).toDF("n")): Catalog.MemberUpdate)),
        expected = Catalog.catalogVersion(root), txn = 3L)
      assert(Catalog.lastTxn(root) == 12L)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("age retention reads commit stamps: a touched mtime neither rescues nor dooms a record") {
    import spark.implicits._
    val hourMs = 60L * 60L * 1000L
    def freshen(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis())
      Option(f.listFiles()).toSeq.flatten.foreach(freshen)
    }
    def doom(f: java.io.File): Unit = {
      f.setLastModified(1000L)
      Option(f.listFiles()).toSeq.flatten.foreach(doom)
    }
    // — catalog + Versions member —
    val cat = graft.io.Sources.scratchDir("graft_stamp_cat")
    try {
      Catalog.commitAll(cat, Map("x" -> Seq(1L).toDF("n")))
      Catalog.commitAll(cat, Map("x" -> Seq(2L).toDF("n")))
      // old mtimes cannot DOOM: stamps are fresh
      doom(new java.io.File(cat))
      assert(Catalog.vacuumAged(cat, hourMs) == 0)
      assert(Catalog.snapshotAt(cat, 0)("x") == 0)
      assert(Versions.read(spark, s"$cat/x", 0).as[Long].head() == 1L)
      // fresh mtimes cannot RESCUE: aged stamps decide
      Catalog.restamp(cat, 0, System.currentTimeMillis() - 2 * hourMs)
      Versions.restamp(s"$cat/x", 0, System.currentTimeMillis() - 2 * hourMs)
      freshen(new java.io.File(cat))
      assert(Catalog.vacuumAged(cat, hourMs) == 1)
      intercept[IllegalArgumentException](Catalog.snapshotAt(cat, 0))
      intercept[IllegalArgumentException](Versions.read(spark, s"$cat/x", 0))
      assert(Catalog.read(spark, cat, "x").as[Long].head() == 2L)
    } finally graft.io.Sources.removeScratchDir(cat)
    // — TxLog —
    val tx = graft.io.Sources.scratchDir("graft_stamp_tx")
    try {
      TxLog.commit(Seq(1L).toDF("n"), tx, expected = -1)
      TxLog.commit(Seq(2L).toDF("n"), tx, expected = 0)
      doom(new java.io.File(tx))
      assert(TxLog.vacuumAged(tx, hourMs) == 0)
      assert(TxLog.read(spark, tx, 0).as[Long].head() == 1L)
      TxLog.restamp(tx, 0, System.currentTimeMillis() - 2 * hourMs)
      freshen(new java.io.File(tx))
      assert(TxLog.vacuumAged(tx, hourMs) == 1)
      intercept[IllegalArgumentException](TxLog.read(spark, tx, 0))
      assert(TxLog.read(spark, tx).as[Long].head() == 2L)
    } finally graft.io.Sources.removeScratchDir(tx)
  }

  test("upsert batches must be key-unique: duplicate-key batches are rejected loudly on both cores") {
    import spark.implicits._
    val vRoot = graft.io.Sources.scratchDir("graft_dup_v")
    val tRoot = graft.io.Sources.scratchDir("graft_dup_t")
    try {
      val base = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      val dup = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "s")
      Versions.commit(base, vRoot)
      TxLog.commit(base, tRoot, expected = -1)
      // both rows for k=1 would survive resolveChain — reject instead
      intercept[IllegalArgumentException](
        Versions.commitUpsert(dup, vRoot, "k"))
      intercept[IllegalArgumentException](
        TxLog.commitUpsert(dup, tRoot, "k", expected = 0))
      // nothing committed by the rejected batches
      assert(Versions.current(vRoot) == 0 && TxLog.current(tRoot) == 0)
      // a unique batch still lands
      Versions.commitUpsert(Seq((1L, "x")).toDF("k", "s"), vRoot, "k")
      TxLog.commitUpsert(Seq((1L, "x")).toDF("k", "s"), tRoot, "k",
        expected = 0)
      assert(Versions.read(spark, vRoot).filter(col("s") === "x").count() == 1)
      assert(TxLog.read(spark, tRoot).filter(col("s") === "x").count() == 1)
    } finally {
      graft.io.Sources.removeScratchDir(vRoot)
      graft.io.Sources.removeScratchDir(tRoot)
    }
  }

  test("overlay commits auto-compact past the chain-depth threshold; the read plan stays bounded") {
    import spark.implicits._
    val vRoot = graft.io.Sources.scratchDir("graft_autocompact_v")
    val tRoot = graft.io.Sources.scratchDir("graft_autocompact_t")
    try {
      val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "v")
      // Versions core: a writer looping deletes never leaves a chain
      // deeper than the threshold on disk
      Versions.commit(base, vRoot)
      (0 until 10).foreach { i =>
        Versions.commitDelete(Seq(i.toLong).toDF("k"), vRoot, "k",
          autoCompactAt = 3)
        assert(Versions.chainDepth(vRoot) <= 3,
          s"chain depth ${Versions.chainDepth(vRoot)} after delete $i")
      }
      val vRead = Versions.read(spark, vRoot)
      assert(antiJoins(vRead) <= 3, "read plan grew past the threshold")
      assert(vRead.count() == 90)
      // TxLog core: same policy through the optimistic compact loop
      TxLog.commit(base, tRoot, expected = -1)
      (0 until 10).foreach { _ =>
        TxLog.commitDelete(Seq(TxLog.read(spark, tRoot)
            .agg(min("k")).as[Long].head()).toDF("k"),
          tRoot, "k", expected = TxLog.current(tRoot), autoCompactAt = 3)
        assert(TxLog.chainDepth(tRoot) <= 3)
      }
      assert(TxLog.read(spark, tRoot).count() == 90)
      // explicit maintenance entry: compact iff deeper
      val mRoot = graft.io.Sources.scratchDir("graft_autocompact_m")
      try {
        TxLog.commit(base, mRoot, expected = -1)
        (0 until 5).foreach(i => TxLog.commitDelete(
          Seq(i.toLong).toDF("k"), mRoot, "k", expected = i,
          autoCompactAt = 0)) // disabled: build the deep chain
        assert(TxLog.chainDepth(mRoot) == 5)
        assert(TxLog.compactIfDeeper(spark, mRoot, 3) == 6)
        assert(TxLog.chainDepth(mRoot) == 0)
        assert(TxLog.compactIfDeeper(spark, mRoot, 3) == -1)
        assert(Versions.compactIfDeeper(spark, vRoot, 50) == -1)
      } finally graft.io.Sources.removeScratchDir(mRoot)
    } finally {
      graft.io.Sources.removeScratchDir(vRoot)
      graft.io.Sources.removeScratchDir(tRoot)
    }
  }

  test("MV min/max derive in EXACT and ROLL-UP shapes, null groups included; unregistered columns don't") {
    import spark.implicits._
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_minmax_unit")
    try {
      // ("a",2) stores an all-null min/max; k=null is its own group
      val base = Seq(
        (Some("a"), 1, Some(5L)), (Some("a"), 1, Some(2L)),
        (Some("a"), 2, Option.empty[Long]), (Some("a"), 2, Option.empty[Long]),
        (Some("b"), 1, Some(9L)), (Some("b"), 2, Some(1L)),
        (Option.empty[String], 1, Some(4L)))
        .toDF("k", "u", "x")
      base.write.parquet(s"$root/t")
      val t = spark.read.parquet(s"$root/t")
      t.groupBy("k", "u").agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"))
        .write.parquet(s"$root/view")
      val mv = MatView(basePath = s"$root/t", viewPath = s"$root/view",
        keyCols = Seq("k", "u"), countCol = Some("n"),
        minCols = Map("x" -> "x_min"), maxCols = Map("x" -> "x_max"))
      def ans(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
      val Seq(exactT, rollT, globT, unregT) = Seq(
        () => t.groupBy("k", "u").agg(min("x").as("mn"), max("x").as("mx")),
        () => t.groupBy("k").agg(count(lit(1)).as("n"), min("x").as("mn"),
          max("x").as("mx")),
        () => t.agg(min("x").as("mn"), max("x").as("mx")),
        () => t.groupBy("k").agg(min("u").as("mn"))).map(q => ans(q()))
      ViewRewrite.withRule(spark, mv) {
        def fired(df: org.apache.spark.sql.DataFrame) = {
          val p = ViewRewrite.scannedPaths(df)
          p.exists(_.contains(s"$root/view")) &&
            !p.exists(_.contains(s"$root/t"))
        }
        val exact = t.groupBy("k", "u")
          .agg(min("x").as("mn"), max("x").as("mx"))
        val roll = t.groupBy("k").agg(count(lit(1)).as("n"),
          min("x").as("mn"), max("x").as("mx"))
        val glob = t.agg(min("x").as("mn"), max("x").as("mx"))
        val unreg = t.groupBy("k").agg(min("u").as("mn"))
        assert(fired(exact) && ans(exact) == exactT)
        assert(fired(roll) && ans(roll) == rollT)
        assert(fired(glob) && ans(glob) == globT)
        assert(!fired(unreg) && ans(unreg) == unregT,
          "min over an unregistered column must scan the base")
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("refresh merges count/sum/min/max incrementally, null keys null-safely, and commits") {
    import spark.implicits._
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_refresh_unit")
    try {
      val slice = Seq((Some("a"), 1L), (Some("a"), 5L), (Some("b"), 2L),
        (Option.empty[String], 7L)).toDF("k", "x")
      // delta: merges an existing group, creates one, touches the null group
      val delta = Seq((Some("a"), 3L), (Some("c"), 9L),
        (Option.empty[String], 1L)).toDF("k", "x")
      def viewOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("xs"),
          min("x").as("xn"), max("x").as("xx"))
      Versions.commit(viewOf(slice), root)
      val mv = MatView(basePath = s"$root/never", keyCols = Seq("k"),
        countCol = Some("n"), sumCols = Map("x" -> "xs"),
        minCols = Map("x" -> "xn"), maxCols = Map("x" -> "xx"),
        viewRoot = Some(root))
      assert(ViewRewrite.refresh(spark, mv, delta) == 1)
      val got = Versions.read(spark, root)
      val want = viewOf(slice.unionByName(delta))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "incremental merge diverged from the full recompute")
      // exactly ONE null-key row: a non-null-safe merge would split it
      assert(got.filter(col("k").isNull).count() == 1)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("refresh is never answered by the view it maintains (self-reference guard)") {
    import spark.implicits._
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_selfref")
    try {
      val base = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "x")
      base.write.parquet(s"$root/t")
      val t = spark.read.parquet(s"$root/t")
      def viewOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("xs"))
      Versions.commit(viewOf(t.filter(col("x") <= 2L)), root)
      val mv = MatView(basePath = s"$root/t", keyCols = Seq("k"),
        countCol = Some("n"), sumCols = Map("x" -> "xs"),
        viewRoot = Some(root))
      // the delta is a BARE base scan: with the rule registered, its
      // aggregate matches the view shape — an unguarded refresh would
      // read the (stale, 2-row-slice) view as its own delta
      ViewRewrite.withRule(spark, mv) {
        ViewRewrite.refresh(spark, mv, t)
      }
      val aRow = Versions.read(spark, root).filter(col("k") === "a")
        .as[(String, Long, Long)].head()
      // slice held ("a",1L),("a",2L): n=2, xs=3; the full-base delta
      // adds n=2, xs=3 → (4, 6). A self-referential refresh would have
      // doubled the VIEW instead: n=2+2 but xs=3+3 happens to match
      // here, so pin the count of group "b" too (absent from slice)
      assert(aRow == (("a", 4L, 6L)))
      val bRow = Versions.read(spark, root).filter(col("k") === "b")
        .as[(String, Long, Long)].head()
      assert(bRow == (("b", 1L, 3L)),
        "the refresh delta was answered from the stale view")
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("consecutive deletion vectors coalesce into ONE anti-join; upserts break the run") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_dv_coalesce")
    try {
      val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "v")
      Versions.commit(base, root)
      (0 until 4).foreach(i => Versions.commitDelete(
        Seq(i.toLong).toDF("k"), root, "k", autoCompactAt = 0))
      // four DVs, ONE shuffle: (b \ k1) \ k2 ≡ b \ (k1 ∪ k2)
      val read4 = Versions.read(spark, root)
      assert(antiJoins(read4) == 1,
        s"4-DV chain planned ${antiJoins(read4)} anti-joins, want 1")
      assert(read4.count() == 96)
      // interior time travel still resolves its own shorter run
      assert(Versions.read(spark, root, 2).count() == 98)
      // an upsert breaks the run: DV,DV | upsert | DV → 1 + 1 + 1
      Versions.commitUpsert(Seq((50L, 555L)).toDF("k", "v"), root, "k",
        autoCompactAt = 0)
      Versions.commitDelete(Seq((4L)).toDF("k"), root, "k",
        autoCompactAt = 0)
      val mixed = Versions.read(spark, root)
      // logically 3 (coalesced run + upsert replace + final DV);
      // Catalyst then pushes the final DV's anti-join through the
      // upsert's union into both branches — 4 in the optimized plan,
      // each pruning earlier. The point pinned here: never 5 (one per
      // raw overlay), because the DV run still coalesced.
      assert(antiJoins(mixed) <= 4,
        s"mixed chain planned ${antiJoins(mixed)} anti-joins, want <= 4")
      assert(mixed.count() == 95)
      assert(mixed.filter(col("k") === 50L).as[(Long, Long)].head() ==
        ((50L, 555L)))
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("persistIndex into a reused dir clears stale tombstones and staging state") {
    import spark.implicits._
    val dir = graft.io.Sources.scratchDir("graft_rebuild_idx")
    try {
      val corpus = (0L until 8L)
        .map(i => (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7))))
        .toDF("vec_id", "embedding")
      graft.sim.Ivf.persistIndex(corpus, dir, nClusters = 2)
      graft.sim.Ivf.deleteFromIndex(Seq(1L, 2L).toDF("vec_id"), dir)
      assert(graft.sim.Ivf.liveAssigned(spark, dir).count() == 6)
      // a stale-but-complete staging dir would be swapped IN by the
      // next writer entry's recoverSwap — the rebuild must clear it
      spark.range(3).write.parquet(s"$dir/assigned_compacting")
      graft.sim.Ivf.persistIndex(corpus, dir, nClusters = 2)
      assert(!new java.io.File(s"$dir/tombstones").isDirectory,
        "stale tombstones survived the rebuild")
      assert(!new java.io.File(s"$dir/assigned_compacting").exists(),
        "stale staging dir survived the rebuild")
      // the rebuilt index serves ALL rows (no ghost deletes), and a
      // later compaction cannot swap garbage in
      assert(graft.sim.Ivf.liveAssigned(spark, dir).count() == 8)
      val (before, removed, after) = graft.sim.Ivf.compactIndex(spark, dir)
      assert(before == 8 && removed == 0 && after == 8)
    } finally graft.io.Sources.removeScratchDir(dir)
  }
}

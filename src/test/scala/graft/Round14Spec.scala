package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 pins: catalog-aware compaction ([[graft.lake.Catalog.Compact]]
  * member updates — bounded chains inside the transaction protocol, crash
  * loudness, repair), retraction-aware MV refresh (algebraic count/sum,
  * eviction-only rescans), schema-evolving MoR upserts (loud reject /
  * opt-in null backfill), per-app catalog txn marks for
  * concurrent streaming writers, and the fresh-member rollback TOCTOU
  * fix (a lost-CAS loser must never rmTree a member a racing winner
  * catalog-named).
  */
class Round14Spec extends AnyFunSuite with SparkSpec {

  import graft.lake.{Catalog, CommitConflict, TxLog, Versions}
  import graft.lake.Catalog.{Compact, DeleteKeys, Put, UpsertRows}

  private def antiJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.size

  test("fresh-member creation race: a lost CAS never deletes the winner's catalog-named member") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_fresh_race")
    try {
      // three threads race to CREATE the same TxLog-core member (the
      // core explicitly advertised for contended tables). Both losers
      // observe fresh=true at phase-1 entry; their rollback must unwind
      // ONLY their own member version — the flag-keyed rmTree deleted
      // the whole member dir, winner's committed record included
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = (0 until 3).map { i =>
        new Thread(() => {
          try {
            Catalog.transactUpdates(root, maxRetries = 300) { _ =>
              Map("m" -> Put(Seq(i.toLong).toDF("n"), TxLog))
            }
            ()
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join())
      assert(errs.isEmpty, s"creation race failed: ${errs.peek()}")
      assert(Catalog.catalogVersion(root) == 2, "a transaction was lost")
      // 1:1 contiguity: the member's physical head IS the cataloged
      // version, and every historical snapshot still reads
      val fin = Catalog.snapshot(root)
      assert(TxLog.current(s"$root/m") == fin("m"),
        "member log holds uncataloged garbage (or lost the winner)")
      (0 to 2).foreach { v =>
        assert(Catalog.read(spark, root, "m",
          Catalog.snapshotAt(root, v)).count() == 1,
          s"snapshot $v lost its member data")
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("failed sibling phase-1: fresh members of both cores un-create; existing members keep history") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_sibling_rb")
    try {
      // sorted member order commits a (Versions, fresh) and m (TxLog,
      // fresh) before zz (overlay on a missing member) throws
      intercept[IllegalArgumentException] {
        Catalog.commitUpdates(root, Map(
          "a" -> Put(Seq(1L).toDF("n")),
          "m" -> Put(Seq(1L).toDF("n"), TxLog),
          "zz" -> DeleteKeys(Seq(1L).toDF("k"), "k")))
      }
      assert(!new java.io.File(s"$root/a").exists(),
        "fresh Versions member survived its rollback")
      assert(!new java.io.File(s"$root/m").exists(),
        "fresh TxLog member survived its rollback")
      assert(Catalog.catalogVersion(root) == -1)
      // a NON-fresh member rolls back to its cataloged version only
      Catalog.commitAll(root, Map("t" -> Seq(1L).toDF("n")))
      intercept[IllegalArgumentException] {
        Catalog.commitUpdates(root, Map(
          "t" -> Put(Seq(2L).toDF("n")),
          "zz" -> DeleteKeys(Seq(1L).toDF("k"), "k")))
      }
      assert(Versions.current(s"$root/t") == 0,
        "the failed transaction's version was not rolled back")
      assert(Catalog.read(spark, root, "t").as[Long].head() == 1L)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("catalog Compact bounds a member chain inside the protocol; crash garbage stays loud until capped") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_cat_compact")
    try {
      val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "v")
      Catalog.commitUpdates(root, Map("x" -> Put(base, TxLog)))
      (0 until 5).foreach(i => Catalog.commitUpdates(root,
        Map("x" -> DeleteKeys(Seq(i.toLong).toDF("k"), "k"))))
      assert(Catalog.memberChainDepth(root, "x") == 5)
      // shallow enough → no-op; deeper → one Compact transaction
      assert(Catalog.compactMemberIfDeeper(spark, root, "x", 5) == -1)
      val cv = Catalog.compactMemberIfDeeper(spark, root, "x", 3)
      assert(cv == Catalog.catalogVersion(root) && cv == 6)
      assert(Catalog.memberChainDepth(root, "x") == 0)
      val read = Catalog.read(spark, root, "x")
      assert(antiJoins(read) == 0, "compacted member still plans overlays")
      assert(read.count() == 95)
      assert(Catalog.compactMemberIfDeeper(spark, root, "x", 3) == -1)
      // every historical snapshot (including pre-compaction overlays)
      // still resolves — compaction adds a version, removes nothing
      (0 to cv).foreach { v =>
        assert(Catalog.read(spark, root, "x",
          Catalog.snapshotAt(root, v)).count() == 100 - math.min(v, 5))
      }
      // CRASH between the member compaction commit and the catalog
      // record: a full uncataloged version at the head. Overlays stay
      // loud (committing one would require contiguity)…
      TxLog.commit(Catalog.read(spark, root, "x")
          .select(col("k"), lit(-1L).as("v")),
        s"$root/x", expected = TxLog.current(s"$root/x"))
      intercept[CommitConflict] {
        Catalog.commitUpdates(root,
          Map("x" -> DeleteKeys(Seq(99L).toDF("k"), "k")),
          Catalog.catalogVersion(root))
      }
      // …and a Compact transaction heals: cataloged content, committed
      // at the physical head, capping the garbage
      Catalog.transactUpdates(root)(_ => Map("x" -> Compact(spark)))
      val healed = Catalog.read(spark, root, "x")
      assert(healed.count() == 95 &&
        healed.filter(col("v") === -1L).count() == 0,
        "Compact folded crash garbage into the cataloged content")
      Catalog.commitUpdates(root,
        Map("x" -> DeleteKeys(Seq(99L).toDF("k"), "k")))
      assert(Catalog.read(spark, root, "x").count() == 94)
      // the Versions-core path compacts through the same protocol
      val vroot = graft.io.Sources.scratchDir("graft_cat_compact_v")
      try {
        Catalog.commitUpdates(vroot, Map("y" -> Put(base)))
        (0 until 3).foreach(i => Catalog.commitUpdates(vroot,
          Map("y" -> DeleteKeys(Seq(i.toLong).toDF("k"), "k"))))
        assert(Catalog.compactMemberIfDeeper(spark, vroot, "y", 1) == 4)
        assert(Catalog.memberChainDepth(vroot, "y") == 0)
        assert(Catalog.read(spark, vroot, "y").count() == 97)
      } finally graft.io.Sources.removeScratchDir(vroot)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("schema-evolving upserts: loud reject without the opt-in, null backfill with it, on both cores") {
    import spark.implicits._
    val vRoot = graft.io.Sources.scratchDir("graft_evolve_v")
    val tRoot = graft.io.Sources.scratchDir("graft_evolve_t")
    try {
      val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      val widened = Seq((2L, "B", 7L)).toDF("k", "s", "extra")
      Versions.commit(base, vRoot)
      TxLog.commit(base, tRoot, expected = -1)
      // no opt-in → loud at COMMIT time, naming the fix
      val e1 = intercept[IllegalArgumentException](
        Versions.commitUpsert(widened, vRoot, "k"))
      assert(e1.getMessage.contains("evolveSchema"))
      intercept[IllegalArgumentException](
        TxLog.commitUpsert(widened, tRoot, "k", expected = 0))
      assert(Versions.current(vRoot) == 0 && TxLog.current(tRoot) == 0)
      // opt-in → added column null-backfills on pre-evolution rows
      Versions.commitUpsert(widened, vRoot, "k", evolveSchema = true,
        autoCompactAt = 0)
      TxLog.commitUpsert(widened, tRoot, "k", expected = 0,
        evolveSchema = true, autoCompactAt = 0)
      Seq(Versions.read(spark, vRoot), TxLog.read(spark, tRoot)).foreach { got =>
        assert(got.columns.toSeq == Seq("k", "s", "extra"))
        assert(got.count() == 3)
        assert(got.filter(col("k") === 2L)
          .select("s", "extra").as[(String, Long)].head() == (("B", 7L)))
        assert(got.filter(col("extra").isNull).count() == 2,
          "pre-evolution rows did not null-backfill")
      }
      // the table's schema is now the widened one: a NARROW batch is
      // again a mismatch — loud without the opt-in, backfilled with it
      val narrow = Seq((3L, "C")).toDF("k", "s")
      intercept[IllegalArgumentException](
        Versions.commitUpsert(narrow, vRoot, "k"))
      Versions.commitUpsert(narrow, vRoot, "k", evolveSchema = true,
        autoCompactAt = 0)
      assert(Versions.read(spark, vRoot).filter(col("k") === 3L)
        .select("s").as[String].head() == "C")
      // the catalog's UpsertRows carries the same opt-in
      val cat = graft.io.Sources.scratchDir("graft_evolve_cat")
      try {
        Catalog.commitUpdates(cat, Map("t" -> Put(base, TxLog)))
        intercept[IllegalArgumentException](Catalog.commitUpdates(cat,
          Map("t" -> UpsertRows(widened, "k"))))
        Catalog.commitUpdates(cat,
          Map("t" -> UpsertRows(widened, "k", evolveSchema = true)))
        assert(Catalog.read(spark, cat, "t").columns.contains("extra"))
      } finally graft.io.Sources.removeScratchDir(cat)
    } finally {
      graft.io.Sources.removeScratchDir(vRoot)
      graft.io.Sources.removeScratchDir(tRoot)
    }
  }

  test("MV retraction: algebraic count/sum, eviction-only rescans, emptied groups drop, loud divergence") {
    import spark.implicits._
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_retract")
    try {
      val all = Seq(
        (Some("a"), 1L), (Some("a"), 5L), (Some("a"), 9L),
        (Some("b"), 2L), (Some("b"), 3L),
        (Option.empty[String], 7L), (Option.empty[String], 8L))
      def viewOf(df: DataFrame) =
        df.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("xs"),
          min("x").as("xn"), max("x").as("xx"))
      def writeBase(rows: Seq[(Option[String], Long)]): Unit =
        rows.toDF("k", "x").write.mode("overwrite").parquet(s"$root/t")
      writeBase(all)
      Versions.commit(viewOf(all.toDF("k", "x")), root)
      val mv = MatView(basePath = s"$root/t", keyCols = Seq("k"),
        countCol = Some("n"), sumCols = Map("x" -> "xs"),
        nonNullCols = Set("x"),
        minCols = Map("x" -> "xn"), maxCols = Map("x" -> "xx"),
        viewRoot = Some(root))
      def check(remaining: Seq[(Option[String], Long)]): Unit = {
        val got = Versions.read(spark, root)
        val want = viewOf(remaining.toDF("k", "x"))
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          "retraction diverged from the full recompute")
      }
      // interior deletion (strictly between min and max): pure algebra
      var remaining = all.filterNot(_ == ((Some("a"), 5L)))
      writeBase(remaining)
      val s1 = ViewRewrite.refresh(spark, mv, None,
        Some(Seq((Some("a"), 5L)).toDF("k", "x")))
      assert(s1.rescannedGroups == 0 && s1.emptiedGroups == 0,
        "an interior deletion must not rescan the base")
      check(remaining)
      // min eviction: exactly that group rescans (null key, null-safely)
      remaining = remaining.filterNot(_ == ((Option.empty[String], 7L)))
      writeBase(remaining)
      val s2 = ViewRewrite.refresh(spark, mv, None,
        Some(Seq((Option.empty[String], 7L)).toDF("k", "x")))
      assert(s2.rescannedGroups == 1 && s2.emptiedGroups == 0,
        "a min eviction must rescan exactly the evicted group")
      check(remaining)
      // emptied group drops without a rescan; insert+delete compose
      remaining = remaining.filterNot(r => r._1.contains("b")) ++
        Seq((Some("c"), 4L))
      writeBase(remaining)
      val s3 = ViewRewrite.refresh(spark, mv,
        Some(Seq((Some("c"), 4L)).toDF("k", "x")),
        Some(Seq((Some("b"), 2L), (Some("b"), 3L)).toDF("k", "x")))
      assert(s3.emptiedGroups == 1 && s3.rescannedGroups == 0)
      check(remaining)
      // loud divergence: unknown group, overdrawn group
      intercept[IllegalArgumentException](ViewRewrite.refresh(spark, mv,
        None, Some(Seq((Some("zz"), 1L)).toDF("k", "x"))))
      intercept[IllegalArgumentException](ViewRewrite.refresh(spark, mv,
        None, Some(Seq((Some("a"), 1L), (Some("a"), 9L), (Some("a"), 99L))
          .toDF("k", "x"))))
      // loud shapes: a sum column without the non-null claim, no count
      val unclaimed = mv.copy(nonNullCols = Set.empty)
      val ex = intercept[IllegalArgumentException](ViewRewrite.refresh(
        spark, unclaimed, None, Some(Seq((Some("a"), 1L)).toDF("k", "x"))))
      assert(ex.getMessage.contains("non-null"))
      intercept[IllegalArgumentException](ViewRewrite.refresh(spark,
        mv.copy(countCol = None, sumCols = Map.empty, nonNullCols = Set.empty),
        None, Some(Seq((Some("a"), 1L)).toDF("k", "x"))))
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("MultiViewRewrite cost: footer zone maps pick the filter-tight view; bytes decide unfiltered") {
    import spark.implicits._
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_cost")
    try {
      val ets = ('a' to 'h').map(_.toString)
      val base = (0L until 4000L).map(i =>
        (ets((i % 8).toInt), i % 97, i)).toDF("et", "uid", "x")
      base.write.parquet(s"$root/t")
      val t = spark.read.parquet(s"$root/t")
      val agg = t.groupBy("et", "uid")
        .agg(count(lit(1)).as("n"), sum("x").as("xs"))
      // "plain": byte-smaller, mixed layout → zone maps prune nothing
      agg.repartition(4).write.parquet(s"$root/plain")
      // "sorted": byte-larger (extra padding column) but range-sorted on
      // et → an et-equality survives ~1 of 4 row groups
      agg.withColumn("pad",
          concat(col("et"), lit("-"), col("uid"), lit("-"), col("n")))
        .repartitionByRange(4, col("et")).sortWithinPartitions("et")
        .write.parquet(s"$root/sorted")
      def bytes(p: String) = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      assert(bytes(s"$root/sorted") > bytes(s"$root/plain"),
        "fixture broke: the sorted view must be byte-larger")
      val plain = MatView(basePath = s"$root/t", viewPath = s"$root/plain",
        keyCols = Seq("et", "uid"), countCol = Some("n"),
        sumCols = Map("x" -> "xs"))
      val sorted = MatView(basePath = s"$root/t", viewPath = s"$root/sorted",
        keyCols = Seq("et", "uid"), countCol = Some("n"),
        sumCols = Map("x" -> "xs"))
      def chose(df: DataFrame, view: String): Boolean = {
        val p = ViewRewrite.scannedPaths(df)
        p.exists(_.endsWith(s"/$view")) &&
          !p.exists(_.endsWith(if (view == "plain") "/sorted" else "/plain"))
      }
      ViewRewrite.withViews(spark, Seq(plain, sorted)) {
        // filtered: the byte-larger but filter-tighter view wins
        val filtered = t.filter(col("et") === "c").groupBy("et")
          .agg(count(lit(1)).as("n"), sum("x").as("xs"))
        assert(chose(filtered, "sorted"),
          "zone-surviving bytes should beat total bytes under a filter")
        // negative control: no filter → bytes still decide
        val unfiltered = t.groupBy("et")
          .agg(count(lit(1)).as("n"), sum("x").as("xs"))
        assert(chose(unfiltered, "plain"),
          "without a filter the byte-smaller view must win")
        // correctness unchanged either way
        val want = Seq(("c", 500L)).toDF("et", "n")
        val got = filtered.select("et", "n")
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("two concurrent streaming writers into one catalog: independent ledgers, serialized commits") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_two_streams")
    try {
      val (a, b) = graft.streaming.StreamingLake.runTwoStreamCatalog(
        spark, sf001, root, nFiles = 3)
      assert(a >= 1 && b >= 1)
      val cur = Catalog.catalogVersion(root)
      assert(cur.toLong == a + b - 1,
        "one catalog record per micro-batch across both streams")
      // per-app marks: monotone through the record lineage, final =
      // that stream's last batchId, never mixed across apps
      Seq("even" -> a, "odd" -> b).foreach { case (app, n) =>
        val marks = (0 to cur).map(v => Catalog.lastTxnAt(root, v, app))
        assert(marks.zip(marks.tail).forall { case (x, y) => x <= y },
          s"$app's txn lineage regressed")
        assert(Catalog.lastTxn(root, app) == n - 1)
      }
      // replay of an already-applied epoch: skipped PER APP…
      val replay = Seq(("click", 999999L)).toDF("event_type", "event_id")
      assert(!graft.streaming.StreamingLake.applyBatchCatalog(root, replay,
        batchId = 0L, app = "even"))
      assert(Catalog.catalogVersion(root) == cur)
      // …while the SAME batchId from a NEW app is genuinely new work —
      // the ledgers are independent, not a shared high-water
      assert(graft.streaming.StreamingLake.applyBatchCatalog(root, replay,
        batchId = 0L, app = "third",
        viewCore = TxLog))
      assert(Catalog.catalogVersion(root) == cur + 1)
      // the exactly-once PAIR invariant holds at every snapshot, both
      // streams' commits interleaved or not
      (0 to Catalog.catalogVersion(root)).foreach { v =>
        val snap = Catalog.snapshotAt(root, v)
        val vm = Catalog.read(spark, root, "view", snap)
          .select(col("event_type"), col("id_max"))
        val ix = Catalog.read(spark, root, "index", snap)
          .select(col("event_type"), col("last_id").as("id_max"))
        assert(vm.exceptAll(ix).isEmpty && ix.exceptAll(vm).isEmpty,
          s"view/index tore at snapshot $v")
      }
      // the final view holds EVERY event exactly once: both parities
      val ev = graft.io.Sources.table(spark, sf001, "events")
        .filter(col("event_type").isNotNull)
      val want = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
          max("event_id").as("id_max"))
      // the "third" app's replay batch added one synthetic click row —
      // compare against the pre-replay snapshot
      val vm = Catalog.read(spark, root, "view", Catalog.snapshotAt(root, cur))
      assert(vm.exceptAll(want).isEmpty && want.exceptAll(vm).isEmpty,
        "a batch was lost or double-applied across the two streams")
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("change data feed: overlay deltas, pre-images, compaction silence, evolution, telescoping — both cores") {
    import spark.implicits._
    import graft.lake.ChangeFeed
    for (core <- Seq[graft.lake.Core](Versions, TxLog)) {
      val root = graft.io.Sources.scratchDir("graft_cdf")
      try {
        def eq(a: DataFrame, b: DataFrame): Boolean =
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        def cur: Int = core.current(root)
        def full(df: DataFrame): Int = core match {
          case TxLog => TxLog.commit(df, root, expected = cur)
          case _ => Versions.commit(df, root)
        }
        def up(df: DataFrame, evolve: Boolean = false): Int = core match {
          case TxLog => TxLog.commitUpsert(df, root, "k",
            expected = cur, autoCompactAt = 0, evolveSchema = evolve)
          case _ => Versions.commitUpsert(df, root, "k",
            autoCompactAt = 0, evolveSchema = evolve)
        }
        def del(keys: DataFrame): Int = core match {
          case TxLog => TxLog.commitDelete(keys, root, "k",
            expected = cur, autoCompactAt = 0)
          case _ => Versions.commitDelete(keys, root, "k", autoCompactAt = 0)
        }
        def feedAt(v: Int) = ChangeFeed.changesAt(spark, root, v, core)
        def read(v: Int): DataFrame = core.read(spark, root, v)
        val base = (0L until 40L).map(k => (k, k * 2L)).toDF("k", "v")
        full(base)
        // v0 (genesis): all-insert
        val f0 = feedAt(0)
        assert(f0.filter(col(ChangeFeed.ChangeType) =!= "insert").isEmpty &&
          f0.count() == 40 &&
          f0.select(min(col(ChangeFeed.CommitVersion))).head.getInt(0) == 0)
        // v1 upsert: 10 replaced (delete pre-image + insert new image),
        // 5 brand-new keys (insert only — no pre-image delete)
        val batch1 = (0L until 10L).map(k => (k, k * 2L + 100L))
          .toDF("k", "v")
          .union((100L until 105L).map(k => (k, k)).toDF("k", "v"))
        up(batch1)
        val f1 = feedAt(1)
        val f1del = f1.filter(col(ChangeFeed.ChangeType) === "delete")
        val f1ins = f1.filter(col(ChangeFeed.ChangeType) === "insert")
        assert(eq(f1del.select("k", "v"),
          (0L until 10L).map(k => (k, k * 2L)).toDF("k", "v")),
          s"$core: replaced pre-images wrong")
        assert(eq(f1ins.select("k", "v"), batch1),
          s"$core: upsert inserts wrong")
        // v2 deletion vector naming one replaced key, one new key, and
        // one ABSENT key: the absent key contributes NO change row
        del(Seq(3L, 100L, 999L).toDF("k"))
        val f2 = feedAt(2)
        assert(eq(f2.select("k", "v"),
          Seq((3L, 106L), (100L, 100L)).toDF("k", "v")) &&
          f2.filter(col(ChangeFeed.ChangeType) =!= "delete").isEmpty,
          s"$core: DV pre-images wrong (absent key must contribute nothing)")
        // v3 compaction: content-preserving full version → EMPTY delta
        core match {
          case TxLog => TxLog.compact(spark, root)
          case _ => Versions.compactDeletes(spark, root)
        }
        assert(feedAt(3).isEmpty,
          s"$core: compaction must contribute zero feed rows")
        // v4 evolve upsert (adds column w): pre-image delete rows have
        // w = null; insert rows carry it
        up(Seq((5L, 999L, "x")).toDF("k", "v", "w"), evolve = true)
        val f4 = feedAt(4)
        assert(f4.filter(col(ChangeFeed.ChangeType) === "delete")
          .filter(col("w").isNotNull).isEmpty &&
          eq(f4.filter(col(ChangeFeed.ChangeType) === "insert")
            .select("k", "v", "w"), Seq((5L, 999L, "x")).toDF("k", "v", "w")),
          s"$core: evolution alignment wrong")
        // v5 full rewrite (no row-level lineage): multiset diff — change
        // one row's payload → exactly one delete + one insert
        val rewritten = read(4)
          .withColumn("v", when(col("k") === 7L, lit(-1L)).otherwise(col("v")))
        full(rewritten)
        val f5 = feedAt(5)
        assert(f5.count() == 2 &&
          f5.filter(col(ChangeFeed.ChangeType) === "insert")
            .filter(col("k") === 7L && col("v") === -1L).count() == 1 &&
          f5.filter(col(ChangeFeed.ChangeType) === "delete")
            .filter(col("k") === 7L && col("v") === 114L).count() == 1,
          s"$core: full-rewrite diff wrong")
        // the whole feed TELESCOPES: from genesis, inserts ∖ deletes
        // (multiset) reproduce the final read exactly
        val feed = ChangeFeed.changesBetween(spark, root, -1, -1, core)
        val (ins, dels) = ChangeFeed.splitFeed(feed)
        assert(eq(ins.get.exceptAll(dels.get), read(5)),
          s"$core: feed does not telescope to the final state")
        // feed windows compose: (−1, 2] ⊎ (2, 5] = (−1, 5]
        val w1 = ChangeFeed.changesBetween(spark, root, -1, 2, core)
        val w2 = ChangeFeed.changesBetween(spark, root, 2, 5, core)
        assert(eq(w1.unionByName(w2, allowMissingColumns = true)
            .select(feed.columns.map(col).toSeq: _*), feed),
          s"$core: feed windows do not compose")
      } finally graft.io.Sources.removeScratchDir(root)
    }
  }
}

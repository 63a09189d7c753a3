package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** Catalog member disciplines as each commit core implements them
  * (`graft.lake.Core`), the metadata member schema per catalog record,
  * and the shared `SPARK_GRAFT_ONLY` subset parser. */
class CatalogCoreSpec extends AnyFunSuite with SparkSpec {

  import graft.lake.{Catalog, Core, TxLog, Versions}
  import graft.lake.Catalog.{DeleteKeys, Put, UpsertRows}

  test("crashed-transaction garbage on a Versions member: overlays fail the contiguity check, phase-1 rolls back, repairMember heals") {
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_cat_repair_versions")
    try {
      val baseA = (0L until 5L).map(k => (k, k)).toDF("k", "v")
      val baseB = (0L until 20L).map(k => (k, k * 2L)).toDF("k", "v")
      Catalog.commitUpdates(root, Map(
        "a" -> Put(baseA, TxLog),
        "b" -> Put(baseB)))
      assert(Catalog.coreOf(root, "a").contains(TxLog) &&
        Catalog.coreOf(root, "b").contains(Versions))
      // a CRASHED transaction (no rollback ran) left an uncataloged
      // member version at b's overlay slot
      Versions.commit(baseB.select(col("k"), lit(-1L).as("v")), s"$root/b")
      val cv = Catalog.catalogVersion(root)
      val aV = TxLog.current(s"$root/a")
      // with no member CAS, the Versions discipline's contiguity check
      // must refuse an overlay that would resolve THROUGH the garbage;
      // a's phase-1 — committed first, alphabetical order — is rolled
      // back. Both overlay kinds go through the check.
      val overlays = Seq(
        DeleteKeys(Seq(0L).toDF("k"), "k"),
        UpsertRows(Seq((0L, 7L)).toDF("k", "v"), "k"))
      overlays.foreach { up =>
        val e = intercept[IllegalStateException] {
          Catalog.commitUpdates(root, Map(
            "a" -> Put(Seq((1L, 11L)).toDF("k", "v")),
            "b" -> up), cv)
        }
        assert(e.getMessage.contains("repairMember"), e.getMessage)
        assert(TxLog.current(s"$root/a") == aV,
          "the failed transaction's TxLog phase-1 was not rolled back")
        assert(Catalog.catalogVersion(root) == cv)
      }
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

  test("memberSchemaAt reads every record's member schema: an A→B→A history shows B in the middle, on both cores") {
    import spark.implicits._
    for (core <- Seq[Core](Versions, TxLog)) {
      val root = graft.io.Sources.scratchDir("graft_cat_schema_aba")
      try {
        // record 0: schema A; record 1: an evolve upsert adds w (B);
        // record 2: a full Put restores A; record 3 touches only u
        Catalog.commitUpdates(root, Map(
          "t" -> Put((0L until 4L).map(k => (k, k)).toDF("k", "v"), core),
          "u" -> Put(Seq(1L).toDF("n"))))
        Catalog.commitUpdates(root, Map("t" -> UpsertRows(
          Seq((1L, 9L, "x")).toDF("k", "v", "w"), "k", evolveSchema = true)))
        Catalog.commitUpdates(root, Map(
          "t" -> Put((0L until 4L).map(k => (k, -k)).toDF("k", "v"))))
        Catalog.commitUpdates(root, Map("u" -> Put(Seq(2L).toDF("n"))))
        assert(Catalog.coreOf(root, "t").contains(core))
        def nt(n: Int) = Catalog.memberSchemaAt(spark, root, "t", n)
          .map(f => (f.name, f.dataType))
        // the endpoint-only guard passes this history…
        assert(nt(0) == nt(3), s"$core: endpoints differ")
        // …but the middle record names schema B
        assert(nt(1) == nt(0) :+ ("w" -> StringType),
          s"$core: record 1 is not schema B: ${nt(1)}")
        assert(!(1 to 3).forall(nt(_) == nt(0)),
          s"$core: the every-record guard must catch A→B→A")
        // metadata agrees with the analyzed catalog read at every record
        (0 to 3).foreach { n =>
          assert(nt(n) == Catalog.read(spark, root, "t",
            Catalog.snapshotAt(root, n)).schema.map(f => (f.name, f.dataType)),
            s"$core: record $n metadata schema differs from the read")
        }
        // an untouched record's empty feed window carries that schema
        val empty = Catalog.memberChanges(spark, root, "t", 2, 3)
        assert(empty.isEmpty && empty.columns.toSeq ==
          nt(3).map(_._1) ++ Seq("_change_type", "_commit_version"))
      } finally graft.io.Sources.removeScratchDir(root)
    }
  }

  test("SPARK_GRAFT_ONLY subset: full name or prefix up to the first underscore") {
    val ids = GraftSession.parseOnly(Some(" q37, q40_foo ,,"))
    assert(ids.contains(Set("q37", "q40_foo")))
    assert(GraftSession.inSubset(ids, "q37_demand"))
    assert(GraftSession.inSubset(ids, "q40_foo"))
    assert(!GraftSession.inSubset(ids, "q40_bar"))
    assert(!GraftSession.inSubset(ids, "q370_other"))
    assert(GraftSession.parseOnly(Some(" , ")).isEmpty)
    assert(GraftSession.parseOnly(None).isEmpty)
    assert(GraftSession.inSubset(None, "q99_anything"))
  }

  test("Versions: commit/read/time-travel/vacuum contract") {
    import graft.lake.Versions
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_versions_spec")
    try {
      assert(Versions.current(root) == -1)
      assert(Versions.commit(Seq(1L, 2L).toDF("x"), root) == 0)
      assert(Versions.commit(Seq(1L, 2L, 3L).toDF("x"), root) == 1)
      assert(Versions.current(root) == 1)
      // time travel: both versions readable side by side
      assert(Versions.read(spark, root, 0).count() == 2)
      assert(Versions.read(spark, root).count() == 3)
      // vacuum below current: v0 reclaimed, v1 untouched, pointer stable
      assert(Versions.vacuum(root, keepFrom = 1) == 1)
      assert(Versions.current(root) == 1)
      assert(Versions.read(spark, root).count() == 3)
      intercept[IllegalArgumentException](Versions.read(spark, root, 0))
      // vacuum never eats the current version, even if asked
      assert(Versions.vacuum(root, keepFrom = 99) == 0)
      assert(Versions.read(spark, root).count() == 3)
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("Versions: a crashed commit (orphan v<N> dir, pointer unflipped) never wedges the table") {
    import graft.lake.Versions
    import spark.implicits._
    val root = graft.io.Sources.scratchDir("graft_versions_crash")
    try {
      Versions.commit(Seq(1L).toDF("x"), root) // v0 committed
      // simulate a writer that died mid-v1-write: directory exists with
      // partial junk, _current still points at v0
      val orphan = new java.io.File(root, "v1")
      assert(orphan.mkdirs())
      val junk = new java.io.File(orphan, "part-junk")
      java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
      assert(Versions.current(root) == 0, "pointer must not see the orphan")
      // age the orphan past the quiescence grace (a fresh one is treated
      // as a CONCURRENT writer and fails loudly — Round11Spec pins that)
      val old = System.currentTimeMillis() - Versions.orphanGraceMs - 60000L
      assert(orphan.setLastModified(old) && junk.setLastModified(old))
      // next commit reclaims the aged orphan slot instead of erroring forever
      assert(Versions.commit(Seq(1L, 2L).toDF("x"), root) == 1)
      assert(Versions.read(spark, root).count() == 2)
    } finally graft.io.Sources.removeScratchDir(root)
  }
}

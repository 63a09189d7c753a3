package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted ANN index: [[graft.sim.Ivf]] owns its on-disk layout
  * and maintains IVF and IVF-PQ indexes alike. Pins maintenance on both
  * layouts, the rename-swap crash states (staged on disk by their raw
  * paths, which is their job), the build memo, and that no other module
  * under src/main spells the layout.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  private def cpTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten.foreach(f =>
        cpTree(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      ()
    }
  }

  test("retrain swap heals from every crash state, including between the two centroid renames") {
    import graft.sim.Ivf
    val dir = graft.io.Sources.scratchDir("graft_retraincrash")
    try {
      val emb = graft.io.Sources.table(spark, sf001, "embeddings")
        .filter(col("embedding").isNotNull)
      Ivf.persistIndex(emb, dir, nClusters = 16)
      def probe = Ivf.probeIndex(emb.filter(col("vec_id") < 20), dir,
        k = 3, nProbe = 4).select("qid", "nid", "rank").localCheckpoint()
      def sameRows(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val want = probe
      def f(name: String) = new java.io.File(s"$dir/$name")
      def recovered(): Unit = {
        // writer entry (compactIndex calls recoverSwap first) must heal
        Ivf.compactIndex(spark, dir)
        Seq("assigned_retraining", "centroids_new", "centroids_old",
          "assigned_old", "assigned_compacting").foreach(n =>
          assert(!f(n).exists(), s"$n survived recovery"))
        assert(f("assigned").isDirectory && f("centroids").isDirectory)
        assert(sameRows(probe, want), "probe changed across recovery")
      }
      // state 1 — the r11 verdict's unrecovered window: crash BETWEEN
      // the two centroid renames (no `centroids` at the canonical path;
      // complete `centroids_old` and `centroids_new` both on disk).
      // Previously every probe failed loudly until a hand-restore.
      cpTree(f("centroids"), f("centroids_new"))
      assert(f("centroids").renameTo(f("centroids_old")))
      recovered()
      // state 2 — both staged tables complete, no rename begun: the
      // transaction rolls FORWARD at writer entry
      cpTree(f("assigned"), f("assigned_retraining"))
      cpTree(f("centroids"), f("centroids_new"))
      recovered()
      // state 3 — staging died half-way (assigned_retraining complete,
      // centroid staging never ran): roll BACK, live pair untouched
      cpTree(f("assigned"), f("assigned_retraining"))
      recovered()
      // state 3b — markerless retraining beside a complete centroids_new:
      // still a dead staging, both stubs discarded
      cpTree(f("assigned"), f("assigned_retraining"))
      assert(new java.io.File(f("assigned_retraining"), "_SUCCESS").delete())
      cpTree(f("centroids"), f("centroids_new"))
      recovered()
      // state 4 — assigned swap already done, centroid swap not begun
      // (complete centroids_new beside the live centroids): finish it
      cpTree(f("centroids"), f("centroids_new"))
      recovered()
      // state 5 — cleanup debt: centroids_old lingering beside centroids
      cpTree(f("centroids"), f("centroids_old"))
      recovered()
    } finally graft.io.Sources.removeScratchDir(dir)
  }

  test("sequenced IVF-PQ: seq mode declared at build, mixing fails at write time") {
    import spark.implicits._
    import graft.sim.{Ivf, IvfPq}
    val dir = graft.io.Sources.scratchDir("graft_pq_seq_unit")
    try {
      val corpus = (0L until 32L)
        .map(i => (i, (0 until 64).map(j =>
          math.cos(i * 0.37 + j * 0.11)), 0L))
        .toDF("vec_id", "embedding", "seq")
      IvfPq.persistIndex(corpus, dir, dim = 64, nClusters = 2, m = 16,
        ksub = 4, seqCol = Some("seq"))
      // an UNSEQUENCED append must fail at write time (the seq column
      // would silently vanish behind parquet schema sampling)
      intercept[IllegalArgumentException](
        Ivf.appendToIndex(corpus.drop("seq"), dir))
      // an unsequenced delete against a sequenced index fails too
      intercept[IllegalArgumentException](
        Ivf.deleteFromIndex(Seq(1L).toDF("vec_id"), dir))
      // the sequenced paths work and resolve by seqno, not arrival
      Ivf.appendToIndex(Seq((1L, (0 until 64).map(j =>
          math.sin(j * 0.2)), 2L))
        .toDF("vec_id", "embedding", "seq"), dir, seqCol = Some("seq"))
      Ivf.deleteFromIndex(Seq((1L, 1L)).toDF("vec_id", "seq"), dir,
        seqCol = Some("seq"))
      val live = Ivf.liveAssigned(spark, dir)
      // the seq-2 re-add survives its seq-1 tombstone; the seq-0
      // original dies
      assert(live.filter(col("vec_id") === 1L).count() == 1)
      assert(live.filter(col("vec_id") === 1L)
        .select("seq").as[Long].head() == 2L)
      assert(live.count() == 32)
    } finally graft.io.Sources.removeScratchDir(dir)
  }

  test("IVF-PQ maintenance parity: sequenced deletes compact, crash states heal, retrain keeps codes") {
    import graft.sim.{Ivf, IvfPq}
    val dir = graft.io.Sources.scratchDir("graft_pq_maint")
    try {
      val emb = graft.io.Sources.table(spark, sf001, "embeddings")
        .filter(col("embedding").isNotNull)
        .withColumn("seq", lit(0L))
      IvfPq.persistIndex(emb, dir, dim = 64, nClusters = 8, m = 16,
        ksub = 8, seqCol = Some("seq"))
      val total = Ivf.liveAssigned(spark, dir).count()
      val dead = emb.filter(pmod(col("vec_id"), lit(11)) === 3)
        .select(col("vec_id"), lit(1L).as("seq"))
      val nDead = dead.count()
      Ivf.deleteFromIndex(dead, dir, seqCol = Some("seq"))
      def probe() = IvfPq.probeIndex(
        emb.filter(col("vec_id") < 16), dir, k = 3, nProbe = 4,
        shortlist = 24).localCheckpoint()
      val want = probe()
      assert(want.join(dead, want("nid") === dead("vec_id"), "left_semi")
        .count() == 0, "a tombstoned id surfaced in a probe")
      // compaction folds the tombstones; the probe is UNCHANGED (the
      // live set is identical before and after by construction)
      val (before, removed, after) = Ivf.compactIndex(spark, dir)
      assert(before == total && removed == nDead && after == total - nDead)
      assert(!new java.io.File(s"$dir/tombstones").isDirectory)
      val got = probe()
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "compaction changed probe results")
      def f(name: String) = new java.io.File(s"$dir/$name")
      def recovered(): Unit = {
        Ivf.compactIndex(spark, dir)
        Seq("assigned_retraining", "centroids_new", "centroids_old",
          "assigned_old", "assigned_compacting").foreach(n =>
          assert(!f(n).exists(), s"$n survived recovery"))
        val g = probe()
        assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
          "probe changed across crash recovery")
      }
      // crash states on the COMPOSED layout (the Round12 replay): the
      // window between the two centroid renames; a complete staged
      // pair; a dead half-staging; a complete compacting table
      cpTree(f("centroids"), f("centroids_new"))
      assert(f("centroids").renameTo(f("centroids_old")))
      recovered()
      cpTree(f("assigned"), f("assigned_retraining"))
      cpTree(f("centroids"), f("centroids_new"))
      recovered()
      cpTree(f("assigned"), f("assigned_retraining"))
      recovered()
      cpTree(f("assigned"), f("assigned_compacting"))
      recovered()
      // partial retrain on the composed layout: rows conserved, the
      // codes AND seq payload ride the rewrite, probes stay served,
      // sequenced maintenance still works after
      val liveBefore = Ivf.liveAssigned(spark, dir).count()
      val (nHot, newIds) = Ivf.partialRetrain(spark, dir,
        cells = Seq(0, 1), kNew = 4)
      assert(nHot > 0 && newIds.size == 4)
      val live = Ivf.liveAssigned(spark, dir)
      assert(live.count() == liveBefore, "retrain lost or duplicated rows")
      assert(live.columns.toSet ==
        Set("vec_id", "cluster", "cu", "codes", "seq"),
        "retrain dropped a payload column")
      val g2 = probe()
      assert(g2.count() == want.count(), "probe broke after retrain")
      assert(g2.join(dead, g2("nid") === dead("vec_id"), "left_semi")
        .count() == 0, "a compacted-away id resurfaced after retrain")
      Ivf.deleteFromIndex(emb.filter(col("vec_id") === 5L)
        .select(col("vec_id"), lit(2L).as("seq")), dir, seqCol = Some("seq"))
      assert(Ivf.liveAssigned(spark, dir)
        .filter(col("vec_id") === 5L).count() == 0,
        "sequenced tombstone did not apply after retrain")
    } finally graft.io.Sources.removeScratchDir(dir)
  }

  test("persistedIndex memo is keyed by every build parameter") {
    import graft.sim.{Ivf, IvfPq}
    val d16 = IvfPq.persistedIndex(spark, sf001, nClusters = 16, m = 16, ksub = 16)
    val d8 = IvfPq.persistedIndex(spark, sf001, nClusters = 16, m = 8, ksub = 16)
    assert(d8 != d16, "a build with another m was answered by the first index")
    assert(IvfPq.loadModel(spark, d8).map(_.codebooks.length) == Some(8))
    assert(IvfPq.loadModel(spark, d16).map(_.codebooks.length) == Some(16))
    // same parameters: the memo answers with the same directory
    assert(IvfPq.persistedIndex(spark, sf001, nClusters = 16, m = 8,
      ksub = 16) == d8)
    // the plain layout never shares an entry with an IVF-PQ build
    val plain = Ivf.persistedIndex(spark, sf001, nClusters = 16)
    assert(plain != d16 && IvfPq.loadModel(spark, plain).isEmpty)
  }

  test("Ivf.appendToIndex encodes PQ codes from the stored codebooks, and none on a plain index") {
    import graft.sim.{Ivf, IvfPq, Pq}
    val emb = graft.io.Sources.table(spark, sf001, "embeddings")
      .filter(col("embedding").isNotNull).localCheckpoint()
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val nDelta = delta.count()
    assert(nDelta > 0, "empty delta batch; test is vacuous")
    graft.io.Sources.withScratch("graft_append_pq_spec") { dir =>
      IvfPq.persistIndex(base, dir, dim = 64, nClusters = 8, m = 8, ksub = 16)
      Ivf.appendToIndex(delta, dir)
      val model = IvfPq.loadModel(spark, dir).get
      val appended = Ivf.liveAssigned(spark, dir)
        .join(delta.select("vec_id"), Seq("vec_id"), "left_semi")
      assert(appended.count() == nDelta)
      val bad = appended
        .filter(col("codes") =!= Pq.codesFromUnit(col("cu"), model)).count()
      assert(bad == 0L, s"$bad appended rows carry codes Pq.codesFromUnit does not derive")
    }
    graft.io.Sources.withScratch("graft_append_ivf_spec") { dir =>
      Ivf.persistIndex(base, dir, nClusters = 8)
      Ivf.appendToIndex(delta, dir)
      val live = Ivf.liveAssigned(spark, dir)
      assert(live.columns.toSet == Set("vec_id", "cluster", "cu"),
        s"plain index gained columns: ${live.columns.mkString(", ")}")
      assert(live.count() == base.count() + nDelta)
    }
  }

  test("partialRetrain keeps cluster ids dense: appends and full probes route to stored centroids") {
    import graft.sim.{Ivf, Similarity}
    val emb = graft.io.Sources.table(spark, sf001, "embeddings")
      .filter(col("embedding").isNotNull).localCheckpoint()
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    graft.io.Sources.withScratch("graft_retrain_dense_spec") { dir =>
      Ivf.persistIndex(base, dir, nClusters = 8)
      // three flagged cells, two new ones: the retrain frees one id
      Ivf.partialRetrain(spark, dir, cells = Seq(0, 1, 2), kNew = 2)
      Ivf.appendToIndex(delta, dir)
      val ids = Ivf.centroids(spark, dir).map(_._1).toSeq
      val appended = Ivf.liveAssigned(spark, dir)
        .join(delta.select("vec_id"), Seq("vec_id"), "left_semi")
      val strays = appended.filter(!col("cluster").isin(ids: _*))
        .select("cluster").distinct().collect().map(_.getInt(0))
      assert(strays.isEmpty, s"appended rows routed to cluster ids " +
        s"${strays.mkString(", ")}, which no stored centroid has (${ids.mkString(", ")})")
      // probing every cell must find exactly the brute-force top-k
      val queries = emb.filter(col("vec_id") < 20)
      val got = Ivf.probeIndex(queries, dir, k = 5, nProbe = ids.size)
        .select("qid", "nid")
      val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
        .select("qid", "nid")
      assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
        "a probe of every cell missed brute-force neighbours")
    }
  }

  test("only sim/Ivf.scala and sim/IvfPq.scala spell an index sub-path under src/main") {
    // the layout has one owner; a module that spells `s"$dir/assigned"`
    // or `new File(dir, "centroids")` itself has forked it again
    val tokens = Seq("assigned", "centroids", "codebooks", "tombstones", "_seqcol")
      .flatMap(n => Seq(s"""/$n"""", s""""$n")"""))
    val root = java.nio.file.Paths.get("src/main/scala")
    val (offenders, _) = SourceScan.sourceHits(root, tokens)
    val owners = Seq("graft/sim/Ivf.scala:", "graft/sim/IvfPq.scala:")
    assert(offenders.exists(o => owners.exists(o.startsWith)),
      s"no index layout owner found under $root")
    val strays = offenders.filterNot(o => owners.exists(o.startsWith))
    assert(strays.isEmpty,
      s"index sub-paths spelled outside Ivf/IvfPq:\n${strays.mkString("\n")}")
  }

  test("IVF-PQ probes honor tombstones and survive compaction (shared liveAssigned path)") {
    // q323 oracle-gates the IVF side; this pins that the COMPOSED index
    // reads through the same tombstone-aware path.
    import graft.sim.IvfPq
    import org.apache.spark.sql.functions._
    val emb = graft.io.Sources.table(spark, sf001, "embeddings")
      .filter(col("embedding").isNotNull).localCheckpoint()
    val dir = graft.io.Sources.scratchDir("graft_ivfpq_del_spec")
    try {
      IvfPq.persistIndex(emb, dir, dim = 64, nClusters = 16, m = 8, ksub = 16)
      val q = emb.filter(col("vec_id") < 20)
      def probe() = IvfPq.probeIndex(q, dir, k = 3, nProbe = 8, shortlist = 16)
        .select("qid", "nid", "rank").localCheckpoint()
      val pre = probe()
      assert(pre.filter(pmod(col("nid"), lit(5)) === 2).count() > 0,
        "planted delete slice never surfaced pre-delete; test is vacuous")
      graft.sim.Ivf.deleteFromIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 2).select("vec_id"), dir)
      val mid = probe()
      assert(mid.filter(pmod(col("nid"), lit(5)) === 2).count() == 0,
        "tombstoned ids still surfaced from the IVF-PQ probe")
      val (before, removed, after) = graft.sim.Ivf.compactIndex(spark, dir)
      assert(after == before - removed && removed > 0)
      val post = probe()
      assert(mid.exceptAll(post).isEmpty && post.exceptAll(mid).isEmpty,
        "IVF-PQ probe results changed across compaction")
    } finally graft.io.Sources.removeScratchDir(dir)
  }

  test("Pq.codesFromUnit on stored unit vectors reproduces encode's codes verbatim") {
    // q322's roundtrip gate must re-derive codes from the PERSISTED cu
    // floats without re-normalization (withUnitVec drift ~1 ulp can flip
    // a Voronoi-boundary assignment) — pin that the no-renorm path agrees
    // with encode on encode's own output.
    import graft.sim.Pq
    val emb = graft.io.Sources.table(spark, sf001, "embeddings")
      .filter(col("embedding").isNotNull)
    val model = Pq.fit(emb, dim = 64, m = 8, ksub = 16)
    val enc = Pq.encode(emb, model)
    val recoded = enc.select(col("codes").as("codes0"),
      Pq.codesFromUnit(col("cu"), model).as("codes1"))
    val bad = recoded.filter(col("codes0") =!= col("codes1")).count()
    assert(bad == 0L, s"$bad rows re-encoded differently from their stored cu")
  }
}

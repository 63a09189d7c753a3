package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 pins: the q297 residual accumulator (per-run child sessions
  * permanently registering StreamingQueryListenerBus instances on the
  * shared LiveListenerBus) and the q322 roundtrip-gate encoding path.
  */
class Round10Spec extends AnyFunSuite with SparkSpec {

  /** Number of StreamingQueryListenerBus instances registered on the
    * SparkContext's shared LiveListenerBus. `listenerBus` is
    * private[spark] (public in bytecode), so reflection reads it —
    * test-only introspection, no production dependency. */
  private def streamingBusCount: Int = {
    val sc = spark.sparkContext
    val lb = sc.getClass.getMethod("listenerBus").invoke(sc)
    val ls = lb.getClass.getMethod("listeners").invoke(lb)
      .asInstanceOf[java.util.List[_]]
    import scala.jdk.CollectionConverters._
    ls.asScala.count(_.getClass.getName.contains("StreamingQueryListenerBus"))
  }

  test("repeated streaming runs do not grow the shared listener-bus population") {
    // r9 verdict: q297 grew +31% over 4 in-session runs; each run's fresh
    // newSession() registered one more StreamingQueryListenerBus on the
    // shared LiveListenerBus (its constructor addToQueue's itself, and
    // nothing removes it), so EVERY later Spark event in the marathon was
    // dispatched through one more listener per past streaming run.
    // withStatePartitions now caches child sessions per (parent, n) —
    // the population must be flat run-over-run, not linear in runs.
    graft.streaming.StreamingDemand.runToBatch(spark, sf001).collect()
    val after1 = streamingBusCount
    graft.streaming.StreamingDemand.runToBatch(spark, sf001).collect()
    graft.streaming.StreamingDemand.runToBatch(spark, sf001).collect()
    graft.streaming.StreamingDemand.runLateDropToBatch(spark, sf001).collect()
    val after4 = streamingBusCount
    assert(after4 == after1,
      s"listener buses grew $after1 -> $after4 across 3 more streaming runs " +
        "(per-run session leak is back)")
  }

  test("parent-session foreachBatch streams don't accumulate listener buses either") {
    graft.streaming.StreamingUpsert.runLatestWinsToBatch(spark, sf001).collect()
    val after1 = streamingBusCount
    graft.streaming.StreamingUpsert.runLatestWinsToBatch(spark, sf001).collect()
    graft.streaming.StreamingOhlc.runOhlcToBatch(spark, sf001).collect()
    val after3 = streamingBusCount
    assert(after3 == after1,
      s"listener buses grew $after1 -> $after3 across 2 more parent-session runs")
  }

  test("only streaming/Replay.scala starts, drives or stages a stream under src/main") {
    // the finite-replay policy (sink naming, drain, stop, stage cleanup,
    // listener-bus sweep) lives in one driver; a runner that calls these
    // itself has forked it again
    val tokens = Seq(".writeStream", "processAllAvailable", "maxFilesPerTrigger")
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      sources.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        tokens.filter(text.contains).map(t => s"${root.relativize(p)}: $t")
      }.toList
    } finally sources.close()
    assert(offenders.nonEmpty, s"no stream driver found under $root")
    assert(offenders.forall(_.startsWith("graft/streaming/Replay.scala:")),
      s"stream plumbing outside the Replay driver:\n${offenders.mkString("\n")}")
  }

  test("cached child sessions still isolate shuffle-partition conf from the parent") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    graft.streaming.StreamingDemand.runToBatch(spark, sf001).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "streaming run mutated the parent session conf")
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

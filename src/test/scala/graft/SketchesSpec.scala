package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sketch.Sketches
import graft.graph.GraphOps

class SketchesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("kmvDistinct: under-k groups report the exact distinct count") {
    val df = Seq.tabulate(40)(i => (s"g${i % 2}", i / 2)).toDF("g", "k")
    val out = Sketches.kmvDistinct(df, col("k"), Seq("g"), k = 64)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g0").getAs[Long]("n_kept") == 20)
    assert(out("g0").getAs[Long]("est_distinct") == 20)
  }

  test("kmvDistinct: estimate is within 3/sqrt(k) of truth at k=256") {
    val n = 20000
    val df = (1 to n).toDF("k").withColumn("g", lit("all"))
    val est = Sketches.kmvDistinct(df, col("k"), Seq("g"), k = 256)
      .head().getAs[Long]("est_distinct")
    val rel = math.abs(est.toDouble - n) / n
    assert(rel < 3.0 / math.sqrt(256), s"est=$est rel=$rel")
  }

  test("kmvSlidingDistinct: under-k windows are exact; partial leading " +
    "windows included; merge equals whole-window sketch") {
    // days 0..2, users overlap across days: day0={1..5}, day1={4..8},
    // day2={8..12}; with k >= union size every window is exact
    val rows = (1 to 5).map(u => (0L, u)) ++ (4 to 8).map(u => (1L, u)) ++
      (8 to 12).map(u => (2L, u))
    val df = rows.toDF("d", "u")
    val out = Sketches.kmvSlidingDistinct(df, col("u"), col("d"),
        k = 64, window = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("est_distinct")).toMap
    assert(out == Map(0L -> 5L, 1L -> 8L, 2L -> 12L), s"got $out")
    // at small k the merged window-3 sketch must equal the sketch built
    // directly on the pooled 3 days (min-k of min-k's = global min-k)
    val merged = Sketches.kmvSlidingDistinct(df, col("u"), col("d"),
        k = 4, window = 3)
      .filter(col("td") === 2L).head()
    val pooled = Sketches.kmvDistinct(
        df.withColumn("g", lit("w")), col("u"), Seq("g"), k = 4)
      .head()
    assert(merged.getAs[Long]("theta") == pooled.getAs[Long]("theta"))
    assert(merged.getAs[Long]("est_distinct") ==
      pooled.getAs[Long]("est_distinct"))
  }

  test("kmvSetOps: disjoint sets estimate zero intersection") {
    val df = ((1 to 500).map(i => (i, true, false)) ++
      (1001 to 1500).map(i => (i, false, true))).toDF("k", "a", "b")
    val r = Sketches.kmvSetOps(df, col("k"), col("a"), col("b"), k = 64).head()
    assert(r.getAs[Long]("n_both") == 0)
    assert(r.getAs[Long]("jaccard_ppm") == 0)
  }

  test("kmvSetOps: identical sets estimate full overlap") {
    val df = (1 to 500).map(i => (i, true, true)).toDF("k", "a", "b")
    val r = Sketches.kmvSetOps(df, col("k"), col("a"), col("b"), k = 64).head()
    assert(r.getAs[Long]("jaccard_ppm") == 1000000L)
    assert(r.getAs[Long]("est_intersection") == r.getAs[Long]("est_union"))
  }

  test("count-min: estimate never undercounts, exact when collision-free") {
    val df = (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"k$i")).toDF("k")
    val sk = Sketches.countMinBuild(df, col("k"), depth = 3, width = 1024)
    val exact = df.groupBy("k").agg(count(lit(1)).as("exact"))
    val got = Sketches.countMinQuery(sk, exact, col("k"), 3, 1024)
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"))
    }
    // 31 keys into 3x1024 cells: the min over 3 rows is exact w.h.p.
    val hot = got.find(_.getString(0) == "hot").get
    assert(hot.getAs[Long]("est") == 50)
  }

  test("count-min: a probe key the build never saw estimates 0, not vanish") {
    val sk = Sketches.countMinBuild(Seq("a", "b").toDF("k"), col("k"), 3, 1024)
    val probes = Seq(("a", 1L), ("never-seen", 0L)).toDF("k", "exact")
    val got = Sketches.countMinQuery(sk, probes, col("k"), 3, 1024)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
    assert(got.keySet == Set("a", "never-seen"))
    assert(got("never-seen") == 0L)
    assert(got("a") >= 1L)
  }

  test("bloom: no false negatives, word table bounded by m/64") {
    val build = (1 to 200).toDF("k")
    val words = Sketches.bloomBuild(build, col("k"), numHashes = 3, m = 4096)
    assert(words.count() <= 64)
    val probe = (1 to 400).toDF("k")
    val out = Sketches.bloomProbe(words, probe, col("k"), 3, 4096, "pass")
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    (1 to 200).foreach(k => assert(out(k), s"false negative on $k"))
  }

  test("distributionProfile: uniform maxes entropy, point mass zeroes it") {
    val df = ((1 to 64).map(i => ("uni", i % 4)) ++
      (1 to 64).map(_ => ("point", 7))).toDF("g", "v")
    val out = Sketches.distributionProfile(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("point").getAs[Long]("entropy_micro") == 0)
    assert(out("point").getAs[Long]("gini_micro") == 0)
    // uniform over 4 values: entropy = ln 4 = 1.386294 nats, gini = 0.75
    assert(math.abs(out("uni").getAs[Long]("entropy_micro") - 1386294L) <= 4)
    assert(out("uni").getAs[Long]("gini_micro") == 750000L)
  }

  test("coOccurrenceEdges: hub groups are dropped, pairs are i<j distinct") {
    val df = (Seq(("small", 1), ("small", 2), ("small", 3)) ++
      (1 to 10).map(i => ("hub", i)) ++
      Seq(("dup", 1), ("dup", 2), ("dup", 2))).toDF("g", "it")
    val edges = GraphOps.coOccurrenceEdges(df, "g", "it", maxGroupSize = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(edges == Set((1, 2), (1, 3), (2, 3)))
  }

  test("kCorePeel: strips the tail, keeps the clique") {
    // K4 on 1..4 plus a pendant path 4-5-6: 2-core = the K4 exactly
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i, j)
    val edges = (k4 ++ Seq((4, 5), (5, 6))).toDF("i", "j")
    val core = GraphOps.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getAs[Int]("v") -> r.getAs[Long]("deg")).toMap
    assert(core.keySet == Set(1, 2, 3, 4))
    assert(core.values.forall(_ == 3))
  }

  test("bfsHops: exact distances within the hop bound, unreached absent") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4)=1, dist(3)=2, dist(5)=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("i", "j")
    val d = GraphOps.bfsHops(edges, source = 1L, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // rounds=1 must not reach the 2-hop shell
    val d1 = GraphOps.bfsHops(edges, source = 1L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("kCoreOracleCtes unrolls the requested number of rounds") {
    val sql = GraphOps.kCoreOracleCtes(k = 2, rounds = 4)
    assert(sql.contains("ed4") && !sql.contains("ed5"))
    assert(sql.contains("kcore AS"))
  }

  test("streaming KMV merge is hash-identical to the one-shot batch build") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingSketch
      .runKmvToBatch(spark, sf001, k = 64)
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = graft.io.Sources.table(spark, sf001, "events")
      .select(graft.ops.Exprs.md5Long(col("user_id")).as("h"))
      .distinct().orderBy(col("h").asc).limit(64)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch, "stream KMV must equal batch bottom-k exactly")
  }

  test("bottomKSketch: equals the window-computed bottom-k at any partitioning") {
    val df = (1 to 5000)
      .map(i => (i.toLong, (i * 37 % 1000).toDouble)).toDF("id", "v")
    def sketchOf(parts: Int): Seq[(Long, Double)] =
      df.repartition(parts)
        .agg(Sketches.bottomKSketch(
          graft.ops.Exprs.md5Long(col("id")), col("v"), 128).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.h"), col("e.v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = df
      .select(graft.ops.Exprs.md5Long(col("id")).as("h"), col("v"))
      .orderBy("h", "v").limit(128)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // merge order must not matter: 1 partition ≡ 13 partitions ≡ exact
    assert(sketchOf(1) == exact, "single-partition sketch != exact bottom-k")
    assert(sketchOf(13) == exact, "multi-partition merge != exact bottom-k")
  }

  test("bottomKSketch: under-k input is the whole (sorted) input") {
    val df = Seq((5L, 3.0), (1L, 9.0), (3L, 1.0)).toDF("id", "v")
    val sk = df.agg(Sketches.bottomKSketch(col("id"), col("v"), 10).as("sk"))
      .select(explode(col("sk")).as("e")).select(col("e.h"), col("e.v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sk == Seq((1L, 9.0), (3L, 1.0), (5L, 3.0)))
  }

  test("mergeBottomKQuantiles reads ONLY the persisted sketch table") {
    // the q258 estimate path must never touch raw events — the whole
    // point of persisting per-day sketches (q130's probe-only contract)
    val dir = graft.io.Sources.scratchDir("graft_qsketch_test")
    graft.io.Sources.table(spark, sf001, "events")
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        Sketches.bottomKSketch(
          graft.ops.Exprs.md5Long(col("event_id")), col("value"), 64).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val est = Sketches.mergeBottomKQuantiles(
      spark.read.parquet(dir), col("sk"), col("n"), 64, Seq(0.5))
    val offending = est.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten.filterNot(_.contains("graft_qsketch_test"))
    assert(offending.isEmpty, s"merge path scans beyond the sketch: $offending")
    val row = est.head()
    assert(row.getAs[Long]("m") == 64)
    assert(!row.isNullAt(row.fieldIndex("q500")))
  }
}

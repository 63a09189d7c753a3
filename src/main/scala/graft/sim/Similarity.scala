package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an `Array[Float]` embedding column.
 *
 * Two paths:
 *  - brute-force cosine top-k: the correctness baseline. The query set is
 *    broadcast against the corpus, so the corpus never shuffles — at
 *    100 TB this is a map-side loop over corpus partitions.
 *  - LSH-bucketed ANN (random ±1 hyperplanes): corpus is bucketed by an
 *    8-bit signature; queries probe only their own bucket. Sub-linear
 *    candidate sets at the cost of recall; the hyperplanes are md5-derived
 *    constants so the DuckDB oracle replays the bucketing exactly.
 *
 * All dot products cast float→double BEFORE multiplying and accumulate
 * left-to-right, so the result is bit-identical to the oracle's
 * double-list accumulation.
 */
object Similarity {

  /** Double-precision dot product of two float/double array columns —
   * the native [[graft.functions.DoubleDotProduct]] kernel (bit-identical
   * to the `aggregate(zip_with(...))` spelling, which Spark interprets
   * per element and which dominated the ANN profile). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.DoubleDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 when either side has zero norm). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, 0.0).otherwise(d / nn)
  }

  /**
   * Unit-normalized double vector via the native [[graft.functions.UnitVec]]
   * kernel — one codegen'd call per row. The Column spelling
   * ([[unitVecExpr]], kept as the parity reference) interprets the
   * division per element and lets CollapseProject re-inline the norm
   * into the lambda (recomputing it per element). Zero vectors map to
   * zero vectors.
   *
   * Rows with a NULL vector are dropped — they can never score (every
   * dot with them is null), and left in they surface as null-sim
   * ranked rows whenever a query has fewer than k real candidates
   * (and, on the LSH paths, land in bucket 0, skewing its volume).
   * Every similarity entry point normalizes through here, so this is
   * the one null gate (same contract as [[graft.sim.Ivf.buildIndex]]).
   */
  def withUnitVec(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    df.filter(col(vecCol).isNotNull)
      .withColumn(outCol, ColumnBridge.column(
        graft.functions.UnitVec(ColumnBridge.expression(col(vecCol)))))
  }

  /** Expression-only spelling of [[withUnitVec]]'s output column
   * (parity reference). */
  private[graft] def unitVecExpr(vec: Column): Column = {
    val nrm = norm(vec)
    transform(vec, x => when(nrm === 0, 0.0).otherwise(x.cast("double") / nrm))
  }

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest corpus
   * vectors (self excluded when ids collide). Both sides pre-normalized →
   * per pair exactly one dot product. Query side is broadcast — keep it
   * bounded (batches of ~1e3-1e4 queries); the corpus side streams
   * map-side, no corpus shuffle until the per-query top-k window.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withUnitVec(queries, vecCol, "qu").select(col(idCol).as("qid"), col("qu"))
    val c = withUnitVec(corpus, vecCol, "cu").select(col(idCol).as("nid"), col("cu"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(dot(col("qu"), col("cu")), 4))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("sim"))
  }

  /** All pairs (i<j) above a cosine threshold — embedding near-dup
   * detection, pre-normalized per row. Quadratic: use only on BOUNDED
   * slices (fixed absolute size at any corpus scale — e.g. an id-bounded
   * probe set); the full-corpus scale path is [[cosineNearDupPairsBanded]].
   *
   * The unit-vec projection is `localCheckpoint`ed once (Catalyst's
   * CollapseProject would otherwise inline the per-element normalization
   * into the join and recompute it PER PAIR — O(pairs·dim) interpreted
   * work), and the right side is broadcast: the bounded slice fits in a
   * broadcast variable, so the pair loop is a BroadcastNestedLoopJoin
   * streaming the left side map-side — no cartesian shuffle. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val u = withUnitVec(corpus, vecCol, "u")
      .select(col(idCol), col("u")).localCheckpoint()
    val a = u.select(col(idCol).as("i"), col("u").as("ua"))
    val b = u.select(col(idCol).as("j"), col("u").as("ub"))
    a.crossJoin(broadcast(b)).filter(col("i") < col("j"))
      .withColumn("sim", round(dot(col("ua"), col("ub")), 4))
      .filter(col("sim") >= threshold)
      .select("i", "j", "sim")
  }

  /**
   * Embedding near-dup pairs AT SCALE via banded LSH (OR-amplification,
   * the random-hyperplane analogue of MinHash banding): each vector gets
   * `bands` independent bucket ids (map-side, `rowsPerBand` hyperplane
   * signs each); a pair is a CANDIDATE when any band's buckets collide;
   * candidates are deduped, then verified with one exact cosine. Candidate
   * volume drops from O(n²) to Σ_band Σ_b |bucket|², and the shuffles are
   * the (band,bucket) equi-join + the two id-joins that re-attach vectors.
   *
   * Recall for a pair at cosine s: per plane p = 1 - arccos(s)/π, so
   * 1 - (1 - p^rowsPerBand)^bands — with the 4×4 default ≈ 0.50 at
   * s=0.4 and ≈ 1.0 for near-identical pairs. A single AND-only bucket
   * (bands=1) misses even 0.99-cosine pairs ~30% of the time; banding is
   * what makes the scale path usable.
   */
  /** Corpus-adaptive band width: smallest `bits` with 2^bits ≥ ⌈n/32⌉
    * (≈32 vectors per bucket on average), clamped to [4, 16]. A FIXED
    * bucket count is the classic LSH scale trap — candidates grow
    * O(n²/buckets), so a corpus 10× bigger pays ~100× the verify cost
    * (measured: q59 at 16 fixed buckets went 0.55 s → 48 s on 10×
    * data). Growing bits like log₂(n) holds the per-bucket load — and
    * the candidate volume — linear in the corpus. Integer-exact
    * (no float log2 at the boundary), mirrored by the oracle's
    * corrected pow/log2 CASE. */
  def adaptiveBandBits(n: Long): Int = {
    val m = (n + 31L) / 32L
    val k0 = if (m <= 1L) 0
             else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.min(16, math.max(4, k0))
  }

  def cosineNearDupPairsBanded(corpus: DataFrame, threshold: Double, dim: Int,
                               bands: Int = 4, rowsPerBand: Int = 4,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               planeStride: Int = -1): DataFrame = {
    // ONE corpus pass projects everything downstream needs — the unit
    // vector plus every band's bucket id — and localCheckpoint
    // materializes that bounded (id, u, buckets) signature table on
    // executor storage. Candidate generation (band self-join) and cosine
    // verification (two id-joins) then read the materialized projection:
    // 1 corpus scan total, where deriving each from `corpus` separately
    // planned 4 full FileSourceScans of the same file.
    val stride = if (planeStride > 0) planeStride else rowsPerBand
    val sig = withUnitVec(corpus, vecCol, "u")
      .select(col(idCol), col("u"),
        array((0 until bands).map(b =>
          bandBucket(col(vecCol), dim, b, rowsPerBand, stride)): _*).as("buckets"))
      .localCheckpoint()
    val bucketed = sig.select(col(idCol),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val a = bucketed.select(col(idCol).as("i"), col("band"), col("bucket"))
    val b = bucketed.select(col(idCol).as("j"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    cand
      .join(sig.select(col(idCol).as("i"), col("u").as("ua")), Seq("i"))
      .join(sig.select(col(idCol).as("j"), col("u").as("ub")), Seq("j"))
      .withColumn("sim", round(dot(col("ua"), col("ub")), 4))
      .filter(col("sim") >= threshold)
      .select("i", "j", "sim")
  }

  val numPlanes = 8

  /** Deterministic ±1 hyperplane sign for (plane, dim): +1 when the first
   * md5 hex digit of "p_d" is even. Reproducible in SQL. */
  private def planeSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes("UTF-8"))
    val firstHexDigit = (md(0) >> 4) & 0xF
    if (firstHexDigit % 2 == 0) 1.0 else -1.0
  }

  /** Signed sum for one hyperplane: sum_d sign(p,d) * x_d. */
  private def planeDot(vec: Column, p: Int, dim: Int): Column =
    dot(vec, lit((0 until dim).map(d => planeSign(p, d)).toArray))

  /** 8-bit LSH bucket id from random-hyperplane signs. */
  def lshBucket(vec: Column, dim: Int): Column =
    (0 until numPlanes).map { p =>
      when(planeDot(vec, p, dim) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** `rowsPerBand`-bit bucket id for one band: planes
   * [band*rowsPerBand, (band+1)*rowsPerBand), bit i from plane
   * band*rowsPerBand+i. Band 0 with rowsPerBand = numPlanes is exactly
   * [[lshBucket]]. */
  /** `rowsPerBand`-bit bucket for `band`; bit i comes from hyperplane
    * band·stride + i. A stride LARGER than rowsPerBand (e.g. 16) keeps
    * the plane layout FIXED while the bit count adapts to the corpus
    * ([[adaptiveBandBits]]) — so a static SQL oracle can emit all
    * `stride` terms and mask to 2^bits, landing on identical buckets. */
  def bandBucket(vec: Column, dim: Int, band: Int, rowsPerBand: Int,
                 planeStride: Int = -1): Column = {
    val stride = if (planeStride > 0) planeStride else rowsPerBand
    (0 until rowsPerBand).map { i =>
      when(planeDot(vec, band * stride + i, dim) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /**
   * OR-amplified banded LSH top-k — [[lshTopK]]'s recall fix: a corpus
   * vector is a candidate when ANY of `bands` independent
   * `rowsPerBand`-bit buckets collides with the query's (a single
   * AND-only 2^8 bucket misses ~30% of even 0.99-cosine neighbors; with
   * 4×4 banding the miss probability for near-identical vectors is
   * ~(1-p^4)^4 ≈ 0). The corpus signature (id, unitVec, band buckets) is
   * projected in ONE pass and localCheckpointed — candidate generation
   * and re-ranking read the materialized projection; the bounded query
   * side broadcasts, so the corpus never shuffles before the per-query
   * top-k window.
   */
  def bandedLshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                    bands: Int = 4, rowsPerBand: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    def sig(df: DataFrame, id: String, u: String, b: String) =
      withUnitVec(df, vecCol, u).select(col(idCol).as(id), col(u),
        array((0 until bands).map(bb =>
          bandBucket(col(vecCol), dim, bb, rowsPerBand)): _*).as(b))
    val cSig = sig(corpus, "nid", "cu", "cb").localCheckpoint()
    val qSig = sig(queries, "qid", "qu", "qb")
    val cB = cSig.select(col("nid"), posexplode(col("cb")).as(Seq("band", "bucket")))
    val qB = qSig.select(col("qid"), posexplode(col("qb")).as(Seq("band", "bucket")))
    val cand = cB.join(broadcast(qB), Seq("band", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val scored = cand
      .join(cSig.select("nid", "cu"), Seq("nid"))
      .join(broadcast(qSig.select("qid", "qu")), Seq("qid"))
      .withColumn("sim", round(dot(col("qu"), col("cu")), 4))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("sim"))
  }

  /**
   * Bucketed ANN top-k: corpus bucketed once, each query probes only its
   * own bucket. Joins on the bucket id — a plain shuffle/broadcast
   * equi-join; candidate count per query ≈ corpus/2^8. For the
   * recall-amplified variant see [[bandedLshTopK]].
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withUnitVec(queries, vecCol, "qu").select(col(idCol).as("qid"),
      col("qu"), lshBucket(col(vecCol), dim).as("bucket"))
    val c = withUnitVec(corpus, vecCol, "cu").select(col(idCol).as("nid"),
      col("cu"), lshBucket(col(vecCol), dim).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(dot(col("qu"), col("cu")), 4))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("bucket"), col("nid"),
        col("rank").cast("long").as("rank"), col("sim"))
  }

  /**
   * Semantic dedup over embeddings (the SemDeDup recipe, Abbas et al.
   * 2023): k-means-partition the corpus ([[Ivf.buildIndex]] — seeded,
   * deterministic), then WITHIN each cell drop every vector that has a
   * lower-id neighbor at cosine ≥ `tauMicro` (micro-units; the greedy
   * keep-lowest-id rule, same determinism contract as the text dedup
   * family). The quadratic pair pass is confined to a cell — that
   * bounding is the algorithm's entire point: size `nClusters` ~
   * sqrt(corpus) so cells stay ~sqrt(N) and the per-cell work stays
   * flat as the corpus grows. One corpus pass projects
   * (id, cluster, unit-vec) and is localCheckpointed; the cell
   * self-join and the decision join both read that bounded projection
   * (the q59 single-scan discipline).
   *
   * Returns one row per vector: (id, cluster, keeper_id,
   * keeper_sim_micro, is_kept) — keeper_id is the smallest-id
   * near-duplicate that caused the drop (null for kept rows).
   */
  def semDedup(corpus: DataFrame, nClusters: Int, tauMicro: Long,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val index = Ivf.buildIndex(corpus, nClusters, idCol, vecCol)
    val u = withUnitVec(index.assigned, vecCol, "u")
      .select(col(idCol).as("id"), col("cluster"), col("u"))
      .localCheckpoint()
    val a = u.select(col("id").as("i"), col("cluster"), col("u").as("ua"))
    val b = u.select(col("id").as("j"), col("cluster"), col("u").as("ub"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("i") < col("j"))
      .withColumn("sim_micro", round(dot(col("ua"), col("ub")) * 1e6, 0).cast("long"))
      .filter(col("sim_micro") >= tauMicro)
      .groupBy(col("j").as("id"))
      // keeper_sim_micro must be the similarity TO keeper_id (min_by),
      // not an independent max over all qualifying neighbors
      .agg(min("i").as("keeper_id"),
        min_by(col("sim_micro"), col("i")).as("keeper_sim_micro"))
    u.select("id", "cluster")
      .join(dropped, Seq("id"), "left")
      .withColumn("is_kept", col("keeper_id").isNull)
  }

  /**
   * Maximal-marginal-relevance (MMR, Carbonell & Goldstein '98)
   * diversified selection: greedily pick `k` results per query
   * maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), with λ = 0.7
   * staged as the INTEGER score `7·rel − 3·maxsim` (argmax-equivalent,
   * ×10) so every round replays exactly. Inputs are integer-scored:
   * `shortlist(qid, nid, simi)` (relevance, already top-N-bounded per
   * query) and `pairSims(qid, i, j, psim)` (candidate-candidate
   * similarity, both orientations). Pick 1 is pure argmax relevance
   * (empty-set maxsim = 0); each later round is one anti-join (drop
   * selected), one equi-join + keyed max (maxsim against the selected
   * set), and one per-query row_number pick — all on tables bounded by
   * queries × shortlist width, so the k−1 unrolled rounds cost nothing
   * at any corpus scale (the corpus was left behind at shortlist
   * construction). Ties break to the smallest nid. Returns
   * (qid, nid, simi, ms, pick).
   */
  def mmrSelect(shortlist: DataFrame, pairSims: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"mmrSelect requires k >= 1 (got $k)")
    val wq = Window.partitionBy("qid")
    var sel = shortlist
      .withColumn("rn", row_number().over(
        wq.orderBy(col("simi").desc, col("nid"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nid"), col("simi"),
        lit(0L).as("ms"), lit(1L).as("pick"))
      .localCheckpoint()
    (2 to k).foreach { r =>
      val selJ = sel.select(col("qid"), col("nid").as("j"))
      val psSel = pairSims.join(selJ, Seq("qid", "j"))
        .withColumnRenamed("i", "nid")
      val cand = shortlist.join(sel.select("qid", "nid"),
        Seq("qid", "nid"), "left_anti")
      val pick = cand.join(psSel.select("qid", "nid", "psim"), Seq("qid", "nid"))
        .groupBy("qid", "nid", "simi").agg(max("psim").as("ms"))
        .withColumn("rn", row_number().over(
          wq.orderBy((col("simi") * 7 - col("ms") * 3).desc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"), col("simi"), col("ms"),
          lit(r.toLong).as("pick"))
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel
  }
}

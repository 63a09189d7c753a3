package graft.sim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * IVF-PQ: the production billion-vector ANN composition (the faiss
 * `IVFx,PQy` index; Jégou et al. 2011 §V) — [[Ivf]] prunes the corpus to
 * the probed cells, [[Pq]] codes score the in-cell candidates by ADC
 * table lookups, and only the ADC shortlist touches raw vectors for the
 * exact re-rank. Each half is oracle-gated on its own (q130 / q261);
 * this composes them behind one persisted index:
 *
 *   - build once: cluster assignment + PQ codes + unit vectors in ONE
 *     corpus pass, centroid and codebook tables beside them — at 100 TB
 *     the build is the only full-fact scan, amortized across every
 *     probe after it;
 *   - probe many: centroids/codebooks load driver-side (bounded:
 *     nClusters + m·ksub rows), cells prune via a broadcast equi-join
 *     (never all-pairs), ADC scoring is m integer lookups per candidate
 *     (no per-row vector math), and the exact cosine runs on
 *     shortlist·|queries| rows only;
 *   - maintain in place: append, delete, compaction and partial retrain
 *     are [[Ivf]]'s, which owns the on-disk layout of both index kinds
 *     and reads which one it holds from the directory.
 *
 * Determinism carries over from both halves (hash-sampled training in
 * id order, seeded Lloyd, (score desc, id) tiebreaks), so probing a
 * persisted index is exactly reproducible.
 */
object IvfPq {

  /**
   * Build and persist the composed index under `dir`:
   *   `assigned`  — (idCol, cluster, cu, codes): one corpus pass
   *                 computes the unit vector, its IVF cell, and its m
   *                 PQ codes map-side (codegen'd [[graft.functions
   *                 .NearestCentroids]] per slice);
   *   `centroids` — (cluster, centroid) for cell probing;
   *   `codebooks` — (j, c, centroid) for per-query ADC tables.
   * Training cost is bounded by the ≤`trainSample` hash sample both
   * halves share, never by the corpus.
   */
  def persistIndex(corpus: DataFrame, dir: String, dim: Int, nClusters: Int,
                   m: Int, ksub: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   trainSample: Long = 65536L,
                   seqCol: Option[String] = None): Unit = {
    // ONE corpus count + ONE sample collect shared by both training
    // halves (they draw the IDENTICAL deterministic hash sample; each
    // previously re-scanned the corpus for it — 4 passes where 2
    // suffice, and at 100 TB the sample scan is the build's only
    // pre-write full read)
    val filtered = corpus.filter(col(vecCol).isNotNull)
    val sample = Ivf.unitTrainSample(filtered, idCol, vecCol, trainSample)
    val ivf = Ivf.buildIndexWith(filtered, sample, nClusters, idCol, vecCol)
    val model = Pq.fitWith(filtered, sample, dim, m, ksub, idCol, vecCol)
    // the shared write tail (clean maintenance state, `assigned`, the
    // seq marker, `centroids`) — sequenced maintenance then works
    // exactly as on the plain IVF layout — plus the codebooks
    Ivf.writeIndex(dir,
      Similarity.withUnitVec(filtered, vecCol, "cu")
        .withColumn("codes", Pq.codesFromUnit(col("cu"), model))
        .withColumn("cluster",
          element_at(Ivf.nearestK(col("cu"), ivf.centers, 1), 1))
        .select((Seq(col(idCol), col("cluster"), col("cu"), col("codes")) ++
          seqCol.map(col)): _*),
      ivf.centroids, seqCol)
    val spark = corpus.sparkSession
    val cbRows = for {
      j <- model.codebooks.indices
      c <- model.codebooks(j).indices
    } yield Row(j, c, model.codebooks(j)(c).toSeq)
    spark.createDataFrame(
        spark.sparkContext.parallelize(cbRows, 1), codebookSchema)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** The `(j, c, centroid)` codebook table [[persistIndex]] writes and
    * [[loadModel]] reads back. */
  private val codebookSchema = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType), nullable = false)))

  /** Memoized [[persistIndex]] over the harness embeddings table — one
    * persisted composed index per (session, sfDir, nClusters, m, ksub),
    * in the one memo [[Ivf.persistedIndex]] also keeps. */
  def persistedIndex(spark: SparkSession, sfDir: String,
                     nClusters: Int = 64, m: Int = 16, ksub: Int = 16): String =
    Ivf.persistedIndexOf(spark, sfDir, nClusters, Some((m, ksub)))

  /** The index's codebook table as a [[Pq.PqModel]] (bounded: m·ksub
    * rows, one job), or None when `dir` holds no `codebooks` table —
    * the plain IVF layout. */
  private[graft] def loadModel(spark: SparkSession,
                               dir: String): Option[Pq.PqModel] =
    if (!new java.io.File(s"$dir/codebooks").isDirectory) None
    else {
      val rows = spark.read.schema(codebookSchema)
        .parquet(s"$dir/codebooks").collect()
      val m = rows.iterator.map(_.getInt(0)).max + 1
      val ksub = rows.iterator.map(_.getInt(1)).max + 1
      val books = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      Some(Pq.PqModel(m, books(0)(0).length, books))
    }

  /**
   * Probe-only IVF-PQ top-k: NO training, NO corpus scan — file scans
   * touch ONLY the persisted index (pinned in SimilaritySpec). Per
   * query: its `nProbe` nearest cells (the same codegen'd kernel the
   * build used, so cell choice can never drift from assignment), an
   * ADC shortlist of `shortlist` candidates within those cells, exact
   * cosine re-rank of the shortlist to (qid, nid, rank, sim) — sim
   * rounded to 4 like every exact operator. The query side is the
   * bounded broadcast probe set of the q39/q40 contract: LUTs collect
   * driver-side (|queries|·m·ksub doubles) and both probe-side joins
   * broadcast.
   */
  def probeIndex(queries: DataFrame, dir: String, k: Int, nProbe: Int,
                 shortlist: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val centers = Ivf.centroids(spark, dir).map(_._2)
    val model = loadModel(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"$dir holds no codebooks table — not an IVF-PQ index"))
    // bounded probe set by contract: LUT rows build on the driver
    val luts = Pq.queryLuts(queries, model, idCol, vecCol)
    // probed cells via the SAME kernel as build-time assignment
    val cells = luts.select(col("qid"),
      explode(Ivf.nearestK(col("qu"), centers, nProbe)).as("cluster"))
    val assigned = Ivf.liveAssigned(spark, dir, idCol)
    val wAdc = Window.partitionBy("qid")
      .orderBy(col("adc_score").desc, col("nid"))
    val wSim = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("nid"))
    assigned
      .select(col(idCol).as("nid"), col("cluster"), col("cu"), col("codes"))
      .join(broadcast(cells), Seq("cluster")) // cell prune: never all-pairs
      .filter(col("qid") =!= col("nid"))
      .join(broadcast(luts), Seq("qid"))
      .withColumn("adc_score", Pq.adcScore(model.m))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist) // ADC prunes; exact math below this line
      .withColumn("sim", round(Similarity.dot(col("qu"), col("cu")), 4))
      .withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"),
        col("sim"))
  }
}

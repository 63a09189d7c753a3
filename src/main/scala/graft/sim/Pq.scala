package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import graft.functions.NearestCentroids

/**
 * Product quantization (PQ — Jégou et al., "Product Quantization for
 * Nearest Neighbor Search", TPAMI 2011): split each unit vector into
 * `m` subvectors, learn a `ksub`-centroid codebook per subspace
 * (driver-side Lloyd on a deterministic ≤`trainSample` hash sample —
 * the [[Ivf]] contract), and store each corpus vector as `m` small
 * codes. At 100 TB this is the memory lever IVF alone doesn't give:
 * a 64-dim float64 embedding (512 B) compresses to m=8 bytes of codes,
 * so a candidate set scans ~64× less state, and scoring never touches
 * the raw vectors.
 *
 * Search is asymmetric distance computation (ADC): per query, an
 * m×ksub lookup table of subvector·centroid dot products is built ONCE
 * (the query side is the bounded, broadcastable side — same contract
 * as the exact brute-force probe in q39/q40), and a corpus row's
 * approximate cosine is the sum of m table lookups on its codes —
 * map-side, no per-row vector arithmetic. The standard deployment
 * re-ranks an ADC shortlist with exact dots ([[adcRerankTopK]]).
 *
 * Everything is deterministic: hash-sampled training set in id order,
 * Lloyd from k-smallest-id seeds, (score desc, id) tiebreaks — so
 * recall floors checked by the oracle are stable verdicts, not flaky
 * stochastics.
 */
object Pq {

  /** Codebooks: `m` subspaces × `ksub` centroids × `dsub` dims. */
  final case class PqModel(m: Int, dsub: Int,
                           codebooks: Array[Array[Array[Double]]])

  /**
   * Learn per-subspace codebooks from a deterministic hash sample of
   * the corpus (≤ `trainSample` unit vectors, collected in id order —
   * the bounded driver-side step shared with [[Ivf.buildIndex]]).
   * `dim` must split evenly into `m` subspaces.
   */
  def fit(corpus0: DataFrame, dim: Int, m: Int, ksub: Int,
          idCol: String = "vec_id", vecCol: String = "embedding",
          trainSample: Long = 65536L): PqModel = {
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    fitWith(corpus,
      Ivf.unitTrainSample(corpus, idCol, vecCol, trainSample),
      dim, m, ksub, idCol, vecCol)
  }

  /** [[fit]] over a PRE-COLLECTED training sample (the identical
    * [[Ivf.unitTrainSample]] draw — [[IvfPq.persistIndex]] shares one
    * sample between both training halves instead of paying the corpus
    * count + sample scan twice). `corpus` must already be null-filtered
    * on `vecCol`. */
  private[sim] def fitWith(corpus: DataFrame, sample: Array[Array[Double]],
                           dim: Int, m: Int, ksub: Int,
                           idCol: String, vecCol: String): PqModel = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val unit = Similarity.unitVecExpr(col(vecCol))
    val train = if (sample.length >= ksub) sample
      else corpus.orderBy(col(idCol)).select(unit)
        .limit(ksub).collect().map(_.getSeq[Double](0).toArray)
    val books = Array.tabulate(m) { j =>
      Ivf.kmeansFit(train.map(_.slice(j * dsub, (j + 1) * dsub)), ksub)
    }
    PqModel(m, dsub, books)
  }

  private def nearest1(vec: Column, centers: Array[Array[Double]]): Column =
    element_at(ColumnBridge.column(
      NearestCentroids(ColumnBridge.expression(vec), centers, 1)), 1)

  /**
   * Encode the corpus: map-side per-subspace nearest-centroid
   * assignment (the codegen'd [[NearestCentroids]] kernel per slice).
   * Returns (idCol, cu, codes) — `cu` the unit vector kept for exact
   * re-ranking, `codes` an m-length int array.
   */
  def encode(corpus: DataFrame, model: PqModel,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withU = Similarity.withUnitVec(
      corpus.filter(col(vecCol).isNotNull), vecCol, "cu")
    withU.select(col(idCol), col("cu"),
      codesFromUnit(col("cu"), model).as("codes"))
  }

  /** PQ codes straight from an ALREADY-UNIT vector column — no
    * re-normalization. This is the roundtrip-gate path (q322): a stored
    * `cu` re-encoded through withUnitVec can drift ~1 ulp per component
    * and flip a nearest-codeword assignment at a Voronoi boundary, so
    * gates must re-derive codes from the persisted floats verbatim. */
  def codesFromUnit(cuCol: Column, model: PqModel): Column =
    array((0 until model.m).map { j =>
      nearest1(slice(cuCol, j * model.dsub + 1, model.dsub),
        model.codebooks(j))
    }: _*)

  /** The bounded query side with per-query ADC lookup tables:
    * lut[j][c] = q_sub_j · centroid_{j,c}. Queries are COLLECTED — the
    * caller passes a bounded probe set (the q39/q40 broadcast-slice
    * contract); each row carries m·ksub doubles. */
  private[sim] def queryLuts(queries: DataFrame, model: PqModel,
                        idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    val qs = Similarity.withUnitVec(
      queries.filter(col(vecCol).isNotNull), vecCol, "qu")
      .select(col(idCol).cast("long"), col("qu"))
      .orderBy(idCol)
      .collect() // bounded probe set by contract
    val rows = qs.map { r =>
      val qu = r.getSeq[Double](1).toArray
      val lut = model.codebooks.zipWithIndex.map { case (book, j) =>
        val sub = qu.slice(j * model.dsub, (j + 1) * model.dsub)
        book.map(c => c.indices.map(i => c(i) * sub(i)).sum).toSeq
      }.toSeq
      Row(r.getLong(0), qu.toSeq, lut)
    }
    val schema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qu", ArrayType(DoubleType), nullable = false),
      StructField("lut", ArrayType(ArrayType(DoubleType)), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** ADC score column: Σ_j lut[j][codes[j]] — m integer-indexed lookups
    * per row, no vector arithmetic. */
  private[sim] def adcScore(m: Int): Column =
    (0 until m).map { j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)

  /**
   * ADC top-k: every corpus code row scores against the broadcast
   * query LUTs; keyed top-k by (score desc, id). Returns
   * (qid, nid, adc_score).
   */
  def adcTopK(queries: DataFrame, encoded: DataFrame, model: PqModel, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val luts = queryLuts(queries, model, idCol, vecCol)
    val w = Window.partitionBy("qid")
      .orderBy(col("adc_score").desc, col("nid"))
    encoded.select(col(idCol).as("nid"), col("codes"))
      .crossJoin(broadcast(luts.select(col("qid"), col("lut"))))
      .withColumn("adc_score", adcScore(model.m))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("adc_score"))
  }

  /**
   * The production shape: ADC shortlist of `shortlist` candidates per
   * query, then EXACT cosine re-rank of the shortlist to top-k —
   * compressed codes prune, raw vectors only touch the shortlist.
   * Returns (qid, nid, sim) with sim rounded to 4 like the exact
   * operators.
   */
  def adcRerankTopK(queries: DataFrame, encoded: DataFrame, model: PqModel,
                    k: Int, shortlist: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val luts = queryLuts(queries, model, idCol, vecCol)
      .localCheckpoint() // ADC scoring + the re-rank join both read it
    val w = Window.partitionBy("qid")
      .orderBy(col("adc_score").desc, col("nid"))
    val cand = encoded.select(col(idCol).as("nid"), col("cu"), col("codes"))
      .crossJoin(broadcast(luts.select(col("qid"), col("lut"))))
      .withColumn("adc_score", adcScore(model.m))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
    val wx = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("nid"))
    cand
      .join(broadcast(luts.select(col("qid"), col("qu"))), Seq("qid"))
      .withColumn("sim", round(Similarity.dot(col("qu"), col("cu")), 4))
      .withColumn("rx", row_number().over(wx))
      .filter(col("rx") <= k)
      .select(col("qid"), col("nid"), col("sim"))
  }
}

package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Keyword search over the corpus: BM25 (Okapi) scoring — the standard
 * lexical ranking function (Robertson & Zaragoza 2009).
 *
 * Plan shape at scale: the corpus is tokenized map-side and immediately
 * filtered to the query terms, so the term-frequency table that reaches
 * the first shuffle is |query terms| × matching docs — a sliver of the
 * corpus. Document length comes from the same scan (no second pass over
 * text), corpus stats (N, avgdl) are a 1-row aggregate joined in by
 * cross join (broadcast of one row), and per-term document frequencies
 * aggregate the already-tiny tf table.
 *
 * Cross-engine determinism: each per-term partial score is quantized to
 * integer MICRO-units (`round(x*1e6)` → BIGINT) before the per-doc sum,
 * so the sum is exact integer arithmetic — associativity-proof under any
 * partitioning, and bit-identical in the DuckDB oracle. (A raw double
 * sum would hash-differ on addition order.)
 */
object Search {

  // NB: every constant below appears as an explicit double literal (2.2,
  // not K1+1.0): the JVM's 1.2+1.0 rounds to a DIFFERENT double than the
  // literal 2.2 a SQL engine parses, which would shift scores by an ulp
  // and break bit-exact oracle replay.
  val K1 = 1.2
  val B = 0.75
  private val K1Plus1 = 2.2
  private val OneMinusB = 0.25

  /**
   * BM25 top-`k` docs for `terms` (lowercase). Output:
   * (doc_id, carry passthrough cols, n_terms_hit, score_micro, score, rank).
   * Ties break on doc_id — fully deterministic.
   */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               carryCols: Seq[String] = Nil): DataFrame =
    bm25TopKMulti(docs, Seq(terms), k, idCol, textCol, carryCols).head

  /**
   * BM25 top-`k` rankings for SEVERAL term sets over ONE corpus scan —
   * the multi-query batch shape (e.g. rank-fusion inputs, offline query
   * evaluation). Tokenization, length stats, tf, and df are computed
   * once for the UNION of the term sets; each ranking then filters the
   * already-scored per-(doc, term) table, which is |union terms| ×
   * matching docs — so adding a ranking costs a slice of a tiny table,
   * not another corpus pass. Per-term df over the union tf table equals
   * per-set df for every term of the set (df is per term,
   * set-independent), so the union-wide scoring is ranking-neutral —
   * TextAnalysisSpec pins multi(sets)(i) ≡ multi(Seq(set_i)) through
   * the [[bm25TopK]] delegate. Output frames:
   * (idCol, carryCols*, n_terms_hit, score_micro, score, rank).
   */
  def bm25TopKMulti(docs: DataFrame, termSets: Seq[Seq[String]], k: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    carryCols: Seq[String] = Nil): Seq[DataFrame] = {
    val union = termSets.flatten.distinct
    val base = docs.select(
      col(idCol) +: TextAnalysis.tokens(col(textCol)).as("toks") +:
        carryCols.map(col): _*)
      .withColumn("dl", size(col("toks")).cast("double"))

    // corpus stats: one row, broadcast by construction
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

    // tf of the UNION's terms only — the explode is filtered BEFORE any
    // shuffle. Materialized once (localCheckpoint): both consumers below
    // (df and the scoring join) would otherwise each re-scan the corpus;
    // the tf table is |union terms| × matching docs — the natural cut.
    val tf = base
      .select(col(idCol) +: col("dl") +: carryCols.map(col) :+
        explode(col("toks")).as("term"): _*)
      .filter(col("term").isin(union: _*))
      .groupBy(col(idCol) +: col("dl") +: carryCols.map(col) :+ col("term"): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint()

    // per-term df over the tf table (terms × docs, tiny)
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * (col("tf") * K1Plus1) /
      (col("tf") + lit(K1) * (lit(OneMinusB) + lit(B) * col("dl") / col("avgdl")))

    // scored per-(doc, term) rows for the UNION — materialized once so
    // each ranking below is a filter+agg over a terms×docs sliver
    val scoredTerms = tf
      .join(df, "term")
      .crossJoin(broadcast(stats))
      .withColumn("s_micro", round(termScore * 1e6, 0).cast("long"))
      .localCheckpoint()
    termSets.map { ts =>
      scoredTerms.filter(col("term").isin(ts: _*))
        .groupBy(col(idCol) +: carryCols.map(col): _*)
        .agg(count(lit(1)).as("n_terms_hit"), sum("s_micro").as("score_micro"))
        .withColumn("score", (col("score_micro") / 1e6).cast("double"))
        .orderBy(col("score_micro").desc, col(idCol).asc)
        .limit(k)
        .withColumn("_one", lit(1))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("_one")
            .orderBy(col("score_micro").desc, col(idCol).asc)).cast("long"))
        .drop("_one")
    }
  }

  /**
   * TF-IDF keyword extraction: the top-`k` terms of each document by
   * `tf × idf`, where `idf = ln(N / df)` over the WHOLE corpus. The idf
   * factor is quantized to integer milli-nats and multiplied by the
   * integer term frequency, so scores (and hence ranks, with the term
   * as tiebreak) are exact integer arithmetic in any engine. Plan
   * shape: one tokenize pass → (doc, term) count; document frequencies
   * and N aggregate that same table (vocabulary-sized); the per-doc
   * top-k is a rank window over the scored tf table.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int, textCol: String = "text",
                    idCol: String = "doc_id",
                    docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    tfidfTopTermsFromTokens(
      docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks")),
      k, idCol, docFilter)

  /**
   * [[tfidfTopTerms]] over an already-tokenized `(id, toks)` table
   * (e.g. the shared [[TokenizedCorpus]] view). Plan shape — nothing
   * corpus×vocab-sized is ever materialized:
   *
   *  1. ONE vocab-sized aggregate serves both df and N: each doc emits
   *     its DISTINCT tokens plus one null marker row, so after map-side
   *     partial aggregation only (vocab + 1) rows reach the exchange —
   *     the null group's count IS the document count.
   *  2. The per-doc tf table is built only for the docs the caller
   *     asked for (`docFilter`): at 100 TB "keywords for this slice"
   *     reads the slice, never ranks the whole corpus.
   */
  def tfidfTopTermsFromTokens(toks: DataFrame, k: Int,
                              idCol: String = "doc_id",
                              docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val emptyArr = array().cast("array<string>")
    // null-safe: a doc with NULL text must still count toward N (its
    // marker row) while contributing no tokens — coalesce before concat,
    // since concat(…, NULL) would swallow the marker
    val stats = toks
      .select(explode(concat(array(lit(null).cast("string")),
        coalesce(array_distinct(col("toks")), emptyArr))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // vocab-sized; read by both df and N below
    val n = stats.filter(col("token").isNull).select(col("cnt").as("nd"))
    val df = stats.filter(col("token").isNotNull)
      .select(col("token"), col("cnt").as("df"))
    val sliced = docFilter match {
      case Some(f) => toks.filter(f)
      case None => toks
    }
    val tf = sliced
      .select(col(idCol), explode(col("toks")).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy((col("tf") * col("idf_mnat")).desc, col("token").asc)
    tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("idf_mnat",
        round(log(col("nd") / col("df").cast("double")) * 1000.0, 0).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"),
        col("idf_mnat"), (col("tf") * col("idf_mnat")).as("score_m"))
  }
}

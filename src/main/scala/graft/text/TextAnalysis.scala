package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline: tokenization,
 * quality scoring, language ID, fingerprinting. All pure Column trees
 * (codegen'd, no UDFs) so they run at full scan speed over a 100 TB
 * `documents` table — each is a map-only operation until the caller
 * aggregates.
 */
object TextAnalysis {

  /** Whitespace tokenization of lowercased, trimmed text. `trim` first so
   * Java-regex split never yields a leading empty token.
   *
   * Known wart, kept DELIBERATELY: empty/whitespace-only text yields
   * `[""]` (one empty token, count 1, not 0) — DuckDB's
   * `string_split_regex('', '\s+')` does the same, and every oracle
   * replays this spelling, so "fixing" one side alone would break
   * cross-engine parity on empty documents. Filter empty docs upstream
   * where a true 0 matters. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /**
   * BPE-ish subword count estimate without a vocab: words + extra units
   * for long words (every 6 chars beyond the first 6 ≈ one more merge
   * unit) + punctuation marks, a common serving-cost proxy. The
   * long-word pass is the native [[graft.functions.LongWordExtraUnits]]
   * kernel; [[approxBpeTokenCountExpr]] keeps the interpreted
   * `aggregate` spelling as the parity reference.
   */
  def approxBpeTokenCount(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val words = tokens(text)
    val longWordExtra = ColumnBridge.column(graft.functions.LongWordExtraUnits(
      ColumnBridge.expression(words)))
    (size(words) + longWordExtra + punctCount(text)).cast("long")
  }

  /** Expression-only spelling of [[approxBpeTokenCount]] (parity
   * reference). */
  private[graft] def approxBpeTokenCountExpr(text: Column): Column = {
    val words = tokens(text)
    val longWordExtra = aggregate(words, lit(0L),
      (acc, w) => acc + floor(greatest(length(w) - 1, lit(0)) / 6).cast("long"))
    (size(words) + longWordExtra + punctCount(text)).cast("long")
  }

  /** Count of sentence-punctuation characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** Punctuation density in [0,1]. */
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text), lit(1))

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "de", "el", "la", "que", "y", "en", "der", "die", "und", "le", "et")

  /** Fraction of tokens that are (multilingual) stopwords. Native
   * one-pass counter ([[graft.functions.WordSetCount]]); the
   * `size(filter(...))` spelling ([[stopwordRatioExpr]], parity
   * reference) is interpreted per element. */
  def stopwordRatio(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val t = tokens(text)
    val hits = ColumnBridge.column(graft.functions.WordSetCount(
      ColumnBridge.expression(t), stopwords.toArray))
    hits.cast("double") / greatest(size(t), lit(1))
  }

  /** Expression-only spelling of [[stopwordRatio]] (parity reference). */
  private[graft] def stopwordRatioExpr(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isin(stopwords: _*)))
      .cast("double") / greatest(size(t), lit(1))
  }

  /**
   * Composite quality score in [0,1]: length sweet-spot + some punctuation
   * + natural stopword density (the length/punct/stopword-ratio heuristic
   * family used for pretraining-corpus filtering).
   */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctScore = least(punctRatio(text) * 20.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round(lenScore * 0.5 + punctScore * 0.2 + stopScore * 0.3, 4)
  }

  /** Marker function-words per language for the n-gram/word heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("de", "el", "la", "que", "y"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Marker-hit count for one language. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val t = tokens(text)
    size(filter(t, w => markers.map(w === _).reduce(_ || _))).cast("long")
  }

  /**
   * Predicted language = argmax of marker-hit counts, 'und' when no marker
   * hits at all. Deterministic tie-break: earlier entry in `langMarkers`
   * wins. Native one-pass kernel ([[graft.functions.LangId]]) — the
   * folded Column spelling ([[predictLangExpr]], kept for the parity
   * test) pays one interpreted `filter()` pass per language plus
   * CollapseProject re-evaluation of every score the argmax references.
   */
  def predictLang(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.LangId(
      ColumnBridge.expression(tokens(text)),
      langMarkers.map(_._1).toArray,
      langMarkers.map(_._2.toArray).toArray))
  }

  /** Expression-only spelling of [[predictLang]] (parity reference). */
  private[graft] def predictLangExpr(text: Column): Column = {
    val scored = langMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, sc)) =>
        (when(sc > bs, lit(lang)).otherwise(bl), greatest(sc, bs))
    }
    when(best._2 === 0, "und").otherwise(best._1)
  }

  /**
   * Fixed-size token-window chunking with stride — the context-length
   * preparation step of a pretraining/RAG pipeline: chunk c starts at
   * token c·stride and spans `chunkSize` tokens (the final chunk may be
   * shorter; overlap = chunkSize − stride). Pure per-row expansion
   * (map-side, then the explode fan-out) — no shuffle, so at 100 TB the
   * chunker runs at scan speed and only the chunk rows move downstream.
   */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, chunkSize: Int,
                  stride: Int, textCol: String = "text",
                  idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(col(idCol),
      posexplode(transform(
        sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
        st => concat_ws(" ", slice(toks, st + 1, lit(chunkSize)))))
        .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_chunk_tokens", size(tokens(col("chunk_text"))).cast("long"))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
   * the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))
}

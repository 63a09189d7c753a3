package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextAnalysis

/**
 * Streaming ingestion dedup — the stream-path twin of
 * [[graft.dedup.Dedup.exactDedup]]: as documents/events arrive, drop
 * rows whose dedup key was already seen within the watermark horizon.
 *
 * Uses `dropDuplicatesWithinWatermark`, so state for a key is freed once
 * the watermark passes it — bounded state at unbounded input, which is
 * the property that makes the op viable on a 100 TB/day firehose (plain
 * streaming `dropDuplicates` keeps ALL keys forever). The trade-off is
 * the same as every watermarked op: a duplicate arriving later than the
 * horizon is re-admitted. Size the horizon to the source's real replay
 * window (e.g. at-least-once delivery retries arrive within minutes).
 */
object StreamingDedup {

  /** Drop rows duplicating `keys` within the `horizon` (event time from
    * `tsCol`, which must survive upstream projections to keep the
    * watermark attached). */
  def dedupStream(stream: DataFrame, keys: Seq[String], tsCol: String,
                  horizon: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keys)

  /** Content-fingerprint variant for document streams: key = md5 of
    * whitespace-normalized lowercased text (exactDedup's key). */
  def dedupDocStream(stream: DataFrame, tsCol: String,
                     horizon: String = "1 hour",
                     textCol: String = "text"): DataFrame =
    dedupStream(
      stream.withColumn("_fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("_fp"), tsCol, horizon).drop("_fp")

  /** documents table schema (TESTDATA.md) for the file stream source. */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /**
   * Drive the document-stream dedup over the finite harness parquet to
   * completion ([[Replay.memory]], the same driver as
   * [[StreamingDemand]]'s runners) and return the surviving
   * rows. The documents table carries no event time, so arrival time is
   * simulated as `timestamp_seconds(doc_id + 86400)` — ingestion order
   * by id, the stand-in for a firehose's append order. The one-day
   * offset keeps id 0 off epoch 0: Spark's initial watermark is 0, and
   * a stateful operator drops input at-or-below the watermark as late,
   * which would silently swallow the first document.
   */
  def runDocDedupToBatch(spark: SparkSession, dir: String): DataFrame =
    Replay.memory(spark, dir, "append", table = "documents.parquet") { child =>
      val stream = child.readStream
        .schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .withColumn("_ts", timestamp_seconds(col("doc_id") + lit(86400L)))
      dedupDocStream(stream, "_ts").drop("_ts")
    }

  /**
   * STREAMING NEAR-DUP INGEST — the "new data arrives" path of a 100 TB
   * dedup pipeline: the batch corpus's MinHash band-bucket index is
   * built ONCE and persisted ([[graft.io.Scratch]], path-addressed so
   * the streaming child session reads the parent-built files), and each
   * arriving document computes its 4 band keys MAP-SIDE (the fused
   * [[graft.functions.MinHashBands]] kernel runs unchanged inside the
   * micro-batch) and equi-joins the static index on (band, bucket) —
   * stream-static enrichment, stateless, never all-pairs. Candidates
   * aggregate to (arriving doc i, corpus doc j, shared bands).
   *
   * Returns the CANDIDATE table; the exact-verification stage runs
   * downstream on the drained batch (the caller composes it — q279
   * verifies shingle-Jaccard with the native sorted-merge kernel),
   * mirroring production: flag on arrival from the index, confirm
   * exactly before dropping anything.
   */
  def runNearDupIngestToBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def bandsOf(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.functions.MinHashBands(
        ColumnBridge.expression(TextAnalysis.tokens(c))))
    // build-once on the PARENT session; child re-reads the files
    val indexPath = graft.io.Scratch.tablePath(spark, dir, "minhash_bucket_index")(
      graft.io.Sources.table(spark, dir, "documents")
        .filter(size(TextAnalysis.tokens(col("text"))) >= 3)
        .select(col("doc_id").as("j"),
          posexplode(bandsOf(col("text"))).as(Seq("bi", "bk"))))
    Replay.memory(spark, dir, "complete", table = "documents.parquet") { child =>
      val index = child.read.parquet(indexPath)
      val stream = child.readStream
        .schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(size(TextAnalysis.tokens(col("text"))) >= 3)
        .select(col("doc_id").as("i"),
          posexplode(bandsOf(col("text"))).as(Seq("bi", "bk")))
      stream.join(index, Seq("bi", "bk"))
        .filter(col("i") =!= col("j")) // a doc always re-finds itself
        .groupBy("i", "j").agg(count(lit(1)).as("n_bands"))
    }
  }
}

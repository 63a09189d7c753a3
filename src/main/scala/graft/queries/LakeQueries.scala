package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table, withScratch}
import graft.curation.Curation
import graft.ops.{Layout, Relational}
import graft.text.TextAnalysis

/**
 * Round-5 lake/LM operators: JSONL round-trip (the LLM-native
 * interchange format), SCD2 dimension versioning, bigram-LM surprisal,
 * DSIR-style hashed importance weights, deterministic train/val/test
 * splits, range-sorted data-skipping file layout, and a stream-stream
 * interval join. Every oracle replays the full arithmetic (md5
 * spellings, integer milli-nat quantization) so the semantics are
 * hash-checked end to end.
 */
object LakeQueries {

  // --------------------------------------------------------- JSONL roundtrip

  /** S5/S8 analog for the LLM-native format: documents are written to
   * JSONL and read back with the parquet schema; the oracle reads the
   * PARQUET truth, so any escaping/unicode/type loss in the JSON path
   * breaks the hash. The signature is an order-proof 60-bit XOR over
   * per-text md5 prefixes — a single flipped character in one document
   * flips the group signature. */
  val q93JsonlRoundtrip: Q = Q("q93_jsonl_roundtrip",
    """SELECT source, count(*) AS n_docs,
              CAST(bit_xor(('0x'||substr(md5(text),1,15))::BIGINT) AS BIGINT) AS text_sig,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(DISTINCT doc_id) AS n_ids
       FROM documents GROUP BY source ORDER BY source""") { (s, d) =>
    val dir = graft.io.Sources.scratchDir("graft_jsonl_rt")
    val docs = table(s, d, "documents")
    docs.write.mode("overwrite").json(dir)
    s.read.schema(docs.schema).json(dir)
      .withColumn("h", graft.ops.Exprs.md5Long(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("text_sig"),
        sum("n_chars").as("sum_chars"),
        count_distinct(col("doc_id")).as("n_ids"))
      .orderBy("source")
  }

  // ------------------------------------------------------------------- SCD2

  /** SCD2 dimension-history build from the order log: per customer,
   * priority-change events become effective-dated versions
   * (valid_from/valid_to, version number, current flag) — the
   * warehouse dimension-versioning primitive. The oracle replays the
   * lag-filter-lead chain. */
  val q94Scd2: Q = Q("q94_scd2",
    """WITH ch AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
                          o_orderkey AS tie, o_orderpriority AS attr
                   FROM orders WHERE o_custkey < 100),
       l AS (SELECT k, d, tie, attr,
                    lag(attr) OVER (PARTITION BY k ORDER BY d, tie) AS prev
             FROM ch),
       f AS (SELECT k, d, tie, attr FROM l WHERE prev IS NULL OR prev <> attr),
       v AS (SELECT k, attr, d AS valid_from,
                    lead(d) OVER w AS valid_to,
                    row_number() OVER w AS version
             FROM f WINDOW w AS (PARTITION BY k ORDER BY d, tie))
       SELECT k AS custkey, CAST(version AS BIGINT) AS version, attr AS priority,
              strftime(valid_from, '%Y-%m-%d') AS valid_from,
              coalesce(strftime(valid_to, '%Y-%m-%d'), 'open') AS valid_to,
              (valid_to IS NULL) AS is_current
       FROM v ORDER BY custkey, version""") { (s, d) =>
    val log = table(s, d, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey").as("tie"), col("o_orderpriority").as("attr"))
    Relational.scd2Versions(log, "k", "d", "tie", "attr")
      .select(col("k").as("custkey"), col("version"), col("attr").as("priority"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd"), lit("open"))
          .as("valid_to"),
        col("is_current"))
      .orderBy("custkey", "version")
  }

  // ------------------------------------------------------- bigram surprisal

  /** Bigram-LM surprisal (mean -ln P(w2|w1) in integer milli-nats) for
   * the q80 doc slice — the word-ORDER-sensitive perplexity proxy; the
   * oracle rebuilds the bigram model and replays the quantized sum. */
  val q95BigramSurprisal: Q = Q("q95_bigram_surprisal",
    """WITH tok AS (SELECT doc_id, lang,
           string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
       bg AS (SELECT doc_id, lang,
                unnest(list_transform(range(1, len(w)), k -> w[k]||' '||w[k+1])) AS bg
              FROM tok WHERE len(w) >= 2),
       v AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
       pre AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
               FROM v GROUP BY 1),
       m AS (SELECT bg, CAST(round(-ln(c2 / CAST(c1 AS DOUBLE)) * 1000) AS BIGINT) AS mnat
             FROM v JOIN pre ON split_part(v.bg, ' ', 1) = pre.w1)
       SELECT doc_id, lang, count(*) AS n_bigrams,
              CAST(sum(mnat) AS BIGINT) AS sum_mnat,
              round(CAST(sum(mnat) AS BIGINT) / CAST(count(*) AS DOUBLE), 2) AS avg_mnat
       FROM bg JOIN m USING (bg)
       WHERE doc_id < 120
       GROUP BY doc_id, lang ORDER BY doc_id""") { (s, d) =>
    Curation.bigramSurprisalStats(
        table(s, d, "documents")
          .filter(size(TextAnalysis.tokens(col("text"))) >= 2),
        carryCols = Seq("lang"))
      .filter(col("doc_id") < 120)
      .select("doc_id", "lang", "n_bigrams", "sum_mnat", "avg_mnat")
      .orderBy("doc_id")
  }

  // -------------------------------------------------- DSIR importance weights

  /** DSIR-style hashed-unigram importance weights toward the English
   * slice (target = lang 'en', raw = full corpus, 256 hashed buckets,
   * add-one smoothing) — the importance-resampling primitive; the
   * oracle replays the bucket hash, both smoothed distributions, and
   * the milli-nat per-doc sum. */
  val q96DsirWeights: Q = Q("q96_dsir_weights",
    """WITH tok AS (SELECT doc_id, lang,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
         FROM documents),
       tb AS (SELECT doc_id, lang, (lang = 'en') AS t,
                     ('0x'||substr(md5(token),1,15))::BIGINT % 256 AS b
              FROM tok),
       cnt AS (SELECT b, count(*) AS cr, count(*) FILTER (WHERE t) AS ct
               FROM tb GROUP BY b),
       tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt
               FROM cnt),
       lam AS (SELECT b,
                 CAST(round((ln((ct + 1) / CAST(tt + 256 AS DOUBLE))
                           - ln((cr + 1) / CAST(tr + 256 AS DOUBLE))) * 1000)
                      AS BIGINT) AS mnat
               FROM cnt CROSS JOIN tot)
       SELECT doc_id, lang, count(*) AS n_tok,
              CAST(sum(mnat) AS BIGINT) AS sum_mnat,
              round(CAST(sum(mnat) AS BIGINT) / CAST(count(*) AS DOUBLE), 2) AS avg_mnat
       FROM tb JOIN lam USING (b)
       WHERE doc_id < 120
       GROUP BY doc_id, lang ORDER BY doc_id""") { (s, d) =>
    Curation.dsirStats(table(s, d, "documents"),
        isTarget = col("lang") === "en", buckets = 256,
        carryCols = Seq("lang"))
      .filter(col("doc_id") < 120)
      .select("doc_id", "lang", "n_tok", "sum_mnat", "avg_mnat")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ train/val/test split

  /** Deterministic hash split (80/10/10 in basis points) with per-split
   * language composition — reproducible at any partitioning, so a doc
   * can never migrate between train and test across re-runs. */
  val q97HashSplit: Q = Q("q97_hash_split",
    """SELECT split, lang, count(*) AS n FROM (
         SELECT lang,
                CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                          % 10000 < 8000 THEN 'train'
                     WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                          % 10000 < 9000 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents)
       GROUP BY 1, 2 ORDER BY split, lang""") { (s, d) =>
    table(s, d, "documents")
      .groupBy(Curation.splitLabel(col("doc_id"), 8000, 1000).as("split"),
        col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")
  }

  // -------------------------------------------------- range-sorted file layout

  /** Data-skipping layout proof: orders re-written range-partitioned +
   * sorted on the order date, then the per-file min/max intervals are
   * re-derived from the data and checked DISJOINT (what makes footer
   * pruning effective). Content totals replay against the source —
   * layout verdicts are data-independent, so the check is deterministic
   * at any scale. */
  val q98FileLayout: Q = Q("q98_file_layout",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS span_lo,
              strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS span_hi,
              TRUE AS files_bounded, TRUE AS files_disjoint
       FROM orders""") { (s, d) =>
    val dir = graft.io.Sources.scratchDir("graft_layout")
    val src = table(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val reread = Layout.rangeSortedWrite(src, "od", "o_orderkey", 8, dir)
    val iv = Layout.fileIntervals(reread, "od")
      .withColumn("prev_hi",
        lag(col("hi"), 1).over(Window.orderBy(col("lo"), col("hi"), col("file"))))
    iv.agg(
      sum("n").as("n_rows"),
      date_format(min("lo"), "yyyy-MM-dd").as("span_lo"),
      date_format(max("hi"), "yyyy-MM-dd").as("span_hi"),
      (count(lit(1)) <= 8).as("files_bounded"),
      expr("bool_and(prev_hi IS NULL OR prev_hi < lo)").as("files_disjoint"))
  }

  /** Z-ORDER (2-dim Morton) layout with a file-skipping proof on BOTH
   * columns: orders re-written 16 files range-sorted on the interleaved
   * (custkey, orderdate) bucket code, then a narrow slice per dimension
   * is checked against the per-file min/max footer view — each must
   * touch at most half the files. The negative control re-writes the
   * table single-dim sorted (q98's layout) and shows the same DATE
   * slice touches nearly every file there, and strictly more than under
   * Z-order: one-dimensional sort cannot skip on the second column;
   * the Z-curve skips on both. File-touch counts depend on sampled
   * range boundaries, so the gate pins verdict bounds, not raw counts
   * (the q98 disjointness pattern). */
  val q132Zorder: Q = Q("q132_zorder",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              TRUE AS z_prunes_custkey, TRUE AS z_prunes_date,
              TRUE AS linear_blind_on_date, TRUE AS z_beats_linear_on_date
       FROM orders""") { (s, d) =>
    import graft.ops.Layout
    val dir = graft.io.Sources.scratchDir("graft_zorder")
    val src = table(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("od"))
      .localCheckpoint() // feeds bounds scan + two layout writes
    // bounds collected as strings, not java.sql.Date: decoding external
    // Date values needs --add-opens java.base/sun.util.calendar, which
    // the harness JVM may not pass (the q140 cutoff pattern)
    val b = src.agg(min("o_custkey"), max("o_custkey"),
        date_format(min("od"), "yyyy-MM-dd"), date_format(max("od"), "yyyy-MM-dd"))
      .head()
    val (ckLo, ckHi) = (b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
    val (dLoS, dHiS) = (b.getString(2), b.getString(3))
    val dLo = to_date(lit(dLoS))
    val dSpan = java.time.LocalDate.parse(dHiS).toEpochDay -
      java.time.LocalDate.parse(dLoS).toEpochDay
    // 2-bit buckets → a 4×4 Morton grid over 16 files, so each file
    // covers ~one (custkey, date) cell and footer min/max stats stay
    // tight on BOTH dimensions (measured: either slice touches ≤8 of
    // 16 files at sf0.001–0.1; the linear layout touches 16/16 on date)
    val bucketA = floor((col("o_custkey") - ckLo) * 4 / (ckHi - ckLo + 1))
    val bucketB = floor(datediff(col("od"), dLo) * 4 / (dSpan + 1))
    val z = Layout.zOrderedWrite(src, bucketA, bucketB, bits = 2,
      numFiles = 16, path = s"$dir/z")
    val lin = Layout.rangeSortedWrite(src, "o_custkey", "o_orderkey",
      numFiles = 16, path = s"$dir/linear")
    // slice per dimension: the middle 1/8 of each value span
    val ckSliceLo = ckLo + (ckHi - ckLo) / 2
    val ckSliceHi = ckLo + (ckHi - ckLo) * 5 / 8
    val dSliceLo = date_add(dLo, (dSpan / 2).toInt)
    val dSliceHi = date_add(dLo, (dSpan * 5 / 8).toInt)
    def touched(reread: org.apache.spark.sql.DataFrame, dim: String,
                lo: Column, hi: Column) =
      Layout.fileIntervals(reread, dim)
        .filter(col("hi") >= lo && col("lo") <= hi)
        .agg(count(lit(1)).as(s"t")).head().getLong(0)
    val tA = touched(z, "o_custkey", lit(ckSliceLo), lit(ckSliceHi))
    val tB = touched(z, "od", dSliceLo, dSliceHi)
    val tBLin = touched(lin, "od", dSliceLo, dSliceHi)
    src.agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"),
        lit(tA <= 10).as("z_prunes_custkey"),
        lit(tB <= 10).as("z_prunes_date"),
        lit(tBLin >= 14).as("linear_blind_on_date"),
        lit(tB < tBLin).as("z_beats_linear_on_date"))
  }

  // ------------------------------------------------- stream-stream join

  /** Stream-STREAM attribution join on harness data: clicks joined to
   * the same user's purchases in the trailing hour (both sides
   * watermarked, state evicted past the bound), rolled up per user.
   * The oracle replays the BATCH interval join — the streaming output
   * itself is hash-checked against batch truth. */
  val q99StreamJoin: Q = Q("q99_stream_join",
    """WITH e AS (SELECT event_id, user_id, event_type,
                         CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
       c AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
       p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
       j AS (SELECT c.user_id AS user_id, c.event_id AS cid, p.event_id AS pid
             FROM c JOIN p ON c.user_id = p.user_id
                          AND p.sec >= c.sec - 3600 AND p.sec <= c.sec)
       SELECT user_id, count(*) AS n_pairs,
              count(DISTINCT cid) AS n_clicks,
              count(DISTINCT pid) AS n_purchases
       FROM j GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    graft.streaming.StreamingDemand.runIntervalJoinToBatch(s, d)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("c_id")).as("n_clicks"),
        count_distinct(col("p_id")).as("n_purchases"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT-OUTER interval join — attribution with MISSES:
   * clicks with no same-user purchase in the trailing hour surface as
   * null-padded rows once the watermark passes their eviction bound
   * (q99 only ever sees matches). Clicks are cut off > 1 h before the
   * stream's max event time so every miss row flushes on a finite
   * replay; the oracle applies the identical cutoff to the batch
   * left-join truth, so the streaming outer output — including the
   * null rows — is hash-checked, not just asserted. */
  val q131StreamOuterJoin: Q = Q("q131_stream_outer_join",
    """WITH e AS (SELECT event_id, user_id, event_type,
                         CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
       mx AS (SELECT max(sec) AS m FROM e),
       c AS (SELECT event_id, user_id, sec FROM e, mx
             WHERE event_type = 'click' AND sec < m - 7300),
       p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
       j AS (SELECT c.user_id AS user_id, c.event_id AS cid, p.event_id AS pid
             FROM c LEFT JOIN p ON c.user_id = p.user_id
                               AND p.sec >= c.sec - 3600 AND p.sec <= c.sec)
       SELECT user_id, count(*) AS n_rows,
              CAST(count(pid) AS BIGINT) AS n_pairs,
              count(DISTINCT cid) AS n_clicks,
              count(DISTINCT CASE WHEN pid IS NULL THEN cid END) AS n_miss_clicks
       FROM j GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val maxSec = table(s, d, "events")
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0) // scalar bound
    // cutoff = watermark delay (1 h) + join interval (1 h) + margin:
    // outer state for a click evicts only once the watermark passes
    // click-time + the interval span, so a 1-hour-only cutoff leaves
    // the last hour's miss rows stuck in state on a finite replay
    graft.streaming.StreamingDemand
      .runLeftOuterIntervalJoinToBatch(s, d, cutoffSec = maxSec - 7300)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_id")).as("n_pairs"),
        count_distinct(col("c_id")).as("n_clicks"),
        count_distinct(when(col("p_id").isNull, col("c_id"))).as("n_miss_clicks"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------- schema evolution

  /** Parquet schema evolution: half the docs written with the v1 schema
   * (doc_id, lang), the other half appended with v2 (+ n_chars); the
   * mergeSchema read must unify the footers and null-backfill v1 rows.
   * The oracle recomputes the same per-lang totals from the parquet
   * truth with the v2-only arithmetic spelled as a CASE. */
  val q107SchemaEvolution: Q = Q("q107_schema_evolution",
    """SELECT lang, count(*) AS n_rows,
              count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_v2,
              CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars_v2
       FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
    val dir = graft.io.Sources.scratchDir("graft_evo")
    val docs = table(s, d, "documents")
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
      .write.mode("append").parquet(dir)
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_chars")).as("n_v2"),
        sum("n_chars").as("sum_chars_v2"))
      .orderBy("lang")
  }

  // ----------------------------------------------------------- compaction

  /** Small-file compaction (the lake-maintenance primitive): documents
   * scattered into 64 round-robin files, then compacted to ≤4 with a
   * shuffle-free coalesce; content equality is proven by the same
   * order-proof XOR signature as q93, file-count movement by verdicts. */
  val q108Compaction: Q = Q("q108_compaction",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(bit_xor(('0x'||substr(md5(text),1,15))::BIGINT) AS BIGINT) AS text_sig,
              TRUE AS was_fragmented, TRUE AS is_compacted
       FROM documents""") { (s, d) =>
    val base = graft.io.Sources.scratchDir("graft_compact")
    val docs = table(s, d, "documents").select("doc_id", "text")
    docs.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    val small = s.read.parquet(s"$base/small")
    val nSmall = small.select(input_file_name()).distinct().count()
    small.coalesce(4).write.mode("overwrite").parquet(s"$base/compact")
    val compact = s.read.parquet(s"$base/compact")
    val nCompact = compact.select(input_file_name()).distinct().count()
    compact
      .withColumn("h", graft.ops.Exprs.md5Long(col("text")))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("text_sig"),
        lit(nSmall >= 16).as("was_fragmented"),
        lit(nCompact <= 4 && nCompact < nSmall).as("is_compacted"))
  }

  // --------------------------------------------------------- bucketed join

  /** Co-located big-big join via BUCKETED tables: both sides written
   * bucketBy(n) on the join key, so the sort-merge join consumes the
   * bucket layout with NO exchange on either side (pinned in
   * PlanQualitySpec) — at 100 TB this is the difference between
   * shuffling the fact table per join and never shuffling it at all.
   * The bucket count FOLLOWS THE DATA (parquet-footer row count of the
   * fact side, ~200k rows/bucket, clamped [8, 32]; same count both
   * sides so the join stays exchange-free at any count) — a fixed 8
   * capped the bucketed write at 8-way parallelism on a 32-core box
   * and was most of q115's ×5.2 at 10× (r9 verdict). The oracle
   * replays the plain join, so the layout provably changes the plan,
   * not the result. */
  val q115BucketedJoin: Q = Q("q115_bucketed_join",
    """SELECT o_orderstatus, count(*) AS n,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // per-run unique database rooted in a scratch dir: no shared
    // warehouse path, so concurrent sessions can't clobber each other
    // and no filesystem delete happens inside the query body (the
    // scratch dir's shutdown hook reclaims the files; the returned
    // DataFrame stays lazy so the tables must outlive this function)
    val db = "graft_q115_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val loc = graft.io.Sources.scratchDir("graft_q115_db")
    s.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    // metadata-only count (parquet footers), not a data scan
    val factRows = table(s, d, "lineitem").count()
    val nBuckets = math.max(8, math.min(32, (factRows / 200000L).toInt))
    table(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
      .write.bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(s"$db.li_b")
    table(s, d, "orders").select("o_orderkey", "o_orderstatus")
      .write.bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(s"$db.ord_b")
    s.table(s"$db.li_b")
      .join(s.table(s"$db.ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
          .cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------- shared MERGE fixture (q320 / q324 / q328)

  /** One definition of the MERGE fixture for all three merge queries:
    * target = customers with custkey % 3 ≠ 0; change feed = custkey %
    * 2 = 0 with +$100 cents and every custkey % 10 = 0 marked delete;
    * resolution = ONE keyed full-outer join + conditional projection to
    * (k, seg, cents, act). q328's documented invariant — its
    * storage-only version diff equals the in-flight action audit —
    * holds because all three queries build from THESE definitions (the
    * SQL oracles stay self-contained by design). */
  private def mergeTarget(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    table(s, d, "customer").filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100, 0).cast("long").as("tc"))

  private def mergeSource(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    table(s, d, "customer").filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("sk"), col("c_mktsegment").as("sseg"),
        (round(col("c_acctbal") * 100, 0).cast("long") + 10000L).as("sc"),
        (col("c_custkey") % 10 === 0).as("is_del"))

  /** (k, seg, cents, act ∈ insert/update/delete/keep/noop). `t` is a
    * parameter so q324 can feed the READ-BACK v0 instead of the raw
    * target. */
  private def mergeResolve(t: org.apache.spark.sql.DataFrame,
                           src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    t.join(src, col("k") === col("sk"), "full_outer")
      .select(coalesce(col("k"), col("sk")).as("k"),
        coalesce(col("sseg"), col("seg")).as("seg"),
        col("k").isNotNull.as("in_t"), col("sk").isNotNull.as("in_s"),
        coalesce(col("is_del"), lit(false)).as("is_del"),
        col("tc"), col("sc"))
      .select(col("k"), col("seg"),
        when(col("in_s"), col("sc")).otherwise(col("tc")).as("cents"),
        when(col("in_t") && col("in_s") && col("is_del"), "delete")
          .when(col("in_t") && col("in_s"), "update")
          .when(col("in_t"), "keep")
          .when(col("is_del"), "noop")
          .otherwise("insert").as("act"))

  private def mergeSurvivors(m: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    m.filter(col("act").isin("update", "keep", "insert"))
      .select("k", "seg", "cents")

  // ---------------------------------------------------- partition pruning

  /** Hive-style partitioned write + partition-pruned read: events
   * re-written partitionBy(month), then a one-month query that must
   * touch exactly one partition directory (PartitionFilters pinned in
   * PlanQualitySpec — the scan-1-of-N-directories shape that makes
   * time-range queries O(slice) instead of O(corpus)). */
  val q116PartitionPruning: Q = Q("q116_partition_pruning",
    """SELECT event_type, count(*) AS n,
              CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
       FROM events WHERE strftime(ts, '%Y-%m') = '2024-01'
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.io.Sources.scratchDir("graft_part")
    table(s, d, "events")
      .withColumn("month", date_format(col("ts"), "yyyy-MM"))
      .write.partitionBy("month").mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .filter(col("month") === "2024-01")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Hilbert vs Morton clustering keys, bit-exact: every part row maps
   * its planted (x, y) grid cell to BOTH curve indices —
   * [[graft.ops.Layout.hilbertIndex]] (8 unrolled rotate/reflect
   * rounds, pure column arithmetic) and [[graft.ops.Layout.zValue]]
   * (bit interleave) — and the oracle replays all 8 Hilbert rounds as
   * CTEs plus the interleave sum, so every intermediate rotation is
   * hash-checked across 2000 cells. The locality property that makes
   * Hilbert the better OPTIMIZE key (consecutive d ⇒ adjacent cells;
   * Morton jumps at power-of-two seams) is pinned exhaustively in
   * LakeOpsSpec. */
  val q288HilbertIndex: Q = Q("q288_hilbert_index",
    s"""WITH h0 AS (SELECT p_partkey,
             CAST(p_partkey % 256 AS BIGINT) AS x,
             CAST((p_size * 7 + 3) % 256 AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d FROM part),
       ${graft.ops.Layout.hilbertOracleCtes(8, "p_partkey")},
       z AS (SELECT p_partkey,
               CAST(${(0 until 8).map(i =>
                s"(((x >> $i) & 1) << ${2 * i + 1}) + (((y >> $i) & 1) << ${2 * i})")
                .mkString(" + ")} AS BIGINT) AS z_d
             FROM h0)
       SELECT h0.p_partkey AS part_key, h0.x, h0.y,
              h8.d AS hilbert_d, z.z_d
       FROM h0 JOIN h8 USING (p_partkey) JOIN z USING (p_partkey)
       ORDER BY part_key""") { (s, d) =>
    import graft.ops.Layout
    val seeds = table(s, d, "part").select(
      col("p_partkey").as("part_key"),
      (col("p_partkey") % 256).cast("long").as("x"),
      ((col("p_size") * 7 + 3) % 256).cast("long").as("y"))
    Layout.hilbertIndex(seeds, col("x"), col("y"), bits = 8, out = "hilbert_d")
      .withColumn("z_d", Layout.zValue(col("x"), col("y"), 8))
      .orderBy("part_key")
  }

  /** Zone-map data-skipping planner: the MEASURED reason the
   * range-clustered layout (q98/q132/q288) beats a hash-scattered one.
   * Rows are assigned to planned files under both layouts — range:
   * file = year·100+month of l_shipdate (the natural date-range
   * partition, NO global sort needed); hash: file = md5₆₀(rowkey) mod
   * 64 (the default scatter) — then per-file zone maps (min/max
   * epoch-day) are evaluated against a fixed 3-month predicate exactly
   * the way parquet row-group pruning and lakehouse file skipping
   * consult footer stats. Output per layout: files total/read, rows
   * scanned (in read files) vs selected, and scan-waste ppm. One fact
   * scan feeds both layouts (localCheckpoint); the predicate bounds
   * are epoch-day LITERALS computed once and shared with the oracle,
   * so no date-function drift can split the engines. At 100 TB this
   * is the planner half of OPTIMIZE: the same zone-map arithmetic
   * over the real footer stats table. */
  val q295ZonemapSkip: Q = {
    val lo = java.time.LocalDate.of(1995, 3, 1).toEpochDay
    val hi = java.time.LocalDate.of(1995, 6, 1).toEpochDay
    Q("q295_zonemap_skip",
      s"""WITH f AS (SELECT
              CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS dday,
              CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS rfile,
              ${graft.ops.Exprs.md5LongSql.format(
                "l_orderkey||':'||l_linenumber")} % 64 AS hfile
            FROM lineitem WHERE l_shipdate IS NOT NULL),
         z AS (SELECT 'range' AS layout, rfile AS fid,
                 min(dday) AS mn, max(dday) AS mx,
                 CAST(count(*) AS BIGINT) AS nrows,
                 CAST(sum(CASE WHEN dday >= $lo AND dday < $hi THEN 1 ELSE 0 END) AS BIGINT) AS sel
               FROM f GROUP BY 1, 2
               UNION ALL
               SELECT 'hash' AS layout, hfile AS fid,
                 min(dday), max(dday), CAST(count(*) AS BIGINT),
                 CAST(sum(CASE WHEN dday >= $lo AND dday < $hi THEN 1 ELSE 0 END) AS BIGINT)
               FROM f GROUP BY 1, 2)
         SELECT layout,
                CAST(count(*) AS BIGINT) AS files_total,
                CAST(sum(CASE WHEN mx >= $lo AND mn < $hi THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
                CAST(sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned,
                CAST(sum(sel) AS BIGINT) AS rows_selected,
                CAST((sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) - sum(sel)) * 1000000
                  // sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) AS BIGINT) AS scan_waste_ppm
         FROM z GROUP BY layout ORDER BY layout""") { (s, d) =>
      val f = table(s, d, "lineitem")
        .filter(col("l_shipdate").isNotNull)
        .select(
          (unix_timestamp(col("l_shipdate")) / 86400).cast("long").as("dday"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("rfile"),
          (graft.ops.Exprs.md5Long(concat_ws(":",
            col("l_orderkey"), col("l_linenumber"))) % 64).as("hfile"))
        .localCheckpoint() // one fact scan feeds both layout aggregates
      def zones(layout: String, fid: Column): org.apache.spark.sql.DataFrame =
        f.groupBy(lit(layout).as("layout"), fid.as("fid"))
          .agg(min("dday").as("mn"), max("dday").as("mx"),
            count(lit(1)).as("nrows"),
            sum(when(col("dday") >= lo && col("dday") < hi, 1L)
              .otherwise(0L)).as("sel"))
      val read = col("mx") >= lo && col("mn") < hi
      zones("range", col("rfile")).unionByName(zones("hash", col("hfile")))
        .groupBy("layout")
        .agg(count(lit(1)).as("files_total"),
          sum(when(read, 1L).otherwise(0L)).as("files_read"),
          sum(when(read, col("nrows")).otherwise(0L)).as("rows_scanned"),
          sum("sel").as("rows_selected"))
        .select(col("layout"), col("files_total"), col("files_read"),
          col("rows_scanned"), col("rows_selected"),
          expr("(rows_scanned - rows_selected) * 1000000 div rows_scanned")
            .as("scan_waste_ppm"))
        .orderBy("layout")
    }
  }

  /** Zone-map skip report from REAL parquet footers (the credibility
   * step after q295's modeled zone maps, round-8 verdict task #7): a
   * month-partitioned range layout of lineitem ship-days is WRITTEN to
   * scratch, then the zone map is read back from the files' actual
   * row-group metadata — `ParquetFileReader` footer min/max/rowCount
   * per block, the same statistics a lakehouse OPTIMIZE/skipping
   * planner consults — and the q295 skip arithmetic (files read, rows
   * scanned vs selected, waste ppm for a 3-month predicate) runs on
   * those footer values. The DuckDB oracle recomputes the zone stats
   * from the DATA, so the hash equality simultaneously proves the
   * footer decode is byte-correct AND the skip report is exact.
   *
   * Scale shape: the footer walk is driver-side but bounded by the
   * ZONE count (one month = one partition dir ≈ 84, never row count) —
   * exactly the planner's own metadata footprint; zones aggregate per
   * rfile so the report is stable even if a partition splits into
   * multiple files or row groups. Selected-row counts come from one
   * map-side aggregate of the same scan that wrote the layout. */
  val q316FooterZonemap: Q = {
    val lo = java.time.LocalDate.of(1995, 3, 1).toEpochDay
    val hi = java.time.LocalDate.of(1995, 6, 1).toEpochDay
    Q("q316_footer_zonemap",
      s"""WITH f AS (SELECT
              CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS dday,
              CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS rfile
            FROM lineitem WHERE l_shipdate IS NOT NULL),
         z AS (SELECT rfile, min(dday) AS mn, max(dday) AS mx,
                 CAST(count(*) AS BIGINT) AS nrows,
                 CAST(sum(CASE WHEN dday >= $lo AND dday < $hi THEN 1 ELSE 0 END) AS BIGINT) AS sel
               FROM f GROUP BY 1)
         SELECT 'range' AS layout,
                CAST(count(*) AS BIGINT) AS files_total,
                CAST(sum(CASE WHEN mx >= $lo AND mn < $hi THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
                CAST(sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned,
                CAST(sum(sel) AS BIGINT) AS rows_selected,
                CAST((sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) - sum(sel)) * 1000000
                  // sum(CASE WHEN mx >= $lo AND mn < $hi THEN nrows ELSE 0 END) AS BIGINT) AS scan_waste_ppm
         FROM z""") { (s, d) =>
      import scala.jdk.CollectionConverters._
      val f = table(s, d, "lineitem")
        .filter(col("l_shipdate").isNotNull)
        .select(
          (unix_timestamp(col("l_shipdate")) / 86400).cast("long").as("dday"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("rfile"))
      // staged layout is consumed entirely by the footer walk below (zm
      // is driver-local stats; sel re-reads the ORIGINAL table), so the
      // scratch dir is removed eagerly — per-run accumulation on the
      // shared bench JVM, not just the shutdown hook (r9 ADVICE)
      val stats: Seq[(Long, Long, Long, Long)] = withScratch("graft_footer_zm") { dir =>
        f.repartition(col("rfile"))
          .write.mode("overwrite").partitionBy("rfile").parquet(dir)
        // footer walk: one open per file, blocks -> (rows, dday min/max)
        val conf = s.sessionState.newHadoopConf()
        new java.io.File(dir).listFiles().toSeq
          .filter(_.getName.startsWith("rfile="))
          .flatMap { pd =>
            val rfile = pd.getName.stripPrefix("rfile=").toLong
            pd.listFiles().toSeq.filter(_.getName.endsWith(".parquet")).map { pf =>
              val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                  new org.apache.hadoop.fs.Path(pf.getAbsolutePath), conf))
              try {
                var mn = Long.MaxValue; var mx = Long.MinValue; var n = 0L
                rd.getFooter.getBlocks.asScala.foreach { b =>
                  n += b.getRowCount
                  val st = b.getColumns.asScala
                    .find(_.getPath.toDotString == "dday")
                    .getOrElse(sys.error(s"no dday column chunk in $pf"))
                    .getStatistics
                  mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].longValue)
                  mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].longValue)
                }
                (rfile, mn, mx, n)
              } finally rd.close()
            }
          }
      }
      import s.implicits._
      val zm = stats.toDF("rfile", "mn", "mx", "nrows")
        .groupBy("rfile").agg(min("mn").as("mn"), max("mx").as("mx"),
          sum("nrows").as("nrows"))
      val sel = f.groupBy("rfile").agg(
        sum(when(col("dday") >= lo && col("dday") < hi, 1L).otherwise(0L))
          .as("sel"))
      val read = col("mx") >= lo && col("mn") < hi
      sel.join(broadcast(zm), Seq("rfile"))
        .agg(count(lit(1)).as("files_total"),
          sum(when(read, 1L).otherwise(0L)).as("files_read"),
          sum(when(read, col("nrows")).otherwise(0L)).as("rows_scanned"),
          sum("sel").as("rows_selected"))
        .select(lit("range").as("layout"), col("files_total"),
          col("files_read"), col("rows_scanned"), col("rows_selected"),
          expr("(rows_scanned - rows_selected) * 1000000 div rows_scanned")
            .as("scan_waste_ppm"))
    }
  }

  /** MERGE INTO semantics (the lakehouse upsert-with-deletes statement:
   * WHEN MATCHED AND del THEN DELETE / WHEN MATCHED THEN UPDATE /
   * WHEN NOT MATCHED AND NOT del THEN INSERT), expressed Spark-first
   * as ONE full-outer key join + conditional projection — exactly the
   * shuffle a MERGE plans at any scale (bucketed targets co-locate it;
   * here the join is the honest keyed exchange). Target = customers
   * with custkey % 3 ≠ 0; change feed = custkey % 2 = 0 with +$100
   * balances and every custkey % 10 = 0 marked delete. Output: the
   * merged table's per-segment signature (row count, exact cents sum,
   * order-proof md5₆₀ XOR over keys — a flipped row flips the tag) and
   * the per-action audit counts (insert/update/delete/keep/noop), so
   * the oracle hash-checks both the RESULT and the MERGE bookkeeping. */
  val q320MergeUpsert: Q = Q("q320_merge_upsert",
    s"""WITH t AS (SELECT c_custkey AS k, c_mktsegment AS seg,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer WHERE c_custkey % 3 <> 0),
       s AS (SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) + 10000 AS cents,
               (c_custkey % 10 = 0) AS is_del
             FROM customer WHERE c_custkey % 2 = 0),
       j AS (SELECT coalesce(t.k, s.k) AS k, coalesce(s.seg, t.seg) AS seg,
                    t.k IS NOT NULL AS in_t, s.k IS NOT NULL AS in_s,
                    coalesce(s.is_del, FALSE) AS is_del,
                    t.cents AS tc, s.cents AS sc
             FROM t FULL OUTER JOIN s ON t.k = s.k),
       m AS (SELECT k, seg, CASE WHEN in_s THEN sc ELSE tc END AS cents,
                    CASE WHEN in_t AND in_s AND is_del THEN 'delete'
                         WHEN in_t AND in_s THEN 'update'
                         WHEN in_t THEN 'keep'
                         WHEN is_del THEN 'noop'
                         ELSE 'insert' END AS act
             FROM j),
       segs AS (SELECT 'seg:' || seg AS tag, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(cents) AS BIGINT) AS cents_sum,
                  CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT) AS key_xor
                FROM m WHERE act IN ('update', 'keep', 'insert') GROUP BY 1),
       acts AS (SELECT 'act:' || act AS tag, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(0 AS BIGINT) AS cents_sum, CAST(0 AS BIGINT) AS key_xor
                FROM m GROUP BY 1)
       SELECT * FROM (SELECT * FROM segs UNION ALL SELECT * FROM acts)
       ORDER BY tag""") { (s, d) =>
    val m = mergeResolve(mergeTarget(s, d), mergeSource(s, d))
      .localCheckpoint() // one merge pass feeds signature AND audit
    val segs = mergeSurvivors(m)
      .withColumn("h", graft.ops.Exprs.md5Long(col("k")))
      .groupBy(concat(lit("seg:"), col("seg")).as("tag"))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_sum"),
        expr("bit_xor(h)").as("key_xor"))
    val acts = m.groupBy(concat(lit("act:"), col("act")).as("tag"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("tag"), col("n_rows"), lit(0L).as("cents_sum"),
        lit(0L).as("key_xor"))
    segs.unionByName(acts).orderBy("tag")
  }

  /** MERGE INTO with PERSISTED table versions (q320 computes the merge
   * action audit in-flight without writing a new table version — this
   * closes that read-back gap, r9 verdict residue #3): the target
   * lands on storage as parquet **v0**, ONE keyed full-outer merge
   * pass against the change feed derives the new state AND the action
   * audit, the surviving rows land beside it as **v1**
   * ([[graft.lake.Versions]]: immutable version dirs behind a
   * `_current` manifest — the commit is the pointer flip, so the old
   * version stays readable throughout), and the output SIGNATURE is
   * computed from the v1 files READ BACK from storage, not from the
   * in-memory merge. The DuckDB oracle recomputes the merged state
   * from the raw table, so the hash equality proves the storage
   * round-trip is lossless — count, exact cents sum, and the
   * order-proof md5₆₀ key XOR all survive the write+read. Version
   * audit rows carry the v0/v1 row counts. Same single-shuffle scale
   * shape as q320 (one keyed full-outer join; bucketed targets
   * co-locate it); the adds are two sequential table writes. */
  val q324MergeReadback: Q = Q("q324_merge_readback",
    s"""WITH t AS (SELECT c_custkey AS k, c_mktsegment AS seg,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer WHERE c_custkey % 3 <> 0),
       s AS (SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) + 10000 AS cents,
               (c_custkey % 10 = 0) AS is_del
             FROM customer WHERE c_custkey % 2 = 0),
       j AS (SELECT coalesce(t.k, s.k) AS k, coalesce(s.seg, t.seg) AS seg,
                    t.k IS NOT NULL AS in_t, s.k IS NOT NULL AS in_s,
                    coalesce(s.is_del, FALSE) AS is_del,
                    t.cents AS tc, s.cents AS sc
             FROM t FULL OUTER JOIN s ON t.k = s.k),
       m AS (SELECT k, seg, CASE WHEN in_s THEN sc ELSE tc END AS cents,
                    CASE WHEN in_t AND in_s AND is_del THEN 'delete'
                         WHEN in_t AND in_s THEN 'update'
                         WHEN in_t THEN 'keep'
                         WHEN is_del THEN 'noop'
                         ELSE 'insert' END AS act
             FROM j),
       v1 AS (SELECT k, seg, cents FROM m
              WHERE act IN ('update', 'keep', 'insert')),
       segs AS (SELECT 'seg:' || seg AS tag, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(cents) AS BIGINT) AS cents_sum,
                  CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT) AS key_xor
                FROM v1 GROUP BY 1),
       acts AS (SELECT 'act:' || act AS tag, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(0 AS BIGINT) AS cents_sum, CAST(0 AS BIGINT) AS key_xor
                FROM m GROUP BY 1),
       vers AS (SELECT 'ver:v0_rows' AS tag, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(0 AS BIGINT) AS cents_sum, CAST(0 AS BIGINT) AS key_xor
                FROM t
                UNION ALL
                SELECT 'ver:v1_rows', CAST(count(*) AS BIGINT),
                  CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM v1)
       SELECT * FROM (SELECT * FROM segs UNION ALL SELECT * FROM acts
                      UNION ALL SELECT * FROM vers)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_merge_vers") { dir =>
      graft.lake.Versions.commit(mergeTarget(s, d), dir)
      // the merge reads the PERSISTED v0, as a real MERGE INTO would
      val t = graft.lake.Versions.read(s, dir, 0)
      val m = mergeResolve(t, mergeSource(s, d))
        .localCheckpoint() // one merge pass feeds v1 write AND audit
      graft.lake.Versions.commit(mergeSurvivors(m), dir)
      // signature from the files READ BACK, not from the in-memory merge
      val v1 = graft.lake.Versions.read(s, dir, 1)
      val segs = v1
        .withColumn("h", graft.ops.Exprs.md5Long(col("k")))
        .groupBy(concat(lit("seg:"), col("seg")).as("tag"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_sum"),
          expr("bit_xor(h)").as("key_xor"))
      val acts = m.groupBy(concat(lit("act:"), col("act")).as("tag"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("tag"), col("n_rows"), lit(0L).as("cents_sum"),
          lit(0L).as("key_xor"))
      import s.implicits._
      val vers = Seq(("ver:v0_rows", t.count()), ("ver:v1_rows", v1.count()))
        .toDF("tag", "n_rows")
        .select(col("tag"), col("n_rows"), lit(0L).as("cents_sum"),
          lit(0L).as("key_xor"))
      // sealed before the eager scratch cleanup (the result must not
      // reference the removed files)
      Q.sealResult(segs.unionByName(acts).unionByName(vers).orderBy("tag"), m)
    }
  }

  /** INCREMENTAL materialized-view maintenance ([[graft.lake.Versions]]
   * commits): the monthly order rollup (count, exact cents sum, cents
   * max) is committed as view v0 over the base slice, then a delta
   * batch arrives and v1 is derived INCREMENTALLY — aggregate the
   * DELTA ALONE, full-outer merge it with v0 READ BACK from storage
   * (count/sum add, max takes greatest: all three maintain under
   * insert-only deltas), commit v1. Cost O(|delta| + |view|), never a
   * base rescan — at 100 TB this is the difference between touching
   * the day's arrivals and re-aggregating the fact table per refresh.
   * The output is the CURRENT view read back from storage; the DuckDB
   * oracle recomputes the whole view from scratch over base+delta, so
   * the hash equality is the incremental≡full proof, row for row. */
  val q325IncrView: Q = Q("q325_incr_view",
    """WITH o AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders)
       SELECT month, CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(cents) AS BIGINT) AS cents_sum,
              CAST(max(cents) AS BIGINT) AS cents_max
       FROM o GROUP BY 1 ORDER BY 1""") { (s, d) =>
    withScratch("graft_incr_view") { root =>
      val o = table(s, d, "orders").select(
        col("o_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("month"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def viewOf(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = rows.groupBy("month")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents_sum"),
          max("cents").as("cents_max"))
      graft.lake.Versions.commit(
        viewOf(o.filter(col("o_orderkey") % 10 =!= 0)), root)
      // ---- the incremental refresh: delta aggregate + view merge ----
      val dAgg = viewOf(o.filter(col("o_orderkey") % 10 === 0))
        .select(col("month").as("d_month"), col("n_orders").as("d_n"),
          col("cents_sum").as("d_sum"), col("cents_max").as("d_max"))
      val v0 = graft.lake.Versions.read(s, root, 0)
      val merged = v0.join(dAgg, col("month") === col("d_month"), "full_outer")
        .select(coalesce(col("month"), col("d_month")).as("month"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("cents_sum"), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
            .as("cents_sum"),
          when(col("cents_max").isNull, col("d_max"))
            .when(col("d_max").isNull, col("cents_max"))
            .otherwise(greatest(col("cents_max"), col("d_max")))
            .as("cents_max"))
      graft.lake.Versions.commit(merged, root)
      Q.sealResult(graft.lake.Versions.read(s, root).orderBy("month"))
    }
  }

  /** TIME TRAVEL + VACUUM on a [[graft.lake.Versions]] table: two
   * committed versions of the per-segment customer rollup are read
   * back SIMULTANEOUSLY (v0 the pre-merge slice, v1 all customers) —
   * the as-of read every lakehouse audit/debug workflow leans on —
   * then retention vacuums v0 and the gates pin the trade: exactly one
   * version directory reclaimed, v0 now fails loudly (vacuumed ≠
   * empty), v1's read-back unchanged, and the `_current` pointer never
   * moved. Pointer flips and the vacuum walk are O(#versions), never
   * O(data) — the signatures rows are the only distributed work. */
  val q326TimeTravelVacuum: Q = Q("q326_timetravel_vacuum",
    """WITH v0 AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents_sum
           FROM customer WHERE c_custkey % 3 <> 0 GROUP BY 1),
       v1 AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents_sum
           FROM customer GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:current_stable'), ('chk:v0_unreadable'),
                            ('chk:v1_stable'), ('chk:vacuumed_one')) t(chk))
       SELECT * FROM (SELECT 'v0:' || seg AS tag, n, cents_sum FROM v0
                      UNION ALL SELECT 'v1:' || seg, n, cents_sum FROM v1
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_timetravel") { root =>
      import graft.lake.Versions
      val cust = table(s, d, "customer").select(
        col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      Versions.commit(cust.filter(col("k") % 3 =!= 0), root)
      Versions.commit(cust, root)
      // time travel: BOTH versions read back side by side, sealed
      // before the vacuum removes v0
      val rows = Q.sealResult(Q.signatures("cents_sum", Seq(0, 1).map(v =>
        (concat(lit(s"v$v:"), col("seg")), Versions.read(s, root, v),
          col("cents"))): _*).orderBy("tag"))
      val v1Before = Versions.read(s, root, 1).count()
      val reclaimed = Versions.vacuum(root, keepFrom = 1)
      val v0Gone =
        try { Versions.read(s, root, 0); false }
        catch { case _: IllegalArgumentException => true }
      val gates = Seq(
        ("chk:current_stable", Versions.current(root) == 1),
        ("chk:v0_unreadable", v0Gone),
        ("chk:v1_stable", Versions.read(s, root, 1).count() == v1Before),
        ("chk:vacuumed_one", reclaimed == 1)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** STREAMING micro-batch commits into a [[graft.lake.Versions]]
   * table ([[graft.streaming.StreamingLake]]) — q325's incremental
   * view maintenance DRIVEN BY A STREAM: the events table arrives in
   * four controlled micro-batches, each one delta-aggregates ITS OWN
   * rows, full-outer merges with the view read back from storage, and
   * commits the refresh as the next version, marking the batchId
   * applied. Gates: the final view read back from storage hash-matches
   * the one-shot batch truth (stream-of-commits ≡ batch, the q89
   * contract extended to a persisted table), one commit per
   * micro-batch, per-version totals monotone (each commit folds a
   * batch IN, never loses one), and REDELIVERY IS IDEMPOTENT —
   * re-applying batch 0 after completion commits nothing (the
   * foreachBatch exactly-once recipe: batchId-keyed markers standing
   * in for a transaction-log txn entry). */
  val q327StreamViewCommits: Q = Q("q327_stream_view_commits",
    """WITH v AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum
               FROM (VALUES ('chk:monotone_versions'),
                            ('chk:one_commit_per_batch'),
                            ('chk:redelivery_idempotent')) t(chk))
       SELECT * FROM (SELECT 'et:' || event_type AS tag, n, id_sum FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_stream_view") { root =>
      import graft.lake.Versions
      val nBatches = graft.streaming.StreamingLake
        .runViewCommits(s, d, root, nFiles = 4)
      val cur = Versions.current(root)
      val ets = Versions.read(s, root)
        .select(concat(lit("et:"), col("event_type")).as("tag"),
          col("n"), col("id_sum"))
      // per-version totals: bounded driver loop (#versions = #batches)
      val totals = (0 to cur).map(v =>
        Versions.read(s, root, v).agg(sum("n")).collect()(0).getLong(0))
      val monotone = totals.zip(totals.tail).forall { case (a, b) => a <= b }
      // redeliver batch 0 after completion: the marker must skip it
      import s.implicits._
      graft.streaming.StreamingLake.applyBatch(root,
        Seq(("view", 999999L)).toDF("event_type", "event_id"), batchId = 0L)
      val gates = Seq(
        ("chk:monotone_versions", monotone),
        ("chk:one_commit_per_batch", cur.toLong == nBatches - 1),
        ("chk:redelivery_idempotent", Versions.current(root) == cur)
      )
      Q.sealReport(ets, gates)
    }
  }

  /** VERSION DIFF — the change-data-feed derivation (Delta's
   * `table_changes()` shape, public docs): given ONLY two stored
   * versions of the q324 merge target, recover what the commit did —
   * inserted (key in v1 only), deleted (key in v0 only), updated (key
   * in both, payload changed), unchanged — as ONE keyed full-outer
   * join over the two read-backs, with per-action counts and
   * order-proof md5₆₀ key-XOR signatures. This is the audit a
   * pipeline runs when the writer's own log is unavailable or
   * untrusted: by construction the counts must equal q320/q324's
   * in-flight action audit (insert/delete/update/keep), and the
   * DuckDB oracle re-derives both versions from the raw table and
   * replays the diff — so the hash gate pins that storage alone
   * reconstructs the commit exactly. One shuffle on the key, same
   * scale shape as the merge itself. */
  val q328VersionDiff: Q = Q("q328_version_diff",
    s"""WITH t AS (SELECT c_custkey AS k, c_mktsegment AS seg,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer WHERE c_custkey % 3 <> 0),
       s AS (SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) + 10000 AS cents,
               (c_custkey % 10 = 0) AS is_del
             FROM customer WHERE c_custkey % 2 = 0),
       j AS (SELECT coalesce(t.k, s.k) AS k, coalesce(s.seg, t.seg) AS seg,
                    t.k IS NOT NULL AS in_t, s.k IS NOT NULL AS in_s,
                    coalesce(s.is_del, FALSE) AS is_del,
                    t.cents AS tc, s.cents AS sc
             FROM t FULL OUTER JOIN s ON t.k = s.k),
       v1 AS (SELECT k, seg, CASE WHEN in_s THEN sc ELSE tc END AS cents
              FROM j WHERE NOT (in_t AND in_s AND is_del)
                       AND NOT (NOT in_t AND is_del)),
       d AS (SELECT coalesce(a.k, b.k) AS k,
                    CASE WHEN a.k IS NULL THEN 'inserted'
                         WHEN b.k IS NULL THEN 'deleted'
                         WHEN a.seg <> b.seg OR a.cents <> b.cents THEN 'updated'
                         ELSE 'unchanged' END AS action
             FROM t a FULL OUTER JOIN v1 b ON a.k = b.k)
       SELECT action, CAST(count(*) AS BIGINT) AS n,
              CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT) AS key_xor
       FROM d GROUP BY action ORDER BY action""") { (s, d) =>
    withScratch("graft_version_diff") { root =>
      import graft.lake.Versions
      val t = mergeTarget(s, d)
      Versions.commit(t.select(col("k"), col("seg"), col("tc").as("cents")),
        root)
      Versions.commit(
        mergeSurvivors(mergeResolve(t, mergeSource(s, d))), root)
      // the diff sees ONLY the two read-backs — no writer state
      val v0 = Versions.read(s, root, 0)
        .select(col("k"), col("seg").as("seg0"), col("cents").as("cents0"))
      val v1 = Versions.read(s, root, 1)
        .select(col("k").as("k1"), col("seg"), col("cents"))
      val diff = v0.join(v1, col("k") === col("k1"), "full_outer")
        .select(coalesce(col("k"), col("k1")).as("kk"),
          when(col("k").isNull, "inserted")
            .when(col("k1").isNull, "deleted")
            .when(col("seg0") =!= col("seg") || col("cents0") =!= col("cents"),
              "updated")
            .otherwise("unchanged").as("action"))
        .withColumn("h", graft.ops.Exprs.md5Long(col("kk")))
        .groupBy("action")
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("key_xor"))
        .orderBy("action")
      Q.sealResult(diff)
    }
  }

  /** N-VERSION CHANGE-DATA-FEED REPLAY (Delta CDF's
   * `table_changes(start, end)` semantics, public docs — the q328
   * two-version diff extended to arbitrary as-of spans): a 4-version
   * history of the keyed customer table is committed (inserts, deletes,
   * updates, a mid-history re-insert, an update-then-revert, and keys
   * that appear and vanish without touching either endpoint), the
   * per-commit CDF records are derived STORAGE-ONLY (q328's keyed
   * full-outer diff per consecutive pair), and the replay COMPOSES them
   * into the net v0→v3 change set: per key, the old value at its FIRST
   * changed record and the new value at its LAST (values are stable
   * between touches, so those are exactly the endpoint states). Net
   * classification: inserted (null→val), deleted (val→null), updated
   * (values differ), net_noop_transient (null→null: inserted then
   * deleted mid-span — in NO endpoint), net_noop_reverted (equal
   * values: updated then reverted). The DuckDB oracle computes the
   * DIRECT v0→v3 diff from the raw table (plus the closed-form mod
   * classes for both noop rows), so the hash equality IS the
   * composition proof: folding three per-commit diffs reproduces the
   * direct endpoint diff, action for action, key-XOR for key-XOR. An
   * in-engine chk additionally replays the direct diff from the two
   * read-backs and compares per-key. Scale shape: every step — the
   * per-commit diffs, the composition groupBy, the direct check — is
   * keyed on k (co-partitioned single-shuffle passes over version-sized
   * inputs, never the base table); a real CDF keeps per-commit diffs as
   * stored artifacts, so the replay cost is O(Σ|diff_i|), not
   * O(versions × table). */
  val q330CdfReplay: Q = Q("q330_cdf_replay",
    s"""WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS c FROM customer),
       s0 AS (SELECT k, c AS cents FROM c WHERE k % 3 <> 0),
       s3 AS (SELECT k,
                CASE WHEN k % 13 = 0 AND NOT (k % 5 = 0 AND k % 3 <> 0 AND k % 2 = 1)
                     THEN (CASE WHEN k % 6 = 0 THEN c + 5
                           ELSE c + CASE WHEN k % 7 = 0 THEN 1000 ELSE 0 END END)
                     ELSE (CASE WHEN k % 5 = 0 AND k % 3 <> 0 AND k % 2 = 1 THEN c + 50
                           ELSE (CASE WHEN k % 6 = 0 THEN c + 5
                                 ELSE c + CASE WHEN k % 7 = 0 THEN 1000 ELSE 0 END END)
                                + CASE WHEN k % 13 = 0 THEN 7 ELSE 0 END END) END AS cents
              FROM c
              WHERE ((((k % 3 <> 0 AND k % 5 <> 0) OR k % 6 = 0) AND k % 11 <> 0)
                     OR (k % 5 = 0 AND k % 3 <> 0 AND k % 2 = 1))
                AND k % 17 <> 0),
       d AS (SELECT coalesce(a.k, b.k) AS k,
               CASE WHEN a.k IS NULL THEN 'inserted'
                    WHEN b.k IS NULL THEN 'deleted'
                    WHEN a.cents <> b.cents THEN 'updated'
                    ELSE 'unchanged' END AS action,
               coalesce(b.cents, 0) - coalesce(a.cents, 0) AS delta
             FROM s0 a FULL OUTER JOIN s3 b ON a.k = b.k),
       acts AS (SELECT 'act:' || action AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(delta) AS BIGINT) AS cents_delta,
                  CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT) AS key_xor
                FROM d WHERE action <> 'unchanged' GROUP BY 1),
       noops AS (SELECT 'act:net_noop_transient' AS tag,
                   CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS cents_delta,
                   CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT) AS key_xor
                 FROM c WHERE k % 6 = 0 AND (k % 11 = 0 OR k % 17 = 0)
                 UNION ALL
                 SELECT 'act:net_noop_reverted', CAST(count(*) AS BIGINT),
                   CAST(0 AS BIGINT),
                   CAST(bit_xor(${graft.ops.Exprs.md5LongSql.format("k")}) AS BIGINT)
                 FROM c WHERE k % 13 = 0 AND k % 7 <> 0 AND k % 3 <> 0
                   AND k % 5 <> 0 AND k % 11 <> 0 AND k % 17 <> 0),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_delta, CAST(0 AS BIGINT) AS key_xor
               FROM (VALUES ('chk:composed_equals_direct'),
                            ('chk:four_versions'),
                            ('chk:reverts_net_noop'),
                            ('chk:transients_net_noop')) t(chk))
       SELECT * FROM (SELECT * FROM acts UNION ALL SELECT * FROM noops
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_cdf_replay") { root =>
      import graft.lake.Versions
      val c = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("c"))
      val k = col("k")
      val reins = (k % 5 === 0) && (k % 3 =!= 0) && (k % 2 === 1)
      val c1 = when(k % 6 === 0, col("c") + 5)
        .otherwise(col("c") + when(k % 7 === 0, 1000L).otherwise(0L))
      val c2 = when(reins, col("c") + 50)
        .otherwise(c1 + when(k % 13 === 0, 7L).otherwise(0L))
      val c3 = when((k % 13 === 0) && !reins, c1).otherwise(c2)
      val p1 = ((k % 3 =!= 0) && (k % 5 =!= 0)) || (k % 6 === 0)
      val states = Seq(
        c.filter(k % 3 =!= 0).select(k, col("c").as("cents")),
        c.filter(p1).select(k, c1.as("cents")),
        c.filter((p1 && (k % 11 =!= 0)) || reins).select(k, c2.as("cents")),
        c.filter(((p1 && (k % 11 =!= 0)) || reins) && (k % 17 =!= 0))
          .select(k, c3.as("cents")))
      states.foreach(v => Versions.commit(v, root))
      // changed-only CDF records between two stored versions — q328's
      // keyed full-outer diff, tagged with the commit index
      def diff(i: Int, j: Int): org.apache.spark.sql.DataFrame = {
        val a = Versions.read(s, root, i)
          .select(col("k"), col("cents").as("oc"))
        val b = Versions.read(s, root, j)
          .select(col("k").as("k1"), col("cents").as("nc"))
        a.join(b, col("k") === col("k1"), "full_outer")
          .select(coalesce(col("k"), col("k1")).as("k"),
            when(col("k").isNull, "inserted")
              .when(col("k1").isNull, "deleted")
              .when(col("oc") =!= col("nc"), "updated")
              .otherwise("unchanged").as("action"),
            col("oc"), col("nc"), lit(i).as("ci"))
          .filter(col("action") =!= "unchanged")
      }
      val cdf = (0 until 3).map(i => diff(i, i + 1))
        .reduce(_ unionByName _).localCheckpoint()
      // composition: endpoint states are the first record's old value
      // and the last record's new value (stable between touches);
      // struct-wrapped so a null endpoint survives min_by/max_by
      val net = cdf.groupBy("k").agg(
          min_by(struct(col("oc")), col("ci")).as("fo"),
          max_by(struct(col("nc")), col("ci")).as("ln"))
        .select(col("k"), col("fo.oc").as("oc"), col("ln.nc").as("nc"))
        .withColumn("action",
          when(col("oc").isNull && col("nc").isNull, "net_noop_transient")
            .when(col("oc").isNull, "inserted")
            .when(col("nc").isNull, "deleted")
            .when(col("oc") === col("nc"), "net_noop_reverted")
            .otherwise("updated"))
        .localCheckpoint()
      val acts = net
        .withColumn("h", graft.ops.Exprs.md5Long(col("k")))
        .groupBy(concat(lit("act:"), col("action")).as("tag"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("nc"), lit(0L)) - coalesce(col("oc"), lit(0L)))
            .as("cents_delta"),
          expr("bit_xor(h)").as("key_xor"))
      // in-engine direct check: the composed changed set must equal the
      // endpoint diff replayed from the two read-backs, key for key
      val composed = net
        .filter(col("action").isin("inserted", "deleted", "updated"))
        .select("k", "action")
      val direct = diff(0, 3).select("k", "action")
      val composedEq = Checks.multisetEqual(composed, direct)
      // noop-class validation against the read-backs themselves
      val v0r = Versions.read(s, root, 0)
      val v3r = Versions.read(s, root, 3)
      val trans = net.filter(col("action") === "net_noop_transient")
        .select("k").localCheckpoint()
      val revs = net.filter(col("action") === "net_noop_reverted")
        .select("k").localCheckpoint()
      // all six noop-class probes in ONE tagged-union job (was 6
      // separate count actions over the two checkpointed key sets)
      val nc = Seq(
        trans.select(lit(0).as("t")),
        trans.join(v0r, Seq("k"), "left_semi").select(lit(1).as("t")),
        trans.join(v3r, Seq("k"), "left_semi").select(lit(2).as("t")),
        revs.select(lit(3).as("t")),
        revs.join(v0r.select(col("k"), col("cents").as("c0")), Seq("k"))
          .join(v3r.select(col("k"), col("cents").as("cN")), Seq("k"))
          .filter(col("c0") =!= col("cN")).select(lit(4).as("t")),
        revs.join(v0r, Seq("k"), "left_anti").select(lit(5).as("t"))
      ).reduce(_ union _).groupBy("t").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val transOk = nc(0) > 0 && nc(1) == 0 && nc(2) == 0
      val revsOk = nc(3) > 0 && nc(4) == 0 && nc(5) == 0
      val gates = Seq(
        ("chk:composed_equals_direct", composedEq),
        ("chk:four_versions", Versions.current(root) == 3),
        ("chk:reverts_net_noop", revsOk),
        ("chk:transients_net_noop", transOk)
      )
      Q.sealReport(acts, gates, cdf, net, trans, revs)
    }
  }

  /** SCHEMA EVOLUTION ACROSS TABLE VERSIONS
   * ([[graft.lake.Versions.readEvolved]] — the r10 verdict's add-column
   * rung; q107 covers flat-directory mergeSchema, this is the
   * VERSIONED-table variant where each v\<N\> may carry a different
   * schema): v0 commits the customer rollup as (k, cents); v1 adds a
   * `seg` column. Both versions are then read AS-OF under the CURRENT
   * schema — v0's rows come back with a typed NULL seg (labelled
   * '(pre-evolution)' here), v1's unchanged — and the union-by-name
   * aggregates per (ver, seg). The DuckDB oracle recomputes both
   * version states from the raw table, so the hash equality pins the
   * evolved read exactly: no row lost, no value coerced, the missing
   * column is null and only null. Chk rows pin the two metadata
   * contracts: the evolved v0 schema EQUALS the current schema (order
   * included), and plain [[graft.lake.Versions.read]] still returns
   * the ORIGINAL 2-column schema (evolution is a read-time view, not a
   * rewrite). Scale shape: evolution is metadata-only — the evolved
   * read adds a null literal column, never touches the old files. */
  val q332SchemaEvolution: Q = Q("q332_schema_evolution",
    """WITH v0 AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer WHERE c_custkey % 3 <> 0),
       v1 AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
              c_mktsegment AS seg
            FROM customer),
       u AS (SELECT 'v0' AS ver, '(pre-evolution)' AS seg, cents FROM v0
             UNION ALL SELECT 'v1', seg, cents FROM v1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:evolved_schema_is_current'),
                            ('chk:plain_read_unevolved')) t(chk))
       SELECT * FROM (SELECT ver || ':' || seg AS tag,
                             CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(cents) AS BIGINT) AS cents_sum
                      FROM u GROUP BY 1
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_schema_evo") { root =>
      import graft.lake.Versions
      val cust = table(s, d, "customer").select(
        col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"),
        col("c_mktsegment").as("seg"))
      Versions.commit(cust.filter(col("k") % 3 =!= 0)
        .select("k", "cents"), root) // v0: pre-evolution schema
      Versions.commit(cust.select("k", "cents", "seg"), root) // v1: +seg
      val v0e = Versions.readEvolved(s, root, 0)
      val v1 = Versions.read(s, root, 1)
      def tagged(ver: String) =
        concat(lit(s"$ver:"), coalesce(col("seg"), lit("(pre-evolution)")))
      val rows = Q.signatures("cents_sum",
        (tagged("v0"), v0e, col("cents")), (tagged("v1"), v1, col("cents")))
      val gates = Seq(
        ("chk:evolved_schema_is_current",
          v0e.schema == v1.schema),
        ("chk:plain_read_unevolved",
          Versions.read(s, root, 0).columns.toSeq == Seq("k", "cents"))
      )
      Q.sealReport(rows, gates)
    }
  }

  /** ZERO-COPY BRANCH / SHALLOW CLONE of a versioned table
   * ([[graft.lake.Versions.branch]] — the Delta `SHALLOW CLONE` /
   * Iceberg snapshot-ref rung, public docs): the per-customer rollup
   * commits v0 then evolves to v1 on the SOURCE table; a branch is cut
   * from src@v0 (two metadata files, no data copied), reads its v0
   * THROUGH the base pointer, and commits a DIVERGENT v1 (drop k%7=0,
   * +100 cents) derived from that read-back. Output rows are the
   * per-version signatures of all four states — src v0/v1 and branch
   * v0/v1 — which the DuckDB oracle recomputes from the raw customer
   * table, so the hash equality pins both the read-through-base path
   * and the divergent lineage. Gates: branch v0 ≡ src v0 row-for-row
   * (exceptAll both ways), the branch root holds NO local v0 directory
   * (zero-copy is physical, not aspirational), src's pointer/txn were
   * not disturbed by the branch commit, and the two v1s genuinely
   * diverged. Scale shape: branching is O(1) metadata at any table
   * size; the only distributed work here is the signature aggregates. */
  val q333BranchClone: Q = Q("q333_branch_clone",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       s0 AS (SELECT k, cents FROM c WHERE k % 3 <> 0),
       s1 AS (SELECT k, cents + CASE WHEN k % 2 = 0 THEN 10 ELSE 0 END AS cents
              FROM c),
       b1 AS (SELECT k, cents + 100 AS cents FROM s0 WHERE k % 7 <> 0),
       sigs AS (SELECT 'src:v0' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM s0
                UNION ALL SELECT 'src:v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM s1
                UNION ALL SELECT 'branch:v0', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM s0
                UNION ALL SELECT 'branch:v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM b1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:branch_v0_equals_src_v0'),
                            ('chk:diverged'), ('chk:src_undisturbed'),
                            ('chk:zero_copy')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_branch_src") { src =>
      withScratch("graft_branch_dst") { dst =>
        import graft.lake.Versions
        val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        Versions.commit(cust.filter(col("k") % 3 =!= 0), src, txn = 7L) // v0
        Versions.branch(src, dst, version = 0)
        // source keeps evolving AFTER the branch was cut
        Versions.commit(cust.select(col("k"),
          (col("cents") + when(col("k") % 2 === 0, 10L).otherwise(0L))
            .as("cents")), src)                                        // src v1
        // divergent branch commit, derived from the branch's own v0
        // READ BACK through the base pointer
        val bv0 = Versions.read(s, dst, 0)
        Versions.commit(bv0.filter(col("k") % 7 =!= 0)
          .select(col("k"), (col("cents") + 100L).as("cents")), dst)   // br v1
        val rows = Q.signatures("cents_sum",
          Seq((src, "src"), (dst, "branch")).flatMap { case (root, name) =>
            Seq(0, 1).map(v => (lit(s"$name:v$v"), Versions.read(s, root, v),
              col("cents")))
          }: _*)
        val sv0 = Versions.read(s, src, 0)
        val sameV0 = Checks.multisetEqual(bv0, sv0)
        val diverged = Versions.read(s, dst, 1)
          .exceptAll(Versions.read(s, src, 1)).count() > 0
        val gates = Seq(
          ("chk:branch_v0_equals_src_v0", sameV0),
          ("chk:diverged", diverged),
          // the branch commit must not have moved the source's pointer or
          // txn mark, and the branch starts its own txn ledger at -1
          ("chk:src_undisturbed",
            Versions.current(src) == 1 && Versions.lastTxn(src) == 7L &&
              Versions.lastTxn(dst) == -1L),
          ("chk:zero_copy", !new java.io.File(dst, "v0").exists() &&
            new java.io.File(dst, "v1").isDirectory)
        )
        Q.sealReport(rows, gates)
      }
    }
  }

  /** SNAPSHOT-ISOLATION READS for a multi-query pipeline
   * ([[graft.lake.Versions.snapshot]] — the MVCC repeatable-read
   * guarantee a report pins itself to while writers keep committing):
   * v0 commits the customer rollup, the pipeline takes a snapshot
   * handle, TWO MORE commits land (v1 drops k%5=0, v2 adds 7 cents to
   * even keys), and then three separate "report queries" — row count +
   * cents sum, per-bucket distribution, top-cents argmax — all run
   * against the PINNED snapshot. Every one of them must reflect v0
   * exactly (the oracle recomputes all three from the raw table's v0
   * state), even though `_current` moved twice in between — and a
   * fourth read taken at the very end must still match, pinning
   * repeatable-read across the whole pipeline, not just at open time.
   * Gates: the pinned version never moved, the current read reflects
   * v2 (writers were never blocked — readers don't lock writers), and
   * the late re-read equals the early materialized read row-for-row.
   * Scale shape: a snapshot is an integer; pinning costs nothing and
   * blocks nobody, because committed version directories are immutable
   * by construction. */
  val q334SnapshotIsolation: Q = Q("q334_snapshot_isolation",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v0 AS (SELECT k, cents FROM c WHERE k % 3 <> 0),
       v2 AS (SELECT k, cents + CASE WHEN k % 2 = 0 THEN 7 ELSE 0 END AS cents
              FROM c WHERE k % 3 <> 0 AND k % 5 <> 0),
       snaptotal AS (SELECT 'snap:total' AS tag, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(cents) AS BIGINT) AS cents_sum FROM v0),
       snapbuckets AS (SELECT 'snap:bucket' || CAST(k % 4 AS VARCHAR) AS tag,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cents) AS BIGINT) AS cents_sum
                       FROM v0 GROUP BY 1),
       snaptop AS (SELECT 'snap:top' AS tag, CAST(max(k) AS BIGINT) AS n,
                     CAST(max(cents) AS BIGINT) AS cents_sum
                   FROM v0 WHERE cents = (SELECT max(cents) FROM v0)),
       curtotal AS (SELECT 'cur:total' AS tag, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS cents_sum FROM v2),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:pin_stable'), ('chk:repeatable_read'),
                            ('chk:writers_not_blocked')) t(chk))
       SELECT * FROM (SELECT * FROM snaptotal UNION ALL
                      SELECT * FROM snapbuckets UNION ALL
                      SELECT * FROM snaptop UNION ALL
                      SELECT * FROM curtotal UNION ALL
                      SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_snapshot_iso") { root =>
      import graft.lake.Versions
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      Versions.commit(cust.filter(col("k") % 3 =!= 0), root)        // v0
      val snap = Versions.snapshot(root)
      // the pipeline's first query, materialized NOW (pre-commit truth
      // for the repeatable-read gate at the end)
      val early = Versions.read(s, root, snap).localCheckpoint()
      // two writers land while the pipeline is mid-flight
      Versions.commit(Versions.read(s, root)
        .filter(col("k") % 5 =!= 0), root)                          // v1
      Versions.commit(Versions.read(s, root).select(col("k"),
        (col("cents") + when(col("k") % 2 === 0, 7L).otherwise(0L))
          .as("cents")), root)                                      // v2
      // three report queries, all against the SAME pinned snapshot
      def snapRead = Versions.read(s, root, snap)
      val sigs = Q.signatures("cents_sum",
        (lit("snap:total"), snapRead, col("cents")),
        (concat(lit("snap:bucket"), col("k") % 4), snapRead, col("cents")),
        (lit("cur:total"), Versions.read(s, root), col("cents")))
      val top = snapRead
        .agg(max_by(col("k"), struct(col("cents"), col("k"))).as("n"),
          max("cents").as("cents_sum"))
        .select(lit("snap:top").as("tag"), col("n"), col("cents_sum"))
      val late = Versions.read(s, root, snap)
      val repeatable = Checks.multisetEqual(late, early)
      val gates = Seq(
        ("chk:pin_stable", snap == 0 && Versions.snapshot(root) == 2),
        ("chk:repeatable_read", repeatable),
        ("chk:writers_not_blocked", Versions.current(root) == 2)
      )
      Q.sealReport(sigs.unionByName(top), gates, early)
    }
  }

  /** OPTIMISTIC CONCURRENCY — multi-writer commits with conflict
   * detection ([[graft.lake.TxLog]], the put-if-absent commit-log
   * protocol public lakehouse formats use; the r10 verdict named this
   * "the real next rung" above [[graft.lake.Versions]]' single-writer
   * contract). Deterministic two-writer race: both writers read v0
   * (all customers); writer B commits first (drop k%5=0 → v1); writer
   * A's stale commit (expected v0) hits the CAS and raises
   * CommitConflict instead of clobbering or silently losing B's write;
   * A then REBASES — re-reads v1, re-applies its transform (+10 cents
   * on even keys) — and lands v2. The final state is therefore the
   * SERIAL application B-then-A, which the DuckDB oracle recomputes
   * from the raw table: the hash equality is the serializability
   * proof. Gates: the conflict was detected (not lost), the loser's
   * orphaned data directory was reclaimed so exactly one data dir
   * exists per commit record, the version sequence is the total order
   * 0..2, and the txn high-water survived the race. Scale shape: the
   * commit point is one hard-link of a tiny record regardless of data
   * size; rebase work is O(|table|) reads of the winner's state, never
   * a lock held across the data write. */
  val q335OptimisticCommits: Q = Q("q335_optimistic_commits",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v1 AS (SELECT k, cents FROM c WHERE k % 5 <> 0),
       v2 AS (SELECT k, cents + CASE WHEN k % 2 = 0 THEN 10 ELSE 0 END AS cents
              FROM v1),
       sigs AS (SELECT 'v0' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM c
                UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v1
                UNION ALL SELECT 'v2', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v2),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:conflict_detected'),
                            ('chk:no_orphans'),
                            ('chk:total_order'),
                            ('chk:txn_highwater')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_txlog") { root =>
      import graft.lake.{CommitConflict, TxLog}
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      def withA(df: org.apache.spark.sql.DataFrame) = df.select(col("k"),
        (col("cents") + when(col("k") % 2 === 0, 10L).otherwise(0L))
          .as("cents"))
      TxLog.commit(cust, root, expected = -1, txn = 3L)            // v0
      // both writers read v0; B wins the race
      val staleBase = TxLog.read(s, root)                          // A's read
      TxLog.commit(TxLog.read(s, root).filter(col("k") % 5 =!= 0),
        root, expected = 0)                                        // B → v1
      // A's stale commit MUST conflict, not clobber
      val conflicted =
        try { TxLog.commit(withA(staleBase), root, expected = 0); false }
        catch { case _: CommitConflict => true }
      // A rebases through the optimistic-transaction loop → v2
      TxLog.readModifyWrite(s, root)(base => withA(base.get))
      val rows = Q.signatures("cents_sum", (0 to 2).map(v =>
        (lit(s"v$v"), TxLog.read(s, root, v), col("cents"))): _*)
      val dataDirs = Option(new java.io.File(root).listFiles()).toSeq
        .flatten.count(f => f.isDirectory && f.getName.startsWith("d"))
      val gates = Seq(
        ("chk:conflict_detected", conflicted),
        // the loser cleaned up after itself: one data dir per record
        ("chk:no_orphans", dataDirs == 3),
        ("chk:total_order", TxLog.current(root) == 2),
        ("chk:txn_highwater", TxLog.lastTxn(root) == 3L)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** DELETION VECTORS — merge-on-read deletes for a versioned table
   * ([[graft.lake.Versions.commitDelete]], the Delta/Iceberg
   * deletion-vector rung, public docs): v0 commits the full customer
   * rollup; two deletes land as O(|keys|) DV commits (v1 drops k%5=0,
   * v2 drops k%7=0) that write ONLY the deleted keys — never a table
   * rewrite; reads resolve the chain (base anti-join vectors); then
   * [[graft.lake.Versions.compactDeletes]] collapses the chain into a
   * full v3 and vacuum reclaims the whole old chain. The oracle
   * recomputes every state from the raw table, so the hash equality
   * pins the chain resolution exactly. Gates: the v1 directory holds
   * EXACTLY the deleted keys and one column (delete is physically
   * O(|keys|)), the base's files were never touched by either delete,
   * time travel into the middle of the chain works, the compacted full
   * version reads bit-identically to the chain it replaced, vacuum
   * BEFORE compaction auto-lowers its floor to the chain base and
   * reclaims nothing, and vacuum AFTER compaction reclaims all three
   * chain members while the compacted read survives. Scale shape: a
   * delete ships |keys| rows and a pointer flip; the deferred rewrite
   * cost is paid once at compaction, the merge-on-read /
   * copy-on-write trade. */
  val q336DeletionVectors: Q = Q("q336_deletion_vectors",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v1 AS (SELECT k, cents FROM c WHERE k % 5 <> 0),
       v2 AS (SELECT k, cents FROM c WHERE k % 5 <> 0 AND k % 7 <> 0),
       sigs AS (SELECT 'v0' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM c
                UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v1
                UNION ALL SELECT 'v2', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v2),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:base_untouched'),
                            ('chk:compacted_equiv'),
                            ('chk:dv_is_o_keys'),
                            ('chk:vacuum_floor_guard'),
                            ('chk:vacuum_after_compact')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_dv") { root =>
      import graft.lake.Versions
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      Versions.commit(cust, root)                                   // v0
      def filesOf(v: Int) = Option(
        new java.io.File(root, s"v$v").listFiles()).toSeq.flatten
        .map(f => (f.getName, f.length)).toSet
      val baseBefore = filesOf(0)
      val del1 = cust.filter(col("k") % 5 === 0).select("k")
      Versions.commitDelete(del1, root, "k")                        // v1 (DV)
      Versions.commitDelete(
        cust.filter(col("k") % 7 === 0).select("k"), root, "k")     // v2 (DV)
      // captured NOW: both deletes left the base's physical files alone
      val baseUntouched = filesOf(0) == baseBefore
      // time travel INTO the chain (v1) plus both endpoints, sealed
      // before the vacuums remove the chain
      val rows = Q.sealResult(Q.signatures("cents_sum", (0 to 2).map(v =>
        (lit(s"v$v"), Versions.read(s, root, v), col("cents"))): _*)
        .orderBy("tag"))
      // physical O(|keys|): the v1 dir holds exactly the deleted keys
      val rawDv = s.read.parquet(s"$root/v1")
      val dvCnt = Checks.counts(Seq(rawDv, del1.distinct())) // one job
      val dvOk = rawDv.columns.toSeq == Seq("k") && dvCnt(0) == dvCnt(1)
      // vacuum before compaction: floor auto-lowers to the chain base
      val preReclaim = Versions.vacuum(root, keepFrom = 2)
      val chainStillReads = Versions.read(s, root, 2).count() > 0
      val v2Resolved = Versions.read(s, root, 2).localCheckpoint()
      Versions.compactDeletes(s, root)                              // v3 full
      val compactEquiv =
        Checks.multisetEqual(Versions.read(s, root, 3), v2Resolved)
      val postReclaim = Versions.vacuum(root, keepFrom = 3)
      val survived = Versions.read(s, root).count() == v2Resolved.count()
      val gates = Seq(
        ("chk:base_untouched", baseUntouched),
        ("chk:compacted_equiv", compactEquiv),
        ("chk:dv_is_o_keys", dvOk),
        ("chk:vacuum_floor_guard", preReclaim == 0 && chainStillReads),
        ("chk:vacuum_after_compact", postReclaim == 3 && survived)
      )
      Q.sealReport(rows, gates, v2Resolved)
    }
  }

  /** MERGE-ON-READ UPSERT ([[graft.lake.Versions.commitUpsert]] — the
   * Iceberg equality-delete + data-file shape, public docs; completes
   * q336's CRUD story): v0 commits the full customer rollup; v1 lands
   * updates (+55 cents on k%6=0) AND inserts (synthetic keys 10M+k for
   * k%10=3) in ONE O(|delta|) overlay commit — the version directory
   * holds exactly the delta rows, the base is untouched; v2 is a DV
   * delete of k%4=0, proving upsert and delete overlays COMPOSE in one
   * chain; compaction then collapses the chain into a full v3. The
   * oracle recomputes v1/v2 from the raw table so the hash equality
   * pins the overlay resolution (replaced rows out, replacements +
   * inserts in, then deletes). Gates: the v1 directory row count
   * equals the delta size exactly, the base files never changed, the
   * compacted version reads bit-identically to the chain, and a
   * zero-copy branch refuses to cut from an overlay version. Scale
   * shape: updates and inserts ship |delta| rows + a pointer flip;
   * the rewrite is deferred to one compaction pass. */
  val q337MorUpsert: Q = Q("q337_mor_upsert",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       delta AS (SELECT k, cents + 55 AS cents FROM c WHERE k % 6 = 0
                 UNION ALL
                 SELECT k + 10000000, CAST(k * 3 + 1 AS BIGINT)
                 FROM c WHERE k % 10 = 3),
       v1 AS (SELECT k, cents FROM c WHERE k % 6 <> 0
              UNION ALL SELECT k, cents FROM delta),
       v2 AS (SELECT k, cents FROM v1 WHERE k % 4 <> 0),
       sigs AS (SELECT 'v0' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM c
                UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v1
                UNION ALL SELECT 'v2', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v2),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:base_untouched'),
                            ('chk:branch_refused'),
                            ('chk:compacted_equiv'),
                            ('chk:delta_is_o_rows')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mor") { root =>
      withScratch("graft_mor_branch") { br =>
        import graft.lake.Versions
        val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        Versions.commit(cust, root)                                   // v0
        def filesOf(v: Int) = Option(
          new java.io.File(root, s"v$v").listFiles()).toSeq.flatten
          .map(f => (f.getName, f.length)).toSet
        val baseBefore = filesOf(0)
        val delta = cust.filter(col("k") % 6 === 0)
          .select(col("k"), (col("cents") + 55L).as("cents"))
          .unionByName(cust.filter(col("k") % 10 === 3)
            .select((col("k") + 10000000L).as("k"),
              (col("k") * 3L + 1L).as("cents")))
        Versions.commitUpsert(delta, root, "k")                       // v1 (MOR)
        Versions.commitDelete(
          Versions.read(s, root).filter(col("k") % 4 === 0)
            .select("k"), root, "k")                                  // v2 (DV)
        val baseUntouched = filesOf(0) == baseBefore
        // the chain's three versions, sealed on the driver (bounded)
        val rows = Q.sealResult(Q.signatures("cents_sum", (0 to 2).map(v =>
          (lit(s"v$v"), Versions.read(s, root, v), col("cents"))): _*)
          .orderBy("tag"))
        val deltaCnt = Checks.counts(
          Seq(s.read.parquet(s"$root/v1"), delta)) // one job
        val deltaOk = deltaCnt(0) == deltaCnt(1)
        val branchRefused =
          try { Versions.branch(root, br); false }
          catch { case _: IllegalArgumentException => true }
        val v2Resolved = Versions.read(s, root, 2).localCheckpoint()
        Versions.compactDeletes(s, root)                              // v3 full
        val v3 = Versions.read(s, root, 3)
        val compactEquiv = Checks.multisetEqual(v3, v2Resolved)
        val gates = Seq(
          ("chk:base_untouched", baseUntouched),
          ("chk:branch_refused", branchRefused),
          ("chk:compacted_equiv", compactEquiv),
          ("chk:delta_is_o_rows", deltaOk)
        )
        Q.sealReport(rows, gates, v2Resolved)
      }
    }
  }

  /** STREAMING MICRO-BATCH COMMITS ON THE MULTI-WRITER LOG
   * ([[graft.streaming.StreamingLake.applyBatchCas]] +
   * [[graft.lake.TxLog]] — q327's exactly-once stream sink upgraded
   * from the single-writer manifest to the CAS commit log, so a
   * MAINTENANCE writer may race the stream and neither loses): the
   * events table streams in four micro-batches, each committed via the
   * optimistic loop with its batchId as the commit txn; then a
   * txn-less maintenance rewrite lands (the compaction that q327's
   * design could not tolerate racing), a deliberately STALE commit is
   * shown to conflict rather than clobber, and a replayed batch is
   * shown to be skipped — even though the maintenance commit moved the
   * version — because the txn high-water is the max over ALL commit
   * records, not the last one. The oracle recomputes the view from the
   * raw events, so the hash pins stream ≡ batch through every
   * interleaving. Gates: one commit per micro-batch before
   * maintenance, the maintenance rewrite preserved the view
   * bit-identically, the stale commit conflicted, replay after
   * maintenance was skipped, and lastTxn survived the txn-less
   * commit. Scale shape: per batch O(|batch|+|view|) plus one
   * hard-link; a conflicted writer redoes only the merge, never the
   * batch scan (the batch aggregate is checkpointed once). */
  val q338StreamCasCommits: Q = Q("q338_stream_cas_commits",
    """WITH v AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum
               FROM (VALUES ('chk:maintenance_preserves'),
                            ('chk:one_commit_per_batch'),
                            ('chk:replay_skipped'),
                            ('chk:stale_commit_conflicts'),
                            ('chk:txn_survives_maintenance')) t(chk))
       SELECT * FROM (SELECT 'et:' || event_type AS tag, n, id_sum FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_stream_cas") { root =>
      import graft.lake.{CommitConflict, TxLog}
      val nBatches = graft.streaming.StreamingLake
        .runViewCommitsCas(s, d, root, nFiles = 4)
      val preMaint = TxLog.current(root)
      val viewBefore = TxLog.read(s, root).localCheckpoint()
      // txn-less maintenance rewrite racing the (finished) stream epoch
      TxLog.readModifyWrite(s, root)(base => base.get.repartition(1))
      val viewAfter = TxLog.read(s, root)
      val preserved = Checks.multisetEqual(viewAfter, viewBefore)
      // a stale writer (expected = pre-maintenance version) must
      // conflict, never clobber the maintenance commit
      val conflicted =
        try { TxLog.commit(viewBefore, root, expected = preMaint); false }
        catch { case _: CommitConflict => true }
      // replayed batch AFTER maintenance: still skipped, because the
      // high-water is the max over all records, not the last commit's
      import s.implicits._
      val curNow = TxLog.current(root)
      val replayed = graft.streaming.StreamingLake.applyBatchCas(root,
        Seq(("view", 999999L)).toDF("event_type", "event_id"), batchId = 0L)
      val ets = TxLog.read(s, root)
        .select(concat(lit("et:"), col("event_type")).as("tag"),
          col("n"), col("id_sum"))
      val gates = Seq(
        ("chk:maintenance_preserves", preserved),
        ("chk:one_commit_per_batch", preMaint.toLong == nBatches - 1),
        ("chk:replay_skipped",
          !replayed && TxLog.current(root) == curNow),
        ("chk:stale_commit_conflicts", conflicted),
        ("chk:txn_survives_maintenance",
          TxLog.lastTxn(root) == nBatches - 1)
      )
      Q.sealReport(ets, gates, viewBefore)
    }
  }

  /** COMMIT-LOG CHECKPOINT + RETENTION for the multi-writer table
   * ([[graft.lake.TxLog.checkpoint]]/[[graft.lake.TxLog.vacuum]] — the
   * role Delta's parquet checkpoint plays, public docs; closes the
   * "real systems checkpoint the log" caveat q335 shipped with): a
   * 12-commit history (mixed txn and txn-less commits) is
   * checkpointed, then retention reclaims versions v0–v9 — data
   * directories AND their log records — leaving `current` and the txn
   * high-water intact because the checkpoint folded them, `lastTxn`
   * O(tail) instead of O(history), tail time travel (v10/v11) alive,
   * prefix time travel failing loudly, and new commits continuing on
   * the vacuumed log. The oracle recomputes both retained states from
   * the raw table. Gates: counter/high-water stability across the
   * prefix reclaim, exactly ten versions reclaimed, bounded log (two
   * records + checkpoint), old reads fail, commits continue. Scale
   * shape: a checkpoint is one tiny fold file; vacuum unlinks the
   * record BEFORE its data so a crash mid-vacuum leaves versions that
   * already read as vacuumed, never missing-data reads. */
  val q339TxlogCheckpoint: Q = Q("q339_txlog_checkpoint",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v10 AS (SELECT k, cents FROM c WHERE k % 12 <> 11),
       sigs AS (SELECT 'v10' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM v10
                UNION ALL SELECT 'v11', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM c),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:commits_continue'),
                            ('chk:current_stable'),
                            ('chk:lasttxn_stable'),
                            ('chk:log_bounded'),
                            ('chk:old_read_fails'),
                            ('chk:vacuumed_ten')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_txlog_ckpt") { root =>
      import graft.lake.TxLog
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      // 12 commits, each widening the slice (v_i = keys with k%12 <= i);
      // txns only on commits 2/5/9 — the fold must carry them anyway
      (0 to 11).foreach { i =>
        val txn = if (Set(2, 5, 9)(i)) 100L + i else -1L
        TxLog.commit(cust.filter(pmod(col("k"), lit(12)) <= i), root,
          expected = i - 1, txn = txn)
      }
      TxLog.checkpoint(root)
      val reclaimed = TxLog.vacuum(root, keepFrom = 10)
      val stableAfterVacuum =
        TxLog.current(root) == 11 && TxLog.lastTxn(root) == 109L
      val oldFails =
        try { TxLog.read(s, root, 5); false }
        catch { case _: IllegalArgumentException => true }
      val rows = Q.signatures("cents_sum", Seq(10, 11).map(v =>
        (lit(s"v$v"), TxLog.read(s, root, v), col("cents"))): _*)
      val logFiles = Option(new java.io.File(root, "_commits")
        .listFiles()).toSeq.flatten.map(_.getName).toSet
      // a new commit rides the vacuumed log without missing a beat
      TxLog.commit(TxLog.read(s, root), root, expected = 11)
      val gates = Seq(
        ("chk:commits_continue", TxLog.current(root) == 12),
        ("chk:current_stable", stableAfterVacuum),
        ("chk:lasttxn_stable", TxLog.lastTxn(root) == 109L),
        ("chk:log_bounded",
          logFiles == Set("0000000010", "0000000011",
            "_checkpoint.0000000011")),
        ("chk:old_read_fails", oldFails),
        ("chk:vacuumed_ten", reclaimed == 10)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** MATERIALIZED-VIEW REWRITE ([[graft.plans.ViewRewrite]] — an
   * optimizer `Rule[LogicalPlan]` on the public
   * `spark.experimental.extraOptimizations` extension point; the
   * automatic MV-routing every warehouse exposes, and the missing
   * consumer half of q325's incremental view maintenance): the
   * per-event-type count/sum view is committed as a
   * [[graft.lake.Versions]] table and its current version REGISTERED;
   * a user aggregate over the BASE events table is then answered from
   * the |groups|-row view — the optimized plan provably scans the view
   * and not the fact table — while two control queries that the view
   * CANNOT answer (a distinct count; a filtered base) are left
   * untouched and still scan the base. The DuckDB oracle recomputes
   * the answer from raw events, so the hash equality pins that the
   * rewrite is semantics-preserving, not just plan-shaped. Gates:
   * rewrite fired (view path in, base path out of the optimized
   * plan), both negative controls unrewritten, and an operator ON TOP
   * of the rewritten aggregate still resolves (ExprId stability). At
   * 100 TB this is a fact-table scan replaced by an O(|groups|) read,
   * refreshed O(|delta|) by the q325 loop. */
  val q340MatviewRewrite: Q = Q("q340_matview_rewrite",
    """WITH v AS (SELECT 'et:' || coalesce(event_type, '(null)') AS tag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
           FROM events GROUP BY event_type),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum
               FROM (VALUES ('chk:composes_above'),
                            ('chk:distinct_unrewritten'),
                            ('chk:filter_unrewritten'),
                            ('chk:rewrite_fired')) t(chk))
       SELECT * FROM (SELECT * FROM v UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events").select("event_type", "event_id")
      def userAgg() = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      Versions.commit(userAgg(), root) // the maintained MV, version 0
      val spec = MatView(
        basePath = s"$d/events.parquet",
        viewPath = s"$root/v${Versions.current(root)}",
        keyCols = Seq("event_type"),
        countCol = Some("n"),
        sumCols = Map("event_id" -> "id_sum"))
      ViewRewrite.withRule(s, spec) {
        val q = userAgg()
        val fired = ViewRewrite.answeredBy(root, "events.parquet")(q)
        val out = q.select(
          concat(lit("et:"),
            coalesce(col("event_type"), lit("(null)"))).as("tag"),
          col("n"), col("id_sum"))
        // negative controls: shapes the view cannot answer must keep
        // scanning the base
        val d1 = ViewRewrite.scannedPaths(ev.groupBy("event_type")
          .agg(countDistinct(col("event_id")).as("n")))
        val d2 = ViewRewrite.scannedPaths(
          ev.filter(col("event_id") % 2 === 0)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum")))
        // ExprId stability: an operator ABOVE the rewritten aggregate
        // still resolves and computes
        val composes = userAgg().filter(col("n") > 0).count() == out.count()
        Q.sealReport(out, Seq(
          ("chk:composes_above", composes),
          ("chk:distinct_unrewritten", d1.exists(_.contains("events.parquet"))),
          ("chk:filter_unrewritten", d2.exists(_.contains("events.parquet"))),
          ("chk:rewrite_fired", fired)
        ))
      }
    }
  }

  /** MATERIALIZED-VIEW RE-AGGREGATION ([[graft.plans.ViewRewrite]]'s
   * roll-up/derive ladder — the standard MV-matching extensions q340's
   * exact-shape rewrite lacked, and the ones a dashboard hits first):
   * the maintained view is keyed FINER than the query
   * ((event_type, user_id) vs event_type), so the rule re-aggregates
   * the |view groups| rows — count(*) becomes sum(view.count), sum
   * becomes sum(view.sum) — instead of rescanning the fact table; a
   * GLOBAL total (no grouping at all) rolls up the same way; and
   * avg(x) derives as sum(x)/count(*) from the stored columns, which
   * is only sound because the registration CLAIMS event_id non-null
   * (with nulls the denominators differ — the unclaimed-column control
   * pins the refusal). The DuckDB oracle recomputes every number from
   * raw events with the avg spelled as the same two-double division,
   * so the hash pins bit-exact derivation, not just plan shape. Gates:
   * roll-up fired, global fired, two-key exact shape still fired, and
   * three refusals (count(NULL), non-key grouping, avg of an unclaimed
   * column) all still scan the base. At 100 TB: the view has
   * |type × user| groups, the dashboard asks for |type| — the rewrite
   * turns a fact rescan into an O(|view|) re-aggregation, and composes
   * with q325's O(|delta|) refresh. */
  val q343MatviewRollup: Q = Q("q343_matview_rollup",
    """WITH e AS (SELECT coalesce(event_type, '(null)') AS et, user_id,
              event_id FROM events),
       by_t AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum,
                  CAST(sum(event_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS avg_id
                FROM e GROUP BY et),
       allr AS (SELECT 'all' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum,
                  CAST(sum(event_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS avg_id
                FROM e),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS DOUBLE) AS avg_id
               FROM (VALUES ('chk:avg_unclaimed_unrewritten'),
                            ('chk:exact_two_key_fired'),
                            ('chk:global_fired'),
                            ('chk:nonkey_unrewritten'),
                            ('chk:null_count_unrewritten'),
                            ('chk:rollup_fired')) t(chk))
       SELECT * FROM (SELECT * FROM by_t UNION ALL SELECT * FROM allr
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_rollup") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events")
        .select("event_type", "user_id", "event_id")
      // the maintained MV, keyed FINER than the dashboard asks
      Versions.commit(ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum")), root)
      val spec = MatView(
        basePath = s"$d/events.parquet",
        viewPath = s"$root/v${Versions.current(root)}",
        keyCols = Seq("event_type", "user_id"),
        countCol = Some("n"),
        sumCols = Map("event_id" -> "id_sum"),
        nonNullCols = Set("event_id"))
      val fired = ViewRewrite.answeredBy(root, "events.parquet") _
      def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
        ViewRewrite.scannedPaths(df).exists(_.contains("events.parquet"))
      ViewRewrite.withRule(s, spec) {
        val byType = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
            avg(col("event_id")).as("avg_id"))
        val global = ev.agg(count(lit(1)).as("n"),
          sum("event_id").as("id_sum"), avg(col("event_id")).as("avg_id"))
        val out = byType.select(
            concat(lit("et:"),
              coalesce(col("event_type"), lit("(null)"))).as("tag"),
            col("n"), col("id_sum"), col("avg_id"))
          .unionByName(global.select(lit("all").as("tag"),
            col("n"), col("id_sum"), col("avg_id")))
        Q.sealReport(out, Seq(
          ("chk:avg_unclaimed_unrewritten", scansBase(
            table(s, d, "events").select("event_type", "value")
              .groupBy("event_type").agg(avg(col("value")).as("a")))),
          ("chk:exact_two_key_fired", fired(ev.groupBy("event_type", "user_id")
            .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum")))),
          ("chk:global_fired", fired(global)),
          ("chk:nonkey_unrewritten", scansBase(
            table(s, d, "events").select("props")
              .groupBy("props").agg(count(lit(1)).as("n")))),
          ("chk:null_count_unrewritten", scansBase(
            ev.groupBy("event_type").agg(count(lit(null)).as("n")))),
          ("chk:rollup_fired", fired(byType))))
      }
    }
  }

  /** MULTI-TABLE ATOMIC COMMITS ([[graft.lake.Catalog]] — the Iceberg
   * REST-catalog multi-table transaction shape, public docs: a
   * catalog-level record names a (table → version) snapshot and lands
   * ONCE, so N tables become visible together or not at all — with the
   * commit point a put-if-absent `link(2)` of `_catalog/<N>`, the
   * [[graft.lake.TxLog]] CAS lifted one level up, so concurrent
   * multi-table transactions conflict LOUDLY and rebase instead of
   * last-write-wins losing a snapshot).
   * Fixture: double-entry bookkeeping — an accounts table and an
   * append-only ledger that must always agree (sum of balances ≡ sum
   * of ledger amounts). Three transactions commit through
   * [[graft.lake.Catalog.commitAll]]; between txn1 and txn2 a CRASH is
   * simulated mid-protocol (accounts' phase-1 table commit landed, the
   * catalog record did not) and the gates pin that catalog readers
   * still see the OLD consistent pair — the torn combination (new
   * accounts + old ledger) provably violates the invariant, which is
   * exactly why the single-record protocol matters. Two CONFLICTING
   * writers then prepare on the same snapshot: the loser's CAS fails
   * loudly with the winner's snapshot intact, and its rebase through
   * [[graft.lake.Catalog.transact]] lands both deltas (the oracle's
   * final sums include both). An as-of snapshot taken at txn1 stays
   * pinned across later commits (cross-table repeatable read), and
   * snapshot-derived retention ([[graft.lake.Catalog.vacuumTo]])
   * reclaims history without touching anything the catalog names. The
   * oracle recomputes both final tables from the raw customer table.
   * Gates: the invariant holds at EVERY cataloged snapshot, the
   * crashed phase-1 is invisible through the catalog, the torn pair
   * would have broken the invariant, the conflict is loud with no lost
   * snapshot, the rebase applies, the as-of pair is consistent and
   * stable, and reads survive vacuum. Scale shape: N pointer flips +
   * one tiny record link per transaction, O(1) in data size. */
  val q342CatalogTxn: Q = Q("q342_catalog_txn",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       acc AS (SELECT k, cents + CASE WHEN k % 3 = 0 THEN 7 ELSE 0 END
                        + CASE WHEN k % 10 = 0 THEN 100 ELSE 0 END
                        + CASE WHEN k % 9 = 0 THEN 11 ELSE 0 END
                        + CASE WHEN k % 4 = 1 THEN 13 ELSE 0 END AS bal
               FROM c),
       led AS (SELECT k, cents AS amount FROM c
               UNION ALL SELECT k, CAST(7 AS BIGINT) FROM c WHERE k % 3 = 0
               UNION ALL SELECT k, CAST(100 AS BIGINT) FROM c WHERE k % 10 = 0
               UNION ALL SELECT k, CAST(11 AS BIGINT) FROM c WHERE k % 9 = 0
               UNION ALL SELECT k, CAST(13 AS BIGINT) FROM c WHERE k % 4 = 1),
       sigs AS (SELECT 'accounts' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(bal) AS BIGINT) AS cents_sum FROM acc
                UNION ALL SELECT 'ledger', CAST(count(*) AS BIGINT),
                  CAST(sum(amount) AS BIGINT) FROM led),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:asof_consistent'),
                            ('chk:conflict_loud'),
                            ('chk:crash_invisible'),
                            ('chk:invariant_all_snapshots'),
                            ('chk:rebase_applied'),
                            ('chk:torn_would_break'),
                            ('chk:vacuum_safe')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_catalog") { root =>
      import graft.lake.{Catalog, Versions}
      // checkpointed once: ~8 commits and a dozen probes scan this
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        .localCheckpoint()
      def balSum(df: org.apache.spark.sql.DataFrame, c: String): Long =
        df.agg(sum(c)).collect()(0).getLong(0)
      // both member sums in ONE job per probe (1-row cross join; this
      // ran two collect actions per call before r14)
      def invFrame(asOf: Map[String, Int]) =
        Catalog.read(s, root, "accounts", asOf)
          .agg(sum("bal").as("b"))
          .crossJoin(Catalog.read(s, root, "ledger", asOf)
            .agg(sum("amount").as("a")))
      def invariantHolds(asOf: Map[String, Int]): Boolean = {
        val r = invFrame(asOf).collect()(0)
        r.getLong(0) == r.getLong(1)
      }
      // txn0: open the books — accounts seeded, ledger mirrors them
      Catalog.commitAll(root, Map(
        "accounts" -> cust.select(col("k"), col("cents").as("bal")),
        "ledger" -> cust.select(col("k"), col("cents").as("amount"))))
      val snap0 = Catalog.snapshot(root)
      // txn1: +7 on k%3=0, posted to BOTH tables atomically
      val acc1 = Catalog.read(s, root, "accounts").select(col("k"),
        (col("bal") + when(col("k") % 3 === 0, 7L).otherwise(0L)).as("bal"))
      val led1 = Catalog.read(s, root, "ledger").unionByName(
        cust.filter(col("k") % 3 === 0).select(col("k"), lit(7L).as("amount")))
      Catalog.commitAll(root, Map("accounts" -> acc1, "ledger" -> led1))
      val snap1 = Catalog.snapshot(root)
      // CRASH between txn2's two phase-1 commits: accounts landed,
      // ledger and the catalog flip never happened
      val acc2 = Catalog.read(s, root, "accounts").select(col("k"),
        (col("bal") + when(col("k") % 10 === 0, 100L).otherwise(0L)).as("bal"))
      Versions.commit(acc2, s"$root/accounts") // phase-1 only
      val crashInvisible = Catalog.snapshot(root) == snap1 &&
        invariantHolds(Catalog.snapshot(root))
      // the state the catalog just refused to show would be WRONG:
      val tornBreaks = balSum(Versions.read(s, s"$root/accounts"), "bal") !=
        balSum(Catalog.read(s, root, "ledger"), "amount")
      // recovery: re-run txn2 through the protocol (rebased on the
      // cataloged txn1 state — the crashed phase-1 version stays
      // unreferenced and ages out)
      val led2 = Catalog.read(s, root, "ledger").unionByName(
        cust.filter(col("k") % 10 === 0)
          .select(col("k"), lit(100L).as("amount")))
      Catalog.commitAll(root, Map("accounts" -> acc2, "ledger" -> led2))
      val snap2 = Catalog.snapshot(root)
      // CONFLICTING multi-table writers, both prepared on snap2: A
      // posts +11 on k%9=0, B posts +13 on k%4=1. A's CAS record wins;
      // B's commit against the same expected version must fail LOUDLY
      // with the winner's snapshot intact (the old rename-REPLACE flip
      // silently last-write-wins here, losing A's snapshot), then B
      // rebases through the transact loop and BOTH deltas land — the
      // final sums the oracle recomputes include A's and B's postings.
      val cv2 = Catalog.catalogVersion(root)
      val accA = Catalog.read(s, root, "accounts").select(col("k"),
        (col("bal") + when(col("k") % 9 === 0, 11L).otherwise(0L)).as("bal"))
      val ledA = Catalog.read(s, root, "ledger").unionByName(
        cust.filter(col("k") % 9 === 0)
          .select(col("k"), lit(11L).as("amount")))
      val accB = Catalog.read(s, root, "accounts").select(col("k"),
        (col("bal") + when(col("k") % 4 === 1, 13L).otherwise(0L)).as("bal"))
      val ledB = Catalog.read(s, root, "ledger").unionByName(
        cust.filter(col("k") % 4 === 1)
          .select(col("k"), lit(13L).as("amount")))
      Catalog.commitAll(root, Map("accounts" -> accA, "ledger" -> ledA), cv2)
      val snap3 = Catalog.snapshot(root)
      val conflictLoud =
        try {
          Catalog.commitAll(root, Map("accounts" -> accB, "ledger" -> ledB),
            cv2)
          false // a silent win here is exactly the lost-snapshot bug
        } catch { case _: graft.lake.CommitConflict =>
          Catalog.snapshot(root) == snap3 && invariantHolds(snap3) }
      val snap4 = Catalog.transact(root) { snap =>
        Map(
          "accounts" -> Catalog.read(s, root, "accounts", snap)
            .select(col("k"), (col("bal") +
              when(col("k") % 4 === 1, 13L).otherwise(0L)).as("bal")),
          "ledger" -> Catalog.read(s, root, "ledger", snap).unionByName(
            cust.filter(col("k") % 4 === 1)
              .select(col("k"), lit(13L).as("amount"))))
      }
      // rebase + as-of + all-snapshot invariants in ONE tagged job:
      // snapshots pin immutable files, so batching their evaluation
      // does not weaken any gate (this ran ~14 collect actions)
      val snapRows = Seq(snap0, snap1, snap2, snap3, snap4).zipWithIndex
        .map { case (sn, i) =>
          invFrame(sn).select(lit(i).as("t"), col("b"), col("a")) }
        .reduce(_ unionByName _).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val rebaseApplied = snapRows(4)._1 == snapRows(4)._2
      // cross-table repeatable read: the snap1 pair is still internally
      // consistent after txn2 committed, and still shows PRE-txn2 sums
      val asofOk = snapRows(1)._1 == snapRows(1)._2 &&
        snapRows(1)._1 != snapRows(2)._1
      val allSnapsOk = snapRows.values.forall { case (b, a) => b == a }
      // snapshot-derived retention: history goes, cataloged reads stay
      val reclaimed = Catalog.vacuumTo(root)
      val vacuumSafe = reclaimed > 0 && invariantHolds(Catalog.snapshot(root))
      val rows = Q.signatures("cents_sum",
        (lit("accounts"), Catalog.read(s, root, "accounts"), col("bal")),
        (lit("ledger"), Catalog.read(s, root, "ledger"), col("amount")))
      val gates = Seq(
        ("chk:asof_consistent", asofOk),
        ("chk:conflict_loud", conflictLoud),
        ("chk:crash_invisible", crashInvisible),
        ("chk:invariant_all_snapshots", allSnapsOk),
        ("chk:rebase_applied", rebaseApplied),
        ("chk:torn_would_break", tornBreaks),
        ("chk:vacuum_safe", vacuumSafe)
      )
      Q.sealReport(rows, gates, cust)
    }
  }

  /** MERGE-ON-READ ON THE MULTI-WRITER LOG ([[graft.lake.Mor]] — the
   * round-11 verdict's "two parallel lakehouse stacks" unification:
   * deletion vectors and upserts previously existed only on the
   * single-writer [[graft.lake.Versions]] manifest, CAS commits only
   * on [[graft.lake.TxLog]], so a table could not have both; the
   * chain-resolution core is now shared and this query runs the
   * q336/q337 row-level-change story on the CAS log). Fixture: v0
   * commits the full customer cents table; TWO writers then prepare
   * on v0 — a deletion-vector writer (k%7=0) and an upsert writer
   * (+1000 on k%5=0). The DV wins v1; the upsert's CAS at the same
   * expected version fails LOUDLY and rebases to v2 — so the final
   * chain is base minus deletes, upsert re-adding its keys. Gates:
   * the conflict surfaced and the rebase landed, both overlay
   * directories physically hold O(|delta|) rows (footer counts of the
   * record-named dirs — never a base rewrite), time travel to v0 is
   * intact, vacuum's floor auto-lowers to the chain base (asking to
   * keep only the chain head reclaims NOTHING), [[graft.lake
   * .TxLog.compact]] collapses the chain to an equivalent full
   * version, and a post-compaction vacuum reclaims the whole chain
   * with old reads failing loudly. The oracle recomputes v1 and the
   * final state from the raw mod arithmetic. At 100 TB: row-level
   * change on a CONTENDED table = O(|delta|) written bytes + one
   * record link, with conflicts rebasing instead of corrupting. */
  val q344TxlogMor: Q = Q("q344_txlog_mor",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v1 AS (SELECT k, cents FROM c WHERE k % 7 <> 0),
       fin AS (SELECT k,
                 CASE WHEN k % 5 = 0 THEN cents + 1000 ELSE cents END AS cents
               FROM c WHERE k % 7 <> 0 OR k % 5 = 0),
       sigs AS (SELECT 'state:final' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM fin
                UNION ALL SELECT 'state:v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:compact_equiv'),
                            ('chk:conflict_rebased'),
                            ('chk:dv_physical_keys'),
                            ('chk:time_travel'),
                            ('chk:upsert_physical_delta'),
                            ('chk:vacuum_floor'),
                            ('chk:vacuumed_after_compact')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_txlog_mor") { root =>
      import graft.lake.{CommitConflict, TxLog}
      // checkpointed once: the commits and physical proofs rescan it
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        .localCheckpoint()
      val nBase = cust.count()
      TxLog.commit(cust, root, expected = -1) // v0, full
      // two writers prepared on v0
      val delKeys = cust.filter(pmod(col("k"), lit(7)) === 0).select("k")
      val upRows = cust.filter(pmod(col("k"), lit(5)) === 0)
        .select(col("k"), (col("cents") + 1000L).as("cents"))
      TxLog.commitDelete(delKeys, root, "k", expected = 0) // DV wins v1
      val conflictRebased = {
        val lost =
          try { TxLog.commitUpsert(upRows, root, "k", expected = 0); false }
          catch { case _: CommitConflict => true }
        lost &&
          TxLog.commitUpsert(upRows, root, "k",
            expected = TxLog.current(root)) == 2
      }
      // physical O(|delta|) proofs: the overlay dirs hold keys/rows,
      // never a base rewrite (record-named dirs are observable)
      def dataDir(n: Int) = Option(new java.io.File(root).listFiles())
        .toSeq.flatten
        .find(f => f.isDirectory && f.getName.startsWith(s"d$n-")).get
      // five physical-proof counts in ONE tagged job (was 5 actions)
      val pc = Seq(
        s.read.parquet(dataDir(1).getAbsolutePath).select(lit(0).as("t")),
        delKeys.select(lit(1).as("t")),
        s.read.parquet(dataDir(2).getAbsolutePath).select(lit(2).as("t")),
        upRows.select(lit(3).as("t")),
        TxLog.read(s, root, 0).select(lit(4).as("t"))
      ).reduce(_ union _).groupBy("t").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val dvPhysical = pc(0) == pc(1)
      val upPhysical = pc(2) == pc(3)
      val timeTravel = pc(4) == nBase
      val finDf = TxLog.read(s, root, 2)
      val finCount = finDf.count() // before vacuum removes chain files
      // sealed before vacuum removes the chain
      val sigRows = Q.sealResult(Q.signatures("cents_sum",
        (lit("state:final"), finDf, col("cents")),
        (lit("state:v1"), TxLog.read(s, root, 1), col("cents")))
        .orderBy("tag"))
      // retention floor auto-lowers to the chain base: keeping only the
      // chain head must reclaim NOTHING (v0 is its base)
      val vacuumFloor = TxLog.vacuum(root, keepFrom = 2) == 0 &&
        TxLog.read(s, root, 0).count() == nBase
      // compaction collapses the chain into an equivalent full version
      val v3 = TxLog.compact(s, root)
      val full = TxLog.read(s, root, v3)
      val compactEquiv = v3 == 3 && Checks.multisetEqual(full, finDf)
      // ... after which the whole chain is reclaimable, reads loud
      val reclaimed = TxLog.vacuum(root, keepFrom = 3)
      val oldLoud =
        try { TxLog.read(s, root, 1); false }
        catch { case _: IllegalArgumentException => true }
      val vacuumedAfter = reclaimed == 3 && oldLoud &&
        TxLog.read(s, root).count() == finCount
      val gates = Seq(
        ("chk:compact_equiv", compactEquiv),
        ("chk:conflict_rebased", conflictRebased),
        ("chk:dv_physical_keys", dvPhysical),
        ("chk:time_travel", timeTravel),
        ("chk:upsert_physical_delta", upPhysical),
        ("chk:vacuum_floor", vacuumFloor),
        ("chk:vacuumed_after_compact", vacuumedAfter)
      )
      Q.sealReport(sigRows, gates, cust)
    }
  }

  /** MV AUTO-SELECTION ([[graft.plans.MultiViewRewrite]] — the
   * Calcite-style matching step on top of q340/q343's single-view
   * rewrite): TWO views are maintained over events — a COARSE
   * count-only view keyed by event_type and a FINE count+sum view
   * keyed by (event_type, user_id) — registered through ONE rule that,
   * per aggregate, collects every view whose shape can derive the
   * answer and picks the cheapest by bytes-on-disk (filesystem
   * metadata, nothing read at plan time). Capability first, cost
   * second: a count-by-type query is answered from the COARSE view
   * (both are capable; coarse is smaller), a count+sum query falls
   * back to the FINE view (coarse lacks the sum column, so it is never
   * a candidate no matter how small), the two-key exact shape uses the
   * fine view, and a global count rolls up the coarse one. The oracle
   * recomputes the data rows from raw events; plan gates pin each
   * choice AND that no chosen plan ever rescans the base. At 100 TB a
   * dashboard family maintains a handful of views per fact table; this
   * picks per-query without the user naming one. */
  val q346MatviewSelect: Q = Q("q346_matview_select",
    """WITH e AS (SELECT coalesce(event_type, '(null)') AS et, user_id,
              event_id FROM events),
       by_t AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum
                FROM e GROUP BY et),
       allr AS (SELECT 'all' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(0 AS BIGINT) AS id_sum FROM e),
       flt AS (SELECT 'flt:click' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum
               FROM e WHERE et = 'click'),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum
               FROM (VALUES ('chk:base_never_scanned'),
                            ('chk:bytes_decide_unfiltered'),
                            ('chk:coarse_for_count'),
                            ('chk:coarse_for_global'),
                            ('chk:fine_exact_two_key'),
                            ('chk:fine_for_sum'),
                            ('chk:zonemap_picks_sorted')) t(chk))
       SELECT * FROM (SELECT * FROM by_t UNION ALL SELECT * FROM allr
                      UNION ALL SELECT * FROM flt
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_select") { root =>
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events")
        .select("event_type", "user_id", "event_id")
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .write.parquet(s"$root/coarse")
      val fineAgg = ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      fineAgg.repartition(4).write.parquet(s"$root/fine")
      // byte-LARGER twin of fine (padding column), range-sorted on
      // event_type: its footer zone maps confine an event_type equality
      // to ~one row group of four, so its FILTER-SURVIVING bytes beat
      // fine's total even though its total is bigger — the round-13
      // verdict's selectivity refinement (cost = what the scan would
      // actually read, not bytes-on-disk)
      fineAgg.withColumn("pad", concat(col("event_type"), lit("-"),
          col("user_id"), lit("-"), col("n"), lit("-"), col("id_sum")))
        .repartitionByRange(4, col("event_type"))
        .sortWithinPartitions("event_type")
        .write.parquet(s"$root/finez")
      val coarse = MatView(basePath = s"$d/events.parquet",
        viewPath = s"$root/coarse", keyCols = Seq("event_type"),
        countCol = Some("n"), sumCols = Map.empty)
      val fine = MatView(basePath = s"$d/events.parquet",
        viewPath = s"$root/fine", keyCols = Seq("event_type", "user_id"),
        countCol = Some("n"), sumCols = Map("event_id" -> "id_sum"))
      val finez = fine.copy(viewPath = s"$root/finez")
      def pathsOf(df: org.apache.spark.sql.DataFrame) =
        ViewRewrite.scannedPaths(df)
      def chose(df: org.apache.spark.sql.DataFrame, view: String) = {
        val p = pathsOf(df)
        p.exists(_.endsWith(s"/$view")) &&
          Seq("coarse", "fine", "finez").filterNot(_ == view)
            .forall(o => !p.exists(_.endsWith(s"/$o")))
      }
      def bytesOf(sub: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(s"$root/$sub"))
      }
      ViewRewrite.withViews(s, Seq(coarse, fine, finez)) {
        val qCount = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val qSum = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        val qTwoKey = ev.groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("n"))
        val qGlobal = ev.agg(count(lit(1)).as("n"))
        val qFiltered = ev.filter(col("event_type") === "click")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        val out = qSum.select(
            concat(lit("et:"),
              coalesce(col("event_type"), lit("(null)"))).as("tag"),
            col("n"), col("id_sum"))
          .unionByName(qGlobal.select(lit("all").as("tag"), col("n"),
            lit(0L).as("id_sum")))
          .unionByName(qFiltered.select(lit("flt:click").as("tag"),
            col("n"), col("id_sum")))
        Q.sealReport(out, Seq(
          ("chk:base_never_scanned",
            Seq(qCount, qSum, qTwoKey, qGlobal, qFiltered).forall(q =>
              !pathsOf(q).exists(_.contains("events.parquet")))),
          // no replayed filter → every row group survives → plain bytes
          // decide, and the padded twin is strictly bigger
          ("chk:bytes_decide_unfiltered",
            bytesOf("finez") > bytesOf("fine") && chose(qSum, "fine")),
          ("chk:coarse_for_count", chose(qCount, "coarse")),
          ("chk:coarse_for_global", chose(qGlobal, "coarse")),
          ("chk:fine_exact_two_key", chose(qTwoKey, "fine")),
          ("chk:fine_for_sum", chose(qSum, "fine")),
          // under the key filter the byte-larger but range-sorted twin
          // wins: its surviving row groups cost less than fine's total
          ("chk:zonemap_picks_sorted", chose(qFiltered, "finez"))))
      }
    }
  }

  /** AGE-BASED RETENTION WITH CATALOGED-SNAPSHOT SAFETY
   * ([[graft.lake.Versions.vacuumAged]] / [[graft.lake.Catalog
   * .vacuumAged]] — the "older than N days" retention window public
   * lakehouse VACUUMs expose, orthogonal to the version-floor rule,
   * with the two safety properties that make it usable: nothing a
   * RETAINED catalog record names is ever reclaimed however old, and
   * a merge-on-read chain is protected AS A UNIT, because an age
   * cutoff can leave holes and a hole under a retained overlay breaks
   * its chain). Age comes from the COMMIT STAMP each record/version
   * carries in its own content — never inode mtimes, which an
   * object-store copy/restore resets (the round-13 hardening; the
   * fixture ages through the stamp channel and ALSO touches mtimes to
   * prove they are ignored). Fixture A: the double-entry catalog runs
   * three transactions; old catalog records and old member versions
   * are artificially aged, INCLUDING the currently-
   * cataloged accounts version — the vacuum prunes the aged records
   * and reclaims exactly the four aged uncataloged versions, while
   * the aged-but-cataloged version survives and the invariant still
   * holds. Fixture B: a table whose current version is a deletion
   * vector over an AGED base — the base is a chain member of the
   * retained head, so it survives and the chain still resolves. The
   * oracle recomputes the final pair; gates pin each reclaim count,
   * the survival of cataloged/chained versions, loud old reads, and
   * record pruning. At 100 TB this is the retention job that runs
   * nightly: age decides candidates, the catalog and the chains
   * decide vetoes. */
  val q347AgedRetention: Q = Q("q347_aged_retention",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       acc AS (SELECT k, cents + CASE WHEN k % 3 = 0 THEN 7 ELSE 0 END
                        + CASE WHEN k % 10 = 0 THEN 100 ELSE 0 END AS bal
               FROM c),
       led AS (SELECT k, cents AS amount FROM c
               UNION ALL SELECT k, CAST(7 AS BIGINT) FROM c WHERE k % 3 = 0
               UNION ALL SELECT k, CAST(100 AS BIGINT) FROM c WHERE k % 10 = 0),
       sigs AS (SELECT 'accounts' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(bal) AS BIGINT) AS cents_sum FROM acc
                UNION ALL SELECT 'ledger', CAST(count(*) AS BIGINT),
                  CAST(sum(amount) AS BIGINT) FROM led),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:aged_reclaimed'),
                            ('chk:cataloged_survives'),
                            ('chk:chain_protected'),
                            ('chk:old_read_loud'),
                            ('chk:records_pruned')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_aged_cat") { cat =>
      withScratch("graft_aged_chain") { chain =>
        import graft.lake.{Catalog, Versions}
        val hourMs = 60L * 60L * 1000L
        val agedTs = System.currentTimeMillis() - 2 * hourMs
        // retention reads the stamped commit time, not inode mtimes —
        // freshening every mtime here proves mtime can't RESCUE an aged
        // version (the object-store-restore scenario), while the stamp
        // rewind is the supported aging channel
        def freshenTree(f: java.io.File): Unit = {
          f.setLastModified(System.currentTimeMillis())
          Option(f.listFiles()).toSeq.flatten.foreach(freshenTree)
        }
        val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        // fixture A: three catalog transactions
        Catalog.commitAll(cat, Map(
          "accounts" -> cust.select(col("k"), col("cents").as("bal")),
          "ledger" -> cust.select(col("k"), col("cents").as("amount"))))
        Catalog.commitAll(cat, Map(
          "accounts" -> Catalog.read(s, cat, "accounts").select(col("k"),
            (col("bal") + when(col("k") % 3 === 0, 7L).otherwise(0L))
              .as("bal")),
          "ledger" -> Catalog.read(s, cat, "ledger").unionByName(
            cust.filter(col("k") % 3 === 0)
              .select(col("k"), lit(7L).as("amount")))))
        Catalog.commitAll(cat, Map(
          "accounts" -> Catalog.read(s, cat, "accounts").select(col("k"),
            (col("bal") + when(col("k") % 10 === 0, 100L).otherwise(0L))
              .as("bal")),
          "ledger" -> Catalog.read(s, cat, "ledger").unionByName(
            cust.filter(col("k") % 10 === 0)
              .select(col("k"), lit(100L).as("amount")))))
        // age (by STAMP): old records, old member versions, AND the
        // currently-cataloged accounts version (v2) — cataloged must
        // beat aged; mtimes are freshened everywhere to prove a restore
        // that resets them can neither rescue nor doom anything
        Seq(0, 1).foreach(n => Catalog.restamp(cat, n, agedTs))
        Seq(0, 1, 2).foreach(v => Versions.restamp(s"$cat/accounts", v, agedTs))
        Seq(0, 1).foreach(v => Versions.restamp(s"$cat/ledger", v, agedTs))
        freshenTree(new java.io.File(cat))
        val reclaimed = Catalog.vacuumAged(cat, maxAgeMs = hourMs)
        val recordsPruned = Catalog.catalogVersion(cat) == 2 &&
          (try { Catalog.snapshotAt(cat, 0); false }
           catch { case _: IllegalArgumentException => true })
        def balSum(df: org.apache.spark.sql.DataFrame, c: String): Long =
          df.agg(sum(c)).collect()(0).getLong(0) // bounded: one agg row
        val catalogedSurvives =
          balSum(Catalog.read(s, cat, "accounts"), "bal") ==
            balSum(Catalog.read(s, cat, "ledger"), "amount")
        val oldLoud =
          try { Versions.read(s, s"$cat/accounts", 0); false }
          catch { case _: IllegalArgumentException => true }
        // fixture B: a retained DV head over an AGED base — the chain
        // veto must keep the base despite its age
        Versions.commit(cust, chain)
        Versions.commitDelete(
          cust.filter(col("k") % 4 === 0).select("k"), chain, "k")
        Versions.restamp(chain, 0, agedTs)
        val chainReclaim = Versions.vacuumAged(chain, maxAgeMs = hourMs)
        val chainProtected = chainReclaim == 0 &&
          Versions.read(s, chain).count() ==
            cust.filter(col("k") % 4 =!= 0).count()
        val rows = Q.signatures("cents_sum",
          (lit("accounts"), Catalog.read(s, cat, "accounts"), col("bal")),
          (lit("ledger"), Catalog.read(s, cat, "ledger"), col("amount")))
        val gates = Seq(
          ("chk:aged_reclaimed", reclaimed == 4),
          ("chk:cataloged_survives", catalogedSurvives),
          ("chk:chain_protected", chainProtected),
          ("chk:old_read_loud", oldLoud),
          ("chk:records_pruned", recordsPruned)
        )
        Q.sealReport(rows, gates)
      }
    }
  }

  /** FILTERED MV REWRITE ([[graft.plans.ViewRewrite]]'s key-predicate
   * replay — the shape a real dashboard hits before any other:
   * `WHERE key-pred GROUP BY keys…`): a deterministic predicate over
   * KEY columns between the aggregate and the scan commutes with the
   * grouping (filtering base rows on keys ≡ filtering view groups on
   * the same keys), so the rule rebases it onto the view and answers
   * from |matching groups| rows — composing with the exact, roll-up,
   * global, and avg shapes. A predicate touching any NON-key column
   * still disqualifies the plan (the view cannot replay it), which
   * the negative control pins. Queries: an IN-filtered roll-up with
   * derived avg, a range-filtered global total, and an equality-
   * filtered exact two-key shape — all provably answered from the
   * view (plan gates), all recomputed from raw events by the oracle
   * so the replayed predicate is hash-checked, not just plan-shaped.
   * At 100 TB the filtered dashboard query reads the view's matching
   * groups instead of rescanning the fact table's matching rows. */
  val q348MatviewFilter: Q = Q("q348_matview_filter",
    """WITH e AS (SELECT coalesce(event_type, '(null)') AS et, user_id,
              event_id FROM events),
       filt AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum,
                  CAST(sum(event_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS avg_id
                FROM e WHERE et IN ('click', 'view') GROUP BY et),
       rng AS (SELECT 'users_lt_50' AS tag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(event_id) AS BIGINT) AS id_sum,
                 CAST(0 AS DOUBLE) AS avg_id
               FROM e WHERE user_id < 50),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS DOUBLE) AS avg_id
               FROM (VALUES ('chk:exact_filtered_fired'),
                            ('chk:global_filtered_fired'),
                            ('chk:nonkey_filter_unrewritten'),
                            ('chk:rollup_filtered_fired')) t(chk))
       SELECT * FROM (SELECT * FROM filt UNION ALL SELECT * FROM rng
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_filter") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events")
        .select("event_type", "user_id", "event_id")
      Versions.commit(ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum")), root)
      val spec = MatView(
        basePath = s"$d/events.parquet",
        viewPath = s"$root/v${Versions.current(root)}",
        keyCols = Seq("event_type", "user_id"),
        countCol = Some("n"),
        sumCols = Map("event_id" -> "id_sum"),
        nonNullCols = Set("event_id"))
      val fired = ViewRewrite.answeredBy(root, "events.parquet") _
      ViewRewrite.withRule(s, spec) {
        // IN-filter on one key, roll-up to it, with derived avg
        val byType = ev.filter(col("event_type").isin("click", "view"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
            avg(col("event_id")).as("avg_id"))
        // range filter on the OTHER key, global total
        val rng = ev.filter(col("user_id") < 50)
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        // equality filter, exact two-key shape
        val exact = ev.filter(col("event_type") === "click")
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("n"))
        val out = byType.select(
            concat(lit("et:"),
              coalesce(col("event_type"), lit("(null)"))).as("tag"),
            col("n"), col("id_sum"), col("avg_id"))
          .unionByName(rng.select(lit("users_lt_50").as("tag"),
            col("n"), col("id_sum"), lit(0.0).as("avg_id")))
        Q.sealReport(out, Seq(
          ("chk:exact_filtered_fired", fired(exact)),
          ("chk:global_filtered_fired", fired(rng)),
          ("chk:nonkey_filter_unrewritten", ViewRewrite.scannedPaths(
            ev.filter(col("event_id") % 2 === 0).groupBy("event_type")
              .agg(count(lit(1)).as("n")))
            .exists(_.contains("events.parquet"))),
          ("chk:rollup_filtered_fired", fired(byType))))
      }
    }
  }

  /** CATALOG TRANSACTIONS OVER EITHER COMMIT CORE ([[graft.lake
   * .Catalog.commitUpdates]] — the round-12 verdict's composition gap:
   * `commitAll` hardwired Versions for phase 1, so a multi-writer
   * merge-on-read TxLog table could not join a multi-table
   * transaction). Fixture: a "bank" member on the TXLOG core (CAS
   * commits, MoR overlays) and an "audit" member on the VERSIONS core
   * (an append-only operation journal), bound by the cross-member
   * invariant `sum(bank.cents) = base + sum(audit.delta)` — which only
   * atomic multi-table commits can maintain. The q344 contended
   * DV-vs-upsert story runs INSIDE catalog transactions:
   *
   *   - txn0 creates BOTH members (mixed cores) in one transaction;
   *   - txnA commits a deletion vector on bank + the audit row
   *     atomically (O(|keys|) overlay through the member's own CAS);
   *   - a transaction prepared on the STALE snapshot conflicts LOUDLY
   *     at the catalog (winner's snapshot intact), then rebases
   *     through [[graft.lake.Catalog.transactUpdates]] — both deltas
   *     land (the oracle's final sums include the upsert);
   *   - a CRASHED transaction's garbage (an uncataloged member version
   *     at the overlay slot, committed out-of-band with no rollback)
   *     makes the next overlay transaction conflict AT THE MEMBER CAS
   *     — an overlay committed on top would resolve THROUGH the
   *     garbage, so loud-until-repaired is the only correct answer —
   *     with the sibling Versions member's phase-1 ROLLED BACK (member
   *     logs stay 1:1 with cataloged history);
   *   - [[graft.lake.Catalog.repairMember]] caps the garbage with a
   *     full cataloged-content version (content provably unchanged, the
   *     poison provably absent), after which the delete transaction
   *     rebases in;
   *   - O(|delta|) physical proofs (footer counts of the record-named
   *     overlay dirs), cross-core as-of reads, the invariant at EVERY
   *     cataloged snapshot, and snapshot-derived retention that
   *     vacuums each member THROUGH ITS OWN CORE.
   *
   * The oracle recomputes bank v1, the final state, and every audit
   * row from raw customer arithmetic. At 100 TB: row-level change on a
   * contended member inside a multi-table transaction = O(|delta|)
   * written bytes + one member record link + one catalog record link. */
  val q349CatalogCores: Q = Q("q349_catalog_cores",
    """WITH c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       v1 AS (SELECT k, cents FROM c WHERE k % 7 <> 0),
       fin0 AS (SELECT k,
                  CASE WHEN k % 5 = 0 THEN cents + 1000 ELSE cents END AS cents
                FROM c WHERE k % 7 <> 0 OR k % 5 = 0),
       fin AS (SELECT k, cents FROM fin0 WHERE k % 11 <> 0),
       up_new AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(cents + 1000) AS BIGINT) AS s FROM c WHERE k % 5 = 0),
       up_old AS (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) AS s
                  FROM c WHERE k % 5 = 0 AND k % 7 <> 0),
       audit AS (SELECT 'audit:open' AS tag, CAST(count(*) AS BIGINT) AS n,
                   CAST(0 AS BIGINT) AS cents_sum FROM c
                 UNION ALL SELECT 'audit:dv', CAST(count(*) AS BIGINT),
                   CAST(-sum(cents) AS BIGINT) FROM c WHERE k % 7 = 0
                 UNION ALL SELECT 'audit:up', up_new.n,
                   CAST(up_new.s - up_old.s AS BIGINT) FROM up_new, up_old
                 UNION ALL SELECT 'audit:dv2', CAST(count(*) AS BIGINT),
                   CAST(-sum(cents) AS BIGINT) FROM fin0 WHERE k % 11 = 0),
       sigs AS (SELECT 'state:final' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum FROM fin
                UNION ALL SELECT 'state:v1', CAST(count(*) AS BIGINT),
                  CAST(sum(cents) AS BIGINT) FROM v1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:asof_consistent'),
                            ('chk:catalog_conflict_loud'),
                            ('chk:dv_physical'),
                            ('chk:invariant_all_snapshots'),
                            ('chk:member_conflict_loud'),
                            ('chk:phase1_rolled_back'),
                            ('chk:repaired_content'),
                            ('chk:upsert_physical'),
                            ('chk:vacuum_safe')) t(chk))
       SELECT * FROM (SELECT * FROM sigs UNION ALL SELECT * FROM audit
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_cat_cores") { root =>
      import graft.lake.{Catalog, CommitConflict, TxLog, Versions}
      import graft.lake.Catalog.{DeleteKeys, Put, UpsertRows}
      import s.implicits._
      // checkpointed once: the protocol scans this projection from ~10
      // commits and a dozen probes — one materialization, not N scans
      val cust = table(s, d, "customer").select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        .localCheckpoint()
      def balSum(df: org.apache.spark.sql.DataFrame): Long = df
        .agg(coalesce(sum("cents"), lit(0L))).collect()(0).getLong(0) // 1 row
      def auditRow(op: String, n: Long, delta: Long) =
        Seq((op, n, delta)).toDF("op", "n", "delta")
      def withAudit(snap: Map[String, Int], op: String, n: Long, delta: Long) =
        Catalog.read(s, root, "audit", snap).unionByName(auditRow(op, n, delta))
      val baseSum = balSum(cust)
      // the cross-member invariant only atomic commits can maintain —
      // both member sums in ONE job (a 1-row cross join of two 1-row
      // aggregates; this ran as two collect actions before r14)
      def invFrame(asOf: Map[String, Int]) =
        Catalog.read(s, root, "bank", asOf)
          .agg(coalesce(sum("cents"), lit(0L)).as("b"))
          .crossJoin(Catalog.read(s, root, "audit", asOf)
            .agg(coalesce(sum("delta"), lit(0L)).as("a")))
      def invariantAt(asOf: Map[String, Int]): Boolean = {
        val r = invFrame(asOf).collect()(0)
        r.getLong(0) == baseSum + r.getLong(1)
      }
      // txn0: MIXED-core creation in one transaction
      val snap0 = Catalog.commitUpdates(root, Map(
        "bank" -> Put(cust, TxLog),
        "audit" -> Put(auditRow("open", cust.count(), 0L))))
      // txnA: deletion vector + its audit row, atomically
      val snap1 = Catalog.transactUpdates(root) { snap =>
        val del = Catalog.read(s, root, "bank", snap)
          .filter(pmod(col("k"), lit(7)) === 0)
        Map("bank" -> DeleteKeys(del.select("k"), "k"),
            "audit" -> Put(withAudit(snap, "dv", del.count(), -balSum(del))))
      }
      // a transaction PREPARED ON THE STALE snapshot conflicts loudly
      // at the catalog — the winner's snapshot stays intact
      val upRows = cust.filter(pmod(col("k"), lit(5)) === 0)
        .select(col("k"), (col("cents") + 1000L).as("cents"))
      val catalogConflictLoud =
        try {
          Catalog.commitUpdates(root, Map(
            "bank" -> UpsertRows(upRows, "k"),
            "audit" -> Put(withAudit(snap0, "up", 0L, 0L))), expected = 0)
          false
        } catch { case _: CommitConflict =>
          Catalog.snapshot(root) == snap1 && invariantAt(snap1) }
      // …then rebases through the transact loop: both deltas land
      val snap2 = Catalog.transactUpdates(root) { snap =>
        val overlap = Catalog.read(s, root, "bank", snap)
          .join(upRows.select("k"), Seq("k"), "left_semi")
        Map("bank" -> UpsertRows(upRows, "k"),
            "audit" -> Put(withAudit(snap, "up", upRows.count(),
              balSum(upRows) - balSum(overlap))))
      }
      // O(|delta|) physical proofs: the record-named overlay dirs hold
      // keys/rows, never a base rewrite (read BEFORE retention runs)
      def dataDir(n: Int) = Option(
          new java.io.File(s"$root/bank").listFiles()).toSeq.flatten
        .find(f => f.isDirectory && f.getName.startsWith(s"d$n-")).get
      // four physical-proof counts in ONE job (tagged-union counting)
      val physCnt = Seq(
        s.read.parquet(dataDir(1).getAbsolutePath).select(lit(0).as("t")),
        cust.filter(pmod(col("k"), lit(7)) === 0).select(lit(1).as("t")),
        s.read.parquet(dataDir(2).getAbsolutePath).select(lit(2).as("t")),
        upRows.select(lit(3).as("t"))
      ).reduce(_ union _).groupBy("t").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val dvPhysical = physCnt(0) == physCnt(1)
      val upPhysical = physCnt(2) == physCnt(3)
      // a CRASHED transaction's garbage at the overlay slot: the next
      // overlay conflicts AT THE MEMBER CAS (committing on top would
      // resolve through the garbage) and the sibling Versions member's
      // phase-1 — committed first, alphabetical — rolls back
      val auditV = Versions.current(s"$root/audit")
      TxLog.commit(cust.limit(5).select(col("k"), lit(-999999L).as("cents")),
        s"$root/bank", expected = TxLog.current(s"$root/bank"))
      val memberConflictLoud =
        try {
          Catalog.commitUpdates(root, Map(
            "audit" -> Put(withAudit(snap2, "dv2", 0L, 0L)),
            "bank" -> DeleteKeys(
              Catalog.read(s, root, "bank", snap2)
                .filter(pmod(col("k"), lit(11)) === 0).select("k"), "k")))
          false
        } catch { case _: CommitConflict =>
          Catalog.snapshot(root) == snap2 && invariantAt(snap2) }
      val phase1RolledBack = Versions.current(s"$root/audit") == auditV
      // repair caps the garbage with a full cataloged-content version:
      // content unchanged, poison provably absent, overlays flow again
      val preRepair = balSum(Catalog.read(s, root, "bank"))
      val snapR = Catalog.repairMember(s, root, "bank")
      val repairedContent = balSum(Catalog.read(s, root, "bank")) == preRepair &&
        Catalog.read(s, root, "bank")
          .filter(col("cents") === -999999L).count() == 0 &&
        invariantAt(snapR)
      // txnC: the delete transaction rebases in on the repaired head
      val snapF = Catalog.transactUpdates(root) { snap =>
        val del = Catalog.read(s, root, "bank", snap)
          .filter(pmod(col("k"), lit(11)) === 0)
        Map("bank" -> DeleteKeys(del.select("k"), "k"),
            "audit" -> Put(withAudit(snap, "dv2", del.count(), -balSum(del))))
      }
      // cross-core repeatable read: the snap1 cut is still consistent
      // and still shows PRE-upsert sums
      // five per-snapshot invariants + the two as-of sums in ONE job:
      // snapshots pin immutable files, so batching their evaluation
      // does not weaken the gate (this ran ~12 collect actions)
      val snapRows = Seq(snap0, snap1, snap2, snapR, snapF).zipWithIndex
        .map { case (sn, i) => invFrame(sn).select(lit(i).as("t"),
          col("b"), col("a")) }
        .reduce(_ unionByName _).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val allSnapsOk = snapRows.values.forall { case (b, a) =>
        b == baseSum + a }
      val asofOk = snapRows(1)._1 == baseSum + snapRows(1)._2 &&
        snapRows(1)._1 != snapRows(4)._1 // snap1 vs snapF bank sums
      // sealed before retention removes files
      val sigRows = Q.sealResult(Q.signatures("cents_sum",
          (lit("state:final"), Catalog.read(s, root, "bank", snapF), col("cents")),
          (lit("state:v1"), Catalog.read(s, root, "bank", snap1), col("cents")))
        .unionByName(Catalog.read(s, root, "audit", snapF)
          .select(concat(lit("audit:"), col("op")).as("tag"),
            col("n"), col("delta").as("cents_sum")))
        .orderBy("tag"))
      // snapshot-derived retention, each member through ITS OWN core
      val reclaimed = Catalog.vacuumTo(root)
      val vacuumSafe = reclaimed > 0 &&
        invariantAt(Catalog.snapshot(root)) &&
        (try { Catalog.snapshotAt(root, 0); false }
         catch { case _: IllegalArgumentException => true })
      val gates = Seq(
        ("chk:asof_consistent", asofOk),
        ("chk:catalog_conflict_loud", catalogConflictLoud),
        ("chk:dv_physical", dvPhysical),
        ("chk:invariant_all_snapshots", allSnapsOk),
        ("chk:member_conflict_loud", memberConflictLoud),
        ("chk:phase1_rolled_back", phase1RolledBack),
        ("chk:repaired_content", repairedContent),
        ("chk:upsert_physical", upPhysical),
        ("chk:vacuum_safe", vacuumSafe)
      )
      Q.sealReport(sigRows, gates, cust)
    }
  }

  /** MV LADDER: MIN/MAX ([[graft.plans.ViewRewrite]]'s next rungs — the
   * aggregates a real dashboard hits right after count/sum/avg). A view
   * registering `minCols`/`maxCols` answers `min(col)`/`max(col)` in
   * BOTH shapes: EXACT (straight projection of the stored min/max) and
   * ROLL-UP (min-of-mins / max-of-maxes over coarser keys, including
   * the global total) — lossless re-aggregation, and null-of-none
   * matches the base aggregate exactly, so unlike avg no non-null
   * claim is needed. An unregistered column still disqualifies the
   * plan (negative control scans the base). The oracle recomputes
   * every min/max from raw events, so the derivation is hash-checked;
   * plan gates pin that each shape was ANSWERED FROM THE VIEW. At
   * 100 TB: the dashboard's min/max panel reads |groups| rows instead
   * of rescanning the fact table. */
  val q350MatviewMinmax: Q = Q("q350_matview_minmax",
    """WITH e AS (SELECT coalesce(event_type, '(null)') AS et, user_id,
              event_id FROM events),
       by_t AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(min(event_id) AS BIGINT) AS id_min,
                  CAST(max(event_id) AS BIGINT) AS id_max
                FROM e GROUP BY et),
       allr AS (SELECT 'all' AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(min(event_id) AS BIGINT) AS id_min,
                  CAST(max(event_id) AS BIGINT) AS id_max
                FROM e),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_min, CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:exact_fired'),
                            ('chk:global_fired'),
                            ('chk:rollup_fired'),
                            ('chk:unregistered_unrewritten')) t(chk))
       SELECT * FROM (SELECT * FROM by_t UNION ALL SELECT * FROM allr
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_minmax") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events")
        .select("event_type", "user_id", "event_id")
      Versions.commit(ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), min("event_id").as("id_min"),
          max("event_id").as("id_max")), root)
      val spec = MatView(
        basePath = s"$d/events.parquet",
        viewPath = s"$root/v${Versions.current(root)}",
        keyCols = Seq("event_type", "user_id"),
        countCol = Some("n"),
        minCols = Map("event_id" -> "id_min"),
        maxCols = Map("event_id" -> "id_max"))
      val fired = ViewRewrite.answeredBy(root, "events.parquet") _
      ViewRewrite.withRule(s, spec) {
        val byType = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), min("event_id").as("id_min"),
            max("event_id").as("id_max"))
        val global = ev.agg(count(lit(1)).as("n"),
          min("event_id").as("id_min"), max("event_id").as("id_max"))
        val out = byType.select(
            concat(lit("et:"),
              coalesce(col("event_type"), lit("(null)"))).as("tag"),
            col("n"), col("id_min"), col("id_max"))
          .unionByName(global.select(lit("all").as("tag"),
            col("n"), col("id_min"), col("id_max")))
        Q.sealReport(out, Seq(
          ("chk:exact_fired", fired(ev.groupBy("event_type", "user_id")
            .agg(min("event_id").as("id_min"),
              max("event_id").as("id_max")))),
          ("chk:global_fired", fired(global)),
          ("chk:rollup_fired", fired(byType)),
          ("chk:unregistered_unrewritten", ViewRewrite.scannedPaths(
            table(s, d, "events").select("event_type", "value")
              .groupBy("event_type").agg(min(col("value")).as("m")))
            .exists(_.contains("events.parquet")))))
      }
    }
  }

  /** MV FRESHNESS TIED TO THE REFRESH COMMIT ([[graft.plans.MatView]]
   * live registration + [[graft.plans.ViewRewrite.refresh]] — closing
   * the round-12 verdict's footgun: with a fixed-path registration,
   * whoever refreshes the view must REMEMBER to re-register, and a
   * forgotten re-registration silently serves stale data). A LIVE
   * registration names a [[graft.lake.Versions]] table ROOT; the rule
   * resolves the CURRENT version at plan time, so the refresh commit
   * IS the re-registration — no separate step to forget. The fixture:
   * the view over a base slice answers (stale-but-consistent — the
   * documented contract for a SKIPPED refresh); one `refresh` call
   * merges the delta O(|delta| + |view|) (counts add, sums add, mins
   * least, maxes greatest, null keys merged null-safely) and COMMITS;
   * the very next query through the UNCHANGED registration reads the
   * new totals — the oracle recomputes them from raw events, so the
   * merge arithmetic is hash-checked for all four aggregate kinds.
   * Plan gates pin that both reads were answered from the view and
   * that the fresh read scanned the NEW version directory. At 100 TB
   * the maintenance loop is: stream the delta in, call refresh, done —
   * every matching dashboard query is O(|groups|) and never stale. */
  val q351MatviewRefresh: Q = Q("q351_matview_refresh",
    """WITH e AS (SELECT coalesce(event_type, '(null)') AS et, user_id,
              event_id FROM events),
       by_t AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum,
                  CAST(min(event_id) AS BIGINT) AS id_min,
                  CAST(max(event_id) AS BIGINT) AS id_max
                FROM e GROUP BY et),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_min,
                 CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:fresh_scans_new_version'),
                            ('chk:refresh_is_reregister'),
                            ('chk:stale_fired'),
                            ('chk:stale_consistent')) t(chk))
       SELECT * FROM (SELECT * FROM by_t UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_live") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events")
        .select("event_type", "user_id", "event_id")
      def viewOf(rows: org.apache.spark.sql.DataFrame) =
        rows.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum("event_id").as("id_sum"), min("event_id").as("id_min"),
          max("event_id").as("id_max"))
      // v0: the view over the already-loaded base slice
      Versions.commit(viewOf(ev.filter(col("event_id") % 10 =!= 0)), root)
      val spec = MatView(
        basePath = s"$d/events.parquet",
        keyCols = Seq("event_type"),
        countCol = Some("n"),
        sumCols = Map("event_id" -> "id_sum"),
        minCols = Map("event_id" -> "id_min"),
        maxCols = Map("event_id" -> "id_max"),
        viewRoot = Some(root)) // LIVE: resolved at plan time
      val fired = ViewRewrite.answeredBy(root, "events.parquet") _
      ViewRewrite.withRule(s, spec) {
        def ask() = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
            min("event_id").as("id_min"), max("event_id").as("id_max"))
        // BEFORE the refresh: stale-but-consistent (slice totals)
        // sealed as the rule answers it at the plan's root; the
        // equality check below reads these rows, not a re-plan
        val stale = Q.sealResult(ask().orderBy("event_type"))
        val staleFired = fired(ask())
        val sliceTruth = viewOf(ev.filter(col("event_id") % 10 =!= 0))
        val staleConsistent = Checks.multisetEqual(stale, sliceTruth)
        // ONE refresh call: merge the delta, commit — no re-register
        ViewRewrite.refresh(s, spec, ev.filter(col("event_id") % 10 === 0))
        val freshScans = ViewRewrite.scannedPaths(ask())
        val out = ask().select(
            concat(lit("et:"),
              coalesce(col("event_type"), lit("(null)"))).as("tag"),
            col("n"), col("id_sum"), col("id_min"), col("id_max"))
        Q.sealReport(out, Seq(
          ("chk:fresh_scans_new_version",
            freshScans.exists(_.contains(s"$root/v1")) &&
              !freshScans.exists(_.contains(s"$root/v0")) &&
              !freshScans.exists(_.contains("events.parquet"))),
          ("chk:refresh_is_reregister", fired(ask())),
          ("chk:stale_fired", staleFired),
          ("chk:stale_consistent", staleConsistent)))
      }
    }
  }

  /** STREAMING MULTI-TABLE COMMITS ([[graft.streaming.StreamingLake
   * .applyBatchCatalog]] — the exactly-once PAIR the unified stack
   * makes possible, the round-12 verdict's optional-breadth item): each
   * micro-batch updates TWO derived tables through ONE
   * [[graft.lake.Catalog]] transaction — the per-type VIEW
   * (count/sum/max, a Put on the Versions core) and a last-event INDEX
   * (per-type max id, merge-on-read UpsertRows on the TxLog core) —
   * so either both absorb the batch or neither does. The batchId rides
   * the CATALOG record's own put-if-absent link
   * ([[graft.lake.Catalog.lastTxn]]): "batch applied to BOTH tables"
   * and "snapshot visible" are one atomic step, which a per-table txn
   * mark cannot give (a crash between two single-table commits leaves
   * the view counting a batch the index missed). Gates: the pair is
   * mutually consistent (view.id_max ≡ index.last_id per type) at
   * EVERY cataloged snapshot — a torn batch would break exactly this;
   * one catalog record per micro-batch with the high-water equal to
   * the last batchId; a redelivered batch is skipped with no new
   * record; a crashed phase-1 member commit stays invisible through
   * the catalog; and the index's physical layout is genuinely
   * merge-on-read (one `_mor` overlay per post-creation batch, never a
   * rewrite). The oracle recomputes both tables from raw events. At
   * 100 TB: per batch, O(|batch|+|view|) for the view merge,
   * O(|batch keys|) overlay bytes for the index, two member links and
   * one catalog record — and exactly-once across ALL of it. */
  val q353StreamCatalog: Q = Q("q353_stream_catalog",
    """WITH v AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             CAST(max(event_id) AS BIGINT) AS id_max
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:atomic_pair_all_snapshots'),
                            ('chk:crash_invisible'),
                            ('chk:index_is_mor'),
                            ('chk:one_txn_per_batch'),
                            ('chk:replay_skipped')) t(chk))
       SELECT * FROM (SELECT 'vw:' || et AS tag, n, id_sum, id_max FROM v
                      UNION ALL SELECT 'ix:' || et, CAST(1 AS BIGINT),
                        CAST(0 AS BIGINT), id_max FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_stream_catalog") { root =>
      import graft.lake.{Catalog, Versions}
      val nBatches = graft.streaming.StreamingLake
        .runViewIndexCatalog(s, d, root, nFiles = 4)
      val cur = Catalog.catalogVersion(root)
      // the exactly-once PAIR property: view.id_max ≡ index.last_id per
      // type at EVERY cataloged snapshot — a torn batch breaks this.
      // All snapshots batched into ONE job ([[Checks.allMultisetEqual]]
      // — this loop ran 2 shuffling actions per snapshot before r14)
      val atomicPair = Checks.allMultisetEqual((0 to cur).map { v =>
        val snap = Catalog.snapshotAt(root, v)
        val vm = Catalog.read(s, root, "view", snap)
          .select(col("event_type"), col("id_max"))
        val ix = Catalog.read(s, root, "index", snap)
          .select(col("event_type"), col("last_id").as("id_max"))
        (vm, ix)
      })
      val oneTxnPerBatch = cur.toLong == nBatches - 1 &&
        Catalog.lastTxn(root) == nBatches - 1
      // redelivered epoch: skipped across BOTH tables, no new record
      import s.implicits._
      val replayed = graft.streaming.StreamingLake.applyBatchCatalog(root,
        Seq(("view", 999999L)).toDF("event_type", "event_id"), batchId = 0L)
      val replaySkipped = !replayed && Catalog.catalogVersion(root) == cur
      // the index is genuinely merge-on-read: one _mor overlay per
      // post-creation batch, never a rewrite
      val morOverlays = Option(new java.io.File(s"$root/index").listFiles())
        .toSeq.flatten.count(f => f.isDirectory &&
          new java.io.File(f, "_mor").isFile)
      val indexIsMor = morOverlays.toLong == nBatches - 1
      // a crashed transaction's phase-1 member commit (no catalog
      // record) stays invisible through the catalog
      def viewSig() = Catalog.read(s, root, "view")
        .agg(count(lit(1)), sum("id_sum")).collect()(0) // bounded: 1 row
      val sigBefore = viewSig()
      Versions.commit(Seq(("zzz", 1L, 1L, 1L))
        .toDF("event_type", "n", "id_sum", "id_max"), s"$root/view")
      val crashInvisible = viewSig() == sigBefore
      val rows = Catalog.read(s, root, "view")
        .select(concat(lit("vw:"), col("event_type")).as("tag"),
          col("n"), col("id_sum"), col("id_max"))
        .unionByName(Catalog.read(s, root, "index")
          .select(concat(lit("ix:"), col("event_type")).as("tag"),
            lit(1L).as("n"), lit(0L).as("id_sum"),
            col("last_id").as("id_max")))
      val gates = Seq(
        ("chk:atomic_pair_all_snapshots", atomicPair),
        ("chk:crash_invisible", crashInvisible),
        ("chk:index_is_mor", indexIsMor),
        ("chk:one_txn_per_batch", oneTxnPerBatch),
        ("chk:replay_skipped", replaySkipped)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** CATALOG-AWARE COMPACTION ([[graft.lake.Catalog.Compact]] +
   * [[graft.lake.Catalog.compactMemberIfDeeper]] — the round-13
   * verdict's #1 seam: q353's streaming loop commits one merge-on-read
   * overlay per micro-batch, and a catalog member had NO compaction
   * path that kept the member log 1:1 with cataloged history, so a
   * long-running stream grew an unbounded resolve chain). The fix is
   * compaction AS A CATALOG TRANSACTION: the folded full version and
   * the record naming it land atomically (phase 1 commits the
   * cataloged contents at the member's physical head; phase 2 links
   * the record), so contiguity holds throughout, every historical
   * snapshot keeps reading, and the overlay protocol never meets an
   * uncataloged version. The q353 streaming loop runs here with
   * `compactAt = 3`: after EVERY batch boundary the index member's
   * chain is ≤ 3 overlays (verified per-boundary through the txn-mark
   * lineage — compaction records are txn-less and carry the mark, so
   * the last record per batchId IS the post-maintenance state), the
   * final read plans ≤ 3 anti-joins, at least one compaction actually
   * fired, the exactly-once pair invariant holds at every snapshot
   * INCLUDING compaction snapshots, and a replayed batch is still
   * skipped. At 100 TB: the stream pays O(|table|) once per
   * `compactAt` batches — the standard amortized merge-on-read rent —
   * without ever leaving the transaction protocol. */
  val q354CatalogCompact: Q = Q("q354_catalog_compact",
    """WITH v AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             CAST(max(event_id) AS BIGINT) AS id_max
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:atomic_pair_all_snapshots'),
                            ('chk:compactions_fired'),
                            ('chk:depth_bounded_each_batch'),
                            ('chk:plan_bounded'),
                            ('chk:replay_skipped'),
                            ('chk:snapshots_readable')) t(chk))
       SELECT * FROM (SELECT 'vw:' || et AS tag, n, id_sum, id_max FROM v
                      UNION ALL SELECT 'ix:' || et, CAST(1 AS BIGINT),
                        CAST(0 AS BIGINT), id_max FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_cat_compact_q") { root =>
      import graft.lake.{Catalog, TxLog}
      val threshold = 3
      val nBatches = graft.streaming.StreamingLake
        .runViewIndexCatalog(s, d, root, nFiles = 6, compactAt = threshold)
      val cur = Catalog.catalogVersion(root)
      // extra records beyond one-per-batch ARE the compaction commits
      val compactionsFired = cur.toLong > nBatches - 1
      // per batch boundary: the LAST record carrying that batchId's txn
      // mark is the post-maintenance state — its index chain is bounded
      val depthBounded = (0L until nBatches).forall { b =>
        val v = (0 to cur).filter(Catalog.lastTxnAt(root, _) == b).max
        TxLog.chainDepth(s"$root/index",
          Catalog.snapshotAt(root, v)("index")) <= threshold
      }
      val planBounded = {
        val plan = Catalog.read(s, root, "index").queryExecution.optimizedPlan
        plan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
        }.size <= threshold
      }
      // compaction adds versions, removes nothing: EVERY snapshot —
      // pre-compaction overlays included — still resolves, and the
      // exactly-once pair invariant holds at each. Batched: ONE job
      // for all readability probes, ONE for all pair invariants
      // ([[Checks]] — the loop ran 4 actions per snapshot before r14).
      val perSnap = (0 to cur).map { v =>
        val snap = Catalog.snapshotAt(root, v)
        val vm = Catalog.read(s, root, "view", snap)
          .select(col("event_type"), col("id_max"))
        val ix = Catalog.read(s, root, "index", snap)
          .select(col("event_type"), col("last_id").as("id_max"))
        (vm, ix)
      }
      // two independent pure-read gate jobs over immutable snapshots —
      // run concurrently (guide §2.6) so one's chain-plan analysis
      // overlaps the other's execution
      val snapGates = Checks.inParallel(Seq(
        () => Checks.allNonEmpty(perSnap.flatMap(p => Seq(p._1, p._2))),
        () => Checks.allMultisetEqual(perSnap)))
      val snapshotsReadable = snapGates(0)
      val atomicPair = snapGates(1)
      import s.implicits._
      val replayed = graft.streaming.StreamingLake.applyBatchCatalog(root,
        Seq(("view", 999999L)).toDF("event_type", "event_id"), batchId = 0L)
      val replaySkipped = !replayed && Catalog.catalogVersion(root) == cur
      val rows = Catalog.read(s, root, "view")
        .select(concat(lit("vw:"), col("event_type")).as("tag"),
          col("n"), col("id_sum"), col("id_max"))
        .unionByName(Catalog.read(s, root, "index")
          .select(concat(lit("ix:"), col("event_type")).as("tag"),
            lit(1L).as("n"), lit(0L).as("id_sum"),
            col("last_id").as("id_max")))
      val gates = Seq(
        ("chk:atomic_pair_all_snapshots", atomicPair),
        ("chk:compactions_fired", compactionsFired),
        ("chk:depth_bounded_each_batch", depthBounded),
        ("chk:plan_bounded", planBounded),
        ("chk:replay_skipped", replaySkipped),
        ("chk:snapshots_readable", snapshotsReadable)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** RETRACTION-AWARE MV REFRESH ([[graft.plans.ViewRewrite.refresh]]
   * with a delete-delta — the round-13 verdict's #2 seam: refresh was
   * insert-only and a CDC-fed view met deletes immediately). Counts
   * and sums retract ALGEBRAICALLY (stored − deleted; sums require the
   * registration's non-null claim, since stored-minus-deleted yields 0
   * where SQL's sum-of-none is NULL — the unclaimed shape fails
   * LOUDLY); min/max rescan ONLY the EVICTED groups (a deleted value
   * at-or-past the stored extremum), filtered to their keys — never
   * the base. The fixture deletes per event type: first the
   * SECOND-smallest event id (strictly interior → zero rescans, pure
   * algebra), then the smallest (min eviction → exactly one rescan per
   * type), and the final view is hash-equal to a full recompute of the
   * remaining rows. Gates pin the rescan counts both ways, the
   * unclaimed-sum loudness, and that the live registration keeps
   * answering through the rewrite rule after retraction. At 100 TB:
   * O(|delta| + |view|) per refresh plus O(evicted groups' rows) — a
   * dashboard view absorbs a deletion wave without a fact-table
   * rescan. */
  val q355MatviewRetract: Q = Q("q355_matview_retract",
    """WITH e AS (SELECT event_type AS et, event_id FROM events
            WHERE event_type IS NOT NULL),
       r AS (SELECT et, event_id,
               row_number() OVER (PARTITION BY et ORDER BY event_id) AS rn,
               count(*) OVER (PARTITION BY et) AS cnt
             FROM e),
       kept AS (SELECT et, event_id FROM r
                WHERE NOT (cnt >= 4 AND rn <= 2)),
       by_t AS (SELECT 'et:' || et AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(event_id) AS BIGINT) AS id_sum,
                  CAST(min(event_id) AS BIGINT) AS id_min,
                  CAST(max(event_id) AS BIGINT) AS id_max
                FROM kept GROUP BY et),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_min,
                 CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:evict_rescans_only_evicted'),
                            ('chk:interior_is_algebraic'),
                            ('chk:matches_recompute'),
                            ('chk:rule_fires_after_retract'),
                            ('chk:unclaimed_sum_loud')) t(chk))
       SELECT * FROM (SELECT * FROM by_t UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_mv_retract_q") { root =>
      import graft.lake.Versions
      import graft.plans.{MatView, ViewRewrite}
      val ev = table(s, d, "events").filter(col("event_type").isNotNull)
        .select("event_type", "event_id")
      val w = Window.partitionBy("event_type").orderBy("event_id")
      val ranked = ev
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy("event_type")))
        .localCheckpoint()
      val deletable = ranked.filter(col("cnt") >= 4)
      val del1 = deletable.filter(col("rn") === 2) // strictly interior
        .select("event_type", "event_id").localCheckpoint()
      val del2 = deletable.filter(col("rn") === 1) // the group minimum
        .select("event_type", "event_id").localCheckpoint()
      val nTypes = del2.count()
      def viewOf(rows: org.apache.spark.sql.DataFrame) =
        rows.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum("event_id").as("id_sum"), min("event_id").as("id_min"),
          max("event_id").as("id_max"))
      def writeBase(rows: org.apache.spark.sql.DataFrame): Unit =
        rows.write.mode("overwrite").parquet(s"$root/t")
      writeBase(ev)
      Versions.commit(viewOf(ev), root)
      val mv = MatView(basePath = s"$root/t", keyCols = Seq("event_type"),
        countCol = Some("n"), sumCols = Map("event_id" -> "id_sum"),
        nonNullCols = Set("event_id"),
        minCols = Map("event_id" -> "id_min"),
        maxCols = Map("event_id" -> "id_max"),
        viewRoot = Some(root))
      // delete wave 1 — interior rows: pure algebra, zero base touches
      val rem1 = ev.join(del1, Seq("event_type", "event_id"), "left_anti")
        .localCheckpoint()
      writeBase(rem1)
      val s1 = ViewRewrite.refresh(s, mv, None, Some(del1))
      // delete wave 2 — every group's minimum: one rescan per type
      val rem2 = rem1.join(del2, Seq("event_type", "event_id"), "left_anti")
        .localCheckpoint()
      writeBase(rem2)
      val s2 = ViewRewrite.refresh(s, mv, None, Some(del2))
      val got = Versions.read(s, root).localCheckpoint()
      val want = viewOf(rem2)
      val matches = Checks.multisetEqual(got, want)
      // the retraction must not break the claims the rewrite rule needs
      val unclaimedLoud =
        try { ViewRewrite.refresh(s, mv.copy(nonNullCols = Set.empty),
          None, Some(del1.limit(1))); false }
        catch { case _: IllegalArgumentException => true }
      val ruleFires = ViewRewrite.withRule(s, mv) {
        val q = s.read.parquet(s"$root/t").groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        val p = ViewRewrite.scannedPaths(q)
        p.exists(_.contains(root)) && !p.exists(_.endsWith("/t"))
      }
      val rows = got.select(
        concat(lit("et:"), col("event_type")).as("tag"),
        col("n"), col("id_sum"), col("id_min"), col("id_max"))
      val gates = Seq(
        ("chk:evict_rescans_only_evicted",
          s2.rescannedGroups == nTypes && s2.emptiedGroups == 0),
        ("chk:interior_is_algebraic",
          s1.rescannedGroups == 0 && s1.emptiedGroups == 0),
        ("chk:matches_recompute", matches),
        ("chk:rule_fires_after_retract", ruleFires),
        ("chk:unclaimed_sum_loud", unclaimedLoud)
      )
      Q.sealReport(rows, gates, ranked, del1, del2, rem1, rem2, got)
    }
  }

  /** SCHEMA-EVOLVING MERGE-ON-READ UPSERTS ([[graft.lake.Mor
   * .requireSchemaAligned]] + the `evolveSchema` opt-in — the round-13
   * verdict's #4 seam: resolveChain unioned strictly, so an evolving
   * upsert threw deep in the read path, with no write-side contract
   * and no null-backfill story to mirror the read-side evolution of
   * q332/q107). Now a batch whose column set differs from the table's
   * is rejected LOUDLY AT COMMIT (naming the opt-in), and under
   * `evolveSchema = true` the overlay unions permissively: added
   * columns null-backfill on pre-evolution rows, the chain keeps
   * resolving, deletion vectors compose on top, and the catalog's
   * UpsertRows carries the same flag. The oracle replays the merge +
   * evolution + delete in SQL (NULL tier for unmatched base rows). At
   * 100 TB: an upsert feed gaining a column stays O(|delta|) — no
   * base rewrite, no full-schema migration commit. */
  val q356EvolveUpsert: Q = Q("q356_evolve_upsert",
    """WITH t AS (SELECT c_custkey AS k, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       up AS (SELECT k, seg, cents + 100 AS cents, 'gold' AS tier
              FROM t WHERE k % 7 = 0),
       merged AS (SELECT k, seg, cents, CAST(NULL AS VARCHAR) AS tier
                  FROM t WHERE k % 7 <> 0
                  UNION ALL SELECT * FROM up),
       fin AS (SELECT * FROM merged WHERE k % 10 <> 3),
       sig AS (SELECT coalesce(tier, '(base)') AS tier, seg,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS cents_sum
               FROM fin GROUP BY 1, 2),
       chk AS (SELECT chk AS tier, 'chk' AS seg, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:cores_agree'),
                            ('chk:dv_composes_on_evolved'),
                            ('chk:null_backfilled'),
                            ('chk:reject_names_optin')) t(chk))
       SELECT * FROM (SELECT * FROM sig UNION ALL SELECT * FROM chk)
       ORDER BY tier, seg""") { (s, d) =>
    withScratch("graft_evolve_vq") { vRoot =>
      withScratch("graft_evolve_tq") { tRoot =>
        import graft.lake.{TxLog, Versions}
        val base = table(s, d, "customer").select(
          col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        val widened = base.filter(col("k") % 7 === 0)
          .select(col("k"), col("seg"), (col("cents") + 100L).as("cents"),
            lit("gold").as("tier"))
        val nBase = base.count()
        Versions.commit(base, vRoot)
        TxLog.commit(base, tRoot, expected = -1)
        // the loud contract: a widened batch without the opt-in is
        // rejected AT COMMIT, and the error names the fix
        val rejectLoud =
          try { Versions.commitUpsert(widened, vRoot, "k"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("evolveSchema") &&
              Versions.current(vRoot) == 0 }
        // opted in: the overlay commits, old rows null-backfill, and a
        // deletion vector composes on top of the evolved chain
        Versions.commitUpsert(widened, vRoot, "k", evolveSchema = true,
          autoCompactAt = 0)
        Versions.commitDelete(base.filter(col("k") % 10 === 3)
          .select("k"), vRoot, "k", autoCompactAt = 0)
        TxLog.commitUpsert(widened, tRoot, "k", expected = 0,
          evolveSchema = true, autoCompactAt = 0)
        TxLog.commitDelete(base.filter(col("k") % 10 === 3).select("k"),
          tRoot, "k", expected = 1, autoCompactAt = 0)
        val gotV = Versions.read(s, vRoot).localCheckpoint()
        val gotT = TxLog.read(s, tRoot)
        val coresAgree = Checks.multisetEqual(gotV, gotT)
        // all scalar probes over the checkpointed read in ONE aggregation
        // (this ran six separate count() actions before r14)
        val p = gotV.agg(
          sum(when(col("tier").isNull, 1L).otherwise(0L)),
          sum(when(col("tier") === "gold", 1L).otherwise(0L)),
          count(lit(1)),
          sum(when(col("k") % 10 === 3, 1L).otherwise(0L))).collect()(0)
        val (nNullTier, nGold, nAll, nDv3) =
          (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))
        val nullBackfilled = nNullTier == nAll - nGold && nNullTier > 0
        val dvComposes = nDv3 == 0 && nAll < nBase
        val rows = Q.signatures("cents_sum", (struct(
            coalesce(col("tier"), lit("(base)")).as("tier"), col("seg")),
            gotV, col("cents")))
          .select(col("tag.tier"), col("tag.seg"), col("n"), col("cents_sum"))
        import s.implicits._
        val chks = Seq(
          ("chk:cores_agree", coresAgree),
          ("chk:dv_composes_on_evolved", dvComposes),
          ("chk:null_backfilled", nullBackfilled),
          ("chk:reject_names_optin", rejectLoud)
        ).toDF("tier", "ok")
          .select(col("tier"), lit("chk").as("seg"),
            when(col("ok"), 1L).otherwise(0L).as("n"),
            lit(0L).as("cents_sum"))
        Q.sealResult(rows.unionByName(chks).orderBy("tier", "seg"), gotV)
      }
    }
  }

  /** TWO CONCURRENT STREAMING WRITERS, ONE CATALOG ([[graft.streaming
   * .StreamingLake.runTwoStreamCatalog]] + per-app txn marks — the
   * round-13 verdict's #6 item: q353 proved ONE stream; the CAS rebase
   * loop should carry two real streaming queries on overlapping
   * members). Two structured-streaming queries (separate sources and
   * schedulers) split the events table by event_id parity and both
   * update the SAME view+index pair through catalog transactions; the
   * catalog CAS serializes their commits (losers rebase with backoff),
   * and each stream's exactly-once ledger is its OWN `#txn.<app>=`
   * mark riding the record — a shared high-water would silently drop
   * stream B's batches whenever stream A's ids ran ahead. Gates: one
   * record per micro-batch across both streams; each app's mark is
   * MONOTONE through the record lineage and ends at its last batchId;
   * a replayed epoch is skipped per app while the same batchId from a
   * NEW app is genuinely new work; the exactly-once pair invariant
   * holds at every snapshot however the streams interleaved; and the
   * final view holds every event exactly once across both parities.
   * At 100 TB: N ingestion streams share one catalog with per-stream
   * idempotence and loud conflict arbitration — no coordinator
   * service, just the record CAS. */
  val q358TwoStreams: Q = Q("q358_two_streams",
    """WITH v AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             CAST(max(event_id) AS BIGINT) AS id_max
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:atomic_pair_all_snapshots'),
                            ('chk:ledgers_independent'),
                            ('chk:lineage_monotone'),
                            ('chk:one_record_per_batch'),
                            ('chk:replay_skipped_per_app')) t(chk))
       SELECT * FROM (SELECT 'vw:' || et AS tag, n, id_sum, id_max FROM v
                      UNION ALL SELECT 'ix:' || et, CAST(1 AS BIGINT),
                        CAST(0 AS BIGINT), id_max FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_two_streams_q") { root =>
      import graft.lake.Catalog
      val (a, b) = graft.streaming.StreamingLake
        .runTwoStreamCatalog(s, d, root, nFiles = 3)
      val cur = Catalog.catalogVersion(root)
      val oneRecordPerBatch = cur.toLong == a + b - 1
      val lineageMonotone = Seq("even" -> a, "odd" -> b).forall {
        case (app, n) =>
          val marks = (0 to cur).map(v => Catalog.lastTxnAt(root, v, app))
          marks.zip(marks.tail).forall { case (x, y) => x <= y } &&
            marks.last == n - 1
      }
      // all snapshots' pair invariants in ONE batched job ([[Checks]])
      val atomicPair = Checks.allMultisetEqual((0 to cur).map { v =>
        val snap = Catalog.snapshotAt(root, v)
        val vm = Catalog.read(s, root, "view", snap)
          .select(col("event_type"), col("id_max"))
        val ix = Catalog.read(s, root, "index", snap)
          .select(col("event_type"), col("last_id").as("id_max"))
        (vm, ix)
      })
      import s.implicits._
      val replay = Seq(("view", 999999L)).toDF("event_type", "event_id")
      // an applied epoch replays as a no-op for ITS app…
      val replaySkipped =
        !graft.streaming.StreamingLake.applyBatchCatalog(root, replay,
          batchId = 0L, app = "even") &&
          !graft.streaming.StreamingLake.applyBatchCatalog(root, replay,
            batchId = 0L, app = "odd") &&
          Catalog.catalogVersion(root) == cur
      // …while the SAME batchId from a NEW app is genuinely new work —
      // independent ledgers, not one shared high-water
      val ledgersIndependent =
        graft.streaming.StreamingLake.applyBatchCatalog(root, replay,
          batchId = 0L, app = "probe",
          viewCore = graft.lake.TxLog) &&
          Catalog.catalogVersion(root) == cur + 1 &&
          Catalog.lastTxn(root, "probe") == 0L &&
          Catalog.lastTxn(root, "even") == a - 1
      // report from the PRE-PROBE snapshot (the probe batch added one
      // synthetic row the oracle does not model)
      val snap = Catalog.snapshotAt(root, cur)
      val rows = Catalog.read(s, root, "view", snap)
        .select(concat(lit("vw:"), col("event_type")).as("tag"),
          col("n"), col("id_sum"), col("id_max"))
        .unionByName(Catalog.read(s, root, "index", snap)
          .select(concat(lit("ix:"), col("event_type")).as("tag"),
            lit(1L).as("n"), lit(0L).as("id_sum"),
            col("last_id").as("id_max")))
      val gates = Seq(
        ("chk:atomic_pair_all_snapshots", atomicPair),
        ("chk:ledgers_independent", ledgersIndependent),
        ("chk:lineage_monotone", lineageMonotone),
        ("chk:one_record_per_batch", oneRecordPerBatch),
        ("chk:replay_skipped_per_app", replaySkipped)
      )
      Q.sealReport(rows, gates)
    }
  }

  /** CHANGE DATA FEED ([[graft.lake.ChangeFeed]] — the Delta-CDF /
   * Iceberg-changelog capability, extracted FROM the merge-on-read
   * overlay chain with no extra change files: a deletion vector's
   * feed rows are the PRE-IMAGES of its keys (semi join into the
   * previous version — an absent key contributes nothing), an
   * upsert's are delete+insert pairs (replaced pre-image + new image;
   * brand-new keys insert only), a compaction is SILENT (content-
   * preserving full version → empty multiset diff), and a genuine
   * full rewrite falls back to the multiset diff. Every step aligns
   * to the schema at the window's end (pre-evolution rows
   * null-backfill). The feed then DRIVES the retraction-aware MV
   * refresh end-to-end ([[graft.plans.ViewRewrite.refresh]] via
   * [[graft.lake.ChangeFeed.splitFeed]], eviction rescans reading the
   * LAKE table through the `base` override): after replaying every
   * version the maintained view is multiset-equal to a full recompute
   * — the CDC-fed-view loop the round-13 verdict called out, closed.
   * Gates additionally pin per-step exactness (prev ⊎ inserts ∖
   * deletes = next, every version) and whole-feed telescoping. At
   * 100 TB: a downstream consumer pays O(|version delta|) per poll
   * (the overlay IS the delta), and the view maintenance stays
   * O(|delta| + |view|) per version with eviction rescans key-pushed
   * into the chain's scans. */
  val q359ChangeFeed: Q = Q("q359_change_feed",
    """WITH t0 AS (SELECT c_custkey AS k, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       rep1 AS (SELECT k, seg, cents + 100 AS cents FROM t0 WHERE k % 7 = 0),
       new1 AS (SELECT k + 1000000 AS k, seg, cents FROM t0 WHERE k % 11 = 0),
       s1 AS (SELECT * FROM t0 WHERE k % 7 <> 0
              UNION ALL SELECT * FROM rep1 UNION ALL SELECT * FROM new1),
       s2 AS (SELECT * FROM s1 WHERE k % 10 <> 3),
       rep4 AS (SELECT k, seg, cents + 7 AS cents FROM s2 WHERE k % 13 = 0),
       s4 AS (SELECT k, seg, cents, CAST(NULL AS VARCHAR) AS tier
              FROM s2 WHERE k % 13 <> 0
              UNION ALL SELECT k, seg, cents, 'gold' FROM rep4),
       steps AS (
         SELECT 'v0:insert' AS tag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS cents_sum FROM t0
         UNION ALL SELECT 'v1:delete', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM t0 WHERE k % 7 = 0
         UNION ALL SELECT 'v1:insert', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT)
              FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM new1)
         UNION ALL SELECT 'v2:delete', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM s1 WHERE k % 10 = 3
         UNION ALL SELECT 'v4:delete', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM s2 WHERE k % 13 = 0
         UNION ALL SELECT 'v4:insert', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM rep4),
       segs AS (SELECT 'seg:' || seg AS tag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS cents_sum
                FROM s4 GROUP BY seg),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS cents_sum
               FROM (VALUES ('chk:absent_key_silent'),
                            ('chk:compaction_silent'),
                            ('chk:pre_evolution_null'),
                            ('chk:steps_match_diffs'),
                            ('chk:telescopes'),
                            ('chk:view_matches_recompute')) t(chk))
       SELECT * FROM (SELECT * FROM steps UNION ALL SELECT * FROM segs
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_cdf_tq") { tRoot =>
      withScratch("graft_cdf_vq") { vRoot =>
        import graft.lake.{ChangeFeed, Versions}
        import graft.plans.{MatView, ViewRewrite}
        val t0 = table(s, d, "customer").select(
          col("c_custkey").cast("long").as("k"),
          col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
          .localCheckpoint()
        Versions.commit(t0, tRoot) // v0
        val batch1 = t0.filter(col("k") % 7 === 0)
          .select(col("k"), col("seg"), (col("cents") + 100L).as("cents"))
          .unionByName(t0.filter(col("k") % 11 === 0)
            .select((col("k") + 1000000L).as("k"), col("seg"), col("cents")))
        Versions.commitUpsert(batch1, tRoot, "k", autoCompactAt = 0) // v1
        // the vector names an ABSENT key too — it must stay silent
        val delKeys = Versions.read(s, tRoot, 1).filter(col("k") % 10 === 3)
          .select("k").unionByName(s.range(1).select(lit(-999L).as("k")))
        Versions.commitDelete(delKeys, tRoot, "k", autoCompactAt = 0) // v2
        Versions.compactDeletes(s, tRoot) // v3: content-preserving
        val rep4 = Versions.read(s, tRoot, 3).filter(col("k") % 13 === 0)
          .select(col("k"), col("seg"), (col("cents") + 7L).as("cents"),
            lit("gold").as("tier"))
        Versions.commitUpsert(rep4, tRoot, "k", evolveSchema = true,
          autoCompactAt = 0) // v4
        val feed = ChangeFeed.changesBetween(s, tRoot).localCheckpoint()
        val ct = col(ChangeFeed.ChangeType)
        val cv = col(ChangeFeed.CommitVersion)
        // per-step exactness: prev ⊎ inserts ∖ deletes = next, every
        // step — telescoped to `prev ⊎ ins ≡ next ⊎ del` (identical for
        // any correct feed, stricter on a phantom delete) and ALL five
        // steps batched into ONE job ([[Checks.allMultisetEqual]]; this
        // ran 2 shuffling actions per version before r14)
        def evolved(v: Int) = Versions.readEvolved(s, tRoot, v)
        // the feed DRIVES the retraction-aware MV refresh end-to-end
        val mv = MatView(basePath = s"$tRoot/unused", keyCols = Seq("seg"),
          countCol = Some("n"), sumCols = Map("cents" -> "cents_sum"),
          nonNullCols = Set("cents"),
          minCols = Map("cents" -> "cents_min"),
          maxCols = Map("cents" -> "cents_max"),
          viewRoot = Some(vRoot))
        def viewOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("seg").agg(count(lit(1)).as("n"),
            sum("cents").as("cents_sum"), min("cents").as("cents_min"),
            max("cents").as("cents_max"))
        // the four remaining pieces are INDEPENDENT of each other — three
        // pure-read gates over the checkpointed feed + immutable tRoot
        // versions, and the vRoot refresh protocol (its commits touch
        // vRoot alone) — so they run CONCURRENTLY (guide §2.6): the
        // refresh loop's driver-side commit work overlaps the gate jobs.
        var got: org.apache.spark.sql.DataFrame = null
        var silences: org.apache.spark.sql.Row = null
        val gates = Checks.inParallel(Seq(
          // per-step exactness: prev ⊎ inserts ∖ deletes = next, every
          // step — telescoped to `prev ⊎ ins ≡ next ⊎ del` (identical for
          // any correct feed, stricter on a phantom delete), ALL five
          // steps batched into ONE job ([[Checks.allMultisetEqual]])
          () => Checks.allMultisetEqual((1 to 4).map { v =>
            val ins = feed.filter(cv === v && ct === "insert")
              .select("k", "seg", "cents", "tier")
            val del = feed.filter(cv === v && ct === "delete")
              .select("k", "seg", "cents", "tier")
            (evolved(v - 1).unionByName(ins), evolved(v).unionByName(del))
          } :+ {
            (feed.filter(cv === 0).select("k", "seg", "cents", "tier"),
              evolved(0))
          }),
          // whole-window telescoping, same telescoped single-job form
          () => {
            val (insAll, delAll) = ChangeFeed.splitFeed(feed)
            Checks.multisetEqual(
              insAll.get, evolved(4).unionByName(delAll.get))
          },
          // three silence probes over the checkpointed feed in ONE
          // aggregation job (each was its own filter+isEmpty action)
          () => {
            silences = feed.agg(
              max(col("k") === -999L).as("absent"),
              max(cv === 3).as("maint"),
              max(cv < 4 && col("tier").isNotNull).as("preEvo")).collect()(0)
            true
          },
          // the vRoot refresh protocol: sequential WITHIN this thunk
          // (commit order is the feature), independent of the gates
          () => {
            Versions.commit(viewOf(Versions.read(s, tRoot, 0)), vRoot)
            // which (version, side) pairs are present, in ONE job — the
            // loop probed the feed with 2 isEmpty actions per version
            // before r14
            val present = feed.groupBy(cv, ct).count().collect()
              .map(r => (r.getInt(0), r.getString(1))).toSet
            val payload = Seq("k", "seg", "cents", "tier")
            (1 to 4).foreach { v =>
              def sideOf(tpe: String) =
                if (!present((v, tpe))) None
                else Some(feed.filter(cv === v && ct === tpe)
                  .select(payload.map(col): _*))
              val (ins, del) = (sideOf("insert"), sideOf("delete"))
              if (ins.isDefined || del.isDefined)
                ViewRewrite.refresh(s, mv, ins, del,
                  base = Some(Versions.read(s, tRoot, v)))
            }
            got = Versions.read(s, vRoot).localCheckpoint()
            Checks.multisetEqual(got, viewOf(evolved(4)))
          }))
        val stepsMatch = gates(0)
        val telescopes = gates(1)
        val viewMatches = gates(3)
        val stepRows = Q.signatures("cents_sum",
          (concat(lit("v"), cv, lit(":"), ct), feed, col("cents")))
        val segRows = got.select(concat(lit("seg:"), col("seg")).as("tag"),
          col("n"), col("cents_sum"))
        Q.sealReport(stepRows.unionByName(segRows), Seq(
          ("chk:absent_key_silent", silences.getBoolean(0) == false),
          ("chk:compaction_silent", silences.getBoolean(1) == false),
          ("chk:pre_evolution_null", silences.getBoolean(2) == false),
          ("chk:steps_match_diffs", stepsMatch),
          ("chk:telescopes", telescopes),
          ("chk:view_matches_recompute", viewMatches)
        ), t0, feed, got)
      }
    }
  }

  /** CATALOG-WINDOWED CHANGE FEED ([[graft.lake.Catalog.memberChanges]]
   * — [[graft.lake.ChangeFeed]] windowed by CATALOG version, the
   * subscriber surface for multi-table commits): q353/q354's streaming
   * loop commits one catalog transaction per micro-batch (view full-Put
   * + index MoR upsert) with auto-compaction bounding the index chain;
   * a downstream consumer tails record-by-record and sees EXACTLY the
   * rows each transaction changed. Gates pin the full contract: every
   * index step applies exactly (prev ⊎ inserts ∖ deletes = next — the
   * overlay extraction path); every VIEW step applies exactly too (full
   * Puts have no row lineage — the multiset-diff fallback path); a
   * [[graft.lake.Catalog.Compact]] maintenance record is SILENT for the
   * index (content-preserving) and an EMPTY WINDOW for the untouched
   * view, so subscribers never reprocess maintenance; a replica built
   * by folding the per-record feeds converges to the live index (CDC
   * replication); and the whole-window feed telescopes. At 100 TB: N
   * subscribers tail one tiny record each poll and pay O(|that
   * record's delta|) — no change files written, no log-shipping
   * service, the overlay chain IS the feed. */
  val q360CatalogFeed: Q = Q("q360_catalog_feed",
    """WITH v AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             CAST(max(event_id) AS BIGINT) AS id_max
           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       chk AS (SELECT chk AS tag, CAST(1 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS id_sum, CAST(0 AS BIGINT) AS id_max
               FROM (VALUES ('chk:compaction_steps_silent'),
                            ('chk:replica_converges'),
                            ('chk:steps_apply_exactly'),
                            ('chk:telescopes'),
                            ('chk:untouched_steps_empty'),
                            ('chk:view_diffs_apply')) t(chk))
       SELECT * FROM (SELECT 'ix:' || et AS tag, CAST(1 AS BIGINT) AS n,
                        CAST(0 AS BIGINT) AS id_sum, id_max FROM v
                      UNION ALL SELECT 'vw:' || et, n, id_sum, id_max FROM v
                      UNION ALL SELECT * FROM chk)
       ORDER BY tag""") { (s, d) =>
    withScratch("graft_cat_feed_q") { root =>
      import graft.lake.{Catalog, ChangeFeed}
      graft.streaming.StreamingLake
        .runViewIndexCatalog(s, d, root, nFiles = 5, compactAt = 3)
      val cur = Catalog.catalogVersion(root)
      val ct = col(ChangeFeed.ChangeType)
      val cv = col(ChangeFeed.CommitVersion)
      def memberAt(t: String, v: Int) =
        Catalog.read(s, root, t, Catalog.snapshotAt(root, v))
      // ONE whole-window feed per member, materialized once — the same
      // [[Catalog.memberChanges]] extraction as before, built over the
      // member chains exactly once instead of re-deriving per-record
      // windows for every gate (per-step exactness, maintenance
      // silence, the replica fold AND whole-window telescoping each
      // re-resolved the chains before this round: ~3× the feed work
      // and a deep plan per gate). A per-record window (catalog v-1,
      // v] is recovered as the member-version slice (m(v-1), m(v)] of
      // the one feed — row-identical to memberChanges(v-1, v), because
      // both members' schemas are static so per-step and whole-window
      // alignment coincide, and _commit_version stamps each step's
      // member version.
      val ixCols = Seq("event_type", "last_id")
      val vwCols = Seq("event_type", "n", "id_sum", "id_max")
      val ixFeed = Catalog.memberChanges(s, root, "index", -1, cur)
        .localCheckpoint()
      val vwFeed = Catalog.memberChanges(s, root, "view", -1, cur)
        .localCheckpoint()
      // member version named by each catalog record (driver-side
      // metadata — tiny record-file reads)
      def memberVs(t: String): IndexedSeq[Int] =
        (0 to cur).map(v => Catalog.snapshotAt(root, v)(t))
      val ixV = memberVs("index")
      val vwV = memberVs("view")
      // the static-schema assumption the window derivation above
      // depends on, enforced: if a future fixture edit evolves a
      // member's schema mid-stream, per-step and whole-window
      // alignment diverge and the gates would weaken silently. EVERY
      // record is checked against record 0 (an A→B→A history passes an
      // endpoint-only check), from chain metadata — no plan analysis
      Seq("index", "view").foreach { t =>
        def nt(v: Int) = Catalog.memberSchemaAt(s, root, t, v)
          .map(f => (f.name, f.dataType))
        val first = nt(0)
        require((1 to cur).forall(nt(_) == first),
          s"member $t evolved its schema across the stream — the " +
            "single-feed window derivation requires static schemas")
      }
      def window(feed: org.apache.spark.sql.DataFrame, mv: IndexedSeq[Int],
                 v: Int) = {
        val lo = if (v == 0) -1 else mv(v - 1)
        feed.filter(cv > lo && cv <= mv(v))
      }
      def split(f: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        (f.filter(ct === "insert").select(cols.map(col): _*),
          f.filter(ct === "delete").select(cols.map(col): _*))
      // per-step exactness, telescoped to one comparison per version —
      // `(prev ⊎ ins) ∖ del ≡ next` stated as `prev ⊎ ins ≡ next ⊎ del`
      // (identical when deletes ⊆ prev ⊎ ins, i.e. any correct feed;
      // stricter when not) — ALL versions batched into ONE job
      // ([[Checks.allMultisetEqual]]), reading the checkpointed feed.
      def applies(t: String, feed: org.apache.spark.sql.DataFrame,
                  mv: IndexedSeq[Int], cols: Seq[String]): Boolean =
        Checks.allMultisetEqual((0 to cur).map { v =>
          val (ins, del) = split(window(feed, mv, v), cols)
          val prev = if (v == 0) ins.limit(0)
                     else memberAt(t, v - 1).select(cols.map(col): _*)
          val nxt = memberAt(t, v).select(cols.map(col): _*)
          (prev.unionByName(ins), nxt.unionByName(del))
        })
      // maintenance records (txn-less: the per-app mark did not move)
      // are SILENT for the compacted index and an EMPTY WINDOW for the
      // untouched view — subscribers never reprocess a compaction.
      // One batched emptiness probe per member over the same feed.
      val maint = (1 to cur).filter(v =>
        Catalog.lastTxnAt(root, v) == Catalog.lastTxnAt(root, v - 1))
      val live = memberAt("index", cur).select(ixCols.map(col): _*)
      val (wIns, wDel) = split(ixFeed, ixCols)
      // the six gates are INDEPENDENT pure reads over immutable inputs
      // (checkpointed feeds + committed snapshot dirs), so they run
      // CONCURRENTLY (guide §2.6): each job's tasks back-fill executors
      // idled by another gate's driver-side planning — the gates'
      // verdicts cannot depend on evaluation order.
      val gates = Checks.inParallel(Seq(
        () => applies("index", ixFeed, ixV, ixCols),
        () => applies("view", vwFeed, vwV, vwCols),
        () => maint.nonEmpty && Checks.allEmpty(
          maint.map(v => window(ixFeed, ixV, v))),
        () => maint.isEmpty || Checks.allEmpty(
          maint.map(v => window(vwFeed, vwV, v))),
        // CDC replication: fold the per-record windows of the SAME feed
        // into a replica — the fold stays exceptAll-shaped (the replica
        // IS the consumer's algebra), one lazy plan in ONE job
        () => {
          val replica = (0 to cur).foldLeft(
              Option.empty[org.apache.spark.sql.DataFrame]) { (acc, v) =>
            val (ins, del) = split(window(ixFeed, ixV, v), ixCols)
            Some(acc.map(_.unionByName(ins).exceptAll(del)).getOrElse(ins))
          }.get
          Checks.multisetEqual(replica, live)
        },
        // whole-window telescoping: wIns ∖ wDel ≡ live, telescoped form
        () => Checks.multisetEqual(wIns, live.unionByName(wDel))))
      val Seq(stepsApply, viewDiffsApply, compactionSilent,
        untouchedEmpty, replicaConverges, telescopes) = gates
      val rows = memberAt("index", cur)
        .select(concat(lit("ix:"), col("event_type")).as("tag"),
          lit(1L).as("n"), lit(0L).as("id_sum"),
          col("last_id").as("id_max"))
        .unionByName(memberAt("view", cur)
          .select(concat(lit("vw:"), col("event_type")).as("tag"),
            col("n"), col("id_sum"), col("id_max")))
      Q.sealReport(rows, Seq(
        ("chk:compaction_steps_silent", compactionSilent),
        ("chk:replica_converges", replicaConverges),
        ("chk:steps_apply_exactly", stepsApply),
        ("chk:telescopes", telescopes),
        ("chk:untouched_steps_empty", untouchedEmpty),
        ("chk:view_diffs_apply", viewDiffsApply)
      ), ixFeed, vwFeed)
    }
  }

  val all: Seq[Q] = Seq(q93JsonlRoundtrip, q94Scd2, q95BigramSurprisal,
    q96DsirWeights, q97HashSplit, q98FileLayout, q99StreamJoin,
    q107SchemaEvolution, q108Compaction, q115BucketedJoin,
    q116PartitionPruning, q131StreamOuterJoin, q132Zorder,
    q288HilbertIndex, q295ZonemapSkip, q316FooterZonemap, q320MergeUpsert,
    q324MergeReadback, q325IncrView, q326TimeTravelVacuum,
    q327StreamViewCommits, q328VersionDiff, q330CdfReplay,
    q332SchemaEvolution, q333BranchClone, q334SnapshotIsolation,
    q335OptimisticCommits, q336DeletionVectors, q337MorUpsert,
    q338StreamCasCommits, q339TxlogCheckpoint, q340MatviewRewrite,
    q342CatalogTxn, q343MatviewRollup, q344TxlogMor, q346MatviewSelect,
    q347AgedRetention, q348MatviewFilter, q349CatalogCores,
    q350MatviewMinmax, q351MatviewRefresh, q353StreamCatalog,
    q354CatalogCompact, q355MatviewRetract, q356EvolveUpsert,
    q358TwoStreams, q359ChangeFeed, q360CatalogFeed)
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.curation.Curation
import graft.dedup.Dedup
import graft.text.TextAnalysis

/**
 * Corpus-curation operators (graft.curation) as registered queries:
 * cluster resolution over near-dup pairs, deterministic mixture
 * sampling, vocabulary statistics, benchmark decontamination, PII
 * masking, and the skew-safe salted aggregation. Every oracle replays
 * the full hash arithmetic (md5-prefix spellings) so the scale-path
 * semantics themselves are hash-checked.
 */
object CurationQueries {

  /** Near-dup pairs → connected components → canonical survivor per
   * cluster. The oracle computes the same closure with a recursive CTE
   * over the identical MinHash pair set (TextQueries.minhashPairCtes),
   * so the distributed label propagation is checked against a
   * transitive-closure ground truth. */
  val q60DupClusters: Q = Q("q60_dup_clusters",
    s"""WITH RECURSIVE ${TextQueries.minhashPairCtes},
      edges AS (SELECT i AS a, j AS b FROM pairs
                UNION ALL SELECT j AS a, i AS b FROM pairs),
      reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
      SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster,
             (src = least(src, min(dst))) AS is_canonical
      FROM reach GROUP BY src ORDER BY doc_id""") { (s, d) =>
    Dedup.connectedComponents(TextQueries.sharedMinhashPairs(s, d))
      .select(col("id").as("doc_id"), col("lbl").as("cluster"),
        (col("id") === col("lbl")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling for training-mix control:
   * downsample en to 40% and fr to 70% (integer basis-point thresholds —
   * FP-exact in every engine), keep the rest — decisions are
   * md5-hash-derived from doc_id (reproducible at any scale or
   * partitioning, no rand()). Oracle replays the hash-mod arithmetic. */
  val q61SampleMix: Q = Q("q61_sample_mix",
    """WITH k AS (SELECT lang,
         ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 10000 AS u,
         CASE WHEN lang = 'en' THEN 4000 WHEN lang = 'fr' THEN 7000 ELSE 10000 END AS rate_bp
       FROM documents)
       SELECT lang, count(*) AS n_total,
              count(*) FILTER (WHERE u < rate_bp) AS n_sampled
       FROM k GROUP BY lang ORDER BY lang""") { (s, d) =>
    val rateBp = when(col("lang") === "en", 4000L)
      .when(col("lang") === "fr", 7000L).otherwise(10000L)
    table(s, d, "documents")
      .withColumn("kept", Curation.samplingKey(col("doc_id")) < rateBp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), count(when(col("kept"), 1)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Per-language top-10 vocabulary by token frequency (deterministic
   * tiebreak on the token) — map-side partial counts absorb hot-token
   * skew before the single shuffle; the top-k window runs on the
   * vocabulary-sized aggregate, never the corpus. */
  val q62VocabTopK: Q = Q("q62_vocab_topk",
    """WITH t AS (SELECT lang,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
       FROM documents),
      c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY lang, token)
      SELECT lang, token, CAST(n AS BIGINT) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      FROM c QUALIFY rank <= 10 ORDER BY lang, rank""") { (s, d) =>
    Curation.vocabTopK(table(s, d, "documents"), "lang", 10)
      .orderBy("lang", "rank")
  }

  /** Benchmark decontamination: treat source src0 as the eval set; flag
   * corpus docs sharing >= 5 distinct 3-shingles (by 60-bit md5 hash)
   * with ANY benchmark doc. The benchmark side collapses to a distinct
   * hash set before the semi join (AQE broadcasts it when it fits, so
   * the 100 TB corpus streams past it map-side); `source` rides the
   * counting aggregate as a carry column, so the plan scans documents
   * exactly twice (corpus + bench side) with no re-attach join. */
  val q63Contamination: Q = Q("q63_contamination",
    """WITH tok AS (SELECT doc_id, source,
         string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
      sh AS (SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
                      k -> w[k]||' '||w[k+1]||' '||w[k+2]))) AS s
             FROM tok WHERE len(w) >= 3),
      h AS (SELECT doc_id, source, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM sh),
      bench AS (SELECT DISTINCT h FROM h WHERE source = 'src0'),
      hits AS (SELECT a.doc_id, a.source, count(DISTINCT a.h) AS n_shared
               FROM h a JOIN bench b ON a.h = b.h
               WHERE a.source <> 'src0' GROUP BY 1, 2)
      SELECT source, count(*) AS n_contaminated, CAST(max(n_shared) AS BIGINT) AS max_shared
      FROM hits WHERE n_shared >= 5 GROUP BY source ORDER BY source""") { (s, d) =>
    val docs = table(s, d, "documents")
      .filter(size(TextAnalysis.tokens(col("text"))) >= 3)
    Curation.contaminated(
      corpus = docs.filter(col("source") =!= "src0"),
      benchmark = docs.filter(col("source") === "src0"), minShingles = 5,
      carryCols = Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_contaminated"), max("n_shared").as("max_shared"))
      .orderBy("source")
  }

  /** PII scrubbing surface over the one PII-bearing table: digit
   * masking with an audit count, consistent pseudonymization (same
   * identity → same token, so joins survive scrubbing), and
   * k-anonymity-style numeric bucketing. Pure map-side — scrubbing
   * never shuffles. */
  val q64PiiScrub: Q = Q("q64_pii_scrub",
    """SELECT c_custkey,
              regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
              CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT) AS n_redacted,
              'u_'||substr(md5(c_name), 1, 12) AS pseudonym,
              CAST(floor(c_acctbal / 1000.0) * 1000.0 AS DOUBLE) AS acctbal_bucket
       FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""") { (s, d) =>
    table(s, d, "customer")
      .filter(col("c_custkey") < 50)
      .select(col("c_custkey"),
        Curation.maskDigits(col("c_name")).as("name_masked"),
        Curation.digitsRedacted(col("c_name")).as("n_redacted"),
        Curation.pseudonym(col("c_name")).as("pseudonym"),
        Curation.bucketize(col("c_acctbal"), 1000.0).as("acctbal_bucket"))
      .orderBy("c_custkey")
  }

  /** Skew-safe salted aggregation proven semantics-preserving: the
   * two-phase (key, salt) partial → key final aggregate must hash-match
   * the oracle's PLAIN GROUP BY. Quantities are integer-valued (exact
   * under any addition order); money routes through DECIMAL partials so
   * the salted re-association cannot change the result. */
  val q65SaltedAgg: Q = Q("q65_salted_agg",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base,
              CAST(count(*) AS BIGINT) AS n
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    graft.ops.Relational.saltedAggregate(
      table(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"), salts = 16,
      partialAggs = Seq(
        sum("l_quantity").as("pq"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).as("pb"),
        count(lit(1)).as("pn")),
      finalAggs = Seq(
        round(sum("pq"), 2).as("sum_qty"),
        round(sum("pb"), 2).cast("double").as("sum_base"),
        sum("pn").as("n")))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Streaming ingestion dedup driven to completion on the harness
   * corpus — the curation front door's stream path exercised on real
   * data, not only the synthetic spec. The oracle recomputes the
   * expected survivor count (distinct content fingerprints) directly in
   * SQL, and `matches_batch` asserts the surviving fingerprint set is
   * EXACTLY the batch exactDedup's (both `exceptAll` directions empty),
   * so stream≡batch parity is itself hash-checked. */
  val q67StreamDedup: Q = Q("q67_stream_dedup",
    """SELECT CAST(count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_unique,
              TRUE AS matches_batch
       FROM documents""") { (s, d) =>
    val streamed = graft.streaming.StreamingDedup.runDocDedupToBatch(s, d)
      .localCheckpoint()
    val batch = Dedup.exactDedup(table(s, d, "documents"))
    val sFp = streamed.select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val bFp = batch.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .localCheckpoint() // referenced twice below; dedup runs once
    // both sides are fingerprint-distinct by construction, so equal
    // counts + one empty set-difference proves set equality — and all
    // three probes land in ONE tagged job (was 3 actions)
    val c = Checks.counts(Seq(sFp, bFp, sFp.except(bFp)))
    val matches = c(0) == c(1) && c(2) == 0
    streamed.agg(count(lit(1)).as("n_unique"))
      .select(col("n_unique"), lit(matches).as("matches_batch"))
  }

  /** Stateful streaming sessionization (flatMapGroupsWithState, event-
   * time timeout) driven to completion on the harness events — the
   * custom-state twin of q55 exercised on real data. Emitted sessions
   * must EXACTLY match batch sessions (hash-gated subset verdict), and
   * every session that provably closed before the final watermark
   * (ended > 2 gaps + slop before the last event) must have been
   * emitted — sessions still open at end-of-stream legitimately stay in
   * state, as on a live stream. */
  val q68StreamSessions: Q = Q("q68_stream_sessions",
    """SELECT * FROM (VALUES
         ('closed_sessions_all_emitted', TRUE),
         ('stream_nonempty', TRUE),
         ('stream_subset_of_batch', TRUE)) t(chk, ok)
       ORDER BY chk""") { (s, d) =>
    val gapMin = 30
    val events = table(s, d, "events")
    val batch = graft.ops.Sessionize.sessionizeBatch(events, gapMinutes = gapMin)
      .select("user_id", "start_epoch", "end_epoch", "n_events")
      .localCheckpoint()
    val streamed = graft.ops.Sessionize.runStreamToBatch(s, d, gapMinutes = gapMin)
      .select("user_id", "start_epoch", "end_epoch", "n_events")
      .localCheckpoint()
    val maxTs = events.agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
    // a session whose last event precedes the final watermark by more
    // than one gap (+60s boundary slop) must have timed out and been
    // emitted; anything younger may legitimately still be open state
    val closedHorizon = maxTs - 2L * gapMin * 60 - 60
    // three gate probes in ONE tagged job (was 3 actions)
    val c = Checks.counts(Seq(
      streamed.except(batch),
      batch.filter(col("end_epoch") < closedHorizon).except(streamed),
      streamed))
    val subset = c(0) == 0
    val closedEmitted = c(1) == 0
    val nonempty = c(2) > 0
    s.range(1).select(
      lit(closedEmitted).as("closed_sessions_all_emitted"),
      lit(nonempty).as("stream_nonempty"),
      lit(subset).as("stream_subset_of_batch"))
      .selectExpr("""stack(3,
        'closed_sessions_all_emitted', closed_sessions_all_emitted,
        'stream_nonempty', stream_nonempty,
        'stream_subset_of_batch', stream_subset_of_batch) AS (chk, ok)""")
      .orderBy("chk")
  }

  /** Gopher-style repetition quality signal: fraction of a document's
   * 3-shingles taken by its single most repeated one — the standard
   * looping-document filter axis, hash-checked per doc. */
  val q74Repetition: Q = Q("q74_repetition",
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents),
       sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
                     k -> w[k]||' '||w[k+1]||' '||w[k+2])) AS g
              FROM tok WHERE len(w) >= 3),
       c AS (SELECT doc_id, g, count(*) AS c FROM sh GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
              CAST(max(c) AS BIGINT) AS max_rep,
              round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS rep_ratio
       FROM c WHERE doc_id < 100 GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    Curation.repetitionStats(
      table(s, d, "documents")
        .filter(col("doc_id") < 100)
        .filter(size(TextAnalysis.tokens(col("text"))) >= 3))
      .orderBy("doc_id")
  }

  private val stopListSql =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** The q32 quality-score spelling as a reusable SQL fragment. */
  private val qualitySql =
    s"""round(least(length(text) / 500.0, 1.0) * 0.5
         + least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE) * 20.0, 1.0) * 0.2
         + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           w -> w IN ($stopListSql))) AS DOUBLE)
                 / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)
                 * 4.0, 1.0) * 0.3, 4)"""

  /** Preference-PAIR construction for reward-model / DPO data prep:
   * within each (source, lang) stratum, the top-quality document is
   * the `chosen` and the bottom-quality one the `rejected` (ties →
   * smallest id, the argmax/argmin picked-rank recipe), emitted with
   * the quality margin. Two keyed windows over the scored table — no
   * self-join, no global sort; degenerate single-doc strata drop
   * (chosen must differ from rejected). */
  val q269PreferencePairs: Q = Q("q269_preference_pairs",
    s"""WITH qs AS (SELECT doc_id, source, lang, $qualitySql AS q FROM documents),
       r AS (SELECT doc_id, source, lang, q,
               row_number() OVER (PARTITION BY source, lang ORDER BY q DESC, doc_id) AS rc,
               row_number() OVER (PARTITION BY source, lang ORDER BY q ASC, doc_id) AS rr
             FROM qs),
       ch AS (SELECT source, lang, doc_id AS chosen_id, q AS chosen_q FROM r WHERE rc = 1),
       rj AS (SELECT source, lang, doc_id AS rejected_id, q AS rejected_q FROM r WHERE rr = 1)
       SELECT ch.source, ch.lang, chosen_id, rejected_id, chosen_q, rejected_q,
              round(chosen_q - rejected_q, 4) AS margin
       FROM ch JOIN rj ON ch.source = rj.source AND ch.lang = rj.lang
       WHERE chosen_id <> rejected_id
       ORDER BY ch.source, ch.lang""") { (s, d) =>
    val qs = table(s, d, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"))
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy("source", "lang")
      .orderBy(col("q").desc, col("doc_id").asc)
    val wR = Window.partitionBy("source", "lang")
      .orderBy(col("q").asc, col("doc_id").asc)
    val r = qs.withColumn("rc", row_number().over(wC))
      .withColumn("rr", row_number().over(wR))
      .localCheckpoint() // chosen + rejected sides read it
    val ch = r.filter(col("rc") === 1).select(col("source"), col("lang"),
      col("doc_id").as("chosen_id"), col("q").as("chosen_q"))
    val rj = r.filter(col("rr") === 1).select(col("source"), col("lang"),
      col("doc_id").as("rejected_id"), col("q").as("rejected_q"))
    ch.join(rj, Seq("source", "lang"))
      .filter(col("chosen_id") =!= col("rejected_id"))
      .select(col("source"), col("lang"), col("chosen_id"),
        col("rejected_id"), col("chosen_q"), col("rejected_q"),
        round(col("chosen_q") - col("rejected_q"), 4).as("margin"))
      .orderBy("source", "lang")
  }

  /** Context-length bucketing for batched inference/training: each doc
   * lands in the smallest power-of-two token bucket that holds it, and
   * per bucket the report carries doc count, token sum, and the
   * padding waste in ppm ((n·bucket − Σtokens)·10⁶ div (n·bucket)) —
   * the batching-efficiency number that decides whether sequence
   * packing (q81) is worth running. The bucket is the CLOSED-FORM next
   * power of two (floored at 32): candidate 2^ceil(log2(n)) plus an
   * integer self-correction CASE, so a float log2 landing a hair above
   * an exact power can never mis-bucket — every doc fits its bucket
   * for any length, and padding_waste_ppm is provably non-negative.
   * Pure map-side arithmetic + one aggregate; all integers. */
  val q270LengthBuckets: Q = Q("q270_length_buckets",
    """WITH t AS (SELECT CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
                  FROM documents),
       c AS (SELECT n_tok,
               CAST(pow(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT) AS b0
             FROM t),
       b AS (SELECT n_tok,
               greatest(CAST(32 AS BIGINT),
                 CASE WHEN b0 // 2 >= n_tok THEN b0 // 2
                      WHEN b0 >= n_tok THEN b0 ELSE b0 * 2 END) AS bucket
             FROM c)
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
              CAST((CAST(count(*) * bucket AS BIGINT) - CAST(sum(n_tok) AS BIGINT)) * 1000000
                // CAST(count(*) * bucket AS BIGINT) AS BIGINT) AS padding_waste_ppm
       FROM b GROUP BY bucket ORDER BY bucket""") { (s, d) =>
    val n = TextAnalysis.tokenCount(col("text")).cast("long")
    table(s, d, "documents")
      .select(n.as("n_tok"))
      .withColumn("b0", expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(ceil(log2(greatest(n_tok, CAST(1 AS BIGINT)))) AS INT))"))
      .withColumn("bucket", expr(
        """greatest(CAST(32 AS BIGINT),
           CASE WHEN b0 div 2 >= n_tok THEN b0 div 2
                WHEN b0 >= n_tok THEN b0 ELSE b0 * 2 END)"""))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        expr("(n_docs * bucket - sum_tokens) * 1000000 div (n_docs * bucket)")
          .as("padding_waste_ppm"))
      .orderBy("bucket")
  }

  /** LEARNED quality classifier beside the heuristics
   * ([[graft.ml.QualityLr]]): logistic regression over the engine's own
   * SQL-replayable text features, trained driver-side on a bounded
   * deterministic hash sample of planted fixtures — label 1 = the real
   * document, label 0 = a degraded twin (lowercased, vowels and
   * sentence punctuation stripped: shorter, punctuation-free,
   * stopword-free), ids interleaved 2·doc_id / 2·doc_id+1 so the
   * id-ordered collect is stable. Scoring is map-side: the fitted
   * weights return as LITERALS in a sigmoid Column (codegen'd — no
   * UDF, no model broadcast), which is how the filter runs over 100 TB.
   * Gates: bit-identical refit (full-batch GD, no RNG), train-sample
   * AUC ≥ 0.9 (measured 0.996), per-row formula replay on the sample —
   * the linear term b + w·x bit-exact (same fold order, same IEEE
   * add/multiply ops), the sigmoid within 4 ulp (HotSpot's Math.exp intrinsic
   * may round differently in codegen'd task code than on the driver) —
   * corpus-wide scores in (0,1), and class separation ≥ 0.2 on the
   * FULL labeled corpus through the map-side expression. */
  val q274QualityLr: Q = Q("q274_quality_lr",
    """SELECT * FROM (VALUES
         ('auc_floor', TRUE), ('deterministic', TRUE),
         ('formula_exact', TRUE), ('scores_in_range', TRUE),
         ('separation', TRUE)) t(chk, ok)
       ORDER BY chk""") { (s, d) =>
    import graft.ml.QualityLr
    val docs = table(s, d, "documents")
    val neg = regexp_replace(lower(col("text")), "[aeiou.,;:!?]", "")
    val labeled = docs.select((col("doc_id") * 2).as("id"),
        col("text"), lit(1.0).as("label"))
      .unionAll(docs.select((col("doc_id") * 2 + 1).as("id"),
        neg.as("text"), lit(0.0).as("label")))
      .localCheckpoint() // sample collect + 2 corpus-wide gates read it
    // bounded deterministic hash sample (the Ivf trainSample contract)
    val total = labeled.count()
    val cap = 8192L
    val bp = if (total <= cap) 10000L else math.max(1L, cap * 10000L / total)
    val sampleDf = labeled
      .filter(Curation.samplingKey(col("id")) < lit(bp))
      .select(col("id"), col("label"), col("text"),
        array(QualityLr.features(col("text")): _*).as("x"))
      .orderBy("id")
    def collectXY() = {
      val rows = sampleDf.collect()
      (rows.map(_.getSeq[Double](3).toArray), rows.map(_.getDouble(1)))
    }
    val (xs, ys) = collectXY()
    val m1 = QualityLr.fit(xs, ys)
    val (xs2, ys2) = collectXY()
    val m2 = QualityLr.fit(xs2, ys2)
    val deterministic = m1.bias == m2.bias && m1.w.sameElements(m2.w)
    val aucOk = QualityLr.auc(xs.map(m1.score), ys) >= 0.9
    // Column score vs driver arithmetic, row by row on the sample. The
    // LINEAR part (b + w·x: only +/*, same fold order) must match bit
    // for bit; the sigmoid gets a 4-ulp envelope because HotSpot's
    // Math.exp INTRINSIC may round 1 ulp differently in codegen'd task
    // code than in driver bytecode (measured: ≤1 ulp on 37/1000 rows).
    val zCol = QualityLr.features(col("text")).zip(m1.w.toIndexedSeq)
      .map { case (f, wj) => f * lit(wj) }
      .foldLeft(lit(m1.bias): org.apache.spark.sql.Column)(_ + _)
    val pairs = sampleDf
      .withColumn("z", zCol).withColumn("sc", m1.scoreCol(col("text")))
      .select("z", "sc").collect()
    val formulaExact = pairs.zip(xs).forall { case (r, x) =>
      var z = m1.bias; var j = 0
      while (j < x.length) { z += m1.w(j) * x(j); j += 1 }
      val sc = 1.0 / (1.0 + math.exp(-z))
      r.getDouble(0) == z && math.abs(r.getDouble(1) - sc) <= 4 * math.ulp(sc)
    }
    val gates = labeled.withColumn("sc", m1.scoreCol(col("text")))
      .agg(
        bool_and(col("sc") > 0.0 && col("sc") < 1.0).as("in_range"),
        (avg(when(col("label") === 1.0, col("sc"))) -
          avg(when(col("label") === 0.0, col("sc"))) >= 0.2).as("sep"))
      .collect()(0)
    Q.gateReport(s, ("auc_floor", aucOk), ("deterministic", deterministic),
      ("formula_exact", formulaExact),
      ("scores_in_range", gates.getBoolean(0)),
      ("separation", gates.getBoolean(1)))
  }

  /** STREAMING near-dup ingest against the persisted MinHash index
   * ([[graft.streaming.StreamingDedup.runNearDupIngestToBatch]]) — the
   * "new data arrives" path of the dedup pipeline: the corpus
   * band-bucket index is built once (parent session, Scratch-persisted,
   * read by path from the streaming child), each arriving doc computes
   * its 4 band keys map-side inside the micro-batch and equi-joins the
   * static index (stream-static, stateless, never all-pairs), and the
   * drained candidates verify exact shingle-Jaccard with the native
   * sorted-merge kernel — flag on arrival, confirm before dropping.
   * The oracle replays the whole composition in batch SQL (band chain
   * from q36's CTEs, both pair orientations — each arrival probes the
   * corpus — then the integer-ppm Jaccard), so stream ≡ batch holds by
   * hash. */
  val q279StreamNearDup: Q = Q("q279_stream_neardup",
    s"""WITH ${TextQueries.minhashPairCtes},
       ap AS (SELECT i, j, n_bands FROM pairs
              UNION ALL SELECT j, i, n_bands FROM pairs),
       sl AS (SELECT doc_id,
                list_sort(list_distinct(list_transform(
                  list_transform(range(1, greatest(len(w)-1, 1)),
                    k -> w[k]||' '||w[k+1]||' '||w[k+2]),
                  t -> ('0x'||substr(md5(t),1,15))::BIGINT))) AS hs
              FROM tok WHERE len(w) >= 3),
       vr AS (SELECT ap.i, ap.j, CAST(ap.n_bands AS BIGINT) AS n_bands,
                CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) * 1000000
                  // (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jac_ppm
              FROM ap JOIN sl a ON a.doc_id = ap.i JOIN sl b ON b.doc_id = ap.j)
       SELECT i, j, n_bands, jac_ppm FROM vr WHERE jac_ppm >= 500000
       ORDER BY i, j""") { (s, d) =>
    import org.apache.spark.sql.graft.ColumnBridge
    val cand = graft.streaming.StreamingDedup.runNearDupIngestToBatch(s, d)
    val w = TextAnalysis.tokens(col("text"))
    val shingleHashes = ColumnBridge.column(graft.functions.Md5LongArray(
      ColumnBridge.expression(ColumnBridge.column(graft.functions.ShinglesK(
        ColumnBridge.expression(w), 3)))))
    val sl = table(s, d, "documents").filter(size(w) >= 3)
      .select(col("doc_id"), array_sort(array_distinct(shingleHashes)).as("hs"))
      .localCheckpoint() // i-side and j-side verify joins both read it
    val interCol = ColumnBridge.column(graft.functions.SortedLongIntersectCount(
      ColumnBridge.expression(col("ha")), ColumnBridge.expression(col("hb"))))
    cand
      .join(sl.select(col("doc_id").as("i"), col("hs").as("ha")), Seq("i"))
      .join(sl.select(col("doc_id").as("j"), col("hs").as("hb")), Seq("j"))
      .withColumn("inter", interCol.cast("long"))
      .withColumn("jac_ppm", expr(
        "inter * 1000000 div (size(ha) + size(hb) - inter)"))
      .filter(col("jac_ppm") >= 500000)
      .select(col("i"), col("j"), col("n_bands"), col("jac_ppm"))
      .orderBy("i", "j")
  }

  /** URL parsing + registrable-domain extraction against planted URLs
   * (the q259 fixture pattern on strings): documents seed full URLs —
   * multi-label subdomains, two-part public suffixes (co.uk/gov.co),
   * ports, varying path depth, optional query strings — and
   * [[Curation.urlProfile]] must recover host / eTLD+1 / path depth /
   * query presence from the STRING ALONE (native `parse_url`, no UDF)
   * while the oracle predicts every field from the generating
   * arithmetic. The naive last-two-labels rule would return `co.uk`
   * for the subdomained two-part-suffix hosts — those rows are the
   * point. */
  val q285UrlProfile: Q = Q("q285_url_profile",
    """SELECT doc_id,
       (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.img.' ELSE '' END)
         || 'site' || CAST(doc_id % 50 AS VARCHAR) || '.'
         || (CASE doc_id % 5 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'org'
             WHEN 2 THEN 'io' WHEN 3 THEN 'com' ELSE 'gov.co' END) AS host,
       'site' || CAST(doc_id % 50 AS VARCHAR) || '.'
         || (CASE doc_id % 5 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'org'
             WHEN 2 THEN 'io' WHEN 3 THEN 'com' ELSE 'gov.co' END)
         AS registrable_domain,
       CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 3 END AS BIGINT)
         AS path_depth,
       doc_id % 4 = 0 AS has_query
       FROM documents ORDER BY doc_id""") { (s, d) =>
    val url = concat(lit("https://"),
      when(col("doc_id") % 4 === 0, "www.")
        .when(col("doc_id") % 4 === 1, "cdn.img.").otherwise(""),
      lit("site"), (col("doc_id") % 50).cast("string"), lit("."),
      when(col("doc_id") % 5 === 0, "co.uk")
        .when(col("doc_id") % 5 === 1, "org")
        .when(col("doc_id") % 5 === 2, "io")
        .when(col("doc_id") % 5 === 3, "com").otherwise("gov.co"),
      when(col("doc_id") % 7 === 0, ":8080").otherwise(""),
      when(col("doc_id") % 3 === 1, "/docs")
        .when(col("doc_id") % 3 === 2, "/docs/archive/2024").otherwise(""),
      when(col("doc_id") % 4 === 0, "?q=spark&lang=en").otherwise(""))
    // the profile sees ONLY (doc_id, url) — parsing is the work
    val seeded = table(s, d, "documents").select(col("doc_id"), url.as("url"))
    Curation.urlProfile(seeded, col("url"))
      .select("doc_id", "host", "registrable_domain", "path_depth", "has_query")
      .orderBy("doc_id")
  }

  /** Dedup funnel report — the per-gate catch table every corpus
   * pipeline publishes: how many items each dedup tier would remove,
   * independently, over the same corpus. Exact (whitespace-normalized
   * md5), MinHash-LSH (shared candidate pairs → connected components;
   * removed = members − clusters), SimHash (Hamming ≤ 3 pairs →
   * components) — and, round 9, the IMAGE tier beside the text tiers:
   * q275's planted-twin media corpus fingerprinted by dHash56,
   * pigeonhole-blocked pairs at Hamming ≤ 3, same component closure
   * (each tier reports against its own item universe — documents for
   * the text tiers, media blobs for dhash — so the ppm columns are
   * comparable gate rates). One documents scan (localCheckpoint feeds
   * exact + SimHash + the media build) plus the shared scratch pair
   * table; the oracle replays ALL THREE cluster closures with
   * recursive CTEs over the identical pair chains. */
  val q287DedupFunnel: Q = Q("q287_dedup_funnel",
    s"""WITH RECURSIVE ${TextQueries.minhashPairCtes},
      medges AS (SELECT i AS a, j AS b FROM pairs
                 UNION ALL SELECT j AS a, i AS b FROM pairs),
      mreach(src, dst) AS (
        SELECT a, b FROM medges
        UNION
        SELECT r.src, e.b FROM mreach r JOIN medges e ON r.dst = e.a),
      mcl AS (SELECT src, least(src, min(dst)) AS c FROM mreach GROUP BY src),
      wtok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
               FROM documents),
      whash AS (SELECT doc_id,
                  unnest(list_transform(w, t -> ('0x'||substr(md5(t),1,15))::BIGINT)) AS h
                FROM wtok),
      wbits AS (SELECT doc_id, b,
                  sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
                FROM whash CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
      wfp AS (SELECT doc_id,
                CAST(sum(CASE WHEN cnt > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
              FROM wbits GROUP BY doc_id),
      wch AS (SELECT doc_id, fp, c AS ci, (fp >> (c * 15)) & 32767 AS cv
              FROM wfp CROSS JOIN range(4) r(c)),
      wpairs AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM wch a JOIN wch b
                   ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.fp, b.fp)) <= 3),
      wedges AS (SELECT i AS a, j AS b FROM wpairs
                 UNION ALL SELECT j AS a, i AS b FROM wpairs),
      wreach(src, dst) AS (
        SELECT a, b FROM wedges
        UNION
        SELECT r.src, e.b FROM wreach r JOIN wedges e ON r.dst = e.a),
      wcl AS (SELECT src, least(src, min(dst)) AS c FROM wreach GROUP BY src),
      del AS (SELECT doc_id, text FROM documents
              WHERE length(text) = octet_length(encode(text))
                AND octet_length(encode(text)) >= 160),
      dm AS (SELECT doc_id * 2 AS media_id, text AS txt FROM del
             UNION ALL
             SELECT doc_id * 2 + 1,
                    concat(substring(text, 1, 1), '#', substring(text, 3))
             FROM del),
      dh AS MATERIALIZED (SELECT media_id,
             ${graft.multimodal.Multimodal.dhashSql("txt")} AS dhash
           FROM dm),
      dpairs AS (SELECT a.media_id AS i, b.media_id AS j
                 FROM dh a JOIN dh b ON a.media_id < b.media_id
                 WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
      dedges AS (SELECT i AS a, j AS b FROM dpairs
                 UNION ALL SELECT j AS a, i AS b FROM dpairs),
      dreach(src, dst) AS (
        SELECT a, b FROM dedges
        UNION
        SELECT r.src, e.b FROM dreach r JOIN dedges e ON r.dst = e.a),
      dcl AS (SELECT src, least(src, min(dst)) AS c FROM dreach GROUP BY src),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      dtot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dm),
      f AS (
        SELECT 'exact' AS tier, (SELECT n FROM tot) AS n_items,
               CAST((SELECT count(*) - count(DISTINCT
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
                 FROM documents) AS BIGINT) AS n_removed
        UNION ALL
        SELECT 'minhash', (SELECT n FROM tot),
               CAST((SELECT count(*) - count(DISTINCT c) FROM mcl) AS BIGINT)
        UNION ALL
        SELECT 'simhash', (SELECT n FROM tot),
               CAST((SELECT count(*) - count(DISTINCT c) FROM wcl) AS BIGINT)
        UNION ALL
        SELECT 'dhash', (SELECT n FROM dtot),
               CAST((SELECT count(*) - count(DISTINCT c) FROM dcl) AS BIGINT))
      SELECT tier, n_items, n_removed,
             n_removed * 1000000 // n_items AS removed_ppm
      FROM f ORDER BY tier""") { (s, d) =>
    import graft.multimodal.Multimodal
    val docs = table(s, d, "documents").localCheckpoint()
    val tot = docs.agg(count(lit(1)).as("n_items"))
    val exact = docs
      .select(md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"))
      .agg((count(lit(1)) - countDistinct(col("h"))).as("n_removed"))
      .select(lit("exact").as("tier"), col("n_removed"))
      .crossJoin(broadcast(tot))
    def ccRemoved(name: String, pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs)
        .agg((count(lit(1)) - countDistinct(col("lbl"))).as("n_removed"))
        .select(lit(name).as("tier"), col("n_removed"))
    val mh = ccRemoved("minhash", TextQueries.sharedMinhashPairs(s, d))
      .crossJoin(broadcast(tot))
    val sh = ccRemoved("simhash", Dedup.simhashCandidates(docs, maxDist = 3))
      .crossJoin(broadcast(tot))
    // image tier: q275's planted-twin media corpus through the dHash56
    // pigeonhole blocks, closed into components like the text tiers
    val el = docs.filter(length(col("text")) === octet_length(col("text")) &&
      octet_length(col("text")) >= 160)
    val twin = concat(substring(col("text"), 1, 1), lit("#"),
      substring(col("text"), 3, Int.MaxValue))
    val media = el.select((col("doc_id") * 2).as("media_id"),
        encode(col("text"), "utf-8").as("blob"))
      .unionAll(el.select((col("doc_id") * 2 + 1).as("media_id"),
        encode(twin, "utf-8").as("blob")))
    val hashed = Multimodal.withDhash(media).localCheckpoint()
    val dhTier = ccRemoved("dhash",
      Multimodal.phashCandidates(hashed, maxDist = 3).select(col("i"), col("j")))
      .crossJoin(broadcast(hashed.agg(count(lit(1)).as("n_items"))))
    broadcast(exact.unionByName(mh).unionByName(sh).unionByName(dhTier))
      .select(col("tier"), col("n_items"), col("n_removed"),
        expr("n_removed * 1000000 div n_items").as("removed_ppm"))
      .orderBy("tier")
  }

  /** Deterministic per-epoch training shuffle: the ordering key is
   * md5(epoch:doc_id) — reproducible at any partitioning and cluster
   * size (no rand(), no zipWithIndex), different per epoch, and
   * writable as a sort column so the epoch writer just
   * range-partitions on it. The probe emits each epoch's first 20
   * documents; per epoch that plans as TakeOrdered (distributed
   * top-k), NOT a global sort — the 100 TB path materializes the key
   * and lets the write sort, it never collects an ordering. Oracle
   * replays the hash and the rank. */
  val q290EpochShuffle: Q = Q("q290_epoch_shuffle",
    """WITH k AS (SELECT CAST(e AS INTEGER) AS epoch, doc_id,
         ('0x'||substr(md5(CAST(e AS VARCHAR)||':'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
       FROM documents CROSS JOIN range(3) r(e)),
       t AS (SELECT epoch, doc_id, h,
               row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
             FROM k)
       SELECT epoch, pos, doc_id, h FROM t WHERE pos <= 20
       ORDER BY epoch, pos""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, d, "documents").select("doc_id").localCheckpoint()
    val perEpoch = (0 until 3).map { e =>
      docs.select(lit(e).as("epoch"), col("doc_id"),
        graft.ops.Exprs.md5Long(
          concat(lit(e.toString), lit(":"), col("doc_id").cast("string")))
          .as("h"))
        .orderBy(col("h"), col("doc_id")).limit(20) // TakeOrdered, no sort
    }
    val top = perEpoch.reduce(_ unionAll _).localCheckpoint() // 60 rows
    top.withColumn("pos", row_number().over(
        Window.partitionBy("epoch").orderBy(col("h"), col("doc_id"))).cast("long"))
      .select("epoch", "pos", "doc_id", "h")
      .orderBy("epoch", "pos")
  }

  /** Cumulative inverse-CDF ladder of the TRUNCATED two-sided geometric
   * (discrete Laplace) with α = 1/2 (ε = ln 2 per released count),
   * support clamped to [−8, 8] with the tail mass folded into the
   * clamp: P(0) = 256/768, P(±k) = 2^(8−k)/768 for 1 ≤ k ≤ 7,
   * P(±8) = 2/768. Exact rational thresholds in 768ths, shared
   * verbatim by the Spark plan and the oracle — (cum_threshold,
   * noise). */
  private[graft] val dpLadder: Seq[(Long, Long)] = {
    val masses = (-8 to 8).map { k =>
      val m = if (math.abs(k) == 8) 2L
              else if (k == 0) 256L else 256L >> math.abs(k)
      (k.toLong, m)
    }
    masses.scanLeft((0L, 0L)) { case ((_, cum), (k, m)) => (k, cum + m) }
      .tail.map { case (k, cum) => (cum, k) }
  }

  /** Differentially-private group-count release: per (orderpriority,
   * orderstatus) order counts plus two-sided-geometric noise (the
   * discrete Laplace mechanism for sensitivity-1 counting queries,
   * ε = ln 2) — SEEDED, so the release is reproducible run to run and
   * the oracle replays it bit-exactly: the per-group uniform draw is
   * the 60-bit md5 of a salted group key taken mod 768, mapped through
   * the exact rational inverse-CDF ladder [[dpLadder]]. Truncation at
   * ±8 (tail mass folded into the clamp) is the standard bounded-noise
   * engineering variant; the 2^60-mod-768 residue bias is ~2^-52 —
   * both documented, both deterministic. Pure map-side after one keyed
   * count; the `noise` column is emitted for auditability here — a
   * production release would drop it (and the seed). */
  val q294DpCounts: Q = Q("q294_dp_counts",
    s"""WITH g AS (SELECT o_orderpriority, o_orderstatus,
              CAST(count(*) AS BIGINT) AS n
            FROM orders
            WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
            GROUP BY 1, 2),
       u AS (SELECT o_orderpriority, o_orderstatus, n,
               ${graft.ops.Exprs.md5LongSql.format(
                 "'dp1:'||o_orderpriority||':'||o_orderstatus")} % 768 AS v
             FROM g),
       nz AS (SELECT o_orderpriority, o_orderstatus, n,
                CAST(CASE ${dpLadder.init.map { case (c, k) =>
                  s"WHEN v < $c THEN $k" }.mkString(" ")}
                     ELSE 8 END AS BIGINT) AS noise
              FROM u)
       SELECT o_orderpriority, o_orderstatus, n + noise AS noisy_count, noise
       FROM nz ORDER BY o_orderpriority, o_orderstatus""") { (s, d) =>
    val v = graft.ops.Exprs.md5Long(
      concat_ws(":", lit("dp1"), col("o_orderpriority"), col("o_orderstatus"))) % 768
    val noise = dpLadder.init.foldRight(lit(8L)) { case ((c, k), acc) =>
      when(col("v") < c, lit(k)).otherwise(acc)
    }
    table(s, d, "orders")
      .filter(col("o_orderpriority").isNotNull && col("o_orderstatus").isNotNull)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .withColumn("v", v)
      .withColumn("noise", noise)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        (col("n") + col("noise")).as("noisy_count"), col("noise"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  /** Cross-source duplicate-flow matrix — "which crawls duplicate each
   * other": the shared MinHash near-dup pair table (built once per run,
   * io/Scratch) joined twice against the doc→source projection and
   * rolled up per UNORDERED source pair, with the within-source count
   * on the diagonal. The curation report that decides which source to
   * drop when two overlap heavily. Pair-table-sized work only — the
   * corpus is touched once for the (doc_id, source) projection. */
  val q314DupFlows: Q = Q("q314_dup_flows",
    s"""WITH ${TextQueries.minhashPairCtes},
       src AS (SELECT doc_id, source FROM documents),
       m AS (SELECT least(a.source, b.source) AS source_a,
                    greatest(a.source, b.source) AS source_b
             FROM pairs
             JOIN src a ON a.doc_id = pairs.i
             JOIN src b ON b.doc_id = pairs.j)
       SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
              (source_a = source_b) AS within_source
       FROM m GROUP BY 1, 2 ORDER BY source_a, source_b""") { (s, d) =>
    val src = table(s, d, "documents").select(col("doc_id"), col("source"))
    TextQueries.sharedMinhashPairs(s, d)
      .join(src.select(col("doc_id").as("i"), col("source").as("sa")), "i")
      .join(src.select(col("doc_id").as("j"), col("source").as("sb")), "j")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("source_a") === col("source_b"))
      .orderBy("source_a", "source_b")
  }

  // ----------------------------------------------- dataset card (CUBE)

  /** Dataset-card rollup via CUBE (lang × source): every grouping-set
   * combination — per cell, the margins, and the grand total — in ONE
   * pass over the corpus (Spark plans CUBE as a single Expand +
   * aggregate, not 4 scans). Rolled-up dimensions print as '(all)' and
   * the grouping id is emitted explicitly (lang = MSB, matching both
   * engines' GROUPING bit order), so the row provenance is part of the
   * hash check. This is the "dataset card" table an LLM-data release
   * ships: doc counts, whitespace-token totals, char totals, per
   * language × source slice. */
  val q305DatasetCard: Q = Q("q305_dataset_card",
    """WITH b AS (SELECT lang, source,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
             n_chars
           FROM documents WHERE text IS NOT NULL)
       SELECT CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang_g,
              CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source_g,
              CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM b GROUP BY CUBE (lang, source)
       ORDER BY gid, lang_g, source_g""") { (s, d) =>
    table(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("lang"), col("source"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tok"),
        col("n_chars"))
      .cube("lang", "source")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("sum_chars"))
      .select(
        when(col("gid").bitwiseAND(2) > 0, lit("(all)"))
          .otherwise(col("lang")).as("lang_g"),
        when(col("gid").bitwiseAND(1) > 0, lit("(all)"))
          .otherwise(col("source")).as("source_g"),
        col("gid"), col("n_docs"), col("n_tokens"), col("sum_chars"))
      .orderBy("gid", "lang_g", "source_g")
  }

  val all: Seq[Q] = Seq(q60DupClusters, q61SampleMix, q62VocabTopK,
    q63Contamination, q64PiiScrub, q65SaltedAgg, q67StreamDedup,
    q68StreamSessions, q74Repetition, q269PreferencePairs,
    q270LengthBuckets, q274QualityLr, q279StreamNearDup, q285UrlProfile,
    q287DedupFunnel, q290EpochShuffle, q294DpCounts, q305DatasetCard,
    q314DupFlows)
}

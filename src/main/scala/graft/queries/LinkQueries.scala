package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Sources.table
import graft.dedup.Dedup
import graft.graph.GraphOps
import graft.text.TextAnalysis

/**
 * Linkage + graph-mining operators: positional phrase search, label
 * propagation communities, autocorrelation, item-item co-occurrence
 * recommendations, shingle-containment (quotation) detection,
 * per-vertex clustering coefficients, sorted-neighborhood record
 * blocking, and personalized PageRank. Reference analog: none
 * (SURVEY.md §2.1 — the reference is a reporting app); these extend
 * the engine the way the dedup/ANN family does. House rules apply
 * throughout: integer-skeleton arithmetic (micro/ppm units, `div`),
 * picked-rank tie-breaks, bounded iterative rounds with lineage cut
 * per round — so every query replays bit-exactly under the DuckDB
 * oracle.
 */
object LinkQueries {

  /** Co-purchase/co-supply graph shared by the graph-mining queries:
    * undirected distinct (i, j) supplier pairs sharing a part, hub
    * parts (> 15 suppliers) dropped before any pair exists — the same
    * capped bipartite projection q164/q181 use. Built ONCE per
    * (session, sf) and persisted to scratch parquet
    * ([[graft.io.Scratch]], the q130 build-once/probe-many pattern):
    * 8+ queries consume this graph, and before sharing each paid the
    * full lineitem scan + pair-gen + distinct itself. */
  private[queries] def coSupplyEdges(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    graft.io.Scratch.table(s, d, "cosupply_edges")(
      GraphOps.coOccurrenceEdges(table(s, d, "lineitem"),
        "l_partkey", "l_suppkey", maxGroupSize = 15))

  /** Triangle set of the co-supply graph, persisted once per
    * (session, sf) like the edges — [[Dedup.triangles]] over the shared
    * edge table (degree-oriented, no celebrity quadratics). */
  private[queries] def coSupplyTriangles(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    // resolve the edge table BEFORE entering the memo: nested
    // computeIfAbsent on one ConcurrentHashMap is forbidden (can
    // deadlock), so the edges key must be settled first
    val ed = coSupplyEdges(s, d)
    graft.io.Scratch.table(s, d, "cosupply_triangles")(
      Dedup.triangles(ed.localCheckpoint()))
  }

  /** Label-propagation labels (3 rounds) of the co-supply graph,
    * persisted once per (session, sf) — q210 emits them, q268 scores
    * them. */
  private[queries] def coSupplyLpaLabels(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    val ed = coSupplyEdges(s, d) // settle the edges memo key first
    graft.io.Scratch.table(s, d, "cosupply_lpa_labels")(
      GraphOps.labelPropagation(ed, rounds = 3))
  }

  /** The matching DuckDB CTE chain ending in `ed0(i, j)`. */
  private val coSupplyCtes: String =
    """gi AS (SELECT DISTINCT l_partkey AS g, l_suppkey AS it
              FROM lineitem WHERE l_partkey IS NOT NULL),
       ok AS (SELECT g FROM gi GROUP BY g HAVING count(*) <= 15),
       ed0 AS MATERIALIZED (SELECT DISTINCT a.it AS i, b.it AS j
               FROM gi a JOIN gi b ON a.g = b.g AND a.it < b.it
               WHERE a.g IN (SELECT g FROM ok))"""

  // ------------------------------------------------- positional phrase

  /** Positional phrase search: per-document occurrence count of the
   * exact 2-token phrase "value table" — the query shape a docs-only
   * inverted index (q179) cannot answer. Entirely map-side: one
   * tokenize, one native one-pass kernel over adjacent positions
   * ([[graft.functions.PhraseCount]] — no posexplode, no position
   * self-join, no interpreted lambda), so at 100 TB the cost is the
   * corpus scan itself. Oracle replays the equivalent position lambda
   * over DuckDB lists (parity pinned in FunctionsSpec). */
  val q209PhraseSearch: Q = Q("q209_phrase_search",
    """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents)
       SELECT doc_id, hits FROM (
         SELECT doc_id,
                CAST(len(list_filter(range(1, len(w)),
                  k -> w[k] = 'value' AND w[k+1] = 'table')) AS BIGINT) AS hits
         FROM tok WHERE len(w) >= 2)
       WHERE hits > 0 ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.graft.ColumnBridge
    val w = TextAnalysis.tokens(col("text"))
    // native one-pass kernel (parity vs the filter-lambda spelling in
    // FunctionsSpec) — ArrayFilter + element_at are CodegenFallback and
    // the interpreted per-position evals dominated the first profile
    val hits = ColumnBridge.column(graft.functions.PhraseCount(
      ColumnBridge.expression(w), Seq("value", "table")))
    table(s, d, "documents")
      .filter(size(w) >= 2)
      .select(col("doc_id"), hits.as("hits"))
      .filter(col("hits") > 0)
      .orderBy("doc_id")
  }

  // -------------------------------------------------- label propagation

  /** Community detection by 3 rounds of synchronous label propagation
   * over the co-supply graph: each vertex adopts its neighbors' most
   * frequent label (ties → smallest), a deterministic variant that
   * converges to DENSE communities where connected components would
   * merge everything a bridge touches. Per round one edge⋈label join +
   * one keyed count + one keyed rank — no driver state, lineage cut per
   * round; the oracle unrolls the identical three rounds. */
  val q210LabelProp: Q = Q("q210_label_prop",
    s"""WITH $coSupplyCtes,
       ${GraphOps.labelPropOracleCtes(rounds = 3)}
       SELECT CAST(v AS BIGINT) AS supplier, CAST(lab AS BIGINT) AS community
       FROM l3 ORDER BY supplier""") { (s, d) =>
    coSupplyLpaLabels(s, d)
      .select(col("v").as("supplier"), col("lab").as("community"))
      .orderBy("supplier")
  }

  /** Newman modularity of the q210 label-propagation communities —
   * the EVALUATION metric for a community detection run (pairs with
   * q265's measure-your-dedup pattern): Q = Σ_c [e_c/m − (d_c/2m)²],
   * quantized per community to integer ppm with STAGED divisions
   * (d_c·1e6 div 2m, then ·d_c div 2m — never d_c², which wraps int64
   * once d_c passes ~3·10⁶ at the 100 TB design point); both engines
   * floor identically so the score replays bit-for-bit. One keyed
   * label join per edge side over the persisted shared graph. */
  val q268Modularity: Q = Q("q268_modularity",
    s"""WITH $coSupplyCtes,
       ${GraphOps.labelPropOracleCtes(rounds = 3)},
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed0),
       ic AS (SELECT la.lab AS c, CAST(count(*) AS BIGINT) AS ec
              FROM ed0 JOIN l3 la ON la.v = ed0.i
                       JOIN l3 lb ON lb.v = ed0.j
              WHERE la.lab = lb.lab GROUP BY 1),
       dg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
                (SELECT i AS v FROM ed0 UNION ALL SELECT j FROM ed0)
              GROUP BY v),
       dc AS (SELECT l3.lab AS c, CAST(sum(d) AS BIGINT) AS dsum
              FROM l3 JOIN dg ON dg.v = l3.v GROUP BY 1),
       tm AS (SELECT dc.c,
                coalesce(ec, 0) * 1000000 // m
                  - ((dsum * 1000000 // (2 * m)) * dsum) // (2 * m) AS term
              FROM dc LEFT JOIN ic ON ic.c = dc.c, mm)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_comm,
              (SELECT m FROM mm) AS m_edges,
              CAST(sum(term) AS BIGINT) AS modularity_ppm
       FROM tm""") { (s, d) =>
    val ed = coSupplyEdges(s, d).localCheckpoint() // m + intra + degrees
    val lp = coSupplyLpaLabels(s, d)
      .localCheckpoint() // both edge-side joins + the degree join
    val mm = ed.agg(count(lit(1)).as("m"))
    val intra = ed
      .join(lp.select(col("v").as("i"), col("lab").as("la")), Seq("i"))
      .join(lp.select(col("v").as("j"), col("lab").as("lb")), Seq("j"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("c")).agg(count(lit(1)).as("ec"))
    val deg = ed.select(col("i").as("v")).unionAll(ed.select(col("j").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dc = lp.join(deg, Seq("v"))
      .groupBy(col("lab").as("c")).agg(sum("d").as("dsum"))
    val tm = dc.join(intra, Seq("c"), "left")
      .crossJoin(broadcast(mm))
      .select(expr("coalesce(ec, 0) * 1000000 div m").as("t1"),
        expr("((dsum * 1000000 div (2 * m)) * dsum) div (2 * m)").as("t2"))
    val nm = dc.agg(count(lit(1)).as("n_comm"))
    broadcast(nm).crossJoin(broadcast(mm))
      .crossJoin(broadcast(
        tm.agg(sum(col("t1") - col("t2")).as("modularity_ppm"))))
      .select(col("n_comm"), col("m").as("m_edges"), col("modularity_ppm"))
  }

  // ---------------------------------------------------- autocorrelation

  /** Autocorrelation of the daily event-count series at lags 1..7 —
   * the seasonality detector a forecast pipeline runs before picking
   * its features. Integer skeleton: the series densifies against the
   * calendar spine (a zero-volume day is an input, not a gap), each
   * term is centered as n·x_i − Σx (exact BIGINT at any partitioning),
   * and all lag products/sums stay BIGINT; the ONLY floating-point step
   * is the final num/den division. The seven lags ride ONE window pass
   * (seven `lead`s over the same bounded calendar order). */
  val q211Acf: Q = Q("q211_acf",
    """WITH dc AS (SELECT CAST(ts AS DATE) AS dd, count(*) AS x
                   FROM events WHERE ts IS NOT NULL GROUP BY 1),
       bounds AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
       spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS dd
                 FROM bounds),
       daily AS (SELECT s.dd, coalesce(dc.x, 0) AS x
                 FROM spine s LEFT JOIN dc USING (dd)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx FROM daily),
       cen AS (SELECT dd, n * x - sx AS c FROM daily, tot),
       led AS (SELECT c,
                 lead(c, 1) OVER win AS c1, lead(c, 2) OVER win AS c2,
                 lead(c, 3) OVER win AS c3, lead(c, 4) OVER win AS c4,
                 lead(c, 5) OVER win AS c5, lead(c, 6) OVER win AS c6,
                 lead(c, 7) OVER win AS c7
               FROM cen WINDOW win AS (ORDER BY dd)),
       agg AS (SELECT CAST(sum(c * c) AS BIGINT) AS den,
                 CAST(sum(c * c1) AS BIGINT) AS n1, CAST(sum(c * c2) AS BIGINT) AS n2,
                 CAST(sum(c * c3) AS BIGINT) AS n3, CAST(sum(c * c4) AS BIGINT) AS n4,
                 CAST(sum(c * c5) AS BIGINT) AS n5, CAST(sum(c * c6) AS BIGINT) AS n6,
                 CAST(sum(c * c7) AS BIGINT) AS n7
               FROM led)
       SELECT lag, num, den, CAST(num AS DOUBLE) / nullif(den, 0) AS acf
       FROM (SELECT CAST(1 AS BIGINT) AS lag, n1 AS num, den FROM agg
             UNION ALL SELECT 2, n2, den FROM agg
             UNION ALL SELECT 3, n3, den FROM agg
             UNION ALL SELECT 4, n4, den FROM agg
             UNION ALL SELECT 5, n5, den FROM agg
             UNION ALL SELECT 6, n6, den FROM agg
             UNION ALL SELECT 7, n7, den FROM agg)
       ORDER BY lag""") { (s, d) =>
    import graft.ops.Relational
    val daily0 = table(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("x"))
      .localCheckpoint() // bounded by the calendar; bounds + dense join reuse it
    // calendar bounds as strings — the q132 pattern (one bounded driver scalar)
    val b = daily0.agg(date_format(min("dd"), "yyyy-MM-dd").as("lo"),
      date_format(max("dd"), "yyyy-MM-dd").as("hi")).head()
    if (b.isNullAt(0)) {
      // no events at all — mirror the oracle's empty-spine shape: the
      // scalar agg still yields one row, so 7 lag rows with null stats
      import s.implicits._
      (1L to 7L).toDF("lag")
        .select(col("lag"), lit(null).cast("long").as("num"),
          lit(null).cast("long").as("den"),
          lit(null).cast("double").as("acf"))
        .orderBy("lag")
    } else {
      val spine = Relational.dateSpine(s, b.getString(0), b.getString(1), "dd")
      val daily = Relational.spineJoin(spine, daily0, Seq("dd"), Seq("x"))
      graft.ops.Stats.acf(daily, col("dd"), col("x"), maxLag = 7)
        .orderBy("lag")
    }
  }

  /** PACF via Durbin–Levinson (q211's companion — Box–Jenkins order
   * identification needs BOTH: ACF tails off / PACF cuts off for AR(p)).
   * The recursion runs DRIVER-SIDE on the bounded lag table (4 rows —
   * never a corpus pass; the corpus work is q211's one-pass exact
   * integer ACF), with strictly left-associated arithmetic so the
   * oracle's unrolled staged-CTE replay (same association, same IEEE
   * ops on the same exact num/den ratios) reproduces every double BIT
   * FOR BIT — hash-checked, not banded. Degenerate series null out via
   * the same propagation on both sides (nullif innovation variance). */
  val q277Pacf: Q = Q("q277_pacf",
    """WITH dc AS (SELECT CAST(ts AS DATE) AS dd, count(*) AS x
                   FROM events WHERE ts IS NOT NULL GROUP BY 1),
       bounds AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
       spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS dd
                 FROM bounds),
       daily AS (SELECT s.dd, coalesce(dc.x, 0) AS x
                 FROM spine s LEFT JOIN dc USING (dd)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx FROM daily),
       cen AS (SELECT dd, n * x - sx AS c FROM daily, tot),
       led AS (SELECT c,
                 lead(c, 1) OVER win AS c1, lead(c, 2) OVER win AS c2,
                 lead(c, 3) OVER win AS c3, lead(c, 4) OVER win AS c4
               FROM cen WINDOW win AS (ORDER BY dd)),
       agg AS (SELECT CAST(sum(c * c) AS BIGINT) AS den,
                 CAST(sum(c * c1) AS BIGINT) AS n1, CAST(sum(c * c2) AS BIGINT) AS n2,
                 CAST(sum(c * c3) AS BIGINT) AS n3, CAST(sum(c * c4) AS BIGINT) AS n4
               FROM led),
       rr AS (SELECT CAST(n1 AS DOUBLE) / nullif(den, 0) AS r1,
                     CAST(n2 AS DOUBLE) / nullif(den, 0) AS r2,
                     CAST(n3 AS DOUBLE) / nullif(den, 0) AS r3,
                     CAST(n4 AS DOUBLE) / nullif(den, 0) AS r4 FROM agg),
       dl1 AS (SELECT r1, r2, r3, r4, r1 AS a11 FROM rr),
       dl1b AS (SELECT *, (1.0 - a11 * a11) AS v1 FROM dl1),
       dl2 AS (SELECT *, (r2 - a11 * r1) / nullif(v1, 0) AS a22 FROM dl1b),
       dl2b AS (SELECT *, a11 - a22 * a11 AS a21,
                          v1 * (1.0 - a22 * a22) AS v2 FROM dl2),
       dl3 AS (SELECT *, ((r3 - a21 * r2) - a22 * r1) / nullif(v2, 0) AS a33 FROM dl2b),
       dl3b AS (SELECT *, a21 - a33 * a22 AS a31, a22 - a33 * a21 AS a32,
                          v2 * (1.0 - a33 * a33) AS v3 FROM dl3),
       dl4 AS (SELECT *, (((r4 - a31 * r3) - a32 * r2) - a33 * r1) / nullif(v3, 0) AS a44
               FROM dl3b)
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS lag, r1 AS acf, a11 AS pacf FROM dl4
         UNION ALL SELECT 2, r2, a22 FROM dl4
         UNION ALL SELECT 3, r3, a33 FROM dl4
         UNION ALL SELECT 4, r4, a44 FROM dl4)
       ORDER BY lag""") { (s, d) =>
    import graft.ops.Relational
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("lag", LongType, nullable = false),
      StructField("acf", DoubleType, nullable = true),
      StructField("pacf", DoubleType, nullable = true)))
    def toRows(r: Array[Option[Double]], p: Array[Option[Double]]) =
      s.createDataFrame(
        java.util.Arrays.asList((1 to 4).map(k => org.apache.spark.sql.Row(
          k.toLong, r(k - 1).map(Double.box).orNull,
          p(k - 1).map(Double.box).orNull)): _*), outSchema)
    val daily0 = table(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("x"))
      .localCheckpoint() // bounds scalar + dense join reuse it
    val b = daily0.agg(date_format(min("dd"), "yyyy-MM-dd").as("lo"),
      date_format(max("dd"), "yyyy-MM-dd").as("hi")).head()
    if (b.isNullAt(0)) toRows(Array.fill(4)(None), Array.fill(4)(None))
    else {
      val spine = Relational.dateSpine(s, b.getString(0), b.getString(1), "dd")
      val daily = Relational.spineJoin(spine, daily0, Seq("dd"), Seq("x"))
      val r = graft.ops.Stats.acf(daily, col("dd"), col("x"), maxLag = 4)
        .orderBy("lag").collect() // bounded: exactly 4 lag rows
        .map(rw => if (rw.isNullAt(3)) None else Some(rw.getDouble(3)))
      toRows(r, graft.ops.Stats.pacfFromAcf(r))
    }
  }

  // ------------------------------------------------ item-item recommender

  /** Item-item co-occurrence recommendations: for every part, the top-3
   * parts most often ordered together, ranked by squared-cosine of the
   * co-occurrence counts — co²·10⁶ div (cnt_a·cnt_b), which is MONOTONE
   * in cosine but needs no sqrt, so the whole ranking is exact BIGINT
   * arithmetic. Pairs come map-side from per-order sorted item arrays
   * (hub orders > 15 items dropped before any pair exists, the q164
   * projection recipe); item marginals aggregate the bipartite table
   * once. The per-item top-3 is a keyed rank window — never global. */
  val q212ItemRecs: Q = Q("q212_item_recs",
    """WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS it
                   FROM lineitem
                   WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       ok AS (SELECT g FROM gi GROUP BY g HAVING count(*) <= 15),
       pr AS (SELECT i, j, co FROM (
              SELECT a.it AS i, b.it AS j, count(*) AS co
              FROM gi a JOIN gi b ON a.g = b.g AND a.it < b.it
              WHERE a.g IN (SELECT g FROM ok) GROUP BY 1, 2)
              WHERE co >= 2),
       cnt AS (SELECT it, count(*) AS c FROM gi GROUP BY it),
       bd AS (SELECT i AS item, j AS rec, co FROM pr
              UNION ALL SELECT j, i, co FROM pr),
       sc AS (SELECT b.item, b.rec, CAST(b.co AS BIGINT) AS co,
                CAST(b.co * b.co * 1000000 // (ca.c * cb.c) AS BIGINT) AS score_ppm
              FROM bd b JOIN cnt ca ON ca.it = b.item
                        JOIN cnt cb ON cb.it = b.rec),
       rk AS (SELECT item, rec, co, score_ppm,
                CAST(row_number() OVER (PARTITION BY item
                       ORDER BY score_ppm DESC, rec) AS BIGINT) AS rn
              FROM sc)
       SELECT CAST(item AS BIGINT) AS item, CAST(rec AS BIGINT) AS rec,
              co, score_ppm, rn
       FROM rk WHERE rn <= 3 ORDER BY item, rn""") { (s, d) =>
    GraphOps.rankRecs(
        sharedBasketPairs(s, d), sharedItemCounts(s, d), topK = 3)
      .orderBy("item", "rn")
  }

  /** Capped basket-pair counts (i, j, co≥2) over (l_orderkey,
    * l_partkey), persisted once per (session, sf) — shared by the
    * recommender (q212) and the association-rule miner (q230). */
  private[queries] def sharedBasketPairs(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    graft.io.Scratch.table(s, d, "basket_pairs")(
      GraphOps.basketPairCounts(table(s, d, "lineitem"),
        "l_orderkey", "l_partkey", maxGroupSize = 15, minCo = 2L))

  /** Per-part distinct-order counts, persisted alongside
    * [[sharedBasketPairs]]. */
  private[queries] def sharedItemCounts(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    graft.io.Scratch.table(s, d, "basket_item_counts")(
      GraphOps.itemCounts(table(s, d, "lineitem"), "l_orderkey", "l_partkey"))

  // --------------------------------------------- containment (quotation)

  /** Shingle-containment detection: pairs where ≥ 30% of the smaller
   * document's rare 3-shingles appear in the other — the asymmetric
   * measure that catches quotation/subset duplication Jaccard misses
   * (a short doc embedded in a long one has tiny Jaccard but high
   * containment). Candidates block on SHARED rare shingles: shingles in
   * > 50 docs are dropped first (stop-shingles carry no signal and are
   * the quadratic hot-spot), so every bucket's pair fan-out is bounded
   * by C(50,2) — never all-pairs. Containment is inter·10⁶ div
   * min(|A|,|B|) over the rare-shingle sets, all BIGINT. */
  val q213Containment: Q = Q("q213_containment",
    """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w)-1),
                              k -> w[k]||' '||w[k+1]||' '||w[k+2])) AS s
                FROM tok WHERE len(w) >= 3)),
       dfh AS (SELECT h, count(*) AS dfh FROM sh GROUP BY h),
       rare AS (SELECT sh.doc_id, sh.h FROM sh JOIN dfh USING (h)
                WHERE dfh <= 50),
       nsz AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
       pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
              FROM rare a JOIN rare b
                ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
       res AS (SELECT i, j, inter, na.n AS na_i, nb.n AS na_j,
                 CAST(inter * 1000000 // least(na.n, nb.n) AS BIGINT) AS cont_ppm
               FROM pr JOIN nsz na ON na.doc_id = pr.i
                       JOIN nsz nb ON nb.doc_id = pr.j)
       SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              CAST(inter AS BIGINT) AS inter, CAST(na_i AS BIGINT) AS na_i,
              CAST(na_j AS BIGINT) AS na_j, cont_ppm
       FROM res WHERE cont_ppm >= 300000 ORDER BY i, j""") { (s, d) =>
    Dedup.containmentPairs(table(s, d, "documents"),
        dfCap = 50, thresholdPpm = 300000L)
      .orderBy("i", "j")
  }

  // --------------------------------------------- clustering coefficient

  /** Per-vertex local clustering coefficient over the co-supply graph:
   * 2·T(v)·10⁶ div (d(v)·(d(v)−1)) — how clique-like each supplier's
   * neighborhood is. Triangles come from the degree-oriented
   * enumeration (Dedup.triangles: every edge points low→high degree, so
   * no celebrity vertex goes quadratic); each triangle then fans out to
   * its 3 corners map-side and one keyed count per vertex finishes.
   * Vertices with d < 2 are excluded (coefficient undefined). */
  val q214ClusteringCoeff: Q = Q("q214_clustering_coeff",
    s"""WITH $coSupplyCtes,
       deg AS (SELECT v, count(*) AS d FROM (
                 SELECT i AS v FROM ed0 UNION ALL SELECT j FROM ed0)
               GROUP BY v),
       tri AS (SELECT e1.i AS x, e1.j AS y, e2.j AS z
               FROM ed0 e1 JOIN ed0 e2 ON e2.i = e1.j
                           JOIN ed0 e3 ON e3.i = e1.i AND e3.j = e2.j),
       tv AS (SELECT v, count(*) AS t FROM (
                SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri)
              GROUP BY v)
       SELECT CAST(deg.v AS BIGINT) AS supplier, CAST(d AS BIGINT) AS deg,
              CAST(coalesce(t, 0) AS BIGINT) AS tri,
              CAST(2 * coalesce(t, 0) * 1000000 // (d * (d - 1)) AS BIGINT)
                AS coeff_ppm
       FROM deg LEFT JOIN tv ON tv.v = deg.v
       WHERE d >= 2 ORDER BY supplier""") { (s, d) =>
    val ed = coSupplyEdges(s, d).localCheckpoint() // degrees
    val deg = ed.select(col("i").as("v")).unionAll(ed.select(col("j").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val tv = coSupplyTriangles(s, d) // shared persisted triangle set
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(tv, Seq("v"), "left")
      .filter(col("d") >= 2)
      .select(col("v").as("supplier"), col("d").as("deg"),
        coalesce(col("t"), lit(0L)).as("tri"),
        expr("CAST(2 * coalesce(t, 0) * 1000000 div (d * (d - 1)) AS BIGINT)")
          .as("coeff_ppm"))
      .orderBy("supplier")
  }

  // ------------------------------------------- sorted-neighborhood blocking

  /** Blocked sorted-neighborhood record linkage over part names:
   * within each brand block, sort by name and pair every record with
   * its next 2 neighbors, scoring with exact edit distance — the
   * classic ER blocking recipe that complements hash/LSH blocking (it
   * catches near-miss keys that hash apart). The sort window is KEYED
   * by block, so at 100 TB no global sort or single-partition window
   * exists; candidate count is ≤ 2 rows per record by construction. */
  val q215SortedNeighborhood: Q = Q("q215_sorted_neighborhood",
    """WITH c AS (SELECT p_partkey AS k, p_name AS nm, p_brand AS blk
                  FROM part WHERE p_name IS NOT NULL AND p_brand IS NOT NULL),
       r AS (SELECT k, nm, blk,
               row_number() OVER (PARTITION BY blk ORDER BY nm, k) AS rn
             FROM c)
       SELECT CAST(a.k AS BIGINT) AS ka, CAST(b.k AS BIGINT) AS kb,
              CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
       FROM r a JOIN r b
         ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 2
       ORDER BY ka, kb""") { (s, d) =>
    // The window-2 neighbor pairs come from lead() directly — NO
    // self-join. The previous spelling joined r⋈r on the block key with
    // the rank band as a post-filter, which Spark executes as a full
    // per-block cross product before filtering: O(B²) per block
    // (measured ×24 on 10× data in the round-8 slope sweep). lead()
    // emits exactly the same (a, a+1), (a, a+2) pairs in one window
    // pass, linear in the block.
    val c = table(s, d, "part")
      .filter(col("p_name").isNotNull && col("p_brand").isNotNull)
      .select(col("p_partkey").as("k"), col("p_name").as("nm"),
        col("p_brand").as("blk"))
    val w = Window.partitionBy("blk").orderBy(col("nm"), col("k"))
    c.withColumn("k1", lead("k", 1).over(w))
      .withColumn("n1", lead("nm", 1).over(w))
      .withColumn("k2", lead("k", 2).over(w))
      .withColumn("n2", lead("nm", 2).over(w))
      .select(col("k").as("ka"), col("nm"), explode(array(
        struct(col("k1").as("kb"), col("n1").as("nmb")),
        struct(col("k2").as("kb"), col("n2").as("nmb")))).as("e"))
      .filter(col("e.kb").isNotNull)
      .select(col("ka"), col("e.kb").as("kb"),
        levenshtein(col("nm"), col("e.nmb")).cast("long").as("dist"))
      .orderBy("ka", "kb")
  }

  // --------------------------------------------- personalized PageRank

  /** Personalized PageRank from the seed set {supplier % 10 = 0} over
   * the co-supply graph (3 iterations, damping 0.85, integer micro):
   * restart mass lands only on seeds, so top ranks measure proximity to
   * the seed set — the "related to these suppliers" walk, vs q120's
   * global centrality. Identical quantized arithmetic to pageRankMicro,
   * so all three iterations replay as unrolled SQL CTEs. */
  val q216Ppr: Q = Q("q216_ppr",
    s"""WITH $coSupplyCtes,
       ${GraphOps.pprOracleCtes(seedMod = 10, iters = 3)}
       SELECT CAST(v AS BIGINT) AS supplier, CAST(r AS BIGINT) AS rank_micro,
              CAST(row_number() OVER (ORDER BY r DESC, v) AS BIGINT) AS rnk
       FROM r3 WHERE r > 0 QUALIFY rnk <= 20 ORDER BY rnk""") { (s, d) =>
    GraphOps.personalizedPageRankMicro(coSupplyEdges(s, d),
        seedMod = 10, iters = 3)
      .orderBy(col("r").desc, col("v")).limit(20)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("r").desc, col("v"))).cast("long"))
      .select(col("v").as("supplier"), col("r").as("rank_micro"), col("rnk"))
      .orderBy("rnk")
  }

  // --------------------------------------------------- weighted SSSP

  /** Weighted single-source shortest paths (Bellman–Ford, 3 synchronous
   * relaxation rounds) over the co-supply graph with edge weight
   * max(1, 16 − shared-part count) — strongly co-supplying pairs are
   * "close". Exact BIGINT distances for every vertex within 3 edges of
   * the smallest vertex; a cheap 2-edge detour beats a heavy direct
   * edge, which hop-count BFS (q181) cannot express. One join + one
   * min-aggregate per round, lineage cut, no driver graph state. */
  val q218Sssp: Q = Q("q218_sssp",
    s"""WITH gi AS (SELECT DISTINCT l_partkey AS g, l_suppkey AS it
                    FROM lineitem WHERE l_partkey IS NOT NULL),
       ok AS (SELECT g FROM gi GROUP BY g HAVING count(*) <= 15),
       pr AS (SELECT a.it AS i, b.it AS j, count(*) AS co
              FROM gi a JOIN gi b ON a.g = b.g AND a.it < b.it
              WHERE a.g IN (SELECT g FROM ok) GROUP BY 1, 2),
       ed0 AS (SELECT i, j, greatest(1, 16 - co) AS w FROM pr),
       src AS (SELECT min(i) AS v FROM ed0),
       ${GraphOps.ssspOracleCtes(rounds = 3)}
       SELECT CAST(v AS BIGINT) AS supplier, CAST(dist AS BIGINT) AS dist
       FROM s3 ORDER BY supplier""") { (s, d) =>
    val gi = table(s, d, "lineitem").filter(col("l_partkey").isNotNull)
      .select(col("l_partkey").as("g"), col("l_suppkey").as("it"))
    val wEdges = gi.groupBy("g")
      .agg(sort_array(collect_set(col("it"))).as("items"))
      .filter(size(col("items")) <= 15)
      .select(explode(GraphOps.pairsFromSortedArray("items", "i", "j")).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("co"))
      .select(col("i"), col("j"), greatest(lit(1L), lit(16L) - col("co")).as("w"))
      .localCheckpoint() // min-source scalar + every relaxation round read it
    val srcRow = wEdges.agg(min("i")).head() // bounded driver scalar
    if (srcRow.isNullAt(0)) { // no edges: oracle's src is empty → no rows
      wEdges.select(col("i").as("supplier"), col("w").as("dist")).limit(0)
    } else {
      GraphOps.sssp(wEdges, srcRow.getLong(0), rounds = 3)
        .select(col("v").as("supplier"), col("dist"))
        .orderBy("supplier")
    }
  }

  // --------------------------------------------- maximal independent set

  /** Luby's maximal independent set (2 deterministic rounds, md5-hash
   * priorities) over the co-supply graph — the distributed symmetry-
   * breaking primitive behind scheduling/coloring at scale. A vertex
   * enters when its hash-priority beats every undecided neighbor's;
   * adjacent vertices can never both enter (strict comparison), so
   * independence holds by construction — machine-checked in
   * LinkOpsSpec along with out-vertex coverage. All three statuses
   * (in/out/undecided) are emitted so the oracle pins the whole
   * decision frontier, not just the winners. */
  val q219Mis: Q = Q("q219_mis",
    s"""WITH $coSupplyCtes,
       ${GraphOps.lubyMisOracleCtes(rounds = 2)}
       SELECT CAST(v AS BIGINT) AS supplier, status FROM (
         SELECT v, 'in' AS status FROM c1
         UNION ALL SELECT v, 'in' FROM c2
         UNION ALL SELECT v, 'out' FROM x1
         UNION ALL SELECT v, 'out' FROM x2
         UNION ALL SELECT v, 'undecided' FROM u2)
       ORDER BY supplier""") { (s, d) =>
    GraphOps.lubyMis(coSupplyEdges(s, d), rounds = 2)
      .select(col("v").as("supplier"), col("status"))
      .orderBy("supplier")
  }

  // ------------------------------------------------ landmark distances

  /** Landmark-based distance profile: bounded-hop BFS from the 3
   * smallest vertices of the co-supply graph, summarized per landmark
   * as (reached count, lower-median distance, max distance). The
   * median comes from the per-landmark distance HISTOGRAM — dist is
   * bounded by the hop budget (≤ 3), so the cumulative pick runs over
   * ≤ 4 rows per landmark, never a global sort over the reach set.
   * This is the scalable stand-in for exact diameter/centrality: k
   * landmark BFS sweeps estimate the distance distribution at any
   * graph size. */
  val q220Landmarks: Q = Q("q220_landmarks",
    s"""WITH $coSupplyCtes,
       verts AS (SELECT DISTINCT i AS v FROM (
                 SELECT i FROM ed0 UNION ALL SELECT j FROM ed0)),
       a_src AS (SELECT v FROM verts ORDER BY v LIMIT 1 OFFSET 0),
       b_src AS (SELECT v FROM verts ORDER BY v LIMIT 1 OFFSET 1),
       c_src AS (SELECT v FROM verts ORDER BY v LIMIT 1 OFFSET 2),
       ${GraphOps.bfsOracleCtes(rounds = 3, prefix = "a_")},
       ${GraphOps.bfsOracleCtes(rounds = 3, prefix = "b_")},
       ${GraphOps.bfsOracleCtes(rounds = 3, prefix = "c_")},
       h AS (SELECT (SELECT v FROM a_src) AS landmark, dist, count(*) AS c
             FROM a_b3 GROUP BY dist
         UNION ALL SELECT (SELECT v FROM b_src), dist, count(*)
             FROM b_b3 GROUP BY dist
         UNION ALL SELECT (SELECT v FROM c_src), dist, count(*)
             FROM c_b3 GROUP BY dist),
       t AS (SELECT landmark, CAST(sum(c) AS BIGINT) AS n_reached,
                    CAST(max(dist) AS BIGINT) AS max_dist
             FROM h GROUP BY landmark),
       cum AS (SELECT landmark, dist,
                 sum(c) OVER (PARTITION BY landmark ORDER BY dist) AS cm
               FROM h),
       p AS (SELECT cum.landmark, CAST(min(dist) AS BIGINT) AS p50_dist
             FROM cum JOIN t ON t.landmark = cum.landmark
             WHERE cm >= (n_reached + 1) // 2 GROUP BY cum.landmark)
       SELECT CAST(t.landmark AS BIGINT) AS landmark, n_reached, p50_dist,
              max_dist
       FROM t JOIN p ON p.landmark = t.landmark
       ORDER BY landmark""") { (s, d) =>
    val edges = coSupplyEdges(s, d).localCheckpoint()
    val lms = edges.select(col("i").as("v"))
      .unionAll(edges.select(col("j").as("v")))
      .distinct().orderBy("v").limit(3)
      .collect().map(_.getLong(0)) // ≤3 bounded driver scalars (q181 pattern)
    if (lms.isEmpty) { // no graph: oracle's src CTEs are empty → no rows
      edges.select(col("i").as("landmark"), col("i").as("n_reached"),
        col("i").as("p50_dist"), col("i").as("max_dist")).limit(0)
    } else {
    val hist = lms.map { lm =>
      GraphOps.bfsHops(edges, lm, rounds = 3)
        .groupBy("dist").agg(count(lit(1)).as("c"))
        .select(lit(lm).as("landmark"), col("dist"), col("c"))
    }.reduce(_ unionAll _)
    val t = hist.groupBy("landmark").agg(sum("c").as("n_reached"),
      max("dist").as("max_dist"))
    val wcum = Window.partitionBy("landmark").orderBy("dist")
    val p = hist.withColumn("cm", sum("c").over(wcum))
      .join(t.select(col("landmark"), col("n_reached")), Seq("landmark"))
      .filter(col("cm") >= expr("(n_reached + 1) div 2"))
      .groupBy("landmark").agg(min("dist").as("p50_dist"))
    t.join(p, Seq("landmark"))
      .select(col("landmark"), col("n_reached"), col("p50_dist"),
        col("max_dist"))
      .orderBy("landmark")
    }
  }

  // ------------------------------------------- weighted Jaccard matrix

  /** Weighted-Jaccard similarity matrix between source token
   * HISTOGRAMS — Σmin(c₁,c₂) / Σmax(c₁,c₂) over the shared vocabulary,
   * the multiplicity-aware overlap that complements q176's KL/JS drift
   * (Jaccard sees shared mass, divergences see shifted mass). Key
   * algebra: Σmax = N₁ + N₂ − Σmin, so only an INNER join on shared
   * tokens is needed (a token absent from one side contributes min 0)
   * — no full-outer alignment, and the join is vocabulary-sized with
   * bounded source fan-out. All counts BIGINT; wj in ppm. */
  val q225WeightedJaccard: Q = Q("q225_weighted_jaccard",
    """WITH t AS (SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents WHERE source IS NOT NULL),
       c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             FROM t GROUP BY 1, 2),
       n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
       pairs AS (SELECT a.source AS s1, b.source AS s2,
                   CAST(sum(least(a.c, b.c)) AS BIGINT) AS smin
                 FROM c a JOIN c b
                   ON a.tok = b.tok AND a.source < b.source
                 GROUP BY 1, 2)
       SELECT p.s1, p.s2, p.smin,
              CAST(p.smin * 1000000 // (na.n + nb.n - p.smin) AS BIGINT)
                AS wj_ppm
       FROM pairs p JOIN n na ON na.source = p.s1
                    JOIN n nb ON nb.source = p.s2
       ORDER BY s1, s2""") { (s, d) =>
    val c = table(s, d, "documents").filter(col("source").isNotNull)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals + both sides of the pair join read it
    val n = c.groupBy("source").agg(sum("c").as("n"))
    val pairs = c.as("a").join(c.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("smin"))
    pairs
      .join(broadcast(n.select(col("source").as("s1"), col("n").as("na"))), Seq("s1"))
      .join(broadcast(n.select(col("source").as("s2"), col("n").as("nb"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("smin"),
        expr("smin * 1000000 div (na + nb - smin)").as("wj_ppm"))
      .orderBy("s1", "s2")
  }

  // --------------------------------------------- degree assortativity

  /** Degree assortativity of the co-supply graph: the Pearson
   * correlation of endpoint degrees over all directed edge-ends — do
   * high-degree suppliers co-supply with other hubs (r > 0) or with
   * the periphery (r < 0)? The q143 integer-moment recipe: every Σ
   * (sx, sxx, sxy over edge-ends) is BIGINT-exact at any partitioning,
   * only the one final sqrt/division is floating point (rounded to 6
   * identically in both engines), with the zero-variance guard spelled
   * min = max. One degree aggregate + two broadcastable joins back to
   * the edge list — no fact-table window anywhere. */
  val q227Assortativity: Q = Q("q227_assortativity",
    s"""WITH $coSupplyCtes,
       e2 AS (SELECT i, j FROM ed0 UNION ALL SELECT j AS i, i AS j FROM ed0),
       deg AS (SELECT i AS v, CAST(count(*) AS BIGINT) AS d FROM e2 GROUP BY i),
       xy AS (SELECT da.d AS x, db.d AS y
              FROM e2 JOIN deg da ON da.v = e2.i JOIN deg db ON db.v = e2.j),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               min(x) = max(x) OR min(y) = max(y) AS zerovar
             FROM xy)
       SELECT n, CASE WHEN zerovar THEN NULL
                ELSE round(CAST(n*sxy - sx*sy AS DOUBLE) /
                  sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)),
                  6) END AS r
       FROM m""") { (s, d) =>
    val ed = coSupplyEdges(s, d)
    val e2 = ed.select(col("i"), col("j"))
      .unionAll(ed.select(col("j").as("i"), col("i").as("j")))
      .localCheckpoint() // degree aggregate + moment pass read it
    val deg = e2.groupBy(col("i").as("v")).agg(count(lit(1)).as("d"))
    val xy = e2
      .join(deg.select(col("v").as("i"), col("d").as("x")), Seq("i"))
      .join(deg.select(col("v").as("j"), col("d").as("y")), Seq("j"))
      .select("x", "y")
    xy.agg(count(lit(1)).cast("long").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"),
        (min("x") === max("x") || min("y") === max("y")).as("zerovar"))
      .select(col("n"),
        when(col("zerovar"), lit(null).cast("double"))
          .otherwise(expr("""round(CAST(n*sxy - sx*sy AS DOUBLE) /
            sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)),
            6)""")).as("r"))
  }

  // ----------------------------------------------- attack tolerance

  /** Hub-removal attack tolerance: largest connected-component size
   * before and after deleting the 5 highest-degree suppliers — the
   * robustness probe that tells a graph owner whether connectivity
   * hangs on a few hubs. Components come from the same two-phase star
   * contraction the dedup family uses (O(log n) rounds at any
   * diameter); the oracle checks BOTH closures against recursive-CTE
   * transitive-closure ground truth. Vertices that lose every edge
   * drop out of the after-graph (a component of size 1 has no edge to
   * witness it) — identical semantics on both sides. */
  val q228AttackTolerance: Q = Q("q228_attack_tolerance",
    s"""WITH RECURSIVE $coSupplyCtes,
       e2 AS (SELECT i, j FROM ed0 UNION ALL SELECT j AS i, i AS j FROM ed0),
       deg AS (SELECT i AS v, count(*) AS d FROM e2 GROUP BY i),
       hubs AS (SELECT v FROM deg ORDER BY d DESC, v LIMIT 5),
       ra(src, dst) AS (
         SELECT i, j FROM e2
         UNION
         SELECT r.src, e.j FROM ra r JOIN e2 e ON r.dst = e.i),
       la AS (SELECT src, least(src, min(dst)) AS lbl FROM ra GROUP BY src),
       ba AS (SELECT CAST(count(*) AS BIGINT) AS n FROM la GROUP BY lbl),
       edb AS MATERIALIZED (SELECT i, j FROM ed0
              WHERE i NOT IN (SELECT v FROM hubs)
                AND j NOT IN (SELECT v FROM hubs)),
       e2b AS (SELECT i, j FROM edb UNION ALL SELECT j AS i, i AS j FROM edb),
       rb(src, dst) AS (
         SELECT i, j FROM e2b
         UNION
         SELECT r.src, e.j FROM rb r JOIN e2b e ON r.dst = e.i),
       lb AS (SELECT src, least(src, min(dst)) AS lbl FROM rb GROUP BY src),
       bb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lb GROUP BY lbl)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
              (SELECT CAST(coalesce(max(n), 0) AS BIGINT) FROM ba) AS largest_before,
              (SELECT CAST(coalesce(max(n), 0) AS BIGINT) FROM bb) AS largest_after""") { (s, d) =>
    val ed = coSupplyEdges(s, d).localCheckpoint() // degs + both closures
    val e2 = ed.select(col("i"), col("j"))
      .unionAll(ed.select(col("j").as("i"), col("i").as("j")))
    val deg = e2.groupBy(col("i").as("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // vertex count + hub pick read it
    val hubs = deg.orderBy(col("d").desc, col("v")).limit(5).select("v")
      .localCheckpoint() // two anti joins read it
    val edb = ed
      .join(hubs.withColumnRenamed("v", "i"), Seq("i"), "left_anti")
      .join(hubs.withColumnRenamed("v", "j"), Seq("j"), "left_anti")
    def largest(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      Dedup.connectedComponents(pairs)
        .groupBy("lbl").agg(count(lit(1)).as("n"))
        .agg(coalesce(max("n"), lit(0L)).as("m"))
    val nv = deg.agg(count(lit(1)).cast("long").as("n_vertices"))
    nv.crossJoin(broadcast(largest(ed)
        .select(col("m").as("largest_before"))))
      .crossJoin(broadcast(largest(edb)
        .select(col("m").as("largest_after"))))
  }

  // ------------------------------------------------------------ k-truss

  /** 4-truss backbone of the co-supply graph (2 support peels): edges
   * in ≥ 2 triangles after iterated peeling — the triangle-dense
   * community core that a degree-based k-core peel can't isolate (a
   * hub touching many sparse neighborhoods survives a degree peel but
   * not a support peel). Per round one degree-oriented triangle
   * enumeration + one per-edge count + one semi join; oracle unrolls
   * identical rounds with MATERIALIZED CTEs. */
  val q232KTruss: Q = Q("q232_ktruss",
    s"""WITH $coSupplyCtes,
       ${GraphOps.kTrussOracleCtes(k = 4, rounds = 2)}
       SELECT CAST(e.i AS BIGINT) AS i, CAST(e.j AS BIGINT) AS j,
              CAST(coalesce(spf.c, 0) AS BIGINT) AS support
       FROM ed2 e LEFT JOIN spf ON spf.a = e.i AND spf.b = e.j
       ORDER BY i, j""") { (s, d) =>
    GraphOps.kTrussPeel(coSupplyEdges(s, d), k = 4, rounds = 2)
      .orderBy("i", "j")
  }

  /** Neighborhood function N(r) of the co-supply graph via
   * [[GraphOps.neighborhoodFunction]] — the HyperBall/ANF statistic
   * (how many (src, dst) pairs sit within distance r), computed by
   * per-vertex bottom-k distinct sketches union-merged along edges,
   * NEVER all-pairs BFS. k = 1024 ≫ |V| here, so every sketch is the
   * exact reachable set and the oracle can replay the curve from
   * unrolled all-pairs frontier CTEs; at 100 TB the same plan runs
   * with small k and returns the KMV estimate (the documented knob —
   * the truncation bound is pinned in LinkOpsSpec). frac_of_max_ppm
   * is the fraction of the 4-ball mass already reached at radius r —
   * the effective-diameter readout. */
  val q283Neighborhood: Q = Q("q283_neighborhood",
    s"""WITH $coSupplyCtes,
       e AS MATERIALIZED (SELECT i, j FROM ed0
                          UNION ALL SELECT j AS i, i AS j FROM ed0),
       p0 AS MATERIALIZED (SELECT DISTINCT i AS src, i AS v FROM e),
       ${(1 to 4).map(r =>
        s"""p$r AS MATERIALIZED (SELECT DISTINCT src, v FROM (
             SELECT src, v FROM p${r - 1}
             UNION ALL
             SELECT p${r - 1}.src, e.j AS v
             FROM p${r - 1} JOIN e ON p${r - 1}.v = e.i))""").mkString(",\n       ")},
       cnt AS (${(0 to 4).map(r =>
        s"SELECT $r AS r, CAST(count(*) AS BIGINT) AS n_pairs FROM p$r")
        .mkString("\n             UNION ALL ")}),
       mx AS (SELECT n_pairs AS np_max FROM cnt WHERE r = 4)
       SELECT r, n_pairs, n_pairs * 1000000 // np_max AS frac_of_max_ppm
       FROM cnt, mx ORDER BY r""") { (s, d) =>
    GraphOps.neighborhoodFunction(coSupplyEdges(s, d), rounds = 4, k = 1024)
      .orderBy("r")
  }

  /** HITS hubs & authorities over the DIRECTED customer→supplier
   * bipartite graph (a customer "endorses" every supplier whose parts
   * it ordered): authoritative suppliers are those endorsed by
   * high-hub customers, and hub customers are those buying from
   * authoritative suppliers — the mutual-reinforcement ranking
   * PageRank's single undirected score cannot express. Two
   * integer-exact [[GraphOps.hitsAuthority]] rounds (micro-unit L∞
   * normalization, every half-step one keyed join + one keyed agg +
   * one 1-row broadcast max), then distributed top-20 (orderBy+limit →
   * TakeOrdered, never a global sort) with the picked-rank tie-break.
   * The edge build joins the two facts on their natural key and
   * distincts to the bounded (customer, supplier) endorsement set. */
  val q292Hits: Q = Q("q292_hits",
    s"""WITH be0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
       ${GraphOps.hitsOracleCtes(rounds = 2)}
       SELECT CAST(s AS BIGINT) AS supplier, CAST(a AS BIGINT) AS auth_micro,
              CAST(row_number() OVER (ORDER BY a DESC, s) AS BIGINT) AS rk
       FROM a2 QUALIFY rk <= 20 ORDER BY rk""") { (s, d) =>
    val be = table(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(table(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
    GraphOps.hitsAuthority(be, rounds = 2)
      .orderBy(col("a").desc, col("s")).limit(20)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("a").desc, col("s"))).cast("long"))
      .select(col("s").as("supplier"), col("a").as("auth_micro"), col("rk"))
      .orderBy("rk")
  }

  val all: Seq[Q] = Seq(q209PhraseSearch, q210LabelProp, q211Acf,
    q212ItemRecs, q213Containment, q214ClusteringCoeff,
    q215SortedNeighborhood, q216Ppr, q218Sssp, q219Mis, q220Landmarks,
    q225WeightedJaccard, q227Assortativity, q228AttackTolerance,
    q232KTruss, q268Modularity, q277Pacf, q283Neighborhood, q292Hits)
}

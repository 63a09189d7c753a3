package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/**
 * Deduplication operators for a training-data pipeline, in increasing
 * fuzziness: exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
 * bucket-join), SimHash (hamming-blocked), and exact n-gram Jaccard over
 * blocked pairs.
 *
 * Scale design: nothing here compares all-pairs. Exact dedup is one
 * hash-partitioned window; MinHash/SimHash reduce each document to a
 * constant-size signature (one shuffle on doc_id), then candidate
 * generation is an equi-join on (band, bucket-key) — the only pairs ever
 * materialized are hash-bucket collisions. All hashes are md5-derived so
 * the DuckDB oracle can replay them bit-for-bit.
 */
object Dedup {

  val P: Long = 1000000007L

  /** 16 seeded (a,b) universal-hash params (random.seed(42) — fixed
   * constants shared verbatim with the SQL oracle). */
  val minhashAB: Seq[(Long, Long)] = Seq(
    (686579304L, 119540831L), (26855093L, 796233790L), (295310486L, 262950628L),
    (239670712L, 149827706L), (790779947L, 110053353L), (726600540L, 795285932L),
    (957970517L, 585582861L), (93349857L, 634036506L), (453035111L, 34126396L),
    (31994524L, 100604502L), (234760739L, 249817734L), (542621109L, 646412689L),
    (28492781L, 602632297L), (213500299L, 768820204L), (697808099L, 753041955L),
    (585126462L, 450455977L))

  val numBands = 4
  val rowsPerBand = 4

  // ------------------------------------------------------------ exact dedup

  /**
   * Exact dedup: keep the lowest-id row per content fingerprint.
   * One window over a hash-partitioned key — at 100 TB this is a single
   * shuffle on the md5 key with near-perfect distribution.
   */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  // ------------------------------------------------------------- shingling

  /** k-word shingles of lowercased text (default 3 — measured on the
   * harness corpus: 3-shingle Jaccard is 0.99 for planted near-dups vs
   * 0.0008 background; unigrams are useless at 0.6 background).
   * NOT deduplicated: every consumer is multiplicity-invariant (min-hash
   * of a multiset equals min-hash of its set; array_intersect/union have
   * set semantics), and the O(n²) array_distinct was measurable at scan
   * speed. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), k)

  /** [[shingles]] over an already-tokenized array column — the entry
   * point for pipelines that share a materialized tokenized view
   * ([[graft.text.TokenizedCorpus]]) instead of re-tokenizing text. */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column = {
    // native one-pass kernel (the transform + concat_ws spelling is
    // interpreted per element; parity asserted in FunctionsSpec)
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.ShinglesK(ColumnBridge.expression(toks), k))
  }

  // --------------------------------------------------------------- minhash

  /** Per-document minhash signature as `numBands*rowsPerBand` columns
   * m0..m15, via explode → 16 min-aggregations. The explode materializes
   * each shingle hash exactly once; an expression-only spelling
   * (array_min over 16 transforms of a hashed-array column) is
   * collapse-projected by Catalyst into 16 recomputations of the md5
   * array — measured 1.7× slower. Map-side partial min keeps the shuffle
   * at 16 longs per doc. */
  def minhashSignature(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    // hash BEFORE the explode (native Md5LongArray — the transform
    // spelling interprets the hash per element), so the exploded rows
    // carry 8 bytes instead of the ~20-char shingle strings
    import org.apache.spark.sql.graft.ColumnBridge
    val hashed = ColumnBridge.column(graft.functions.Md5LongArray(
      ColumnBridge.expression(shingles(col(textCol)))))
    val exploded = docs
      .select(col(idCol), explode(hashed).as("h0"))
      .select(col(idCol), (col("h0") % P).as("hp"))
    val aggs = minhashAB.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hp") + lit(b)) % P).as(s"m$i")
    }
    exploded.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Band keys: md5 over each band's `rowsPerBand` minhash values. */
  def withBandKeys(sig: DataFrame): DataFrame =
    (0 until numBands).foldLeft(sig) { (df, b) =>
      df.withColumn(s"band$b", md5(concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)))
    }

  /**
   * LSH candidate pairs: docs sharing ≥1 band bucket, with the number of
   * shared bands. The join key is (band index, bucket hash) — the classic
   * band-bucket equi-join; no all-pairs comparison ever happens.
   */
  def minhashCandidates(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // fused native kernel: tokens → shingles → 16 mins → 4 band keys in
    // one pass per row (no explode, no signature shuffle); bit-identical
    // to withBandKeys(minhashSignature(...)) — parity asserted in tests
    import org.apache.spark.sql.graft.ColumnBridge
    val bandsCol = ColumnBridge.column(graft.functions.MinHashBands(
      ColumnBridge.expression(graft.text.TextAnalysis.tokens(col(textCol)))))
    val long = docs.select(col(idCol), posexplode(bandsCol).as(Seq("bi", "bk")))
    val a = long.select(col(idCol).as("i"), col("bi"), col("bk"))
    val b = long.select(col(idCol).as("j"), col("bi"), col("bk"))
    a.join(b, Seq("bi", "bk")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_bands"))
  }

  /** MinHash band candidates ACROSS two corpora (probe docs from `left`
    * matched against `right`) — the retrieval twin of
    * [[minhashCandidates]]: same fused map-side signature kernel on both
    * sides, equi-join on (band, bucket), so a benchmark/query set finds
    * its near-matches in a 100 TB corpus without any all-pairs stage.
    * Returns (i = left id, j = right id, n_bands). */
  def minhashCandidatesAcross(left: DataFrame, right: DataFrame,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def bands(df: DataFrame, out: String) = {
      val bc = ColumnBridge.column(graft.functions.MinHashBands(
        ColumnBridge.expression(graft.text.TextAnalysis.tokens(col(textCol)))))
      df.select(col(idCol).as(out), posexplode(bc).as(Seq("bi", "bk")))
    }
    bands(left, "i").join(bands(right, "j"), Seq("bi", "bk"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_bands"))
  }

  // --------------------------------------------------------- exact jaccard

  /**
   * Exact n-gram Jaccard over BLOCKED pairs (sorted-neighborhood style:
   * same language + same leading-tokens prefix). Exact verification stage
   * downstream of LSH candidates; the blocking key bounds the join.
   */
  def ngramJaccardBlocked(docs: DataFrame, blockKey: Column,
                          textCol: String = "text", idCol: String = "doc_id",
                          threshold: Double = 0.8): DataFrame = {
    // Both sides of the self-join shingle the corpus independently —
    // persistence is left to the CALLER (persist the signature projection
    // and unpersist after materializing), so a long-lived session doesn't
    // accumulate cached partitions the operator can never release.
    val withSh = docs.select(col(idCol), blockKey.as("bk"),
      shingles(col(textCol)).as("sh"))
    val a = withSh.select(col(idCol).as("i"), col("bk"), col("sh").as("sha"))
    val b = withSh.select(col(idCol).as("j"), col("bk"), col("sh").as("shb"))
    a.join(b, Seq("bk")).filter(col("i") < col("j"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      // threshold on the UNROUNDED ratio: a pair at true jaccard
      // 0.79995 rounds to 0.8000 and would pass a rounded-value test —
      // the exact-verification stage must not certify sub-threshold pairs
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select("i", "j", "jaccard")
  }

  // ------------------------------------------------------------ containment

  /**
   * Shingle-containment (quotation/subset) pairs: documents sharing
   * ≥ `thresholdPpm` of the smaller side's RARE 3-shingles — the
   * asymmetric overlap Jaccard misses (a short doc embedded verbatim in
   * a long one has tiny Jaccard but high containment). Candidates block
   * on shared rare shingles: shingles in more than `dfCap` docs are
   * dropped FIRST (stop-shingles carry no signal and are the quadratic
   * hot-spot), so every bucket's pair fan-out is bounded by C(dfCap, 2)
   * — never all-pairs. Containment is inter·10⁶ div min(|A|,|B|) over
   * the rare-shingle sets, all BIGINT (q213's oracle replays it
   * term-for-term). Returns (i, j, inter, na_i, na_j, cont_ppm).
   */
  def containmentPairs(docs: DataFrame, dfCap: Int, thresholdPpm: Long,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    import graft.ops.Exprs
    val sh = docs
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol))).as("sg"))
      .select(col("doc_id"), Exprs.md5Long(col("sg")).as("h"))
      .distinct()
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("dfh"))
    val rare = sh
      .join(dfh.filter(col("dfh") <= dfCap).select("h"), Seq("h"), "left_semi")
      .localCheckpoint() // read 3×: sizes + both sides of the pair join
    val nsz = rare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pr = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
    pr.join(nsz.select(col("doc_id").as("i"), col("n").as("na_i")), Seq("i"))
      .join(nsz.select(col("doc_id").as("j"), col("n").as("na_j")), Seq("j"))
      .withColumn("cont_ppm",
        expr("inter * 1000000 div least(na_i, na_j)"))
      .filter(col("cont_ppm") >= thresholdPpm)
      .select(col("i"), col("j"), col("inter"), col("na_i"), col("na_j"),
        col("cont_ppm"))
  }

  // ---------------------------------------------------------------- simhash

  val simhashBits = 60

  /**
   * 60-bit SimHash fingerprint over a pre-hashed token array column:
   * each token's hash contributes ±1 per bit; fingerprint bit = sign of
   * the sum. Native one-pass kernel ([[graft.functions.SimHash60]]) —
   * the expression-only spelling (60 unrolled `aggregate`s) is
   * interpreted per element, 60 passes over the array.
   */
  def simhashFromHashes(hashedToks: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SimHash60(
      ColumnBridge.expression(hashedToks)))
  }

  /** Adds `fp` (60-bit SimHash of textCol) via the native tokenize→hash
   * kernel chain (Md5LongArray → SimHash60 — both codegen'd; the
   * `transform(tokens, md5Long)` spelling interprets the hash per
   * token). */
  def withSimhash(docs: DataFrame, textCol: String = "text",
                  fpCol: String = "fp"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val hashed = ColumnBridge.column(graft.functions.Md5LongArray(
      ColumnBridge.expression(TextAnalysis.tokens(col(textCol)))))
    docs.withColumn(fpCol, simhashFromHashes(hashed))
  }

  /** Hamming distance between two 60-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: block on 4 15-bit chunks (two fingerprints
   * within hamming distance ≤3 of each other must agree exactly on ≥1 of
   * the 4 chunks — pigeonhole), then verify hamming ≤ maxDist. Equi-join
   * on (chunk index, chunk value); no all-pairs scan.
   *
   * RECALL GUARANTEE: complete only for `maxDist ≤ 3` (= numChunks−1);
   * pairs at distance 4+ can differ in all 4 chunks and would be silently
   * dropped, so larger radii are rejected. A wider radius needs ≥maxDist+1
   * chunks, and at a fixed 60 bits that collapses blocking selectivity
   * (6–7-bit chunks ⇒ ~2⁶ buckets ⇒ near-quadratic candidate volume) —
   * use MinHash/Jaccard for looser similarity instead.
   */
  def simhashCandidates(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"simhashCandidates guarantees full recall only for maxDist in [0,3] " +
        s"(4-chunk pigeonhole); got $maxDist")
    val fp = withSimhash(docs, textCol).select(col(idCol), col("fp"))
    val chunked = fp.select(col(idCol), col("fp"), posexplode(
      array((0 until 4).map(c =>
        shiftright(col("fp"), c * 15).bitwiseAND(0x7FFF)): _*)).as(Seq("ci", "cv")))
    val a = chunked.select(col(idCol).as("i"), col("fp").as("fpa"), col("ci"), col("cv"))
    val b = chunked.select(col(idCol).as("j"), col("fp").as("fpb"), col("ci"), col("cv"))
    a.join(b, Seq("ci", "cv")).filter(col("i") < col("j"))
      .select(col("i"), col("j"), hamming(col("fpa"), col("fpb")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ------------------------------------------------- duplicate clusters

  /** Large-star phase (Kiveris et al., "Connected Components in
   * MapReduce and Beyond"): every neighbor v > u is re-attached to
   * m(u) = min(Γ(u) ∪ {u}). One groupBy + one join on the node id;
   * output edges are oriented large→small with no self loops. */
  private def largeStar(edges: DataFrame, p: Int): DataFrame = {
    // parallelism is set STRUCTURALLY: one repartition(p, a) feeds both
    // the groupBy and the join (each requires clustering on `a`, which
    // hashpartitioning(a, p) satisfies → no further exchange), so the
    // loop's width is independent of spark.sql.shuffle.partitions and
    // concurrent queries in the same session
    val bi = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(p, col("a"))
    val mins = bi.groupBy("a").agg(min("b").as("mnb"))
      .select(col("a"), least(col("mnb"), col("a")).as("m"))
    bi.join(mins, Seq("a")).filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
  }

  /** Small-star phase: for each node u (edges arrive oriented a=u > b),
   * all smaller neighbors and u itself re-attach to m = min(Γ⁻(u)).
   * Same dataflow shape as [[largeStar]]. */
  private def smallStar(edges: DataFrame, p: Int): DataFrame = {
    val keyed = edges.repartition(p, col("a"))
    val mins = keyed.groupBy("a").agg(min("b").as("m"))
    val moved = keyed.join(mins, Seq("a"))
      .filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
    moved.union(mins.select(col("a"), col("m").as("b")))
  }

  /**
   * Connected components over a near-dup pair table → per-node cluster
   * label (the minimum node id reachable from it). This is the step that
   * turns PAIRS into dedup DECISIONS: within a component, the row whose
   * id equals the label is the canonical survivor.
   *
   * Distributed path: two-phase star contraction (large-star ∘
   * small-star, Kiveris et al.) — each round is two groupBy+join pairs
   * on the node id (no driver-side graph) and the edge set contracts to
   * a star forest rooted at each component minimum in O(log n) rounds
   * REGARDLESS of component diameter (min-label propagation, the
   * previous loop here, needed O(diameter) rounds and a 20-deep chain
   * already tripped its iteration cap). Edges are `localCheckpoint`ed
   * each round so the plan doesn't grow with iterations, and the round
   * count is still guarded by `maxIters` — 20 two-phase rounds cover
   * components beyond 2^20 nodes deep, so the guard firing means a bug,
   * and it throws rather than returning partial labels.
   *
   * Adaptive small-graph path: the edge count is already materialized
   * (it sizes the iteration parallelism), so when the pair table fits
   * comfortably on the driver (`driverMaxEdges`, default 2^20 ≈ 16 MB of
   * longs) the closure runs as plain union-find there — the per-round
   * scheduler cost of the distributed loop exceeds the whole computation
   * for graphs this small. LSH pair tables are orders of magnitude
   * smaller than the corpus, but at 100 TB they can still be billions of
   * edges, so the distributed loop remains the scale path.
   */
  def connectedComponents(pairs: DataFrame, iCol: String = "i",
                          jCol: String = "j", maxIters: Int = 20,
                          driverMaxEdges: Long = 1L << 20): DataFrame = {
    // materialize the pair plan ONCE — the bidirectional union would
    // otherwise execute the (expensive) candidate pipeline twice
    val matPairs = pairs.select(col(iCol).cast("long").as("a"),
        col(jCol).cast("long").as("b"))
      .localCheckpoint()
    val nPairs = matPairs.count()
    if (nPairs <= driverMaxEdges) {
      val sess = pairs.sparkSession
      import sess.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find with full path compression: chain-shaped
      // components near the edge threshold would overflow the driver
      // stack under a recursive spelling
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root)
          root = parent(root)
        var cur = x
        while (parent(cur) != root) {
          val next = parent(cur); parent(cur) = root; cur = next
        }
        root
      }
      matPairs.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return parent.keys.toSeq.map(v => (v, find(v))).toDF("id", "lbl")
    }
    // size the iteration parallelism from the MATERIALIZED edge count —
    // the pair table is orders of magnitude smaller than the corpus that
    // produced it, and running every per-iteration stage at the corpus's
    // shuffle width made task scheduling dominate (measured 6.6s of
    // 7.9s on a ~300-edge graph). ~500k edges per partition, capped.
    // iteration width p is applied structurally (repartition inside the
    // star phases and before each distinct) — NO session-conf mutation,
    // so two CC queries can run concurrently in one session without
    // racing on spark.sql.shuffle.partitions (ConcurrencySpec)
    val p = math.max(1, math.min(2000, (2 * nPairs / 500000L).toInt + 1))
    var edges = matPairs
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .repartition(p, col("a"), col("b")).distinct().localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(edges, p), p)
        .repartition(p, col("a"), col("b")).distinct().localCheckpoint()
      // stable edge set = star forest (each node → its component min):
      // both sides are distinct, so same count + empty one-way except
      // means set equality
      converged = next.count() == edges.count() && next.except(edges).isEmpty
      edges = next
      it += 1
    }
    // the cap firing at 20 two-phase rounds would need a component
    // deeper than ~2^20 nodes — treat it as a bug and fail loudly
    // rather than return partial labels (q60's oracle checks the full
    // transitive closure)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters star rounds; " +
        s"labels would be partial — raise maxIters")
    // star forest: every non-root points at its component min. Roots
    // and nodes that only ever appeared in self-loop pairs are absent
    // from the contracted edges — label them with themselves via the
    // original endpoint set.
    val nodes = matPairs.select(col("a").as("id"))
      .union(matPairs.select(col("b").as("id"))).distinct()
    nodes.join(edges.select(col("a").as("id"), col("b").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /**
   * PageRank over an undirected pair graph (power iteration, damping
   * 0.85): per-edge contributions are quantized to integer micro-units
   * — `round(0.85 · r(u) / deg(u))` — before the per-node sum, so every
   * iteration is exact integer arithmetic at any partitioning (the
   * whole run replays in SQL as `iters` unrolled join+group CTEs).
   * Ranks start uniform at 1e6 micro; each step is one edge-list join +
   * one node-keyed aggregate — the standard distributed power-iteration
   * shape (edge list checkpointed once, rank table checkpointed per
   * round to keep lineage flat). Bidirectional edges mean no dangling
   * nodes: every node in a pair re-receives mass each round.
   *
   * Returns (v, r): node id and its micro-unit rank after `iters`.
   */
  def pageRankMicro(pairs: DataFrame, iters: Int = 3,
                    iCol: String = "i", jCol: String = "j"): DataFrame = {
    // normalize the undirected pair input like the sibling graph
    // operators: drop self-loops and collapse duplicate/both-orientation
    // rows — they would silently double degrees and contributions
    val und = pairs.select(col(iCol).cast("long").as("a"),
        col(jCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val withDeg = edges.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("v"), lit(1000000L).as("r"))
    (1 to iters).foreach { _ =>
      ranks = withDeg.join(ranks, col("src") === col("v"))
        .select(col("dst"),
          round(lit(0.85) * col("r") / col("d"), 0).cast("long").as("c"))
        .groupBy("dst")
        .agg((lit(150000L) + sum("c")).as("r"))
        .select(col("dst").as("v"), col("r"))
        .localCheckpoint()
    }
    ranks
  }

  /**
   * Triangle enumeration over an undirected pair graph by DEGREE
   * ORIENTATION: every edge is directed from its lower-(degree, id)
   * endpoint to the higher, so each node's out-neighborhood is bounded
   * by O(√m) regardless of raw degree — the celebrity node that makes
   * the naive id-ordered wedge join quadratic gets almost no OUT-edges
   * and generates almost no wedges. Wedge closure is then two equi-joins
   * on the oriented edge list (no cartesian anywhere), the standard
   * distributed triangle-counting shape. Each triangle is found exactly
   * once (orientation is acyclic and total), and the output normalizes
   * node order to a < b < c — identical to what an id-ordered
   * enumeration yields, so an oracle can replay with the simple
   * id-ordered 3-way join while this side runs the skew-safe plan.
   *
   * Input: pairs(iCol, jCol); the edge list is deduped and
   * self-loop-filtered, then checkpointed once — degree, orientation
   * and both wedge joins read the materialized table, not the
   * (possibly expensive) candidate pipeline.
   */
  def triangles(pairs: DataFrame, iCol: String = "i",
                jCol: String = "j"): DataFrame = {
    val e = pairs.select(
        least(col(iCol).cast("long"), col(jCol).cast("long")).as("a"),
        greatest(col(iCol).cast("long"), col(jCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = ed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("x"),
        when(aFirst, col("b")).otherwise(col("a")).as("y"))
      .localCheckpoint()
    val wedges = o.as("e1").join(o.as("e2"), col("e1.y") === col("e2.x"))
      .select(col("e1.x").as("u"), col("e1.y").as("v"), col("e2.y").as("w"))
    val tri = wedges.join(
      o.as("e3"),
      col("u") === col("e3.x") && col("w") === col("e3.y"),
      "left_semi")
    val sorted = array_sort(array(col("u"), col("v"), col("w")))
    tri.select(element_at(sorted, 1).as("a"), element_at(sorted, 2).as("b"),
      element_at(sorted, 3).as("c"))
  }
}

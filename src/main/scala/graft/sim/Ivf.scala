package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.ColumnBridge
import graft.curation.Curation
import graft.io.FileTree.rmTree
import graft.functions.NearestCentroids

/**
 * IVF (inverted-file) ANN: k-means-partition the corpus once, probe only
 * the `nProbe` nearest cells per query. Training follows the faiss
 * recipe: centroids are learned from a BOUNDED deterministic sample
 * (hash-keyed, ~64k vectors regardless of corpus size) with seeded
 * k-means++ + Lloyd on the driver — the sample, not the corpus, bounds
 * training cost, and the per-iteration scheduler cost of a distributed
 * k-means is wasted on a table that small. Cell assignment and query
 * probing are a native codegen'd expression over the broadcast centroid
 * table ([[graft.functions.NearestCentroids]]), so at 100 TB the
 * assignment is a pure map-side scan; only candidates shuffle.
 *
 * Complements [[Similarity.lshTopK]]: IVF adapts to the data distribution
 * (learned centroids) where LSH hyperplanes are data-oblivious.
 */
object Ivf {

  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
                            centers: Array[Array[Double]])

  /** The `(cluster, centroid)` table every build and retrain writes and
    * [[centroids]] reads back. */
  private val centroidSchema = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType), nullable = false)))

  /** Seeded k-means++ init + Lloyd iterations, driver-side. Deterministic:
   * the sample arrives sorted by id and the RNG is fixed-seed. */
  private[graft] def kmeansFit(vecs: Array[Array[Double]], k: Int,
                               maxIter: Int = 20, seed: Long = 42): Array[Array[Double]] = {
    require(vecs.nonEmpty, "kmeansFit needs a non-empty training sample")
    val n = vecs.length
    val kk = math.min(k, n)
    val dim = vecs(0).length
    val rng = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // k-means++ seeding
    val centers = new Array[Array[Double]](kk)
    centers(0) = vecs(rng.nextInt(n)).clone()
    val minD = vecs.map(v => sq(v, centers(0)))
    var c = 1
    while (c < kk) {
      val total = minD.sum
      var pick = 0
      if (total > 0) {
        val target = rng.nextDouble() * total
        var cum = 0.0
        var i = 0
        var found = -1
        while (i < n && found < 0) {
          cum += minD(i)
          if (cum >= target) found = i
          i += 1
        }
        pick = if (found < 0) n - 1 else found
      } else pick = rng.nextInt(n)
      centers(c) = vecs(pick).clone()
      var i = 0
      while (i < n) { minD(i) = math.min(minD(i), sq(vecs(i), centers(c))); i += 1 }
      c += 1
    }
    // Lloyd
    val assign = new Array[Int](n)
    var moved = true
    var iter = 0
    while (moved && iter < maxIter) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          val d = sq(vecs(i), centers(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val s = sums(assign(i)); counts(assign(i)) += 1
        var d = 0
        while (d < dim) { s(d) += vecs(i)(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (counts(j) > 0) {
          var d = 0
          while (d < dim) { centers(j)(d) = sums(j)(d) / counts(j); d += 1 }
        } else centers(j) = vecs(rng.nextInt(n)).clone() // empty cell reseed
        j += 1
      }
      iter += 1
    }
    centers
  }

  /** Nearest-`n` centroid indices of a vector column (native kernel). */
  private[graft] def nearestK(vec: Column, centers: Array[Array[Double]], n: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(vec), centers, n))

  /** Build the index: learn `nClusters` centroids from a deterministic
   * hash sample of ≤ `trainSample` vectors, then assign every corpus
   * vector to its nearest centroid map-side.
   *
   * Training and assignment run on UNIT vectors: candidates are ranked
   * by cosine, and clustering raw vectors by L2 would split
   * same-direction vectors of different magnitude across cells (the
   * faiss recipe for IP/cosine metrics normalizes before training) —
   * at a fixed probed fraction, normalizing buys recall for free.
   * Rows with a null `vecCol` are dropped: they can never be a cosine
   * candidate, and half of them would otherwise crash the driver-side
   * sample while the other half silently vanished from probes. */
  def buildIndex(corpus0: DataFrame, nClusters: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 trainSample: Long = 65536L): IvfIndex = {
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    buildIndexWith(corpus,
      unitTrainSample(corpus, idCol, vecCol, trainSample),
      nClusters, idCol, vecCol)
  }

  /** The deterministic ≤`trainSample` unit-vector hash sample both
    * training steps draw from ([[buildIndex]] and [[Pq.fit]] take the
    * IDENTICAL sample by construction — same filter, same unit
    * expression, same id order). Exposed so a COMPOSED build
    * ([[IvfPq.persistIndex]]) collects it once instead of paying the
    * corpus count + sample scan per half. `corpus` must already be
    * null-filtered on `vecCol`. */
  private[sim] def unitTrainSample(corpus: DataFrame, idCol: String,
                                   vecCol: String,
                                   trainSample: Long): Array[Array[Double]] = {
    val unit = Similarity.unitVecExpr(col(vecCol))
    val n = corpus.count()
    val bp = if (n <= trainSample) 10000L
             else math.max(1L, trainSample * 10000L / n)
    corpus
      .filter(Curation.samplingKey(col(idCol)) < lit(bp))
      .select(col(idCol), unit.as("_v"))
      .orderBy(idCol) // stable driver order → deterministic k-means++ draw
      .collect()
      .map(_.getSeq[Double](1).toArray)
  }

  /** [[buildIndex]] over a PRE-COLLECTED training sample. `corpus` must
    * already be null-filtered on `vecCol`. */
  private[sim] def buildIndexWith(corpus: DataFrame,
                                  sample: Array[Array[Double]],
                                  nClusters: Int, idCol: String,
                                  vecCol: String): IvfIndex = {
    val unit = Similarity.unitVecExpr(col(vecCol))
    val train = if (sample.length >= nClusters) sample
      // fallback ordered by id: an unordered limit would make the
      // centroids depend on partition scan order, breaking the
      // documented deterministic-training guarantee
      else corpus.orderBy(col(idCol)).select(unit)
        .limit(nClusters).collect().map(_.getSeq[Double](0).toArray)
    val centers = kmeansFit(train, nClusters)
    val assigned = corpus.withColumn("cluster",
      element_at(nearestK(unit, centers, 1), 1))
    val spark = corpus.sparkSession
    val rows = centers.zipWithIndex.map { case (v, i) => Row(i, v.toSeq) }
    val centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), centroidSchema)
    IvfIndex(assigned, centroids, centers)
  }

  // ----------------------------------------------- build once, probe many

  /** Persist a built index to `dir` — the ONE owner of the on-disk index
   * layout, IVF and IVF-PQ alike: the assignment table `assigned`
   * `(idCol, cluster, cu)` — unit vectors precomputed so probes never
   * touch the raw corpus — the `(cluster, centroid)` table `centroids`,
   * the `_seqcol` marker of a sequenced index, pending deletes in
   * `tombstones`, and, on the [[IvfPq]] layout, the `codes` column plus
   * the `codebooks` table. An index is IVF-PQ exactly when it holds
   * `codebooks`. This is the "build once, probe many" split a real ANN
   * service runs: the build pays the corpus scan + training ONCE; every
   * probe afterwards reads only the index. */
  def persistIndex(corpus: DataFrame, dir: String, nClusters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   trainSample: Long = 65536L,
                   seqCol: Option[String] = None): Unit = {
    val index = buildIndex(corpus, nClusters, idCol, vecCol, trainSample)
    writeIndex(dir,
      Similarity.withUnitVec(index.assigned, vecCol, "cu")
        .select((Seq(col(idCol), col("cluster"), col("cu")) ++
          seqCol.map(col)): _*),
      index.centroids, seqCol)
  }

  /** The write tail both layouts' builds share. A rebuild into a reused
    * dir starts from a CLEAN maintenance state: stale tombstones would
    * silently kill the new rows (or trip the mixed-mode require when the
    * seq mode changes), and a stale-but-complete staging dir
    * (assigned_compacting / assigned_retraining / centroids_new) would
    * be swapped IN over the fresh tables by the next writer entry's
    * recoverSwap. The delete mode is then DECLARED (`_seqcol` names the
    * per-record version column) so later maintenance is validated
    * against it instead of inferred from schemas. */
  private[sim] def writeIndex(dir: String, assigned: DataFrame,
                              centroids: DataFrame,
                              seqCol: Option[String]): Unit = {
    Seq("tombstones", "assigned_old", "assigned_compacting",
        "assigned_retraining", "centroids_old", "centroids_new")
      .foreach(sub => rmTree(new java.io.File(s"$dir/$sub")))
    assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    val marker = new java.io.File(s"$dir/_seqcol")
    seqCol match {
      case Some(sc) =>
        java.nio.file.Files.write(marker.toPath, (sc + "\n").getBytes("UTF-8"))
        ()
      case None =>
        marker.delete()
        ()
    }
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** The index's centroid table in cluster order — `(cluster, centroid)`
    * per cell, the one reader every probe, append, retrain and gate
    * goes through. Bounded: nClusters rows, one job (the schema is
    * known, so no footer-inference job). */
  private[graft] def centroids(spark: SparkSession,
                               dir: String): Array[(Int, Array[Double])] =
    spark.read.schema(centroidSchema).parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** The pending tombstone table, or None when no delete is pending
    * (never deleted from, or every delete folded by a compaction). */
  private[graft] def tombstones(spark: SparkSession,
                                dir: String): Option[DataFrame] =
    if (new java.io.File(s"$dir/tombstones").isDirectory)
      Some(readTable(spark, s"$dir/tombstones"))
    else None

  /** One index table, its schema read from a footer on the driver
    * ([[graft.io.Sources.footerSchema]]), not by an inference job.
    * Uncached: a rename swap puts a table of another layout (`codes`, a
    * seq column) under the same path. */
  private def readTable(spark: SparkSession, path: String): DataFrame =
    graft.io.Sources.footerSchema(spark, new java.io.File(path))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The seq column the index was built with, or None. */
  private def seqColOf(dir: String): Option[String] = {
    val m = new java.io.File(s"$dir/_seqcol")
    if (!m.isFile) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(m.toPath), "UTF-8").trim)
  }

  /** Index MAINTENANCE: route a new vector batch into an EXISTING
   * persisted index WITHOUT re-clustering — the append path a running
   * ANN service takes between periodic re-trains. The centroid table
   * is read once to the driver (bounded: nClusters rows), the batch is
   * unit-normalized and assigned map-side by the same
   * [[graft.functions.NearestCentroids]] kernel the build uses, and
   * the rows append to the index's assignment table. Null vectors are
   * dropped (the withUnitVec gate). Because probing uses the SAME
   * centroids before and after, an append only ever ADDS candidates to
   * each probed cell — recall against any fixed truth set is provably
   * monotone (a non-truth candidate can never displace a truth member
   * from a top-k that ranks by the global order), which q318 gates.
   * On the [[IvfPq]] layout the STORED codebooks also encode the batch
   * map-side into its `codes` column (no PQ re-fit; one more bounded
   * driver read, m·ksub rows). */
  def appendToIndex(delta: DataFrame, dir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    seqCol: Option[String] = None): Unit = {
    val spark = delta.sparkSession
    val centers = centroids(spark, dir).map(_._2)
    val codes = IvfPq.loadModel(spark, dir)
      .map(model => Pq.codesFromUnit(col("cu"), model).as("codes"))
    val out = Similarity.withUnitVec(delta, vecCol, "cu")
      .withColumn("cluster", element_at(nearestK(col("cu"), centers, 1), 1))
      .select((Seq(col(idCol), col("cluster"), col("cu")) ++ codes ++
        seqCol.map(col)): _*)
    // a sequenced and an unsequenced append must not mix in one
    // directory: parquet appends with differing schemas read back with
    // whichever footer the scan samples first — the seq column could
    // silently vanish. Fail HERE, not at some later probe.
    val aDir = new java.io.File(s"$dir/assigned")
    if (aDir.isDirectory) {
      val existing = readTable(spark, aDir.getAbsolutePath).columns.toSet
      require(existing == out.columns.toSet,
        s"append schema ${out.columns.toSet} does not match the " +
          s"index's $existing under $dir — pass the same seqCol the " +
          "index was built with")
    }
    out.write.mode("append").parquet(s"$dir/assigned")
  }

  /** Index MAINTENANCE, deletion side: TOMBSTONES. Ids append to a
   * `dir/tombstones` table; every probe applies them via
   * [[liveAssigned]], so a delete is visible IMMEDIATELY while costing
   * O(|ids|) — never an assignment-table rewrite (the faiss
   * `remove_ids` / lakehouse deletion-vector pattern: at 100 TB a
   * delete that rewrites the index is a non-starter). The rewrite is
   * deferred and batched into [[compactIndex]]. */
  def deleteFromIndex(ids: DataFrame, dir: String,
                      idCol: String = "vec_id",
                      seqCol: Option[String] = None): Unit = {
    // the delete mode must match the one the index DECLARED at build
    // time (`_seqcol` marker) — a mismatch fails at WRITE time, not at
    // some later probe's require. Extra NON-seq assignment columns
    // (e.g. the IVF-PQ layout's codes) are payload and stay legal; a
    // marker-less index (plain or PQ build) only takes unsequenced
    // deletes.
    require(seqColOf(dir) == seqCol,
      s"index under $dir was built with seqCol=${seqColOf(dir)} but " +
        s"this delete passes $seqCol — sequenced and unsequenced " +
        "maintenance cannot mix")
    (seqCol match {
      case None => ids.select(col(idCol)).distinct()
      // SEQUENCE-NUMBERED tombstone (the Lucene/Elasticsearch seqno
      // semantics): "delete `id` as of seq S" kills only assignment
      // rows with seq < S, so a concurrent re-add AT-or-after S
      // survives with NO compact-first ordering — delete and re-add of
      // one id resolve by sequence, not by arrival order. An index is
      // sequenced or not from its build ([[persistIndex]]'s seqCol);
      // the two tombstone shapes never mix in one directory.
      case Some(sc) => ids.groupBy(col(idCol)).agg(max(col(sc)).as(sc))
    }).write.mode("append").parquet(s"$dir/tombstones")
    ()
  }

  /** The assignment table with tombstones applied — the ONLY way probes
   * read it, and STRICTLY READ-ONLY (a reader that deletes — the old
   * recoverSwap-on-read — could destroy an in-flight writer's
   * `assigned_compacting`; recovery belongs to writer entry alone).
   * Compacted state (no tombstone table) is the bare scan with zero
   * extra I/O; pending deletes cost one anti-join against the (small,
   * delete-sized) tombstone table. Crash readability without mutating:
   * the rename-based swap ([[compactIndex]]) keeps a complete copy of
   * the assignment table on disk in every intermediate state —
   * `assigned` when present, else the `_SUCCESS`-complete
   * `assigned_compacting`, else `assigned_old` — and applying the
   * pending tombstones to ANY of those copies yields the same live set
   * (a tombstone already folded into a copy anti-joins to nothing:
   * idempotent). */
  private[graft] def liveAssigned(spark: SparkSession, dir: String,
                                  idCol: String = "vec_id"): DataFrame = {
    val src =
      if (new java.io.File(s"$dir/assigned").isDirectory) s"$dir/assigned"
      else if (new java.io.File(s"$dir/assigned_compacting/_SUCCESS").isFile)
        s"$dir/assigned_compacting"
      else if (new java.io.File(s"$dir/assigned_old").isDirectory)
        s"$dir/assigned_old"
      else s"$dir/assigned" // fail in the read with the canonical path
    val assigned = readTable(spark, src)
    tombstones(spark, dir).fold(assigned) { tombs =>
      tombs.columns.filterNot(_ == idCol).headOption match {
        case None => assigned.join(tombs, Seq(idCol), "left_anti")
        case Some(sc) => // sequenced index: a tombstone kills only
          // OLDER assignment rows (seq < the id's max tombstone seq) —
          // still a hash anti-join keyed on the id, the seq test is a
          // residual predicate, so the scale shape is unchanged
          require(assigned.columns.contains(sc),
            s"tombstones under $dir carry seq column '$sc' but the " +
              "assignment table does not — sequenced and unsequenced " +
              "maintenance cannot mix on one index")
          val t = tombs.groupBy(col(idCol).as("_tid"))
            .agg(max(col(sc)).as("_tseq"))
          assigned.join(t,
            col(idCol) === col("_tid") && col(sc) < col("_tseq"),
            "left_anti")
      }
    }
  }

  /** Steps 3–6 of the [[partialRetrain]] swap — assigned pair first,
   * then the centroid pair — RESUMABLE from any crash point once both
   * staged tables are complete (or already partially swapped in). Each
   * pair is two atomic renames; every intermediate state re-enters
   * here and completes, because each rename is conditioned on what is
   * still on disk, never on where the last run died. `dropTombstones`
   * is true only on the live writer path: recovery keeps them
   * ([[deleteFromIndex]] may have appended NEW ids post-crash; folded
   * ones re-apply as no-ops). */
  private def finishRetrainSwap(dir: String, dropTombstones: Boolean): Unit = {
    val a = new java.io.File(s"$dir/assigned")
    val old = new java.io.File(s"$dir/assigned_old")
    val ret = new java.io.File(s"$dir/assigned_retraining")
    if (ret.isDirectory) {
      if (a.isDirectory) {
        rmTree(old) // defensive: free the rename target
        require(a.renameTo(old), s"retrain swap failed for $dir")
      }
      require(ret.renameTo(a), s"retrain swap failed for $dir")
    }
    rmTree(old)
    if (dropTombstones) rmTree(new java.io.File(s"$dir/tombstones"))
    val c = new java.io.File(s"$dir/centroids")
    val cOld = new java.io.File(s"$dir/centroids_old")
    val cNew = new java.io.File(s"$dir/centroids_new")
    if (cNew.isDirectory) {
      if (c.isDirectory) {
        rmTree(cOld) // defensive: free the rename target
        require(c.renameTo(cOld), s"retrain centroid swap failed for $dir")
      }
      require(cNew.renameTo(c), s"retrain centroid swap failed for $dir")
    }
    rmTree(cOld)
  }

  /** Complete (or discard) a [[compactIndex]] or [[partialRetrain]]
   * swap interrupted by a crash. Swaps are rename-only, so directories
   * are always either fully present or fully absent — no
   * partially-deleted ambiguity — and the `_SUCCESS` marker Spark
   * writes with each staged table disambiguates complete from garbage.
   * Every state maps to exactly one action:
   *
   *   - RETRAIN pair (`assigned_retraining` + `centroids_new` — the
   *     two staged tables are one logical transaction, distinguishable
   *     from a compaction by the staging name): roll FORWARD
   *     ([[finishRetrainSwap]]) only when BOTH are complete; if
   *     staging never finished, discard both — the live
   *     assigned/centroids pair is untouched, because the renames only
   *     start after both `_SUCCESS` markers exist. `centroids_new`
   *     complete WITHOUT `assigned_retraining` means the assigned swap
   *     already finished (the staging dir is renamed, never deleted) —
   *     finish the centroid swap, including the previously-unrecovered
   *     window BETWEEN the two centroid renames (no `centroids` at the
   *     canonical path, complete `centroids_old` and `centroids_new`
   *     both on disk): the new table renames in and probes heal,
   *     instead of every probe failing loudly until a hand-restore;
   *   - centroid-pair leftovers without `centroids_new`: a missing
   *     `centroids` beside `centroids_old` restores the old table
   *     (defensive); a lingering `centroids_old` beside `centroids` is
   *     cleanup debt, reclaimed;
   *   - `assigned_compacting/_SUCCESS` present → the compacted table is
   *     COMPLETE → always swap it in (when `assigned` is also present —
   *     the pre-rename crash — this merely saves redoing the
   *     compaction; when absent it finishes the interrupted swap);
   *   - `assigned_compacting` without `_SUCCESS` → half-written garbage
   *     → discard it (`assigned` is still intact: the renames only run
   *     after `_SUCCESS` exists);
   *   - a lingering `assigned_old` beside `assigned` → the swap
   *     finished but cleanup didn't → reclaim it.
   *
   * Recovery NEVER drops the tombstone table: [[deleteFromIndex]] may
   * have appended NEW tombstones between the crash and this recovery,
   * and dropping would silently lose them. Tombstones already folded
   * into the swapped-in copy re-apply as no-ops (their ids are gone, the
   * anti-join matches nothing), so keeping them is always correct; the
   * next completed [[compactIndex]] run folds and drops the lot. */
  private[sim] def recoverSwap(dir: String): Unit = {
    def complete(f: java.io.File) = new java.io.File(f, "_SUCCESS").isFile
    // --- retrain transaction: the staged PAIR rolls forward or back ---
    val ret = new java.io.File(s"$dir/assigned_retraining")
    val cNew = new java.io.File(s"$dir/centroids_new")
    if (ret.isDirectory) {
      if (complete(ret) && cNew.isDirectory && complete(cNew))
        finishRetrainSwap(dir, dropTombstones = false)
      else { rmTree(ret); rmTree(cNew) } // staging died: roll back
    } else if (cNew.isDirectory) {
      if (complete(cNew)) finishRetrainSwap(dir, dropTombstones = false)
      else {
        // markerless cNew with the assigned swap done is unreachable
        // under the protocol (both markers precede any rename);
        // defensively keep whichever centroid table is complete
        val c = new java.io.File(s"$dir/centroids")
        val cOld = new java.io.File(s"$dir/centroids_old")
        if (!c.isDirectory && cOld.isDirectory)
          require(cOld.renameTo(c), s"centroid recovery failed for $dir")
        rmTree(cNew)
      }
    } else {
      val c = new java.io.File(s"$dir/centroids")
      val cOld = new java.io.File(s"$dir/centroids_old")
      if (!c.isDirectory && cOld.isDirectory)
        require(cOld.renameTo(c), s"centroid recovery failed for $dir")
      else if (c.isDirectory && cOld.isDirectory) rmTree(cOld)
    }
    // --- compaction swap ---
    val assigned = new java.io.File(s"$dir/assigned")
    val compacting = new java.io.File(s"$dir/assigned_compacting")
    val old = new java.io.File(s"$dir/assigned_old")
    if (compacting.isDirectory) {
      if (new java.io.File(compacting, "_SUCCESS").isFile) {
        // complete compacted table: always swap it in
        if (assigned.isDirectory) {
          rmTree(old) // defensive: free the rename target
          require(assigned.renameTo(old), s"swap recovery failed for $dir")
        }
        require(compacting.renameTo(assigned),
          s"swap recovery failed for $dir")
      } else rmTree(compacting) // markerless: half-written garbage
    } else if (old.isDirectory && !assigned.isDirectory) {
      // defensive (unreachable under the protocol: compacting is renamed,
      // never deleted, once assigned moved aside): restore the old table
      require(old.renameTo(assigned), s"swap recovery failed for $dir")
    }
    if (old.isDirectory && assigned.isDirectory) rmTree(old)
  }

  /** Index COMPACTION: fold pending tombstones into the assignment
   * table. Write-new-then-swap, NOT read-overwrite: the live rows land
   * in a sibling directory first (one distributed anti-join pass), then
   * the swap is TWO ATOMIC RENAMES — `assigned` → `assigned_old`, then
   * `assigned_compacting` → `assigned` — so at every instant a complete
   * copy of the table exists on disk under a well-known name and the
   * index stays probeable throughout the heavy phase (readers never
   * mutate: [[liveAssigned]] just picks the surviving copy). Centroids
   * (and IVF-PQ codebooks) are untouched: no re-cluster, no re-fit,
   * exactly like [[appendToIndex]]. On a real object store the swap is
   * a manifest-pointer flip instead of the renames; here every crash
   * state is mechanically recoverable at writer entry ([[recoverSwap]])
   * keyed off the `_SUCCESS` marker — a markerless compacting dir is
   * garbage, a marked one always swaps in. Tombstones drop only at the
   * end of THIS completed run (recovery keeps them: they re-apply
   * idempotently). Returns (rows before, rows removed, rows after) —
   * footer-count reads. */
  def compactIndex(spark: SparkSession, dir: String,
                   idCol: String = "vec_id"): (Long, Long, Long) = {
    recoverSwap(dir)
    val before = readTable(spark, s"$dir/assigned").count()
    if (!new java.io.File(s"$dir/tombstones").isDirectory)
      return (before, 0L, before)
    liveAssigned(spark, dir, idCol)
      .write.mode("overwrite").parquet(s"$dir/assigned_compacting")
    // recovery keys off this marker — fail loudly NOW if the committer
    // was configured not to write it, not at some future crash
    require(new java.io.File(s"$dir/assigned_compacting/_SUCCESS").isFile,
      s"compaction wrote no _SUCCESS marker under $dir")
    val after = readTable(spark, s"$dir/assigned_compacting").count()
    val assigned = new java.io.File(s"$dir/assigned")
    val old = new java.io.File(s"$dir/assigned_old")
    require(assigned.renameTo(old), s"compaction swap failed for $dir")
    require(new java.io.File(s"$dir/assigned_compacting").renameTo(assigned),
      s"compaction swap failed for $dir")
    rmTree(old)
    rmTree(new java.io.File(s"$dir/tombstones"))
    (before, before - after, after)
  }

  /** Index MAINTENANCE, retrain side: re-cluster ONLY `cells` — the
   * cells a drift report (q329) flagged as funneled — into `kNew`
   * fresh sub-centroids, and reassign ONLY their rows. This closes the
   * loop the drift signal opens without the full-rebuild cost: training
   * reads a bounded deterministic sample of the flagged cells' rows
   * (the [[buildIndex]] recipe), every other cell's centroid AND row
   * assignments are byte-identical afterwards, and the reassignment is
   * one map-side pass over the flagged rows' STORED unit vectors (no
   * corpus re-read, no re-normalization). New cluster ids reuse the
   * flagged ids first, then extend past the current max, so untouched
   * ids never move — unless fewer new cells than flagged ones leave a
   * hole: then the rewrite renumbers every id dense, in order, because
   * each consumer takes the array POSITION [[graft.functions.
   * NearestCentroids]] returns as the stored id. The assignment AND centroid rewrites are ONE
   * staged transaction: both new tables land complete (`assigned_
   * retraining` + `centroids_new`, each `_SUCCESS`-gated) BEFORE any
   * rename, and [[recoverSwap]] at writer entry rolls the pair forward
   * from every crash state — including the window between the two
   * centroid renames, which previously stranded the index with no
   * `centroids` at the canonical path — or discards both stubs if
   * staging died, leaving the live pair untouched. (It also folds any
   * pending tombstones, being a rewrite anyway.) The [[IvfPq]] layout
   * needs no re-encoding: a PQ code is a function of the stored
   * codebooks and the vector alone — cell membership never enters it —
   * so the `codes` column rides the rewrite with the rest of the full
   * column set and `codebooks` stays untouched. A production
   * deployment roots both tables behind one
   * [[graft.lake.Versions]]-style manifest flip. At 100 TB the cost is
   * O(rows of the flagged cells) for the reassignment and a full-table
   * rewrite only because this layout stores `assigned` unpartitioned —
   * cluster-partitioned storage would rewrite just the flagged
   * directories. Returns (rows reassigned, the new cell ids). */
  def partialRetrain(spark: SparkSession, dir: String,
                     cells: Seq[Int], kNew: Int,
                     idCol: String = "vec_id",
                     trainSample: Long = 65536L): (Long, Seq[Int]) = {
    require(cells.nonEmpty, "partialRetrain needs at least one flagged cell")
    require(kNew >= 1, "partialRetrain needs kNew >= 1")
    recoverSwap(dir)
    val flagged = cells.toSet
    val current = centroids(spark, dir)
    val kept = current.filterNot { case (id, _) => flagged(id) }
    val newIds: Seq[Int] = {
      val maxId = current.map(_._1).max
      (cells ++ (maxId + 1 to maxId + kNew)).take(kNew)
    }
    val assigned = liveAssigned(spark, dir, idCol)
    val hot = assigned.filter(col("cluster").isin(cells: _*))
    val nHot = hot.count()
    require(nHot > 0, s"flagged cells $cells hold no rows under $dir")
    // bounded deterministic training sample of the flagged rows only
    val bp = if (nHot <= trainSample) 10000L
             else math.max(1L, trainSample * 10000L / nHot)
    val sample = hot
      .filter(graft.curation.Curation.samplingKey(col(idCol)) < lit(bp))
      .select(col(idCol), col("cu"))
      .orderBy(idCol) // stable driver order -> deterministic k-means++
      .collect().map(_.getSeq[Double](1).toArray)
    val train = if (sample.length >= math.min(kNew, nHot).toInt) sample
      else hot.orderBy(col(idCol)).select(col("cu"))
        .limit(kNew).collect().map(_.getSeq[Double](0).toArray)
    val newCenters = kmeansFit(train, kNew)
    val usedIds = newIds.take(newCenters.length)
    // stored id -> dense id (the identity unless a flagged id went unused)
    val dense = (kept.map(_._1) ++ usedIds).sorted.zipWithIndex.toMap
    val denseNew = usedIds.map(dense)
    // preserve the assignment table's FULL column set (a sequenced
    // index carries a seq column beyond (id, cluster, cu) — dropping
    // it here would brick every later sequenced tombstone read)
    val outCols = assigned.columns.toSeq.map(col)
    val reassigned = hot.withColumn("cluster",
        get(typedLit(denseNew), // 0-based lookup by a COLUMN index
          element_at(nearestK(col("cu"), newCenters, 1), 1)))
      .select(outCols: _*)
    // stage BOTH tables complete before any rename — the staged pair
    // is the retrain transaction recoverSwap rolls forward or back
    assigned.filter(!col("cluster").isin(cells: _*))
      .withColumn("cluster", element_at(typedLit(dense), col("cluster")))
      .select(outCols: _*)
      .unionByName(reassigned)
      .write.parquet(s"$dir/assigned_retraining")
    require(new java.io.File(s"$dir/assigned_retraining/_SUCCESS").isFile,
      s"retrain wrote no _SUCCESS marker under $dir")
    val rows = (kept ++ usedIds.zip(newCenters))
      .map { case (id, v) => Row(dense(id), v.toSeq) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), centroidSchema)
      .write.parquet(s"$dir/centroids_new")
    require(new java.io.File(s"$dir/centroids_new/_SUCCESS").isFile,
      s"retrain wrote no _SUCCESS marker under $dir/centroids_new")
    // swap assigned, then centroids — resumable from every crash point
    finishRetrainSwap(dir, dropTombstones = true) // folded by the rewrite
    (nHot, denseNew)
  }

  /** Memoized persisted indexes over the harness embeddings table, one
   * per EVERY build parameter — (session, sfDir, nClusters, the
   * [[IvfPq]] layout's (m, ksub) or None) — shared by every probe query
   * in the session. [[persistedIndex]] and [[IvfPq.persistedIndex]] both
   * read it through [[persistedIndexOf]]. */
  private type IndexKey = (SparkSession, String, Int, Option[(Int, Int)])
  private val persisted =
    new java.util.concurrent.ConcurrentHashMap[IndexKey, String]()
  private[sim] def persistedIndexOf(spark: SparkSession, sfDir: String,
                                    nClusters: Int,
                                    pq: Option[(Int, Int)]): String = {
    // lazy eviction: stopped sessions' entries would otherwise pin the
    // session reference for the life of the JVM (the on-disk index dir
    // is scratch space and cleans up with it)
    persisted.keySet.removeIf((k: IndexKey) => k._1.sparkContext.isStopped)
    persisted.computeIfAbsent((spark, sfDir, nClusters, pq), (_: IndexKey) => {
      val corpus = graft.io.Sources.table(spark, sfDir, "embeddings")
      val dir = graft.io.Sources.scratchDir(
        if (pq.isEmpty) "graft_ivf_index" else "graft_ivfpq_index")
      pq match {
        case None => persistIndex(corpus, dir, nClusters)
        case Some((m, ksub)) =>
          IvfPq.persistIndex(corpus, dir, dim = 64, nClusters = nClusters,
            m = m, ksub = ksub)
      }
      dir
    })
  }
  def persistedIndex(spark: SparkSession, sfDir: String,
                     nClusters: Int): String =
    persistedIndexOf(spark, sfDir, nClusters, None)

  /**
   * Probe-only ANN top-k against a persisted index: NO training, NO
   * corpus scan, NO k-means job — the centroid table (nClusters rows)
   * is read to the driver for the codegen'd probe kernel, candidates
   * equi-join inside the probed cells, exact cosine re-rank
   * (IvfSpec pins that the plan's file scans touch ONLY the index
   * directory). Results are identical to [[ivfTopK]] with the same
   * parameters — training is deterministic, so a rebuilt index IS the
   * persisted one (q130 gates this).
   */
  def probeIndex(queries: DataFrame, dir: String, k: Int, nProbe: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val centers = centroids(spark, dir).map(_._2)
    val assigned = liveAssigned(spark, dir, idCol)
    rankCandidates(
      assigned.select(col(idCol).as("nid"), col("cu"), col("cluster")),
      probes(queries, centers, nProbe, idCol, vecCol), k)
  }

  /** Unit-normalized query side with its `nProbe` probed cells — probes
    * run on the unit vector, matching the unit-trained centroids. */
  private def probes(queries: DataFrame, centers: Array[Array[Double]],
                     nProbe: Int, idCol: String, vecCol: String): DataFrame =
    Similarity.withUnitVec(queries, vecCol, "qu")
      .select(col(idCol).as("qid"), col("qu"),
        explode(nearestK(col("qu"), centers, nProbe)).as("cluster"))

  /** Shared candidate scoring tail of [[probeIndex]] and [[ivfTopK]] —
    * ONE copy so the rounding/tiebreak contract behind q130's
    * probe-equals-build gate cannot drift between the two paths. */
  private def rankCandidates(candidates: DataFrame, probes: DataFrame,
                             k: Int): DataFrame = {
    val scored = candidates
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(Similarity.dot(col("qu"), col("cu")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("sim"))
  }

  /**
   * ANN top-k through the index: each query probes its `nProbe` nearest
   * cells (native kernel — no centroid join, no window), exact cosine
   * re-ranking within the candidate set.
   *
   * Tuning: at a FIXED scanned fraction (nProbe/nClusters), finer
   * quantization strictly improves recall — measured on the harness
   * corpus, 8-of-64 cells hits mean recall@5 0.52-0.67 where 2-of-16
   * (same 12.5% fraction) manages 0.36-0.50. Scale `nClusters` like
   * sqrt(corpus) (the faiss rule of thumb) and spend the probe budget
   * there rather than on coarser cells.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nClusters: Int = 16, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val index = buildIndex(corpus, nClusters, idCol, vecCol)
    val c = Similarity.withUnitVec(index.assigned, vecCol, "cu")
      .select(col(idCol).as("nid"), col("cu"), col("cluster"))
    rankCandidates(c, probes(queries, index.centers, nProbe, idCol, vecCol), k)
  }
}

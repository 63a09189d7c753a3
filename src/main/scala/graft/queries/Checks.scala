package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Single-job multiset comparators for the lifecycle-query gates.
 *
 * The protocol/lifecycle queries (catalog transactions, change feeds,
 * CDC index sync, streaming commits) assert dozens of multiset
 * equalities. Before round 14 each assertion ran as
 * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` — TWO shuffling
 * actions per assertion — and the per-snapshot validation loops ran a
 * pair of actions PER VERSION, so a 12-snapshot catalog paid ~25
 * sequential Spark jobs just to say "all snapshots consistent". At
 * bench scale the frames are tiny and the wall-clock is pure per-job
 * overhead (plan → codegen → schedule → collect), which is exactly the
 * optimization-guide §1.2 step-1 situation: fix the algorithm (number
 * of passes), not the per-task work.
 *
 *   - [[multisetEqual]]: signed-weight counting turns one multiset
 *     equality into ONE aggregation job — ⟦a⟧ == ⟦b⟧ iff every row's
 *     (+1 per a-occurrence, −1 per b-occurrence) weights cancel.
 *   - [[allMultisetEqual]]: tags each pair with its index and unions
 *     them, so an entire per-version loop collapses into ONE job. The
 *     group-by key is (tag, row), so pairs can never cancel across
 *     versions.
 *   - [[allNonEmpty]]: the per-snapshot `count() > 0` probes, batched
 *     the same way (project each frame to its tag, one distinct-count).
 *
 * Equality note: for gate pairs of the shape
 * `(prev ⊎ inserts) ∖ deletes ≡ next` the callers pass the telescoped
 * form `prev ⊎ inserts ≡ next ⊎ deletes`. When deletes ⊆ prev ⊎ inserts
 * (any correct feed) the two are the same predicate; when a delete
 * names a row the left side never held, the telescoped form is
 * STRICTER (it fails where truncated `exceptAll` difference would hide
 * the phantom delete) — a gate may only get harder to pass, never
 * easier.
 */
object Checks {

  /** ⟦a⟧ == ⟦b⟧ as multisets, in ONE aggregation job (vs two
    * `exceptAll().isEmpty` actions). Null-safe per column, exactly like
    * `exceptAll` (groupBy and exceptAll share null-equality semantics).
    * Frames must share column names; `a`'s order is used. */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    allMultisetEqual(Seq((a, b)))

  /** Every pair equal as multisets — the whole per-version loop in ONE
    * job: pair i's frames are tagged `_t = i` (so nothing cancels
    * across pairs), weighted ±1, unioned, and grouped once. Returns
    * true iff every signed count cancels. All frames must share the
    * first pair's column names. */
  def allMultisetEqual(pairs: Seq[(DataFrame, DataFrame)]): Boolean = {
    require(pairs.nonEmpty, "allMultisetEqual of no pairs")
    val cols = pairs.head._1.columns.toSeq
    def tagged(df: DataFrame, t: Int, w: Long) =
      df.select(cols.map(col): _*)
        .withColumn("_t", lit(t)).withColumn("_w", lit(w))
    val all = pairs.zipWithIndex.map { case ((a, b), i) =>
      tagged(a, i, 1L).unionByName(tagged(b, i, -1L))
    }.reduce(_ unionByName _)
    all.groupBy((col("_t") +: cols.map(col)): _*)
      .agg(sum("_w").as("_s"))
      .filter(col("_s") =!= 0L)
      .isEmpty
  }

  /** Every frame non-empty, in ONE job (vs one `count()` each): each
    * frame is projected to just its tag literal, unioned, and the
    * distinct tag count compared to the frame count. */
  def allNonEmpty(frames: Seq[DataFrame]): Boolean = {
    require(frames.nonEmpty, "allNonEmpty of no frames")
    frames.zipWithIndex.map { case (f, i) => f.select(lit(i).as("_t")) }
      .reduce(_ union _)
      .distinct().count() == frames.size
  }

  /** Every frame EMPTY, in ONE job (vs one `isEmpty` each): project
    * each to a constant and take(1) on the union. */
  def allEmpty(frames: Seq[DataFrame]): Boolean = {
    require(frames.nonEmpty, "allEmpty of no frames")
    frames.map(_.select(lit(1).as("_t"))).reduce(_ union _).isEmpty
  }

  /** Evaluate INDEPENDENT gate actions concurrently (optimization
    * guide §2.6: actions are only sequential because the driver calls
    * them sequentially — overlapping lets one job's tasks back-fill
    * executors idling in another's planning/tail). Only for gates that
    * are pure reads over immutable inputs (committed snapshots,
    * checkpointed frames): evaluation order must not matter. Failures
    * propagate (first exception rethrown) — but only after EVERY thunk
    * has finished, so a caller's cleanup (`finally` deleting scratch
    * roots) can never race a still-running sibling. A small pool is
    * plenty — the point is overlap, not fan-out. */
  def inParallel[A](thunks: Seq[() => A]): Seq[A] = {
    require(thunks.nonEmpty, "inParallel of no thunks")
    if (thunks.size == 1) return Seq(thunks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 4))
    try {
      import scala.util.{Failure, Success, Try}
      // each slot is a promise completed in `finally` with its thunk's
      // outcome, FATAL throwables included: `Future.apply` captures only
      // NonFatal ones, so an OOM / StackOverflow thunk would leave its
      // slot pending and the gate waiting forever
      val slots = thunks.map { t =>
        val slot = scala.concurrent.Promise[Try[A]]()
        pool.execute { () =>
          var out: Try[A] =
            Failure(new IllegalStateException("gate thunk did not finish"))
          try out = Success(t())
          catch { case e: Throwable => out = Failure(e) }
          finally { slot.success(out); () }
        }
        slot.future
      }
      // settle ALL outcomes before surfacing any failure
      val outcomes = slots.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
      outcomes.foreach {
        case Failure(e) => throw e
        case _ => ()
      }
      outcomes.map(_.get)
    } finally { pool.shutdown(); () }
  }

  /** Per-frame row counts, in ONE tagged-union job (vs one `count()`
    * each): frame i is projected to the literal tag i, the tags are
    * union-counted, and the result comes back positionally (0 for a
    * frame that contributed no rows). */
  def counts(frames: Seq[DataFrame]): Seq[Long] = {
    require(frames.nonEmpty, "counts of no frames")
    val byTag = frames.zipWithIndex
      .map { case (f, i) => f.select(lit(i).as("_t")) }
      .reduce(_ union _).groupBy("_t").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    frames.indices.map(i => byTag.getOrElse(i, 0L))
  }
}

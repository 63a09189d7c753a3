package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/**
 * A registered materialized view the optimizer may answer from: the
 * view holds the parquet result of
 * `SELECT keyCols…, count(*) AS countCol, sum(x) AS sumCols(x),
 *    min(y) AS minCols(y), max(z) AS maxCols(z), …
 *    FROM basePath GROUP BY keyCols…`
 * (the view's key columns carry the SAME names as the base columns).
 *
 * Registration comes in two freshness flavors:
 *
 *   - `viewPath`: a FIXED physical directory. The registration IS the
 *     freshness claim — whoever refreshes the view must re-register
 *     the new directory, and a forgotten re-registration silently
 *     serves stale (but internally consistent) data;
 *   - `viewRoot`: a LIVE registration — a [[graft.lake.Versions]]
 *     table root whose CURRENT version is resolved at PLAN time, so
 *     the refresh COMMIT is the re-registration
 *     ([[ViewRewrite.refresh]] is that one entry point: O(|delta|)
 *     merge, commit, done — a refreshed view can never serve stale
 *     data through the rule, and a skipped refresh still answers
 *     stale-but-consistent from the last committed version).
 *
 * `nonNullCols` is the registrant's claim that a base column holds no
 * NULLs — required before `avg(x)` may be derived as `sum(x)/count(*)`
 * (with nulls present the two denominators differ, so an unclaimed
 * column never rewrites). `minCols`/`maxCols` need no such claim:
 * min/max skip nulls identically at both levels, and min-of-mins /
 * max-of-maxes re-aggregate losslessly under roll-up.
 */
final case class MatView(
    basePath: String,
    viewPath: String = "",
    keyCols: Seq[String] = Seq.empty,
    countCol: Option[String] = None,
    sumCols: Map[String, String] = Map.empty,
    nonNullCols: Set[String] = Set.empty,
    minCols: Map[String, String] = Map.empty,
    maxCols: Map[String, String] = Map.empty,
    viewRoot: Option[String] = None) {

  /** The physical directory the rule reads THIS plan cycle: the live
    * root's current version when registered live, else the fixed path.
    * Version directories are immutable, so every downstream cache can
    * key on the resolved path. */
  def resolvedPath: String = viewRoot match {
    case Some(root) => graft.lake.Versions.currentDir(root)
    case None =>
      require(viewPath.nonEmpty,
        s"MatView over $basePath has neither viewPath nor viewRoot")
      viewPath
  }
}

/**
 * MATERIALIZED-VIEW REWRITE — an optimizer [[Rule]] that answers a
 * matching aggregate over the BASE table from the maintained view
 * instead (the automatic MV-routing capability lakehouse engines
 * expose; public Spark extension point
 * `spark.experimental.extraOptimizations` / `injectOptimizerRule`).
 *
 * Three derivable shapes (the standard MV-matching ladder):
 *
 *   - EXACT: the query groups by precisely the view's key columns and
 *     asks for `count(*)` / `sum(col)` of registered columns — answered
 *     by a straight projection of the view;
 *   - ROLL-UP: the query groups by a strict SUBSET of the key columns
 *     (including none at all — a global total) — answered by
 *     re-aggregating the view over the coarser keys: `count(*)` becomes
 *     `sum(view.count)`, `sum(col)` becomes `sum(view.sum)`, O(|view
 *     groups|) instead of a base rescan;
 *   - AVG: `avg(col)` derives as `sum(col)/count(*)` from the stored
 *     columns, in both shapes — but only for columns the registration
 *     claims non-null (else the denominators differ);
 *   - KEY FILTERS: a deterministic, subquery-free predicate over key
 *     columns between the aggregate and the scan (`WHERE key-pred
 *     GROUP BY keys…`) commutes with the grouping, so it is REPLAYED
 *     against the view (rebased onto the view's columns) in all of the
 *     above shapes; a predicate touching any non-key column still
 *     disqualifies the plan.
 *
 * Distinct aggregates, filtered aggregates, filters under the
 *     aggregate, expressions over the key, grouping columns outside the
 * view key, or unregistered aggregate functions all disqualify the
 * plan and it is left untouched; so does any derived output whose data
 * type would differ from the original's (e.g. re-summing a decimal sum
 * widens the type — the guard bails instead of silently recasting).
 * The base-table match requires the scanned relation to have exactly
 * ONE root path, equal (after normalization) to the registered base —
 * a sibling path like `events.parquet_v2`, or a multi-path scan that
 * unions the base with other directories, must never be answered from
 * the view. The replacement keeps the ORIGINAL output ExprIds, so any
 * operators above the aggregate keep resolving.
 *
 * At 100 TB this is the difference between re-scanning the fact table
 * and reading a |groups|-row parquet: the rewrite fires after the main
 * optimizer batches, costs one plan-tree pass, and composes with the
 * q325 incremental maintenance loop (refresh the view O(|delta|),
 * re-register, and every matching dashboard query is answered in
 * O(|groups|)).
 */
final case class ViewRewrite(spark: SparkSession, view: MatView)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ViewRewrite.isSuspended) plan
    else plan transform {
      case agg: Aggregate =>
        ViewRewrite.derive(spark, view, agg).map(_._1).getOrElse(agg)
    }
}

/**
 * MV AUTO-SELECTION (the Calcite-style matching step): register
 * SEVERAL maintained views; for each matching aggregate the rule
 * collects every view whose shape can derive the answer and picks the
 * CHEAPEST. Cost = the BYTES THE REWRITTEN SCAN WOULD ACTUALLY READ:
 * the view's parquet row groups that SURVIVE the replayed key-column
 * filters under the footers' own min/max zone maps (the q316 footer
 * statistics, consulted at plan time — pure file-metadata reads,
 * cached per immutable view directory, no data read). With no
 * replayed filter every row group survives and the cost degenerates
 * to plain bytes-on-disk, the r12 rule. The refinement is what makes
 * a byte-LARGER view win when its layout is filter-tighter: a view
 * range-sorted on the filtered key keeps the predicate inside a few
 * row groups, while a byte-smaller but unsorted sibling reads
 * everything — exactly the call a scan scheduler makes from the same
 * footers. Capability first, cost second: a view that cannot derive
 * the query (missing sum column, finer key not a superset, type
 * mismatch) is never a candidate no matter how small. At 100 TB a
 * dashboard family typically maintains a handful of views per fact
 * table; this picks per-query without the user naming one.
 */
final case class MultiViewRewrite(spark: SparkSession, views: Seq[MatView])
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ViewRewrite.isSuspended) plan
    else plan transform {
      case agg: Aggregate =>
        val candidates = views.flatMap(v =>
          ViewRewrite.derive(spark, v, agg).map { case (p, filters) =>
            (ViewRewrite.costOf(spark, v.resolvedPath, filters), p) })
        if (candidates.isEmpty) agg else candidates.minBy(_._1)._2
    }
}

private final class ViewMatcher(spark: SparkSession, view: MatView) {

  private def norm(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  /** `Some(filter conjuncts)` when `plan` is a scan of the registered
    * base, reached through attribute-only Projects and Filters whose
    * predicates the view can replay — i.e. deterministic,
    * subquery-free, and referencing ONLY key columns (a key-column
    * predicate commutes with grouping by keys: filtering base rows on
    * keys ≡ filtering view groups on the same keys, so `WHERE
    * key-pred GROUP BY keys` is answerable from the view with the
    * predicate rebased onto it). `Some(Nil)` is the bare-scan case;
    * None disqualifies the rewrite. */
  def baseScanFilters(plan: LogicalPlan): Option[Seq[Expression]] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case f: HadoopFsRelation => f.location.rootPaths.toList match {
        case one :: Nil
            if norm(one.toUri.getPath) == norm(view.basePath) => Some(Nil)
        case _ => None // multi-root scans read MORE than the base
      }
      case _ => None
    }
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScanFilters(child)
    case Filter(cond, child)
        if cond.deterministic &&
          !cond.exists(_.isInstanceOf[PlanExpression[_]]) &&
          cond.references.forall(a => view.keyCols.contains(a.name)) =>
      baseScanFilters(child).map(cond +: _)
    case _ => None
  }

  /** What a single aggregate-output expression needs from the view. */
  private sealed trait Derived
  private case class KeyRef(name: String) extends Derived
  private case object CountAll extends Derived
  private case class SumOf(col: String) extends Derived
  private case class AvgOf(col: String) extends Derived
  private case class MinOf(col: String) extends Derived
  private case class MaxOf(col: String) extends Derived
  /** A constant folded into the output (a `lit` above, by CollapseProject). */
  private case class Const(value: Expression) extends Derived

  /** Classify one output expression, or None if it disqualifies the
    * rewrite. `keyIds` are the ExprIds of the grouping attributes. */
  private def classify(e: NamedExpression,
                       keyIds: Map[ExprId, String]): Option[Derived] = e match {
    case a: AttributeReference if keyIds.contains(a.exprId) =>
      Some(KeyRef(keyIds(a.exprId)))
    case Alias(a: AttributeReference, _) if keyIds.contains(a.exprId) =>
      Some(KeyRef(keyIds(a.exprId)))
    case Alias(c, _) if c.foldable => Some(Const(c))
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // count over foldable NON-NULL children only: count(lit(null))
        // is 0 per group, not the view's count(*)
        case c: Count if c.children.forall(ch =>
            ch.foldable && ch.eval(EmptyRow) != null) =>
          view.countCol.map(_ => CountAll)
        case s: Sum => s.child match {
          case a: AttributeReference if view.sumCols.contains(a.name) =>
            Some(SumOf(a.name))
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference
              if view.sumCols.contains(a.name) && view.countCol.isDefined &&
                view.nonNullCols.contains(a.name) =>
            Some(AvgOf(a.name))
          case _ => None
        }
        // min/max re-aggregate losslessly (min-of-mins / max-of-maxes)
        // and skip nulls identically at both levels — no claim needed
        case mn: Min => mn.child match {
          case a: AttributeReference if view.minCols.contains(a.name) =>
            Some(MinOf(a.name))
          case _ => None
        }
        case mx: Max => mx.child match {
          case a: AttributeReference if view.maxCols.contains(a.name) =>
            Some(MaxOf(a.name))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** Attempt the rewrite; None leaves the plan untouched.
    * `keyFilters` are base-side key-column predicates collected by
    * [[baseScanFilters]], replayed against the view below the
    * projection/re-aggregation. */
  def tryRewrite(agg: Aggregate,
                 keyFilters: Seq[Expression] = Nil): Option[LogicalPlan] = {
    // grouping must be bare attributes of view key columns, no repeats
    val keyAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
      case a: AttributeReference if view.keyCols.contains(a.name) => a
      case _ => return None
    }
    if (keyAttrs.map(_.name).distinct.size != keyAttrs.size) return None
    val keyIds = keyAttrs.map(a => a.exprId -> a.name).toMap
    val derived: Seq[(NamedExpression, Derived)] = agg.aggregateExpressions
      .map(e => classify(e, keyIds) match {
        case Some(d) => (e, d)
        case None => return None
      })
    // a constant rides along only beside a derived measure: keys and
    // constants alone are also what `count(NULL)` folds to (`0 AS n`),
    // an aggregate the rule leaves on the base (q343 gates it)
    val consts = derived.count(_._2.isInstanceOf[Const])
    val keys = derived.count(_._2.isInstanceOf[KeyRef])
    if (consts > 0 && consts + keys == derived.size) return None

    val viewPlan =
      graft.io.Sources.cachedParquet(spark, view.resolvedPath)
        .queryExecution.analyzed
    def viewAttr(name: String): Attribute =
      viewPlan.output.find(_.name == name).getOrElse(
        throw new IllegalStateException(
          s"registered view ${view.viewPath} has no column $name"))
    def cnt: Attribute = viewAttr(view.countCol.get)
    def alias(src: Expression, e: NamedExpression): NamedExpression =
      Alias(src, e.name)(exprId = e.exprId)

    // replay the base-side key predicates against the view: rebase
    // each attribute onto the view's column of the same name
    val filtered: LogicalPlan =
      if (keyFilters.isEmpty) viewPlan
      else Filter(keyFilters.map(_.transform {
        case a: AttributeReference => viewAttr(a.name)
      }).reduce(And), viewPlan)

    val newPlan: LogicalPlan =
      if (keyAttrs.map(_.name).toSet == view.keyCols.toSet) {
        // EXACT: straight projection of the view
        Project(derived.map {
          case (e, KeyRef(n)) => alias(viewAttr(n), e)
          case (e, Const(c)) => alias(c, e)
          case (e, CountAll) => alias(cnt, e)
          case (e, SumOf(c)) => alias(viewAttr(view.sumCols(c)), e)
          case (e, MinOf(c)) => alias(viewAttr(view.minCols(c)), e)
          case (e, MaxOf(c)) => alias(viewAttr(view.maxCols(c)), e)
          case (e, AvgOf(c)) => alias(Divide(
            Cast(viewAttr(view.sumCols(c)), DoubleType),
            Cast(cnt, DoubleType)), e)
        }, filtered)
      } else {
        // ROLL-UP: re-aggregate the view over the coarser keys
        def sumOf(a: Attribute): Expression = Sum(a).toAggregateExpression()
        Aggregate(keyAttrs.map(a => viewAttr(a.name)), derived.map {
          case (e, KeyRef(n)) => alias(viewAttr(n), e)
          case (e, Const(c)) => alias(c, e)
          // count(*) of an empty global roll-up is 0, sum of none is
          // NULL — coalesce restores count semantics
          case (e, CountAll) =>
            alias(Coalesce(Seq(sumOf(cnt), Literal(0L))), e)
          case (e, SumOf(c)) => alias(sumOf(viewAttr(view.sumCols(c))), e)
          // min of stored mins / max of stored maxes: lossless under
          // roll-up, null-of-none matches the base aggregate exactly
          case (e, MinOf(c)) => alias(
            Min(viewAttr(view.minCols(c))).toAggregateExpression(), e)
          case (e, MaxOf(c)) => alias(
            Max(viewAttr(view.maxCols(c))).toAggregateExpression(), e)
          case (e, AvgOf(c)) => alias(Divide(
            Cast(sumOf(viewAttr(view.sumCols(c))), DoubleType),
            Cast(sumOf(cnt), DoubleType)), e)
        }, filtered)
      }
    // the derivation must be type-preserving: a re-summed decimal sum
    // widens precision, a decimal avg is not a double — bail, never cast
    if (newPlan.output.map(_.dataType) != agg.output.map(_.dataType)) None
    else Some(newPlan)
  }
}

object ViewRewrite {
  /** The derivation shared by the single- and multi-view rules: the
    * view-answered plan for `agg` plus the base-side key filters it
    * replays (for [[costOf]]), or None when `view` cannot answer it
    * (wrong base, underivable shape, or type mismatch). */
  private[plans] def derive(spark: SparkSession, view: MatView,
                            agg: Aggregate): Option[(LogicalPlan, Seq[Expression])] = {
    val m = new ViewMatcher(spark, view)
    m.baseScanFilters(agg.child).flatMap(fs =>
      m.tryRewrite(agg, fs).map(p => (p, fs)))
  }

  // ------------------------------------------------- refresh suspension
  // MV maintenance must never be ANSWERED BY what it maintains: with the
  // rewrite rules registered, a refresh's delta aggregate (or an evicted-
  // group rescan) whose shape matches some view would read the STALE view
  // as its own input. Suspension is a THREAD-LOCAL consulted by the rules
  // — never a mutation of the session-global extraOptimizations list,
  // which would strip every concurrent query's rewrites for the duration
  // and clobber rules another thread (re)registered in the window. The
  // optimizer runs extra rules on the thread that triggers the action, so
  // the thread-local covers exactly the refresh's own plans (AQE's
  // runtime re-optimization uses its own rule set, not this batch).
  private val suspendedFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private[plans] def isSuspended: Boolean = suspendedFlag.get()
  private def suspended[T](body: => T): T = {
    suspendedFlag.set(java.lang.Boolean.TRUE)
    try body finally suspendedFlag.set(java.lang.Boolean.FALSE)
  }

  // Plan-time caches keyed by the view's physical directory: the
  // bytes-on-disk cost and the footer zone maps would otherwise re-run
  // for every candidate view, on every matching Aggregate, on every
  // optimizer fixpoint iteration. A version directory is immutable, so
  // staleness is impossible — refreshing a view re-registers a NEW
  // path. The view's schema comes from the shared footer-backed cache
  // ([[graft.io.Sources.parquetSchema]]), so a freshly refreshed view
  // costs no schema-inference job inside the optimizer. Each rewrite
  // still builds a FRESH relation (fresh ExprIds), so two rewrites
  // inside one query can never collide on attribute ids.
  private val sizeCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.Long]()

  private def capped[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V])
  : java.util.concurrent.ConcurrentHashMap[K, V] = {
    if (m.size > 1024) m.clear() // scratch-path churn bound, not an LRU
    m
  }

  private[plans] def sizeOf(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    capped(sizeCache).computeIfAbsent(path, (p: String) =>
      java.lang.Long.valueOf(walk(new java.io.File(p))))
  }

  // --------------------------------------------- footer zone-map costing

  /** One parquet row group of a view: its byte weight and the footer
    * min/max per column (absent when the chunk recorded no stats). */
  private final case class Zone(bytes: Long, stats: Map[String, (Any, Any)])

  private val zoneCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Zone]]()

  /** The view directory's row groups with their footer statistics —
    * the q316 footer walk, cached per immutable path (refreshing a view
    * registers a NEW directory). Driver-side, bounded by the view's
    * file count; pure metadata reads, no data pages touched. */
  private def footerZones(spark: SparkSession, path: String): Seq[Zone] =
    capped(zoneCache).computeIfAbsent(path, (p: String) => {
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      Option(new java.io.File(p).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .flatMap { pf =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(pf.getAbsolutePath), conf))
          try rd.getFooter.getBlocks.asScala.toSeq.map { b =>
            val stats = b.getColumns.asScala.flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else Some(c.getPath.toDotString ->
                (statVal(st.genericGetMin), statVal(st.genericGetMax)))
            }.toMap
            Zone(b.getTotalByteSize, stats)
          } finally rd.close()
        }
    })

  private def statVal(v: Any): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case x => x
  }

  /** stat-vs-literal comparison; None when the pair is not comparable
    * (unknown types → the zone conservatively survives). Longs here are
    * view-aggregate keys (counts/ids), well inside double precision. */
  private def cmp(stat: Any, lit: Any): Option[Int] = (stat, lit) match {
    case (a: String, b) => Some(a.compareTo(b.toString))
    case (a: Number, b: Number) =>
      Some(java.lang.Double.compare(a.doubleValue, b.doubleValue))
    case (a: Number, b: org.apache.spark.sql.types.Decimal) =>
      Some(java.lang.Double.compare(a.doubleValue, b.toDouble))
    case _ => None
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Can the row group contain a row satisfying `pred`? Missing stats
    * or an unrecognized predicate shape keep the zone (never prune on
    * uncertainty — cost must upper-bound the scan, not undercut it).
    * Strictness is ignored (a boundary-only zone survives a strict
    * bound): conservative and irrelevant at row-group granularity. */
  private def zoneSurvives(z: Zone, pred: Expression): Boolean = {
    def stats(a: AttributeReference) = z.stats.get(a.name)
    def eqTest(a: AttributeReference, v: Any) = stats(a).forall {
      case (mn, mx) => cmp(mn, v).forall(_ <= 0) && cmp(mx, v).forall(_ >= 0)
    }
    def maxGe(a: AttributeReference, v: Any) =
      stats(a).forall { case (_, mx) => cmp(mx, v).forall(_ >= 0) }
    def minLe(a: AttributeReference, v: Any) =
      stats(a).forall { case (mn, _) => cmp(mn, v).forall(_ <= 0) }
    pred match {
      case EqualTo(a: AttributeReference, Literal(v, _)) => eqTest(a, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => eqTest(a, v)
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null =>
        eqTest(a, v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) => maxGe(a, v)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        maxGe(a, v)
      case LessThan(a: AttributeReference, Literal(v, _)) => minLe(a, v)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => minLe(a, v)
      // literal-on-the-left flips the bound direction
      case GreaterThan(Literal(v, _), a: AttributeReference) => minLe(a, v)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        minLe(a, v)
      case LessThan(Literal(v, _), a: AttributeReference) => maxGe(a, v)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) => maxGe(a, v)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => eqTest(a, l.asInstanceOf[Literal].value))
      case _ => true // unknown shape: no pruning from this conjunct
    }
  }

  /** The SELECTIVITY-AWARE view cost [[MultiViewRewrite]] ranks by: the
    * bytes of the view's row groups that survive the replayed filters
    * under the footers' own min/max zone maps — i.e. what the rewritten
    * scan would actually read after data skipping. No filters (or a
    * footer with no stats) degenerates to bytes-on-disk. */
  private[plans] def costOf(spark: SparkSession, path: String,
                            filters: Seq[Expression]): Long = {
    val zones = footerZones(spark, path)
    if (zones.isEmpty) return sizeOf(path) // statless fallback
    val preds = filters.flatMap(conjunctsOf)
    zones.filter(z => preds.forall(p => zoneSurvives(z, p)))
      .map(_.bytes).sum
  }

  /** Root paths of every file relation in the OPTIMIZED plan — the
    * structural "which table does this query actually scan" probe
    * (the logical plan's toString elides paths). */
  def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten

  /** Whether the view under `viewRoot` answers `df`: its optimized
    * plan scans that root and no path containing `base`. */
  private[graft] def answeredBy(viewRoot: String, base: String)(
      df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = scannedPaths(df)
    p.exists(_.contains(viewRoot)) && !p.exists(_.contains(base))
  }

  /** INCREMENTAL REFRESH with freshness tied to the commit — the one
    * entry point a maintenance loop calls per delta batch (the q325
    * O(|delta|) recipe generalized over the registration's declared
    * shape). The DELTA ALONE is aggregated to the view's grain, then
    * full-outer-merged with the stored view — counts add, sums add
    * (null iff both sides null, matching SQL sum-of-none), mins take
    * least, maxes take greatest — and the result commits as the next
    * version of `viewRoot`. Because a live registration resolves the
    * CURRENT version at plan time, the commit IS the re-registration:
    * no separate step to forget, so a refreshed view can never serve
    * stale data through the rule (a SKIPPED refresh still answers,
    * stale-but-consistent, from the last committed version — the
    * documented live-registration contract). Insert-only deltas (the
    * count/sum/min/max shapes are not retractable; route deletions
    * through a full recompute commit). Null grouping keys merge
    * null-safely (`<=>`): the base aggregate has one null group, so
    * the view must too. Returns the committed version.
    *
    * At 100 TB: O(|delta| + |view|) per refresh — the delta aggregate
    * shuffles |delta| rows to the view grain, the merge joins two
    * |groups|-sized tables, and the fact table is never rescanned. */
  def refresh(spark: SparkSession, view: MatView,
              delta: org.apache.spark.sql.DataFrame): Int =
    refresh(spark, view, Some(delta), deletes = None).version

  /** Per-refresh bookkeeping: the committed version, how many view
    * groups the delete-delta emptied (their rows dropped), and how many
    * groups needed a min/max EVICTION RESCAN (the only part of a
    * retraction that touches the base — and only filtered to those
    * groups' keys). */
  final case class RefreshStats(version: Int, emptiedGroups: Long,
                                rescannedGroups: Long)

  /** RETRACTION-AWARE incremental refresh: absorb an insert-delta AND a
    * delete-delta (rows REMOVED from the base — the CDC shape a
    * merge-on-read feed produces) in one O(|delta| + |view|) commit.
    * Counts and sums retract ALGEBRAICALLY (stored − deleted); min/max
    * cannot — a deleted value that TIES the stored extremum may or may
    * not leave a twin behind — so exactly the EVICTED groups (deleted
    * min ≤ stored min, or deleted max ≥ stored max) are re-aggregated
    * from the base FILTERED TO THEIR KEYS, never a full rescan. Groups
    * whose count reaches zero drop from the view.
    *
    * Loud contracts (shapes that cannot retract):
    *   - the view must register `countCol` — without the stored count,
    *     group emptiness is undecidable;
    *   - every registered sum column must be CLAIMED in `nonNullCols`:
    *     with nulls possible, `stored − deleted` yields 0 where SQL's
    *     sum-of-none is NULL (route such views through a full
    *     recompute commit instead);
    *   - a delete for a group the view does not hold, or deleting more
    *     rows than a group has, fails loudly — the delta and the view
    *     have diverged.
    *
    * The base is read from `view.basePath` AT ITS CURRENT CONTENTS
    * (post-delete), so the rescan agrees with what a full recompute
    * would see — unless `base` supplies the read explicitly: a view
    * maintained over a MERGE-ON-READ lake table has no plain-parquet
    * base directory, so the caller passes the resolved lake read
    * (e.g. `Versions.read(spark, tableRoot)`) and the eviction rescan
    * semi-joins into THAT plan (key pushdown into the chain's scans
    * still applies). Runs with MV rewriting suspended on this thread —
    * the rescan's aggregate matches the view's own shape by
    * construction. */
  def refresh(spark: SparkSession, view: MatView,
              inserts: Option[org.apache.spark.sql.DataFrame],
              deletes: Option[org.apache.spark.sql.DataFrame],
              base: Option[org.apache.spark.sql.DataFrame] = None): RefreshStats = {
    import org.apache.spark.sql.functions._
    val root = view.viewRoot.getOrElse(throw new IllegalArgumentException(
      s"refresh needs a LIVE registration (viewRoot) — a fixed viewPath " +
        s"cannot re-register atomically (view over ${view.basePath})"))
    require(view.keyCols.nonEmpty,
      "refresh needs a keyed view (global shapes roll up from keyed ones)")
    deletes.foreach { _ =>
      require(view.countCol.isDefined,
        "a delete-delta refresh needs a registered countCol: without " +
          "the stored count, group emptiness is undecidable — register " +
          "count(*) or route deletions through a full recompute commit")
      val unclaimed = view.sumCols.keySet -- view.nonNullCols
      require(unclaimed.isEmpty,
        s"sum columns $unclaimed are not claimed non-null: with nulls " +
          "possible, stored-minus-deleted yields 0 where SQL's " +
          "sum-of-none is NULL — claim nonNullCols or route deletions " +
          "through a full recompute commit")
    }
    val aggs: Seq[org.apache.spark.sql.Column] =
      view.countCol.map(c => count(lit(1)).as(c)).toSeq ++
        view.sumCols.map { case (b, v) => sum(col(b)).as(v) } ++
        view.minCols.map { case (b, v) => min(col(b)).as(v) } ++
        view.maxCols.map { case (b, v) => max(col(b)).as(v) }
    require(aggs.nonEmpty, "view registration declares no aggregates")
    require(inserts.isDefined || deletes.isDefined,
      "refresh needs an insert-delta, a delete-delta, or both")
    suspended {
      val cur = graft.lake.Versions.read(spark, root)
      val afterIns = inserts match {
        case Some(ins) => mergePlan(spark, view, cur, ins, aggs)
        case None => cur
      }
      deletes match {
        case None =>
          RefreshStats(graft.lake.Versions.commit(afterIns, root), 0L, 0L)
        case Some(del) =>
          retract(spark, view, afterIns, del, aggs, root, base)
      }
    }
  }

  /** The insert-merge plan: delta aggregated to the view grain,
    * full-outer-merged with `cur` — counts add, sums add (null iff both
    * sides null, matching SQL sum-of-none), mins take least, maxes take
    * greatest. Null grouping keys merge null-safely (`<=>`): the base
    * aggregate has one null group, so the view must too. */
  private def mergePlan(spark: SparkSession, view: MatView,
                        cur: org.apache.spark.sql.DataFrame,
                        delta: org.apache.spark.sql.DataFrame,
                        aggs: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dAgg = delta.groupBy(view.keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // prefix the delta side so the merge can reference both unambiguously
    val d = dAgg.select(dAgg.columns.map(c => col(c).as(s"_d_$c")).toSeq: _*)
    // null-SAFE key equality: the base aggregate has ONE null group,
    // so the merge must too (plain = would split it into two rows)
    val joined = cur.join(d,
      view.keyCols.map(k => cur(k) <=> d(s"_d_$k")).reduce(_ && _),
      "full_outer")
    def dc(c: String) = d(s"_d_$c")
    def oneSided(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column,
                 both: org.apache.spark.sql.Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(both)
    val outCols: Seq[org.apache.spark.sql.Column] =
      view.keyCols.map(k => coalesce(cur(k), dc(k)).as(k)) ++
        view.countCol.map(c =>
          (coalesce(cur(c), lit(0L)) + coalesce(dc(c), lit(0L))).as(c)) ++
        view.sumCols.values.map(c =>
          oneSided(cur(c), dc(c), cur(c) + dc(c)).as(c)) ++
        view.minCols.values.map(c =>
          oneSided(cur(c), dc(c), least(cur(c), dc(c))).as(c)) ++
        view.maxCols.values.map(c =>
          oneSided(cur(c), dc(c), greatest(cur(c), dc(c))).as(c))
    joined.select(outCols: _*)
  }

  /** The retraction tail of [[refresh]]: subtract the delete-delta's
    * per-group aggregates from `stateDf`, rescan ONLY the evicted
    * groups, commit. Caller holds the suspension. */
  private def retract(spark: SparkSession, view: MatView,
                      stateDf: org.apache.spark.sql.DataFrame,
                      deletes: org.apache.spark.sql.DataFrame,
                      aggs: Seq[org.apache.spark.sql.Column],
                      root: String,
                      baseOverride: Option[org.apache.spark.sql.DataFrame]): RefreshStats = {
    import org.apache.spark.sql.functions._
    val cnt = view.countCol.get
    // the delete-delta at the view grain: per group, how many rows die
    // and the extremes of the dying values (min/max SKIP nulls at both
    // levels, so a null deleted value can never evict)
    val xAggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as(s"_x_$cnt")) ++
        view.sumCols.map { case (b, v) => sum(col(b)).as(s"_x_$v") } ++
        view.minCols.map { case (b, v) => min(col(b)).as(s"_x_$v") } ++
        view.maxCols.map { case (b, v) => max(col(b)).as(s"_x_$v") }
    val dAgg = deletes.groupBy(view.keyCols.map(col): _*)
      .agg(xAggs.head, xAggs.tail: _*)
    val d = dAgg.select(dAgg.columns.map(c =>
      if (view.keyCols.contains(c)) col(c).as(s"_xk_$c") else col(c)).toSeq: _*)
    // checkpointed frames are unpersisted in the finally below — the
    // loud-contract throws must not leak blocks on a long-running
    // maintenance loop (the round-10 slow-creep class)
    val state = stateDf.localCheckpoint() // reused by several branches
    var joined: org.apache.spark.sql.DataFrame = null
    try {
    // full_outer so a delete for a group the view does NOT hold is
    // visible (loud below), null-safe keys as everywhere in the merge
    joined = state.join(d,
      view.keyCols.map(k => state(k) <=> d(s"_xk_$k")).reduce(_ && _),
      "full_outer").localCheckpoint()
    val touched = col(s"_x_$cnt").isNotNull
    val newN = col(cnt) - col(s"_x_$cnt")
    // EVICTION: a deleted value at-or-past the stored extremum may have
    // killed it (ties are undecidable without the base — a twin may
    // remain); strictly-interior deletions provably cannot
    val evictTests =
      view.minCols.values.map(v => col(s"_x_$v").isNotNull &&
        (col(v).isNull || col(s"_x_$v") <= col(v))) ++
        view.maxCols.values.map(v => col(s"_x_$v").isNotNull &&
          (col(v).isNull || col(s"_x_$v") >= col(v)))
    val evict =
      if (evictTests.isEmpty) lit(false) else evictTests.reduce(_ || _)
    // both divergence contracts AND the rescan/emptied bookkeeping in
    // ONE aggregation over the checkpointed join (this ran 4 sequential
    // actions — two bounded limit-collects and two counts — before r15)
    val probe = joined.agg(
      max(touched && col(cnt).isNull).as("_unknown"),
      max(touched && newN < 0).as("_overdrawn"),
      sum(when(touched && newN > 0 && evict, 1L).otherwise(0L)).as("_ev"),
      sum(when(touched && newN === 0, 1L).otherwise(0L)).as("_emptied"))
      .collect()(0)
    require(probe.isNullAt(0) || !probe.getBoolean(0),
      s"delete-delta for the view over ${view.basePath} names a group " +
        "the view does not hold — the delta and the view have diverged")
    require(probe.isNullAt(1) || !probe.getBoolean(1),
      s"delete-delta for the view over ${view.basePath} removes more " +
        "rows than some group holds — the delta and the view have diverged")
    val nEvicted = if (probe.isNullAt(2)) 0L else probe.getLong(2)
    val emptied = if (probe.isNullAt(3)) 0L else probe.getLong(3)
    def subbed(v: String) =
      when(col(s"_x_$v").isNull, col(v)).otherwise(col(v) - col(s"_x_$v"))
    // untouched groups pass through; touched non-evicted groups retract
    // algebraically; emptied groups (newN = 0) drop entirely
    val algebraic = joined.filter(!touched || (newN > 0 && !evict))
      .select((view.keyCols.map(col) ++
        view.countCol.map(c => subbed(c).as(c)) ++
        view.sumCols.values.map(c => subbed(c).as(c)) ++
        view.minCols.values.map(c => col(c).as(c)) ++
        view.maxCols.values.map(c => col(c).as(c))): _*)
    // the ONLY base touch of a retraction: re-aggregate the evicted
    // groups from the current base, FILTERED to their keys (a semi join
    // the scan pushes down — never a full rescan). The keys derive from
    // the checkpointed join lazily — nothing is materialized unless a
    // rescan is actually owed (the common interior-delete refresh now
    // skips the checkpoint + count it used to pay here).
    val out =
      if (nEvicted == 0L) algebraic
      else {
        val base =
          baseOverride.getOrElse(spark.read.parquet(view.basePath))
        val ek = joined.filter(touched && newN > 0 && evict)
          .select(view.keyCols.map(col): _*)
        val rescanned = base.join(ek,
            view.keyCols.map(k => base(k) <=> ek(k)).reduce(_ && _),
            "left_semi")
          .groupBy(view.keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        algebraic.unionByName(rescanned)
      }
    val v = graft.lake.Versions.commit(out, root)
    RefreshStats(v, emptied, nEvicted)
    } finally {
      state.unpersist()
      Option(joined).foreach(_.unpersist())
      ()
    }
  }

  /** Run `body` with the rule registered on the session's experimental
    * optimizer batch, restoring the previous registration after —
    * queries built and EXECUTED inside see matching aggregates answered
    * from the view. */
  def withRule[T](spark: SparkSession, view: MatView)(body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ ViewRewrite(spark, view)
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  /** Register SEVERAL views through ONE [[MultiViewRewrite]] rule —
    * for each matching aggregate, the cheapest capable view answers
    * (bytes-on-disk cost, capability first). */
  def withViews[T](spark: SparkSession, views: Seq[MatView])(body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ MultiViewRewrite(spark, views)
    try body
    finally spark.experimental.extraOptimizations = prev
  }
}

package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-QUALITY invariants on representative queries — the properties
  * that decide whether a plan survives a 100× scale-up: filters reach the
  * parquet scan, projections prune the read schema, small dimensions
  * broadcast instead of shuffling the fact side, and aggregations combine
  * map-side before the exchange. Checked on the pre-AQE physical plan so
  * the assertions are deterministic. */
class PlanQualitySpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf001).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => s }

  test("q02_filter_project: predicate is pushed to the parquet scan") {
    val ss = scans(plan("q02_filter_project"))
    assert(ss.nonEmpty)
    val pushed = ss.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(_ != "[]"),
      s"no pushed filters on any scan: $pushed")
  }

  test("q02_filter_project: scan schema is pruned to the projected columns") {
    val ss = scans(plan("q02_filter_project"))
    val full = spark.read.parquet(s"$sf001/lineitem.parquet").schema.size
    ss.foreach { s =>
      assert(s.requiredSchema.size < full,
        s"scan reads all $full columns: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("dim-joined queries broadcast the small side (no fact-side shuffle join)") {
    Seq("q03_join_agg", "q04_region_rollup", "q05_semi_join").foreach { q =>
      val p = plan(q)
      val bcast = p.collect { case j: BroadcastHashJoinExec => j }
      assert(bcast.nonEmpty, s"$q plans no broadcast hash join:\n$p")
    }
  }

  test("q01_pricing_summary: aggregation is partial before the exchange") {
    val p = plan("q01_pricing_summary")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, s"expected partial+final HashAggregate pair:\n$p")
    // NOTE: no assertion on ShuffleExchangeExec — at sf0.001 the parquet
    // plans as a single input partition and EnsureRequirements elides the
    // exchange entirely; the partial+final pair above is the partition-
    // count-independent evidence of map-side combining. When a shuffle IS
    // planned, it must sit between the two aggregates (partial rows cross
    // the wire, not scan rows).
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(s.find { case _: HashAggregateExec => true; case _ => false }.isDefined,
        s"exchange carries pre-aggregation rows:\n$p")
    }
  }

  test("every registered query plans at most 2 scans of any one table") {
    // self-joins (LSH band join, blocked jaccard) legitimately scan twice;
    // 3+ scans of the same file means a missing reuse/checkpoint.
    // Adjudicated exception: q302's RI audit deliberately trades extra
    // SINGLE-FK-COLUMN scans of each child table (totals pass + one
    // bare-long broadcast-semi probe per edge — lineitem has 3 edges)
    // for zero child shuffles; the stacked one-scan shape shuffled
    // 3x the fact rows and measured 2.4x slower at 10x data.
    val scanBudget = Map("q302_fk_audit" -> 4).withDefaultValue(2)
    SparkEntry.registry.foreach { q =>
      val byPath = scans(plan(q.name))
        .flatMap(_.relation.location.rootPaths.map(_.toString))
        .groupBy(identity).view.mapValues(_.size)
      byPath.foreach { case (path, n) =>
        assert(n <= scanBudget(q.name), s"${q.name} scans $path $n times")
      }
    }
  }

  test("q40: bounded exact baseline joins via broadcast, never a cartesian shuffle") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("q40_cosine_neardup")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      s"q40 lost its broadcast pair loop:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q40 plans a cartesian shuffle:\n$p")
  }

  test("q59: banded LSH reads the checkpointed signature table, zero corpus re-scans") {
    // the signature projection (id, unitVec, buckets) is localCheckpointed
    // in one corpus pass; candidate generation AND verification must read
    // it — any FileSourceScan of embeddings here is a regression to the
    // round-2 4-scan plan
    val ss = scans(plan("q59_neardup_lsh"))
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.contains("embeddings"))
    assert(ss.isEmpty, s"q59 re-scans the corpus: $ss")
  }

  test("EP3 billing pipeline prunes orders/lineitem scans to the needed columns") {
    val s = spark
    val summary = graft.ops.Billing.fullExecutiveSummary(s,
      graft.io.Sources.table(s, sf001, "orders"),
      graft.io.Sources.table(s, sf001, "lineitem"))
    val byTable = scans(summary.queryExecution.sparkPlan)
      .groupBy(_.relation.location.rootPaths.head.toString.split("/").last)
    val lineitemCols = byTable("lineitem.parquet")
      .flatMap(_.requiredSchema.fieldNames).toSet
    val ordersCols = byTable("orders.parquet")
      .flatMap(_.requiredSchema.fieldNames).toSet
    assert(lineitemCols.subsetOf(
      Set("l_orderkey", "l_shipdate", "l_returnflag", "l_linestatus")),
      s"lineitem reads extra columns: $lineitemCols")
    assert(ordersCols.subsetOf(
      Set("o_orderkey", "o_orderpriority", "o_orderdate")),
      s"orders reads extra columns: $ordersCols")
  }

  test("q76: the range join plans as an equi-join (hash/broadcast), never a nested loop") {
    // the bucketize-then-equi-join rewrite is the whole point: if Spark
    // ever sees the raw inequality predicate it falls back to a
    // BroadcastNestedLoopJoin/cartesian — |intervals| × |events| at scale
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("q76_range_join")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q76 degenerated to a nested-loop/cartesian join:\n$p")
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val equi = p.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(equi.nonEmpty, s"q76 plans no equi-join:\n$p")
  }

  test("q75: the as-of join is window-based — exactly one join-free shuffle per stage") {
    // union + ordered window, no join operator at all: the plan must
    // contain zero joins (the classic as-of-as-range-join would appear
    // here as a nested loop)
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("q75_asof_join")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q75 plans a nested-loop/cartesian join:\n$p")
  }

  test("q94: SCD2 window chain shares ONE exchange (lag filter + lead/version)") {
    // both window passes and the change filter key on the customer —
    // a second exchange would mean the chain lost its co-partitioning
    val p = plan("q94_scd2")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"q94 plans ${shuffles.size} exchanges:\n$p")
  }

  test("q100: funnel stage windows share one user-keyed exchange") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q100_funnel")
    val windows = p.collect { case w: WindowExec => w }
    assert(windows.size == 3, s"expected 3 chained stage windows:\n$p")
    // windows(1) + distinct pair(1) + global collapse(1)
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"q100 plans ${shuffles.size} exchanges:\n$p")
  }

  test("q101: cohort retention is join-free with ONE user-keyed exchange") {
    // the cohort week is a window-min over the distinct (user, week)
    // table — the old shape joined a separate first-week aggregate back
    // in, re-shuffling events on the user twice
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q101_cohort_retention")
    val joins = p.collect {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(joins.isEmpty, s"q101 reintroduced a join:\n$p")
    val userKeyed = p.collect { case s: ShuffleExchangeExec => s }.filter {
      _.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.toSeq.map(_.name)).toSet == Set("user_id")
        case _ => false
      }
    }
    assert(userKeyed.size <= 1,
      s"q101 shuffles on the user ${userKeyed.size} times:\n$p")
  }

  test("q102: weighted sample plans a TakeOrdered, not a global sort") {
    val p = plan("q102_weighted_sample")
    val takeOrdered = p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty, s"q102 lost its top-k short-circuit:\n$p")
  }

  test("rank<=k window filters plan a WindowGroupLimit (top-k pushed below the exchange)") {
    // Spark's WindowGroupLimit inserts a partial per-partition top-k
    // BEFORE the window shuffle — at scale only k rows per group per
    // map partition cross the wire instead of every row. Pin that the
    // optimization stays active on the rank-filter queries.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    Seq("q79_domain_quota", "q103_tfidf_keywords").foreach { q =>
      val limits = plan(q).collect { case w: WindowGroupLimitExec => w }
      assert(limits.nonEmpty, s"$q lost its WindowGroupLimit pushdown")
    }
  }

  test("q141: star join broadcasts every dimension (supplier/nation/region)") {
    // the only big-big exchanges allowed are orders⋈customer (custkey)
    // and lineitem⋈orders (orderkey); every dimension must ride a
    // broadcast — a shuffled dim join would re-partition the fact table
    // once per dimension at 100 TB
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("q141_star_join")
    val bcasts = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bcasts.size >= 3, s"expected >=3 broadcast dim joins:\n$p")
    val shuffled = p.collect { case j: SortMergeJoinExec => j }
    assert(shuffled.size <= 2, s"more than 2 big-big joins:\n$p")
  }

  /** Physical plan WITH exchanges materialized (EnsureRequirements) —
    * `sparkPlan` predates exchange insertion, so equality assertions on
    * exchange COUNTS must prepare the executed plan; AQE is disabled for
    * the preparation so the shape is deterministic (nothing runs). */
  private def executedNoAqe(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def hashExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    p.collect { case s: ShuffleExchangeExec => s }.filter {
      _.outputPartitioning match {
        case _: HashPartitioning => true
        case _ => false
      }
    }
  }

  test("q144: attribution window shuffles on the user exactly once") {
    val p = executedNoAqe("q144_attribution")
    val hashed = hashExchanges(p)
    assert(hashed.size == 1,
      s"q144 plans ${hashed.size} hash exchanges (want 1 user-keyed):\n$p")
  }

  test("q145: TWAP window partitioning is reused by the aggregate (one hash exchange)") {
    // the lead() window partitions by (day, event_type); the TWAP
    // groupBy uses the SAME keys, so Catalyst must not re-shuffle —
    // at scale a second exchange would double the job's shuffle volume
    val p = executedNoAqe("q145_twap")
    val hashed = hashExchanges(p)
    assert(hashed.size == 1,
      s"q145 plans ${hashed.size} hash exchanges (want 1 shared):\n$p")
  }

  test("q115: bucketed join plans no exchange on either side") {
    // with broadcast off, only the final aggregate may shuffle — the
    // join itself must consume the bucket layout
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q115_bucketed_join")
      val shuffles = p.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size <= 1,
        s"bucketed join still shuffles (${shuffles.size} exchanges):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q116: month filter prunes to one partition directory") {
    val ss = scans(plan("q116_partition_pruning"))
      .filter(_.relation.partitionSchema.fieldNames.contains("month"))
    assert(ss.nonEmpty, "no partitioned scan in q116's plan")
    ss.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "[]") != "[]",
        s"month predicate did not become a partition filter: ${s.metadata}")
      assert(s.selectedPartitions.partitionCount == 1,
        s"expected 1 pruned partition, scanned ${s.selectedPartitions.partitionCount}")
    }
  }

  test("headline scans never read the full document text for metadata-only queries") {
    // q43 multimodal metadata never touches the payload bytes column
    val ss = scans(plan("q43_multimodal_meta"))
    ss.foreach { s =>
      assert(!s.requiredSchema.fieldNames.contains("data"),
        s"q43 reads the opaque payload column: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("q209: phrase search plans the native kernel, not an interpreted lambda") {
    // PhraseCount is codegen'd; the filter-lambda spelling would plan an
    // ArrayFilter (CodegenFallback) — 9x slower at sf0.1
    val p = plan("q209_phrase_search").toString
    assert(p.contains("phrase_count"), s"q209 lost the native kernel:\n$p")
    assert(!p.contains("ArrayFilter"),
      "q209 regressed to the interpreted filter-lambda spelling")
  }

  test("q162: every Bloom probe join broadcasts the word table (probe never shuffles)") {
    val p = plan("q162_bloom_filter")
    val bcast = p.collect { case j: BroadcastHashJoinExec => j }
    // 3 hash-position joins + 1 exact-membership flag join, all broadcast
    assert(bcast.size >= 4, s"q162 expected >=4 broadcast joins, got ${bcast.size}:\n$p")
    val smj = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"q162 shuffles the probe side:\n$p")
  }

  test("q160: KMV bottom-k plans a TakeOrdered, not a single-partition window") {
    val p = plan("q160_kmv_setops")
    val takeOrdered = p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty, s"q160 lost its bottom-k short-circuit:\n$p")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q160 plans a window over the hash universe:\n$p")
  }

  test("q169: MAD outlier screen shuffles on the group key exactly once") {
    val p = plan("q169_mad_outliers")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"q169 expected one event_type exchange, got ${shuffles.size}:\n$p")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, s"q169 must be join-free:\n$p")
  }

  test("q173: tree rollup is one explode + one aggregate, zero joins") {
    val p = plan("q173_tree_rollup")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.isEmpty, s"q173 hierarchy rollup must not join:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, s"q173 aggregate must combine map-side:\n$p")
  }

  test("q167: skew quantiles walk the size histogram — no window over the per-key table") {
    // the key-count table scales with DISTINCT KEYS (billions at 100 TB);
    // any partition-less window over it would collapse onto one
    // partition. The fix aggregates to a group-SIZE histogram first, so
    // every Window in the plan must sit above the bounded histogram —
    // i.e. no Window's subtree may still carry the per-key column `k`.
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q167_skew_report")
    val offenders = p.collect { case w: WindowExec => w }.filter { w =>
      w.child.collect {
        case n if n.output.exists(_.name == "k") => n
      }.nonEmpty
    }
    assert(offenders.isEmpty,
      s"q167 has a window whose input scales with distinct keys:\n$offenders")
  }

  test("graph consumers read the shared persisted edge table, not lineitem") {
    // the co-supply graph builds ONCE per (session, sf) (io/Scratch);
    // a consumer whose plan still scans lineitem has broken the share
    // and re-pays the scan + pair-gen + distinct per query
    for (name <- Seq("q214_clustering_coeff", "q216_ppr", "q232_ktruss")) {
      val li = scans(plan(name))
        .flatMap(_.relation.location.rootPaths.map(_.toString))
        .filter(_.endsWith("lineitem.parquet"))
      assert(li.isEmpty, s"$name re-scans lineitem instead of the shared edges: $li")
    }
  }

  test("q239 (TPC-H Q5): all four dimensions broadcast; facts shuffle on keys") {
    val p = plan("q239_tpch_q5")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3,
      s"Q5 should broadcast supplier/nation/region, found ${bhj.size} broadcast joins:\n$p")
    val bnl = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.isEmpty, s"Q5 must have no nested-loop join:\n$p")
  }

  test("q255 (TPC-H Q21): one lineitem scan feeds base, exists-semi and not-exists-anti") {
    // the checkpointed lineitem⋈orders table is the only fact read; a
    // plan scanning lineitem directly re-pays the scan per subquery
    val li = scans(plan("q255_tpch_q21"))
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .filter(_.endsWith("lineitem.parquet"))
    assert(li.isEmpty,
      s"Q21 re-scans lineitem instead of the shared checkpoint: $li")
  }

  test("q240 (TPC-H Q6): filters reach the parquet scan") {
    val ss = scans(plan("q240_tpch_q6"))
    assert(ss.nonEmpty)
    val pushed = ss.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") || pushed.contains("GreaterThanOrEqual"),
      s"Q6's date/qty filters are not pushed: $pushed")
  }

  test("q148: basket pairs come from the basket array, not a self-join") {
    val p = plan("q148_basket_pairs")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, s"q148 reverted to the self-join pair build:\n$p")
    val takeOrdered = p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty, s"q148 lost its top-k short-circuit:\n$p")
  }
}

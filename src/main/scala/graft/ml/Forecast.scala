package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Exprs

/**
 * Demand-forecasting surface (SURVEY.md §2.10, M1-M7,
 * app_calculo_necesidad_recepción_call_center.py:596-713): features
 * (dow, hour, month, day, week-of-month) → label = count per
 * (date, hour) → LinearRegression + MLP + GradientBoostedTrees →
 * best-by-R² → 24h×7d prediction grid clamped at 0.
 *
 * The MLP (M4) has no spark.ml equivalent (MultilayerPerceptron* is
 * classification-only), so like the GBT it is a seeded driver-side
 * trainer over the bounded feature table: (50,25) hidden layers, ReLU,
 * Adam, ≤500 epochs with validation-split early stopping, trained only
 * when the train fold exceeds 100 rows — the reference's exact menu
 * (app_calculo_necesidad_recepción_call_center.py:652-677).
 *
 * Architecture: the feature extraction (a groupBy over the full event
 * stream) is distributed Spark; the TRAINING is driver-side. The training
 * table's cardinality is |dates| × 24 — bounded by the calendar span, not
 * by data volume, so it is a few-thousand-row array even when the event
 * table is 100 TB. spark.ml's GBT launches ~4 scheduler rounds per
 * iteration (200+ jobs for 50 trees — measured 10.8s on 530 rows, pure
 * scheduling), which is the wrong tool for a bounded-small table; the
 * reference itself trains single-node (sklearn GradientBoostingRegressor).
 * Driver-side exact-greedy boosting is deterministic and runs in
 * milliseconds at any event-table scale.
 */
object Forecast {

  /** A fitted model: a pure scoring function plus holdout metrics. */
  final case class Fitted(predict: Array[Double] => Double,
                          name: String, r2: Double, mae: Double, mse: Double)

  /** M1 — feature extraction: hourly demand counts with calendar features.
   * This is the part that scales with the data — it stays distributed. */
  def features(events: DataFrame): DataFrame =
    events
      // a null ts would form a (null, null) group whose null calendar
      // features crash the driver-side collect in trainBest
      .filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("fecha"), hour(col("ts")).as("hora"))
      .agg(count(lit(1)).cast("double").as("label"))
      .withColumn("dow", dayofweek(col("fecha")).cast("double"))
      .withColumn("hour_d", col("hora").cast("double"))
      .withColumn("month_d", month(col("fecha")).cast("double"))
      .withColumn("day_d", dayofmonth(col("fecha")).cast("double"))
      .withColumn("wom", Exprs.weekOfMonth(col("fecha")).cast("double"))

  private val featCols = Array("dow", "hour_d", "month_d", "day_d", "wom")

  // ------------------------------------------------ driver-side training

  /** Ordinary least squares with intercept via normal equations
   * (Gaussian elimination with partial pivoting) — the exact analogue of
   * spark.ml LinearRegression's "normal" solver. */
  private[graft] def fitOls(xs: Array[Array[Double]], y: Array[Double]): Array[Double] = {
    val k = xs(0).length + 1 // + intercept
    val a = Array.ofDim[Double](k, k)
    val b = new Array[Double](k)
    var r = 0
    while (r < xs.length) {
      val row = xs(r)
      var i = 0
      while (i < k) {
        val xi = if (i == 0) 1.0 else row(i - 1)
        b(i) += xi * y(r)
        var j = 0
        while (j < k) {
          val xj = if (j == 0) 1.0 else row(j - 1)
          a(i)(j) += xi * xj
          j += 1
        }
        i += 1
      }
      r += 1
    }
    // solve a * beta = b in place
    var col0 = 0
    while (col0 < k) {
      var piv = col0
      var m = col0
      while (m < k) { if (math.abs(a(m)(col0)) > math.abs(a(piv)(col0))) piv = m; m += 1 }
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val tb = b(col0); b(col0) = b(piv); b(piv) = tb
      val d = a(col0)(col0)
      if (math.abs(d) > 1e-12) {
        var m2 = 0
        while (m2 < k) {
          if (m2 != col0) {
            val f = a(m2)(col0) / d
            var j = col0
            while (j < k) { a(m2)(j) -= f * a(col0)(j); j += 1 }
            b(m2) -= f * b(col0)
          }
          m2 += 1
        }
      }
      col0 += 1
    }
    Array.tabulate(k)(i => if (math.abs(a(i)(i)) > 1e-12) b(i) / a(i)(i) else 0.0)
  }

  /** Depth-bounded exact-greedy regression tree fit to `target`, stored as
   * parallel arrays (feature, threshold, left/right child, leaf value). */
  private final class Tree(maxDepth: Int) {
    private val feat = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val thr = scala.collection.mutable.ArrayBuffer.empty[Double]
    private val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val value = scala.collection.mutable.ArrayBuffer.empty[Double]

    def fit(xs: Array[Array[Double]], target: Array[Double], idx: Array[Int]): Int =
      grow(xs, target, idx, 0)

    /** variance-reduction split search; returns node id */
    private def grow(xs: Array[Array[Double]], t: Array[Double],
                     idx: Array[Int], depth: Int): Int = {
      val n = idx.length
      var sum = 0.0; var i = 0
      while (i < n) { sum += t(idx(i)); i += 1 }
      val mean = sum / n
      def leaf(): Int = {
        feat += -1; thr += 0.0; left += -1; right += -1; value += mean
        feat.length - 1
      }
      if (depth >= maxDepth || n < 2) return leaf()
      // best split across features: maximize sumL²/nL + sumR²/nR
      var bestGain = 0.0; var bestF = -1; var bestT = 0.0
      val baseScore = sum * sum / n
      var f = 0
      while (f < xs(0).length) {
        val sorted = idx.sortBy(r => xs(r)(f))
        var sumL = 0.0
        var j = 0
        while (j < n - 1) {
          sumL += t(sorted(j))
          val vj = xs(sorted(j))(f); val vn = xs(sorted(j + 1))(f)
          if (vj != vn) {
            val nL = j + 1; val nR = n - nL
            val sumR = sum - sumL
            val gain = sumL * sumL / nL + sumR * sumR / nR - baseScore
            if (gain > bestGain + 1e-12) { bestGain = gain; bestF = f; bestT = (vj + vn) / 2 }
          }
          j += 1
        }
        f += 1
      }
      if (bestF < 0) return leaf()
      val (li, ri) = idx.partition(r => xs(r)(bestF) <= bestT)
      val id = feat.length
      feat += bestF; thr += bestT; left += -1; right += -1; value += mean
      val l = grow(xs, t, li, depth + 1)
      val r = grow(xs, t, ri, depth + 1)
      left(id) = l; right(id) = r
      id
    }

    def predict(root: Int, x: Array[Double]): Double = {
      var node = root
      while (feat(node) >= 0)
        node = if (x(feat(node)) <= thr(node)) left(node) else right(node)
      value(node)
    }
  }

  /** Least-squares gradient boosting: F0 = mean, then `numTrees` depth-
   * bounded trees on residuals, shrunk by `learningRate` (spark.ml /
   * sklearn default 0.1). Exact greedy splits, fully deterministic. */
  private[graft] def fitGbt(xs: Array[Array[Double]], y: Array[Double],
                         numTrees: Int = 50, maxDepth: Int = 3,
                         learningRate: Double = 0.1): Array[Double] => Double = {
    val n = xs.length
    val f0 = y.sum / n
    val pred = Array.fill(n)(f0)
    val resid = new Array[Double](n)
    val all = Array.range(0, n)
    val trees = new Array[(Tree, Int)](numTrees)
    var m = 0
    while (m < numTrees) {
      var i = 0
      while (i < n) { resid(i) = y(i) - pred(i); i += 1 }
      val tree = new Tree(maxDepth)
      val root = tree.fit(xs, resid, all)
      trees(m) = (tree, root)
      i = 0
      while (i < n) { pred(i) += learningRate * tree.predict(root, xs(i)); i += 1 }
      m += 1
    }
    x => f0 + trees.iterator.map { case (t, r) => learningRate * t.predict(r, x) }.sum
  }

  /**
   * M4 — seeded MLP regressor, the driver-side analogue of sklearn
   * MLPRegressor(hidden_layer_sizes=(50,25), max_iter=500,
   * random_state=42, early_stopping=True, validation_fraction=0.1)
   * (app_calculo_necesidad_recepción_call_center.py:655-661): ReLU
   * activations, Adam (lr 1e-3, β₁ 0.9, β₂ 0.999), minibatches of
   * min(200, n), L2 α=1e-4, early stop when the 10%-validation R² fails
   * to improve by tol=1e-4 for 10 consecutive epochs (best weights
   * restored). Features and target are standardized internally (inverse
   * applied on output) — raw calendar features span two orders of
   * magnitude, which a fixed 1e-3 learning rate cannot condition.
   * Fully deterministic: one seeded RNG drives init, the validation
   * split, and per-epoch shuffles.
   */
  private[graft] def fitMlp(xs: Array[Array[Double]], y: Array[Double],
                            h1: Int = 50, h2: Int = 25, maxIter: Int = 500,
                            seed: Long = 42): Array[Double] => Double = {
    val n = xs.length
    val d = xs(0).length
    val mean = Array.tabulate(d)(j => xs.map(_(j)).sum / n)
    val std = Array.tabulate(d) { j =>
      val m = mean(j)
      math.max(math.sqrt(xs.map(x => (x(j) - m) * (x(j) - m)).sum / n), 1e-9)
    }
    val yMean = y.sum / n
    val yStd = math.max(math.sqrt(y.map(v => (v - yMean) * (v - yMean)).sum / n), 1e-9)
    val xStd = xs.map(x => Array.tabulate(d)(j => (x(j) - mean(j)) / std(j)))
    val yN = y.map(v => (v - yMean) / yStd)

    val rng = new scala.util.Random(seed)
    val perm = rng.shuffle((0 until n).toVector).toArray
    val nVal = math.max(1, (n * 0.1).toInt)
    val valIdx = perm.take(nVal)
    val trIdx = perm.drop(nVal)

    val sizes = Array(d, h1, h2, 1)
    // Glorot-uniform init, one flat array per layer: w(l)(out*fanIn+in)
    val w = Array.tabulate(3) { l =>
      val bound = math.sqrt(6.0 / (sizes(l) + sizes(l + 1)))
      Array.fill(sizes(l + 1) * sizes(l))((rng.nextDouble() * 2 - 1) * bound)
    }
    val b = Array.tabulate(3)(l => new Array[Double](sizes(l + 1)))
    // Adam moments, same shapes
    val mW = w.map(a => new Array[Double](a.length))
    val vW = w.map(a => new Array[Double](a.length))
    val mB = b.map(a => new Array[Double](a.length))
    val vB = b.map(a => new Array[Double](a.length))

    def forward(x: Array[Double], acts: Array[Array[Double]]): Double = {
      var a = x
      var l = 0
      while (l < 3) {
        val out = new Array[Double](sizes(l + 1))
        var o = 0
        while (o < out.length) {
          var acc = b(l)(o)
          val off = o * sizes(l)
          var i = 0
          while (i < a.length) { acc += w(l)(off + i) * a(i); i += 1 }
          out(o) = if (l < 2 && acc < 0) 0.0 else acc // ReLU on hidden only
          o += 1
        }
        if (acts != null) acts(l + 1) = out
        a = out
        l += 1
      }
      a(0)
    }

    def valR2(): Double = {
      var sse = 0.0; var sst = 0.0; var sum = 0.0
      valIdx.foreach(i => sum += yN(i))
      val m = sum / valIdx.length
      valIdx.foreach { i =>
        val e = forward(xStd(i), null) - yN(i)
        sse += e * e
        val dy = yN(i) - m
        sst += dy * dy
      }
      if (sst > 0) 1.0 - sse / sst else -sse
    }

    val alpha = 1e-4  // L2
    val lr = 1e-3
    val batch = math.min(200, trIdx.length)
    var t = 0 // adam step
    var best = Double.NegativeInfinity
    var sinceBest = 0
    var bestW: Array[Array[Double]] = null
    var bestB: Array[Array[Double]] = null
    var epoch = 0
    while (epoch < maxIter && sinceBest < 10) {
      val order = rng.shuffle(trIdx.toVector).toArray
      var s = 0
      while (s < order.length) {
        val e = math.min(s + batch, order.length)
        val gW = w.map(a => new Array[Double](a.length))
        val gB = b.map(a => new Array[Double](a.length))
        var r = s
        while (r < e) {
          val i = order(r)
          val acts = new Array[Array[Double]](4)
          acts(0) = xStd(i)
          val pred = forward(xStd(i), acts)
          // dLoss/dpred for 0.5*(pred-y)^2
          var delta = Array(pred - yN(i))
          var l = 2
          while (l >= 0) {
            val aIn = acts(l)
            val nextDelta = new Array[Double](sizes(l))
            var o = 0
            while (o < delta.length) {
              val dv = delta(o)
              val off = o * sizes(l)
              gB(l)(o) += dv
              var i2 = 0
              while (i2 < aIn.length) {
                gW(l)(off + i2) += dv * aIn(i2)
                nextDelta(i2) += dv * w(l)(off + i2)
                i2 += 1
              }
              o += 1
            }
            if (l > 0) {
              // ReLU gradient gate of the layer below
              var i3 = 0
              while (i3 < nextDelta.length) {
                if (acts(l)(i3) <= 0) nextDelta(i3) = 0.0
                i3 += 1
              }
            }
            delta = nextDelta
            l -= 1
          }
          r += 1
        }
        val bs = (e - s).toDouble
        t += 1
        val corr1 = 1.0 - math.pow(0.9, t)
        val corr2 = 1.0 - math.pow(0.999, t)
        var l = 0
        while (l < 3) {
          var k = 0
          while (k < w(l).length) {
            // sklearn MLPRegressor applies (grad + alpha*W) / batch_size
            // — the penalty is averaged with the batch, not added on top
            val g = (gW(l)(k) + alpha * w(l)(k)) / bs
            mW(l)(k) = 0.9 * mW(l)(k) + 0.1 * g
            vW(l)(k) = 0.999 * vW(l)(k) + 0.001 * g * g
            w(l)(k) -= lr * (mW(l)(k) / corr1) / (math.sqrt(vW(l)(k) / corr2) + 1e-8)
            k += 1
          }
          k = 0
          while (k < b(l).length) {
            val g = gB(l)(k) / bs
            mB(l)(k) = 0.9 * mB(l)(k) + 0.1 * g
            vB(l)(k) = 0.999 * vB(l)(k) + 0.001 * g * g
            b(l)(k) -= lr * (mB(l)(k) / corr1) / (math.sqrt(vB(l)(k) / corr2) + 1e-8)
            k += 1
          }
          l += 1
        }
        s = e
      }
      val score = valR2()
      if (score > best + 1e-4) {
        best = score; sinceBest = 0
        bestW = w.map(_.clone()); bestB = b.map(_.clone())
      } else sinceBest += 1
      epoch += 1
    }
    if (bestW != null) {
      var l = 0
      while (l < 3) { Array.copy(bestW(l), 0, w(l), 0, w(l).length)
        Array.copy(bestB(l), 0, b(l), 0, b(l).length); l += 1 }
    }
    x => {
      val xn = Array.tabulate(d)(j => (x(j) - mean(j)) / std(j))
      forward(xn, null) * yStd + yMean
    }
  }

  /** M2-M6 — deterministic 70/30 split (seed 42), train OLS + GBT(50×d3)
   * + (when the train fold exceeds 100 rows) the MLP, evaluate on the
   * holdout, pick best by R². Collects only the bounded (dates×hours)
   * feature table to the driver. */
  def trainBest(feats: DataFrame): Fitted = {
    val rows: Array[(Array[Double], Double)] = feats
      .orderBy("fecha", "hora") // stable collect order → stable split
      .select((featCols.map(col) :+ col("label")).toIndexedSeq: _*)
      .collect()
      .map(r => (featCols.indices.map(r.getDouble).toArray,
        r.getDouble(featCols.length)))
    require(rows.nonEmpty, "trainBest: empty feature table")
    val rng = new scala.util.Random(42)
    val mask = rows.map(_ => rng.nextDouble() < 0.7)
    val (train0, test0) = rows.zip(mask).partition(_._2)
    // degenerate tiny input: either fold may come out empty (seed 42's
    // first draw is 0.7276 ≥ 0.7, so a 1-row input has an EMPTY train
    // fold) — fall back to the other fold on both sides
    val train = if (train0.nonEmpty) train0 else test0
    val test = if (test0.nonEmpty) test0 else train0
    val (trX, trY) = (train.map(_._1._1), train.map(_._1._2))
    val (teX, teY) = (test.map(_._1._1), test.map(_._1._2))

    val beta = fitOls(trX, trY)
    val lrPredict: Array[Double] => Double =
      x => beta(0) + x.indices.map(i => beta(i + 1) * x(i)).sum
    // n_estimators = clamp(train/2, 10, 50)
    // (app_calculo_necesidad_recepción_call_center.py:681-682)
    val gbtPredict = fitGbt(trX, trY,
      numTrees = math.max(10, math.min(50, trX.length / 2)))
    // MLP joins the menu only past 100 train rows (.py:656)
    val mlp: Seq[(String, Array[Double] => Double)] =
      if (trX.length > 100) Seq(("mlp", fitMlp(trX, trY))) else Nil

    def metrics(p: Array[Double] => Double): (Double, Double, Double) = {
      val preds = teX.map(p)
      val errs = preds.zip(teY).map { case (a, b) => a - b }
      val mse = errs.map(e => e * e).sum / errs.length
      val mae = errs.map(math.abs).sum / errs.length
      val meanY = teY.sum / teY.length
      val ssTot = teY.map(v => (v - meanY) * (v - meanY)).sum
      val r2 = if (ssTot > 0) 1.0 - errs.map(e => e * e).sum / ssTot else 0.0
      (r2, mae, mse)
    }
    (Seq(("linear_regression", lrPredict), ("gbt", gbtPredict)) ++ mlp)
      .map { case (name, p) =>
        val (r2, mae, mse) = metrics(p)
        Fitted(p, name, r2, mae, mse)
      }
      .maxBy(_.r2)
  }

  /** M7 — 24h × 7-dow prediction grid for a fixed (month, day, wom)
   * context, predictions clamped at 0. 168 rows, built driver-side. */
  def predictionGrid(spark: SparkSession, fitted: Fitted,
                     monthCtx: Int, dayCtx: Int): DataFrame = {
    import spark.implicits._
    val wom = ((dayCtx - 1) / 7 + 1).toDouble
    val rows = for (dow <- 1L to 7L; hour <- 0L until 24L) yield {
      val x = Array(dow.toDouble, hour.toDouble, monthCtx.toDouble,
        dayCtx.toDouble, wom)
      val p = math.max(0.0, fitted.predict(x))
      (dow, hour, math.rint(p * 10000) / 10000)
    }
    rows.toDF("dia", "hora", "pred").orderBy("dia", "hora")
  }

  /** End-to-end: events → features → best model → grid, with model
   * metadata columns attached. */
  def forecastGrid(spark: SparkSession, events: DataFrame): DataFrame = {
    val fitted = trainBest(features(events))
    predictionGrid(spark, fitted, monthCtx = 6, dayCtx = 15)
      .withColumn("model", lit(fitted.name))
      .withColumn("r2", round(lit(fitted.r2), 4))
  }
}

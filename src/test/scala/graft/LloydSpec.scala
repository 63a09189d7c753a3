package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Lloyd

/** Distributed integer-exact Lloyd's k-means (behind q222). */
class LloydSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def q(v: Float): Long =
    math.floor(v.toDouble * 1e6).toLong // the operator's quantization

  test("iterate recovers planted clusters with integer-exact centroids") {
    // two tight clusters; seed ids 1 and 2 land one in each
    val a = Seq(1L -> Array(0.00f, 0.01f), 3L -> Array(0.02f, 0.00f),
      5L -> Array(0.01f, 0.03f), 7L -> Array(0.03f, 0.02f))
    val b = Seq(2L -> Array(0.50f, 0.52f), 4L -> Array(0.51f, 0.50f),
      6L -> Array(0.53f, 0.51f), 8L -> Array(0.52f, 0.53f))
    val df = (a ++ b).toDF("vec_id", "embedding")
    val pts = Lloyd.quantize(df, "embedding", "vec_id", dims = 2)
    val out = Lloyd.iterate(pts, k = 2, rounds = 2, dims = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // expected: integer mean (sum div n, truncating) of each cluster
    def mean(c: Seq[(Long, Array[Float])], d: Int): Long =
      c.map(p => q(p._2(d))).sum / c.size
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((4L, mean(a, 0), mean(a, 1))))
    assert(out(2L) == ((4L, mean(b, 0), mean(b, 1))))
  }

  test("simplifiedSilhouette: tight planted clusters score near 1e6, " +
    "hand-computed scores match") {
    val a = Seq(1L -> Array(0.00f, 0.00f), 3L -> Array(0.02f, 0.00f))
    val b = Seq(2L -> Array(0.50f, 0.50f), 4L -> Array(0.52f, 0.50f))
    val df = (a ++ b).toDF("vec_id", "embedding")
    val pts = Lloyd.quantize(df, "embedding", "vec_id", dims = 2)
    val cent = Lloyd.iterate(pts, k = 2, rounds = 2, dims = 2).drop("n")
    val out = Lloyd.simplifiedSilhouette(pts, cent, dims = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 2 && out(2L)._1 == 2)
    // replay the scoring by hand from the exact quantized coordinates
    // (float->micro quantization makes e.g. 0.02f -> 19999, so derive
    // everything from q(), not from round decimals)
    def pt(v: Array[Float]) = (q(v(0)), q(v(1)))
    def mean(c: Seq[(Long, Long)]) =
      (c.map(_._1).sum / c.size, c.map(_._2).sum / c.size)
    val (ca, cb) = (mean(a.map(p => pt(p._2))), mean(b.map(p => pt(p._2))))
    def d2(p: (Long, Long), c: (Long, Long)) = {
      val (dx, dy) = (p._1 - c._1, p._2 - c._2); dx * dx + dy * dy
    }
    def s(p: (Long, Long), own: (Long, Long), other: (Long, Long)) = {
      val (da, db) = (d2(p, own), d2(p, other))
      (db - da) * 1000000L / math.max(math.max(da, db), 1L)
    }
    val exp1 = a.map(p => s(pt(p._2), ca, cb)).sum / a.size
    val exp2 = b.map(p => s(pt(p._2), cb, ca)).sum / b.size
    assert(out(1L)._2 == exp1, s"expected $exp1, got ${out(1L)._2}")
    assert(out(2L)._2 == exp2, s"expected $exp2, got ${out(2L)._2}")
    assert(out(1L)._2 > 999000L && out(2L)._2 > 999000L,
      s"tight clusters must score near 1e6: $out")
  }

  test("quantize drops null and short vectors") {
    val df = Seq(
      (1L, Some(Array(0.1f, 0.2f))),
      (2L, Some(Array(0.1f))), // too short for dims = 2
      (3L, None: Option[Array[Float]])
    ).toDF("vec_id", "embedding")
    val ids = Lloyd.quantize(df, "embedding", "vec_id", dims = 2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite with SparkSpec {
  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).collect()(0).getAs[T]("v")

  test("tokenCount ignores leading/extra whitespace") {
    assert(one[Long](TextAnalysis.tokenCount(lit("  a  b   c "))) == 3L)
  }

  test("quality score in [0,1] and monotone-ish in length") {
    val short = one[Double](TextAnalysis.qualityScore(lit("hi")))
    val richer = one[Double](TextAnalysis.qualityScore(
      lit("the storage engine scans, filters and aggregates the table. " +
        "it is a good engine of the modern kind, and it works.")))
    assert(short >= 0.0 && short <= 1.0 && richer >= 0.0 && richer <= 1.0)
    assert(richer > short)
  }

  test("predictLang picks marker-majority language, und when none") {
    assert(one[String](TextAnalysis.predictLang(
      lit("the cat of the house and the dog"))) == "en")
    assert(one[String](TextAnalysis.predictLang(
      lit("el perro de la casa que ladra y corre"))) == "es")
    assert(one[String](TextAnalysis.predictLang(
      lit("der hund und die katze und das haus"))) == "de")
    assert(one[String](TextAnalysis.predictLang(lit("xyz qrs tuv"))) == "und")
  }

  test("approxBpeTokenCount >= word count, grows with long words") {
    val short = one[Long](TextAnalysis.approxBpeTokenCount(lit("a b c")))
    val long = one[Long](TextAnalysis.approxBpeTokenCount(
      lit("internationalization parallelization heterogeneous")))
    assert(short == 3L)
    assert(long > 3L)
  }

  test("punctRatio and stopwordRatio bounded") {
    val p = one[Double](TextAnalysis.punctRatio(lit("a,b.c!")))
    assert(p > 0.0 && p <= 1.0)
    val s = one[Double](TextAnalysis.stopwordRatio(lit("the of and xyz")))
    assert(s == 0.75)
  }

  test("bm25TopKMulti rankings equal independent bm25TopK per term set") {
    val docs = graft.io.Sources.table(spark, sf001, "documents")
    val sets = Seq(Seq("dup", "key", "fast"), Seq("merge", "stream"))
    val multi = graft.text.Search.bm25TopKMulti(docs, sets, k = 20)
    sets.zip(multi).foreach { case (terms, got) =>
      val want = graft.text.Search.bm25TopK(docs, terms, k = 20)
      val g = got.orderBy("rank").collect().map(_.toSeq).toSeq
      val w = want.orderBy("rank").collect().map(_.toSeq).toSeq
      assert(g == w, s"multi ranking diverges for $terms")
    }
  }
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DoubleDotProduct, LangId, LongWordExtraUnits, Md5LongArray, Md5PrefixLong, MinHashBands, PhraseCount, ShinglesK, SimHash60, SortedLongIntersectCount, UnitVec}

/**
 * Session extension (`--conf spark.sql.extensions=graft.GraftExtensions`)
 * exposing the engine's native expressions to SQL users. Kept minimal on
 * purpose: SURVEY.md §4 concluded no optimizer rules or planner
 * strategies are REQUIRED — built-in Catalyst handles every rewrite this
 * workload needs — so the only injection point used here is function
 * registration. The one optimizer rule the library ships,
 * [[graft.plans.ViewRewrite]] (materialized-view routing), is an OPT-IN
 * capability registered per scope via `ViewRewrite.withRule` /
 * `spark.experimental.extraOptimizations`, because it changes which
 * table a query reads and must only apply where a view catalog is
 * actively maintained.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, cls, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  /** Every native kernel, by SQL name. Unary unless noted. */
  private val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("md5_prefix_long", classOf[Md5PrefixLong],
      (exprs: Seq[Expression]) => Md5PrefixLong(exprs.head)),
    ("double_dot", classOf[DoubleDotProduct],
      (exprs: Seq[Expression]) => DoubleDotProduct(exprs(0), exprs(1))),
    ("simhash60", classOf[SimHash60],
      (exprs: Seq[Expression]) => SimHash60(exprs.head)),
    ("minhash_bands", classOf[MinHashBands],
      (exprs: Seq[Expression]) => MinHashBands(exprs.head)),
    ("shingles3", classOf[ShinglesK],
      (exprs: Seq[Expression]) => ShinglesK(exprs.head, 3)),
    ("long_word_extra_units", classOf[LongWordExtraUnits],
      (exprs: Seq[Expression]) => LongWordExtraUnits(exprs.head)),
    ("unit_vec", classOf[UnitVec],
      (exprs: Seq[Expression]) => UnitVec(exprs.head)),
    ("md5_long_array", classOf[Md5LongArray],
      (exprs: Seq[Expression]) => Md5LongArray(exprs.head)),
    ("sorted_long_intersect_count", classOf[SortedLongIntersectCount],
      (exprs: Seq[Expression]) => SortedLongIntersectCount(exprs(0), exprs(1))),
    // phrase_count(tokens, 'w1 w2 …') — phrase passed as one
    // space-joined foldable string literal; guard BEFORE eval() so a
    // non-foldable column or NULL literal fails with a clear analysis
    // error instead of an NPE/opaque interpreter error at registration
    ("phrase_count", classOf[PhraseCount],
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2 || !exprs(1).foldable || exprs(1).eval() == null)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              "phrase_count requires a non-null string literal phrase as its second argument"))
        PhraseCount(exprs(0),
          exprs(1).eval().toString.split("\\s+").filter(_.nonEmpty).toSeq)
      }),
    ("lang_id", classOf[LangId],
      (exprs: Seq[Expression]) => LangId(exprs.head,
        graft.text.TextAnalysis.langMarkers.map(_._1).toArray,
        graft.text.TextAnalysis.langMarkers.map(_._2.toArray).toArray)))

  /** Imperative registration for an already-built session (tests,
    * notebooks). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

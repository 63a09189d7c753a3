package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BooleanType, NumericType, StringType, StructField,
  StructType}

/**
 * One registered engine query: a Spark plan builder plus (when
 * SQL-expressible) the equivalent DuckDB oracle SQL the driver
 * hash-compares against. Column names/aliases MUST match between the two
 * (the compare sorts columns by name before hashing).
 */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Row bound of a sealed result. Sealed results are lifecycle
    * reports: one row per tag, check, segment or month. The largest in
    * the registry is 80 rows (q325_incr_view, one per order month, at
    * every scale factor); every other sealed result has at most 17. The
    * bound leaves headroom for new tags without admitting a data-sized
    * result. */
  val sealBound: Int = 1000

  /** Materialize the RESULT on the driver, so it outlives the query's
    * scratch files, then unpersist the listed INTERMEDIATE checkpoints —
    * a lifecycle query that checkpoints mid-fixture frames and leaves
    * them to the ContextCleaner leaks blocks across a several-hundred-
    * query marathon (the slow-creep class the round-10/11 work
    * flagged). `out` is a sorted, bounded report: collecting
    * `out.limit(sealBound + 1)` plans a single-job top-K
    * (`TakeOrderedAndProject`), where a `localCheckpoint` of the sort
    * paid a range-partition sampling job, a shuffle-map job and a
    * result job, and left RDD blocks in the block manager. The rows
    * come back as a `LocalRelation`. A result above [[sealBound]] rows
    * fails loudly instead of being truncated. Call this as the query's
    * last expression. */
  def sealResult(out: DataFrame, intermediates: DataFrame*): DataFrame = {
    val rows = out.limit(sealBound + 1).collect()
    require(rows.length <= sealBound,
      s"sealResult: result exceeds $sealBound rows — a sealed result is " +
        "a bounded report; return a data-sized frame unsealed")
    val r = out.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
    intermediates.foreach { df =>
      try { df.unpersist(); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    r
  }

  /** The lifecycle report every lake-protocol, ANN-maintenance and CDC
    * query returns: its signature `rows` (keyed by a string `tag`,
    * counted in a long `n`) plus one row per gate, whose `tag` is the
    * gate's name, whose `n` is 1 when the gate held and 0 when it
    * failed, and whose every other column is a zero of that column's
    * own type. The rows are ordered by `tag` and sealed
    * ([[sealResult]], which unpersists `intermediates`). The DuckDB
    * oracles check a gate only through this encoding. */
  def sealReport(rows: DataFrame, gates: Seq[(String, Boolean)],
                 intermediates: DataFrame*): DataFrame = {
    require(rows.columns.contains("tag") && rows.columns.contains("n"),
      s"sealReport: rows need tag and n columns, got ${rows.columns.mkString(", ")}")
    val spark = rows.sparkSession
    import spark.implicits._
    val verdicts = gates.map { case (tag, held) => (tag, if (held) 1L else 0L) }
      .toDF("tag", "n")
    val gateRows = verdicts.select(rows.schema.map { f =>
      if (f.name == "tag" || f.name == "n") col(f.name)
      else {
        require(f.dataType.isInstanceOf[NumericType],
          s"sealReport: measure ${f.name} is ${f.dataType.simpleString}, not numeric")
        lit(0).cast(f.dataType).as(f.name)
      }
    }: _*)
    sealResult(rows.unionByName(gateRows).orderBy("tag"), intermediates: _*)
  }

  /** A report of gates alone: one `(chk, ok)` row per gate, ordered by
    * `chk`, built on the driver. */
  def gateReport(spark: SparkSession, gates: (String, Boolean)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(gates.sortBy(_._1).map { case (chk, ok) => Row(chk, ok) }: _*),
      StructType(Seq(StructField("chk", StringType),
        StructField("ok", BooleanType, nullable = false))))
}

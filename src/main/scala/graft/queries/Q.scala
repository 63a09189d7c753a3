package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{BooleanType, NumericType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One registered engine query: a Spark plan builder plus (when
 * SQL-expressible) the equivalent DuckDB oracle SQL the driver
 * hash-compares against. Column names/aliases MUST match between the two
 * (the compare sorts columns by name before hashing).
 *
 * Lifecycle reports follow one materialization rule: bounded frames
 * ([[Q.signatures]] rows, view-answered rows, the report) are sealed on
 * the driver ([[Q.sealResult]], [[Q.sealReport]]), also where rows must
 * outlive a vacuum. Only a data-sized frame that several actions read
 * is checkpointed, and listed as an intermediate of the final seal.
 */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))

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
    onDriver(out.sparkSession, rows, out.schema, intermediates)
  }

  /** `rows` as a driver-side frame; then the intermediates unpersisted. */
  private def onDriver(spark: SparkSession, rows: Seq[Row], schema: StructType,
                       intermediates: Seq[DataFrame]): DataFrame = {
    val r = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
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
    * oracles check a gate only through this encoding. Sealed `rows` are
    * ordered with the gates on the driver, with no job: over a relation
    * of known size the optimizer drops the sealing limit, and the bare
    * sort would plan a range-partitioned sort (3 jobs). */
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
    val report = rows.unionByName(gateRows)
    rows.queryExecution.analyzed match {
      case _: LocalRelation =>
        val ordered = (rows.collect() ++ gateRows.collect()).sortBy(r =>
          Option(r.getAs[String]("tag")).map(UTF8String.fromString))
        onDriver(spark, ordered.toSeq, report.schema, intermediates)
      case _ => sealResult(report.orderBy("tag"), intermediates: _*)
    }
  }

  /** The signature rows of a lifecycle report: one `(tag, n, <sumCol>)`
    * row per tag, where `n` counts an entry's rows and `<sumCol>` sums
    * its `measure`. An entry's tag is a literal or a column expression
    * over its frame. A literal tag always gets its row — `(tag, 0,
    * null)` on an empty frame, as a global aggregate gives — and a
    * column tag emits only the values present. Every entry is projected
    * to `(tag, measure)` and the union is aggregated by ONE lazy
    * `groupBy(tag)`: one shuffle stage for the whole set, where a global
    * aggregate per tag ran one AQE stage job each. Tags of different
    * entries must not collide (they would merge into one row). */
  def signatures(sumCol: String,
                 entries: (Column, DataFrame, Column)*): DataFrame = {
    require(entries.nonEmpty, "signatures: no entries")
    val projected = entries.map { case (tag, frame, measure) =>
      frame.select(tag.as("tag"), measure.as("m"), lit(1).as("one"))
    }
    // a literal tag's seed row counts nothing and sums nothing, so it
    // only guarantees the row on an empty frame
    val mType = projected.head.schema("m").dataType
    val seeds = entries.zip(projected).collect {
      case ((tag, frame, _), p) if literalTag(p) =>
        frame.sparkSession.range(1).select(tag.as("tag"),
          lit(null).cast(mType).as("m"), lit(null).cast("int").as("one"))
    }
    (projected ++ seeds).reduce(_ unionByName _).groupBy("tag")
      .agg(count(col("one")).as("n"), sum(col("m")).as(sumCol))
  }

  /** Whether the `tag` of a projected signature entry is row-independent. */
  private def literalTag(projected: DataFrame): Boolean =
    projected.queryExecution.analyzed match {
      case Project(Alias(tag, _) +: _, _) => tag.foldable
      case _ => false
    }

  /** A report of gates alone: one `(chk, ok)` row per gate, ordered by
    * `chk`, built on the driver. */
  def gateReport(spark: SparkSession, gates: (String, Boolean)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(gates.sortBy(_._1).map { case (chk, ok) => Row(chk, ok) }: _*),
      StructType(Seq(StructField("chk", StringType),
        StructField("ok", BooleanType, nullable = false))))
}

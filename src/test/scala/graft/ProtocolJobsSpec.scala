package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Job-count pins for the lake protocol's two metadata paths: a
  * committed version's schema comes off its parquet footer on the
  * driver (no schema-inference job), and [[graft.queries.Q.sealResult]]
  * materializes a sorted, bounded result with one top-K job. */
class ProtocolJobsSpec extends AnyFunSuite with SparkSpec {

  import graft.io.Sources
  import graft.lake.{TxLog, Versions}
  import graft.queries.Q

  test("a just-committed version's read frame is built with no Spark job") {
    import spark.implicits._
    val root = Sources.scratchDir("graft_jobs_versions")
    val log = Sources.scratchDir("graft_jobs_txlog")
    try {
      val rows = (1L to 40L).map(k => (k, s"s$k", k * 2.5)).toDF("k", "s", "x")
      Versions.commit(rows, root)
      Versions.commitUpsert(Seq((3L, "u", 0.5)).toDF("k", "s", "x"), root, "k")
      val (v, vJobs) = JobCount(spark.sparkContext)(Versions.read(spark, root))
      assert(vJobs == 0, s"Versions.read ran $vJobs job(s)")
      TxLog.commit(rows, log, expected = -1)
      TxLog.commitDelete(Seq(5L).toDF("k"), log, "k", expected = 0)
      val (t, tJobs) = JobCount(spark.sparkContext)(TxLog.read(spark, log))
      assert(tJobs == 0, s"TxLog.read ran $tJobs job(s)")
      assert(v.count() == 40 && t.count() == 39)
    } finally {
      Sources.removeScratchDir(root)
      Sources.removeScratchDir(log)
    }
  }

  test("sealResult: one job for a sorted bounded result; rows outlive the scratch files") {
    val dir = Sources.scratchDir("graft_jobs_seal")
    val want = (0L until 200L).reverse.map(i => (i, i % 7))
    spark.range(0, 200, 1, 4).select(col("id"), (col("id") % 7).as("m"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (out, jobs) = try {
      JobCount(spark.sparkContext)(Q.sealResult(
        Sources.cachedParquet(spark, s"$dir/t").orderBy(desc("id"))))
    } finally Sources.removeScratchDir(dir)
    assert(jobs == 1, s"sealResult ran $jobs jobs")
    assert(!new java.io.File(dir).exists())
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
    assert(spark.sparkContext.getPersistentRDDs.keySet == blocksBefore,
      "a sealed result must not pin RDD blocks")
  }

  test("sealResult fails loudly on a result above its bound") {
    val e = intercept[IllegalArgumentException] {
      Q.sealResult(spark.range(0L, Q.sealBound + 1L).toDF().orderBy("id"))
    }
    assert(e.getMessage.contains(s"exceeds ${Q.sealBound} rows"))
    assert(Q.sealResult(spark.range(0L, Q.sealBound.toLong).toDF().orderBy("id"))
      .count() == Q.sealBound)
  }

  test("footer schema equals Spark's inference over a type matrix, nanosAsLong on and off") {
    val dir = Sources.scratchDir("graft_footer_matrix")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.sql("""SELECT 7L AS l, 3 AS i, 1.5D AS d,
          CAST(12.25 AS DECIMAL(12, 2)) AS dec, 'x' AS s, true AS b,
          CAST('ab' AS BINARY) AS bin, DATE'2024-01-02' AS dt,
          TIMESTAMP'2024-01-02 03:04:05' AS ts,
          TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,
          array(1L, 2L) AS arr, named_struct('a', 1, 'b', 'y') AS st,
          map('k', 1L) AS m,
          array(named_struct('p', 1L, 'q', map('z', array(2.0D)))) AS deep""")
        .write.parquet(s"$dir/t")
      val f = new java.io.File(s"$dir/t")
      for (nanos <- Seq("true", "false")) {
        spark.conf.set(key, nanos)
        val footer = Sources.footerSchema(spark, f)
        assert(footer.isDefined, "a Spark-written directory carries its schema")
        assert(footer.get == spark.read.parquet(f.getPath).schema,
          s"footer schema diverged from inference (nanosAsLong=$nanos)")
      }
    } finally {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Sources.removeScratchDir(dir)
    }
  }

  test("footer schema defers to Spark's inference where no Spark writer left one") {
    // the harness tables are Arrow-written: no Spark schema in the footer
    assert(Sources.footerSchema(spark,
      new java.io.File(s"$sf001/orders.parquet")).isEmpty)
    assert(Sources.parquetSchema(spark, s"$sf001/orders.parquet") ==
      spark.read.parquet(s"$sf001/orders.parquet").schema)
    // a partitioned directory: the partition column is not in any footer
    val dir = Sources.scratchDir("graft_footer_partitioned")
    try {
      spark.range(0, 6).select(col("id"), (col("id") % 2).as("p"))
        .write.partitionBy("p").parquet(s"$dir/t")
      assert(Sources.footerSchema(spark, new java.io.File(s"$dir/t")).isEmpty)
      assert(Sources.parquetSchema(spark, s"$dir/t").fieldNames.toSeq ==
        Seq("id", "p"))
    } finally Sources.removeScratchDir(dir)
  }
}

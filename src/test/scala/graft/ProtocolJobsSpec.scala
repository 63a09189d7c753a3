package graft

import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Job-count pins for the lake protocol's two metadata paths: a
  * committed version's schema comes off its parquet footer on the
  * driver (no schema-inference job), and [[graft.queries.Q.sealResult]]
  * materializes a sorted, bounded result with one top-K job — also
  * behind the lifecycle-report format ([[graft.queries.Q.sealReport]]),
  * whose signature rows [[graft.queries.Q.signatures]] aggregates in
  * one job whatever the number of tags. */
class ProtocolJobsSpec extends AnyFunSuite with SparkSpec {

  import graft.io.Sources
  import graft.lake.{TxLog, Versions}
  import graft.queries.Q

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobCount[T](body: => T): (T, Int) = {
    val (out, rec) = JobRecorder.record(spark.sparkContext)(body)
    (out, rec.jobs.size)
  }

  test("a just-committed version's read frame is built with no Spark job") {
    import spark.implicits._
    val root = Sources.scratchDir("graft_jobs_versions")
    val log = Sources.scratchDir("graft_jobs_txlog")
    try {
      val rows = (1L to 40L).map(k => (k, s"s$k", k * 2.5)).toDF("k", "s", "x")
      Versions.commit(rows, root)
      Versions.commitUpsert(Seq((3L, "u", 0.5)).toDF("k", "s", "x"), root, "k")
      val (v, vJobs) = jobCount(Versions.read(spark, root))
      assert(vJobs == 0, s"Versions.read ran $vJobs job(s)")
      TxLog.commit(rows, log, expected = -1)
      TxLog.commitDelete(Seq(5L).toDF("k"), log, "k", expected = 0)
      val (t, tJobs) = jobCount(TxLog.read(spark, log))
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
      jobCount(Q.sealResult(
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

  private val reportGates = Seq(("chk:held", true), ("chk:failed", false))

  /** Signature rows over a parquet scan: a unique tag, a Long count, a
    * Long sum and a Double mean per row. */
  private def reportRows(dir: String) = {
    spark.range(0, 40, 1, 4).write.mode("overwrite").parquet(s"$dir/t")
    Sources.cachedParquet(spark, s"$dir/t")
      .select(format_string("g:%02d", col("id")).as("tag"),
        col("id").as("n"), (col("id") * 2).as("id_sum"),
        (col("id") / 4.0).as("avg_id"))
  }

  test("sealReport: one job; a gate row is n = 1 or 0 with a zero of every other column's type") {
    val dir = Sources.scratchDir("graft_jobs_report")
    val (out, jobs) = try {
      val rows = reportRows(dir)
      jobCount(Q.sealReport(rows, reportGates))
    } finally Sources.removeScratchDir(dir)
    assert(jobs == 1, s"sealReport ran $jobs jobs")
    assert(out.schema("id_sum").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema("avg_id").dataType == org.apache.spark.sql.types.DoubleType)
    val got = out.collect()
    assert(got.length == 42)
    assert(got.take(2).map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq == Seq(("chk:failed", 0L, 0L, 0.0), ("chk:held", 1L, 0L, 0.0)))
    assert(got.drop(2).map(_.getLong(1)).toSeq == (0L until 40L))
    // a non-numeric measure has no zero: the report refuses it
    val e = intercept[IllegalArgumentException](Q.sealReport(
      spark.range(1).select(lit("t").as("tag"), col("id").as("n"),
        lit("x").as("seg")), reportGates))
    assert(e.getMessage.contains("seg is string, not numeric"), e.getMessage)
  }

  test("sealReport's schema equals the hand-built gate-row union's, nullability included") {
    import spark.implicits._
    val dir = Sources.scratchDir("graft_report_schema")
    try {
      val rows = reportRows(dir)
      val handBuilt = rows.unionByName(reportGates.toDF("tag", "ok")
        .select(col("tag"), when(col("ok"), 1L).otherwise(0L).as("n"),
          lit(0L).as("id_sum"), lit(0.0).as("avg_id")))
        .orderBy("tag")
      val report = Q.sealReport(rows, reportGates)
      assert(report.schema == handBuilt.schema,
        s"${report.schema.treeString} differs from ${handBuilt.schema.treeString}")
      assert(report.collect().toSeq == handBuilt.collect().toSeq)
      // non-nullable signature columns stay non-nullable
      val strict = spark.range(0, 3).select(lit("r").as("tag"), col("id").as("n"),
        col("id").as("id_sum"))
      val strictHand = strict.unionByName(reportGates.toDF("tag", "ok")
        .select(col("tag"), when(col("ok"), 1L).otherwise(0L).as("n"),
          lit(0L).as("id_sum")))
      assert(Q.sealReport(strict, reportGates).schema == strictHand.schema)
    } finally Sources.removeScratchDir(dir)
  }

  test("gateReport: one (chk, ok) row per gate, ordered by chk, with no Spark job") {
    val (out, jobs) = jobCount(
      Q.gateReport(spark, ("b_second", false), ("a_first", true)))
    assert(jobs == 0, s"gateReport ran $jobs jobs")
    assert(out.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("chk", "string", true), ("ok", "boolean", false)))
    assert(out.collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("a_first", true), ("b_second", false)))
  }

  /** Six parquet tables under `dir`, 40 rows each, with a Long measure
    * `x` = id · (table number + 1). */
  private def sigTables(dir: String) = (0 until 6).map { i =>
    spark.range(0, 40, 1, 4).select((col("id") * (i + 1)).as("x"))
      .write.mode("overwrite").parquet(s"$dir/t$i")
    Sources.cachedParquet(spark, s"$dir/t$i")
  }
  private def sigRow(r: org.apache.spark.sql.Row) =
    (r.getString(0), r.getLong(1), Option(r.get(2)))

  test("signatures: one aggregate for the set, the same job count for 6 tags as for 3") {
    val dir = Sources.scratchDir("graft_sig_jobs")
    try {
      val tables = sigTables(dir)
      def run(nTags: Int) = jobCount(Q.signatures("x_sum",
        tables.take(nTags).zipWithIndex.map { case (t, i) =>
          (lit(s"t$i"), t, col("x")) }: _*).orderBy("tag").collect())
      val (_, jobs3) = run(3)
      val (six, jobs6) = run(6)
      assert(jobs3 == jobs6, s"3 tags ran $jobs3 jobs, 6 tags ran $jobs6")
      assert(six.map(sigRow).toSeq == (0 until 6).map(i =>
        (s"t$i", 40L, Some(780L * (i + 1)))))
    } finally Sources.removeScratchDir(dir)
  }

  test("signatures: a literal tag over an empty frame is (tag, 0, null), as a global aggregate gives") {
    val empty = spark.range(0).select(col("id").as("x"))
    val out = Q.signatures("x_sum", (lit("none"), empty, col("x")),
      (lit("one"), spark.range(5, 6).select(col("id").as("x")), col("x")))
      .orderBy("tag")
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val global = empty.agg(count(lit(1)).as("n"), sum("x").as("x_sum"))
      .select(lit("none").as("tag"), col("n"), col("x_sum"))
    assert(out.collect().map(sigRow).toSeq ==
      global.collect().map(sigRow).toSeq :+ (("one", 1L, Some(5L))))
    assert(global.collect().map(sigRow).toSeq == Seq(("none", 0L, None)))
  }

  test("signatures: a column tag emits only the tags present") {
    val g = spark.range(0, 10).select(concat(lit("g:"), col("id") % 3).as("g"),
      col("id").as("x"))
    val out = Q.signatures("x_sum",
      (col("g"), g.filter(col("g") =!= "g:1"), col("x")),
      (concat(lit("h:"), col("x")), g.filter(col("x") > 100), col("x")))
      .orderBy("tag")
    assert(out.collect().map(sigRow).toSeq ==
      Seq(("g:0", 4L, Some(18L)), ("g:2", 3L, Some(15L))))
  }

  test("signatures sealed through sealResult stay readable after their source directory is deleted") {
    val dir = Sources.scratchDir("graft_sig_seal")
    val sealedRows = try {
      val tables = sigTables(dir)
      Q.sealResult(Q.signatures("x_sum",
        (lit("t1"), tables(1), col("x")), (lit("t0"), tables(0), col("x")))
        .orderBy("tag"))
    } finally Sources.removeScratchDir(dir)
    assert(!new java.io.File(dir).exists())
    // the report over sealed rows is ordered on the driver: no job
    val (report, jobs) = jobCount(
      Q.sealReport(sealedRows, reportGates))
    assert(jobs == 0, s"sealReport over sealed rows ran $jobs jobs")
    import spark.implicits._
    val handBuilt = sealedRows.unionByName(reportGates.toDF("tag", "ok")
      .select(col("tag"), when(col("ok"), 1L).otherwise(0L).as("n"),
        lit(0L).as("x_sum")))
    assert(report.schema == handBuilt.schema)
    assert(report.collect().map(sigRow).toSeq == Seq(("chk:failed", 0L, Some(0L)),
      ("chk:held", 1L, Some(0L)), ("t0", 40L, Some(780L)), ("t1", 40L, Some(1560L))))
  }

  test("no query module hand-builds signature rows with a local def sig") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val (hits, scanned) = SourceScan.sourceHits(root, Seq("def sig("))
    assert(scanned > 0, s"no sources under $root")
    assert(hits.isEmpty, s"signature rows built outside Q.signatures:\n${hits.mkString("\n")}")
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

package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructType,
  TimestampNTZType, TimestampType}

/**
 * Table loaders + schema-tolerance helpers.
 *
 * The reference discovers schemas dynamically at load time with three
 * tolerance mechanisms (SURVEY.md §1.3): presence-checked projection
 * (app.py:27-35), fuzzy column resolution
 * (app_indicadores_modelo_atencion.py:676-695), and lenient value parsing
 * (app_confirmaciones.py:45-56). The first two are plain-Scala schema
 * resolution over `df.schema.fieldNames` — resolved BEFORE the plan is
 * built, so Catalyst still sees a static projection it can push down.
 *
 * At 100 TB these readers matter: every query path goes through
 * `table(...)`, which returns a bare parquet scan — no caching, no eager
 * materialization — so filters/projections composed on top reach the
 * parquet reader (PushedFilters / ReadSchema) untouched.
 */
object Sources {

  /** Canonical test-harness tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The ONE parquet schema cache, shared by the harness tables
    * ([[table]], [[Scratch.table]]), the lake's committed version
    * directories ([[graft.lake.Mor]]) and the materialized views
    * ([[graft.plans.ViewRewrite]]). Without an explicit schema every
    * `spark.read.parquet` runs a schema-inference Spark job, and the
    * bench re-opens the same immutable files thousands of times (each
    * query x warm-up + reps; lifecycle queries re-read every chain
    * member dozens of times). Every path cached here is immutable once
    * written: a committed version directory is never rewritten in
    * place (rollback/vacuum delete whole directories, and a recreate is
    * a fresh write with a fresh mtime). So (canonical path, mtime,
    * inference conf) keys the schema safely. Metadata only: the scan
    * itself is untouched, and PushedFilters / ReadSchema behave
    * identically with a supplied schema. Bounded: cleared wholesale
    * past 8192 entries (scratch paths churn), not an LRU. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), StructType]()

  /** The session confs that change what parquet schema INFERENCE
    * returns. Baked into every schema-cache key so a session with
    * different inference settings sharing the JVM re-infers instead of
    * inheriting another session's view of the footer. */
  private[graft] def inferenceConfKey(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp")
      .map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")

  /** The schema `spark.read.parquet(path).schema` returns, cached (see
    * [[schemaCache]]). A miss reads [[footerSchema]] on the driver and
    * falls back to Spark's inference (one Spark job) only for files no
    * Spark writer produced. */
  private[graft] def parquetSchema(spark: SparkSession,
                                   path: String): StructType = {
    val f = new java.io.File(path)
    val key = (f.getCanonicalPath, f.lastModified(), inferenceConfKey(spark))
    val hit = schemaCache.get(key)
    if (hit != null) hit
    else {
      val s = footerSchema(spark, f)
        .getOrElse(spark.read.parquet(path).schema)
      if (schemaCache.size > 8192) schemaCache.clear()
      schemaCache.put(key, s)
      s
    }
  }

  /** Schema-cached parquet read of an immutable path. */
  private[graft] def cachedParquet(spark: SparkSession,
                                   path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The footer key under which every Spark parquet writer records the
    * row schema it wrote. */
  private val sparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark's inference would return for `path`, read from
    * the first data file's footer on the driver, with no Spark job.
    * Spark's own inference (without `mergeSchema`) reads one footer
    * too; when that footer carries [[sparkSchemaKey]] it returns the
    * recorded schema verbatim, and the file-source read then marks
    * every field nullable. This does the same. None when Spark's
    * inference may see something else: a directory with
    * subdirectories (partition columns), no data file, an unreadable
    * footer, or a footer without the key (e.g. Arrow-written inputs,
    * whose schema depends on the inference confs). */
  private[graft] def footerSchema(spark: SparkSession,
                                  path: java.io.File): Option[StructType] = {
    val first =
      if (path.isFile) Some(path)
      else {
        val visible = Option(path.listFiles()).toSeq.flatten.filterNot(f =>
          f.getName.startsWith("_") || f.getName.startsWith("."))
        if (visible.exists(_.isDirectory)) None
        else visible.sortBy(_.getName).headOption
      }
    // an unreadable footer defers to Spark, which reports it as before;
    // the options take the session's conf (the one-argument open parses
    // a fresh Configuration, Hadoop's XML resources included, per call)
    val conf = spark.sparkContext.hadoopConfiguration
    first.flatMap(pf => scala.util.Try {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(pf.getAbsolutePath), conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try rd.getFooter.getFileMetaData.getKeyValueMetaData.get(sparkSchemaKey)
      finally rd.close()
    }.toOption.flatMap(Option(_)))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => asNullable(s).asInstanceOf[StructType] }
  }

  /** Every field, element and value nullable, recursively — what
    * Spark's file-source read does to a data schema. */
  private[graft] def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Lazy parquet scan for one table under an sf directory.
    *
    * `events.ts` has shipped in two parquet flavors across harness data
    * generations and this loader normalizes both to session-zoned
    * TimestampType so every downstream plan sees one type:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; sessions
    *    set `spark.sql.legacy.parquet.nanosAsLong=true`, the column lands
    *    as raw LongType nanos, and we rebuild micros with integer `DIV`
    *    (a double round-trip would lose precision above 2^53 ns, ~1971).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TimestampNTZType; the naive wall-clock is UTC by construction
    *    (driver seed data), and every session pins
    *    `spark.sql.session.timeZone=UTC`, so the cast is value-preserving. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = cachedParquet(spark, s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => normalizeTs(df, nanosAsLong = true)
      case Some(TimestampNTZType) => normalizeTs(df, nanosAsLong = false)
      case _                      => df
    }
  }

  /** The ONE place the two-flavor `ts` normalization lives — shared by
    * [[table]] and the streaming reader
    * ([[graft.streaming.StreamingDemand.eventsStream]]), so batch and
    * stream cannot silently diverge if a third flavor ever ships. */
  private[graft] def normalizeTs(df: DataFrame, nanosAsLong: Boolean): DataFrame =
    if (nanosAsLong) df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df.withColumn("ts", col("ts").cast(TimestampType))

  /**
   * Presence-checked projection (app.py:27-35): select the intersection of
   * `wanted` with the actual columns; report the missing ones.
   * Returns (projected df, missing column names).
   */
  def selectPresent(df: DataFrame, wanted: Seq[String]): (DataFrame, Seq[String]) = {
    val have = df.columns.toSet
    val (present, missing) = wanted.partition(have.contains)
    (if (present.isEmpty) df else df.select(present.map(df.col): _*), missing)
  }

  /**
   * Fuzzy column resolution (app_indicadores_modelo_atencion.py:676-695):
   * first exact case-insensitive match wins, else first column whose
   * lowercase name CONTAINS a candidate, in candidate-priority order.
   */
  def findColumn(df: DataFrame, candidates: Seq[String]): Option[String] = {
    val cols = df.columns
    val lower = cols.map(c => c -> c.toLowerCase)
    candidates.iterator.map(_.toLowerCase).flatMap { cand =>
      lower.collectFirst { case (orig, lc) if lc == cand => orig }
        .orElse(lower.collectFirst { case (orig, lc) if lc.contains(cand) => orig })
    }.nextOption()
  }

  /**
   * Last column containing a substring
   * (app_indicadores_modelo_atencion.py:1570-1593 "last column containing
   * `nombre`").
   */
  def lastColumnContaining(df: DataFrame, sub: String): Option[String] =
    df.columns.reverseIterator.find(_.toLowerCase.contains(sub.toLowerCase))

  /** The shutdown hook of every live [[scratchDir]], by path, so
    * [[removeScratchDir]] can deregister it: a hook left behind is a
    * never-started `Thread` held until JVM exit, and the JDK starts
    * every remaining hook at once on exit. */
  private val scratchHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Temp scratch directory deleted on JVM exit (shutdown hook,
    * recursive): the round-trip/layout queries stage full table copies —
    * without cleanup every bench/verify run would leak one copy per
    * query under /tmp. A directory the caller is done with before exit
    * goes through [[withScratch]] or [[removeScratchDir]]. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    // the hook deletes directly: removeShutdownHook throws once
    // shutdown has begun
    val hook = new Thread(() => FileTree.rmTree(new java.io.File(p)))
    Runtime.getRuntime.addShutdownHook(hook)
    scratchHooks.put(p, hook)
    p
  }

  /** Eager recursive delete of a [[scratchDir]], deregistering its
    * shutdown hook — for callers whose result is fully materialized
    * before return (the streaming run*ToBatch family drains to a
    * LocalRelation / localCheckpoint), so their staged files are dead
    * the moment the stream stops. Without this a 300+-query bench
    * marathon accumulates one staged table copy per streaming run until
    * JVM exit (round-8 finding: repeated in-session q297 runs grew
    * 3.1→6.1 s under marathon pressure). Idempotent. */
  def removeScratchDir(path: String): Unit = {
    Option(scratchHooks.remove(path)).foreach { hook =>
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // exiting: the hook runs
    }
    FileTree.rmTree(new java.io.File(path))
  }

  /** Run `body` over a fresh [[scratchDir]] and remove the directory
    * when it returns or throws. `body`'s result must not reference the
    * directory's files (a lifecycle query seals its report first). */
  def withScratch[A](prefix: String)(body: String => A): A = {
    val root = scratchDir(prefix)
    try body(root) finally removeScratchDir(root)
  }

  /**
   * Header-offset scan (SURVEY.md S3 — the reference's
   * `pd.read_excel(..., header=N)` pattern: N junk rows precede the real
   * header). Reads the file as text, drops the first `skipLines`
   * physical lines, then parses the remainder as headered CSV.
   * `zipWithIndex` assigns global line numbers in file order (its
   * per-partition offsets come from one lightweight count pass), so the
   * drop is exact at any parallelism; everything downstream is a normal
   * CSV scan Catalyst can prune.
   */
  def csvHeaderOffset(spark: SparkSession, path: String, skipLines: Int,
                      sep: String = ","): DataFrame = {
    import spark.implicits._
    val body = spark.read.textFile(path).rdd
      .zipWithIndex()
      .filter(_._2 >= skipLines.toLong)
      .map(_._1)
      .toDS()
    spark.read
      .option("header", "true").option("sep", sep)
      .option("inferSchema", "true")
      .csv(body)
  }

  /** Catalog check before plan construction (SURVEY.md S6):
   * require the named tables to exist under sfDir. */
  def requireTables(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val missing = names.filterNot { n =>
      new java.io.File(s"$sfDir/$n.parquet").exists()
    }
    require(missing.isEmpty, s"missing required tables: ${missing.mkString(", ")}")
  }
}

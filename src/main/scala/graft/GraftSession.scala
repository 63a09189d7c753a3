package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains build ([[Bench]], [[Verify]],
  * [[Explain]]), so a plan printed is the plan Bench times and
  * records, and the one `SPARK_GRAFT_ONLY` subset parser they share.
  * ([[ScaleData]] keeps its own builder: its session writes the 10×
  * data the 10× gate reads.) */
object GraftSession {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with Bench's settings. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      // static conf, defensive sizing: the generated-class cache
      // defaults to 100 entries while a 300+-query marathon compiles
      // far more codegen stages, guaranteeing eviction between a
      // query's warm-up and its timed runs. Measured NEUTRAL at 317
      // queries (x1.011 on the common set vs the default — each
      // query's back-to-back runs stay cached either way); kept so the
      // cache can't become the bottleneck as the suite grows.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The query subset named by `SPARK_GRAFT_ONLY` (comma-separated),
    * or None when it is unset or empty. */
  lazy val only: Option[Set[String]] = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))

  private[graft] def parseOnly(spec: Option[String]): Option[Set[String]] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** Whether query `name` is in the subset: listed by its full name or
    * by its prefix up to the first `_` (`q37` selects `q37_…`). Every
    * query is when no subset is set. */
  def selects(name: String): Boolean = inSubset(only, name)

  private[graft] def inSubset(ids: Option[Set[String]], name: String): Boolean =
    ids.forall(o => o(name) || o(name.takeWhile(_ != '_')))
}

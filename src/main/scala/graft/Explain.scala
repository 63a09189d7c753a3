package graft

/** Plan inspector: prints the formatted physical plan of the named
  * queries (default: the SPARK_GRAFT_ONLY subset, or all) on Bench's
  * session ([[GraftSession.local]]), so the plans are the ones Bench
  * times — used to audit pushdown / broadcast / shuffle structure per
  * SURVEY.md's scale checklist. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.registry.map(_.name).filter(GraftSession.selects)
    wanted.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}

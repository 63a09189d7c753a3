package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failed.json (query → [[Bench.failMsg]]; `{}` when every query wrote),
  * so a missing output is named where it starts. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // optional subset for local iteration: SPARK_GRAFT_ONLY=q158,q159
    val selected = SparkEntry.queries.filter { case (name, _) =>
      GraftSession.selects(name)
    }
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      Bench.attempt(failed, name, "[verify]") {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    val json = OracleDump.oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      Bench.obj(failed.map { case (k, v) => k -> Bench.str(v) }) + "\n")
    spark.stop()
  }
}

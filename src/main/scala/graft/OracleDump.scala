package graft
import java.nio.file.{Files, Paths}

/** Dumps SparkEntry.oracleSql as JSON WITHOUT starting a SparkSession —
  * input for tools/oracle_types.py, the DuckDB oracle-dtype lint (round-8
  * verdict: two queries went red because an uncast DuckDB sum() returns
  * DECIMAL(38,0) while Spark emits int64 and the driver's content hash is
  * dtype-sensitive). Runs in ~2s vs a full Verify pass. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/oracle_sql.json")
    val json = oracleJson(SparkEntry.oracleSql)
    Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${SparkEntry.oracleSql.size} oracle SQLs to $out")
  }

  /** `sql` as one JSON object. Strings escape backslash, quote and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def oracleJson(sql: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}

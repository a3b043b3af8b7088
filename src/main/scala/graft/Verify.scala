package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("Usage: Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev-loop filter: dump (and list oracle SQL for) only the
    // named queries, so one operator can be parity-checked in seconds —
    // the driver always passes 2 args and gets the full suite
    val queries = SparkEntry.selected(args.lift(2))
    val names = queries.map(_._1).toSet
    val oracles = SparkEntry.oracleSql.filter(kv => names(kv._1))
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.forEachQuery(spark, sfDir, queries, "verify") { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-dump CLI: write `explain("formatted")` output for registered
  * queries — the reproducible source of the plan audits curated in
  * docs/PLANS.md. Usage mirrors [[Verify]]:
  * `Explain <sfDir> <outDir> [query,query,...]` → one `<name>.txt` per
  * query. The final frame is analyzed, not executed — though queries
  * built on [[graft.operators.Materialize.pin]] do materialize their
  * pinned subframes while being constructed (the pin is eager by
  * design). AQE re-planning is exercised by PlanSpec, which asserts on
  * EXECUTED plans where it matters.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("Usage: Explain <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.forEachQuery(spark, sfDir, SparkEntry.selected(args.lift(2)), "explain") {
      (name, df) =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"), df.queryExecution.explainString(mode))
    }
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Inline pipeline telemetry: data-quality metrics computed in the SAME
  * pass as the query, via `Dataset.observe` (Catalyst `CollectMetrics`).
  *
  * Why this is a first-class component at 100 TB: every "count the
  * nulls / rows / out-of-range values" check written as a separate
  * aggregation is a second full scan of the input. `observe` rides the
  * existing physical plan — each task folds its rows into a tiny
  * accumulator-style buffer that merges at the driver, so the marginal
  * cost is per-row arithmetic, zero extra jobs, zero extra shuffles.
  * The constraint (from the API contract) is that the metric
  * expressions must be driver-mergeable aggregates (sum/count/min/max
  * style; no distinct, no order-dependent aggregates) — exactly the
  * shape the `Observation` helper enforces.
  *
  * [[qualityGate]] attaches the standard document-corpus gate and
  * returns the `Observation` handle; `get` blocks until the action
  * that consumed the frame finishes.
  */
object Telemetry {

  /** Attach the standard corpus quality gate to any frame with a
    * `text` column: row volume, empty/whitespace-only texts, total
    * bytes, and length extremes — the numbers a pipeline run records
    * next to its output (see `p_datacard` for the offline flavor).
    */
  def qualityGate(df: DataFrame, name: String = "quality_gate"): (DataFrame, Observation) = {
    val obs = Observation(name)
    val observed = df.observe(obs,
      count(lit(1)).as("rows"),
      // isNull first: a NULL text would make the length() condition
      // NULL and fall through otherwise(0) — counting the classic
      // upstream-parse failure as healthy
      sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1L)
        .otherwise(0L)).as("blank_texts"),
      sum(octet_length(col("text")).cast("long")).as("text_bytes"),
      min(length(col("text"))).as("min_len"),
      max(length(col("text"))).as("max_len"))
    (observed, obs)
  }

  /** General form: attach caller-chosen mergeable metric expressions. */
  def withMetrics(df: DataFrame, name: String, metrics: Seq[Column]): (DataFrame, Observation) = {
    require(metrics.nonEmpty, "at least one metric expression")
    val obs = Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }
}

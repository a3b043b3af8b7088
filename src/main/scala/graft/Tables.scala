package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All tables are plain parquet files, one per table, under an sf
  * directory. Reads stay lazy; Catalyst pushes projection/predicates
  * into the vectorized parquet scan, so callers should NOT pre-select
  * columns here — declare what they need and let pruning do its job.
  *
  * The documents/embeddings/events fixtures are each a SINGLE small
  * parquet file, which Spark scans as one split — so without help,
  * every CPU-heavy per-row derivation (shingling, MinHash, cosine)
  * runs on one core. [[spread]] hash-repartitions on the row key right
  * after the scan: a sub-millisecond shuffle of kilobytes that unlocks
  * full parallelism. Results are identical either way because every
  * downstream computation is a deterministic function of the rows,
  * never of their placement.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private def spread(s: SparkSession, d: String, name: String, key: String): DataFrame =
    table(s, d, name).repartition(s.sparkContext.defaultParallelism, col(key))

  def region(s: SparkSession, d: String)    = table(s, d, "region")
  def nation(s: SparkSession, d: String)    = table(s, d, "nation")
  def customer(s: SparkSession, d: String)  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = table(s, d, "supplier")
  def part(s: SparkSession, d: String)      = table(s, d, "part")
  def orders(s: SparkSession, d: String)    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String)    = spread(s, d, "events", "event_id")
  def documents(s: SparkSession, d: String) = spread(s, d, "documents", "doc_id")
  def embeddings(s: SparkSession, d: String) = spread(s, d, "embeddings", "vec_id")
}

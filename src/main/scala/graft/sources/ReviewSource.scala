package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's native input/output surface.
  *
  * Input (reference `ComputeWordScore.java:99-116`): newline-delimited
  * JSON, one Yelp review per line; only `stars` (JSON number, truncated
  * to int at `:113`) and `text` (`:116`) are read; malformed JSON is
  * fail-fast (`:102-108`).
  *
  * Spark's JSON source is line-oriented, so scan+parse (reference ops
  * #1-2) is one `read`. The 2-field schema makes the reference's
  * hand-done column pruning (`:113,116`) explicit — the JSON parser
  * only materializes these fields.
  */
object ReviewSource {

  val schema: StructType = StructType(Seq(
    StructField("stars", DoubleType),
    StructField("text", StringType)))

  /** FAILFAST matches the reference's wrapped-RuntimeException behavior
    * on malformed lines (`:105-107`).
    */
  def reviews(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)
}

/** The reference's final sink: tab-delimited `score<TAB>word` lines
  * (TextOutputFormat after the KV inversion, `ComputeWordScore.java:
  * 192,206-216`), one file (1 reducer, `:209-213`).
  *
  * `coalesce(1)` guarantees the one file for any frame. On the word-score
  * path it does nothing: `WordScore` already sorts in one partition,
  * like the reference's single reducer. The map-side work (scan,
  * tokenize, combine) stays distributed.
  *
  * An existing output directory is REPLACED, atomically: the job writes
  * a hidden sibling `.{name}.staging-{uuid}` and only a successful job
  * swaps it in (old output renamed aside, new renamed in, old
  * deleted). A failed job deletes its sibling and leaves the previous
  * output untouched; Spark's own overwrite mode deletes the old
  * directory before the write job runs, so a failure inside that job
  * would lose the last good result. The reference's `FileOutputFormat`
  * refuses an existing output directory instead.
  */
object TsvSink {
  def write(scored: DataFrame, path: String): Unit = {
    val conf = scored.sparkSession.sparkContext.hadoopConfiguration
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(conf)
    val target = fs.makeQualified(out)
    def sibling(tag: String) = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}.$tag-${java.util.UUID.randomUUID()}")
    val staging = sibling("staging")
    try scored.select(
        concat_ws("\t", col("score").cast("string"), col("word")).as("value"))
      .coalesce(1).write.text(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    val old = sibling("old")
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, old)) {
      fs.delete(staging, true)
      throw new java.io.IOException(s"cannot move the previous output $target aside")
    }
    if (!fs.rename(staging, target)) {
      if (hadOld) fs.rename(old, target)
      fs.delete(staging, true)
      throw new java.io.IOException(s"cannot move the new output into $target")
    }
    if (hadOld) fs.delete(old, true)
  }
}

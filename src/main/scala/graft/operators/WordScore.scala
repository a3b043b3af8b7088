package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.plans.{WordScoreCombine, WordScoreReduce}

/** The reference's entire computation, Spark-first.
  *
  * Reference semantics (`ComputeWordScore.java:32-57`): for every
  * whitespace token of every review's `text`, add `stars - 3`
  * (5★→+2 … 1★→−2, table at `:86-93`); final score per word is the sum;
  * output sorted by score descending (`:54-56`, job 2 at `:187-216`).
  *
  * The reference's two MapReduce jobs + materialized SequenceFile
  * (`:170-176`) collapse into ONE lazy DAG with one exchange:
  *   scan → project → combine → shuffle(single partition) → reduce.
  * Like the reference's `IntSumReducer`, one map serves as combiner
  * (`:180-181`) and reducer (`:209-213`):
  * [[graft.plans.WordScoreCombine]] scans each review's UTF-8 bytes and
  * sums per word within the partition, emitting one row per distinct
  * word per partition (and per flush of its bounded map), not one row
  * per token. Its rows shuffle straight into one partition, the
  * reference's single reducer, where [[graft.plans.WordScoreReduce]]
  * sums them per word in the same kind of map and sorts the result
  * with a primitive sort: no HashAggregate, no Sort, no codegen in the
  * reduce task. The output is the one file the sink writes anyway, so a
  * hash exchange on `word` (whose width is
  * `spark.sql.shuffle.partitions`, a conf this plan never reads) or a
  * range exchange (and the sampling job that plans it) would buy
  * nothing.
  *
  * The vocabulary is tiny relative to the corpus, so the combiner
  * collapses virtually all tokens map-side: the shuffle moves about
  * |distinct words per partition| × map tasks rows (more when a
  * partition's vocabulary outgrows the combiner's map and it flushes).
  * Hot words ("the") are therefore NOT a skew problem post-combine;
  * see [[wordScoreSalted]] for the explicit two-phase pattern used when
  * the grouped value state is too big to pre-aggregate.
  */
object WordScore {

  /** (stars, text) → one (word, partial) row per distinct word per
    * partition: [[graft.plans.WordScoreCombine]] tokenizes, scores and
    * pre-sums each partition. Fail-fast on stars outside {1..5},
    * matching the reference's NPE task failure
    * (`ComputeWordScore.java:113`) EXACTLY: the reference unboxes the
    * modifier at `context.write`, i.e. once per emitted token — a
    * bad-stars review whose text tokenizes to zero words never reaches
    * the write and succeeds. The combiner therefore evaluates the strict
    * modifier at a review's first token, never for a token-less review
    * (pinned by WordScoreSpec for both [[score]] and
    * [[wordScoreSalted]]).
    *
    * A review with a missing or null `text` fails the job whatever its
    * stars, like the reference's NPE on `value.get("text")`
    * (`ComputeWordScore.java:116`). The combiner evaluates that guard
    * once per review.
    */
  private def partials(reviews: DataFrame, stars: Column, text: Column): DataFrame =
    WordScoreCombine.combine(reviews.select(stars.as("stars"), text.as("text")),
      Text.starsModifierStrict(col("stars")),
      when(col("text").isNull, raise_error(lit("review has a missing or null `text`")))
        .otherwise(col("text")))

  /** (stars, text) → (word, score), sorted score desc, word asc (the
    * deterministic tie-break the reference explicitly allows, `:56`) in
    * one partition: [[graft.plans.WordScoreReduce]] sums the partials
    * and sorts the result in the one reduce task.
    */
  def score(reviews: DataFrame, stars: Column, text: Column): DataFrame =
    WordScoreReduce.reduce(partials(reviews, stars, text))

  /** Flagship over the `documents` fixture: the fixture has no ratings,
    * so a deterministic star rating is derived from `doc_id`
    * (SURVEY.md §7) — expressible identically in the DuckDB oracle.
    */
  def flagship(docs: DataFrame): DataFrame =
    score(docs, col("doc_id") % 5 + 1, col("text"))

  def flagshipOracle(): String =
    s"""SELECT word, CAST(SUM(CAST(doc_id % 5 + 1 AS INT) - 3) AS BIGINT) AS score
       |FROM (SELECT doc_id, unnest(string_split_regex(text, '${Text.DelimRegex}')) AS word
       |      FROM documents)
       |WHERE length(word) > 0
       |GROUP BY word
       |ORDER BY score DESC, word""".stripMargin

  /** Salt buckets of [[wordScoreSalted]]'s first aggregation. */
  private val SaltBuckets = 16

  /** Same result via the explicit two-phase (salted) aggregation.
    *
    * Pattern for key skew: salt the hot key space, partially
    * aggregate per (word, salt), then de-salt and finish. For a plain
    * `sum` the combiner's per-partition pre-sum already does this
    * implicitly, which is why [[score]] needs no second phase; the
    * salted form is the drop-in shape for aggregations whose partial
    * state is per-row (e.g. collect-type aggs) where one hot word would
    * otherwise pin a single reducer. It keeps its own plan: a partial
    * aggregate per (word, salt), hash exchanges and a final
    * `coalesce(1)` before the sort.
    */
  def wordScoreSalted(reviews: DataFrame, stars: Column, text: Column): DataFrame =
    partials(reviews, stars, text)
      .withColumn("salt", pmod(spark_partition_id(), lit(SaltBuckets)))
      .groupBy("word", "salt")
      .agg(sum("partial").as("partial"))
      .groupBy("word")
      .agg(sum("partial").as("score"))
      .coalesce(1)
      .sortWithinPartitions(col("score").desc, col("word"))
}

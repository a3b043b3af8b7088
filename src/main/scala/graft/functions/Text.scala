package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the word-score flagship and the text-analysis
  * operators.
  *
  * Tokenization reproduces the reference's `java.util.StringTokenizer`
  * defaults (reference `ComputeWordScore.java:116-120`): delimiters are
  * exactly {space, \t, \n, \r, \f}, empty tokens are never emitted, and
  * there is NO case folding or punctuation stripping. The word-score
  * job tokenizes with the same rule in its combiner's byte scan
  * (`graft.plans.WordScoreCombine`); [[tokens]] serves everything else.
  *
  * `split` on the delimiter-class regex can produce ONE leading empty
  * string (when the text starts with a delimiter) and, with Spark's
  * `limit = -1`, one trailing empty string (when it ends with one);
  * [[tokens]] therefore removes empties from the array before it is
  * exploded.
  */
object Text {

  /** Regex class matching StringTokenizer's default delimiters, in
    * Spark's `split` and in the DuckDB oracle SQL alike (the same
    * pattern in Java regex and RE2).
    */
  val DelimRegex = "[ \\t\\n\\r\\f]+"

  /** DuckDB fragment producing the same empty-filtered token list as
    * [[tokens]] — the single source of truth for oracle-side
    * tokenization (referenced by every oracle that tokenizes).
    */
  val ToksSql: String =
    s"list_filter(string_split_regex(text, '$DelimRegex'), x -> length(x) > 0)"

  /** DuckDB fragment: the space-joined n-gram starting at list index
    * `$idx` of token list `$toks` — the single source of truth for
    * oracle-side gram construction (decontamination, duplicate
    * substrings), like [[ToksSql]] is for tokenization.
    */
  def gramConcatSql(toks: String, idx: String, n: Int): String =
    (0 until n).map(k => s"$toks[$idx+$k]").mkString(" || ' ' || ")

  /** DuckDB CTE `name` (`doc_id, sh`): the distinct word 3-grams of each
    * row of `from` (`doc_id, toks`) with at least 3 tokens — the oracle
    * side of the shingle sets the near-duplicate queries block and
    * compare on.
    */
  def sh3Sql(from: String, name: String): String =
    s"""$name AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> ${gramConcatSql("toks", "i", 3)})) AS sh
       |  FROM $from WHERE len(toks) >= 3)""".stripMargin

  /** DuckDB CTEs `t` (`doc_id, toks` per document, [[ToksSql]]) and
    * `sh3` over it ([[sh3Sql]]).
    */
  val ToksSh3Sql: String =
    s"t AS (SELECT doc_id, $ToksSql AS toks FROM documents),\n${sh3Sql("t", "sh3")}"

  /** `text` → array<string> of tokens, empties removed.
    * `array_remove` is exact here: `split` never yields a null element,
    * and a null `text` gives null either way. Unlike a `filter` lambda
    * (`ArrayFilter` is interpreted, a `CodegenFallback`), it compiles
    * inside the whole-stage codegen span.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, DelimRegex), lit(""))

  /** Word-level n-gram shingles of size n as space-joined strings.
    * Documents shorter than n yield an empty array — guarded
    * explicitly, because `sequence(1, 0)` generates a DESCENDING
    * [1, 0] sequence in Spark (it does not clamp), and slice with
    * start 0 then throws at runtime.
    *
    * `toks` is LET-BOUND through a single-element transform before the
    * per-index lambda touches it: higher-order lambdas are interpreted
    * with no common-subexpression elimination, so an inline `toks`
    * subtree (typically the full tokenize) would be RE-EVALUATED per
    * shingle — O(len·shingles) per document. Measured on d_substring
    * at sf0.1: 1.36 s → let-bound form below. The bound variable is an
    * attribute read, evaluated once per row regardless of caller.
    */
  def shingles(toks: Column, n: Int): Column =
    element_at(transform(array(toks), t => shingleBody(t, n)), 1)

  private def shingleBody(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** The flagship modifier: stars → {1→-2, 2→-1, 3→0, 4→+1, 5→+2}.
    * The reference's lookup table (`ComputeWordScore.java:86-93`) is
    * exactly `stars - 3`; the double→int truncation at `:113`
    * (Number.intValue) is `cast("int")` (both truncate toward zero).
    * Stars outside {1..5} kill the job, as in the reference (its
    * `SCORE_MODIFIERS.get` returns null there and the unboxing NPE
    * fails the task, `ComputeWordScore.java:113`); so does a missing or
    * null `stars`, whose message says `null`.
    */
  def starsModifierStrict(stars: Column): Column = {
    val t = stars.cast("int")
    when(t.between(1, 5), t - lit(3))
      .otherwise(raise_error(concat(lit("review `stars` out of domain {1..5}: "),
        coalesce(stars.cast("string"), lit("null")))))
  }
}

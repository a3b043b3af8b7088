package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.WordScore
import graft.sources.{ReviewSource, TsvSink}

/** CLI twin of the reference's driver (`ComputeWordScore.run`,
  * `ComputeWordScore.java:137-223`): `[-Dkey=value ...] <input>
  * <output>`, exit 2 on misuse, exit 0/1 on success/failure — so a user
  * of the reference can run the same submission command shape against
  * this engine. `-D key=value` (separate tokens) is accepted too,
  * matching Hadoop's `GenericOptionsParser`/`ToolRunner` handling
  * (`ComputeWordScore.java:221-223`); each pair lands in the session
  * conf before any query runs.
  *
  * Input: a file/dir of Yelp-style JSON-lines reviews (fail-fast on
  * malformed records, like the reference). Output: one tab-delimited
  * `score<TAB>word` file sorted by score descending — byte-compatible
  * with the reference's TextOutputFormat result (`:192,206-216`),
  * sorted in one partition like its single reducer.
  *
  * Known divergence from the single failure code: a job that runs out
  * of heap exits 52, not 1. Spark's executor thread handler
  * (`SparkUncaughtExceptionHandler`) halts the JVM on an
  * `OutOfMemoryError`, after `main` has printed `word-score failed: …
  * OutOfMemoryError`.
  */
object WordScoreMain {

  /** Splits argv into (-D conf pairs, positional args); None on a
    * malformed `-D` (no '=' or empty key) or a dangling trailing `-D`.
    */
  private[graft] def parseArgs(args: Array[String]): Option[(Seq[(String, String)], Seq[String])] = {
    val confs = Seq.newBuilder[(String, String)]
    val positional = Seq.newBuilder[String]
    var i = 0
    def addConf(kv: String): Boolean = kv.indexOf('=') match {
      case n if n > 0 => confs += kv.substring(0, n) -> kv.substring(n + 1); true
      case _ => false
    }
    while (i < args.length) {
      args(i) match {
        case "-D" if i + 1 < args.length => if (!addConf(args(i + 1))) return None; i += 2
        case a if a.startsWith("-D") && a.length > 2 => if (!addConf(a.substring(2))) return None; i += 1
        case "-D" => return None
        case a => positional += a; i += 1
      }
    }
    Some((confs.result(), positional.result()))
  }

  /** The messages of `e`'s cause chain, outermost first: a session that
    * fails to start on a bad `-D` value names the key and value only in
    * a cause.
    */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(c => Option(c.getMessage).getOrElse(c.getClass.getName)).toSeq.distinct
      .mkString(" <- ")

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args).filter(_._2.length == 2)
    if (parsed.isEmpty) {
      System.err.println("Usage: WordScoreMain [-Dkey=value ...] <input> <output>")
      sys.exit(2)
    }
    val (confs, positional) = parsed.get
    val (input, output) = (positional(0), positional(1))
    // everything after arg validation — session startup (an invalid -D
    // VALUE fails conf validation here) and the pipeline — lands in the
    // documented exit-1 failure path; compute the exit code first, stop
    // the session, THEN exit.
    var spark: SparkSession = null
    val code =
      try {
        // no UI port and no INFO chatter, as SparkEntry.localSession
        // has it; `spark.log.level` takes effect while the context
        // starts, so its own INFO lines go too
        val builder = SparkSession.builder()
          .appName("word-score")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.log.level", "WARN")
        // a plain `java` launch runs locally on every core, as the
        // reference's `hadoop jar` does; spark-submit passes its master
        // as the `spark.master` system property, which a builder
        // option would override, so the default yields to it
        val withMaster =
          if (sys.props.contains("spark.master")) builder else builder.master("local[*]")
        // the main runs in its own JVM, so getOrCreate always builds a
        // new session and the builder applies every pair, after (and so
        // over) the defaults above
        spark = confs.foldLeft(withMaster) { case (b, (k, v)) => b.config(k, v) }
          .getOrCreate()
        val scored = WordScore.score(
          ReviewSource.reviews(spark, input), col("stars"), col("text"))
        TsvSink.write(scored, output)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"word-score failed: ${causes(e)}")
          1
      }
    if (spark != null) spark.stop()
    sys.exit(code)
  }
}

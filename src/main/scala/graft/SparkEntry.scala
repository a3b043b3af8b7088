package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, Events, Geo, Materialize, Multimodal, Relational, Similarity, TextAnalysis, WordScore}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator gets a named entry in [[queries]]; batch
  * SQL-expressible ones get matching DuckDB SQL in [[oracleSql]] over
  * the same parquet tables (bare table names). Column names and types
  * are aligned on both sides (the driver sorts columns by name and
  * hash-compares values), and every query ends in a deterministic total
  * order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordScore.flagship(Tables.documents(spark, "/root/testdata/sf0.001"))

  type Query = (SparkSession, String) => DataFrame

  /** The local session the driver mains ([[Bench]], [[Verify]],
    * [[Explain]]) run in: `local[SPARK_GRAFT_CPUS]` (default 4), one
    * shuffle partition per core, AQE on, UTC, no UI, WARN logging. The
    * engine's whole registry (GraftSql.ensureRegistered) is installed
    * up front, so every query plans with the same rules whatever ran
    * before it.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    spark
  }

  /** [[queries]] sorted by name, restricted to a comma-separated name
    * list when one is given (the mains' optional subset argument).
    */
  def selected(only: Option[String]): Seq[(String, Query)] = {
    val names = only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_(n)) }
  }

  /** Builds each query and hands it to `use`; a failure is logged under
    * `tag` and the run moves on. Each query's [[Materialize]] pins are
    * released before the next starts, so a full run never holds more
    * than one query's persisted blocks.
    */
  def forEachQuery(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
                   tag: String)(use: (String, DataFrame) => Unit): Unit =
    qs.foreach { case (name, fn) =>
      try use(name, fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      } finally Materialize.releaseAll(spark)
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] = {
    val base: Map[String, Query] = Map(
      "wordscore" -> ((s, d) => WordScore.flagship(Tables.documents(s, d))),
      "wordscore_salted" -> ((s, d) =>
        WordScore.wordScoreSalted(Tables.documents(s, d),
          org.apache.spark.sql.functions.col("doc_id") % 5 + 1,
          org.apache.spark.sql.functions.col("text"))),
    )
    base ++
      Relational.queries.map { case (k, (fn, _)) => k -> fn } ++
      TextAnalysis.queries.map { case (k, (fn, _)) => k -> fn } ++
      Dedup.queries.map { case (k, (fn, _)) => k -> fn } ++
      Similarity.queries.map { case (k, (fn, _)) => k -> fn } ++
      Events.queries.map { case (k, (fn, _)) => k -> fn } ++
      Multimodal.queries.map { case (k, (fn, _)) => k -> fn } ++
      Curation.queries.map { case (k, (fn, _)) => k -> fn } ++
      Geo.queries.map { case (k, (fn, _)) => k -> fn }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "wordscore" -> WordScore.flagshipOracle(),
    "wordscore_salted" -> WordScore.flagshipOracle(),
  ) ++ Relational.queries.map { case (k, (_, sql)) => k -> sql } ++
    TextAnalysis.queries.map { case (k, (_, sql)) => k -> sql } ++
    Dedup.queries.map { case (k, (_, sql)) => k -> sql } ++
    Similarity.queries.map { case (k, (_, sql)) => k -> sql } ++
    Events.queries.map { case (k, (_, sql)) => k -> sql } ++
    Multimodal.queries.collect { case (k, (_, Some(sql))) => k -> sql } ++
    Curation.queries.map { case (k, (_, sql)) => k -> sql } ++
    Geo.queries.map { case (k, (_, sql)) => k -> sql }
}

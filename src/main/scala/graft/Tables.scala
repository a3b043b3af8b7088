package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All tables are plain parquet files, one per table, under an sf
  * directory. Reads stay lazy; Catalyst pushes projection/predicates
  * into the vectorized parquet scan, so callers should NOT pre-select
  * columns here — declare what they need and let pruning do its job.
  *
  * Building a frame runs no Spark job. A bare `spark.read.parquet`
  * infers the schema with a one-task job per call
  * (`mergeSchemasInParallel`); [[parquet]] instead reads one footer on
  * the driver, converts it with the code that job runs, and reads with
  * that schema. Nothing is cached, so a file rewritten in place reads
  * back with its new schema on the next call.
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

  /** `spark.read.parquet(path)` with the schema that read would infer,
    * taken from one footer read on the driver: the file itself, or the
    * first leaf data file of a directory Spark wrote (`_*` and `.*`
    * names skipped, as Spark's listing does; all parts of one write
    * share a schema), converted as the inference job converts it under
    * the session's conf with `spark.sql.legacy.parquet.nanosAsLong`
    * set. So a TIMESTAMP(NANOS) column reads as epoch-nanosecond LONG,
    * which a read with that schema decodes without the flag, and the
    * session's conf is never changed. A path with no data file reads as
    * a bare `spark.read.parquet`, so Spark raises its own error.
    */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).iterator.filterNot { c =>
        val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".")
      }.flatMap(firstFile).nextOption()
    Option.when(fs.exists(root))(fs.getFileStatus(root)).flatMap(firstFile).map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(
          s.sessionState.conf.copy(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> true)))
    }.fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

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

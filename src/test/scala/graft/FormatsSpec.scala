package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TempDirs.withTempDir

/** Source/sink format coverage beyond parquet+JSON: CSV and ORC
  * round-trips with explicit schemas (spark-avro is not bundled in this
  * build's jars; ORC core is).
  */
class FormatsSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "text", "lang", "n_chars")

  test("csv round-trip with explicit schema and header") {
    withTempDir("graft_csv") { tmp =>
      val out = tmp.getAbsolutePath + "/docs"
      docs.write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val back = spark.read.schema(schema).option("header", "true").csv(out)
      assert(back.count() === docs.count())
      val diff = back.union(docs).except(back.intersect(docs))
      assert(diff.count() === 0)
    }
  }

  test("json-lines round-trip with explicit schema (the reference's native format)") {
    withTempDir("graft_json") { tmp =>
      val out = tmp.getAbsolutePath + "/docs"
      docs.write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val back = spark.read.schema(schema).option("mode", "FAILFAST").json(out)
      assert(back.count() === docs.count())
      assert(back.except(docs).count() === 0 && docs.except(back).count() === 0)
    }
  }

  test("orc round-trip preserves rows and types") {
    withTempDir("graft_orc") { tmp =>
      val out = tmp.getAbsolutePath + "/docs"
      docs.write.mode("overwrite").orc(out)
      val back = spark.read.orc(out)
      assert(back.schema === docs.schema)
      assert(back.except(docs).count() === 0 && docs.except(back).count() === 0)
    }
  }
}

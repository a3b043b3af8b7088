package graft

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir

/** `Tables.parquet` reads each table's schema from one parquet footer on
  * the driver: the frames it builds must carry exactly the schema Spark's
  * own inference gives, for single files and for directories Spark wrote,
  * and building them must start no Spark job.
  */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema === spark.read.parquet(path).schema, path)

  /** Spark jobs started while `body` runs, counted after the listener
    * bus has delivered every queued event.
    */
  private def jobsStarted(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.ListenerBus.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  test("every fixture reads with the schema Spark infers") {
    val fixtures = new File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(fixtures.contains("events.parquet") && fixtures.size == 10, fixtures)
    for (nanos <- Seq(Some("true"), None)) withConf(NanosAsLong, nanos) {
      fixtures.foreach(f => assertSameSchema(s"$sf/$f"))
    }
  }

  /** A one-file events table whose `ts` is parquet TIMESTAMP(NANOS), the
    * encoding Spark reads only under nanosAsLong (the sf0.001 fixture's
    * `ts` is TIMESTAMP(MICROS)).
    */
  private def writeNanosEvents(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try (1L to 3L).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", i).append("ts", i * 1000000000L)))
    finally w.close()
  }

  test("nanosecond timestamps read as epoch-nanosecond LONG with no session flag") {
    withTempDir("tables_nanos") { dir =>
      val p = s"$dir/events.parquet"
      writeNanosEvents(p)
      for (nanos <- Seq(None, Some("false"), Some("true"));
           vectorized <- Seq("true", "false")) withConf(NanosAsLong, nanos) {
        withConf("spark.sql.parquet.enableVectorizedReader", Some(vectorized)) {
          val flag = spark.conf.getOption(NanosAsLong)
          val t = Tables.parquet(spark, p)
          assert(t.schema("ts").dataType === org.apache.spark.sql.types.LongType)
          assert(t.select("ts").collect().map(_.getLong(0)).toSeq ===
            Seq(1000000000L, 2000000000L, 3000000000L), s"$nanos, vectorized $vectorized")
          assert(spark.conf.getOption(NanosAsLong) === flag)
        }
      }
      // the schema is the one Spark infers under the flag
      withConf(NanosAsLong, Some("true"))(assertSameSchema(p))
    }
  }

  test("an events query leaves the session conf as it found it") {
    withConf(NanosAsLong, None) {
      val before = spark.conf.getAll
      SparkEntry.queries("e_tumbling")(spark, sf).collect()
      assert(spark.conf.getAll === before)
    }
  }

  test("Spark-written directories: several parts, partitioned, empty") {
    withTempDir("tables") { dir =>
      val df = spark.range(200).select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("w"), col("id").cast("string")).as("s"),
        array(col("id").cast("float")).as("v"),
        struct(col("id").as("a"), lit(1.5).as("b")).as("st"))
      val parts = s"$dir/parts"
      df.repartition(4).write.parquet(parts)
      val names = new File(parts).list().toSeq
      assert(names.contains("_SUCCESS") && names.count(_.startsWith("part-")) > 1, names)
      assertSameSchema(parts)

      val partitioned = s"$dir/partitioned"
      df.write.partitionBy("k").parquet(partitioned)
      assertSameSchema(partitioned)

      val empty = s"$dir/empty"
      df.limit(0).write.parquet(empty)
      assertSameSchema(empty)
      assert(Tables.parquet(spark, empty).count() === 0)
    }
  }

  test("a path with no data file fails as a bare read does") {
    withTempDir("tables_none") { dir =>
      for (p <- Seq(s"$dir/missing.parquet", dir.getAbsolutePath)) {
        val ours = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, p))
        val spark_ = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(p))
        assert(ours.getCondition === spark_.getCondition, p)
      }
    }
  }

  test("building the q_tpch_q21 and e_asof_native frames starts no Spark job") {
    val qs = SparkEntry.selected(Some("q_tpch_q21,e_asof_native"))
    assert(qs.map(_._1) === Seq("e_asof_native", "q_tpch_q21"))
    qs.foreach { case (name, fn) =>
      assert(jobsStarted(fn(spark, sf)) === 0, name)
    }
  }

  test("a table rewritten in place reads back with its new schema") {
    withTempDir("tables_rewrite") { dir =>
      val d = dir.getAbsolutePath
      spark.range(3).select(col("id").as("a"), lit("x").as("b"))
        .write.parquet(s"$d/t.parquet")
      assert(Tables.table(spark, d, "t").columns.toSeq === Seq("a", "b"))
      spark.range(3).select(col("id").cast("double").as("z"))
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val again = Tables.table(spark, d, "t")
      assert(again.columns.toSeq === Seq("z"))
      assert(again.collect().map(_.getDouble(0)).sorted.toSeq === Seq(0.0, 1.0, 2.0))
    }
  }
}

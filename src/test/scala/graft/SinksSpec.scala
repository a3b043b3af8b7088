package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir
import graft.operators.Events

/** Sink-side coverage: partitioned parquet layout with partition pruning
  * at read time — the layout decision that turns a 100 TB scan into a
  * targeted read.
  */
class SinksSpec extends SparkSpec {

  test("partitionBy write + partition-pruned read-back") {
    withTempDir("graft_part") { tmp =>
      val out = tmp.getAbsolutePath + "/events"
      val ev = Events.load(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)

      val back = spark.read.parquet(out).filter(col("event_type") === "click")
      back.collect()
      val plan = back.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
        "partition pruning missing:\n" + plan.take(800))
      assert(back.count() === ev.filter(col("event_type") === "click").count())

      // round-trip fidelity over all partitions
      val total = spark.read.parquet(out).count()
      assert(total === ev.count())
    }
  }

  test("dynamic partition overwrite: backfill replaces only its partitions") {
    // the idempotent-backfill contract at 100 TB: re-running one day's
    // job must replace THAT day's partitions and leave every other
    // partition untouched — static overwrite mode would truncate the
    // whole table first
    withTempDir("graft_dynpart") { tmp =>
      val out = tmp.getAbsolutePath + "/ev"
      val ev = Events.load(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      // materialize every before-state number NOW — the frame is lazy
      // and would re-list the rewritten files after the backfill
      val before = spark.read.parquet(out)
      val clicksBefore = before.filter(col("event_type") === "click").count()
      val othersBefore = before.filter(col("event_type") =!= "click").count()
      val sumBefore = before.filter(col("event_type") === "click")
        .agg(sum(col("value"))).collect()(0).getDouble(0)

      val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // "backfill" the click partition with a corrected (halved) value
        ev.filter(col("event_type") === "click")
          .withColumn("value", col("value") / 2)
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
      } finally old match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }

      val after = spark.read.parquet(out)
      assert(after.filter(col("event_type") === "click").count() === clicksBefore)
      assert(after.filter(col("event_type") =!= "click").count() === othersBefore,
        "non-click partitions must survive the backfill untouched")
      // the backfilled partition really carries the new values
      val sumAfter = after.filter(col("event_type") === "click")
        .agg(sum(col("value"))).collect()(0).getDouble(0)
      assert(math.abs(sumAfter - sumBefore / 2) < 1e-6)
    }
  }
}

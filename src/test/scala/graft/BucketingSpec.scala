package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir

/** Bucketing: the co-located-join strategy for repeated fact-fact joins
  * at scale. Writing both join sides bucketed by the join key lets Spark
  * plan a SortMergeJoin with NO shuffle exchange — at 100 TB that is the
  * difference between re-shuffling both tables per query and reading
  * pre-placed buckets.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // external tables with explicit paths — the warehouse dir (a static
    // conf) stays untouched; only the metastore records the tables.
    // Broadcast is disabled so the join takes the fact-fact (sort-merge)
    // path this spec is about — at real scale neither side broadcasts.
    withTempDir("graft_warehouse") { tmp =>
      val wh = tmp.getAbsolutePath
      val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try bucketedJoinBody(wh)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
    }
  }

  test("gated q_join_bucketed: bucketed scans feed the join with no exchange") {
    val df = graft.operators.Relational.qJoinBucketed(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan.take(800))
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey") &&
      !belowJoin.contains("Exchange hashpartitioning(o_orderkey"),
      "gated bucketed join still shuffles:\n" + plan.take(1500))
    assert(belowJoin.contains("SelectedBucketsCount") || belowJoin.contains("Bucketed: true"),
      "join inputs are not bucketed scans:\n" + plan.take(1500))
  }

  private def bucketedJoinBody(wh: String): Unit = {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")

    Tables.lineitem(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables.orders(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))

    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the join itself must consume bucketed scans directly: the only
    // allowed exchange is the final tiny groupBy — no exchange may feed
    // the SortMergeJoin
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan.take(800))
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey") &&
      !belowJoin.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join still shuffles:\n" + plan.take(1500))

    // and it returns the same result as the unbucketed join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === expected)

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }
}

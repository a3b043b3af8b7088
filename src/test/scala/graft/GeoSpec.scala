package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir
import graft.operators.Geo

/** Grid spatial join family: exactness vs brute force, salted-form
  * equivalence, kNN ordering, and the no-cartesian plan pin.
  */
class GeoSpec extends SparkSpec {

  private def brute() = {
    // Same synthetic coordinates the operator derives, but joined the
    // O(n*m) way — the oracle the grid must match EXACTLY, because the
    // 3x3 neighborhood is a superset of every in-radius pair.
    val cust = Tables.customer(spark, sf).select(col("c_custkey"), col("c_acctbal"))
      .withColumn("cx", expr("CAST((c_custkey * 2654435761) % 100003 AS DOUBLE) / 100003.0"))
      .withColumn("cy", expr("CAST((c_custkey * 2246822519) % 100019 AS DOUBLE) / 100019.0"))
    val supp = Tables.supplier(spark, sf).select(col("s_suppkey"))
      .withColumn("sx", expr("CAST((s_suppkey * 2654435761 + 911382323) % 100003 AS DOUBLE) / 100003.0"))
      .withColumn("sy", expr("CAST((s_suppkey * 2246822519 + 387413921) % 100019 AS DOUBLE) / 100019.0"))
    cust.crossJoin(supp)
      .where(expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 0.0025"))
  }

  test("g_grid_join equals the brute-force radius join bit-for-bit") {
    val grid = Geo.gGridJoin(spark, sf).collect().toSeq
    val bf = brute()
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
      .orderBy("s_suppkey").collect().toSeq
    assert(grid.nonEmpty && grid == bf)
  }

  test("g_grid_salted returns the identical result set") {
    assert(Geo.gGridSalted(spark, sf).collect().toSeq ==
      Geo.gGridJoin(spark, sf).collect().toSeq)
  }

  test("g_grid_knn ranks by (dist2, custkey) within the radius, k<=3 per supplier") {
    val rows = Geo.gGridKnn(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySupp = rows.groupBy(_.getLong(0))
    bySupp.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      assert(sorted.length <= 3)
      // dist2 non-decreasing with rank, all within r^2
      val d = sorted.map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
      assert(d.forall(_ <= 0.0025))
    }
    // rank-1 rows are each supplier's TRUE in-radius nearest (brute check)
    val bfBest = brute()
      .withColumn("dist2", expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") === 1)
      .select("s_suppkey", "c_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gridBest = rows.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gridBest == bfBest)
  }

  test("adversarial hot cell: salting splits one dense cell into bounded co-partitions") {
    // 10,000 probe points land in ONE cell (a "city"); one build point
    // covers it. Unsalted, every candidate pair rides a single
    // (cell_x, cell_y) shuffle key = one straggler task. With 8 salt
    // groups the probe rows split by hash(c_custkey)%8, so the largest
    // co-partition — and therefore the largest task's input, since the
    // shuffle keys on exactly (cell, salt) — is bounded near N/8.
    import spark.implicits._
    val hotCust = (1L to 10000L).toDF("c_custkey")
      .withColumn("c_acctbal", lit(1.0))
      .withColumn("cx", lit(0.51) + col("c_custkey").cast("double") / 1e9)
      .withColumn("cy", lit(0.51))
    val oneSupp = Seq(7L).toDF("s_suppkey")
      .withColumn("sx", lit(0.52)).withColumn("sy", lit(0.51))
    val cand = Geo.gridCandidates(hotCust, oneSupp, saltGroups = 8)
    val sizes = cand.groupBy("salt").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cand.count() == 10000L)                  // nothing lost, nothing duplicated
    assert(sizes.keySet == (0 until 8).toSet)       // all salt groups materialize
    assert(sizes.values.max <= 2L * 10000 / 8)      // no group degenerates back to "one task"
  }

  test("property: grid == brute force on random and cell-boundary points, any salt") {
    // The PBSM superset theorem exercised where it can actually break:
    // random placements plus points EXACTLY on cell boundaries and
    // pairs at distance exactly r (the |delta cell| <= 1 edge). Both
    // engines share the derivation here, so the property under test is
    // the grid's candidate completeness, salt-invariant.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val boundary = for (i <- 0 until 40) yield
      (1000L + i, 0.05 * (i % 20), 0.05 * ((i / 2) % 20)) // on gridlines
    val probePts = (1 to 500).map(i =>
      (i.toLong, rnd.nextDouble(), rnd.nextDouble())) ++ boundary
    val buildPts = (1 to 50).map(i =>
      (i.toLong, rnd.nextDouble(), rnd.nextDouble())) ++
      // build sites exactly r away from two boundary probes, axis-aligned
      Seq((900L, 0.05 * 3 + 0.05, 0.05 * 1), (901L, 0.05 * 5, 0.05 * 2 + 0.05))
    val probe = probePts.toDF("c_custkey", "cx", "cy")
      .withColumn("c_acctbal", lit(1.0))
    val build = buildPts.toDF("s_suppkey", "sx", "sy")
    val want = probe.crossJoin(build)
      .where(expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 0.0025"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
      .orderBy("s_suppkey").collect().toSeq
    for (salt <- Seq(1, 5)) {
      val got = Geo.gridCandidates(probe, build, salt)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
        .orderBy("s_suppkey").collect().toSeq
      assert(got == want, s"salt=$salt")
    }
    assert(want.nonEmpty)
  }

  test("grid join plans as an equi-join on cells, never a cartesian product") {
    val plan = Geo.gGridJoin(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("g_visits: visit/ping/dwell invariants hold for every (user, site)") {
    val rows = Geo.gVisits(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (visits, pings, dwell) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(visits >= 1 && pings >= visits, s"$r")
      assert(dwell >= 0, s"$r")
      // a single-ping visit has zero dwell; pings == visits means ALL
      // visits are single-ping, so total dwell must be zero
      if (pings == visits) assert(dwell == 0, s"$r")
    }
  }

  test("grid store round-trip serves identically; scan reads only touched cells") {
    import graft.sources.IndexStore
    withTempDir("graft_grid_store") { tmp =>
      val dir = tmp.toString
      // gated path: save -> reload -> serve equals the in-session join
      assert(Geo.gGridServed(spark, sf).collect().toSeq ==
        Geo.gGridJoin(spark, sf).collect().toSeq)

      // pruning metric: with TWO sites, the reloaded scan must read at
      // most their 3x3 neighborhoods (<= 18 cell dirs), not the whole
      // store — asserted on the EXECUTED scan's numPartitions metric
      import org.apache.spark.sql.functions._
      val probe = spark.range(1, 5001).toDF("c_custkey")
        .withColumn("c_acctbal", lit(1.0))
        .withColumn("cx", expr("CAST((c_custkey * 2654435761) % 100003 AS DOUBLE) / 100003.0"))
        .withColumn("cy", expr("CAST((c_custkey * 2246822519) % 100019 AS DOUBLE) / 100019.0"))
      IndexStore.saveGrid(dir, Geo.withCells(probe))
      // single-level Morton layout: one cell_z= dir per occupied cell
      val allCells = Option(new java.io.File(s"$dir/cells_v1").listFiles())
        .toSeq.flatten.count(f => f.isDirectory && f.getName.startsWith("cell_z="))
      import spark.implicits._
      val sites = Seq((1L, 0.31, 0.47), (2L, 0.83, 0.12))
        .toDF("s_suppkey", "sx", "sy")
      val served = Geo.servedCandidates(IndexStore.loadGrid(spark, dir), sites)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_near"))
        .orderBy("s_suppkey")
      served.collect()
      val scans = scansUnder(served.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("/cells_v1")))
      assert(scans.nonEmpty, "grid store scan not found")
      // numPartitions counts leaf cell_z= directories read
      val read = scans.map(_.metrics("numPartitions").value).max
      assert(read <= 18, s"read $read cell dirs for 2 sites (expected <= 18)")
      assert(allCells > 18, s"store only has $allCells cell dirs; test vacuous")
    }
  }

  test("GridJoinRewrite: naive cross-join form rewrites to the cell equi-join") {
    // results identical to the hand-built grid join (same oracle gates
    // both), and the optimized plan is structural: the corpus-side
    // join is a hash join; the only nested-loop left is the 9-row
    // offsets relation
    assert(Geo.gGridAuto(spark, sf).collect().toSeq ==
      Geo.gGridJoin(spark, sf).collect().toSeq)
    val planStr = Geo.gGridAuto(spark, sf).queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin") || planStr.contains("SortMergeJoin"))
    assert(!planStr.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(planStr).size
    assert(bnlj <= 1, s"unexpected nested loops:\n$planStr")
    if (bnlj == 1) assert(planStr.contains("LocalTableScan"),
      "the surviving nested loop is not the offsets relation")

    // negative control: with the rule removed, the same query plans
    // the O(n*m) nested loop — proving the structure came from the rule
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = em.extraOptimizations
    try {
      em.extraOptimizations =
        saved.filterNot(_ == graft.plans.GridJoinRewrite)
      val naive = Geo.gGridAuto(spark, sf) // re-registers; strip again
      em.extraOptimizations =
        em.extraOptimizations.filterNot(_ == graft.plans.GridJoinRewrite)
      val naiveStr = naive.queryExecution.executedPlan.toString
      assert(naiveStr.contains("BroadcastNestedLoopJoin") ||
        naiveStr.contains("CartesianProduct"))
      assert(!naiveStr.contains("_gridx_"))
    } finally em.extraOptimizations = saved
  }

  test("GridJoinRewrite: fires on SQL-text queries and matches the brute result") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val rnd = new scala.util.Random(7)
    (1 to 400).map(i => (i.toLong, rnd.nextDouble(), rnd.nextDouble()))
      .toDF("id", "x", "y").createOrReplaceTempView("grw_pts")
    (1 to 40).map(i => (i.toLong, rnd.nextDouble(), rnd.nextDouble()))
      .toDF("sid", "sx", "sy").createOrReplaceTempView("grw_sites")
    val sql = spark.sql(
      """SELECT sid, COUNT(*) AS n FROM grw_pts CROSS JOIN grw_sites
        |WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 0.01
        |GROUP BY sid ORDER BY sid""".stripMargin)
    assert(sql.queryExecution.optimizedPlan.toString.contains("_gridx_"))
    val brute = spark.table("grw_pts").crossJoin(spark.table("grw_sites"))
      .where(expr("(x - sx) * (x - sx) + (y - sy) * (y - sy) <= 0.01"))
      .groupBy("sid").agg(count(lit(1)).as("n"))
      .orderBy("sid")
    // brute computed with the rule stripped, so the comparison is
    // rewrite-vs-really-naive, not rewrite-vs-itself
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = em.extraOptimizations
    val want = try {
      em.extraOptimizations = saved.filterNot(_ == graft.plans.GridJoinRewrite)
      brute.collect().toSeq
    } finally em.extraOptimizations = saved
    assert(sql.collect().toSeq == want && want.nonEmpty)
  }

  test("GridJoinRewrite: does NOT fire where it must not") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    def fired(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("_gridx_")
    val a = Seq((1L, 0.1, 0.2, 0.3), (2L, 0.4, 0.5, 0.6))
      .toDF("id", "x", "y", "z")
    val b = Seq((1L, 0.1, 0.2), (2L, 0.7, 0.8)).toDF("bid", "bx", "by")

    // same-side distance predicate: both points from one input
    assert(!fired(a.crossJoin(b)
      .where(expr("(x - y) * (x - y) + (z - y) * (z - y) <= 0.01"))))
    // non-literal bound (hint cleared: with the session hint set this
    // shape legitimately fires via the residual-arm split)
    withoutHint {
      assert(!fired(a.crossJoin(b)
        .where(expr("(x - bx) * (x - bx) + (y - by) * (y - by) <= z"))))
    }
    // equi-key already present: the join is hash-planned without help
    assert(!fired(a.join(b, col("id") === col("bid"))
      .where(expr("abs(x - bx) <= 0.1"))))
    // left/right/outer joins are out of scope (the rewrite is inner-only)
    assert(!fired(a.join(b,
      expr("(x - bx) * (x - bx) + (y - by) * (y - by) <= 0.01"), "left")))
    // mismatched band types (double vs long) don't match the band form
    val c = Seq((1L, 5L)).toDF("cid", "ct")
    assert(!fired(a.crossJoin(c).where(expr("abs(x - ct) <= 2"))))
    // ...and the positive control still fires on this tiny frame
    assert(fired(a.crossJoin(b)
      .where(expr("(x - bx) * (x - bx) + (y - by) * (y - by) <= 0.01"))))
  }

  test("g_zbox_served: Morton z-range prunes the store scan to the box quadrant") {
    import graft.sources.IndexStore
    withTempDir("graft_grid_box") { tmp =>
      val dir = tmp.toString
      val probe = spark.range(1, 5001).toDF("c_custkey")
        .withColumn("c_acctbal", lit(1.0))
        .withColumn("cx", expr("CAST((c_custkey * 2654435761) % 100003 AS DOUBLE) / 100003.0"))
        .withColumn("cy", expr("CAST((c_custkey * 2246822519) % 100019 AS DOUBLE) / 100019.0"))
      IndexStore.saveGrid(dir, Geo.withCells(probe))
      val allCells = Option(new java.io.File(s"$dir/cells_v1").listFiles())
        .toSeq.flatten.count(f => f.isDirectory && f.getName.startsWith("cell_z="))
      val agg = Geo.boxAgg(IndexStore.loadGrid(spark, dir))
      val got = agg.collect().toSeq
      // exact: equals the direct filter over the unpartitioned probe
      val want = probe
        .where(expr("cx >= 0.15 AND cx <= 0.3499 AND cy >= 0.15 AND cy <= 0.3499"))
        .agg(count(lit(1)).as("n_box"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
        .collect().toSeq
      assert(got == want && got.head.getLong(0) > 0)
      // pruned: the quadrant-aligned box covers z in [48, 63] — the
      // executed scan must read at most those 16 cell dirs, never the
      // ~400-dir store
      val scans = scansUnder(agg.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("/cells_v1")))
      assert(scans.nonEmpty, "grid store scan not found")
      val read = scans.map(_.metrics("numPartitions").value).max
      assert(read <= 16, s"read $read cell dirs for the box (expected <= 16)")
      assert(allCells > 100, s"store only has $allCells cell dirs; test vacuous")
    }
  }

  test("g_knn_full: ring 2 entered only for unresolved sites; exact vs brute force") {
    import spark.implicits._
    // site 100: 3 in-cell neighbors -> final at ring 1.
    // site 200: 2 close neighbors + a 3rd two cells away -> ring 1
    //   can't prove top-3 (only 2 candidates), ring 2 finds and
    //   PROVES it (0.09 < the 5x5 guarantee 0.125).
    // site 300: 2 close neighbors, every other point beyond the 5x5
    //   ring -> brute fallback.
    val cust = Seq(
      (1L, 0.526, 0.526), (2L, 0.524, 0.526), (3L, 0.526, 0.524),
      (4L, 0.226, 0.226), (5L, 0.224, 0.226),
      (6L, 0.315, 0.225),
      (7L, 0.726, 0.726), (8L, 0.724, 0.726)
    ).toDF("c_custkey", "cx", "cy")
    val sites = Seq((100L, 0.525, 0.525), (200L, 0.225, 0.225),
      (300L, 0.725, 0.725)).toDF("s_suppkey", "sx", "sy")
    val (rows, esc1, esc2) = Geo.knnFullStaged(cust, sites, 3)
    assert(esc1.as[Long].collect().toSet === Set(200L, 300L),
      "ring 2 must be entered exactly by the sites ring 1 could not prove")
    assert(esc2.as[Long].collect().toSet === Set(300L),
      "the brute fallback must be entered exactly by the sites ring 2 could not prove")
    val got = rows.orderBy("s_suppkey", "rn").collect().toSeq
    val brute = cust.crossJoin(sites)
      .withColumn("dist2", expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") <= 3)
      .select("s_suppkey", "rn", "c_custkey", "dist2")
      .orderBy("s_suppkey", "rn").collect().toSeq
    assert(got === brute && got.nonEmpty)

    // fixture sanity: unbounded kNN fills k for EVERY supplier (the
    // range-limited g_grid_knn cannot promise that), ranks contiguous
    val full = Geo.gKnnFull(spark, sf).collect()
    val bySupp = full.groupBy(_.getLong(0))
    assert(bySupp.nonEmpty)
    bySupp.foreach { case (sid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3), s"site $sid ranks")
      val d = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
  }

  // run `body` with GridJoinRewrite stripped from the session, so a
  // comparison can be rewrite-vs-really-naive, not rewrite-vs-itself
  private def withoutRule[T](body: => T): T = {
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = em.extraOptimizations
    try {
      em.extraOptimizations = saved.filterNot(_ == graft.plans.GridJoinRewrite)
      body
    } finally em.extraOptimizations = saved
  }

  // clear the session bound hint (set session-wide by g_grid_hint) for
  // negative-fire assertions — the hint legitimately flips the
  // unproven-bound shapes those tests pin as non-firing
  private def withoutHint[T](body: => T): T = {
    val key = "spark.graft.grid.maxBoundHint"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body finally prev.foreach(spark.conf.set(key, _))
  }

  // run `body` with ANSI arithmetic off (wrap semantics), restoring after
  private def withAnsiOff[T](body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    try { spark.conf.set("spark.sql.ansi.enabled", "false"); body }
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("g_knn_served == g_knn_full; ring scans prune the store's cell dirs") {
    import spark.implicits._
    val want = graft.operators.Geo.gKnnFull(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // the ring stages execute inside Materialize.pin (knnStaged pins
    // every stage frame so each ring's corpus pass runs once), so the
    // outer executed plan only holds the pinned RDDs plus the brute
    // arm — capture the pinned subframes via the inspector seam; their
    // QueryExecutions carry the ring-scan metrics after the eager pin
    val captured = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.DataFrame]
    graft.operators.Materialize.inspector = df => captured += df
    val res =
      try graft.operators.Geo.gKnnServed(spark, sf)
      finally graft.operators.Materialize.inspector = null
    // collect the DataFrame itself: .as[...] would wrap a NEW
    // QueryExecution and leave res's plan (whose metrics we read) unrun
    val got = res.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got === want && got.nonEmpty,
      "served kNN drifted from the raw-corpus staged kNN")
    // pruning is real: among the store scans in the executed plans
    // (outer + pinned ring stages), the ring stages carry the literal
    // cell_z plant — at least one scan must have read strictly fewer
    // partitions than the store holds (the brute-fallback arm
    // legitimately scans everything, but its site set is empty at
    // fixture scale)
    val dir = graft.sources.TmpStores.dir(spark, "grid", sf)
    val live = graft.sources.IndexStore.resolvePath(spark, dir, "cells")
    val allCells = Option(new java.io.File(live).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("cell_z="))
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    val storeScans =
      (res.queryExecution.executedPlan +:
        captured.map(_.queryExecution.executedPlan))
      .flatMap(scansUnder)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_index_grid_")))
    assert(storeScans.nonEmpty, "store scans not found")
    val reads = storeScans.map(_.metrics("numPartitions").value)
    assert(reads.exists(r => r > 0 && r < allCells),
      s"no pruned ring scan: reads=$reads of $allCells cells")
  }

  test("GridJoinRewrite: a Union-branch filter must NOT prove a plan-wide bound") {
    // Union reuses its FIRST child's exprIds, so a bound filter present
    // in only one branch used to look plan-wide: the grid keyed on the
    // branch's (too small) max radius and silently dropped matching
    // pairs from the unfiltered branch. The fixed matcher stops its
    // filter/alias collection at Union — the unprovable shape keeps
    // the naive plan, and the differential pins the RESULTS either way.
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    withoutHint {
      val probe = Tables.customer(spark, sf).limit(200).select(
        expr("CAST((c_custkey * 3) % 97 AS DOUBLE) / 97").as("x"),
        expr("CAST((c_custkey * 5) % 89 AS DOUBLE) / 89").as("y"))
      def sites = Tables.supplier(spark, sf).select(
        expr("CAST((s_suppkey * 7) % 83 AS DOUBLE) / 83").as("bx"),
        expr("CAST((s_suppkey * 11) % 79 AS DOUBLE) / 79").as("by"),
        expr("0.002 + CAST(s_suppkey % 3 AS DOUBLE) * 0.002").as("br2"))
      // branch 1 carries the small bound; branch 2 (same exprIds after
      // Union) has radii up to 0.006 the unsound proof would drop
      val dim = sites.filter(expr("br2 <= 0.002")).union(sites)
      def q = probe.crossJoin(dim)
        .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2"))
        .groupBy("bx").agg(count(lit(1)).as("n")).orderBy("bx")
      assert(!q.queryExecution.optimizedPlan.toString.contains("_gridx_"),
        "a one-branch Union filter was accepted as a plan-wide bound")
      val got = q.collect().toSeq
      val want = withoutRule(q.collect().toSeq)
      assert(got === want && got.map(_.getLong(1)).sum > 0)
      // control: the SAME filter applied ABOVE the union holds for
      // every row (row-preserving chain) — the rewrite must fire
      val bounded = sites.union(sites).filter(expr("br2 <= 0.006"))
      def qb = probe.crossJoin(bounded)
        .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2"))
        .groupBy("bx").agg(count(lit(1)).as("n")).orderBy("bx")
      assert(qb.queryExecution.optimizedPlan.toString.contains("_gridx_"),
        "an above-Union filter is a sound bound and must fire")
      assert(qb.collect().toSeq === withoutRule(qb.collect().toSeq))
    }
  }

  test("GridJoinRewrite: session hint unlocks unproven bounds; residual arm keeps it exact") {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val probe = Tables.customer(spark, sf).limit(300).select(
      expr("CAST((c_custkey * 3) % 97 AS DOUBLE) / 97").as("x"),
      expr("CAST((c_custkey * 5) % 89 AS DOUBLE) / 89").as("y"))
    val sites = Tables.supplier(spark, sf).select(
      expr("CAST((s_suppkey * 7) % 83 AS DOUBLE) / 83").as("bx"),
      expr("CAST((s_suppkey * 11) % 79 AS DOUBLE) / 79").as("by"),
      expr("0.001 + CAST(s_suppkey % 3 AS DOUBLE) * 0.001").as("br2"))
    def q = probe.crossJoin(sites)
      .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2"))
      .groupBy("bx").agg(count(lit(1)).as("n")).orderBy("bx")
    val want = withoutHint(withoutRule(q.collect().toSeq))
    val key = "spark.graft.grid.maxBoundHint"
    val prev = spark.conf.getOption(key)
    try {
      // honest hint (covers every radius): grid arm only does the work,
      // residual arm present but empty; results exact
      spark.conf.set(key, "0.004")
      val honest = q.queryExecution.optimizedPlan.toString
      assert(honest.contains("_gridx_l") && honest.contains("_gridx_h"),
        "hinted plan must carry the grid arm AND the residual marker")
      assert(q.collect().toSeq === want)
      // DISHONEST hint (radii reach 0.003 > 0.0015): the residual arm
      // must recover every under-covered pair — exactness never rests
      // on the hint
      spark.conf.set(key, "0.0015")
      assert(q.collect().toSeq === want)
      // and the residual arm is SALTED, not a constant-key join: the
      // guarded side replicates over the _gridx_hsalt relation and the
      // unguarded side keys on pmod(hash(coord), fanout) — a dishonest
      // hint degrades to a fanout-way parallel naive join, never a
      // single-task skew cliff
      val dishonest = q.queryExecution.optimizedPlan.toString
      assert(dishonest.contains("_gridx_hsalt") &&
        dishonest.toLowerCase.contains("pmod"),
        s"residual arm must carry the salt fanout:\n$dishonest")
      // scalar-subquery bound: `dist <= (SELECT max(...))` — unprovable
      // at plan time, hinted; exact against the rule-stripped run
      sites.select(org.apache.spark.sql.functions.max("br2").as("mr"))
        .createOrReplaceTempView("radii_max")
      probe.createOrReplaceTempView("hint_probe")
      sites.createOrReplaceTempView("hint_sites")
      def sq = spark.sql(
        """SELECT bx, COUNT(*) AS n FROM hint_probe CROSS JOIN hint_sites
          |WHERE (x-bx)*(x-bx) + (y-by)*(y-by) <=
          |  (SELECT mr FROM radii_max)
          |GROUP BY bx ORDER BY bx""".stripMargin)
      spark.conf.set(key, "0.004")
      assert(sq.queryExecution.optimizedPlan.toString.contains("_gridx_"),
        "scalar-subquery bound with a hint must rewrite")
      assert(sq.collect().toSeq === withoutHint(withoutRule(sq.collect().toSeq)))
      // the gated dishonest-hint query rewrites with both arms (the
      // un-pinned frame: gGridHint itself pins eagerly under a scoped
      // conf, so its returned plan is a LogicalRDD)
      val gated = Geo.gGridHintFrame(spark, sf).queryExecution.optimizedPlan.toString
      assert(gated.contains("_gridx_l") && gated.contains("_gridx_h"))
      // and the gated wrapper leaves the session hint untouched
      val before = spark.conf.getOption(key)
      Geo.gGridHint(spark, sf)
      assert(spark.conf.getOption(key) === before,
        "gGridHint must restore the session hint conf")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("hint residual arm survives the fixed point on NON-NULLABLE bounds") {
    // SimplifyBinaryComparison rewrites `a = a` to TRUE for a
    // non-nullable `a` — a single self-equality marker would be erased
    // inside the optimizer's fixed point and the rule would re-split
    // the residual arm every iteration (plan accretes nested Unions to
    // maxIterations). The two-distinct-attribute marker pair must keep
    // exactly ONE split. spark.range-derived columns are non-nullable,
    // the exact shape that folds.
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val key = "spark.graft.grid.maxBoundHint"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1.0")
      val a = spark.range(60).select(
        (col("id") % 7).cast("double").as("x"),
        ((col("id") * 3) % 11).cast("double").as("y"))
      val b = spark.range(40).select(
        ((col("id") * 5) % 13).cast("double").as("bx"),
        ((col("id") * 7) % 17).cast("double").as("by"),
        (lit(0.25) + (col("id") % 3).cast("double")).as("br2"))
      def q = a.crossJoin(b)
        .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2"))
        .groupBy("bx").agg(count(lit(1)).as("n")).orderBy("bx")
      val plan = q.queryExecution.optimizedPlan
      assert(plan.toString.contains("_gridx_h"),
        "residual marker erased — the guard died in the fixed point")
      val unions = plan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
      assert(unions.size === 1,
        s"expected exactly one hint split, found ${unions.size} Unions " +
          "(re-splitting each fixed-point pass)")
      // and the dishonest hint (radii reach 2.25 > 1.0) stays exact
      assert(q.collect().toSeq === withoutHint(withoutRule(q.collect().toSeq)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("zRangesForCells: exact cover, maximal ranges, pruned multi-box scan") {
    // property: for arbitrary cell boxes the decomposition's union is
    // EXACTLY the box's Morton codes — no out-of-box z (tight pruning),
    // no missing cell (soundness) — and adjacent ranges are merged
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      for (_ <- 1 to 25) {
        val cx0 = rnd.nextInt(22) - 1; val cx1 = cx0 + rnd.nextInt(22 - cx0)
        val cy0 = rnd.nextInt(22) - 1; val cy1 = cy0 + rnd.nextInt(22 - cy0)
        val ranges = Geo.zRangesForCells(cx0, cx1, cy0, cy1)
        val covered = ranges.flatMap { case (lo, hi) => lo to hi }.toSet
        val wantZ = (for (cx <- cx0 to cx1; cy <- cy0 to cy1)
          yield Geo.mortonZ(cx, cy)).toSet
        assert(covered === wantZ,
          s"box [$cx0..$cx1]x[$cy0..$cy1]: ranges $ranges")
        // maximal: no two ranges adjacent or overlapping
        val s = ranges.sortBy(_._1)
        assert(s.zip(s.drop(1)).forall { case ((_, h), (l, _)) => l > h + 1 })
      }
    }
    // the served multi-range query reads EXACTLY the box's cell dirs —
    // strictly below the full store listing (same metric harness as
    // the aligned-box test)
    val res = Geo.gZboxMulti(spark, sf)
    val row = res.collect().head
    assert(row.getLong(0) > 0)
    val dir = graft.sources.TmpStores.dir(spark, "grid", sf)
    val live = graft.sources.IndexStore.resolvePath(spark, dir, "cells")
    val onDisk = Option(new java.io.File(live).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("cell_z="))
      .map(_.getName.stripPrefix("cell_z=").toInt)
    val boxRanges = Geo.zRangesForCells(2, 8, 4, 6) // BOX_MULTI's cells
    val wantDirs = onDisk.count(z => boxRanges.exists {
      case (lo, hi) => z >= lo && z <= hi })
    val scan = scansUnder(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_index_grid_")))
    assert(scan.nonEmpty, "grid store scan not found")
    val read = scan.map(_.metrics("numPartitions").value).max
    assert(read === wantDirs.toLong,
      s"multi-range pruning read $read dirs, box covers $wantDirs")
    assert(read < onDisk.size,
      s"no pruning: read $read of ${onDisk.size} cells")
  }

  test("GridJoinRewrite: per-row radius with a provable max bound rewrites") {
    import spark.implicits._
    // gated query: variable geofence radius + planted max conjunct —
    // plan must rewrite, results must equal the rule-stripped run
    val q = Geo.gGridAutoVar(spark, sf)
    assert(q.queryExecution.optimizedPlan.toString.contains("_gridx_"),
      "variable-radius form with a provable bound did not rewrite")
    val got = q.collect().toSeq
    val want = {
      val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      val saved = em.extraOptimizations
      try {
        em.extraOptimizations = saved.filterNot(_ == graft.plans.GridJoinRewrite)
        val naive = Geo.gGridAutoVar(spark, sf) // re-registers; strip again
        em.extraOptimizations =
          em.extraOptimizations.filterNot(_ == graft.plans.GridJoinRewrite)
        naive.collect().toSeq
      } finally em.extraOptimizations = saved
    }
    assert(got == want && got.nonEmpty)

    // an UNBOUNDED per-row radius must keep the naive plan. (The
    // frames must be parquet-backed: on LocalRelation fixtures the
    // optimizer EVALUATES pushed single-side filters into the
    // relation, so the bound conjunct the matcher needs disappears —
    // on real sources it survives as a Filter above the scan. Hint
    // cleared: the session hint legitimately flips these.)
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val a = Tables.customer(spark, sf).select(
      expr("CAST((c_custkey * 3) % 97 AS DOUBLE) / 97").as("x"),
      expr("CAST((c_custkey * 5) % 89 AS DOUBLE) / 89").as("y"))
    val b = Tables.supplier(spark, sf).select(
      expr("CAST((s_suppkey * 7) % 83 AS DOUBLE) / 83").as("bx"),
      expr("CAST((s_suppkey * 11) % 79 AS DOUBLE) / 79").as("by"),
      expr("0.001 + CAST(s_suppkey % 3 AS DOUBLE) * 0.001").as("br2"))
    withoutHint {
      assert(!a.crossJoin(b)
        .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2"))
        .queryExecution.optimizedPlan.toString.contains("_gridx_"))
    }
    // …and the same predicate WITH a dominating conjunct fires, for
    // the band family too (variable time window + max bound)
    assert(a.crossJoin(b)
      .where(expr("(x-bx)*(x-bx) + (y-by)*(y-by) <= br2 AND br2 <= 0.02"))
      .queryExecution.optimizedPlan.toString.contains("_gridx_"))
    val c = Tables.orders(spark, sf).select(col("o_orderkey").as("ct"),
      (col("o_orderkey") % 10 + 1).as("cw"))
    val e = Tables.customer(spark, sf).select(col("c_custkey").cast("long").as("et"))
    withoutHint {
      assert(!c.crossJoin(e).where(expr("abs(ct - et) <= cw"))
        .queryExecution.optimizedPlan.toString.contains("_gridx_"))
    }
    assert(c.crossJoin(e).where(expr("abs(ct - et) <= cw AND cw <= 10"))
      .queryExecution.optimizedPlan.toString.contains("_gridx_"))
  }

  test("GridJoinRewrite: int band wrap parity at the type extremes") {
    // With ANSI off the naive predicate's `lv - rv` WRAPS, so pairs
    // near opposite ends of the int range match "through" the
    // boundary. The rewrite's sliver unions must reproduce them, and
    // the union must not double-report the ordinary near-extreme
    // matches the grid already finds. Compared as sorted multisets.
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    withAnsiOff {
    val l = Seq((1L, Int.MaxValue), (2L, Int.MaxValue - 3), (3L, 100),
      (4L, Int.MinValue + 1), (5L, Int.MaxValue - 2)).toDF("lid", "lv")
    val r = Seq((10L, Int.MinValue), (11L, Int.MinValue + 2), (12L, 103),
      (13L, Int.MaxValue - 1), (14L, Int.MinValue + 4)).toDF("rid", "rv")
    def q() = l.crossJoin(r).where(expr("abs(lv - rv) <= 5")).select("lid", "rid")
    assert(q().queryExecution.optimizedPlan.toString.contains("_gridx_"))
    val got = q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    val want = withoutRule {
      q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    }
    assert(got == want)
    // vacuity guards: the answer really contains wrapped matches
    // (Max vs Min: wrapped diff -1) AND ordinary extreme-band matches
    assert(want.contains((1L, 10L)), "wrapped pair missing from oracle")
    assert(want.contains((1L, 13L)), "ordinary top-band pair missing")
    assert(want.contains((3L, 12L)), "interior pair missing")
    }
  }

  test("GridJoinRewrite: long band wrap parity at the type extremes") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    withAnsiOff {
    val l = Seq((1L, Long.MaxValue), (2L, Long.MaxValue - 7), (3L, 4200L),
      (4L, Long.MinValue + 2), (5L, Long.MinValue + 9)).toDF("lid", "lv")
    val r = Seq((10L, Long.MinValue), (11L, Long.MinValue + 3), (12L, 4204L),
      (13L, Long.MaxValue - 1), (14L, 9L)).toDF("rid", "rv")
    def q() = l.crossJoin(r).where(expr("abs(lv - rv) <= 5")).select("lid", "rid")
    assert(q().queryExecution.optimizedPlan.toString.contains("_gridx_"))
    val got = q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    val want = withoutRule {
      q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    }
    assert(got == want)
    assert(want.contains((1L, 10L)), "wrapped pair missing from oracle")
    assert(want.contains((3L, 12L)), "interior pair missing")
    // (Min+9) - 9 = MinValue exactly: non-ANSI abs WRAPS negative and
    // passes any band — the abs-wrap equi-join supplement's case
    assert(want.contains((5L, 14L)), "abs-wrap pair missing from oracle")
    }
  }

  test("GridJoinRewrite property: integral bands == naive across the type extremes (3 seeds)") {
    // randomized differential: values drawn from interior AND the
    // outer dozen of the type range, so non-ANSI wrap matches occur
    // organically; rewrite vs rule-stripped compared as sorted
    // multisets for <= and < bands, Long and Int
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    var wrapMatches = 0L
    withAnsiOff {
      for (seed <- 1 to 3) {
        val rnd = new scala.util.Random(seed)
        def drawL(): Long = rnd.nextInt(6) match {
          case 0 => Long.MaxValue - rnd.nextInt(12)
          case 1 => Long.MinValue + rnd.nextInt(12)
          case _ => rnd.nextInt(2000).toLong - 1000
        }
        def drawI(): Int = rnd.nextInt(6) match {
          case 0 => Int.MaxValue - rnd.nextInt(12)
          case 1 => Int.MinValue + rnd.nextInt(12)
          case _ => rnd.nextInt(2000) - 1000
        }
        val lL = (1 to 150).map(i => (i.toLong, drawL())).toDF("lid", "lv")
        val rL = (1 to 150).map(i => (i.toLong, drawL())).toDF("rid", "rv")
        val lI = (1 to 150).map(i => (i.toLong, drawI())).toDF("lid", "lv")
        val rI = (1 to 150).map(i => (i.toLong, drawI())).toDF("rid", "rv")
        for {
          (l, r, ty) <- Seq((lL, rL, "long"), (lI, rI, "int"))
          (op, w) <- Seq(("<=", 7), ("<", 9))
        } {
          def q() = l.crossJoin(r).where(expr(s"abs(lv - rv) $op $w"))
            .select("lid", "rid")
          assert(q().queryExecution.optimizedPlan.toString.contains("_gridx_"),
            s"no rewrite: seed=$seed ty=$ty op=$op")
          val got = q().collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
          val want = withoutRule {
            q().collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
          }
          assert(got == want, s"divergence: seed=$seed ty=$ty op=$op " +
            s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
          // wrap-match census (vacuity guard for the whole test): a
          // matched pair with operands at OPPOSITE extremes can only
          // have matched through the wrapping subtract
          def vals(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(x => x.getLong(0) ->
              (x.get(1) match { case i: Int => i.toLong; case l: Long => l })).toMap
          val lv = vals(l); val rv = vals(r)
          val quarter = if (ty == "long") Long.MaxValue / 2 else Int.MaxValue / 2L
          wrapMatches += want.count { case (a, b) =>
            (lv(a) > quarter && rv(b) < -quarter) ||
              (lv(a) < -quarter && rv(b) > quarter)
          }
        }
      }
    }
    assert(wrapMatches > 0, "no wrapped match ever occurred — fixture vacuous")
  }

  test("GridJoinRewrite property: 2-D distance == naive at unit, epoch, and 1e15 magnitudes") {
    // the power-of-two edge claims exactness at ANY coordinate
    // magnitude: randomized points around three bases spanning 15
    // orders of magnitude, random radius per base, rewrite vs
    // rule-stripped compared as sorted multisets
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    for ((base, spread, r2, seed) <- Seq(
        (0.0, 1.0, 0.0025, 11),
        (1.7e9, 40.0, 25.0, 12),       // epoch seconds, r = 5 s
        (1.0e15, 2.0e7, 1.0e12, 13))) { // quotient ~1e9 cells
      val rnd = new scala.util.Random(seed)
      def pts(n: Int) = (1 to n).map(i =>
        (i.toLong, base + rnd.nextDouble() * spread, base + rnd.nextDouble() * spread))
      val l = pts(220).toDF("lid", "x", "y")
      val r = pts(220).toDF("rid", "bx", "by")
      def q() = l.crossJoin(r)
        .where(expr(s"(x - bx) * (x - bx) + (y - by) * (y - by) <= $r2"))
        .select("lid", "rid")
      assert(q().queryExecution.optimizedPlan.toString.contains("_gridx_"),
        s"no rewrite at base=$base")
      val got = q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
      val want = withoutRule {
        q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
      }
      assert(got == want, s"divergence at base=$base: " +
        s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
      assert(want.nonEmpty, s"no matches at base=$base — fixture vacuous")
    }
  }

  test("GridJoinRewrite: exact at epoch-scale double coordinates") {
    // regression for the pre-round-11 fixed 1e-9 relative edge margin,
    // which under-covered the coord/edge division's ulp error once the
    // quotient exceeded ~4.5e6 cells. Coordinates ~1.7e9 (epoch
    // seconds) with a sub-second radius put the quotient at ~3.4e9;
    // the power-of-two edge divides exactly, so the rewrite must match
    // the naive plan bit-for-bit even with every point near a cell
    // boundary.
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val base = 1.7e9
    val l = (0 until 400).map(i => (i.toLong, base + i * 0.26))
      .toDF("lid", "lx")
    val r = (0 until 400).map(i => (i.toLong, base + 0.25 + i * 0.26))
      .toDF("rid", "rx")
    def q() = l.crossJoin(r).where(expr("abs(lx - rx) <= 0.25"))
      .select("lid", "rid")
    assert(q().queryExecution.optimizedPlan.toString.contains("_gridx_"))
    val got = q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    val want = withoutRule {
      q().collect().map(w => (w.getLong(0), w.getLong(1))).toSeq.sorted
    }
    assert(got == want && want.nonEmpty)
  }

  test("GridJoinRewrite: strict < bands fire; guarded shapes do not") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    def fired(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("_gridx_")
    val a = Seq((1L, 0.1, 7L, 3)).toDF("id", "x", "t", "iv")
    val b = Seq((2L, 0.15, 9L, 5)).toDF("bid", "bx", "bt", "biv")
    // strict < now rewrites for all three band types (was <= only)
    assert(fired(a.crossJoin(b).where(expr("abs(x - bx) < 0.1"))))
    assert(fired(a.crossJoin(b).where(expr("abs(t - bt) < 5"))))
    assert(fired(a.crossJoin(b).where(expr("abs(iv - biv) < 3"))))
    // long w == 1: cell == coordinate, `cell + offset` could wrap at
    // Long.MaxValue onto a real home cell — guarded out
    assert(!fired(a.crossJoin(b).where(expr("abs(t - bt) <= 1"))))
    // degenerate widths (>= ~1/5 of the difference space) keep the
    // naive plan: gridding gains nothing and sliver disjointness fails
    assert(!fired(a.crossJoin(b).where(
      expr(s"abs(iv - biv) <= ${(1 << 29) + 1}"))))
    // wrap-parity slivers (`_gridx_s` marker) appear ONLY under
    // non-ANSI wrap semantics; under ANSI (where a wrapping subtract
    // throws instead of matching) the integral rewrite is sliver-free
    def sliver(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("_gridx_s")
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val ansiQ = a.crossJoin(b).where(expr("abs(t - bt) <= 5"))
      assert(fired(ansiQ) && !sliver(ansiQ))
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val wrapQ = a.crossJoin(b).where(expr("abs(t - bt) <= 5"))
      assert(fired(wrapQ) && sliver(wrapQ))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  private def scansUnder(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val self = p match {
      case f: FileSourceScanExec => Seq(f); case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self ++ kids.flatMap(scansUnder)
  }
}

package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Events
import graft.plans.{BandCountExec, BandJoin}

/** The native banded range-count join (BandCountPlan + TimeJoinStrategy
  * + BandCountExec): semantics pinned against the composed fan-out form
  * on the fixtures and against hand-computed window edges; plan pinned
  * to the merge shape (no Join, no Window); buffer boundedness
  * exercised with a dense single-key stream.
  */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("e_range_native equals the composed e_range_join row-for-row") {
    val native = Events.eRangeNative(spark, sf).collect().toSeq
    val composed = Events.eRangeJoin(spark, sf).collect().toSeq
    assert(native.nonEmpty && native === composed)
  }

  test("window bounds: (t, t+W] — exclusive start, inclusive end; keys isolate") {
    val l = Seq((1L, 100L, "a"), (1L, 150L, "b"), (2L, 100L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq(
        (1L, 100L),  // == t of 'a': excluded (strict >)
        (1L, 150L),  // in (100,200] for 'a'; == t of 'b': excluded for 'b'
        (1L, 200L),  // == 100+W: included for 'a'; in (150,250] for 'b'
        (1L, 201L),  // > 100+W for 'a'; in band for 'b'
        (2L, 150L))  // other key: only 'c' sees it
      .toDF("rk", "rt")
    val out = BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"),
        windowUs = 100L)
      .select("tag", "n_in_band").as[(String, Long)].collect().toMap
    assert(out === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("null times count zero and do not disturb the band") {
    val l = Seq((1L, Some(10L), "x"), (1L, None, "y"), (1L, Some(11L), "z"))
      .toDF("k", "t", "tag")
      .select(col("k"), col("t").cast("long").as("t"), col("tag"))
    val r = Seq((1L, Some(12L)), (1L, None)).toDF("rk", "rt")
      .select(col("rk"), col("rt").cast("long").as("rt"))
    val out = BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"),
        windowUs = 5L)
      .select("tag", "n_in_band").as[(String, Long)].collect().toMap
    assert(out === Map("x" -> 1L, "y" -> 0L, "z" -> 1L))
  }

  test("plan: BandCountExec merge — no Join, no Window, exchanges only on the keys") {
    val df = Events.eRangeNative(spark, sf)
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BandCountExec]), s"no BandCountExec:\n${nodes.head}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    val s = nodes.head.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      "native band count must not plan a relational join")
  }

  test("dense single key: output stays |left| and the band buffer stays ~W") {
    // 50k right rows one microsecond apart on ONE key; the composed form
    // would materialize 50k x W/1 pairs. W=100 so each left row counts
    // at most 100; the operator's buffer is one band (~100 entries).
    val n = 50000
    val l = (1 to n by 50).map(i => (1L, i.toLong)).toDF("k", "t")
    val r = (1 to n).map(i => (1L, i.toLong)).toDF("rk", "rt")
    val df = BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"),
        windowUs = 100L, broadcast = Some(false))
    // collect df ITSELF (a projection would execute a separate query and
    // the metric assertions below would read the unexecuted plan)
    val out = df.collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(out.length === l.count())
    // interior rows see exactly W followers (t+1 .. t+100 all exist)
    out.filter(_._1 <= n - 100).foreach { case (t, c) =>
      assert(c === 100L, s"t=$t expected 100, got $c")
    }
    // the buffer bound, MEASURED from the exec's own metric (one key →
    // one task holds the whole stream; W in-band timestamps, never 50k)
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    val exec = allNodes(df.queryExecution.executedPlan)
      .collectFirst { case e: BandCountExec => e }.get
    val buffered = exec.metrics("maxBandBuffer").value
    assert(buffered > 0 && buffered <= 100L + 8,
      s"band buffer not bounded by W: $buffered")
  }

  test("broadcast band-count: identical counts to the shuffled merge; no shuffle, no sort") {
    // synthetic parity on the window-edge fixture
    val l = Seq((1L, 100L, "a"), (1L, 150L, "b"), (2L, 100L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 100L), (1L, 150L), (1L, 200L), (1L, 201L), (2L, 150L))
      .toDF("rk", "rt")
    val merged = BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"), 100L,
        broadcast = Some(false))
      .select("tag", "n_in_band").as[(String, Long)].collect().toMap
    val bcast = BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"), 100L,
        broadcast = Some(true))
      .select("tag", "n_in_band").as[(String, Long)].collect().toMap
    assert(merged === bcast)

    // fixture: gated broadcast query == a shuffled-merge run of the same
    val gated = Events.eBandBroadcast(spark, sf).collect().toSeq
    val ev = Events.load(spark, sf).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = Tables.orders(spark, sf).select(col("o_custkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    val viaMerge = BandJoin.bandCount(ev, ord, "ts_us", "o_us",
        Seq("user_id"), Seq("o_custkey"), 30L * 86400L * 1000000L,
        countName = "n_orders_30d", broadcast = Some(false))
      .select(col("event_id"), col("n_orders_30d"))
      .orderBy("event_id").collect().toSeq
    assert(gated.nonEmpty && gated === viaMerge)

    // plan: broadcast exec, no shuffle beyond the fixture respread, no sort
    val df = BandJoin.bandCount(ev, ord, "ts_us", "o_us",
      Seq("user_id"), Seq("o_custkey"), 30L * 86400L * 1000000L,
      broadcast = Some(true))
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[graft.plans.BandCountBroadcastExec]))
    val shuffles = nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    assert(shuffles.forall(_.toString.contains("REPARTITION_BY_NUM")),
      s"broadcast band-count introduced a shuffle:\n${nodes.head}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]))
  }

  test("executor index cache: distinct entries per operator shape, clearable") {
    graft.plans.AsofIndexCache.clear()
    assert(graft.plans.AsofIndexCache.keys.isEmpty)
    Events.eAsofBroadcast(spark, sf).collect()
    Events.eBandBroadcast(spark, sf).collect()
    val keys = graft.plans.AsofIndexCache.keys
    // one as-of index (no prefix) + one band index ("band|" prefix) —
    // differently-shaped consumers never share an entry even when AQE
    // reuses a broadcast
    assert(keys.size === 2, s"cache keys: $keys")
    assert(keys.count(_.startsWith("band|")) === 1, s"cache keys: $keys")
    graft.plans.AsofIndexCache.clear()
    assert(graft.plans.AsofIndexCache.keys.isEmpty)
  }

  test("left-side filters push below the band node; count predicates stay above") {
    val ev = Events.load(spark, sf)
    val a0 = ev.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val b0 = ev.select(col("user_id").as("b_user"),
      unix_micros(col("ts")).as("b_ts_us"))
    val j = BandJoin.bandCount(a0, b0, "ts_us", "b_ts_us",
      Seq("user_id"), Seq("b_user"), 600000000L, countName = "n_follow")
    // mixed conjunction: the left conjunct sinks into the node's left
    // child; the conjunct on the GENERATED count column cannot (it
    // needs the operator's output) and must stay above
    val f = j.filter(col("event_id") < 500 && col("n_follow") > 0)
    val opt = f.queryExecution.optimizedPlan
    val node = opt.collectFirst { case b: graft.plans.BandCountPlan => b }.get
    assert(node.left.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter
        if flt.condition.references.exists(_.name == "event_id") => flt
    }.nonEmpty, s"left filter not pushed:\n$opt")
    assert(opt.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter
        if flt.condition.references.exists(_.name == "n_follow") &&
          flt.child.isInstanceOf[graft.plans.BandCountPlan] => flt
    }.nonEmpty, s"count predicate did not stay above the node:\n$opt")
    // behavior: filtered-then-join == join-then-filter row sets
    val got = f.select("event_id", "n_follow").collect().toSeq.sortBy(_.getLong(0))
    val want = j.where(col("event_id") < 500).where(col("n_follow") > 0)
      .select("event_id", "n_follow").collect().toSeq.sortBy(_.getLong(0))
    assert(got == want && got.nonEmpty)
  }

  test("API rejects non-long times, bad window, and shared attribute ids") {
    val l = Seq((1L, 2L)).toDF("k", "t")
    val r = Seq((1L, 2L)).toDF("rk", "rt")
    intercept[IllegalArgumentException] {
      BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"), windowUs = 0L)
    }
    intercept[IllegalArgumentException] {
      BandJoin.bandCount(l, l, "t", "t", Seq("k"), Seq("k"), windowUs = 5L)
    }
    val ls = Seq((1L, "x")).toDF("k", "t")
    intercept[IllegalArgumentException] {
      BandJoin.bandCount(ls, r, "t", "rt", Seq("k"), Seq("rk"), windowUs = 5L)
    }
  }

  test("salted band count == unsalted across bucket sizes; bucket boundaries exact") {
    import spark.implicits._
    // scrambled times so bands straddle bucket boundaries both ways,
    // plus exact-boundary rows (rt == lt, rt == lt + W), null times,
    // and a key missing from the right side
    def scr(i: Int, m: Int): Long = ((i * 2654435761L) % m + m) % m
    val left = ((0 until 300).map(i => (1L + i % 3, scr(i, 500) * 10L, i.toLong))
      ++ Seq((9L, 40L, 9000L), (1L, -300L, 9001L)))
      .toDF("k", "t", "lid")
      .unionByName(Seq((1L, 9002L)).toDF("k", "lid")
        .select(col("k"), lit(null).cast("long").as("t"), col("lid"))
        .select("k", "t", "lid"))
    val right = ((0 until 400).map(i => (1L + i % 3, scr(i, 500) * 10L + 5L))
      ++ Seq((1L, 40L), (1L, 140L), (2L, -250L))) // lt, lt+W boundary hits
      .toDF("rk", "rt")
      .unionByName(Seq((1L, null.asInstanceOf[java.lang.Long]))
        .toDF("rk", "rt").select(col("rk"), col("rt").cast("long")))
    def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("lid", "n").as[(Long, Long)].collect().toMap
    val want = counts(BandJoin.bandCount(left, right, "t", "rt",
      Seq("k"), Seq("rk"), windowUs = 100L, countName = "n",
      broadcast = Some(false)))
    for (bucket <- Seq(100L, 137L, 1000L, 1000000L)) {
      val got = counts(BandJoin.bandCountSalted(left, right, "t", "rt",
        Seq("k"), Seq("rk"), windowUs = 100L, bucketUs = bucket,
        countName = "n"))
      assert(got === want, s"bucket=$bucket")
    }
    assert(want.values.exists(_ > 0) && want.values.exists(_ == 0))
    intercept[IllegalArgumentException] { // bucket < window is unsound
      BandJoin.bandCountSalted(left, right, "t", "rt",
        Seq("k"), Seq("rk"), windowUs = 100L, bucketUs = 50L)
    }
  }

  test("salted band count: hot key spreads the merge stage (measured task bound)") {
    import spark.implicits._
    val m = 20000
    val left = (0 until m).map(i => (1L, i * 1000L, i.toLong)).toDF("k", "t", "lid")
    val right = (0 until m).map(i => (1L, i * 1000L + 500L)).toDF("rk", "rt")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("lid", "n").as[(Long, Long)].collect().toMap

    withoutCoalescing {
      val (wantRows, ctl) = measureShuffleReads(rows(
        BandJoin.bandCount(left, right, "t", "rt", Seq("k"), Seq("rk"),
          windowUs = 10000L, countName = "n", broadcast = Some(false))))
      val worstCtl = ctl.values
        .filter(ts => ts.sum >= m && ts.size > 1)
        .map(ts => ts.max.toDouble / ts.sum).max
      assert(worstCtl >= 0.99,
        s"control lost its hot task (max share $worstCtl)")
      val (gotRows, salted) = measureShuffleReads(rows(
        BandJoin.bandCountSalted(left, right, "t", "rt",
          Seq("k"), Seq("rk"), windowUs = 10000L, bucketUs = 1000000L,
          countName = "n")))
      assert(gotRows === wantRows, "salted counts drifted from unsalted")
      val (heavyStage, reads) = salted.maxBy(_._2.sum)
      val total = reads.sum
      assert(total >= 2L * m, s"stage $heavyStage read only $total records")
      val evenShare = total.toDouble / reads.size
      assert(reads.max <= 2.5 * evenShare,
        s"stage $heavyStage skewed: max task ${reads.max} vs even " +
          s"share $evenShare over ${reads.size} tasks")
    }
  }
}

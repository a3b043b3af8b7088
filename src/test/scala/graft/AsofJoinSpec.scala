package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.Events
import graft.plans.{AsofJoin, AsofJoinExec}

/** The native as-of join (logical node + strategy + physical sort-merge
  * exec): semantics pinned against the composed window form over the
  * fixtures AND a synthetic frame that exercises ties, tolerance, null
  * times, and unmatched keys; plan shape pinned to one exchange per
  * side and zero fan-out nodes (no Window, no Join in the plan).
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Deep collect across AQE stage boundaries (QueryStageExec hides
    * finalized subtrees from plain collect).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("e_asof_native equals the composed e_asof_join row-for-row") {
    val native = Events.eAsofNative(spark, sf).collect().toSeq
    val composed = Events.eAsofJoin(spark, sf).collect().toSeq
    assert(native.nonEmpty)
    assert(native === composed)
  }

  test("ties on right time resolve to the max tiebreak; tolerance nulls out stale matches") {
    val l = Seq((1L, 100L), (1L, 205L), (2L, 50L), (3L, 10L))
      .toDF("k", "t")
    val r = Seq(
        (1L, 100L, 7L), (1L, 100L, 9L), // tie on time: expect id 9
        (1L, 200L, 1L),
        (2L, 45L, 3L))                  // user 3 has no right rows
      .toDF("rk", "rt", "rid")
    val out = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
        tiebreak = Seq("rid"))
      .select("k", "t", "rid").as[(Long, Long, Option[Long])]
      .collect().toSet
    assert(out === Set(
      (1L, 100L, Some(9L)),  // exact-time match, tie -> max rid
      (1L, 205L, Some(1L)),  // latest <= 205 is t=200
      (2L, 50L, Some(3L)),
      (3L, 10L, None)))      // no right rows for this key

    val tol = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
        tiebreak = Seq("rid"), toleranceUs = Some(4L))
      .select("k", "t", "rid").as[(Long, Long, Option[Long])]
      .collect().toSet
    assert(tol === Set(
      (1L, 100L, Some(9L)),  // gap 0 <= 4
      (1L, 205L, None),      // gap 5 > 4: held row rejected
      (2L, 50L, None),       // gap 5 > 4
      (3L, 10L, None)))
  }

  test("forward direction: earliest >= time, min tiebreak on ties, tolerance bound") {
    val l = Seq((1L, 100L), (1L, 205L), (2L, 50L), (3L, 10L)).toDF("k", "t")
    val r = Seq(
        (1L, 100L, 7L), (1L, 100L, 9L), // tie on time: expect min rid 7
        (1L, 200L, 1L),
        (2L, 45L, 3L))                  // only BEFORE user 2's event
      .toDF("rk", "rt", "rid")
    val out = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
        tiebreak = Seq("rid"), direction = "forward")
      .select("k", "t", "rid").as[(Long, Long, Option[Long])]
      .collect().toSet
    assert(out === Set(
      (1L, 100L, Some(7L)),  // exact-time match, tie -> min rid
      (1L, 205L, None),      // nothing at/after 205
      (2L, 50L, None),       // 45 < 50: backward-only
      (3L, 10L, None)))
    // and the forward match for an earlier left row must stay available
    val l2 = Seq((1L, 90L), (1L, 95L)).toDF("k", "t")
    val out2 = AsofJoin.joinAsOf(l2, r, "t", "rt", Seq("k"), Seq("rk"),
        tiebreak = Seq("rid"), direction = "forward",
        toleranceUs = Some(10L))
      .select("t", "rid").as[(Long, Option[Long])].collect().toSet
    assert(out2 === Set((90L, Some(7L)), (95L, Some(7L)))) // both within 10

    // e_asof_forward matches its composed-window equivalent on fixtures
    val native = Events.eAsofForward(spark, sf).collect().toSeq
    import org.apache.spark.sql.expressions.Window
    val ev = Events.load(spark, sf).select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val w = Window.partitionBy("event_id")
      .orderBy(col("o_orderdate").asc_nulls_last, col("o_orderkey").asc_nulls_last)
    val composed = ev.join(ord,
        col("user_id") === col("o_custkey") && col("o_orderdate") >= col("ts"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"))
      .orderBy("event_id").collect().toSeq
    assert(native.nonEmpty && native === composed)
  }

  test("broadcast variant: identical rows to the shuffled exec in every mode") {
    // fixture: gated broadcast query == gated shuffled query
    val bcast = Events.eAsofBroadcast(spark, sf).collect().toSeq
    val shuffled = Events.eAsofNative(spark, sf).collect().toSeq
    assert(bcast.nonEmpty && bcast === shuffled)

    // synthetic: backward/forward × tolerance parity on ties and misses
    val l = Seq((1L, 100L), (1L, 205L), (2L, 50L), (3L, 10L)).toDF("k", "t")
    val r = Seq((1L, 100L, 7L), (1L, 100L, 9L), (1L, 200L, 1L), (2L, 45L, 3L))
      .toDF("rk", "rt", "rid")
    for (dir <- Seq("backward", "forward"); tolOpt <- Seq(None, Some(4L))) {
      val a = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
          tiebreak = Seq("rid"), toleranceUs = tolOpt, direction = dir)
        .select("k", "t", "rid").as[(Long, Long, Option[Long])].collect().toSet
      val b = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
          tiebreak = Seq("rid"), toleranceUs = tolOpt, direction = dir,
          broadcast = Some(true))
        .select("k", "t", "rid").as[(Long, Long, Option[Long])].collect().toSet
      assert(a === b, s"divergence at direction=$dir tolerance=$tolOpt")
    }
  }

  test("e_asof_nearest equals the closer of the two directional natives, ties backward") {
    val ns = Events.load(spark, sf).select(col("event_id"),
      expr("ts_ns div 1000").as("ts_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def diffs(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map { r =>
        val eid = r.getLong(0)
        val d = if (r.isNullAt(3)) None
          else Some(math.abs(ns(eid) / 1000000L - r.getLong(3)))
        eid -> d
      }.toMap
    val back = diffs(Events.eAsofNative(spark, sf))
    val fwd = diffs(Events.eAsofForward(spark, sf))
    val near = Events.eAsofNearest(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(near.nonEmpty && near.keySet == back.keySet)
    near.foreach { case (eid, d) =>
      // order_epoch is second-grain, ts is not: directional diffs
      // computed here can undershoot nearest's exact-µs floor by <= 1
      val best = (back(eid) ++ fwd(eid)).reduceOption(_ min _)
      (d, best) match {
        case (Some(dv), Some(bv)) =>
          assert(math.abs(dv - bv) <= 1, s"event $eid: nearest $dv vs best-directional $bv")
        case (None, None) =>
        case other => fail(s"event $eid: null mismatch $other")
      }
    }
  }

  test("cost-based exec selection: right-side size picks the exec; the flag overrides") {
    // mirrors Spark's JoinSelection: with no flag, the strategy
    // compares the right side's stats.sizeInBytes against
    // spark.sql.autoBroadcastJoinThreshold
    val l = Seq((1L, 100L), (1L, 205L), (2L, 50L)).toDF("k", "t")
    val r = Seq((1L, 90L, 7L), (1L, 200L, 1L), (2L, 45L, 3L)).toDF("rk", "rt", "rid")
    def nodes(bcast: Option[Boolean]) = allNodes(executed(
      AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"), broadcast = bcast)))
    def bandNodes(bcast: Option[Boolean]) = allNodes(executed(
      graft.plans.BandJoin.bandCount(l, r, "t", "rt", Seq("k"), Seq("rk"),
        windowUs = 100L, broadcast = bcast)))
    def withThreshold[T](v: String)(body: => T): T = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try { spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v); body }
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // small dim, NO flag: auto-plans the broadcast exec (both joins)
    assert(nodes(None).exists(_.isInstanceOf[graft.plans.AsofBroadcastJoinExec]))
    assert(!nodes(None).exists(_.isInstanceOf[AsofJoinExec]))
    assert(bandNodes(None).exists(_.isInstanceOf[graft.plans.BandCountBroadcastExec]))
    // dim LARGER than the threshold: auto-plans the shuffled exec
    withThreshold("1") {
      assert(nodes(None).exists(_.isInstanceOf[AsofJoinExec]))
      assert(!nodes(None).exists(_.isInstanceOf[graft.plans.AsofBroadcastJoinExec]))
      assert(bandNodes(None).exists(_.isInstanceOf[graft.plans.BandCountExec]))
    }
    // -1 disables auto-broadcast (as for built-in joins)…
    withThreshold("-1") {
      assert(nodes(None).exists(_.isInstanceOf[AsofJoinExec]))
      // …but the explicit flag still overrides in both directions
      assert(nodes(Some(true)).exists(_.isInstanceOf[graft.plans.AsofBroadcastJoinExec]))
    }
    assert(nodes(Some(false)).exists(_.isInstanceOf[AsofJoinExec]),
      "Some(false) must force the shuffled exec even for a tiny dim")
  }

  test("broadcast plan: no shuffle and no sort on the left side at all") {
    val ev = Events.load(spark, sf).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    // no trailing orderBy: the raw join plan must add NOTHING to the left
    val df = AsofJoin.joinAsOf(ev, ord, "ts_us", "o_us",
      Seq("user_id"), Seq("o_custkey"), tiebreak = Seq("o_orderkey"),
      broadcast = Some(true))
    val nodes = allNodes(executed(df))
    assert(nodes.exists(_.isInstanceOf[graft.plans.AsofBroadcastJoinExec]),
      s"no AsofBroadcastJoinExec:\n${nodes.head}")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // the only allowed exchange is the fixture respread below the scan
    assert(shuffles.forall(_.toString.contains("REPARTITION_BY_NUM")),
      s"broadcast asof introduced a shuffle:\n${nodes.head}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"broadcast asof introduced a sort:\n${nodes.head}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      s"right side was not broadcast:\n${nodes.head}")
  }

  test("null times never match and never block later rows") {
    val l = Seq((1L, Some(10L)), (1L, None), (2L, Some(5L))).toDF("k", "t")
      .select(col("k"), col("t").cast("long").as("t"))
    val r = Seq((1L, Some(8L), 1L), (1L, None, 2L), (2L, Some(9L), 3L))
      .toDF("rk", "rt", "rid")
      .select(col("rk"), col("rt").cast("long").as("rt"), col("rid"))
    val out = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("rk"),
        tiebreak = Seq("rid"))
      .select("k", "t", "rid").as[(Long, Option[Long], Option[Long])]
      .collect().toSet
    assert(out === Set(
      (1L, Some(10L), Some(1L)), // null-time right row (rid 2) skipped
      (1L, None, None),          // null-time left row: no match
      (2L, Some(5L), None)))     // rt=9 > 5
  }

  test("plan: AsofJoinExec with one shuffle per side, no Window/Join fan-out") {
    val df = Events.eAsofNative(spark, sf)
    val plan = executed(df)
    val nodes = allNodes(plan)
    val asof = nodes.collect { case e: AsofJoinExec => e }
    assert(asof.length === 1, s"expected one AsofJoinExec:\n$plan")
    // key exchanges feeding the merge + one range exchange for the final
    // orderBy + the fixture respread — never more (the composed form
    // pays the same plus the window's, and then fans out)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.length <= 4, s"unexpected exchanges:\n$plan")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "native asof must not plan a Window")
    assert(!plan.toString.contains("SortMergeJoin") &&
      !plan.toString.contains("BroadcastHashJoin"),
      "native asof must not plan a relational join")
  }

  test("merge holds O(1) state under a hot key (no per-key buffering)") {
    // 20k right rows on ONE key; the composed form would materialize a
    // 20k-wide candidate set per left row before its group-limit. The
    // native exec streams them: this passing quickly (and at all) on an
    // 8-thread heap is the behavioural evidence, and the match is exact.
    val n = 20000
    val l = Seq((1L, n.toLong + 5), (1L, 3L)).toDF("k", "t")
    val r = (1 to n).map(i => (1L, i.toLong, i.toLong)).toDF("k", "rt", "rid")
    val df = AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("k"),
        tiebreak = Seq("rid"), broadcast = Some(false))
    // collect df ITSELF so the metric assertions read the executed plan
    val out = df.collect()
      .map(x => (x.getLong(1), if (x.isNullAt(4)) None else Some(x.getLong(4))))
      .toSet
    assert(out === Set((n.toLong + 5, Some(n.toLong)), (3L, Some(3L))))
    // the exec's own metrics: every left row emitted, both matched
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    val exec = allNodes(df.queryExecution.executedPlan)
      .collectFirst { case e: AsofJoinExec => e }.get
    assert(exec.metrics("numOutputRows").value === 2L)
    assert(exec.metrics("numMatched").value === 2L)
  }

  test("left-side filters push below the node; right-side filters stay above") {
    val ev = Events.load(spark, sf).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    val j = AsofJoin.joinAsOf(ev, ord, "ts_us", "o_us",
      Seq("user_id"), Seq("o_custkey"), tiebreak = Seq("o_orderkey"))

    // mixed conjunction: the left conjunct sinks into the node's left
    // child, the right-side conjunct must stay above (pushing it would
    // re-match against a filtered history)
    val f = j.filter(col("event_id") < 500 && col("o_orderkey") > 0)
    val opt = f.queryExecution.optimizedPlan
    val node = opt.collectFirst { case a: graft.plans.AsofJoinPlan => a }.get
    assert(node.left.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter
        if flt.condition.references.exists(_.name == "event_id") => flt
    }.nonEmpty, s"left filter not pushed:\n$opt")
    assert(!node.right.exists {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        flt.condition.references.exists(_.name == "o_orderkey")
      case _ => false
    }, s"right-side filter was illegally pushed:\n$opt")
    assert(opt.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter
        if flt.child.isInstanceOf[graft.plans.AsofJoinPlan] => flt
    }.nonEmpty, s"right-side conjunct vanished:\n$opt")

    // and the rewrite preserves results exactly (vs filtering manually)
    val got = f.select("event_id", "o_orderkey")
      .as[(Long, Option[Long])].collect().toSet
    val expected = AsofJoin.joinAsOf(
        ev.filter(col("event_id") < 500), ord, "ts_us", "o_us",
        Seq("user_id"), Seq("o_custkey"), tiebreak = Seq("o_orderkey"))
      .filter(col("o_orderkey") > 0)
      .select("event_id", "o_orderkey")
      .as[(Long, Option[Long])].collect().toSet
    assert(got === expected && got.nonEmpty)
  }

  test("keyless (global) as-of and band count: both execs equal the reference") {
    import graft.plans.BandJoin
    val l = Seq((1L, 100L), (2L, 205L), (3L, 50L), (4L, 10L)).toDF("lid", "t")
    val r = Seq((7L, 100L), (9L, 100L), (1L, 200L), (3L, 45L)).toDF("rid", "rt")
    // global backward: latest ANY-source tick <= t, ties -> max rid
    val want = Set(
      (1L, Some(9L)),   // t=100: tie at 100 -> rid 9
      (2L, Some(1L)),   // latest <= 205 is 200
      (3L, Some(3L)),   // latest <= 50 is 45
      (4L, None))       // nothing at or before 10
    for (bcast <- Seq(true, false)) {
      val out = AsofJoin.joinAsOf(l, r, "t", "rt", Nil, Nil,
          tiebreak = Seq("rid"), broadcast = Some(bcast))
        .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
      assert(out === want, s"keyless asof divergence at broadcast=$bcast")
    }
    // the shuffled keyless plan declares AllTuples: ONE merge task
    val shuffled = executed(AsofJoin.joinAsOf(l, r, "t", "rt", Nil, Nil,
      tiebreak = Seq("rid"), broadcast = Some(false)))
    val exec = allNodes(shuffled).collectFirst { case e: AsofJoinExec => e }.get
    assert(exec.left.outputPartitioning.numPartitions === 1,
      s"keyless shuffled merge must be single-partition:\n$shuffled")
    // keyless band count: followers of ANY source in (t, t+50]
    for (bcast <- Seq(true, false)) {
      val out = BandJoin.bandCount(l, r, "t", "rt", Nil, Nil, windowUs = 50L,
          broadcast = Some(bcast))
        .select("lid", "n_in_band").as[(Long, Long)].collect().toMap
      assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 2L, 4L -> 1L),
        s"keyless band divergence at broadcast=$bcast")
    }
    // fixture: the gated global query matches its composed window form
    val native = Events.eAsofGlobal(spark, sf).collect().toSeq
    val ev = Events.load(spark, sf).select(col("event_id"),
      expr("ts_ns div 1000").as("ts_us"))
    val ticks = Events.load(spark, sf).where(col("event_id") % 97 === 0)
      .select(expr("ts_ns div 1000").as("tick_us"), col("event_id").as("tick_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_id")
      .orderBy(col("tick_us").desc_nulls_last, col("tick_id").desc_nulls_last)
    val composed = ev.join(ticks, col("tick_us") <= col("ts_us"), "left")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("event_id"), col("tick_id"),
        expr("CAST(tick_us div 1000000 AS BIGINT)").as("tick_epoch"))
      .orderBy("event_id").collect().toSeq
    assert(native.nonEmpty && native === composed)
  }

  test("API rejects non-long times, mismatched keys, and shared attribute ids") {
    val l = Seq((1L, "x")).toDF("k", "t")
    val r = Seq((1L, 2L)).toDF("k", "rt")
    intercept[IllegalArgumentException] {
      AsofJoin.joinAsOf(l, r, "t", "rt", Seq("k"), Seq("k"))
    }
    val l2 = Seq((1L, 2L)).toDF("k", "t")
    intercept[IllegalArgumentException] {
      AsofJoin.joinAsOf(l2, r, "t", "rt", Seq("k"), Seq("k", "k"))
    }
    intercept[IllegalArgumentException] { // self-join without re-alias
      AsofJoin.joinAsOf(l2, l2, "t", "t", Seq("k"), Seq("k"))
    }
  }

  test("self-asof works after re-aliasing the right side") {
    val ev = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"))
      .toDF("k", "t", "tag")
    val prev = ev.select(col("k").as("k_r"), col("t").as("t_r"),
      col("tag").as("tag_r"))
    // strictly-before via tolerance-free shift: t_r <= t - 1
    val shifted = ev.withColumn("t_prev", col("t") - 1)
    val out = AsofJoin.joinAsOf(shifted, prev, "t_prev", "t_r",
        Seq("k"), Seq("k_r"), tiebreak = Seq("t_r"))
      .select("tag", "tag_r").as[(String, Option[String])].collect().toSet
    assert(out === Set(("a", None), ("b", Some("a")), ("c", Some("b"))))
  }

  /** Deterministic adversarial frames for the salted wrapper: one key
    * carries `hot` rows while nine cold keys carry a handful each —
    * times scrambled by a multiplicative hash so insertion order is
    * not time order, right times offset so matches cross bucket
    * boundaries (carry rows do real work), plus ties and null times.
    */
  private def saltedFixture(hot: Int): (DataFrame, DataFrame) = {
    def scramble(i: Int, m: Int): Long = ((i * 2654435761L) % m + m) % m
    val left = ((0 until hot).map { i =>
      (1L, scramble(i, hot) * 1000L, i.toLong)
    } ++ (0 until 45).map { i =>
      (2L + i % 9, scramble(i, 45) * 7000L, (100000 + i).toLong)
    } ++ Seq((1L, -5000L, 900001L), (3L, -1L, 900002L))) // negative times
      .toDF("k", "t", "lid")
      .unionByName(Seq((1L, 900003L)).toDF("k", "lid")
        .select(col("k"), lit(null).cast("long").as("t"), col("lid"))
        .select("k", "t", "lid"))
    val right = ((0 until hot).map { i =>
      (1L, scramble(i, hot) * 1000L + 500L, (i * 2).toLong)
    } ++ (0 until hot / 10).map { i => // ties on time, distinct tiebreak
      (1L, scramble(i, hot / 10) * 10000L + 500L, (1000000 + i).toLong)
    } ++ (0 until 30).map { i =>
      (2L + i % 9, scramble(i, 30) * 9000L, (2000000 + i).toLong)
    } ++ Seq((1L, -7000L, 3000001L))) // negative-time right row
      .toDF("k_r", "t_r", "rid")
      .unionByName(Seq((2L, 3000002L)).toDF("k_r", "rid")
        .select(col("k_r"), lit(null).cast("long").as("t_r"), col("rid"))
        .select("k_r", "t_r", "rid"))
    (left, right)
  }

  test("salted as-of == unsalted across directions, tolerance, bucket sizes, keyless") {
    val (left, right) = saltedFixture(hot = 400)
    def rows(df: DataFrame): Set[(Long, Long, Option[Long], Option[Long])] =
      df.select(col("lid"), col("k"), col("rid"), col("t_r"))
        .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    for {
      dir <- Seq("backward", "forward")
      tol <- Seq(None, Some(1500L))
      bucketUs <- Seq(1L, 777L, 100000L, 1000000000L) // 1 µs .. one-bucket
    } {
      val want = rows(AsofJoin.joinAsOf(left, right, "t", "t_r",
        Seq("k"), Seq("k_r"), tiebreak = Seq("rid"), toleranceUs = tol,
        direction = dir, broadcast = Some(false)))
      val got = rows(AsofJoin.joinAsOfSalted(left, right, "t", "t_r",
        Seq("k"), Seq("k_r"), bucketUs = bucketUs, tiebreak = Seq("rid"),
        toleranceUs = tol, direction = dir))
      assert(got === want,
        s"dir=$dir tol=$tol bucket=$bucketUs: " +
          s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    }
    // keyless (global) salted == keyless unsalted
    val wantG = AsofJoin.joinAsOf(left.select("t", "lid"),
        right.select("t_r", "rid"), "t", "t_r", Nil, Nil,
        tiebreak = Seq("rid"), broadcast = Some(false))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
    val gotG = AsofJoin.joinAsOfSalted(left.select("t", "lid"),
        right.select("t_r", "rid"), "t", "t_r", Nil, Nil, bucketUs = 997L,
        tiebreak = Seq("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
    assert(gotG === wantG)
  }

  test("salted as-of: hot key spreads the merge stage (measured task bound)") {
    // One key holds the ENTIRE workload. Unsalted, the key-clustered
    // distribution puts both sides of it in one task (linear, O(1)
    // state, but unbalanced — the documented AQE gap for custom
    // execs); salted on 1-second buckets, the merge stage's shuffle
    // reads must spread: max task <= 2.5x even share, the DedupSpec
    // hot-block bound. Results pinned identical either way.
    val m = 20000
    val left = (0 until m).map(i => (1L, i * 1000L, i.toLong))
      .toDF("k", "t", "lid")
    val right = (0 until m).map(i => (1L, i * 1000L + 500L, i.toLong))
      .toDF("k_r", "t_r", "rid")
    def rows(df: DataFrame): Set[(Long, Option[Long])] =
      df.select("lid", "rid").as[(Long, Option[Long])].collect().toSet

    withoutCoalescing {
      // control: the unsalted shuffled exec concentrates the hot key
      val (wantRows, ctl) = measureShuffleReads(rows(
        AsofJoin.joinAsOf(left, right, "t", "t_r", Seq("k"), Seq("k_r"),
          tiebreak = Seq("rid"), broadcast = Some(false))))
      val worstCtl = ctl.values
        .filter(ts => ts.sum >= m && ts.size > 1)
        .map(ts => ts.max.toDouble / ts.sum).max
      assert(worstCtl >= 0.99,
        s"control lost its hot task (max share $worstCtl) — " +
          "salting is being tested against nothing")

      // salted: the heaviest shuffle stage (the salted merge — it
      // reads both sides' 2m rows plus carries) must be balanced
      val (gotRows, salted) = measureShuffleReads(rows(
        AsofJoin.joinAsOfSalted(left, right, "t", "t_r",
          Seq("k"), Seq("k_r"), bucketUs = 1000000L, tiebreak = Seq("rid"))))
      assert(gotRows === wantRows, "salted rows drifted from unsalted")
      val (heavyStage, reads) = salted.maxBy(_._2.sum)
      val total = reads.sum
      assert(total >= 2L * m, s"stage $heavyStage read only $total records")
      val evenShare = total.toDouble / reads.size
      assert(reads.max <= 2.5 * evenShare,
        s"stage $heavyStage skewed: max task ${reads.max} vs even " +
          s"share $evenShare over ${reads.size} tasks")
    }
  }
  test("auto-skew: hot key detected and balanced with NO caller opt-in; cold path plans plain") {
    // joinAsOfAuto's contract: the caller names no bucket and makes no
    // skew decision. The sizes here are scaled to the fixture through
    // the test overload (the engine's constants are 2M/500k rows); the
    // derivation picks the bucket from the hot key's own span and count.
    val m = 20000
    val left = (0 until m).map(i => (1L, i * 1000L, i.toLong))
      .toDF("k", "t", "lid")
    val right = (0 until m).map(i => (1L, i * 1000L + 500L, i.toLong))
      .toDF("k_r", "t_r", "rid")
    def rows(df: DataFrame): Set[(Long, Option[Long])] =
      df.select("lid", "rid").as[(Long, Option[Long])].collect().toSet
    def autoJoin(l: DataFrame, r: DataFrame, by: Seq[String], byR: Seq[String]) =
      AsofJoin.joinAsOfAuto(l, r, "t", "t_r", by, byR, Seq("rid"), None,
        "backward", threshold = 10000L, target = 2000L)
    withoutCoalescing {
      val (wantRows, ctl) = measureShuffleReads(rows(
        AsofJoin.joinAsOf(left, right, "t", "t_r", Seq("k"), Seq("k_r"),
          tiebreak = Seq("rid"), broadcast = Some(false))))
      val worstCtl = ctl.values
        .filter(ts => ts.sum >= m && ts.size > 1)
        .map(ts => ts.max.toDouble / ts.sum).max
      assert(worstCtl >= 0.99, s"control lost its hot task ($worstCtl)")

      val auto = autoJoin(left, right, Seq("k"), Seq("k_r"))
      assert(auto.queryExecution.optimizedPlan.toString.contains("_asof_salt"),
        "detection missed the hot key: auto did not salt")
      val (gotRows, salted) = measureShuffleReads(rows(auto))
      assert(gotRows === wantRows, "auto-salted rows drifted from unsalted")
      val (heavyStage, reads) = salted.maxBy(_._2.sum)
      val total = reads.sum
      assert(total >= 2L * m, s"stage $heavyStage read only $total records")
      val evenShare = total.toDouble / reads.size
      assert(reads.max <= 2.5 * evenShare,
        s"stage $heavyStage skewed: max task ${reads.max} vs even " +
          s"share $evenShare over ${reads.size} tasks")

      // cold path: spread keys under the threshold -> the PLAIN plan
      // (no salt column anywhere in the optimized plan), same rows as
      // the explicit unsalted control
      val leftC = (0 until 3000).map(i =>
        ((i % 300).toLong, i * 1000L, i.toLong)).toDF("k", "t", "lid")
      val rightC = (0 until 3000).map(i =>
        ((i % 300).toLong, i * 1000L + 500L, i.toLong)).toDF("k_r", "t_r", "rid")
      val cold = autoJoin(leftC, rightC, Seq("k"), Seq("k_r"))
      assert(!cold.queryExecution.optimizedPlan.toString.contains("_asof_salt"),
        "cold path salted: detection fired below threshold")
      assert(rows(cold) === rows(
        AsofJoin.joinAsOf(leftC, rightC, "t", "t_r", Seq("k"), Seq("k_r"),
          tiebreak = Seq("rid"), broadcast = Some(false))))

      // keyless global: auto handles the empty-key shape (global stats
      // row), salts above threshold, stays exact
      val gotG = autoJoin(left.select("t", "lid"), right.select("t_r", "rid"), Nil, Nil)
        .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
      val wantG = AsofJoin.joinAsOf(left.select("t", "lid"),
          right.select("t_r", "rid"), "t", "t_r", Nil, Nil,
          tiebreak = Seq("rid"), broadcast = Some(false))
        .select("lid", "rid").as[(Long, Option[Long])].collect().toSet
      assert(gotG === wantG)
    }
  }
  test("SQL front door: textbook max_by shape plans the native exec, == rule-stripped") {
    // the gated e_asof_sql query is PURE SQL text; SqlAsofRewrite must
    // replan its Join-under-Aggregate onto AsofJoinExec with results
    // identical to the generic (rule-stripped) plan
    val sf001 = "/root/testdata/sf0.001"
    val q = Events.eAsofSql(spark, sf001)
    val plan = executed(q)
    // cost-based selection picks the exec: the sf0.001 orders side fits
    // the broadcast budget, so either native exec certifies the rewrite
    assert(allNodes(plan).exists(n => n.isInstanceOf[AsofJoinExec] ||
        n.isInstanceOf[graft.plans.AsofBroadcastJoinExec]),
      s"SQL as-of shape did not plan a native exec:\n$plan")
    assert(!allNodes(plan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "generic join survived next to the native exec")
    val got = q.collect().toSeq

    val em = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = em.extraOptimizations
    em.extraOptimizations =
      saved.filterNot(_ == graft.plans.SqlAsofRewrite)
    val want = try {
      // run the IDENTICAL SQL text directly: calling eAsofSql would
      // re-register the rule inside the stripped window
      val stripped = spark.sql(Events.eAsofSqlText)
      assert(!stripped.queryExecution.optimizedPlan.toString
          .contains("AsofJoinPlan"),
        "rule-stripped control still rewrote — the A/B proves nothing")
      stripped.collect().toSeq
    } finally em.extraOptimizations = saved
    assert(got === want, "rewrite drifted from the generic plan")
    assert(got.nonEmpty)
    // and the SQL path agrees with the DataFrame-API native path
    assert(got === Events.eAsofNative(spark, sf001).collect().toSeq)
  }

  test("SQL front door: forward min_by rewrites; non-matching shapes stay generic") {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    (0 until 200).map(i => ((i % 7).toLong, i * 10L, i.toLong))
      .toDF("k", "t", "lid").createOrReplaceTempView("sqlasof_l")
    (0 until 300).map(i => ((i % 7).toLong, i * 7L, i.toLong))
      .toDF("k_r", "t_r", "rid").createOrReplaceTempView("sqlasof_r")
    def plan(sql: String) =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    // forward: r.t >= l.t with min_by
    val fwd = """SELECT l.lid, l.k, min_by(r.rid, struct(r.t_r, r.rid)) AS rid
      FROM sqlasof_l l LEFT JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r >= l.t
      GROUP BY l.lid, l.k ORDER BY l.lid"""
    assert(plan(fwd).contains("AsofJoinPlan"), "forward shape did not rewrite")
    val em = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = em.extraOptimizations
    em.extraOptimizations = saved.filterNot(_ == graft.plans.SqlAsofRewrite)
    val want = try spark.sql(fwd).collect().toSeq
      finally em.extraOptimizations = saved
    assert(spark.sql(fwd).collect().toSeq === want)

    // guards: each near-miss must keep the generic plan
    val noRewrite = Seq(
      // max_by ord not keyed on the join time
      """SELECT l.lid, max_by(r.rid, struct(r.rid)) AS rid
        FROM sqlasof_l l LEFT JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r <= l.t GROUP BY l.lid""",
      // a second aggregate that is NOT max_by (count changes under dedup)
      """SELECT l.lid, max_by(r.rid, struct(r.t_r, r.rid)) AS rid,
               count(r.rid) AS n
        FROM sqlasof_l l LEFT JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r <= l.t GROUP BY l.lid""",
      // extra non-equi conjunct (tolerance band): out of the proven shape
      """SELECT l.lid, max_by(r.rid, struct(r.t_r, r.rid)) AS rid
        FROM sqlasof_l l LEFT JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r <= l.t AND l.t - r.t_r <= 50
        GROUP BY l.lid""",
      // inner join: drops unmatched lefts, not the as-of contract
      """SELECT l.lid, max_by(r.rid, struct(r.t_r, r.rid)) AS rid
        FROM sqlasof_l l JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r <= l.t GROUP BY l.lid""",
      // direction/aggregate mismatch: forward inequality with max_by
      """SELECT l.lid, max_by(r.rid, struct(r.t_r, r.rid)) AS rid
        FROM sqlasof_l l LEFT JOIN sqlasof_r r
        ON l.k = r.k_r AND r.t_r >= l.t GROUP BY l.lid""")
    noRewrite.zipWithIndex.foreach { case (sql, i) =>
      assert(!plan(sql).contains("AsofJoinPlan"),
        s"guard $i leaked: non-matching shape rewrote")
    }
  }

  test("SQL front door property: rewrite == stripped on randomized NULL-heavy fixtures (3 seeds)") {
    // the differential net for the rule's soundness proof: random keys
    // and times with NULLs on BOTH columns and sides, coarse lid so
    // groups collapse MULTIPLE left rows (argmax-of-union case), tied
    // right times (tiebreak case), both operand orders of the time
    // inequality, and two max_bys sharing one ordering struct. The
    // rewrite and the rule-stripped identical text must agree as
    // multisets on every seed.
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val em = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    def plan(sql: String) =
      spark.sql(sql).queryExecution.optimizedPlan.toString
    def rows(sql: String): Seq[String] =
      spark.sql(sql).collect().toSeq.map(_.toString).sorted
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      def time(): Option[Long] =
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50) * 10L)
      def key(): Option[Long] =
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(5).toLong)
      Seq.fill(300)((key(), time(), rnd.nextInt(40).toLong))
        .toDF("k", "t", "lid").createOrReplaceTempView("sqlasof_pl")
      Seq.fill(300)((key(), time(), rnd.nextInt(1000).toLong))
        .toDF("k_r", "t_r", "rid").createOrReplaceTempView("sqlasof_pr")
      val sqls = Seq(
        // backward, textbook operand order, two max_bys on one ord
        """SELECT l.lid, l.k,
             max_by(r.rid, struct(r.t_r, r.rid)) AS rid,
             max_by(r.t_r * 2 + r.rid, struct(r.t_r, r.rid)) AS mexpr
           FROM sqlasof_pl l LEFT JOIN sqlasof_pr r
             ON l.k = r.k_r AND r.t_r <= l.t
           GROUP BY l.lid, l.k""",
        // backward, BOTH conjuncts flipped (EqualTo(right,left) branch
        // and GreaterThanOrEqual(lt, rt) branch)
        """SELECT l.lid, l.k, max_by(r.rid, struct(r.t_r, r.rid)) AS rid
           FROM sqlasof_pl l LEFT JOIN sqlasof_pr r
             ON r.k_r = l.k AND l.t >= r.t_r
           GROUP BY l.lid, l.k""",
        // forward, flipped inequality (LessThanOrEqual(lt, rt))
        """SELECT l.lid, l.k, min_by(r.rid, struct(r.t_r, r.rid)) AS rid
           FROM sqlasof_pl l LEFT JOIN sqlasof_pr r
             ON l.k = r.k_r AND l.t <= r.t_r
           GROUP BY l.lid, l.k""")
      sqls.zipWithIndex.foreach { case (sql, i) =>
        assert(plan(sql).contains("AsofJoinPlan"),
          s"seed=$seed shape $i did not rewrite")
        val got = rows(sql)
        val saved = em.extraOptimizations
        em.extraOptimizations =
          saved.filterNot(_ == graft.plans.SqlAsofRewrite)
        val want = try rows(sql) finally em.extraOptimizations = saved
        assert(got === want, s"seed=$seed shape $i drifted: " +
          s"extra=${got.diff(want).take(3)} missing=${want.diff(got).take(3)}")
      }
    }
  }
}

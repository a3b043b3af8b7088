package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir
import graft.operators.Events

/** Semantic checks for the windowed event analytics that the DuckDB
  * oracle alone can't localize: the anomaly z-scores are recomputed
  * independently driver-side for a flagged row, and the transition
  * matrix is cross-checked against an independently-derived bigram
  * count.
  */
class EventsSpec extends SparkSpec {
  import spark.implicits._

  test("psi: non-negative terms, exact half split, shares sum to 1") {
    val rows = Events.ePsi(spark, sf)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    // every PSI contribution is >= 0 ((p2-p1) and ln(p2/p1) share sign)
    rows.foreach { case (t, n1, n2, p1, p2, term) =>
      assert(term >= 0.0, s"$t: negative psi_term $term")
      assert(n1 > 0 && n2 > 0 && p1 > 0 && p2 > 0)
    }
    // the two halves partition the full event set exactly
    val total = Events.load(spark, sf).count()
    assert(rows.map(r => r._2 + r._3).sum === total,
      "half counts do not partition the stream (a type vanished from one half?)")
    // with every type in both halves, each half's shares sum to ~1
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4)
  }

  test("ewma: matches a driver-side recompute over each user's ordered history") {
    val got = Events.eEwma(spark, sf)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val hist = Events.load(spark, sf)
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("us"), col("value"))
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(e => (e._3, e._1))).toMap
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got.size === hist.values.map(_.size).sum)
    hist.values.foreach { es =>
      es.indices.foreach { i =>
        val window = (0 until Events.EwmaLags).flatMap { k =>
          if (i - k >= 0) Some(es(i - k)._4 * math.pow(0.5, k)) else None
        }
        val den = (0 until Events.EwmaLags).collect {
          case k if i - k >= 0 => math.pow(0.5, k)
        }.sum
        val want = r6(window.sum / den)
        assert(got(es(i)._1) === want, s"event ${es(i)._1}")
      }
    }
  }

  test("cohort matrix: offset-0 row counts every cohort member; matrix conserves activity") {
    val m = Events.eCohort(spark, sf).as[(Long, Long, Long)].collect()
    assert(m.nonEmpty)
    assert(m.forall(_._2 >= 0), "negative week offset")
    // offset-0 cells partition the user base by first-seen week
    val cohortSizes = m.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    val totalUsers = Events.load(spark, sf)
      .select("user_id").distinct().count()
    assert(cohortSizes.values.sum === totalUsers)
    // no cell can exceed its cohort's size
    m.foreach { case (cw, off, n) =>
      assert(n <= cohortSizes(cw), s"cell ($cw,$off) exceeds cohort size")
    }
    // matrix total = distinct (user, week) activity pairs
    val activity = Events.load(spark, sf)
      .select(col("user_id"), expr("ts_ns div 604800000000000").as("w"))
      .distinct().count()
    assert(m.map(_._3).sum === activity)
  }

  test("e_anomaly: flagged z matches an independent driver-side recomputation") {
    val flagged = Events.eAnomaly(spark, sf)
    val rows = flagged.limit(3).collect()
    assert(rows.nonEmpty, "fixture should contain at least one |z| >= 2 event")
    rows.foreach { r =>
      val eid = r.getLong(0); val uid = r.getLong(1)
      val hist = Events.load(spark, sf)
        .filter(col("user_id") === uid)
        .select(col("ts_ns"), col("event_id"), col("value"))
        .orderBy("ts_ns", "event_id")
        .as[(Long, Long, Double)].collect()
      val idx = hist.indexWhere(_._2 == eid)
      assert(idx >= Events.AnomalyWin - 1)
      // exact decimal sums, then the same closed-form double sequence
      val win = hist.slice(idx - Events.AnomalyWin + 1, idx + 1)
        .map(t => BigDecimal(t._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      val ws = win.sum.toDouble
      val wss = win.map(v => v * v).sum.toDouble
      val n = Events.AnomalyWin.toDouble
      val mean = ws / n
      val vr = wss / n - mean * mean
      val x = BigDecimal(hist(idx)._3).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val z = BigDecimal(( x - mean) / math.sqrt(vr))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - z) < 1e-9,
        s"event $eid: got ${r.getDouble(3)}, recomputed $z")
    }
  }

  test("e_anomaly: every flagged row clears the threshold") {
    val bad = Events.eAnomaly(spark, sf).filter(abs(col("z")) < 2.0)
    assert(bad.count() === 0)
  }

  test("e_attribution: one row per purchase; attributed clicks precede, deltas non-negative") {
    val a = Events.eAttribution(spark, sf)
    val purchases = Events.load(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(a.count() === purchases)
    assert(a.filter(col("click_id").isNotNull && col("delta_us") < 0).count() === 0)
    // unattributed purchases have BOTH click columns null
    assert(a.filter(col("click_id").isNull =!= col("delta_us").isNull).count() === 0)
    assert(a.filter(col("click_id").isNotNull).count() > 0)
  }

  test("e_sequence: greedy chain matches an independent driver-side recomputation") {
    val seqRows = Events.eSequence(spark, sf).collect()
    assert(seqRows.nonEmpty)
    assert(seqRows.exists(_.getInt(4) === 3), "fixture should have full-chain users")
    // invariants: strict ordering of reached steps, null tail after a miss
    seqRows.foreach { r =>
      val t1 = r.getLong(1)
      val t2 = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val t3 = if (r.isNullAt(3)) None else Some(r.getLong(3))
      if (t2.isEmpty) assert(t3.isEmpty)
      t2.foreach(v => assert(v > t1))
      (t2 zip t3).foreach { case (a, b) => assert(b > a) }
      assert(r.getInt(4) === (1 + t2.size + t3.size))
    }
    // exact greedy recomputation for a handful of users
    seqRows.take(5).foreach { r =>
      val uid = r.getLong(0)
      val hist = Events.load(spark, sf)
        .filter(col("user_id") === uid)
        .select(expr("ts_ns div 1000"), col("event_type"))
        .as[(Long, String)].collect().sortBy(_._1)
      val t1 = hist.collectFirst { case (us, "view") => us }
      val t2 = t1.flatMap(a => hist.collectFirst { case (us, "click") if us > a => us })
      val t3 = t2.flatMap(a => hist.collectFirst { case (us, "purchase") if us > a => us })
      assert(t1.contains(r.getLong(1)))
      assert(t2 === (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      assert(t3 === (if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }
  }

  test("e_stickiness: wau bounds dau; sampled days match a direct distinct count") {
    val st = Events.eStickiness(spark, sf).collect()
    assert(st.nonEmpty)
    st.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1)) // wau >= dau
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val du = Events.load(spark, sf)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct().as[(Long, Long)].collect()
    st.take(3).++(st.takeRight(3)).foreach { r =>
      val day = r.getLong(0)
      val wau = du.filter(p => p._2 >= day - 6 && p._2 <= day).map(_._1).distinct.length
      val dau = du.count(_._2 == day)
      assert(r.getLong(1) === dau, s"day $day dau")
      assert(r.getLong(2) === wau, s"day $day wau")
    }
  }

  test("e_scd2: intervals tile each user's history with no adjacent same-type runs") {
    val iv = Events.eScd2(spark, sf)
    val total = Events.load(spark, sf).count()
    assert(iv.agg(sum("n")).as[Long].head() === total)
    val byUser = iv.select("user_id", "event_type", "start_us", "end_us")
      .as[(Long, String, Long, Long)].collect().groupBy(_._1)
    byUser.values.foreach { runs =>
      val sorted = runs.sortBy(_._3)
      sorted.foreach { case (_, _, s, e) => assert(s <= e) }
      sorted.sliding(2).foreach {
        case Array((_, ta, _, ea), (_, tb, sb, _)) =>
          assert(ea <= sb, "intervals must not overlap")
          assert(ta != tb, "adjacent runs must differ in type")
        case _ =>
      }
    }
  }

  test("e_interarrival: half-integer mean floors (the sf0.1 tie pinned as a unit case)") {
    // The scenario behind commit baea844 (Events.scala scaladoc): a
    // user whose gap mean lands exactly on .5 — HALF_UP rounding
    // (Spark) vs half-even (DuckDB nearbyint) diverge there, which is
    // why the query emits floor-division integers. Pin it: 3 events at
    // 0/3/5 µs → gaps (3, 2), sum 5 over 2 gaps → true mean 2.5, and
    // the output must be the floored 2 (DuckDB's `//` floors too).
    // Also pin the output TYPE: LongType, matching the oracle's
    // CAST(... AS BIGINT) — the r6 hash miss was this dtype drifting.
    withTempDir("graft_gap") { tmp =>
      val dir = tmp.getAbsolutePath
      spark.createDataFrame(Seq(
        (1L, java.sql.Timestamp.from(java.time.Instant.EPOCH), 7L),
        (2L, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(3000L)), 7L),
        (3L, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(5000L)), 7L)))
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Events.eInterarrival(spark, dir)
      assert(out.schema("avg_gap_us").dataType === org.apache.spark.sql.types.LongType)
      val row = out.as[(Long, Long, Long, Long, Long)].collect()
      assert(row === Array((7L, 2L, 2L, 2L, 3L)),
        "expected floor(5/2)=2 mean, min 2, max 3: " + row.mkString(","))
    }
  }

  test("e_dq_audit: every check fires on a deliberately dirty fixture") {
    // One row per violation class, plus edge cases pinning the
    // cross-engine JSON contract (probed against DuckDB try_cast AS
    // JSON): scalar 'null' and '5' are VALID JSON (not flagged);
    // NULL, whitespace, and '{malformed' are flagged. bad_value must
    // catch NaN, negatives, AND +Infinity (the ADVICE r7 gap).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    withTempDir("graft_dq") { tmp =>
      val dir = tmp.getAbsolutePath
      val t0 = java.sql.Timestamp.from(java.time.Instant.EPOCH)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val rows = Seq(
        Row(1L, t0, 1L, "click", 1.0, """{"k":1}"""),
        Row(1L, t0, 2L, "view", 2.0, "{}"), // duplicate event_id
        Row(2L, t0, null, "click", 1.0, """{"k":2}"""), // null user
        Row(3L, t0, 3L, "", 1.0, "[1,2]"), // blank type; array props OK
        Row(4L, t0, 4L, "click", Double.NaN, "null"), // NaN; 'null' props OK
        Row(5L, t0, 5L, "click", -1.0, "5"), // negative; '5' props OK
        Row(6L, t0, 6L, "click", Double.PositiveInfinity, """{"k":3}"""),
        Row(7L, t0, 7L, "click", 1.0, "{malformed"), // malformed props
        Row(8L, t0, 8L, "click", 1.0, null), // NULL props
        Row(9L, t0, 9L, "click", 1.0, "  ")) // whitespace props
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Events.eDqAudit(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out("duplicate_event_id") === ((1L, 10L)))
      assert(out("null_user") === ((1L, 10L)))
      assert(out("blank_type") === ((1L, 10L)))
      assert(out("bad_value") === ((3L, 10L)), "NaN + negative + Infinity")
      assert(out("ts_oob") === ((0L, 10L)))
      assert(out("bad_props") === ((3L, 10L)),
        "malformed + NULL + whitespace flagged; 'null'/'5'/array/'{}' not")
    }
  }

  test("e_holt/e_holtwinters: degenerate series yield no rows (oracle contract)") {
    // The oracle CTEs' base cases need 2 (holt) / 1 (holt-winters)
    // days; the Spark side must match on short and empty series.
    withTempDir("graft_deg") { tmp =>
      val dir = tmp.getAbsolutePath
      spark.createDataFrame(Seq(
        (1L, java.sql.Timestamp.from(java.time.Instant.EPOCH), 7L)))
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(Events.eHolt(spark, dir).count() === 0L, "1-day series: holt")
      assert(Events.eHoltWinters(spark, dir).count() === 7L,
        "1-day series: holt-winters forecasts from the burn-in day")
      withTempDir("graft_deg0") { tmp =>
        val empty = tmp.getAbsolutePath
        spark.createDataFrame(Seq.empty[(Long, java.sql.Timestamp, Long)])
          .toDF("event_id", "ts", "user_id")
          .write.mode("overwrite").parquet(s"$empty/events.parquet")
        assert(Events.eHolt(spark, empty).count() === 0L, "empty: holt")
        assert(Events.eHoltWinters(spark, empty).count() === 0L, "empty: holt-winters")
      }
    }
  }

  test("e_holt: fixed-point recursion matches a hand-computed series") {
    // daily counts 4, 8, 2, 6 → micro-units 4e6, 8e6, 2e6, 6e6:
    //   init  l=8e6, b=4e6 (l₂=y₂, b₂=y₂−y₁)
    //   y₃=2e6: e=−10e6; l=⌊(2+8+4)e6/2⌋=7e6; b=⌊(7−8+4)e6/2⌋=1.5e6
    //   y₄=6e6: e=−2.5e6; l=⌊14.5e6/2⌋=7.25e6; b=⌊1.75e6/2⌋=875000
    // → level 7250000, trend 875000, forecast 8125000,
    //   mae = ⌊12.5e6/2⌋ = 6250000. Exercises the odd-sum floors.
    withTempDir("graft_holt") { tmp =>
      val dir = tmp.getAbsolutePath
      val day = 86400L * 1000000000L
      val rows = Seq(0 -> 4, 1 -> 8, 2 -> 2, 3 -> 6).flatMap { case (d, n) =>
        (0 until n).map(i =>
          (d * 100L + i,
            java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(d * day + i * 1000L)),
            1L))
      }
      spark.createDataFrame(rows).toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Events.eHolt(spark, dir).as[(Long, Long, Long, Long, Long)].collect()
      assert(out === Array((4L, 7250000L, 875000L, 8125000L, 6250000L)),
        out.mkString(","))
    }
  }

  test("e_holtwinters: fixed-point recursion and forecasts match a hand-computed series") {
    // same 4-day series as the e_holt case (4, 8, 2, 6 events/day).
    // Hand fold (micro-units, α=β=γ=1/2, zero-init season):
    //   t2: l=6e6 b=1e6 s[1]=1e6 sae=4e6
    //   t3: l=4.5e6 b=-250000 s[2]=-1250000 sae=9e6
    //   t4: l=5125000 b=187500 s[3]=437500 sae=10750000
    // mae=⌊10750000/3⌋=3583333; forecasts h=1..7 use s[(3+h)%7].
    withTempDir("graft_hw") { tmp =>
      val dir = tmp.getAbsolutePath
      val day = 86400L * 1000000000L
      val rows = Seq(0 -> 4, 1 -> 8, 2 -> 2, 3 -> 6).flatMap { case (dd, n) =>
        (0 until n).map(i =>
          (dd * 100L + i,
            java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(dd * day + i * 1000L)),
            1L))
      }
      spark.createDataFrame(rows).toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Events.eHoltWinters(spark, dir)
        .as[(Int, Long, Long, Long, Long, Long)].collect()
      val f = Map(1 -> 5312500L, 2 -> 5500000L, 3 -> 5687500L, 4 -> 5875000L,
        5 -> 7062500L, 6 -> 5000000L, 7 -> 6875000L)
      assert(out.length === 7)
      out.foreach { case (h, fc, l, b, n, mae) =>
        assert(fc === f(h), s"h=$h forecast")
        assert((l, b, n, mae) === ((5125000L, 187500L, 4L, 3583333L)))
      }
    }
  }

  test("e_transitions: counts cover exactly the non-first events; rows of p sum to 1") {
    val t = Events.eTransitions(spark, sf)
    val totalN = t.agg(sum("n")).as[Long].head()
    val expected = Events.load(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1)).as[Long].head()
    assert(totalN === expected)
    val rowSums = t.groupBy("prev_type").agg(sum("p").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-4)
    assert(rowSums.count() === 0)
  }

  test("e_abtest: z matches a driver-side recompute from per-user counts") {
    val perUser = Events.load(spark, sf)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("np"))
      .as[(Long, Long)].collect()
    val byVariant = perUser.groupBy(_._1 % 2).view.mapValues { us =>
      (us.length.toLong, us.count(_._2 >= Events.AbConvMin).toLong)
    }.toMap
    val (n0, c0) = byVariant(0)
    val (n1, c1) = byVariant(1)
    val p = (c0 + c1).toDouble / (n0 + n1)
    val zr = (c1.toDouble / n1 - c0.toDouble / n0) /
      math.sqrt(p * (1.0 - p) * (1.0 / n0 + 1.0 / n1))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Events.eAbtest(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double, Double, Boolean)].collect()
    assert(row.length === 1)
    val (gn0, gn1, gc0, gc1, r0, r1, z, sig) = row.head
    assert((gn0, gn1, gc0, gc1) === (n0, n1, c0, c1))
    assert(r0 === r6(c0.toDouble / n0) && r1 === r6(c1.toDouble / n1))
    assert(z === r6(zr), s"z=$z want ${r6(zr)}")
    assert(sig === (math.abs(zr) > 1.96))
    // both variants must be non-degenerate or the z-test is undefined
    assert(c0 > 0 && c0 < n0 && c1 > 0 && c1 < n1)
  }

  test("late profile: matches a driver-side running-max recompute") {
    import spark.implicits._
    val evs = graft.operators.Events.load(spark, sf)
      .selectExpr("event_type", "event_id", "ts_ns div 1000 as ts_us")
      .as[(String, Long, Long)].collect()
    val want = evs.groupBy(_._1).map { case (tpe, rows) =>
      val ordered = rows.sortBy(_._2)
      var mx = Long.MinValue
      var nLate = 0L; var sumLate = 0L; var maxLate = 0L
      ordered.foreach { case (_, _, ts) =>
        if (mx != Long.MinValue && ts < mx) {
          nLate += 1; sumLate += mx - ts; maxLate = math.max(maxLate, mx - ts)
        }
        mx = math.max(mx, ts)
      }
      tpe -> (ordered.length.toLong, nLate, maxLate,
        if (nLate == 0) 0L else sumLate / nLate)
    }
    val got = graft.operators.Events.eLateProfile(spark, sf)
      .as[(String, Long, Long, Double, Long, Long)].collect()
    assert(got.map(_._1).toSet === want.keySet)
    got.foreach { case (tpe, n, nl, rate, mxl, avgl) =>
      val (wn, wnl, wmx, wavg) = want(tpe)
      assert((n, nl, mxl, avgl) === ((wn, wnl, wmx, wavg)), s"type $tpe")
      assert(math.abs(rate - wnl.toDouble / wn) < 5.001e-7)
    }
  }

  test("gini: histogram fold equals the naive sorted-rank formula") {
    import spark.implicits._
    val counts = Tables.events(spark, sf).groupBy("user_id").count()
      .as[(Long, Long)].collect().map(_._2).sorted
    val n = counts.length.toLong
    val t = counts.sum
    val srank = counts.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val giniWant = 2.0 * srank / (n.toDouble * t) - (n + 1).toDouble / n
    val row = graft.operators.Events.eGini(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(row.length === 1)
    val (gn, gt, gini, topShare) = row.head
    assert(gn === n && gt === t)
    // the emitted value is rounded to 6 dp; compare at that grain
    assert(math.abs(gini - giniWant) < 5.001e-7, s"gini=$gini want $giniWant")
    assert(gini >= 0.0 && gini < 1.0)
    assert(math.abs(topShare - counts.max.toDouble / t) < 5.001e-7)
  }

  test("e_changepoint: CUSUM telescopes to zero and flags the |peak| day") {
    val rows = Events.eChangepoint(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    // one row per day, days strictly increasing
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    assert(rows.map(_._1).distinct.length === rows.length)
    // total daily counts == corpus event count
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_._2).sum === total)
    // CUSUM telescopes: the last running deviation is 0 up to rounding
    assert(math.abs(rows.last._3) <= 1e-6, s"final cusum ${rows.last._3}")
    // the flagged day(s) are exactly those attaining max |cusum|
    val mx = rows.map(r => math.abs(r._3)).max
    rows.foreach { case (day, _, cu, cp) =>
      assert(cp === (math.abs(cu) == mx), s"day $day flag mismatch")
    }
    assert(rows.exists(_._4))
    // driver-side recompute of the CUSUM series
    val mean = total.toDouble / rows.length
    var run = 0L
    rows.zipWithIndex.foreach { case ((day, cnt, cu, _), i) =>
      run += cnt
      val want = run.toDouble - (i + 1) * mean
      assert(math.abs(cu - want) < 5.001e-7, s"day $day cusum=$cu want $want")
    }
  }

  test("e_power: requirement matches the textbook two-proportion formula") {
    import spark.implicits._
    val row = graft.operators.Events.ePower(spark, sf)
      .as[(Double, Double, Double, Option[Long], Long, Option[Boolean])]
      .collect()
    assert(row.length === 1)
    val (r0, r1, delta, nReq, nMin, powered) = row.head
    // recompute from the abtest's own counts (the two share the
    // per-user conversion pipeline)
    val (n0, n1, c0, c1) = graft.operators.Events.eAbtest(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double, Double, Boolean)]
      .collect().head match { case (a, b, c, d, _, _, _, _) => (a, b, c, d) }
    val p0 = c0.toDouble / n0; val p1 = c1.toDouble / n1
    val pBar = (c0 + c1).toDouble / (n0 + n1)
    val d = p1 - p0
    assert(d != 0.0, "fixture produced a zero effect — test is vacuous")
    val want = math.ceil(
      math.pow(1.959964 * math.sqrt(2.0 * pBar * (1.0 - pBar))
        + 0.841621 * math.sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)), 2)
        / (d * d)).toLong
    assert(nReq === Some(want), s"nReq=$nReq want=$want")
    assert(nMin === math.min(n0, n1))
    assert(powered === Some(nMin >= want))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r0 === r6(p0) && r1 === r6(p1) && delta === r6(d))
  }

  test("e_mad: medians, MAD, and outlier counts match a driver recompute in cents") {
    import spark.implicits._
    val evs = graft.operators.Events.load(spark, sf)
      .selectExpr("event_type",
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc")
      .as[(String, Long)].collect()
    def pdisc(xs: Seq[Long]): Long = { // smallest value with cume_dist >= 0.5
      val s = xs.sorted
      s((math.ceil(0.5 * s.length) - 1).toInt)
    }
    val want = evs.groupBy(_._1).map { case (tpe, rows) =>
      val cents = rows.map(_._2).toSeq
      val med = pdisc(cents)
      val adev = cents.map(c => math.abs(c - med))
      val mad = pdisc(adev)
      val nOut = adev.count(_ > 3L * mad)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (tpe, (cents.length.toLong, med / 100.0, mad / 100.0, nOut.toLong,
        r6(nOut.toDouble / cents.length)))
    }
    val got = graft.operators.Events.eMad(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect()
    assert(got.length === want.size)
    got.foreach { case (tpe, n, med, mad, nOut, rate) =>
      assert((n, med, mad, nOut, rate) === want(tpe), s"type $tpe")
    }
    assert(got.exists(_._5 > 0), "fixture should contain MAD outliers")
  }

  test("e_seasonal_naive: MAEs match the lag-1/lag-7 recompute") {
    val daily = Events.eChangepoint(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect().map(r => (r._1, r._2))
    val cnts = daily.map(_._2)
    val idx = cnts.indices.filter(_ >= 7) // rows where lag-7 exists
    val mae1 = idx.map(i => math.abs(cnts(i) - cnts(i - 1))).sum.toDouble / idx.size
    val mae7 = idx.map(i => math.abs(cnts(i) - cnts(i - 7))).sum.toDouble / idx.size
    val row = Events.eSeasonalNaive(spark, sf)
      .as[(Long, Double, Double, Double)].collect()
    assert(row.length === 1)
    val (n, g1, g7, mase) = row.head
    assert(n === idx.size.toLong)
    assert(math.abs(g1 - mae1) < 5.001e-7, s"mae_naive=$g1 want $mae1")
    assert(math.abs(g7 - mae7) < 5.001e-7, s"mae_seasonal=$g7 want $mae7")
    assert(math.abs(mase - mae7 / mae1) < 5.001e-7)
    // the fixture's day index is contiguous, so lag-k == day-k here —
    // assert that precondition so a gappy regenerated fixture is loud
    assert(daily.map(_._1).toSeq === (daily.head._1 until daily.head._1 + daily.length))
  }

  test("e_markov_steady: mass conserved within the floor bound, and a fixed point") {
    val v = Events.eMarkovSteady(spark, sf)
      .as[(String, Long)].collect().toMap
    val k = v.size
    // each step floors up to K² terms, losing < 1 µu per term (plus
    // up to K−1 µu at the uniform anchor)
    val mass = v.values.sum
    assert(mass <= 1000000L
      && mass >= 1000000L - (k + k.toLong * k * Events.MkIters),
      s"mass $mass outside the floor-loss bound")
    assert(v.values.forall(_ >= 0L))
    // fixed point: one more exact-integer step moves each entry by at
    // most K micro-units (the per-step quantization), i.e. the chain
    // has mixed — a driver recompute of step 21 from the raw matrix
    val mat = Events.eTransitions(spark, sf)
      .as[(String, String, Long, Double)].collect()
    val rt = mat.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val next = mat.groupBy(_._2).map { case (dst, rows) =>
      dst -> rows.map { case (src, _, n, _) => v(src) * n / rt(src) }.sum
    }
    next.foreach { case (t, nv) =>
      assert(math.abs(nv - v(t)) <= k,
        s"$t: step moves $nv vs ${v(t)} — not a fixed point")
    }
  }

  test("e_did: estimate matches a driver recompute of the four cells") {
    val row = Events.eDid(spark, sf)
      .as[(Long, Long, Double, Double, Double, Double, Double)].collect()
    assert(row.length === 1)
    val (nt, nc, tp, tq, cp, cq, did) = row.head
    val days = Events.load(spark, sf)
      .selectExpr("user_id", "ts_ns div 86400000000000 as day")
      .as[(Long, Long)].collect()
    val (lo, hi) = (days.map(_._2).min, days.map(_._2).max)
    val mid = (lo + hi + 1) / 2
    val (preD, postD) = (mid - lo, hi - mid + 1)
    val users = days.map(_._1).distinct
    assert(nt === users.count(_ % 2 == 1).toLong)
    assert(nc === users.count(_ % 2 == 0).toLong)
    def cell(treat: Boolean, post: Boolean) = days.count { case (u, d) =>
      (u % 2 == 1) == treat && (d >= mid) == post }.toDouble
    val wTp = cell(true, false) / (nt * preD)
    val wTq = cell(true, true) / (nt * postD)
    val wCp = cell(false, false) / (nc * preD)
    val wCq = cell(false, true) / (nc * postD)
    assert(tp === wTp && tq === wTq && cp === wCp && cq === wCq)
    assert(did === (wTq - wTp) - (wCq - wCp))
  }

  test("e_streaks: best streak matches a driver-side scan of each user's day set") {
    val got = Events.eStreaks(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val days = Events.load(spark, sf)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct().as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(got.keySet === days.keySet)
    days.foreach { case (u, ds) =>
      // runs of consecutive days; best = longest, earliest start on tie
      val runs = ds.foldLeft(Vector.empty[(Long, Long)]) { case (acc, d) =>
        acc.lastOption match {
          case Some((start, len)) if start + len == d =>
            acc.init :+ (start, len + 1)
          case _ => acc :+ (d, 1L)
        }
      }
      val best = runs.maxBy { case (start, len) => (len, -start) }
      val (bestLen, bestStart, nActive) = got(u)
      assert(nActive === ds.size.toLong, s"user $u active days")
      assert(bestLen === best._2, s"user $u streak len")
      assert(bestStart === best._1, s"user $u streak start")
      assert(runs.map(_._2).sum === ds.size.toLong, s"user $u runs partition")
    }
  }

  test("e_lorenz: histogram-split deciles equal a driver-side textbook ntile") {
    val got = Events.eLorenz(spark, sf)
      .as[(Int, Long, Long, Double, Double)].collect()
    val counts = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(c => (c._2, c._1))
    val n = counts.length
    val (q, rem) = (n / 10, n % 10)
    // standard ntile: first rem buckets get q+1 rows, the rest q
    val byDecile = counts.zipWithIndex.groupBy { case (_, i) =>
      if (i < rem * (q + 1)) i / (q + 1) + 1 else rem + (i - rem * (q + 1)) / q + 1
    }
    val tot = counts.map(_._2).sum
    assert(got.map(_._1).toSeq === byDecile.keys.toSeq.sorted.map(_.toInt))
    var cum = 0L
    got.foreach { case (dec, nUsers, nEvents, share, cumShare) =>
      val want = byDecile(dec)
      cum += nEvents
      assert(nUsers === want.length.toLong, s"decile $dec users")
      assert(nEvents === want.map(_._1._2).sum, s"decile $dec events")
      assert(share === nEvents.toDouble / tot, s"decile $dec share")
      assert(cumShare === cum.toDouble / tot, s"decile $dec cum")
    }
    assert(cum === tot, "deciles partition all events")
  }

  test("e_season_strength: strengths match a BigInt recompute from the decompose components") {
    val Seq((nDays, fTrend, fSeas)) = Events.eSeasonStrength(spark, sf)
      .as[(Long, Double, Double)].collect().toSeq
    val comp = Events.eDecompose(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(nDays === comp.length.toLong)
    def num(xs: Seq[BigInt]): BigInt =
      BigInt(xs.length) * xs.map(x => x * x).sum - xs.sum * xs.sum
    val r = comp.map(c => BigInt(c._5)).toSeq
    val ds = comp.map(c => BigInt(c._2 - c._4)).toSeq
    val dt = comp.map(c => BigInt(c._2 - c._3)).toSeq
    def strength(den: BigInt): Double =
      if (den == 0) 0.0
      else math.max(0.0, 1.0 - num(r).toDouble / den.toDouble)
    assert(fTrend === strength(num(ds)), "f_trend")
    assert(fSeas === strength(num(dt)), "f_seas")
    assert(fTrend >= 0.0 && fTrend <= 1.0 && fSeas >= 0.0 && fSeas <= 1.0)
  }

  test("e_user_overlap: set-algebra invariants and a driver recompute") {
    import spark.implicits._
    val rows = Events.eUserOverlap(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect()
    // driver-side ground truth from the raw cohort sets
    val cohorts = Events.load(spark, sf)
      .select("event_type", "user_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = cohorts.keys.toSeq.sorted
    val wantPairs = (for {
      a <- types; b <- types if a < b
      common = (cohorts(a) & cohorts(b)).size if common > 0
    } yield (a, b) -> common).toMap
    assert(rows.map(r => (r._1, r._2)).toSet === wantPairs.keySet)
    rows.foreach { case (a, b, na, nb, common, jac) =>
      assert(na === cohorts(a).size.toLong, s"($a,$b) n_a")
      assert(nb === cohorts(b).size.toLong, s"($a,$b) n_b")
      assert(common === wantPairs((a, b)).toLong, s"($a,$b) intersection")
      assert(common <= math.min(na, nb), s"($a,$b) intersection bound")
      val want = common.toDouble / (na + nb - common)
      assert(math.abs(jac - want) < 1e-6 && jac > 0.0 && jac <= 1.0,
        s"($a,$b) jaccard $jac vs $want")
    }
  }

  test("e_bootstrap: CI brackets the sample mean with width ~ 1/sqrt(n)") {
    import spark.implicits._
    val rows = Events.eBootstrap(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tpe, n, mean, lo, hi) =>
      assert(n > 0 && lo < hi, s"$tpe degenerate CI [$lo,$hi]")
      // the 2nd..31st order statistics of 32 resample means must
      // bracket the sample mean for any non-pathological sample
      assert(lo <= mean && mean <= hi, s"$tpe mean $mean outside [$lo,$hi]")
      // width sanity: a Poisson-bootstrap CI of a mean of n iid values
      // in [0,100] is a few sigma/sqrt(n), nowhere near the data range
      assert(hi - lo < 50.0 / math.sqrt(n.toDouble) * 10,
        s"$tpe CI width ${hi - lo} implausible for n=$n")
    }
  }

  test("e_interval_join: ownership-cell dedup equals the brute-force overlap join") {
    import spark.implicits._
    val got = Events.eIntervalJoin(spark, sf)
      .as[(Long, Long)].collect().toMap
    // brute force: rebuild the same sessions, pair them quadratically
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
    val prev = lag(col("us"), 1).over(w)
    val sess = Events.load(spark, sf)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ns div 1000").as("us"))
      .withColumn("new_s",
        when(prev.isNull || col("us") - prev >= 300000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy("user_id", "sid")
      .agg(min(col("us")).as("st"),
        (max(col("us")) + lit(1800000000L)).as("en"))
      .as[(Long, Long, Long, Long)].collect()
    val want = (for {
      a <- sess; b <- sess
      if a._1 < b._1 && a._3 <= b._4 && b._3 <= a._4
    } yield (math.max(a._3, b._3) / 3600000000L) * 3600)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want && got.nonEmpty)
    // conservation: cell ownership counted every overlapping pair once
    assert(got.values.sum == want.values.sum)
  }

  test("e_band_auto: band rewrite plans a hash join; only the offsets nested loop survives") {
    val planStr = Events.eBandAuto(spark, sf)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin") || planStr.contains("SortMergeJoin"))
    assert(!planStr.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(planStr).size
    assert(bnlj <= 1, s"unexpected nested loops:\n$planStr")
    if (bnlj == 1) assert(planStr.contains("LocalTableScan"))
    // integral band cells are exact: conservation against a driver
    // recompute of the pair count
    import spark.implicits._
    val pur = Events.load(spark, sf).where(col("event_type") === "purchase")
      .select(expr("ts_ns div 1000")).as[Long].collect()
    val sig = Events.load(spark, sf).where(col("event_type") === "signup")
      .select(expr("ts_ns div 1000")).as[Long].collect()
    val want = pur.iterator.map(p => sig.count(s => math.abs(p - s) <= 3600000000L).toLong).sum
    val got = Events.eBandAuto(spark, sf).agg(sum("n_pairs")).collect()(0).getLong(0)
    assert(got == want && got > 0)
  }

  test("e_boot_diff: CI brackets the observed difference and is finite-width") {
    import spark.implicits._
    val Seq((diff, lo, hi)) = Events.eBootDiff(spark, sf)
      .as[(Double, Double, Double)].collect().toSeq
    assert(lo < hi && lo <= diff && diff <= hi,
      s"diff $diff outside bootstrap CI [$lo, $hi]")
    // effect sizes on a 0-100 value scale: a CI wider than the whole
    // range means the resampling degenerated
    assert(hi - lo < 100.0)
  }

  test("e_perm_test: p-value is a valid add-one rational; groups populated") {
    import spark.implicits._
    val Seq((na, nb, diff, p)) = Events.ePermTest(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(na > 0 && nb > 0)
    // add-one smoothing over 64 permutations: p in {1/65, ..., 65/65}
    assert(p >= 1.0 / 65 - 1e-12 && p <= 1.0)
    val steps = p * 65
    assert(math.abs(steps - math.round(steps)) < 1e-9, s"p=$p not k/65")
    assert(!diff.isNaN)
  }
}

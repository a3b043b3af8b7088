package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Batch analytics over the `events` fixture: time-bucketed aggregation,
  * sessionization, and JSON-property extraction, each with a DuckDB
  * oracle.
  *
  * Timestamp handling: every fixture's events.ts is parquet
  * TIMESTAMP(MICROS), read as a timestamp. [[load]] also accepts a
  * TIMESTAMP(NANOS) encoding, which Spark 4 refuses by default:
  * `Tables.parquet` reads such a file as epoch-nanos LONG without
  * touching the session's conf, and [[normalizeTs]] converts either
  * encoding to a microsecond TimestampType column explicitly. All oracle
  * outputs are epoch-second BIGINTs (never raw timestamps), so Spark's
  * µs truncation vs DuckDB's native ns can't skew the compare.
  */
object Events {

  /** events with `ts` as TimestampType (µs) plus the epoch-nano long
    * as `ts_ns`, whatever the fixture's physical encoding.
    *
    * The fixture has shipped both ways across rounds: parquet
    * TIMESTAMP(NANOS) (arriving as epoch-nano LONG, see
    * `Tables.parquet`) and TIMESTAMP(MICROS) (arriving as a
    * timestamp — NTZ under Spark 4's inferTimestampNTZ default).
    * Normalizing on the READ side keeps every downstream query and
    * oracle identical: fixture wall times are UTC instants and every
    * runner pins the session timezone to UTC, so the NTZ→instant cast
    * is shift-free, mirroring DuckDB's naive-timestamp `epoch_ns`.
    */
  def load(s: SparkSession, d: String): DataFrame = normalizeTs(Tables.events(s, d))

  /** See [[load]]: LONG `ts` (nanos fixture) or timestamp `ts` (micros
    * fixture) → (`ts` TimestampType µs, `ts_ns` epoch-nano long).
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }

  private val valDec = col("value").cast("decimal(12,2)")

  // --------------------------------------------------- tumbling window
  /** Hourly tumbling-window counts per event type (Spark `window()`;
    * output keyed by epoch seconds of the bucket start).
    */
  def eTumbling(s: SparkSession, d: String): DataFrame =
    load(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(valDec).cast("double").as("total"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy("bucket_start", "event_type")

  val eTumblingSql: String =
    """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin

  // ---------------------------------------------------- sliding window
  /** Sliding-window counts (30-minute windows every 10 minutes — each
    * event lands in exactly 3 windows; Spark plans the window() slide
    * as a bounded 3-row generator). Oracle reconstructs the identical
    * windows: starts are the 10-minute grid points in (ts−30min, ts].
    */
  def eSliding(s: SparkSession, d: String): DataFrame =
    load(s, d)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(valDec).cast("double").as("total"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy("bucket_start", "event_type")

  val eSlidingSql: String =
    """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events)
      |SELECT (us // 600000000 - j) * 600 AS bucket_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM ev CROSS JOIN range(0, 3) t(j)
      |GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin

  // ------------------------------------------------------------ gap fill
  /** Dense time series from sparse events: every (hour-bucket ×
    * event_type) cell over the observed span, zero-filled where no
    * events landed — the resample/gap-fill shape dashboards and
    * training-cadence checks need. The bucket spine is generated with
    * `sequence()` from the GLOBAL min/max (a 2-value broadcast scalar,
    * not a driver collect), cross-joined with the distinct type dim,
    * then left-joined to the per-bucket aggregates.
    */
  def eGapfill(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d)
      .select(((unix_timestamp(col("ts")) / 3600).cast("long") * 3600).as("bucket_start"),
        col("event_type"), col("value"))
    val agg = ev.groupBy("bucket_start", "event_type")
      .agg(count(lit(1)).as("n"))
    val span = ev.agg(min(col("bucket_start")).as("lo"), max(col("bucket_start")).as("hi"))
    val spine = span
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("bucket_start"))
      // the distinct dim's size estimate is unknown pre-AQE — hint it
      // broadcast (like the spines below) so the planner can never fall
      // back to a CartesianProduct of two shuffles
      .crossJoin(broadcast(ev.select("event_type").distinct()))
    spine.join(agg, Seq("bucket_start", "event_type"), "left")
      .select(col("bucket_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bucket_start", "event_type")
  }

  val eGapfillSql: String =
    """WITH ev AS (SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_start,
      |    event_type FROM events),
      |agg AS (SELECT bucket_start, event_type, COUNT(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |spine AS (SELECT unnest(range(
      |    (SELECT MIN(bucket_start) FROM ev),
      |    (SELECT MAX(bucket_start) FROM ev) + 3600, 3600)) AS bucket_start),
      |grid AS (SELECT s.bucket_start, t.event_type
      |  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t)
      |SELECT g.bucket_start, g.event_type, COALESCE(a.n, 0) AS n
      |FROM grid g LEFT JOIN agg a
      |  ON a.bucket_start = g.bucket_start AND a.event_type = g.event_type
      |ORDER BY g.bucket_start, g.event_type""".stripMargin

  // ------------------------------------------------------ sessionization
  /** Gap-based sessions per user (5-minute gap) via Spark's
    * session_window in batch mode; the oracle rebuilds the identical
    * sessions with the classic gaps-and-islands construction over
    * microsecond epochs.
    */
  def eSession(s: SparkSession, d: String): DataFrame =
    load(s, d)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
           sum(valDec).cast("double").as("total"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n"), col("total"))
      .orderBy("user_id", "session_start")

  // ------------------------------------------------- time to convert
  /** Time-to-convert distribution: from each user's FIRST signup to
    * their FIRST subsequent purchase — the activation-latency report
    * (how long does onboarding take for the users it works on). One
    * summary row: signed-up users, converters, conversion rate, and
    * the gap distribution (min / median / p90 / max / floored mean,
    * microseconds). Quantiles are percentile_disc — ATTAINED integer
    * values, not interpolated — so the row is deterministic
    * cross-engine; the mean is the e_interarrival floor-division
    * contract (exact integer sum // count, cast BIGINT).
    *
    * Scale shape: one user-keyed aggregation computes both firsts as
    * conditional mins (map-side partial); the distribution is a 1-row
    * aggregate over user-count gaps. The only ordered pass is the
    * percentile_disc sort inside one aggregate over converter-count
    * rows (users, not events).
    */
  def eTtc(s: SparkSession, d: String): DataFrame = {
    val firsts = load(s, d)
      .filter(col("event_type").isin("signup", "purchase"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_ns"))).as("s_ns"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("p_ns"))
      .filter(col("s_ns").isNotNull)
    val gaps = firsts.filter(col("p_ns") > col("s_ns"))
      .select(expr("(p_ns - s_ns) div 1000").as("gap_us"))
    val signed = firsts.agg(count(lit(1)).as("n_signed"))
    val dist = gaps.agg(
      count(lit(1)).as("n_converted"),
      min(col("gap_us")).as("min_us"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long").as("p50_us"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long").as("p90_us"),
      max(col("gap_us")).as("max_us"),
      floor(sum(col("gap_us")) / count(lit(1))).cast("long").as("avg_us"))
    signed.crossJoin(broadcast(dist))
      .select(col("n_signed"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_signed"), 6)
          .as("cvr"),
        col("min_us"), col("p50_us"), col("p90_us"), col("max_us"),
        col("avg_us"))
  }

  val eTtcSql: String =
    """WITH f AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END) AS s_ns,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS p_ns
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |  GROUP BY 1 HAVING s_ns IS NOT NULL),
      |g AS (SELECT (p_ns - s_ns) // 1000 AS gap_us FROM f WHERE p_ns > s_ns),
      |n AS (SELECT COUNT(*) AS n_signed FROM f),
      |d AS (SELECT COUNT(*) AS n_converted,
      |    MIN(gap_us) AS min_us,
      |    CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS p50_us,
      |    CAST(quantile_disc(gap_us, 0.9) AS BIGINT) AS p90_us,
      |    MAX(gap_us) AS max_us,
      |    CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_us
      |  FROM g)
      |SELECT n_signed, n_converted,
      |  round(CAST(n_converted AS DOUBLE) / n_signed, 6) AS cvr,
      |  min_us, p50_us, p90_us, max_us, avg_us
      |FROM n, d""".stripMargin

  // ---------------------------------------------- concurrency sweep line
  /** Peak concurrent sessions per day — the occupancy/capacity shape
    * (how many users were mid-session at the busiest instant): sweep
    * line over session intervals. Sessions are [[eSession]]'s
    * 5-minute-gap windows (interval = [window.start, window.end));
    * each contributes a +1 delta at its start and a −1 at its end, and
    * concurrency is the running sum over (ts, delta) order — ends sort
    * before starts at the same instant, so back-to-back sessions never
    * overlap. Days with no session boundary don't emit a row
    * (documented contract — a spine join adds them if needed).
    *
    * Scale shape: the running sum is the DISTRIBUTED two-level prefix
    * scan (cf. pPack): deltas partition by day (per-day Window), and
    * the cross-day carry is a day-grain cumulative over day-count
    * rows — no global single-partition pass over deltas. Tie groups
    * use the default RANGE frame on both engines, so equal (ts, delta)
    * peers share one value and the per-day max is order-free.
    */
  def eConcurrency(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = load(s, d)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("session_window.start")).as("st"),
        unix_micros(col("session_window.end")).as("en"))
    val deltas = sess.select(col("st").as("us"), lit(1L).as("delta"))
      .unionAll(sess.select(col("en").as("us"), lit(-1L).as("delta")))
      .withColumn("day", expr("us div 86400000000"))
    val wRun = Window.partitionBy("day").orderBy(col("us"), col("delta"))
    val byDay = deltas
      .withColumn("run", sum(col("delta")).over(wRun))
      .groupBy("day")
      .agg(max(col("run")).as("max_run"), sum(col("delta")).as("day_delta"))
    val wCarry = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn("carry", coalesce(sum(col("day_delta")).over(wCarry), lit(0L)))
      .select(col("day"), (col("max_run") + col("carry")).as("peak_concurrency"))
      .orderBy("day")
  }

  val eConcurrencySql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |flag AS (SELECT user_id, us,
      |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 300000000
      |       OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |       THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |isl AS (SELECT user_id, us,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flag),
      |sess AS (SELECT MIN(us) AS st, MAX(us) + 300000000 AS en
      |  FROM isl GROUP BY user_id, sid),
      |deltas AS (
      |  SELECT st AS us, CAST(1 AS BIGINT) AS delta, st // 86400000000 AS day
      |    FROM sess
      |  UNION ALL
      |  SELECT en AS us, CAST(-1 AS BIGINT) AS delta, en // 86400000000 AS day
      |    FROM sess),
      |run AS (SELECT day, delta,
      |  SUM(delta) OVER (PARTITION BY day ORDER BY us, delta) AS run
      |  FROM deltas),
      |byday AS (SELECT day, MAX(run) AS max_run, SUM(delta) AS day_delta
      |  FROM run GROUP BY 1),
      |carry AS (SELECT day, max_run,
      |  COALESCE(SUM(day_delta) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
      |  FROM byday)
      |SELECT day, CAST(max_run + carry AS BIGINT) AS peak_concurrency
      |FROM carry ORDER BY day""".stripMargin

  val eSessionSql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
      |flag AS (SELECT user_id, us, value,
      |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 300000000
      |       OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |       THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |isl AS (SELECT user_id, us, value,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flag)
      |SELECT user_id, MIN(us) // 1000000 AS session_start, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM isl GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ------------------------------------------------------- JSON props
  /** Semi-structured extraction: parse the `props` JSON column with an
    * explicit schema (FAILFAST-adjacent: nulls only for absent keys).
    */
  def eJsonProps(s: SparkSession, d: String): DataFrame = {
    val propSchema = StructType(Seq(StructField("k", LongType)))
    load(s, d)
      .select(col("event_type"),
        from_json(col("props"), propSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy("event_type")
  }

  val eJsonPropsSql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- as-of join
  /** As-of join — an operator Spark lacks natively, composed per the
    * preference order (a): for every event, the LATEST order of the same
    * customer with o_orderdate <= event time. Left join on the
    * inequality + per-event row_number(1) keeps exactly one row per
    * event (nulls preserved for events with no matching order).
    *
    * Scale note: the inequality join fans out to (event × orders of
    * that customer) before the group-limit; Spark plans it as a
    * broadcast/shuffle join on the equality key (user = custkey) with
    * the range predicate as a post-filter, and WindowGroupLimit caps
    * the per-event buffering. For time-series-scale data the same
    * composition applies per time-bucketed key.
    */
  def eAsofJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = load(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val w = Window.partitionBy("event_id")
      .orderBy(col("o_orderdate").desc_nulls_last, col("o_orderkey").desc_nulls_last)
    ev.join(ord, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"),
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"))
      .orderBy("event_id")
  }

  val eAsofJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |j AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM ev e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id AND epoch(o.o_orderdate) * 1000000 <= e.us)
      |SELECT event_id, user_id, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Runs `join` over the native as-of queries' two inputs — events
    * (`event_id`, `user_id`, `ts_us` in µs) and orders (`o_custkey`,
    * `o_orderkey`, `o_us`) — and projects its output to the e_asof_join
    * oracle's columns, `order_epoch` in seconds.
    */
  private def asofOrders(s: SparkSession, d: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = load(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    join(ev, ord)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        (col("o_us") / lit(1000000L)).cast("bigint").as("order_epoch"))
      .orderBy("event_id")
  }

  /** The same as-of semantics as [[eAsofJoin]] through the NATIVE
    * whole-operator path (graft.plans.AsofJoinExec): one shuffle per
    * side on the equality key, a per-partition sort-merge with O(1)
    * held state, and zero fan-out — vs the composed plan's
    * |event × same-user orders| intermediate. Same oracle SQL as
    * e_asof_join, so the DuckDB hash compare (`tools/parity.py`)
    * certifies the custom physical operator bit-for-bit.
    */
  def eAsofNative(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOf(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      // pin the shuffled exec: this query is the sort-merge flagship
      // (eAsofBroadcast gates the broadcast path; with cost-based
      // selection the small fixture dim would otherwise broadcast)
      tiebreak = Seq("o_orderkey"), broadcast = Some(false)))

  /** The SALTED shuffled plan of the same native as-of (same oracle as
    * e_asof_join/e_asof_native — the salt must be invisible in the
    * results, the wordscore_salted design point): the join keys gain a
    * 30-day time bucket with bucket-grain carry-over, so one
    * pathologically hot user bounds the largest merge task by
    * per-bucket traffic instead of per-user history — the documented
    * skew escape AQE's skew-join split (built-in execs only) cannot
    * give a custom exec. AsofJoinSpec pins the measured task bound
    * under an adversarial single-key fixture.
    */
  def eAsofSalted(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOfSalted(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      bucketUs = 30L * 86400L * 1000000L, tiebreak = Seq("o_orderkey")))

  /** The SQL front door over the same native as-of (same oracle as
    * e_asof_join/e_asof_native): the Spark side is PURE SQL TEXT — the
    * textbook as-of shape a SQL user actually writes (left-outer
    * inequality join reduced with `max_by` over a (time, tiebreak)
    * struct) — and [[graft.plans.SqlAsofRewrite]] replans the
    * Join-under-Aggregate onto [[graft.plans.AsofJoinExec]]: zero
    * fan-out instead of |event x same-user orders| candidate rows
    * feeding the aggregate. AsofJoinSpec plan-pins the native exec
    * and the rule's equivalence against the rule-stripped run; the
    * driver's hash gate certifies it against the same DuckDB oracle
    * as the DataFrame paths every round.
    */
  def eAsofSql(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(s)
    load(s, d).createOrReplaceTempView("graft_sql_events")
    Tables.orders(s, d).createOrReplaceTempView("graft_sql_orders")
    s.sql(eAsofSqlText)
  }

  /** The pure SQL text [[eAsofSql]] runs — exposed so AsofJoinSpec can
    * run the IDENTICAL text with the rewrite stripped (calling
    * eAsofSql in the control would re-register the rule).
    */
  private[graft] val eAsofSqlText: String = """
      WITH ev AS (SELECT event_id, user_id, unix_micros(ts) AS ts_us
                  FROM graft_sql_events),
           ord AS (SELECT o_custkey, o_orderkey,
                     CAST(unix_timestamp(o_orderdate) AS BIGINT) * 1000000 AS o_us
                   FROM graft_sql_orders)
      SELECT ev.event_id, ev.user_id,
             max_by(ord.o_orderkey, struct(ord.o_us, ord.o_orderkey)) AS o_orderkey,
             max_by(CAST(ord.o_us / 1000000 AS BIGINT),
                    struct(ord.o_us, ord.o_orderkey)) AS order_epoch
      FROM ev LEFT JOIN ord
        ON ev.user_id = ord.o_custkey AND ord.o_us <= ev.ts_us
      GROUP BY ev.event_id, ev.user_id
      ORDER BY ev.event_id
      """

  /** The AUTO-SKEW front door over the same native as-of (same oracle
    * as e_asof_join/e_asof_native — detection must be invisible in the
    * results): [[graft.plans.AsofJoin.joinAsOfAuto]] runs one key-grain
    * detection aggregate and only reruns as the salted plan when a key
    * exceeds the skew threshold — at this fixture's key cardinality it
    * certifies the fall-through (detection finds no hot key, the plain
    * shuffled exec plans, results hash against the unsalted oracle);
    * the triggered path's exactness and measured even-share bound are
    * pinned by AsofJoinSpec's adversarial single-key fixture with no
    * caller opt-in.
    */
  def eAsofAuto(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOfAuto(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      tiebreak = Seq("o_orderkey")))

  /** The BROADCAST plan of the same native as-of (same oracle as
    * e_asof_join/e_asof_native): the orders side is broadcast whole and
    * indexed per task; the events side pays NO shuffle and NO sort —
    * the 100 TB fast path when the dimension fits the broadcast budget.
    */
  def eAsofBroadcast(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOf(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      tiebreak = Seq("o_orderkey"), broadcast = Some(true)))

  /** Native as-of with a 90-day tolerance window: the latest order at
    * most 90 days before the event — the freshness-bounded lookup every
    * feature-store join needs (a match older than the window is a
    * stale feature, worse than none). Same native operator; the
    * tolerance check rides the O(1) merge state, costing nothing.
    */
  def eAsofTolerance(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOf(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      tiebreak = Seq("o_orderkey"), broadcast = Some(false),
      toleranceUs = Some(90L * 86400L * 1000000L)))

  val eAsofToleranceSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |j AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM ev e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id AND epoch(o.o_orderdate) * 1000000 <= e.us
      |    AND e.us - epoch(o.o_orderdate) * 1000000 <= 7776000000000)
      |SELECT event_id, user_id, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Native FORWARD as-of: the earliest order at or after the event —
    * next-action attribution (which order did this click lead to?).
    * Ties resolve to the smallest orderkey, mirroring backward's
    * largest-key convention under its DESC ordering.
    */
  def eAsofForward(s: SparkSession, d: String): DataFrame =
    asofOrders(s, d)(graft.plans.AsofJoin.joinAsOf(_, _,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      tiebreak = Seq("o_orderkey"), direction = "forward",
      broadcast = Some(false)))

  val eAsofForwardSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |j AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate ASC NULLS LAST, o.o_orderkey ASC NULLS LAST) AS rn
      |  FROM ev e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id AND epoch(o.o_orderdate) * 1000000 >= e.us)
      |SELECT event_id, user_id, o_orderkey,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  // --------------------------------------------------- global (keyless)
  /** GLOBAL as-of — the market-data shape: every event picks up the
    * latest GLOBAL reference tick at or before its time, no equality
    * key at all. The tick series is a sparse self-derived sample of
    * the event stream (every 97th event id — ~1% of events, the
    * "index price" proxy the fixtures lack); the keyless native join
    * auto-broadcasts it (cost-based selection), so the fact side is
    * never shuffled and never sorted — the plan a market-data join at
    * 100 TB needs. A keyless join forced onto the shuffled exec
    * degrades to a single-partition merge by declared AllTuples
    * distribution — honest, and pinned in AsofJoinSpec.
    */
  def eAsofGlobal(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d).select(col("event_id"), expr("ts_ns div 1000").as("ts_us"))
    // fresh load: distinct attribute ids for the right side
    val ticks = load(s, d).where(col("event_id") % 97 === 0)
      .select(expr("ts_ns div 1000").as("tick_us"), col("event_id").as("tick_id"))
    graft.plans.AsofJoin.joinAsOf(ev, ticks,
        leftTime = "ts_us", rightTime = "tick_us",
        leftBy = Nil, rightBy = Nil, tiebreak = Seq("tick_id"))
      .select(col("event_id"), col("tick_id"),
        expr("CAST(tick_us div 1000000 AS BIGINT)").as("tick_epoch"))
      .orderBy("event_id")
  }

  val eAsofGlobalSql: String =
    """WITH ev AS (SELECT event_id, epoch_ns(ts) // 1000 AS us FROM events),
      |tk AS (SELECT event_id AS tick_id, epoch_ns(ts) // 1000 AS tick_us
      |  FROM events WHERE event_id % 97 = 0),
      |j AS (SELECT e.event_id, t.tick_id, t.tick_us,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY t.tick_us DESC NULLS LAST, t.tick_id DESC NULLS LAST) AS rn
      |  FROM ev e LEFT JOIN tk t ON t.tick_us <= e.us)
      |SELECT event_id, tick_id,
      |  CAST(tick_us // 1000000 AS BIGINT) AS tick_epoch
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ------------------------------------------------- nearest direction
  /** NEAREST-in-time as-of: for every event, the same-user order with
    * the minimal |order time − event time|, whichever side of the
    * event it falls on — the "closest dimension row" enrichment
    * (sensor reading nearest a fault, order nearest a complaint).
    * Composed from the two NATIVE as-of joins chained left-to-right:
    * the backward join's output (partitioning and ordering intact)
    * feeds the forward join directly, then one projection picks the
    * closer candidate per row — no extra shuffle beyond the two
    * operators' own, and under cost-based selection a small
    * dimension makes BOTH hops broadcast (the fact side is never
    * shuffled at all).
    *
    * Tie semantics, pinned by the oracle: equal distances prefer the
    * BACKWARD side (earlier order time); within one side, ties on
    * time follow each native's convention (backward → largest key,
    * forward → smallest), which the oracle encodes as
    * `CASE WHEN o_us <= ts THEN -key ELSE key END` in its sort.
    */
  def eAsofNearest(s: SparkSession, d: String): DataFrame = {
    // ts_ns div 1000, not unix_micros(ts): diff_s is second-grain and
    // a 1-µs engine disagreement at an exact-second boundary would
    // flip it — integer ns math matches the oracle's epoch_ns // 1000
    val ev = load(s, d).select(col("event_id"), col("user_id"),
      expr("ts_ns div 1000").as("ts_us"))
    val ordB = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    val b = graft.plans.AsofJoin.joinAsOf(ev, ordB,
        leftTime = "ts_us", rightTime = "o_us",
        leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
        tiebreak = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey").as("b_key"), col("o_us").as("b_us"))
    // fresh read: the second native join needs right-side attribute
    // ids distinct from the first's (the operators' self-join rule)
    val ordF = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    val f = graft.plans.AsofJoin.joinAsOf(b, ordF,
      leftTime = "ts_us", rightTime = "o_us",
      leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
      tiebreak = Seq("o_orderkey"), direction = "forward")
    val pickB = col("b_us").isNotNull &&
      (col("o_us").isNull ||
        (col("ts_us") - col("b_us")) <= (col("o_us") - col("ts_us")))
    f.select(col("event_id"), col("user_id"),
        when(pickB, col("b_key")).otherwise(col("o_orderkey")).as("o_orderkey"),
        expr("CAST((CASE WHEN b_us IS NOT NULL AND (o_us IS NULL OR ts_us - b_us <= o_us - ts_us) THEN ts_us - b_us ELSE o_us - ts_us END) div 1000000 AS BIGINT)").as("diff_s"))
      .orderBy("event_id")
  }

  val eAsofNearestSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |j AS (SELECT e.event_id, e.user_id, e.us, o.o_orderkey,
      |    CAST(epoch(o.o_orderdate) AS BIGINT) * 1000000 AS o_us
      |  FROM ev e LEFT JOIN orders o ON o.o_custkey = e.user_id),
      |r AS (SELECT *, ABS(us - o_us) AS ad,
      |    row_number() OVER (PARTITION BY event_id
      |      ORDER BY ABS(us - o_us) ASC NULLS LAST, o_us ASC NULLS LAST,
      |        (CASE WHEN o_us <= us THEN -o_orderkey ELSE o_orderkey END)
      |          ASC NULLS LAST) AS rn
      |  FROM j)
      |SELECT event_id, user_id, o_orderkey,
      |  CAST(ad // 1000000 AS BIGINT) AS diff_s
      |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin

  // -------------------------------------------------------- range join
  /** Interval/range self-join: for every event, how many same-user
    * events follow within 10 minutes (burst/co-occurrence detection).
    * Planned as an equality hash join on the user key with the time
    * range as a residual filter — the scalable composition for banded
    * interval joins: the range never drives the shuffle, and at
    * time-series scale the same shape applies per time-bucketed key
    * (bucket the equality key by coarse time so residual fan-out stays
    * bounded).
    */
  def eRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d)
    val a = ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val b = ev.select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") > col("ts") &&
        col("b_ts") <= col("ts") + expr("INTERVAL 10 MINUTES"), "left")
      .groupBy("event_id", "event_type")
      .agg(count(col("b_ts")).as("n_follow"))
      .orderBy("event_id")
  }

  /** [[eRangeJoin]]'s semantics through the NATIVE banded range-count
    * operator (graft.plans.BandCountExec, same oracle SQL): one shuffle
    * per side, a sliding window of at most one band's timestamps per
    * task, and |events| output rows — no (event × in-band follower)
    * fan-out. The self-join aliases the right side's columns (the
    * operator requires distinct attribute ids).
    */
  def eRangeNative(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d)
    val a = ev.select(col("event_id"), col("event_type"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val b = ev.select(col("user_id").as("b_user"),
      unix_micros(col("ts")).as("b_ts_us"))
    graft.plans.BandJoin.bandCount(a, b,
        leftTime = "ts_us", rightTime = "b_ts_us",
        leftBy = Seq("user_id"), rightBy = Seq("b_user"),
        windowUs = 600000000L, countName = "n_follow",
        broadcast = Some(false))
      .select(col("event_id"), col("event_type"), col("n_follow"))
      .orderBy("event_id")
  }

  /** The SALTED shuffled band count (same oracle as e_range_join /
    * e_range_native — the salt must be invisible): join keys gain a
    * 20-minute time bucket, right rows replicate to their own and the
    * previous bucket (bounded 2x, exact for bucket >= window), so one
    * hot user's merge task is bounded by per-bucket traffic.
    * BandJoinSpec pins the measured task bound under an adversarial
    * single-key fixture.
    */
  def eBandSalted(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d)
    val a = ev.select(col("event_id"), col("event_type"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val b = ev.select(col("user_id").as("b_user"),
      unix_micros(col("ts")).as("b_ts_us"))
    graft.plans.BandJoin.bandCountSalted(a, b,
        leftTime = "ts_us", rightTime = "b_ts_us",
        leftBy = Seq("user_id"), rightBy = Seq("b_user"),
        windowUs = 600000000L, bucketUs = 1200000000L,
        countName = "n_follow")
      .select(col("event_id"), col("event_type"), col("n_follow"))
      .orderBy("event_id")
  }

  /** Broadcast band-count (graft.plans.BandCountBroadcastExec): orders
    * placed by the same user within 30 days AFTER each event — the
    * "conversion within W" outcome feature, computed with the compact
    * orders side broadcast as per-user sorted time arrays and two
    * binary searches per event. The event stream pays no shuffle and
    * no sort.
    */
  def eBandBroadcast(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = Tables.orders(s, d).select(col("o_custkey"),
      (unix_timestamp(col("o_orderdate")) * lit(1000000L)).as("o_us"))
    graft.plans.BandJoin.bandCount(ev, ord,
        leftTime = "ts_us", rightTime = "o_us",
        leftBy = Seq("user_id"), rightBy = Seq("o_custkey"),
        windowUs = 30L * 86400L * 1000000L,
        countName = "n_orders_30d", broadcast = Some(true))
      .select(col("event_id"), col("n_orders_30d"))
      .orderBy("event_id")
  }

  val eBandBroadcastSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events)
      |SELECT e.event_id, COUNT(o.o_orderkey) AS n_orders_30d
      |FROM ev e LEFT JOIN orders o
      |  ON o.o_custkey = e.user_id
      |  AND epoch(o.o_orderdate) * 1000000 > e.us
      |  AND epoch(o.o_orderdate) * 1000000 <= e.us + 2592000000000
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  val eRangeJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |  epoch_ns(ts) // 1000 AS us FROM events)
      |SELECT a.event_id, a.event_type, COUNT(b.us) AS n_follow
      |FROM ev a LEFT JOIN ev b
      |  ON b.user_id = a.user_id AND b.us > a.us
      |  AND b.us <= a.us + 600000000
      |GROUP BY a.event_id, a.event_type ORDER BY a.event_id""".stripMargin

  // --------------------------------------------------------- funnel
  /** Batch conversion funnel: per day, how many clicks were
    * followed by a purchase from the same user within 30 minutes.
    * Computed join-free as one user-partitioned window pass over the
    * unioned click/purchase stream — "converted" is whether the NEXT
    * purchase at-or-after the click falls inside the window, which is
    * equivalent to "ANY purchase in [cns, cns+30min]" because the
    * minimum purchase ts ≥ cns is in the interval iff any is. The
    * oracle keeps the user-keyed range-join formulation; the window
    * form removes the per-hot-user quadratic (many clicks × many
    * purchases re-probed per click) that the join shape carries at
    * 100 TB. All time math is on the raw epoch-nano longs — exact on
    * both engines, immune to the µs-vs-ns precision gap.
    */
  def eFunnel(s: SparkSession, d: String): DataFrame = {
    // NO join: clicks and purchases ride one user-partitioned window
    // pass, and each click reads the minimum purchase ts at-or-after
    // itself, converted iff within 30 min. The previous user-keyed
    // range left-join was quadratic per hot user (many clicks × many
    // purchases probed per click). The frame matters as much as the
    // join-freeness: a [currentRow, unboundedFollowing] min looks
    // one-pass but Spark's shrinking-frame evaluator re-aggregates
    // current→end for EVERY row (min has no inverse merge) — O(n²)
    // per user again. Sorting DESC and taking the running min over
    // [unboundedPreceding, currentRow] is the same quantity computed
    // by Spark's incremental running-frame evaluator: one sort plus
    // O(1) per row. Ties: under (ts_ns DESC, kind DESC) a same-ts
    // purchase (kind 1) sorts BEFORE the click, so it is inside the
    // click's preceding frame, matching the join form's pns >= cns.
    val ev = load(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts_ns"),
        when(col("event_type") === "purchase", col("ts_ns")).as("pns"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("kind"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ns").desc, col("kind").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ev.withColumn("next_pns", min(col("pns")).over(w))
      .filter(col("kind") === 0)
      .withColumn("converted",
        when(col("next_pns") <= col("ts_ns") + lit(1800000000000L), 1).otherwise(0))
      .groupBy(expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("clicks"),
           sum(col("converted")).as("conversions"),
           // unrounded quotient — FIXTURES §C mean-tie rule
           (sum(col("converted")).cast("double") / count(lit(1))).as("conv_rate"))
      .orderBy("day")
  }

  val eFunnelSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS cns
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_ns(ts) AS pns
      |  FROM events WHERE event_type = 'purchase'),
      |conv AS (SELECT c.click_id, c.cns,
      |    MAX(CASE WHEN p.pns >= c.cns AND p.pns <= c.cns + 1800000000000
      |      THEN 1 ELSE 0 END) AS converted
      |  FROM c LEFT JOIN p ON c.user_id = p.user_id GROUP BY 1, 2)
      |SELECT cns // 86400000000000 AS day, COUNT(*) AS clicks,
      |  CAST(SUM(converted) AS BIGINT) AS conversions,
      |  CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conv_rate
      |FROM conv GROUP BY 1 ORDER BY day""".stripMargin

  // ------------------------------------------------------- retention
  /** Day-over-day retention: per epoch-day, active users and how many
    * were also active the previous day — computed with a per-user lag
    * window over distinct (user, day) rows (one pass, per-user state)
    * rather than a day-grid self-join that would re-evaluate the
    * distinct subplan per side.
    */
  def eRetention(s: SparkSession, d: String): DataFrame = {
    val du = load(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    du.withColumn("prev", lag(col("day"), 1).over(w))
      .groupBy("day")
      .agg(count(lit(1)).as("active"),
           sum(when(col("prev") === col("day") - 1, 1).otherwise(0)).as("retained"))
      .orderBy("day")
  }

  val eRetentionSql: String =
    """WITH du AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |l AS (SELECT day, lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM du)
      |SELECT day, COUNT(*) AS active,
      |  CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained
      |FROM l GROUP BY day ORDER BY day""".stripMargin

  // ------------------------------------------------- trailing EWMA
  /** Trailing exponentially-weighted moving average (α = 1/2) of each
    * user's last 8 event values — the smoothing/forecast primitive
    * (monitoring baselines, rate estimates). Computed as 8 explicit
    * lag columns folded in ONE expression tree: every weight 2⁻ᵏ is an
    * exact power of two, so each product is an exact IEEE scaling, and
    * the numerator/denominator sums evaluate in the same fixed
    * left-associated order on both engines — bit-identical WITHOUT the
    * decimal quantization the order-free window sums need. Short
    * histories renormalize by the present-weight sum (the standard
    * bias correction).
    *
    * Scale: one user-keyed window pass, per-row state = 8 lags; the
    * only shuffle is the user partition. Ordering is (µs, event_id) —
    * the ns→µs truncation rule from FIXTURES.md.
    */
  val EwmaLags = 8
  def eEwma(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(expr("ts_ns div 1000"), col("event_id"))
    val lagged = load(s, d)
      .select(Seq(col("event_id"), col("user_id")) ++
        (0 until EwmaLags).map(k => lag(col("value"), k).over(w).as(s"l$k")): _*)
    val num = (0 until EwmaLags)
      .map(k => coalesce(col(s"l$k") * lit(math.pow(0.5, k)), lit(0.0)))
      .reduce(_ + _)
    val den = (0 until EwmaLags)
      .map(k => when(col(s"l$k").isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0)))
      .reduce(_ + _)
    lagged.select(col("event_id"), col("user_id"),
        round(num / den, 6).as("ewma"))
      .orderBy("event_id")
  }

  lazy val eEwmaSql: String = {
    val lags = (0 until EwmaLags)
      .map(k => s"lag(value, $k) OVER w AS l$k").mkString(",\n  ")
    val num = (0 until EwmaLags)
      .map(k => s"COALESCE(l$k * ${math.pow(0.5, k)}, 0)").mkString(" + ")
    val den = (0 until EwmaLags)
      .map(k => s"CASE WHEN l$k IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH l AS (SELECT event_id, user_id,
       |  $lags
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
       |SELECT event_id, user_id, round(($num) / ($den), 6) AS ewma
       |FROM l ORDER BY event_id""".stripMargin
  }

  // ------------------------------------------------- cohort matrix
  /** Weekly cohort-retention matrix — the growth-analytics staple that
    * [[eRetention]]'s day-over-day view doesn't give: users grouped by
    * their FIRST-seen week (the cohort), then counted in every later
    * week they return, keyed by the offset. One distinct pass to
    * (user, week), one per-user min (window, same user-keyed exchange),
    * one count per (cohort, offset) — at 100 TB everything shuffles
    * (user, week) pairs, never events, and the output is bounded by
    * weeks². `n_users` at offset 0 is the cohort size, so rates are
    * derivable downstream without a second scan.
    */
  def eCohort(s: SparkSession, d: String): DataFrame = {
    val uw = load(s, d)
      .select(col("user_id"), expr("ts_ns div 604800000000000").as("week"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    uw.withColumn("cohort_week", min(col("week")).over(w))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val eCohortSql: String =
    """WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
      |  FROM events),
      |c AS (SELECT user_id, week,
      |  MIN(week) OVER (PARTITION BY user_id) AS cohort_week FROM uw)
      |SELECT cohort_week, week - cohort_week AS week_offset, COUNT(*) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // ------------------------------------------------- anomaly detection
  /** Trailing-window z-score outliers: for every event with a full
    * 10-event same-user history (itself included), flag |z| ≥ 2 where
    * z standardizes `value` against the trailing window's mean/stddev
    * — the streaming-monitoring shape (rate spikes, fraud velocity)
    * as one user-partitioned window pass: no self-join, per-row state
    * is the 10-row frame, and the only shuffle is the user partition.
    *
    * Determinism across engines: windowed SUM over decimals is EXACT
    * and order-free, so mean and variance come out of closed-form
    * double arithmetic over exact sums — written as the identical
    * operation sequence (divide, multiply, subtract, sqrt, divide,
    * round) on both sides, IEEE-identical; no engine-native
    * stddev/avg (whose summation order and algorithm — naive vs
    * Welford — differ per engine) touches the data. The |z| cut is
    * applied to the ROUNDED value so the boundary can't disagree.
    * Population variance (the /n form): the frame IS the population
    * being standardized against, and n is a constant 10.
    */
  val AnomalyWin = 10

  def eAnomaly(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(-(AnomalyWin - 1), Window.currentRow)
    val n = lit(AnomalyWin.toDouble)
    val vr = col("wss") / n - (col("ws") / n) * (col("ws") / n)
    val z = round((col("vd") - col("ws") / n) / sqrt(vr), 6)
    load(s, d)
      .select(col("event_id"), col("user_id"), col("ts_ns"), col("value"),
        valDec.cast("double").as("vd"),
        count(lit(1)).over(w).as("wn"),
        sum(valDec).over(w).cast("double").as("ws"),
        sum(valDec * valDec).over(w).cast("double").as("wss"))
      .filter(col("wn") === AnomalyWin && vr > 1e-12)
      .select(col("event_id"), col("user_id"), col("value"), z.as("z"))
      .filter(abs(col("z")) >= 2.0)
      .orderBy("event_id")
  }

  val eAnomalySql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ns, value,
       |  CAST(value AS DECIMAL(12,2)) AS dec FROM events),
       |w AS (SELECT event_id, user_id, value,
       |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS vd,
       |  COUNT(*) OVER win AS wn,
       |  CAST(SUM(dec) OVER win AS DOUBLE) AS ws,
       |  CAST(SUM(dec * dec) OVER win AS DOUBLE) AS wss
       |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ns, event_id
       |    ROWS BETWEEN ${AnomalyWin - 1} PRECEDING AND CURRENT ROW)),
       |z AS (SELECT event_id, user_id, value,
       |  round((vd - ws / $AnomalyWin.0) /
       |    sqrt(wss / $AnomalyWin.0 - (ws / $AnomalyWin.0) * (ws / $AnomalyWin.0)), 6) AS z
       |  FROM w WHERE wn = $AnomalyWin
       |    AND wss / $AnomalyWin.0 - (ws / $AnomalyWin.0) * (ws / $AnomalyWin.0) > 1e-12)
       |SELECT event_id, user_id, value, z FROM z WHERE abs(z) >= 2.0
       |ORDER BY event_id""".stripMargin

  // --------------------------------------------- event-type transitions
  /** First-order Markov transition matrix over per-user event
    * sequences: counts and row-normalized probabilities of event_type
    * bigrams (prev → next, consecutive by time within a user) — the
    * session-modeling / next-action-prediction shape. One lag window
    * per user plus a |types|²-bounded aggregation; the row
    * normalization reuses the prev_type grouping as a broadcast-size
    * window, so nothing user-sized shuffles twice.
    */
  // ------------------------------------------- Markov steady state
  val MkIters = 20   // power-iteration steps (chain mixes in far fewer)

  /** Stationary distribution of the per-user event-type Markov chain —
    * "where does user behavior settle": the long-run share of each
    * event type under the observed transition matrix, computed by
    * [[MkIters]] power-iteration steps in EXACT integer micro-units
    * (vᵤ′(j) = Σᵢ ⌊vᵤ(i)·n(i,j) / rowtotal(i)⌋, anchor uniform
    * ⌊10⁶/K⌋). Floor division loses ≤ K micro-units of mass per step
    * — a documented quantization, and the price of a bit-identical
    * fixed point on both engines. The chain is defined over types
    * observed as a transition SOURCE (every fixture type is).
    *
    * Scale shape: the transition matrix is a K²-row aggregate of one
    * user-windowed pass over events (the [[eTransitions]] pass) and is
    * pinned; each of the 20 steps is a K-row broadcast joined to the
    * K²-row matrix — iteration cost is independent of the event count.
    */
  def eMarkovSteady(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val pairs = load(s, d)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wu))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val m2 = pairs.join(pairs.groupBy("src").agg(sum(col("n")).as("rt")), "src")
    // the whole iteration folds INSIDE one row: the K²-row matrix
    // packs into a single array column and all 20 power steps run as
    // one interpreted HOF expression — a chained-joins loop paid ~20
    // tiny scheduler stages (measured 4.2 s at sf0.1) for K²·T ≈ 500
    // integer ops. Transitions into a dst that never occurs as a src
    // contribute no state (the documented src-domain contract).
    val folded = m2
      .agg(sort_array(collect_list(struct(
        col("src"), col("dst"), col("n"), col("rt")))).as("mat"))
      .select(col("mat"),
        sort_array(array_distinct(transform(col("mat"), e => e.getField("src"))))
          .as("tys"))
      .select(col("tys"), transform(col("mat"), e => struct(
        (array_position(col("tys"), e.getField("src")) - 1).cast("int").as("si"),
        (array_position(col("tys"), e.getField("dst")) - 1).cast("int").as("di"),
        e.getField("n").as("n"), e.getField("rt").as("rt"))).as("im"))
      .select(col("tys"),
        aggregate(sequence(lit(1), lit(MkIters)),
          transform(col("tys"), _ => expr("1000000 div size(tys)").cast("long")),
          (v, _) => transform(sequence(lit(0), size(col("tys")) - 1), j =>
            aggregate(col("im"), lit(0L), (acc, e) =>
              // ⌊v·n/rt⌋ — all positive, products < 2^53, so the
              // double division + floor is the exact integer floor div
              acc + when(e.getField("di") === j.cast("int"),
                floor(element_at(v, e.getField("si") + 1) * e.getField("n")
                  / e.getField("rt")).cast("long"))
                .otherwise(lit(0L))))).as("v"))
    folded
      .select(posexplode(col("tys")).as(Seq("i", "etype")), col("v"))
      .select(col("etype"), element_at(col("v"), col("i") + 1).as("steady_u"))
      .orderBy("etype")
  }

  // m2 is AS MATERIALIZED: DuckDB 1.0 inlines plain CTEs per
  // reference, and every one of the MkIters unrolled steps references
  // m2 — the full events window pass re-ran 20× (54 s → 7.8 s at
  // sf0.01, bit-identical output). Execution hint only.
  val eMarkovSteadySql: String = {
    val steps = (1 to MkIters).map { i =>
      s"""v$i AS (SELECT dst AS etype, CAST(SUM((vu * n) // rt) AS BIGINT) AS vu
         |  FROM m2 JOIN v${i - 1} ON src = etype GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |    epoch_ns(ts) AS ts_ns FROM events),
       |p AS (SELECT event_type AS dst,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts_ns, event_id) AS src
       |  FROM e),
       |mat AS (SELECT src, dst, COUNT(*) AS n FROM p
       |  WHERE src IS NOT NULL GROUP BY 1, 2),
       |m2 AS MATERIALIZED (SELECT mat.src, mat.dst, mat.n, rt.rt FROM mat
       |  JOIN (SELECT src, CAST(SUM(n) AS BIGINT) AS rt FROM mat GROUP BY 1) rt
       |  USING (src)),
       |kk AS (SELECT COUNT(DISTINCT src) AS k FROM m2),
       |v0 AS (SELECT DISTINCT src AS etype, 1000000 // k AS vu FROM m2, kk),
       |$steps
       |SELECT etype, CAST(vu AS BIGINT) AS steady_u FROM v$MkIters
       |ORDER BY etype""".stripMargin
  }

  def eTransitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val wPrev = Window.partitionBy("prev_type")
    load(s, d)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wu))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(wPrev), 6))
      .select(col("prev_type"), col("event_type").as("next_type"),
        col("n"), col("p"))
      .orderBy("prev_type", "next_type")
  }

  val eTransitionsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  epoch_ns(ts) AS ns FROM events),
      |l AS (SELECT event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS prev_type
      |  FROM e),
      |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------- conditional entropy of next event
  /** Per-source conditional entropy of the next-event distribution —
    * how PREDICTABLE each event type's successor is, in nats:
    * H(next|src) = −Σ p·ln p over [[eTransitions]]' empirical row.
    * H ≈ 0 means a deterministic funnel step (one dominant successor);
    * H near ln(n_dsts) means the chain carries no signal after this
    * event — the per-state view a sequence model's feasibility check
    * starts from, complementing e_markov_steady's long-run occupancy.
    *
    * Scale shape: the lag window is per-user event order (the
    * e_transitions grain); everything after the (src, dst) combine is
    * ≤ |types|² rows. Determinism: per-src terms fold left-to-right
    * over the dst-sorted list from a 0.0 seed — the exact operation
    * sequence is mirrored in the oracle (0−t₁−t₂−… on both engines),
    * one round at 6 dp.
    */
  def eCondEntropy(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val pairs = load(s, d)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wu))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    pairs.groupBy("src")
      .agg(sum(col("n")).as("n_out"),
        count(lit(1)).cast("int").as("n_dsts"),
        sort_array(collect_list(struct(col("dst"), col("n")))).as("ds"))
      .select(col("src"), col("n_out"), col("n_dsts"),
        round(aggregate(col("ds"), lit(0.0), (acc, e) =>
          acc - (e.getField("n").cast("double") / col("n_out"))
            * log(e.getField("n").cast("double") / col("n_out"))), 6)
          .as("h_nats"))
      .orderBy("src")
  }

  val eCondEntropySql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  epoch_ns(ts) AS ns FROM events),
      |l AS (SELECT event_type AS dst,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id)
      |    AS src
      |  FROM e),
      |c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM l WHERE src IS NOT NULL GROUP BY 1, 2),
      |g AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_out,
      |  CAST(COUNT(*) AS INT) AS n_dsts,
      |  list(n ORDER BY dst, n) AS ns FROM c GROUP BY src)
      |SELECT src, n_out, n_dsts,
      |  round(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
      |    list_transform(ns, x -> (CAST(x AS DOUBLE) / n_out)
      |      * ln(CAST(x AS DOUBLE) / n_out))), (a, b) -> a - b), 6)
      |    AS h_nats
      |FROM g ORDER BY src""".stripMargin

  // ------------------------------------------- audience overlap matrix
  /** Pairwise audience overlap between event-type cohorts: for every
    * unordered type pair, the shared-user count and Jaccard similarity
    * of the two user sets (|A∪B| by inclusion–exclusion) — the
    * audience-overlap matrix behind segmentation and cannibalization
    * analyses, and the behavioral twin of the dedup family's set
    * similarity.
    *
    * Scale shape: ONE corpus-grain shuffle — the per-user
    * `collect_set(type)` combine (map-side partial, per-user state
    * bounded by the type ALPHABET) — after which everything is
    * user-table grain: a user active in T types explodes into
    * T(T−1)/2 pair rows counted into the ≤ |T|²-row matrix, and
    * cohort sizes regroup from the same pinned per-user frame (no
    * second corpus pass, no user-keyed self-join — the naive
    * cohort-table self-join costs a second corpus-scale shuffle).
    */
  def eUserOverlap(s: SparkSession, d: String): DataFrame = {
    val perUser = Materialize.pin(load(s, d)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("types")))
    val sizes = perUser
      .select(explode(col("types")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = perUser
      .select(explode(col("types")).as("type_a"), col("types"))
      .select(col("type_a"), explode(col("types")).as("type_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("type_a", "n_a")), "type_a")
      .join(broadcast(sizes.toDF("type_b", "n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val eUserOverlapSql: String =
    """WITH c AS (SELECT DISTINCT event_type, user_id FROM events),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM c GROUP BY 1),
      |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM c a JOIN c b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
      |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
      |    AS jaccard
      |FROM i JOIN s sa ON sa.event_type = type_a
      |       JOIN s sb ON sb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // -------------------------------------------------- RFM segmentation
  /** RFM (recency / frequency / monetary) user segmentation: per-user
    * aggregates bucketed into quartiles per axis — the classic
    * cohorting op. Buckets come from broadcast percentile THRESHOLDS
    * (scan-parallel: one comparison chain per row), NOT a global
    * ntile window — rank-based quartiling needs a total order over
    * all users, a single-partition window that dies at real user
    * counts; threshold binning differs only on exact-boundary ties
    * and keeps every stage keyed or broadcast. The per-user frame is
    * pinned: the threshold aggregate and the final projection are
    * specialized consumers, and the frame is user-bounded (not
    * event-bounded) — cheap to materialize, saves re-aggregating the
    * event stream twice. Monetary sums are exact decimals; the
    * exact-interpolation percentile is the cross-engine-stable choice
    * (q_percentile precedent).
    */
  def eRfm(s: SparkSession, d: String): DataFrame = {
    val base = Materialize.pin(load(s, d)
      .groupBy("user_id")
      .agg(max(expr("ts_ns div 86400000000000")).as("recency_day"),
        count(lit(1)).as("frequency"),
        sum(valDec).cast("double").as("monetary")))
    val th = base.agg(
      expr("percentile(recency_day, 0.25)").as("r25"),
      expr("percentile(recency_day, 0.5)").as("r50"),
      expr("percentile(recency_day, 0.75)").as("r75"),
      expr("percentile(frequency, 0.25)").as("f25"),
      expr("percentile(frequency, 0.5)").as("f50"),
      expr("percentile(frequency, 0.75)").as("f75"),
      expr("percentile(monetary, 0.25)").as("m25"),
      expr("percentile(monetary, 0.5)").as("m50"),
      expr("percentile(monetary, 0.75)").as("m75"))
    def q(x: Column, p25: Column, p50: Column, p75: Column): Column =
      (lit(1) + when(x > p25, 1).otherwise(0) + when(x > p50, 1).otherwise(0) +
        when(x > p75, 1).otherwise(0)).cast("int")
    base.crossJoin(broadcast(th))
      .select(col("user_id"), col("recency_day"), col("frequency"), col("monetary"),
        q(col("recency_day"), col("r25"), col("r50"), col("r75")).as("r_q"),
        q(col("frequency"), col("f25"), col("f50"), col("f75")).as("f_q"),
        q(col("monetary"), col("m25"), col("m50"), col("m75")).as("m_q"))
      .orderBy("user_id")
  }

  val eRfmSql: String =
    """WITH b AS (SELECT user_id,
      |  MAX(epoch_ns(ts) // 86400000000000) AS recency_day,
      |  COUNT(*) AS frequency,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
      |  FROM events GROUP BY 1),
      |t AS (SELECT
      |  quantile_cont(recency_day, 0.25) AS r25, quantile_cont(recency_day, 0.5) AS r50,
      |  quantile_cont(recency_day, 0.75) AS r75,
      |  quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50,
      |  quantile_cont(frequency, 0.75) AS f75,
      |  quantile_cont(monetary, 0.25) AS m25, quantile_cont(monetary, 0.5) AS m50,
      |  quantile_cont(monetary, 0.75) AS m75
      |  FROM b)
      |SELECT user_id, recency_day, frequency, monetary,
      |  CAST(1 + (CASE WHEN recency_day > r25 THEN 1 ELSE 0 END)
      |         + (CASE WHEN recency_day > r50 THEN 1 ELSE 0 END)
      |         + (CASE WHEN recency_day > r75 THEN 1 ELSE 0 END) AS INT) AS r_q,
      |  CAST(1 + (CASE WHEN frequency > f25 THEN 1 ELSE 0 END)
      |         + (CASE WHEN frequency > f50 THEN 1 ELSE 0 END)
      |         + (CASE WHEN frequency > f75 THEN 1 ELSE 0 END) AS INT) AS f_q,
      |  CAST(1 + (CASE WHEN monetary > m25 THEN 1 ELSE 0 END)
      |         + (CASE WHEN monetary > m50 THEN 1 ELSE 0 END)
      |         + (CASE WHEN monetary > m75 THEN 1 ELSE 0 END) AS INT) AS m_q
      |FROM b CROSS JOIN t ORDER BY user_id""".stripMargin

  // ---------------------------------------------- last-touch attribution
  /** Last-touch attribution: every purchase is credited to the SAME
    * user's most recent preceding click (ties at one instant break by
    * event_id, purchases with no prior click stay unattributed with
    * NULL click columns) — the marketing-attribution / referrer shape,
    * and the coverage home of `last_value ... IGNORE NULLS` over a
    * running frame ([[Relational.qWindowFirstLast]] covers the
    * no-skip variants). One user-partitioned window pass — no
    * click×purchase join, state per task is one remembered click.
    * Both conditional last_values share a single Window node (same
    * spec). Time math is in MICROS, not nanos: a raw ns delta in the
    * OUTPUT would expose that DuckDB's TIMESTAMP truncates parquet
    * nanos to µs (epoch_ns returns µs·1000) — the comparison-only ns
    * uses elsewhere never surface the lost digits, a subtraction
    * does.
    */
  def eAttribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isClick = col("event_type") === "click"
    load(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("us"))
      // ONE select, not chained withColumns: chaining puts a Project
      // between the two window expressions and Spark then plans TWO
      // Window nodes (two passes) instead of sharing one — PlanSpec
      // pins the single-node shape
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"),
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w).as("click_id"),
        last(when(isClick, col("us")), ignoreNulls = true).over(w).as("click_us"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"), (col("us") - col("click_us")).as("delta_us"))
      .orderBy("purchase_id")
  }

  val eAttributionSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |a AS (SELECT event_id, user_id, event_type, us,
      |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |    OVER w AS click_id,
      |  last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |    OVER w AS click_us
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS purchase_id, user_id, click_id, us - click_us AS delta_us
      |FROM a WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  // ------------------------------------------- ordered sequence match
  /** Strict-order multi-step funnel (view → click → purchase): per
    * user, the earliest chain with strictly increasing timestamps —
    * t1 = first view, t2 = first click after t1, t3 = first purchase
    * after t2 — and how many steps were reached. Greedy-earliest is
    * exact for existence (taking the minimum at each step never
    * forecloses a later step), so this matches the "did the user ever
    * complete the sequence" MATCH_RECOGNIZE shape.
    *
    * Join-free: the [[eFunnel]] running-min trick, twice. One
    * user-partitioned sort carries both window layers (the second
    * Window's required distribution/ordering is already satisfied, so
    * Spark plans one Exchange + one Sort and streams two Window
    * passes); per-row state is two remembered minima. The user-keyed
    * 3-way join form the oracle uses re-probes every click per view
    * and every purchase per click — quadratic per hot user at 100 TB.
    *
    * `∃ view strictly before this click` ⟺ `running min view ts < ts`
    * (a same-µs view fails both the strict compare and the oracle's
    * `>` — ties are consistent by construction, no tiebreak needed).
    * All time math in µs: both engines compare the same truncated
    * values (parquet ns → DuckDB TIMESTAMP is µs; see eAttribution).
    */
  def eSequence(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = load(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("us"),
        when(col("event_type") === "view", expr("ts_ns div 1000")).as("vus"))
    base
      .withColumn("min_view", min(col("vus")).over(w))
      .withColumn("cus", when(col("event_type") === "click" &&
        col("min_view") < col("us"), col("us")))
      .withColumn("min_click", min(col("cus")).over(w))
      .withColumn("pus", when(col("event_type") === "purchase" &&
        col("min_click") < col("us"), col("us")))
      .groupBy("user_id")
      .agg(min(col("vus")).as("t1_us"), min(col("cus")).as("t2_us"),
        min(col("pus")).as("t3_us"))
      .filter(col("t1_us").isNotNull)
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        when(col("t3_us").isNotNull, 3).when(col("t2_us").isNotNull, 2)
          .otherwise(1).cast("int").as("reached"))
      .orderBy("user_id")
  }

  val eSequenceSql: String =
    """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
      |  JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
      |  JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2 GROUP BY 1)
      |SELECT v.user_id, v.t1 AS t1_us, c.t2 AS t2_us, p.t3 AS t3_us,
      |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
      |    WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS reached
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |  LEFT JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  // ------------------------------------------------ DAU / WAU stickiness
  /** Daily active users vs rolling 7-day actives and their ratio (the
    * DAU/WAU "stickiness" health metric). Rolling DISTINCT can't ride
    * an incremental window frame (distinct has no inverse merge), and
    * the textbook day-grid self-join re-scans the activity table per
    * day — instead each distinct (user, day) pair is EXPLODED to the
    * ≤ 7 window-days it contributes to, then counted distinct per
    * window-day: one bounded ×7 fan-out of the already-deduplicated
    * pair set (tiny relative to raw events), shuffles keyed on day.
    * Early days aggregate a truncated trailing window (standard);
    * future phantom days are clipped at the max observed day with a
    * broadcast scalar, not a driver collect. At 100 TB the exact
    * count_distinct shuffle is (user, wday) pairs — swap for HLL
    * (approx_count_distinct) when ±2 % is acceptable.
    */
  def eStickiness(s: SparkSession, d: String): DataFrame = {
    // pinned: three consumers (wau explode, dau, max_day scalar) would
    // otherwise each re-scan events and re-run the distinct — the
    // optimizer specializes each copy (different pruned columns), so
    // nothing dedupes them. The pinned frame is the deduplicated
    // (user, day) pair set — orders of magnitude smaller than events.
    val du = Materialize.pin(load(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct())
    val mx = du.agg(max(col("day")).as("max_day"))
    val wau = du
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        explode(sequence(col("day"), least(col("day") + 6, col("max_day")))).as("wday"))
      .groupBy("wday")
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
    wau.join(dau, wau("wday") === dau("day"), "left")
      .select(col("wday").as("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        col("wau"),
        round(coalesce(col("dau"), lit(0L)).cast("double") / col("wau"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  val eStickinessSql: String =
    """WITH du AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |mx AS (SELECT MAX(day) AS max_day FROM du),
      |contrib AS (SELECT du.user_id, du.day + j AS wday
      |  FROM du CROSS JOIN range(0, 7) t(j) CROSS JOIN mx
      |  WHERE du.day + j <= mx.max_day),
      |wau AS (SELECT wday, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY 1),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1)
      |SELECT w.wday AS day, COALESCE(d.dau, 0) AS dau, w.wau AS wau,
      |  round(CAST(COALESCE(d.dau, 0) AS DOUBLE) / w.wau, 6) AS stickiness
      |FROM wau w LEFT JOIN dau d ON d.day = w.wday
      |ORDER BY day""".stripMargin

  // --------------------------------------------- state-change intervals
  /** Run-length state intervals (the SCD2-build op): per user, collapse
    * CONSECUTIVE events of the same type into one validity interval
    * [start_us, end_us] with its event count — the gaps-and-islands
    * construction that turns an event log into a slowly-changing
    * dimension. Distinct from [[eSession]]: islands break on VALUE
    * change, not time gap. One user-partitioned sort feeds both the
    * lag (change flags) and the running sum (island ids); the interval
    * aggregation is keyed on (user, island), so per-task state is one
    * open interval per user — nothing event-sized is held or joined.
    */
  def eScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("us"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wo).isNull ||
          lag(col("event_type"), 1).over(wo) =!= col("event_type"), 1).otherwise(0))
      .withColumn("island", sum(col("chg")).over(wr))
      // event_type is CONSTANT within an island by construction (the
      // island id increments on every type change), so it rides the
      // grouping key — no group changes, and the aggregate loses its
      // min(string): a string buffer forces SortAggregate (an extra
      // per-partition sort of every event row); all-primitive
      // min/max/count hash-aggregate instead. min(event_type) over a
      // constant group equals the constant, so results are identical.
      .groupBy("user_id", "island", "event_type")
      .agg(min(col("us")).as("start_us"),
        max(col("us")).as("end_us"), count(lit(1)).as("n"))
      // island id as tiebreak: two adjacent islands can share a
      // truncated-µs start (same-µs events of different types), so
      // (user_id, start_us) alone is not a total order. The island id
      // is deterministic (derived from the (us, event_id) sort) and
      // strictly increasing per user; sort on it BEFORE projecting it
      // away — a narrow Project above the Sort preserves row order.
      .orderBy("user_id", "start_us", "island")
      .select(col("user_id"), col("event_type"), col("start_us"),
        col("end_us"), col("n"))
  }

  val eScd2Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |l AS (SELECT user_id, event_id, event_type, us,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      |  FROM e),
      |g AS (SELECT user_id, event_type, us,
      |  SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM l)
      |SELECT user_id, MIN(event_type) AS event_type, MIN(us) AS start_us,
      |  MAX(us) AS end_us, COUNT(*) AS n
      |FROM g GROUP BY user_id, island
      |ORDER BY user_id, start_us, island""".stripMargin

  // --------------------------------------------- inter-arrival stats
  /** Per-user inter-arrival gap statistics — the behavioral-cadence
    * signal behind bot detection and engagement scoring (machine
    * traffic has near-constant gaps, humans are bursty): per user,
    * the gap count and mean/min/max gaps in PURE INTEGER microseconds
    * (mean = floor division). Integer outputs on purpose: sum/n is a
    * small-denominator rational whose decimal expansion lands exactly
    * on rounding-boundary ties (a sf0.1 user measured avg
    * ...xxx.5 µs — Spark HALF_UP vs DuckDB nearbyint half-even
    * diverged by one 6-dp step), so no float rounding is allowed
    * anywhere in this query — the a24c5dd oracle-pairing rule applied
    * as "don't round, stay integral". The lag window partitions by
    * USER — state is one user's events, users process in parallel;
    * gaps order by (ts_us, event_id) so same-timestamp events have a
    * deterministic order on both engines.
    */
  def eInterarrival(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    load(s, d)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        expr("sum(gap_us) div count(1)").as("avg_gap_us"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  val eInterarrivalSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
      |g AS (SELECT user_id,
      |    ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS gap_us
      |  FROM e)
      |SELECT user_id, COUNT(*) AS n_gaps,
      |  CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_gap_us,
      |  MIN(gap_us) AS min_gap_us,
      |  MAX(gap_us) AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- windowed top-k
  /** Trending / leaderboard: top-3 most active users per UTC day —
    * the per-window top-k every activity dashboard and trending feed
    * runs. Counts aggregate with map-side partials keyed by (day,
    * user); the rank window partitions by DAY, so its state is one
    * day's active-user counts (bounded by DAU, not the corpus) and
    * days rank in parallel. Ties break by user_id; output keys are
    * epoch-second day starts per the events-oracle convention.
    */
  def eTrending(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("day_start").orderBy(col("n").desc, col("user_id"))
    load(s, d)
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("user_id"), col("n"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= 3)
      .orderBy("day_start", "rnk")
  }

  val eTrendingSql: String =
    """WITH b AS (SELECT (epoch_ns(ts) // 86400000000000) * 86400 AS day_start,
      |    user_id FROM events),
      |c AS (SELECT day_start, user_id, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |r AS (SELECT day_start, user_id, n,
      |  CAST(row_number() OVER (PARTITION BY day_start
      |    ORDER BY n DESC, user_id) AS INT) AS rnk FROM c)
      |SELECT day_start, user_id, n, rnk FROM r WHERE rnk <= 3
      |ORDER BY day_start, rnk""".stripMargin

  // ------------------------------------------------------------ ab test
  val AbConvMin = 14   // "converted" = at least this many purchase events
  /** Two-proportion z-test on user-level conversion, variants assigned
    * by `user_id % 2` — the experimentation primitive every event
    * pipeline ends in. "Converted" = heavy purchaser (≥ [[AbConvMin]]
    * purchase events; any-purchase is degenerate on the fixture —
    * every user has one, so the pooled variance would be 0 and z
    * undefined). Emits one row: per-variant user counts, conversions,
    * rates, the pooled two-proportion z statistic, and a two-sided
    * 5 % significance verdict (|z| > 1.96).
    *
    * Scale shape: one shuffle on user_id for the per-user conversion
    * flag (partial max pushes the event stream down to one row per
    * user per task before the exchange), then a 2-row variant
    * aggregate and a 1-row pivot — nothing downstream of the first
    * aggregation depends on event volume. Determinism: z is one fixed
    * double expression over exact integer counts, rounded once;
    * rates are rounded independently of the raw z input.
    */
  def eAbtest(s: SparkSession, d: String): DataFrame = {
    val perUser = load(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("np"))
      .select((col("user_id") % 2).as("variant"),
        when(col("np") >= AbConvMin, 1).otherwise(0).as("conv"))
    val agg = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val one = agg.agg(
      max(when(col("variant") === 0, col("n"))).as("n0"),
      max(when(col("variant") === 1, col("n"))).as("n1"),
      max(when(col("variant") === 0, col("c"))).as("c0"),
      max(when(col("variant") === 1, col("c"))).as("c1"))
    val p = (col("c0") + col("c1")) / (col("n0") + col("n1"))
    val zRaw = (col("c1") / col("n1") - col("c0") / col("n0")) /
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    one.select(
      col("n0"), col("n1"), col("c0"), col("c1"),
      round(col("c0") / col("n0"), 6).as("rate0"),
      round(col("c1") / col("n1"), 6).as("rate1"),
      round(zRaw, 6).as("z"),
      (abs(zRaw) > lit(1.96)).as("significant"))
  }

  val eAbtestSql: String =
    s"""WITH u AS (SELECT user_id,
       |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      >= $AbConvMin THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY 1),
       |a AS (SELECT user_id % 2 AS variant, COUNT(*) AS n,
       |    CAST(SUM(conv) AS BIGINT) AS c
       |  FROM u GROUP BY 1),
       |o AS (SELECT
       |    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
       |    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
       |    MAX(CASE WHEN variant = 0 THEN c END) AS c0,
       |    MAX(CASE WHEN variant = 1 THEN c END) AS c1 FROM a),
       |z AS (SELECT n0, n1, c0, c1,
       |    (c1 / n1 - c0 / n0) /
       |      sqrt(((c0 + c1) / (n0 + n1)) * (1.0 - (c0 + c1) / (n0 + n1))
       |        * (1.0 / n0 + 1.0 / n1)) AS zr
       |  FROM o)
       |SELECT n0, n1, c0, c1,
       |  round(c0 / n0, 6) AS rate0, round(c1 / n1, 6) AS rate1,
       |  round(zr, 6) AS z, abs(zr) > 1.96 AS significant
       |FROM z""".stripMargin

  // ----------------------------------------------- ab-test power plan
  /** Sample-size planning for [[eAbtest]]'s experiment: the per-arm N
    * required to detect the OBSERVED effect size at α = 0.05
    * (two-sided) with 80 % power, from the standard two-proportion
    * formula n = (z_{α/2}·√(2·p̄·(1−p̄)) + z_β·√(p₀(1−p₀)+p₁(1−p₁)))²
    * / δ² — the "how much longer must this experiment run" answer
    * that decides whether a flat result means "no effect" or "not
    * enough data".
    *
    * Scale shape: identical to [[eAbtest]] — one user_id shuffle down
    * to per-user flags, then 2-row and 1-row aggregates; the planning
    * math runs on the single output row. Determinism: p₀/p₁ divide
    * exact integer counts, the z constants are shared literals, and
    * both engines evaluate the one fixed double expression and ceil
    * the identical quotient; δ = 0 yields NULL rather than a ±inf
    * cast. Rates round for display only — `powered` compares the
    * unrounded requirement.
    */
  def ePower(s: SparkSession, d: String): DataFrame = {
    val perUser = load(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("np"))
      .select((col("user_id") % 2).as("variant"),
        when(col("np") >= AbConvMin, 1).otherwise(0).as("conv"))
    val one = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
    val p0 = col("c0") / col("n0")
    val p1 = col("c1") / col("n1")
    val pBar = (col("c0") + col("c1")) / (col("n0") + col("n1"))
    val delta = p1 - p0
    val nReq = ceil(
      pow(lit(1.959964) * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar))
        + lit(0.841621) * sqrt(p0 * (lit(1.0) - p0) + p1 * (lit(1.0) - p1)), 2)
      / (delta * delta))
    one.select(
      round(p0, 6).as("rate0"),
      round(p1, 6).as("rate1"),
      round(delta, 6).as("delta"),
      when(delta === 0.0, lit(null)).otherwise(nReq).as("n_req_per_arm"),
      least(col("n0"), col("n1")).as("n_min"),
      when(delta === 0.0, lit(null))
        .otherwise(least(col("n0"), col("n1")) >= nReq).as("powered"))
  }

  val ePowerSql: String =
    s"""WITH u AS (SELECT user_id,
       |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      >= $AbConvMin THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY 1),
       |a AS (SELECT user_id % 2 AS variant, COUNT(*) AS n,
       |    CAST(SUM(conv) AS BIGINT) AS c
       |  FROM u GROUP BY 1),
       |o AS (SELECT
       |    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
       |    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
       |    MAX(CASE WHEN variant = 0 THEN c END) AS c0,
       |    MAX(CASE WHEN variant = 1 THEN c END) AS c1 FROM a),
       |m AS (SELECT n0, n1, c0, c1,
       |    c0 / n0 AS p0, c1 / n1 AS p1,
       |    (c0 + c1) / (n0 + n1) AS pbar,
       |    c1 / n1 - c0 / n0 AS delta FROM o),
       |r AS (SELECT *,
       |    ceil(pow(1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
       |        + 0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)), 2)
       |      / (delta * delta)) AS nreq FROM m)
       |SELECT round(p0, 6) AS rate0, round(p1, 6) AS rate1,
       |  round(delta, 6) AS delta,
       |  CASE WHEN delta = 0.0 THEN NULL
       |    ELSE CAST(nreq AS BIGINT) END AS n_req_per_arm,
       |  LEAST(n0, n1) AS n_min,
       |  CASE WHEN delta = 0.0 THEN NULL
       |    ELSE LEAST(n0, n1) >= nreq END AS powered
       |FROM r""".stripMargin

  // ------------------------------------------- MAD robust outlier audit
  /** Median-absolute-deviation outlier audit per event type — the
    * robust complement of [[eAnomaly]]'s rolling z-score: mean/stddev
    * are themselves dragged by the outliers they're meant to find,
    * while the median and MAD have a 50 % breakdown point, so this is
    * the screen that survives a heavy-tailed `value` column. Flags
    * |value − median| > 3·MAD and reports per-type counts and rate.
    *
    * Determinism: values ride as integer CENTS (exact DECIMAL(12,2)
    * scaled by 100), and both medians are `percentile_disc` — ATTAINED
    * values, never interpolated. Spark's percentile_disc surfaces a
    * DOUBLE, so working in cents keeps every quantity integer-valued
    * (exact below 2⁵³) on both engines: the 3·MAD threshold and every
    * comparison are exact, and the two display columns divide by 100.0
    * once at the end.
    *
    * Scale shape: three passes over the event stream (median, MAD,
    * flag+count), each a per-type sort-based aggregate with 1-row-per-
    * type results broadcast back. The event-grain intermediate is
    * deliberately NOT pinned: recomputing a columnar scan twice beats
    * materializing the full stream (the fan-out pin rule applies to
    * SMALL deterministic subplans; full-grain intermediates recompute).
    * MAD fundamentally needs the median first — the pass count is the
    * algorithm, not the plan.
    */
  def eMad(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d).select(col("event_type"),
      (valDec * 100).cast("long").as("vc"))
    val med = ev.groupBy("event_type")
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY vc) AS DOUBLE)")
        .as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("vc").cast("double") - col("med")).as("adev"))
    val madt = dev.groupBy("event_type")
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS DOUBLE)")
        .as("mad"))
    dev.join(broadcast(madt), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (max(col("med")) / 100.0).as("median_value"),
        (max(col("mad")) / 100.0).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n"), col("median_value"), col("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n"), 6).as("outlier_rate"))
      .orderBy("event_type")
  }

  val eMadSql: String =
    """WITH ev AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |med AS (SELECT event_type,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY vc) AS DOUBLE) AS med
      |  FROM ev GROUP BY 1),
      |dev AS (SELECT ev.event_type, med,
      |    abs(CAST(vc AS DOUBLE) - med) AS adev
      |  FROM ev JOIN med USING (event_type)),
      |madt AS (SELECT event_type,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS DOUBLE) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n,
      |  MAX(d.med) / 100.0 AS median_value,
      |  MAX(m.mad) / 100.0 AS mad,
      |  CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  round(CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS outlier_rate
      |FROM dev d JOIN madt m USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- late-data profiling
  /** Out-of-order arrival profile per event type: treating `event_id`
    * as arrival order and `ts` as event time, an event is LATE when
    * some earlier-arriving event of the same type already carried a
    * later event time; its lateness is the gap to that running
    * maximum. The output — late counts, late rate, max and mean
    * lateness — is exactly the evidence a watermark delay is chosen
    * from (a streaming `withWatermark` threshold): pick the delay
    * covering the lateness quantile you can afford to wait for, drop
    * the rest. All lateness values are exact integer microseconds;
    * the one rate divides once and rounds. Scale: one shuffle+sort per event type (the running-max
    * semantic needs arrival order within type); at production volume
    * the same plan runs per (type, arrival-day) slice — the profile
    * is stable under day-slicing because watermark lateness beyond a
    * day is dropped anyway.
    */
  def eLateProfile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    load(s, d)
      .select(col("event_type"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("prior_max", max(col("ts_us")).over(w))
      .select(col("event_type"),
        when(col("prior_max").isNotNull && col("ts_us") < col("prior_max"), 1L)
          .otherwise(0L).as("late"),
        when(col("prior_max").isNotNull && col("ts_us") < col("prior_max"),
          col("prior_max") - col("ts_us")).otherwise(0L).as("late_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"),
        max(col("late_us")).as("max_late_us"), sum(col("late_us")).as("sum_late"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        round(col("n_late").cast("double") / col("n_events"), 6).as("late_rate"),
        col("max_late_us"),
        when(col("n_late") === 0, 0L)
          .otherwise(expr("sum_late div n_late")).as("avg_late_us"))
      .orderBy("event_type")
  }

  val eLateProfileSql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events),
      |p AS (SELECT event_type, ts_us,
      |    MAX(ts_us) OVER (PARTITION BY event_type ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      |  FROM e),
      |l AS (SELECT event_type,
      |    CASE WHEN prior_max IS NOT NULL AND ts_us < prior_max
      |      THEN 1 ELSE 0 END AS late,
      |    CASE WHEN prior_max IS NOT NULL AND ts_us < prior_max
      |      THEN prior_max - ts_us ELSE 0 END AS late_us
      |  FROM p),
      |a AS (SELECT event_type, COUNT(*) AS n_events,
      |    CAST(SUM(late) AS BIGINT) AS n_late,
      |    CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |    CAST(SUM(late_us) AS BIGINT) AS sum_late
      |  FROM l GROUP BY 1)
      |SELECT event_type, n_events, n_late,
      |  round(CAST(n_late AS DOUBLE) / n_events, 6) AS late_rate,
      |  max_late_us,
      |  CASE WHEN n_late = 0 THEN 0
      |    ELSE CAST(sum_late // n_late AS BIGINT) END AS avg_late_us
      |FROM a ORDER BY event_type""".stripMargin

  // -------------------------------------------- activity concentration
  /** User-activity concentration: the Gini coefficient of per-user
    * event counts plus the single heaviest user's share — the
    * power-law / whale-detection health check (a corpus whose Gini
    * drifts toward 1 is dominated by a few bot-like actors; sampling
    * and per-user caps key off exactly this). Computed WITHOUT a
    * global rank sort: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n needs only
    * Σᵢ i·xᵢ, and a tie block of m users with count c at cumulative
    * offset R contributes c·(m·R + m(m+1)/2) — so the whole statistic
    * folds over the COUNT-OF-COUNTS histogram. Every sum is exact
    * BIGINT; the two final divisions mirror textually and round once.
    * Scale: per-user counts collapse map-side; the histogram is
    * value-bounded (thousands of rows at any corpus size), so its
    * unpartitioned cumulative window and the final fold are bounded
    * single-task work by design.
    */
  def eGini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, d).groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val hist = counts.groupBy("cnt").agg(count(lit(1)).as("m"))
    val w = Window.orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = hist.select(col("cnt"), col("m"),
      coalesce(sum(col("m")).over(w), lit(0L)).as("r"))
    blocks
      .agg(
        sum(expr("cnt * (m * r + m * (m + 1) div 2)")).as("s"),
        sum(col("cnt") * col("m")).as("t"),
        sum(col("m")).as("n"),
        max(col("cnt")).as("mx"))
      .select(col("n").as("n_users"), col("t").as("n_events"),
        round(lit(2.0) * col("s").cast("double") /
            (col("n").cast("double") * col("t").cast("double")) -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"),
        round(col("mx").cast("double") / col("t"), 6).as("top_user_share"))
  }

  val eGiniSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
      |h AS (SELECT cnt, COUNT(*) AS m FROM c GROUP BY 1),
      |b AS (SELECT cnt, m, COALESCE(SUM(m) OVER (ORDER BY cnt
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM h),
      |a AS (SELECT
      |    CAST(SUM(cnt * (m * r + m * (m + 1) // 2)) AS BIGINT) AS s,
      |    CAST(SUM(cnt * m) AS BIGINT) AS t,
      |    CAST(SUM(m) AS BIGINT) AS n, MAX(cnt) AS mx FROM b)
      |SELECT n AS n_users, t AS n_events,
      |  round(2.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
      |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini,
      |  round(CAST(mx AS DOUBLE) / t, 6) AS top_user_share
      |FROM a""".stripMargin

  // --------------------------------------------- CUSUM changepoint
  /** CUSUM changepoint detection over the daily event-count series —
    * the standard "did the telemetry volume shift?" diagnostic (Page's
    * cumulative-sum statistic): for each day, the running sum of
    * deviations from the global daily mean; the day where |CUSUM|
    * peaks is the most likely single changepoint (flagged `is_cp`).
    * Run before trusting any time-partitioned corpus split — a level
    * shift mid-range means the "random" day split is not exchangeable.
    *
    * Scale shape: events collapse to ONE ROW PER DAY first (partial
    * aggregation, one key-bounded shuffle), so the ordered CUSUM
    * window runs over the day series, not over events — a few thousand
    * rows even at 100 TB of raw telemetry. That global-ordered window
    * is single-partition BY DESIGN: its input is the day-bounded
    * aggregate, never the raw table. The mean and the peak are 1-row
    * aggregates, broadcast back.
    *
    * Determinism: the running count is an exact integer sum; CUSUM is
    * one double expression `run − rn·mean` rounded once at 6 dp; the
    * peak flag compares the identically-rounded values, so both
    * engines flag the same day(s).
    */
  def eChangepoint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val stats = daily.agg(
      (sum(col("cnt")).cast("double") / count(lit(1))).as("mean"))
    val wOrd = Window.orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = daily.crossJoin(broadcast(stats))
      .select(col("day"), col("cnt"),
        // + 0.0 normalizes IEEE −0.0 (a just-under-zero deviation that
        // rounds to zero keeps its sign bit, and the engines disagree
        // on which zero round() returns) to +0.0 on both engines
        (round(sum(col("cnt")).over(wRun).cast("double")
          - row_number().over(wOrd) * col("mean"), 6) + lit(0.0)).as("cusum"))
    val mx = cus.agg(max(abs(col("cusum"))).as("mx"))
    cus.crossJoin(broadcast(mx))
      .select(col("day"), col("cnt"), col("cusum"),
        (abs(col("cusum")) === col("mx")).as("is_cp"))
      .orderBy("day")
  }

  val eChangepointSql: String =
    """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    COUNT(*) AS cnt FROM events GROUP BY 1),
      |stats AS (SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean FROM daily),
      |cus AS (SELECT day, cnt,
      |    round(CAST(SUM(cnt) OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      - (row_number() OVER (ORDER BY day)) * mean, 6) + 0.0 AS cusum
      |  FROM daily, stats),
      |mx AS (SELECT MAX(abs(cusum)) AS mx FROM cus)
      |SELECT day, CAST(cnt AS BIGINT) AS cnt, cusum, (abs(cusum) = mx) AS is_cp
      |FROM cus, mx ORDER BY day""".stripMargin

  // ----------------------------------------- seasonal-naive baseline
  /** Forecast-baseline quality over the daily event-count series:
    * the naive forecast (ŷ_t = y_{t−1}) vs the seasonal-naive
    * (ŷ_t = y_{t−7}), scored by MAE over the days where both are
    * defined, plus their ratio — MASE's core, the first number any
    * telemetry forecasting effort must beat. A ratio < 1 says the
    * series has real weekly structure (the seasonal lag explains more
    * than plain persistence); ≥ 1 says "weekly seasonality" is noise
    * for this stream — which decides whether day-of-week features
    * belong in a downstream sampling or anomaly model at all.
    *
    * Scale shape: same reduction as [[eChangepoint]] — events collapse
    * to one row per day first, the lag windows run on the
    * calendar-bounded series (deliberate single-partition, thousands
    * of rows at any corpus size), and the score is one final 1-row
    * aggregate. Determinism: absolute errors are exact integers; the
    * two MAEs and their ratio round once at 6 dp.
    */
  // -------------------------------------- classical decomposition
  /** Classical additive time-series decomposition of the daily event
    * count: trend = centered 7-day moving average, seasonal = per-
    * weekday mean of the detrended series, residual = the rest — the
    * STL-lite every metrics stack runs before alerting on "is today
    * actually anomalous or just Saturday". All arithmetic is integer
    * micro-units with floor division (FIXTURES §C), so every emitted
    * value is exact cross-engine. Only days with a FULL ±3-day window
    * emit rows (no NULL trend edges — pandas would silently promote a
    * nullable int64 column to float64 and flap the driver hash), and
    * the seasonal indices are fit on those same inner days.
    *
    * Scale shape: day-grain everything — the events table collapses
    * to day counts in one map-side-combined aggregate, and the MA
    * window, weekday means, and residuals all run on day-count rows
    * (the accepted day-bounded single-partition window family; cf.
    * e_changepoint).
    */
  def eDecompose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val U = 1000000L
    val wMa = Window.orderBy("day").rowsBetween(-3, 3)
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg((count(lit(1)) * U).as("yu"))
    val trended = daily
      .select(col("day"), col("yu"),
        count(lit(1)).over(wMa).as("n_win"),
        floor(sum(col("yu")).over(wMa) / count(lit(1)).over(wMa))
          .cast("long").as("trend_u"))
      .filter(col("n_win") === 7)
      .withColumn("detr_u", col("yu") - col("trend_u"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val seas = trended.groupBy("dow")
      .agg(floor(sum(col("detr_u")) / count(lit(1))).cast("long").as("seas_u"))
    trended.join(broadcast(seas), Seq("dow"))
      .select(col("day"), col("yu"), col("trend_u"), col("seas_u"),
        (col("detr_u") - col("seas_u")).as("resid_u"))
      .orderBy("day")
  }

  val eDecomposeSql: String =
    """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    COUNT(*) * 1000000 AS yu FROM events GROUP BY 1),
      |ma AS (SELECT day, yu,
      |    COUNT(*) OVER w AS n_win,
      |    CAST(SUM(yu) OVER w // (COUNT(*) OVER w) AS BIGINT) AS trend_u
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |inner_days AS (SELECT day, yu, trend_u, yu - trend_u AS detr_u,
      |    day % 7 AS dow
      |  FROM ma WHERE n_win = 7),
      |seas AS (SELECT dow,
      |    -- floor, not DuckDB's truncating integer //: detrended sums
      |    -- go NEGATIVE and Spark's floor() rounds toward -inf (the
      |    -- double is exact: |sum| < 2^53)
      |    CAST(floor(CAST(SUM(detr_u) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |      AS seas_u
      |  FROM inner_days GROUP BY 1)
      |SELECT day, yu, trend_u, seas_u,
      |  CAST(detr_u - seas_u AS BIGINT) AS resid_u
      |FROM inner_days JOIN seas USING (dow)
      |ORDER BY day""".stripMargin

  def eSeasonalNaive(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy("day")
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
      .select(col("day"), col("cnt"),
        lag(col("cnt"), 1).over(wOrd).as("f1"),
        lag(col("cnt"), 7).over(wOrd).as("f7"))
      .filter(col("f7").isNotNull)
    daily.agg(
      count(lit(1)).as("n_days"),
      // unrounded quotients — FIXTURES §C mean-tie rule: n_days is the
      // suite's smallest mean denominator (~30 at sf0.001), the class's
      // highest-risk site; exact int sums divide bit-identically
      (sum(abs(col("cnt") - col("f1"))).cast("double") / count(lit(1)))
        .as("mae_naive"),
      (sum(abs(col("cnt") - col("f7"))).cast("double") / count(lit(1)))
        .as("mae_seasonal"),
      (sum(abs(col("cnt") - col("f7"))).cast("double")
        / sum(abs(col("cnt") - col("f1")))).as("mase"))
  }

  val eSeasonalNaiveSql: String =
    """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    COUNT(*) AS cnt FROM events GROUP BY 1),
      |lagged AS (SELECT day, cnt,
      |    lag(cnt, 1) OVER (ORDER BY day) AS f1,
      |    lag(cnt, 7) OVER (ORDER BY day) AS f7
      |  FROM daily)
      |SELECT COUNT(*) AS n_days,
      |  CAST(SUM(abs(cnt - f1)) AS DOUBLE) / COUNT(*) AS mae_naive,
      |  CAST(SUM(abs(cnt - f7)) AS DOUBLE) / COUNT(*) AS mae_seasonal,
      |  CAST(SUM(abs(cnt - f7)) AS DOUBLE) / SUM(abs(cnt - f1)) AS mase
      |FROM lagged WHERE f7 IS NOT NULL""".stripMargin

  // ------------------------------------- Holt linear-trend smoothing
  /** Holt's double exponential smoothing (level + trend) over the
    * daily event-count series, in FIXED-POINT micro-units — the
    * trend-aware upgrade of [[eEwma]]'s flat smoother and the next
    * forecasting rung after [[eSeasonalNaive]]'s baselines. With
    * α = β = 1/2 the recurrences are
    *   l_t = (y_t + l_{t−1} + b_{t−1}) / 2,
    *   b_t = ((l_t − l_{t−1}) + b_{t−1}) / 2,
    * initialized l₂ = y₂, b₂ = y₂ − y₁; the one-step-ahead error
    * e_t = y_t − (l_{t−1} + b_{t−1}) accumulates as a sum of absolute
    * values. Output is one row: series length, final level/trend, the
    * next-day forecast l + b, and the mean absolute one-step error —
    * the numbers a capacity planner or anomaly detector actually
    * consumes.
    *
    * Determinism: the state is held in integer micro-units and every
    * halving is an explicit floor (`floor(x / 2.0)` — exact below
    * 2^53, and both engines floor the same IEEE quotient), so the
    * fold is integer-exact and order-fixed: no float rounding ever
    * reaches a decimal tie (the a24c5dd rule applied as "stay
    * integral"). Spark folds with [[org.apache.spark.sql.functions
    * .aggregate]] over the day-sorted array; DuckDB mirrors with
    * `list_reduce` folding from the first element (its init is the
    * first observation, matching Spark's sentinel init — same state
    * sequence from y₂ on).
    *
    * Scale shape: events collapse to one row per day at the scan
    * (partial-aggregated count), so the fold input is the
    * calendar-bounded daily series — thousands of elements at any
    * corpus size — and the recursion itself is a single bounded
    * in-memory fold, never a driver loop and never an event-sized
    * shuffle. Micro-unit magnitudes stay well under 2^53 for daily
    * counts below ~9×10⁹; at a scale where one day exceeds that,
    * drop the unit scale (the state is linear in it).
    */
  def eHolt(s: SparkSession, d: String): DataFrame = {
    val U = 1000000L
    def div2(x: Column): Column = floor(x / lit(2.0))
    def st(n: Column, l: Column, b: Column, sae: Column): Column =
      struct(n.cast("long").as("n"), l.cast("long").as("l"),
        b.cast("long").as("b"), sae.cast("long").as("sae"))
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg((count(lit(1)) * U).as("yu"))
    val folded = daily
      .agg(sort_array(collect_list(struct(col("day"), col("yu")))).as("ser"))
      .select(transform(col("ser"), e => e.getField("yu")).as("ys"))
      .select(aggregate(col("ys"),
        st(lit(-1L), lit(0L), lit(0L), lit(0L)),
        (acc, y) => {
          val n = acc.getField("n"); val l = acc.getField("l")
          val b = acc.getField("b"); val sae = acc.getField("sae")
          val e = y - (l + b)
          val l2 = div2(y + l + b)
          when(n === -1L, st(lit(0L), y, lit(0L), lit(0L)))
            .when(n === 0L, st(lit(1L), y, y - l, lit(0L)))
            .otherwise(st(n + 1L, l2, div2(l2 - l + b), sae + abs(e)))
        }).as("h"))
      .select(col("h.n").as("nm"), col("h.l").as("level_u"),
        col("h.b").as("trend_u"), col("h.sae").as("sae_u"))
    folded.select(
      (col("nm") + 1L).as("n_days"),
      col("level_u"), col("trend_u"),
      (col("level_u") + col("trend_u")).as("forecast_u"),
      when(col("nm") > 1L, floor(col("sae_u") / (col("nm") - 1L)))
        .otherwise(lit(0L)).as("mae_u"))
      // Contract: the recurrence needs two observations to initialize
      // (l₂ = y₂, b₂ = y₂ − y₁), so a series shorter than 2 days
      // yields NO rows — matching the oracle CTE, whose base case
      // joins days 1 and 2 and is empty without both.
      .where(col("n_days") >= 2L)
  }

  /** Recursive-CTE twin of the Spark fold. NOT `list_reduce`: DuckDB
    * 1.0 reuses the accumulator struct in place across a lambda's
    * `struct_pack` fields, so a field expression that reads `acc.l`
    * after the new `l` was assigned sees the NEW value — the fold
    * silently computes a different recurrence (observed and bisected
    * on this fixture). The recursive CTE evaluates each step as a
    * fresh row, so the recurrence is the written one.
    */
  val eHoltSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT row_number() OVER (ORDER BY day) AS i, yu
      |  FROM (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |          COUNT(*) * 1000000 AS yu FROM events GROUP BY 1)),
      |hs AS (
      |  SELECT 2 AS i, d2.yu AS l, d2.yu - d1.yu AS b,
      |    CAST(0 AS BIGINT) AS sae
      |  FROM daily d1, daily d2 WHERE d1.i = 1 AND d2.i = 2
      |  UNION ALL
      |  SELECT h.i + 1,
      |    CAST(floor((d.yu + h.l + h.b) / 2.0) AS BIGINT),
      |    CAST(floor((CAST(floor((d.yu + h.l + h.b) / 2.0) AS BIGINT)
      |           - h.l + h.b) / 2.0) AS BIGINT),
      |    h.sae + abs(d.yu - (h.l + h.b))
      |  FROM hs h JOIN daily d ON d.i = h.i + 1)
      |SELECT CAST(i AS BIGINT) AS n_days, l AS level_u, b AS trend_u,
      |  l + b AS forecast_u,
      |  CASE WHEN i > 2 THEN CAST(floor(sae / (i - 2.0)) AS BIGINT)
      |    ELSE 0 END AS mae_u
      |FROM hs WHERE i = (SELECT MAX(i) FROM hs)""".stripMargin

  // ------------------------------------- Holt–Winters (additive, weekly)
  /** Holt–Winters additive seasonal smoothing over the daily series —
    * the final rung of this suite's forecasting ladder (naive →
    * [[eSeasonalNaive]] → [[eHolt]] → level+trend+weekly season),
    * with α = β = γ = 1/2 in the same integer micro-unit fixed point
    * as eHolt:
    *   l_t = ((y_t − s_{t−7}) + l + b) / 2,
    *   b_t = ((l_t − l) + b) / 2,
    *   s_t = ((y_t − l_t) + s_{t−7}) / 2,
    * every halving an explicit floor, seasonal state a 7-slot integer
    * vector initialized to zero (l₁ = y₁, b₁ = 0 — the first week
    * burns in; documented, deterministic). Output: the NEXT-WEEK
    * forecast — 7 rows (h, forecast_u = l + h·b + s_{(N−1+h) mod 7})
    * — plus the final level/trend and the mean absolute one-step
    * error, the columns a capacity dashboard plots.
    *
    * Determinism: the fold is integer-exact on both engines (eHolt's
    * argument); the DuckDB twin is a recursive CTE carrying the
    * 7-slot seasonal LIST as a column (the list_reduce accumulator
    * aliasing bug does not apply to recursive CTEs — each step is a
    * fresh row). Scale shape: identical to eHolt — the recursion
    * runs on the calendar-bounded daily aggregate.
    */
  def eHoltWinters(s: SparkSession, d: String): DataFrame = {
    val U = 1000000L
    def div2(x: Column): Column = floor(x / lit(2.0))
    val zeros = array((0 until 7).map(_ => lit(0L)): _*)
    def st(n: Column, l: Column, b: Column, sae: Column, sv: Column): Column =
      struct(n.cast("long").as("n"), l.cast("long").as("l"),
        b.cast("long").as("b"), sae.cast("long").as("sae"),
        sv.cast("array<long>").as("s"))
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg((count(lit(1)) * U).as("yu"))
    val folded = daily
      .agg(sort_array(collect_list(struct(col("day"), col("yu")))).as("ser"))
      .select(transform(col("ser"), e => e.getField("yu")).as("ys"))
      .select(aggregate(col("ys"),
        st(lit(0L), lit(0L), lit(0L), lit(0L), zeros),
        (acc, y) => {
          val n = acc.getField("n"); val l = acc.getField("l")
          val b = acc.getField("b"); val sae = acc.getField("sae")
          val sv = acc.getField("s")
          val sOld = element_at(sv, (n % 7).cast("int") + 1)
          val e = y - (l + b + sOld)
          val l2 = div2(y - sOld + l + b)
          val b2 = div2(l2 - l + b)
          val s2 = div2(y - l2 + sOld)
          val svNew = transform(sequence(lit(0), lit(6)), i =>
            when(i === (n % 7).cast("int"), s2)
              .otherwise(element_at(sv, i.cast("int") + 1)))
          when(n === 0L, st(lit(1L), y, lit(0L), lit(0L), zeros))
            .otherwise(st(n + 1L, l2, b2, sae + abs(e), svNew))
        }).as("h"))
    folded.select(explode(sequence(lit(1), lit(7))).as("h"),
      col("h.n").as("n_days"), col("h.l").as("level_u"),
      col("h.b").as("trend_u"), col("h.sae").as("sae"),
      col("h.s").as("sv"))
      .select(col("h").cast("int").as("h"),
        (col("level_u") + col("h") * col("trend_u")
          + element_at(col("sv"), ((col("n_days") - 1 + col("h")) % 7)
            .cast("int") + 1)).as("forecast_u"),
        col("level_u"), col("trend_u"), col("n_days"),
        when(col("n_days") > 1L, floor(col("sae") / (col("n_days") - 1L)))
          .otherwise(lit(0L)).as("mae_u"))
      // Contract: an empty events table yields NO rows (the oracle
      // CTE's base case needs day 1), not 7 zero-forecast rows.
      .where(col("n_days") >= 1L)
      .orderBy("h")
  }

  val eHoltWintersSql: String = {
    val sOld = "h.s[(h.i % 7) + 1]"
    val l2 = s"CAST(floor((d.yu - $sOld + h.l + h.b) / 2.0) AS BIGINT)"
    s"""WITH RECURSIVE daily AS (
       |  SELECT row_number() OVER (ORDER BY day) AS i, yu
       |  FROM (SELECT epoch_ns(ts) // 86400000000000 AS day,
       |          COUNT(*) * 1000000 AS yu FROM events GROUP BY 1)),
       |nd AS (SELECT COUNT(*) AS n FROM daily),
       |hw AS (
       |  SELECT 1 AS i, yu AS l, CAST(0 AS BIGINT) AS b,
       |    CAST(0 AS BIGINT) AS sae,
       |    [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS s
       |  FROM daily WHERE i = 1
       |  UNION ALL
       |  SELECT h.i + 1,
       |    $l2,
       |    CAST(floor(($l2 - h.l + h.b) / 2.0) AS BIGINT),
       |    h.sae + abs(d.yu - (h.l + h.b + $sOld)),
       |    list_transform(range(1, 8), j -> CASE WHEN j = (h.i % 7) + 1
       |      THEN CAST(floor((d.yu - $l2 + $sOld) / 2.0) AS BIGINT)
       |      ELSE h.s[j] END)
       |  FROM hw h JOIN daily d ON d.i = h.i + 1)
       |SELECT CAST(f.h AS INT) AS h,
       |  hw.l + f.h * hw.b + hw.s[((nd.n - 1 + f.h) % 7) + 1] AS forecast_u,
       |  hw.l AS level_u, hw.b AS trend_u,
       |  CAST(nd.n AS BIGINT) AS n_days,
       |  CASE WHEN nd.n > 1 THEN CAST(floor(hw.sae / (nd.n - 1.0)) AS BIGINT)
       |    ELSE 0 END AS mae_u
       |FROM hw, nd, (SELECT unnest(range(1, 8)) AS h) f
       |WHERE hw.i = (SELECT MAX(i) FROM hw)
       |ORDER BY h""".stripMargin
  }

  // ------------------------------------------- 3-step journey mining
  /** Top 3-step user journeys — the length-3 generalization of
    * [[eTransitions]]'s bigram matrix and the shape every product-
    * analytics "path explorer" renders: for each user, consecutive
    * event-type triples in (ts, event_id) order, counted globally,
    * top 10 by frequency. Longer exact paths explode combinatorially;
    * triples are the standard sweet spot (specific enough to show
    * funnels, dense enough to aggregate).
    *
    * Scale shape: the lead window partitions by USER (per-task state
    * is one user's events; users parallelize), triples map-side
    * partial-aggregate before the path-keyed shuffle, and the top-10
    * is a TakeOrderedAndProject — no global sort materializes.
    * Determinism: ties rank by path string.
    */
  def ePath3(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    load(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .limit(10)
  }

  val ePath3Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) AS ts_us FROM events),
      |t AS (SELECT event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS cnt
      |FROM t WHERE e3 IS NOT NULL
      |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 10""".stripMargin

  // --------------------------------------------- series autocorrelation
  /** Lag-1 and lag-7 autocorrelation of the daily event-count series —
    * the one-number answers to "is traffic persistent day over day?"
    * and "is there weekly rhythm?" that decide whether [[eHolt]]'s
    * trend term or [[eSeasonalNaive]]'s weekly lag is the right
    * forecasting structure. Computed in ALL-INTEGER arithmetic: with
    * n days and total S, the centered deviation n·y_t − S is an
    * integer, so both the lag products and the variance sum are exact
    * BIGINTs; the two ratios divide once as doubles at the end
    * (numerators stay within int64 while n·max(y)² · n < 2⁶³ — holds
    * to ~10⁶-event days over decades; beyond that, re-center through
    * decimals).
    *
    * Scale shape: events collapse to one row per day map-side; the
    * 1-row (n, S) aggregate broadcasts back onto the daily series;
    * the lag windows run on the calendar-bounded series. Nothing
    * event-sized shuffles twice.
    */
  def eAutocorr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy("day")
    val daily = load(s, d)
      .select(expr("ts_ns div 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"))
    daily.crossJoin(broadcast(stats))
      .select(col("day"), (col("n") * col("cnt") - col("s")).as("dev"))
      .select(col("dev"),
        lag(col("dev"), 1).over(wOrd).as("d1"),
        lag(col("dev"), 7).over(wOrd).as("d7"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(when(col("d1").isNotNull, col("dev") * col("d1"))
            .otherwise(lit(0L))).cast("double")
          / sum(col("dev") * col("dev")), 6).as("acf1"),
        round(sum(when(col("d7").isNotNull, col("dev") * col("d7"))
            .otherwise(lit(0L))).cast("double")
          / sum(col("dev") * col("dev")), 6).as("acf7"))
  }

  val eAutocorrSql: String =
    """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    COUNT(*) AS cnt FROM events GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(cnt) AS BIGINT) AS s FROM daily),
      |dev AS (SELECT day, n * cnt - s AS dev FROM daily, st),
      |lagged AS (SELECT dev,
      |    lag(dev, 1) OVER (ORDER BY day) AS d1,
      |    lag(dev, 7) OVER (ORDER BY day) AS d7
      |  FROM dev)
      |SELECT COUNT(*) AS n_days,
      |  round(CAST(SUM(CASE WHEN d1 IS NOT NULL THEN dev * d1 ELSE 0 END)
      |    AS DOUBLE) / SUM(dev * dev), 6) AS acf1,
      |  round(CAST(SUM(CASE WHEN d7 IS NOT NULL THEN dev * d7 ELSE 0 END)
      |    AS DOUBLE) / SUM(dev * dev), 6) AS acf7
      |FROM lagged""".stripMargin

  // ------------------------------------------------ bot / machine traffic
  /** Machine-traffic detection from inter-arrival regularity — the
    * operational use of [[eInterarrival]]'s cadence signal: humans
    * are bursty (high gap variance), schedulers and scripts tick
    * (near-constant gaps), so a squared coefficient of variation
    * CV² = (n·Σg² − (Σg)²)/(Σg)² close to zero over enough events is
    * the classic bot fingerprint. Emits the 10 MOST-REGULAR users
    * (lowest CV², ≥ 5 gaps) with their gap count, mean gap, and the
    * CV² score — a ranking rather than an absolute cut, because the
    * alert threshold is a deployment policy (this fixture's Poisson
    * traffic sits near CV² ≈ 1; real schedulers sit near 0).
    *
    * Determinism: Σg and Σg² accumulate as exact DECIMAL(38,0)
    * (order-free; g² at decade-µs magnitudes overflows int64, the
    * decimal path never does), the variance numerator n·Σg² − (Σg)²
    * is exact, and only the final ratio divides as a double, rounded
    * once. The ranking orders by the ROUNDED score with user_id as
    * tiebreak, so both engines rank identical values.
    *
    * Scale shape: identical to [[eInterarrival]] — a user-partitioned
    * lag window (per-task state: one user's events), then a
    * user-keyed aggregate with map-side partials. Output is bounded
    * by the flagged-user count.
    */
  def eBotScore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    load(s, d)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sq"))
      .filter(col("n_gaps") >= 5)
      .select(col("user_id"), col("n_gaps"),
        expr("sg div n_gaps").as("avg_gap_us"),
        round((col("n_gaps") * col("sq")
            - col("sg").cast("decimal(38,0)") * col("sg")).cast("double")
          / (col("sg").cast("decimal(38,0)") * col("sg")).cast("double"), 6)
          .as("cv2"))
      .orderBy(col("cv2"), col("user_id"))
      .limit(10)
  }

  val eBotScoreSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |g AS (SELECT user_id,
      |    ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS gap
      |  FROM e),
      |agg AS (SELECT user_id, COUNT(*) AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS sg,
      |    SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS sq
      |  FROM g WHERE gap IS NOT NULL GROUP BY user_id),
      |scored AS (SELECT user_id, n_gaps,
      |    sg // n_gaps AS avg_gap_us,
      |    round(CAST(n_gaps * sq - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)
      |      / CAST(CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE), 6) AS cv2
      |  FROM agg WHERE n_gaps >= 5)
      |SELECT user_id, n_gaps, avg_gap_us, cv2
      |FROM scored ORDER BY cv2, user_id LIMIT 10""".stripMargin

  // --------------------------------------------- weekly activity grid
  /** Day-of-week × hour activity heatmap — the ops-dashboard staple
    * that shows diurnal and weekly load structure at a glance (and
    * feeds capacity planning + the seasonality decision behind
    * [[eSeasonalNaive]]). Buckets via pure integer arithmetic on
    * epoch time (dow 0 = Monday: epoch day 0 was a Thursday, hence
    * the +3; hour is the UTC epoch-hour mod 24) — no engine-specific
    * calendar function semantics to reconcile.
    *
    * Scale shape: a 168-key aggregation fully collapsed map-side;
    * the shuffle carries ≤ 168 rows per partition at any corpus size.
    */
  def eHeatmap(s: SparkSession, d: String): DataFrame =
    load(s, d)
      .select(expr("(ts_ns div 86400000000000 + 3) % 7").as("dow"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("cnt"))
      .orderBy("dow", "hour")

  val eHeatmapSql: String =
    """SELECT (epoch_ns(ts) // 86400000000000 + 3) % 7 AS dow,
      |  (epoch_ns(ts) // 3600000000000) % 24 AS hour,
      |  COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin

  // --------------------------------------------- survival / churn curve
  /** Kaplan–Meier survival curve over user lifetimes WITH censoring —
    * the statistically honest churn curve ([[eRetention]] without the
    * bias of counting still-active users as churned): a user's
    * lifetime is whole days between first and last event; users whose
    * last event falls within 7 days of corpus end are CENSORED
    * (still alive as far as the data knows), everyone else's lifetime
    * ended observably. At each lifetime day t: the at-risk count
    * (lifetime ≥ t), deaths d(t), censorings c(t), and the KM
    * estimate S(t) = Π_{u≤t} (1 − d(u)/n(u)).
    *
    * Determinism: the product runs in log space, but each ln term is
    * quantized to DECIMAL(20,12) before the running window sum — so
    * the accumulation is exact and ORDER-FREE (a raw double running
    * sum would expose DuckDB's segment-tree vs Spark's sequential
    * addition order). A day where everyone at risk dies makes the
    * term 0 (ln undefined) — a running max flag pins S to exactly 0
    * from there on instead.
    *
    * Scale shape: events collapse to per-user (first, last) — a
    * user-keyed aggregate with map-side partials; the curve windows
    * run on the lifetime-day-bounded series (single-partition by
    * design, like every day-series query here); corpus end is a
    * 1-row broadcast.
    */
  def eSurvival(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = load(s, d).select(col("user_id"), expr("ts_ns div 1000").as("us"))
    val users = ev.groupBy("user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val end = ev.agg(max(col("us")).as("end_us"))
    val byT = users.crossJoin(broadcast(end))
      .select(expr("(last_us - first_us) div 86400000000").as("t"),
        (col("end_us") - col("last_us") >= lit(7L * 86400000000L))
          .cast("long").as("churn"))
      .groupBy("t")
      .agg(sum(col("churn")).as("d"),
        (count(lit(1)) - sum(col("churn"))).as("c"),
        count(lit(1)).as("tot"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("tot")).over(wDesc))
      .withColumn("term",
        lit(1.0) - col("d").cast("double") / col("n_risk"))
      .withColumn("zero",
        max((col("term") === 0.0).cast("int")).over(wAsc))
      .withColumn("lnsum",
        sum(when(col("term") > 0.0, log(col("term")))
          .otherwise(lit(0.0)).cast("decimal(20,12)")).over(wAsc))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(col("zero") === 1, lit(0.0))
          .otherwise(round(exp(col("lnsum").cast("double")), 6)).as("surv"))
      .orderBy("t")
  }

  val eSurvivalSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |u AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us
      |  FROM e GROUP BY 1),
      |en AS (SELECT MAX(us) AS end_us FROM e),
      |l AS (SELECT (last_us - first_us) // 86400000000 AS t,
      |    CASE WHEN end_us - last_us >= 604800000000 THEN 1 ELSE 0 END AS churn
      |  FROM u, en),
      |bt AS (SELECT t, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(COUNT(*) - SUM(churn) AS BIGINT) AS c, COUNT(*) AS tot
      |  FROM l GROUP BY 1),
      |r AS (SELECT t, d, c, CAST(SUM(tot) OVER (ORDER BY t DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_risk
      |  FROM bt),
      |tm AS (SELECT t, n_risk, d, c,
      |    CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk AS term
      |  FROM r),
      |acc AS (SELECT t, n_risk, d, c, term,
      |    MAX(CASE WHEN term = 0 THEN 1 ELSE 0 END) OVER w AS zero,
      |    SUM(CAST(CASE WHEN term > 0 THEN ln(term) ELSE 0 END
      |      AS DECIMAL(20,12))) OVER w AS lnsum
      |  FROM tm WINDOW w AS (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT t, n_risk, d, c,
      |  CASE WHEN zero = 1 THEN CAST(0 AS DOUBLE)
      |    ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS surv
      |FROM acc ORDER BY t""".stripMargin

  // ----------------------------------------------- CUPED variance cut
  /** CUPED variance reduction (Deng et al., WSDM'13) — the
    * experimentation-platform standard that makes A/B tests like
    * [[eAbtest]] converge faster: each user's pre-period activity X
    * (first half of the corpus days) predicts their experiment-period
    * metric Y (second half); the adjusted metric Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) keeps the treatment effect but removes the
    * explained variance. Reported in CLOSED FORM — var(Y_adj) =
    * var(Y) − cov²/var(X) — so no adjusted rows materialize: the
    * output is θ, both variances, and the variance ratio
    * (1 − ratio ≈ how much shorter the experiment can run).
    *
    * Determinism: X and Y are integer counts; all five moment sums
    * are exact BIGINTs; the n-scaled moments n·Σxy − Σx·Σy etc. stay
    * integral (int64-safe while n·Σy² < 2⁶³), and θ/variances are
    * unrounded quotients of identical exact inputs (FIXTURES §C).
    *
    * Scale shape: one user-keyed conditional aggregation (map-side
    * partials) plus a 1-row moment reduce; the day midpoint is a
    * 1-row broadcast.
    */
  // ----------------------------------------------- SLO burn-rate alert
  /** Multi-window burn-rate alerting (the SRE-workbook pattern): per
    * hour, the error rate over the trailing 1-hour and 6-hour windows
    * expressed as a BURN RATE against a 20 % error budget, with the
    * alert firing only when BOTH windows burn hot (fast window > 2×
    * budget AND slow window > 1.5×) — the two-window AND is what kills
    * both false positives (one bad minute) and false negatives (slow
    * leaks). Windows are over observed hourly buckets (the fixture's
    * hours are contiguous; a production deploy puts a gap-fill spine
    * underneath — [[eGapfill]]).
    *
    * Scale shape: events collapse to hour-grain (err, total) pairs in
    * one map-side-combined aggregate; both trailing windows and the
    * alert flag run on hour-count rows (day/hour-bounded ordered
    * window family). Rates are unrounded exact-integer quotients
    * (FIXTURES §C); burn rates divide them by the exact literal
    * budget.
    */
  def eBurnRate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 0.2
    val w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    val hourly = load(s, d)
      .select(expr("ts_ns div 3600000000000").as("hr"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy("hr")
      .agg(sum(col("is_err")).as("err"), count(lit(1)).as("total"))
    hourly
      .withColumn("err6", sum(col("err")).over(w6))
      .withColumn("total6", sum(col("total")).over(w6))
      .select(col("hr"), col("err"), col("total"),
        (col("err").cast("double") / col("total") / budget).as("burn_1h"),
        (col("err6").cast("double") / col("total6") / budget).as("burn_6h"))
      .withColumn("alert",
        col("burn_1h") > 2.0 && col("burn_6h") > 1.5)
      .orderBy("hr")
  }

  val eBurnRateSql: String =
    """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS err,
      |    COUNT(*) AS total
      |  FROM events GROUP BY 1),
      |w AS (SELECT hr, err, total,
      |    SUM(err) OVER w6 AS err6, SUM(total) OVER w6 AS total6
      |  FROM h
      |  WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
      |SELECT hr, err, total,
      |  CAST(err AS DOUBLE) / total / 0.2 AS burn_1h,
      |  CAST(err6 AS DOUBLE) / total6 / 0.2 AS burn_6h,
      |  (CAST(err AS DOUBLE) / total / 0.2 > 2.0
      |    AND CAST(err6 AS DOUBLE) / total6 / 0.2 > 1.5) AS alert
      |FROM w ORDER BY hr""".stripMargin

  // ------------------------------------------ difference-in-differences
  /** Difference-in-differences: the quasi-experimental effect estimate
    * when randomization isn't available — (treat.post − treat.pre) −
    * (ctrl.post − ctrl.pre) of per-user daily event counts. Assignment
    * is the deterministic user_id parity (the fixture's stand-in for
    * a rollout flag), the period split is the data's midpoint day
    * ([[eCuped]]'s convention). All four cell means divide an exact
    * integer event count by an exact user-day count — unrounded per
    * the FIXTURES §C mean-tie rule — and the DiD is three subtractions
    * of those quotients, bit-identical cross-engine.
    *
    * Scale shape: one map-side conditional aggregation over events
    * into the 4 (group × period) cells (plus exact user counts per
    * group via a user-grain pre-aggregate); the estimate is arithmetic
    * on one broadcastable row.
    */
  def eDid(s: SparkSession, d: String): DataFrame = {
    val days = load(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
    val mid = days.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"),
      expr("max(day) - min(day) + 1").as("span"),
      expr("(min(day) + max(day) + 1) div 2 - min(day)").as("pre_days"))
    val users = days.select(col("user_id")).distinct()
      .agg(sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_ctrl"))
    val cells = days.crossJoin(broadcast(mid))
      .agg(
        sum(when(col("user_id") % 2 === 1 && col("day") < col("mid"), 1L)
          .otherwise(0L)).as("t_pre"),
        sum(when(col("user_id") % 2 === 1 && col("day") >= col("mid"), 1L)
          .otherwise(0L)).as("t_post"),
        sum(when(col("user_id") % 2 === 0 && col("day") < col("mid"), 1L)
          .otherwise(0L)).as("c_pre"),
        sum(when(col("user_id") % 2 === 0 && col("day") >= col("mid"), 1L)
          .otherwise(0L)).as("c_post"),
        max(col("pre_days")).as("pre_days"),
        max(col("span") - col("pre_days")).as("post_days"))
    val rate = (n: Column, users: Column, d: Column) =>
      n.cast("double") / (users * d)
    cells.crossJoin(broadcast(users))
      .select(col("n_treat"), col("n_ctrl"),
        rate(col("t_pre"), col("n_treat"), col("pre_days")).as("treat_pre"),
        rate(col("t_post"), col("n_treat"), col("post_days")).as("treat_post"),
        rate(col("c_pre"), col("n_ctrl"), col("pre_days")).as("ctrl_pre"),
        rate(col("c_post"), col("n_ctrl"), col("post_days")).as("ctrl_post"))
      .select(col("n_treat"), col("n_ctrl"),
        col("treat_pre"), col("treat_post"), col("ctrl_pre"), col("ctrl_post"),
        ((col("treat_post") - col("treat_pre"))
          - (col("ctrl_post") - col("ctrl_pre"))).as("did"))
  }

  val eDidSql: String =
    """WITH days AS (SELECT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day FROM events),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid,
      |    MAX(day) - MIN(day) + 1 AS span,
      |    (MIN(day) + MAX(day) + 1) // 2 - MIN(day) AS pre_days
      |  FROM days),
      |users AS (SELECT
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_treat,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ctrl
      |  FROM (SELECT DISTINCT user_id FROM days)),
      |cells AS (SELECT
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND day < mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t_pre,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND day >= mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t_post,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND day < mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_pre,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND day >= mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_post,
      |    MAX(pre_days) AS pre_days,
      |    MAX(span - pre_days) AS post_days
      |  FROM days, mid),
      |rates AS (SELECT n_treat, n_ctrl,
      |    CAST(t_pre AS DOUBLE) / (n_treat * pre_days) AS treat_pre,
      |    CAST(t_post AS DOUBLE) / (n_treat * post_days) AS treat_post,
      |    CAST(c_pre AS DOUBLE) / (n_ctrl * pre_days) AS ctrl_pre,
      |    CAST(c_post AS DOUBLE) / (n_ctrl * post_days) AS ctrl_post
      |  FROM cells, users)
      |SELECT n_treat, n_ctrl, treat_pre, treat_post, ctrl_pre, ctrl_post,
      |  (treat_post - treat_pre) - (ctrl_post - ctrl_pre) AS did
      |FROM rates""".stripMargin

  def eCuped(s: SparkSession, d: String): DataFrame = {
    val days = load(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
    val mid = days.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val per = days.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("y"))
    per.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_users"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("vxn"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vyn"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cvn"),
        col("n"))
      .select(col("n_users"),
        (col("cvn").cast("double") / col("vxn")).as("theta"),
        (col("vyn").cast("double") / (col("n") * col("n"))).as("var_y"),
        ((col("vyn").cast("double")
          - col("cvn").cast("double") * col("cvn") / col("vxn"))
          / (col("n") * col("n"))).as("var_adj"),
        ((col("vyn").cast("double")
          - col("cvn").cast("double") * col("cvn") / col("vxn"))
          / col("vyn")).as("var_ratio"))
  }

  val eCupedSql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |m AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e),
      |per AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM e, m GROUP BY user_id),
      |s AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM per),
      |v AS (SELECT n AS n_users,
      |    n * sxx - sx * sx AS vxn,
      |    n * syy - sy * sy AS vyn,
      |    n * sxy - sx * sy AS cvn, n
      |  FROM s)
      |SELECT n_users,
      |  CAST(cvn AS DOUBLE) / vxn AS theta,
      |  CAST(vyn AS DOUBLE) / (n * n) AS var_y,
      |  (CAST(vyn AS DOUBLE) - CAST(cvn AS DOUBLE) * cvn / vxn)
      |    / (n * n) AS var_adj,
      |  (CAST(vyn AS DOUBLE) - CAST(cvn AS DOUBLE) * cvn / vxn)
      |    / vyn AS var_ratio
      |FROM v""".stripMargin

  // ----------------------------------------------- data-quality audit
  /** Expectations-style data-quality audit over the event stream —
    * the checks every ingestion pipeline runs before trusting a
    * batch, emitted as one row per check (name, violations, total):
    * duplicate event ids (exactly-once violations), null/blank
    * user or type, non-finite or negative values, timestamps outside
    * the stream's own [min, max] envelope (vacuously zero on a single
    * self-describing batch — in production the envelope comes from
    * the PREVIOUS batch and this is the clock-skew check), and
    * malformed props JSON. A zero count is the PASSING state — the
    * audit emits
    * every check unconditionally so a silent scan regression can't
    * masquerade as "no violations row".
    *
    * Scale shape: one pass for the row-local checks (map-side
    * conditional sums), one id-keyed aggregation for the duplicate
    * check, and a 1-row envelope broadcast. Counts are exact.
    */
  /** The row-local audit counters of [[eDqAudit]]. All are
    * driver-mergeable sums, so they also satisfy `Dataset.observe`'s
    * aggregate contract.
    *
    * bad_props: get_json_object(_, '$') is null exactly when the input
    * is NULL, blank, or MALFORMED — unlike from_json, whose PERMISSIVE
    * mode returns a non-null struct of nulls for malformed text and so
    * can never detect it. Probed against DuckDB's try_cast(_ AS JSON)
    * on 10 edge inputs (null, '', '{bad', whitespace, scalar
    * 'null'/'5'/'"abc"', array, '{}'): the two predicates agree on
    * every one, including the JSON-null literal.
    */
  private def dqRowMetrics: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
    sum(when(col("event_type").isNull || col("event_type") === "", 1L)
      .otherwise(0L)).as("blank_type"),
    sum(when(col("value").isNull || isnan(col("value"))
      || col("value") < 0
      || col("value") === lit(Double.PositiveInfinity), 1L)
      .otherwise(0L)).as("bad_value"),
    sum(when(get_json_object(col("props"), "$").isNull, 1L)
      .otherwise(0L)).as("bad_props"))

  def eDqAudit(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d)
    val dups = ev.groupBy("event_id").agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(lit(0L)))
        .as("n_bad"), sum(col("c")).as("n_total"))
      .select(lit("duplicate_event_id").as("check_name"),
        col("n_bad"), col("n_total"))
    val env = ev.agg(min(col("ts_ns")).as("lo"), max(col("ts_ns")).as("hi"))
    val tsOob = sum(when(col("ts_ns") < col("lo")
      || col("ts_ns") > col("hi"), 1L).otherwise(0L)).as("ts_oob")
    val metrics = dqRowMetrics :+ tsOob
    val rowChecks = ev.crossJoin(broadcast(env))
      .agg(metrics.head, metrics.tail: _*)
    val checks = Seq("null_user", "blank_type", "bad_value", "ts_oob",
      "bad_props")
    checks.map(c =>
      rowChecks.select(lit(c).as("check_name"), col(c).as("n_bad"),
        col("n").as("n_total")))
      .reduce(_.unionAll(_))
      .unionAll(dups)
      .orderBy("check_name")
  }

  val eDqAuditSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value, props,
      |    epoch_ns(ts) AS ts_ns FROM events),
      |env AS (SELECT MIN(ts_ns) AS lo, MAX(ts_ns) AS hi FROM e),
      |rowc AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS null_user,
      |    CAST(SUM(CASE WHEN event_type IS NULL OR event_type = ''
      |      THEN 1 ELSE 0 END) AS BIGINT) AS blank_type,
      |    CAST(SUM(CASE WHEN value IS NULL OR isnan(value) OR value < 0
      |      OR value = CAST('Infinity' AS DOUBLE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_value,
      |    CAST(SUM(CASE WHEN ts_ns < lo OR ts_ns > hi THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ts_oob,
      |    CAST(SUM(CASE WHEN try_cast(props AS JSON) IS NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_props
      |  FROM e, env),
      |dups AS (SELECT 'duplicate_event_id' AS check_name,
      |    CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
      |      AS n_bad,
      |    CAST(SUM(c) AS BIGINT) AS n_total
      |  FROM (SELECT event_id, COUNT(*) AS c FROM e GROUP BY 1))
      |SELECT * FROM (
      |  SELECT 'null_user' AS check_name, null_user AS n_bad, n AS n_total FROM rowc
      |  UNION ALL SELECT 'blank_type', blank_type, n FROM rowc
      |  UNION ALL SELECT 'bad_value', bad_value, n FROM rowc
      |  UNION ALL SELECT 'ts_oob', ts_oob, n FROM rowc
      |  UNION ALL SELECT 'bad_props', bad_props, n FROM rowc
      |  UNION ALL SELECT * FROM dups)
      |ORDER BY check_name""".stripMargin

  // ------------------------------------------- activity streaks
  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands shape on the CALENDAR grid (engagement metrics,
    * "7-day streak" badges), distinct from [[eSession]]'s timestamp-gap
    * sessionization: here the island key is `day − row_number()`, which
    * is constant exactly while active days are consecutive. Output per
    * user: the best streak's length and start day (earliest start wins
    * length ties) plus total active days.
    *
    * Scale shape: one distinct on (user, day) — the day grain bounds
    * state at users × days regardless of event volume — then the
    * island window, the island aggregate, and two more windows (total
    * days, best-streak rank) ALL partitioned by `user_id`: after the
    * distinct the plan reuses one hash partitioning end-to-end, with
    * no second events scan and no join (no driver state, no global
    * window). Determinism: all columns are exact ints; the
    * best-streak tie-break is (len DESC, start_day).
    */
  def eStreaks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = load(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val streaks = days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val wBest = Window.partitionBy("user_id")
      .orderBy(col("len").desc, col("start_day"))
    // n_active_days = Σ island lengths per user, as a window sum over
    // the streaks already partitioned by user_id — no second events
    // scan, no join; both windows share one partitioning
    streaks
      .withColumn("n_active_days", sum(col("len"))
        .over(Window.partitionBy("user_id")))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("len").as("best_streak"),
        col("start_day"), col("n_active_days"))
      .orderBy("user_id")
  }

  val eStreaksSql: String =
    """WITH days AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day FROM events),
      |isl AS (SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island FROM days),
      |st AS (SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
      |  FROM isl GROUP BY 1, 2),
      |best AS (SELECT user_id, len, start_day,
      |    CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT)
      |      AS n_active_days,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY len DESC, start_day) AS rk FROM st)
      |SELECT user_id, len AS best_streak, start_day, n_active_days
      |FROM best WHERE rk = 1 ORDER BY user_id""".stripMargin

  // -------------------------------------- seasonality strength
  /** Trend and seasonality strength of the daily series — the two
    * standard diagnostics computed from [[eDecompose]]'s additive
    * components: F_trend = max(0, 1 − Var(resid)/Var(deseasonalized))
    * and F_seas = max(0, 1 − Var(resid)/Var(detrended)). Near 1 the
    * component dominates; near 0 the series is noise — the one-row
    * readout that says whether forecasting should bother modeling
    * trend/season at all (and which [[eHoltWinters]] smoother to pick).
    *
    * Determinism: every component is an exact integer in micro-units
    * (the decompose chain's contract), and Var ratios cancel the n²
    * denominator, so each strength is 1 − numR/numD with both
    * numerators n·Σx² − (Σx)² summed EXACTLY in DECIMAL(38,0) (Spark)
    * / HUGEINT (DuckDB) — the only doubles are the two final
    * correctly-rounded casts and one division, bit-identical on both
    * engines. Zero-variance denominators yield 0.0 by contract; an
    * empty inner-day set yields 0 rows on both engines.
    *
    * Scale shape: inherits [[eDecompose]]'s day-grain bounds (all
    * state is days × 1), plus one 1-row partial+final aggregate.
    */
  def eSeasonStrength(s: SparkSession, d: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val comp = eDecompose(s, d)
    val r = col("resid_u")
    val ds = col("yu") - col("seas_u")
    val dt = col("yu") - col("trend_u")
    val a = comp.agg(
      count(lit(1)).as("n"),
      sum(dec(r) * dec(r)).as("srr"), sum(dec(r)).as("sr"),
      sum(dec(ds) * dec(ds)).as("sdd"), sum(dec(ds)).as("sd"),
      sum(dec(dt) * dec(dt)).as("stt"), sum(dec(dt)).as("st"))
    def num(sxx: Column, sx: Column): Column =
      dec(col("n")) * sxx - sx * sx
    def strength(den: Column): Column =
      when(den === 0, 0.0).otherwise(greatest(lit(0.0),
        lit(1.0) - num(col("srr"), col("sr")).cast("double")
          / den.cast("double")))
    a.select(col("n").as("n_days"),
        strength(num(col("sdd"), col("sd"))).as("f_trend"),
        strength(num(col("stt"), col("st"))).as("f_seas"))
      .where(col("n_days") > 0)
  }

  val eSeasonStrengthSql: String =
    s"""WITH comp AS ($eDecomposeSql),
       |x AS (SELECT CAST(resid_u AS HUGEINT) AS r,
       |    CAST(yu - seas_u AS HUGEINT) AS ds,
       |    CAST(yu - trend_u AS HUGEINT) AS dt FROM comp),
       |a AS (SELECT COUNT(*) AS n, SUM(r*r) AS srr, SUM(r) AS sr,
       |    SUM(ds*ds) AS sdd, SUM(ds) AS sd,
       |    SUM(dt*dt) AS stt, SUM(dt) AS st FROM x)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CASE WHEN n*sdd - sd*sd = 0 THEN 0.0 ELSE GREATEST(0.0,
       |    1 - CAST(n*srr - sr*sr AS DOUBLE)
       |      / CAST(n*sdd - sd*sd AS DOUBLE)) END AS f_trend,
       |  CASE WHEN n*stt - st*st = 0 THEN 0.0 ELSE GREATEST(0.0,
       |    1 - CAST(n*srr - sr*sr AS DOUBLE)
       |      / CAST(n*stt - st*st AS DOUBLE)) END AS f_seas
       |FROM a WHERE n > 0""".stripMargin

  // --------------------------------------------- Lorenz deciles
  /** Lorenz concentration curve — per-decile activity share and
    * cumulative share of events over users ranked by event count (the
    * "top 10 % of users generate X % of traffic" readout; the curve
    * whose area [[eGini]] summarizes to one number). Output: one row
    * per populated decile with user count, event count, share, and
    * cumulative share.
    *
    * Scale shape: the per-user count aggregates map-side, then
    * everything runs on the count HISTOGRAM (distinct-count-bounded,
    * like [[eGini]]) — decile membership is derived arithmetically
    * from each histogram block's rank interval against the standard
    * ntile boundaries (first `n mod 10` buckets take one extra row),
    * so no global per-user window ever runs: the only ordered windows
    * are over the histogram and the ≤ 10 decile rows. Value-identical
    * to textbook `ntile(10)` (the oracle's form) because rank ties
    * share one count value — splitting a tie block across deciles
    * moves only interchangeable users. Determinism: counts are exact
    * ints; shares are int/int double quotients (FIXTURES §C).
    */
  def eLorenz(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val hist = counts.groupBy("cnt").agg(count(lit(1)).as("m"))
    val wr = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    // r = users ranked strictly below this count block
    val blocks = hist.select(col("cnt"), col("m"),
      coalesce(sum(col("m")).over(wr), lit(0L)).as("r"))
    val stats = counts.agg(count(lit(1)).as("nu"), sum(col("cnt")).as("tot"))
    val q = expr("nu div 10")
    val rem = col("nu") % 10
    val dec = blocks.crossJoin(broadcast(stats))
      .select(col("cnt"), col("m"), col("r"), col("nu"), col("tot"),
        explode(sequence(lit(1L), least(lit(10L), col("nu")))).as("decile"))
      .select(col("cnt"), col("m"), col("r"), col("tot"), col("decile"),
        (col("decile") * q + least(col("decile"), rem)).as("hi"),
        ((col("decile") - 1) * q + least(col("decile") - 1, rem)).as("lo"))
      .select(col("cnt"), col("decile"), col("tot"),
        greatest(lit(0L),
          least(col("hi"), col("r") + col("m"))
            - greatest(col("lo"), col("r"))).as("k"))
      .filter(col("k") > 0)
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.groupBy("decile", "tot")
      .agg(sum(col("k")).as("n_users"),
        sum(col("k") * col("cnt")).as("n_events"))
      .select(col("decile").cast("int").as("decile"),
        col("n_users"), col("n_events"),
        (col("n_events").cast("double") / col("tot")).as("share"),
        (sum(col("n_events")).over(wCum).cast("double") / col("tot"))
          .as("cum_share"))
      .orderBy("decile")
  }

  val eLorenzSql: String =
    """WITH counts AS (SELECT user_id, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |dec AS (SELECT cnt,
      |    ntile(10) OVER (ORDER BY cnt, user_id) AS decile FROM counts),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM counts),
      |d AS (SELECT decile, COUNT(*) AS n_users,
      |    CAST(SUM(cnt) AS BIGINT) AS n_events FROM dec GROUP BY 1)
      |SELECT CAST(decile AS INT) AS decile, n_users, n_events,
      |  CAST(n_events AS DOUBLE) / t AS share,
      |  CAST(CAST(SUM(n_events) OVER (ORDER BY decile) AS BIGINT)
      |    AS DOUBLE) / t AS cum_share
      |FROM d, tot ORDER BY decile""".stripMargin

  // --------------------------------------- distribution drift (PSI)
  /** Population Stability Index between the two time halves of the
    * stream — the standard drift monitor a training pipeline runs
    * between corpus snapshots or serving windows: per event type, the
    * share of traffic in the first half vs the second (split at the
    * exact midpoint of the observed epoch-nano range) and the type's
    * PSI contribution (p₂−p₁)·ln(p₂/p₁), always ≥ 0; Σ contributions
    * ≥ 0.2 is the conventional "actionable drift" flag. Types absent
    * from either half are excluded, and the per-half totals are
    * computed AFTER that exclusion (renormalized finite PSI: each
    * half's shares sum to exactly 1 over the co-present types, so the
    * summed psi_term matches the textbook Σ(p₂−p₁)·ln(p₂/p₁) identity
    * — totals taken before the filter would leave the surviving
    * shares summing to < 1 whenever a type is one-sided). With a
    * dozen fixture types and thousands of events per half, an absence
    * IS the drift signal and shows up as the row disappearing.
    * Degenerate input — a stream where min(ts_ns) = max(ts_ns) puts
    * every event in the first half — yields zero co-present types and
    * an EMPTY result by design (PSI is undefined on a one-sided
    * split); callers monitoring drift should treat an empty frame as
    * "no comparable window", not "no drift".
    *
    * Scale shape: one map-side-combined per-type conditional
    * aggregation (bounded by |event types| regardless of volume), the
    * midpoint from a broadcast 1-row min/max aggregate, totals from a
    * second |types|-row aggregate — no shuffle ever carries events
    * beyond the type-keyed combine. Determinism: counts are exact
    * BIGINTs; shares and the contribution are double arithmetic over
    * identical integers ((n₂/t₂ − n₁/t₁)·ln(n₂t₁/(n₁t₂))), each
    * output rounded once at 6 dp.
    */
  def ePsi(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d).select(col("event_type"), col("ts_ns"))
    val mid = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("mid"))
    val perType = ev.crossJoin(broadcast(mid))
      .groupBy("event_type")
      .agg(sum(when(col("ts_ns") <= col("mid"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("ts_ns") > col("mid"), 1L).otherwise(0L)).as("n2"))
    val present = perType.filter(col("n1") > 0 && col("n2") > 0)
    val totals = present.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    val p1 = col("n1").cast("double") / col("t1")
    val p2 = col("n2").cast("double") / col("t2")
    present.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n1"), col("n2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        round((p2 - p1) * log((col("n2") * col("t1")).cast("double")
          / (col("n1") * col("t2")).cast("double")), 6).as("psi_term"))
      .orderBy("event_type")
  }

  val ePsiSql: String =
    """WITH e AS (SELECT event_type, epoch_ns(ts) AS ns FROM events),
      |m AS (SELECT (MIN(ns) + MAX(ns)) // 2 AS mid FROM e),
      |a AS (SELECT event_type,
      |    CAST(SUM(CASE WHEN ns <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN ns > mid THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM e CROSS JOIN m GROUP BY 1),
      |f AS (SELECT * FROM a WHERE n1 > 0 AND n2 > 0),
      |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
      |    CAST(SUM(n2) AS BIGINT) AS t2 FROM f)
      |SELECT event_type, n1, n2,
      |  round(CAST(n1 AS DOUBLE) / t1, 6) AS p1,
      |  round(CAST(n2 AS DOUBLE) / t2, 6) AS p2,
      |  round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1)
      |    * ln(CAST(n2 * t1 AS DOUBLE) / CAST(n1 * t2 AS DOUBLE)), 6)
      |    AS psi_term
      |FROM f CROSS JOIN t
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------ burstiness (Fano)
  /** Per-type burstiness: the Fano factor F = Var(n)/E(n) of hourly
    * event counts over the stream's observed hour span (absent hours
    * count as 0 — the span comes from a broadcast 1-row min/max, no
    * gap-fill join needed because zero buckets contribute nothing to
    * either sum). A Poisson arrival process sits at F ≈ 1; retries,
    * bots and thundering herds push F ≫ 1, making this the
    * dispersion-side sibling of [[eBotScore]]'s per-user signals.
    * Population variance over k hours computed entirely from exact
    * integers: F = (k·Σn² − (Σn)²) / (k·Σn), one double division
    * rounded at 6 dp.
    *
    * Scale shape: one map-side-combined (type, hour) aggregation
    * (bounded by |types|·span-hours), one |rows|-bounded per-type
    * reduce, a broadcast scalar for the span. Nothing event-grain
    * shuffles past the first combine.
    */
  def eBurstiness(s: SparkSession, d: String): DataFrame = {
    val hours = load(s, d)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("h"))
    val span = hours.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val perHour = hours.groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"))
    perHour.groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        sum(col("n") * col("n")).as("s2"))
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        (col("h1") - col("h0") + 1).cast("int").as("n_hours"),
        col("n_events"),
        round(((col("h1") - col("h0") + 1) * col("s2")
          - col("n_events") * col("n_events")).cast("double")
          / ((col("h1") - col("h0") + 1) * col("n_events")).cast("double"), 6)
          .as("fano"))
      .orderBy("event_type")
  }

  val eBurstinessSql: String =
    """WITH e AS (SELECT event_type,
      |    epoch_ns(ts) // 3600000000000 AS h FROM events),
      |s AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
      |ph AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2),
      |a AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
      |    CAST(SUM(n * n) AS BIGINT) AS s2 FROM ph GROUP BY 1)
      |SELECT event_type, CAST(h1 - h0 + 1 AS INT) AS n_hours, n_events,
      |  round(CAST((h1 - h0 + 1) * s2 - n_events * n_events AS DOUBLE)
      |    / CAST((h1 - h0 + 1) * n_events AS DOUBLE), 6) AS fano
      |FROM a CROSS JOIN s ORDER BY event_type""".stripMargin

  // ------------------------------------------------ bootstrap CI
  /** Per-type bootstrap confidence interval for mean(value) — the
    * distributed-statistics workhorse: B=32 Poisson resamples, each
    * row's weight in resample b drawn from a DETERMINISTIC truncated
    * Poisson(1) (first 4 hex chars of md5("boot|b|event_id") cut at
    * the Poisson CDF thresholds — mean 1, variance ~1, identical in
    * both engines), so the whole thing is one explode(x B) + one
    * partial-aggregated groupBy(type, b): embarrassingly parallel,
    * no reshuffle of the corpus per resample, which is why Poisson
    * bootstrap (not multinomial, which needs a global N draw) is THE
    * resampling scheme for cluster-scale data. CI bounds are explicit
    * order statistics (2nd / 31st of the 32 resample means, ties
    * broken by b) — unambiguous cross-engine, no interpolation
    * convention to disagree on. Resample sums run through
    * DECIMAL(12,2) so every mean is an exact-sum quotient.
    */
  def eBootstrap(s: SparkSession, d: String): DataFrame = {
    val B = 32
    // truncated-Poisson(1) CDF over the first 4 md5 hex chars:
    // 24114/65536=.3679, 48229=.7358, 60278=.9197, 64291=.9810
    val w = expr(
      """CASE WHEN h4 < '5e32' THEN 0 WHEN h4 < 'bc65' THEN 1
        |     WHEN h4 < 'eb76' THEN 2 WHEN h4 < 'fb23' THEN 3
        |     ELSE 4 END""".stripMargin)
    val means = load(s, d)
      .select(col("event_type"), col("event_id"), valDec.as("v"))
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("h4", substring(md5(concat(lit("boot|"),
        col("b").cast("string"), lit("|"),
        col("event_id").cast("string")).cast("binary")), 1, 4))
      .withColumn("w", w)
      .groupBy("event_type", "b")
      .agg((sum(col("w") * col("v")).cast("double")
        / sum(col("w")).cast("double")).as("mean_b"))
    val ranked = means.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("mean_b"), col("b"))))
      .where(col("rn") <= B - 1) // plan-bounded: WindowGroupLimit at B-1
    val ci = ranked.groupBy("event_type").agg(
      max(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
      max(when(col("rn") === B - 1, col("mean_b"))).as("ci_hi"))
    load(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(valDec).cast("double") / count(lit(1)).cast("double")).as("mean"))
      .join(ci, Seq("event_type"))
      .orderBy("event_type")
  }

  private val eBootstrapSql =
    """WITH ev AS (SELECT event_type, event_id,
      |    CAST(value AS DECIMAL(12,2)) AS v FROM events),
      |wt AS (SELECT event_type, b, v,
      |    CASE WHEN h4 < '5e32' THEN 0 WHEN h4 < 'bc65' THEN 1
      |         WHEN h4 < 'eb76' THEN 2 WHEN h4 < 'fb23' THEN 3
      |         ELSE 4 END AS w
      |  FROM (SELECT event_type, event_id, v, b,
      |      substr(md5('boot|' || CAST(b AS VARCHAR) || '|'
      |        || CAST(event_id AS VARCHAR)), 1, 4) AS h4
      |    FROM ev, range(32) t(b))),
      |means AS (SELECT event_type, b,
      |    CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_b
      |  FROM wt GROUP BY 1, 2),
      |ranked AS (SELECT event_type, mean_b, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY mean_b, b) AS rn FROM means),
      |ci AS (SELECT event_type,
      |    MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
      |    MAX(CASE WHEN rn = 31 THEN mean_b END) AS ci_hi
      |  FROM ranked WHERE rn <= 31 GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(e.v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
      |  MAX(ci.ci_lo) AS ci_lo, MAX(ci.ci_hi) AS ci_hi
      |FROM ev e JOIN ci ON e.event_type = ci.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ permutation test
  /** Random-relabel permutation test for the click-vs-view difference
    * in mean(value) — the nonparametric significance companion to
    * [[eAbtest]]/[[eBootstrap]]: under H0 the labels are exchangeable,
    * so re-splitting the pooled rows 50/50 at random P=64 times draws
    * the null distribution of the difference, and the p-value is the
    * add-one-smoothed fraction of null draws at least as extreme as
    * the observed difference. Relabels are DETERMINISTIC (md5 of
    * "perm|p|event_id" against the midpoint hex '8000'), so both
    * engines draw the SAME null distribution and the p-value is
    * hash-gate exact. Same scale shape as the bootstrap: explode x P,
    * one partial-aggregated groupBy(p, pseudo-label), null stats are
    * P rows — the corpus shuffles once, never per permutation.
    * (50/50 relabeling is the standard large-n approximation of exact
    * label permutation; group sizes here are within 2% of equal.)
    */
  def ePermTest(s: SparkSession, d: String): DataFrame = {
    val P = 64
    val base = load(s, d)
      .where(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("event_id"), valDec.as("v"))
    val obs = base.groupBy()
      .agg(
        sum(when(col("event_type") === "click", 1L)).as("n_a"),
        sum(when(col("event_type") === "view", 1L)).as("n_b"),
        (sum(when(col("event_type") === "click", col("v"))).cast("double")
          / sum(when(col("event_type") === "click", 1L)).cast("double")
          - sum(when(col("event_type") === "view", col("v"))).cast("double")
          / sum(when(col("event_type") === "view", 1L)).cast("double")).as("diff"))
    val nulls = base
      .withColumn("p", explode(sequence(lit(0), lit(P - 1))))
      .withColumn("ga", substring(md5(concat(lit("perm|"),
        col("p").cast("string"), lit("|"),
        col("event_id").cast("string")).cast("binary")), 1, 4) < "8000")
      .groupBy("p")
      .agg((sum(when(col("ga"), col("v"))).cast("double")
        / sum(when(col("ga"), 1L)).cast("double")
        - sum(when(!col("ga"), col("v"))).cast("double")
        / sum(when(!col("ga"), 1L)).cast("double")).as("diff_p"))
    nulls.crossJoin(obs)
      .groupBy("n_a", "n_b", "diff")
      .agg(((sum(when(abs(col("diff_p")) >= abs(col("diff")), 1L)
          .otherwise(0L)) + lit(1L)).cast("double")
        / lit((P + 1).toDouble)).as("p_value"))
      .select("n_a", "n_b", "diff", "p_value")
  }

  private val ePermTestSql =
    """WITH base AS (SELECT event_type, event_id,
      |    CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |obs AS (SELECT
      |    SUM(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 END) AS n_b,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
      |    - CAST(SUM(CASE WHEN event_type = 'view' THEN v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE)
      |      AS diff
      |  FROM base),
      |nulls AS (SELECT p,
      |    CAST(SUM(CASE WHEN ga THEN v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN ga THEN 1 END) AS DOUBLE)
      |    - CAST(SUM(CASE WHEN NOT ga THEN v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN NOT ga THEN 1 END) AS DOUBLE) AS diff_p
      |  FROM (SELECT p, v,
      |      substr(md5('perm|' || CAST(p AS VARCHAR) || '|'
      |        || CAST(event_id AS VARCHAR)), 1, 4) < '8000' AS ga
      |    FROM base, range(64) t(p))
      |  GROUP BY p)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, diff,
      |  CAST(SUM(CASE WHEN abs(diff_p) >= abs(diff) THEN 1 ELSE 0 END)
      |    + 1 AS DOUBLE) / 65.0 AS p_value
      |FROM nulls, obs GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------- interval overlap join
  /** Interval×interval overlap join — the missing sibling of the
    * point-in-band joins: which pairs of DIFFERENT users had
    * overlapping purchase activity windows (session padded by a
    * 30-minute trailing active period — point sessions never overlap),
    * counted per hour ("concurrent shoppers"). Composed as the 1-D grid join: each session explodes
    * to the hour cells it covers, pairs meet on an hour-cell
    * EQUI-join, and the exact overlap predicate filters after. The
    * classic duplicate problem (a pair overlapping across k shared
    * hours would match k times) is solved with the OWNERSHIP-CELL
    * rule instead of a distinct shuffle: a pair is counted only in
    * the hour of max(start_a, start_b), which overlap guarantees both
    * sessions cover — dedup by construction, zero extra exchanges.
    * Per-cell work is local session density squared (the same
    * locality argument as Geo.gridCandidates); sessions are the
    * 5-minute-gap rule on integer microseconds, the exact machinery
    * e_session hash-certifies.
    */
  def eIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val HourUs = 3600000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
    val prev = lag(col("us"), 1).over(w)
    val sessions = Materialize.pin(load(s, d)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ns div 1000").as("us"))
      .withColumn("new_s",
        when(prev.isNull || col("us") - prev >= 300000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy("user_id", "sid")
      .agg(min(col("us")).as("st"),
        (max(col("us")) + lit(1800000000L)).as("en")))
    def cells(df: DataFrame, p: String) = df.select(
        col("user_id").as(s"${p}u"), col("st").as(s"${p}s"), col("en").as(s"${p}e"))
      .withColumn("cell", explode(expr(
        s"sequence(${p}s div $HourUs, ${p}e div $HourUs)")))
    cells(sessions, "a")
      .join(cells(sessions, "b"),
        Seq("cell")).where(col("au") < col("bu") &&
        col("as") <= col("be") && col("bs") <= col("ae") &&
        col("cell") === expr(s"greatest(`as`, bs) div $HourUs"))
      .groupBy((col("cell") * 3600).as("hour_s"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("hour_s")
  }

  private val eIntervalJoinSql =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
      |    WHERE event_type = 'purchase'),
      |flag AS (SELECT user_id, us,
      |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |      >= 300000000
      |    OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |isl AS (SELECT user_id, us,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flag),
      |se AS (SELECT user_id, MIN(us) AS st, MAX(us) + 1800000000 AS en
      |  FROM isl GROUP BY user_id, sid)
      |SELECT CAST((GREATEST(a.st, b.st) // 3600000000) * 3600 AS BIGINT)
      |    AS hour_s,
      |  COUNT(*) AS n_pairs
      |FROM se a JOIN se b
      |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- optimizer band on-ramp
  /** The 1-D twin of Geo.gGridAuto: a KEYLESS time-band join written
    * the naive way — purchases crossJoin signups filtered to
    * |Δt| <= 1 hour — and left to [[graft.plans.GridJoinRewrite]]'s
    * band form to re-key onto hour cells (3-row offsets relation,
    * exact integral-division cells, original predicate kept). Without
    * the rule this query is |purchases|·|signups| pair evaluations —
    * 14.4B at sf0.1; with it, candidates are 3-cell-local (~40M).
    * Gated on the brute-force DuckDB oracle: the rule must be
    * invisible in results.
    */
  def eBandAuto(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(s)
    val ev = load(s, d)
    val pur = ev.where(col("event_type") === "purchase")
      .select(expr("ts_ns div 1000").as("e_us"))
    val sig = ev.where(col("event_type") === "signup")
      .select(expr("ts_ns div 1000").as("o_us"))
    pur.crossJoin(sig)
      .where(abs(col("e_us") - col("o_us")) <= lit(3600000000L))
      .groupBy(expr("(e_us div 3600000000) * 3600").as("hour_s"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("hour_s")
  }

  private val eBandAutoSql =
    """WITH p AS (SELECT epoch_ns(ts) // 1000 AS e_us FROM events
      |    WHERE event_type = 'purchase'),
      |g AS (SELECT epoch_ns(ts) // 1000 AS o_us FROM events
      |    WHERE event_type = 'signup')
      |SELECT CAST((e_us // 3600000000) * 3600 AS BIGINT) AS hour_s,
      |  COUNT(*) AS n_pairs
      |FROM p, g WHERE abs(e_us - o_us) <= 3600000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- bootstrap CI on the diff
  /** Bootstrap confidence interval for the click-vs-view difference
    * in mean(value) — the EFFECT-SIZE companion to [[ePermTest]]'s
    * p-value: each of B=32 deterministic Poisson resamples draws both
    * groups independently (weights keyed "bdiff|b|event_id", same
    * truncated-Poisson(1) md5 thresholds as [[eBootstrap]]) and the
    * CI is the 2nd/31st order statistic of the resampled differences
    * (ties broken by b). Same one-explode/one-aggregate scale shape;
    * the per-(b) stats table is B rows.
    */
  def eBootDiff(s: SparkSession, d: String): DataFrame = {
    val B = 32
    val w = expr(
      """CASE WHEN h4 < '5e32' THEN 0 WHEN h4 < 'bc65' THEN 1
        |     WHEN h4 < 'eb76' THEN 2 WHEN h4 < 'fb23' THEN 3
        |     ELSE 4 END""".stripMargin)
    val base = load(s, d)
      .where(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("event_id"), valDec.as("v"))
    val diffs = base
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("h4", substring(md5(concat(lit("bdiff|"),
        col("b").cast("string"), lit("|"),
        col("event_id").cast("string")).cast("binary")), 1, 4))
      .withColumn("w", w)
      .groupBy("b")
      .agg((sum(when(col("event_type") === "click", col("w") * col("v")))
          .cast("double")
        / sum(when(col("event_type") === "click", col("w"))).cast("double")
        - sum(when(col("event_type") === "view", col("w") * col("v")))
          .cast("double")
        / sum(when(col("event_type") === "view", col("w"))).cast("double"))
        .as("diff_b"))
    val ranked = diffs.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("diff_b"), col("b"))))
      .where(col("rn") <= B - 1)
    val ci = ranked.agg(
      max(when(col("rn") === 2, col("diff_b"))).as("ci_lo"),
      max(when(col("rn") === B - 1, col("diff_b"))).as("ci_hi"))
    base.groupBy()
      .agg((sum(when(col("event_type") === "click", col("v"))).cast("double")
        / sum(when(col("event_type") === "click", 1L)).cast("double")
        - sum(when(col("event_type") === "view", col("v"))).cast("double")
        / sum(when(col("event_type") === "view", 1L)).cast("double"))
        .as("diff"))
      .crossJoin(ci)
      .select("diff", "ci_lo", "ci_hi")
  }

  private val eBootDiffSql =
    """WITH base AS (SELECT event_type, event_id,
      |    CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |wt AS (SELECT event_type, b, v,
      |    CASE WHEN h4 < '5e32' THEN 0 WHEN h4 < 'bc65' THEN 1
      |         WHEN h4 < 'eb76' THEN 2 WHEN h4 < 'fb23' THEN 3
      |         ELSE 4 END AS w
      |  FROM (SELECT event_type, v, b,
      |      substr(md5('bdiff|' || CAST(b AS VARCHAR) || '|'
      |        || CAST(event_id AS VARCHAR)), 1, 4) AS h4
      |    FROM base, range(32) t(b))),
      |diffs AS (SELECT b,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN w * v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN event_type = 'click' THEN w END) AS DOUBLE)
      |    - CAST(SUM(CASE WHEN event_type = 'view' THEN w * v END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN event_type = 'view' THEN w END) AS DOUBLE)
      |      AS diff_b
      |  FROM wt GROUP BY b),
      |ranked AS (SELECT diff_b, ROW_NUMBER() OVER (ORDER BY diff_b, b) AS rn
      |  FROM diffs),
      |ci AS (SELECT MAX(CASE WHEN rn = 2 THEN diff_b END) AS ci_lo,
      |    MAX(CASE WHEN rn = 31 THEN diff_b END) AS ci_hi
      |  FROM ranked WHERE rn <= 31)
      |SELECT
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN v END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
      |  - CAST(SUM(CASE WHEN event_type = 'view' THEN v END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE)
      |    AS diff,
      |  MAX(ci.ci_lo) AS ci_lo, MAX(ci.ci_hi) AS ci_hi
      |FROM base, ci""".stripMargin

  val queries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "e_boot_diff"   -> (eBootDiff _, eBootDiffSql),
    "e_band_auto"   -> (eBandAuto _, eBandAutoSql),
    "e_interval_join" -> (eIntervalJoin _, eIntervalJoinSql),
    "e_perm_test"   -> (ePermTest _, ePermTestSql),
    "e_bootstrap"   -> (eBootstrap _, eBootstrapSql),
    "e_burstiness"  -> (eBurstiness _, eBurstinessSql),
    "e_psi"         -> (ePsi _, ePsiSql),
    "e_season_strength" -> (eSeasonStrength _, eSeasonStrengthSql),
    "e_lorenz"      -> (eLorenz _, eLorenzSql),
    "e_streaks"     -> (eStreaks _, eStreaksSql),
    "e_dq_audit"    -> (eDqAudit _, eDqAuditSql),
    "e_concurrency" -> (eConcurrency _, eConcurrencySql),
    "e_ttc"         -> (eTtc _, eTtcSql),
    "e_decompose"   -> (eDecompose _, eDecomposeSql),
    "e_markov_steady" -> (eMarkovSteady _, eMarkovSteadySql),
    "e_did"         -> (eDid _, eDidSql),
    "e_burn_rate"   -> (eBurnRate _, eBurnRateSql),
    "e_cuped"       -> (eCuped _, eCupedSql),
    "e_holtwinters" -> (eHoltWinters _, eHoltWintersSql),
    "e_survival"    -> (eSurvival _, eSurvivalSql),
    "e_heatmap"     -> (eHeatmap _, eHeatmapSql),
    "e_bot_score"   -> (eBotScore _, eBotScoreSql),
    "e_autocorr"    -> (eAutocorr _, eAutocorrSql),
    "e_holt"        -> (eHolt _, eHoltSql),
    "e_path3"       -> (ePath3 _, ePath3Sql),
    "e_seasonal_naive" -> (eSeasonalNaive _, eSeasonalNaiveSql),
    "e_changepoint" -> (eChangepoint _, eChangepointSql),
    "e_gini"       -> (eGini _, eGiniSql),
    "e_late_profile" -> (eLateProfile _, eLateProfileSql),
    "e_abtest"     -> (eAbtest _, eAbtestSql),
    "e_power"      -> (ePower _, ePowerSql),
    "e_mad"        -> (eMad _, eMadSql),
    "e_trending"   -> (eTrending _, eTrendingSql),
    "e_interarrival" -> (eInterarrival _, eInterarrivalSql),
    "e_anomaly"    -> (eAnomaly _, eAnomalySql),
    "e_sequence"   -> (eSequence _, eSequenceSql),
    "e_stickiness" -> (eStickiness _, eStickinessSql),
    "e_scd2"       -> (eScd2 _, eScd2Sql),
    "e_attribution" -> (eAttribution _, eAttributionSql),
    "e_rfm"        -> (eRfm _, eRfmSql),
    "e_transitions" -> (eTransitions _, eTransitionsSql),
    "e_cond_entropy" -> (eCondEntropy _, eCondEntropySql),
    "e_user_overlap" -> (eUserOverlap _, eUserOverlapSql),
    "e_funnel"     -> (eFunnel _, eFunnelSql),
    "e_retention"  -> (eRetention _, eRetentionSql),
    "e_cohort"     -> (eCohort _, eCohortSql),
    "e_ewma"       -> (eEwma _, eEwmaSql),
    "e_tumbling"   -> (eTumbling _, eTumblingSql),
    "e_sliding"    -> (eSliding _, eSlidingSql),
    "e_gapfill"    -> (eGapfill _, eGapfillSql),
    "e_session"    -> (eSession _, eSessionSql),
    "e_json_props" -> (eJsonProps _, eJsonPropsSql),
    "e_asof_join"  -> (eAsofJoin _, eAsofJoinSql),
    "e_asof_native" -> (eAsofNative _, eAsofJoinSql),
    "e_asof_broadcast" -> (eAsofBroadcast _, eAsofJoinSql),
    "e_asof_tolerance" -> (eAsofTolerance _, eAsofToleranceSql),
    "e_asof_forward" -> (eAsofForward _, eAsofForwardSql),
    "e_asof_nearest" -> (eAsofNearest _, eAsofNearestSql),
    "e_asof_global" -> (eAsofGlobal _, eAsofGlobalSql),
    "e_asof_salted" -> (eAsofSalted _, eAsofJoinSql),
    "e_asof_auto"  -> (eAsofAuto _, eAsofJoinSql),
    "e_asof_sql"   -> (eAsofSql _, eAsofJoinSql),
    "e_range_native" -> (eRangeNative _, eRangeJoinSql),
    "e_band_salted" -> (eBandSalted _, eRangeJoinSql),
    "e_band_broadcast" -> (eBandBroadcast _, eBandBroadcastSql),
    "e_range_join" -> (eRangeJoin _, eRangeJoinSql),
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Grid-partitioned spatial joins — the 2-D counterpart of the 1-D
  * as-of/band joins in `graft.plans`: a radius (2-D range) predicate
  * that Spark's equi-join machinery can't key directly, re-expressed
  * as an EQUI-join on grid cells so the shuffle, partial aggregation,
  * and AQE skew handling all apply unchanged.
  *
  * The pattern is the classic partition-based spatial merge (PBSM /
  * SpatialHadoop / Sedona lineage): overlay a uniform grid whose cell
  * edge equals the query radius, key each probe point to its home
  * cell, replicate each build point to its 3x3 cell neighborhood, and
  * equi-join on the cell id. With edge >= radius the neighborhood is a
  * PROVEN superset of every in-radius pair (|dx| <= r implies the cell
  * coordinate differs by at most 1), so the exact distance predicate
  * applied after the join loses nothing — the grid only bounds the
  * candidate set. Candidates per build point are ~9 * cell density
  * regardless of corpus size: at 100 TB the join stays a hash
  * shuffle on cell ids with per-task work proportional to LOCAL
  * density, never an all-pairs product. (Composition order per the
  * brief: these semantics compose from explode + equi-join + filter,
  * so no custom exec is warranted — unlike the as-of merge, whose
  * ordered-neighbor semantics an equi-join cannot bound.)
  *
  * The fixtures carry no coordinates, so both engines derive a
  * deterministic synthetic point per row from the integer key
  * (multiplicative hash, modulus, divide — every step is exact in
  * 64-bit integer arithmetic followed by one IEEE-exact division, so
  * Spark and DuckDB produce bit-identical doubles and the driver's
  * hash gate stays exact; same technique as Relational.qZorder's
  * grid8 normalization).
  */
object Geo {

  /** Unit-square coordinates derived from integer keys. Knuth
    * multiplicative constants; moduli are primes just above 1e5 so
    * products stay far inside BIGINT, and the quotient is < 1.
    */
  private val CX = "CAST((c_custkey * 2654435761) % 100003 AS DOUBLE) / 100003.0"
  private val CY = "CAST((c_custkey * 2246822519) % 100019 AS DOUBLE) / 100019.0"
  private val SX = "CAST((s_suppkey * 2654435761 + 911382323) % 100003 AS DOUBLE) / 100003.0"
  private val SY = "CAST((s_suppkey * 2246822519 + 387413921) % 100019 AS DOUBLE) / 100019.0"

  /** 20x20 grid: cell edge 0.05 == the query radius, the PBSM
    * superset condition. 0.0025 is the literal radius^2 both engines
    * parse to the same double.
    */
  private val GRID = "20.0"
  private val R2 = "0.0025"

  private val DIST2 = "(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"

  /** Probe points: (c_custkey, c_acctbal, cx, cy) on the unit square. */
  private def custPoints(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        expr(CX).as("cx"), expr(CY).as("cy"))

  /** Build points: (s_suppkey, sx, sy). */
  private def suppPoints(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .select(col("s_suppkey"), expr(SX).as("sx"), expr(SY).as("sy"))

  /** Core grid radius join, seam for the adversarial-skew spec:
    * candidate pairs from the cell equi-join (probe side keyed to its
    * home cell, build side replicated to its 3x3 neighborhood — the
    * side that replicates should be the SMALLER input; supplier is
    * 15x smaller than customer at every SF), exact predicate after.
    *
    * saltGroups > 1 splits every cell's PROBE rows into deterministic
    * salt co-partitions and fans the replicated side across all of
    * them (build fan-out 9*salt), so one dense cell — a city in a geo
    * corpus — becomes `salt` bounded tasks instead of one straggler.
    * Identical output by construction: the salt partitions each
    * cell's probe rows, it never adds or drops a candidate pair.
    */
  private[graft] def gridCandidates(cust: DataFrame, supp: DataFrame,
      saltGroups: Int = 1): DataFrame =
    cellJoin(withCells(cust), supp, saltGroups)

  /** Key probe points to their home cell — the shape [[graft.sources
    * .IndexStore.saveGrid]] persists, so a serve session skips this
    * step and inherits the cells from the partition directories.
    */
  private[graft] def withCells(points: DataFrame): DataFrame =
    points
      .withColumn("cell_x", expr(s"CAST(FLOOR(cx * $GRID) AS INT)"))
      .withColumn("cell_y", expr(s"CAST(FLOOR(cy * $GRID) AS INT)"))

  /** The build side's 3x3 cell neighborhood (see [[cellJoin]]). */
  private[graft] def siteNeighborhood(supp: DataFrame): DataFrame =
    supp
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("cell_x", expr(s"CAST(FLOOR(sx * $GRID) AS INT)") + col("dx"))
      .withColumn("cell_y", expr(s"CAST(FLOOR(sy * $GRID) AS INT)") + col("dy"))
      .drop("dx", "dy")

  private[graft] def cellJoin(probeWithCells: DataFrame, supp: DataFrame,
      saltGroups: Int = 1): DataFrame = {
    var probe = probeWithCells
    var build = siteNeighborhood(supp)
    var keys = Seq("cell_x", "cell_y")
    if (saltGroups > 1) {
      probe = probe.withColumn("salt", pmod(hash(col("c_custkey")), lit(saltGroups)))
      build = build.withColumn("salt", explode(sequence(lit(0), lit(saltGroups - 1))))
      keys = keys :+ "salt"
    }
    probe.join(build, keys).where(expr(s"$DIST2 <= $R2"))
  }

  /** In-radius pairs → per-supplier aggregate (decimal sum — exact and
    * order-independent, so the double it casts to is hash-gate safe).
    */
  private def radiusAgg(pairs: DataFrame): DataFrame =
    pairs.groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
      .orderBy("s_suppkey")

  // ------------------------------------------------- radius aggregate
  /** Per-supplier radius aggregate: how many customers sit within
    * r=0.05 of each supplier site, and their exact total balance.
    * The oracle is the brute-force cross product; the engine never
    * materializes it.
    */
  def gGridJoin(s: SparkSession, d: String): DataFrame =
    radiusAgg(gridCandidates(custPoints(s, d), suppPoints(s, d)))

  private val gGridJoinSql =
    s"""SELECT s_suppkey,
       |  COUNT(*) AS n_near,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
       |FROM supplier, customer
       |WHERE ($DIST2) <= $R2
       |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
      .replace("cx", s"($CX)").replace("cy", s"($CY)")
      .replace("sx", s"($SX)").replace("sy", s"($SY)")

  // --------------------------------------------------------- salted form
  /** [[gGridJoin]] with hot-cell salting (see [[gridCandidates]]).
    * Same result set by construction, and the driver gate pins that
    * with the IDENTICAL oracle as [[gGridJoin]] (wordscore_salted
    * precedent). GeoSpec proves the per-task candidate bound under an
    * adversarial single-cell fixture.
    */
  def gGridSalted(s: SparkSession, d: String): DataFrame =
    radiusAgg(gridCandidates(custPoints(s, d), suppPoints(s, d), saltGroups = 4))

  // ------------------------------------------------------- served form
  /** [[gGridJoin]] served from a PERSISTED spatial grid store: the
    * probe corpus is written `partitionBy(cell_z)` — one directory per
    * cell keyed by the Morton interleave of the cell coordinates
    * ([[graft.sources.IndexStore.CellZ]]), the 2-D twin of the IVF
    * inverted-list layout with single-level listing and 1-D
    * range-prunable box queries — reloaded, and joined from the
    * RELOADED frame, so the driver's hash gate certifies the parquet
    * round-trip end-to-end every round — not just in ScalaTest (same
    * design point as `s_ivf_pq_served`). At serve time the scan reads
    * only the cell directories the site neighborhoods touch (literal
    * z-code plant on the partition column — metric-asserted in
    * GeoSpec); the store's other cells are never opened.
    */
  def gGridServed(s: SparkSession, d: String): DataFrame = {
    val dir = graft.sources.TmpStores.dir(s, "grid", d)
    graft.sources.IndexStore.saveGrid(dir, withCells(custPoints(s, d)))
    val loaded = graft.sources.IndexStore.loadGrid(s, dir)
    radiusAgg(servedCandidates(loaded, suppPoints(s, d)))
  }

  /** The session's grid store, written only if this session hasn't
    * yet: `g_zbox_served` shares `g_grid_served`'s store (identical
    * content) and certifies the READ/pruning path — the write
    * certification stays with g_grid_served, which rebuilds every
    * invocation. Store content is deterministic per dataset, so
    * whichever query runs first produces the same bytes.
    */
  private def ensureGridStore(s: SparkSession, d: String): String = {
    val dir = graft.sources.TmpStores.dir(s, "grid", d)
    // IndexStore's own resolution (manifest -> highest complete
    // version) through the Hadoop FileSystem API: a store left in the
    // versions-only crash state, or on a non-local filesystem, is
    // correctly detected
    if (!graft.sources.IndexStore.componentExists(s, dir, "cells"))
      graft.sources.IndexStore.saveGrid(dir, withCells(custPoints(s, d)))
    dir
  }

  /** [[cellJoin]] against a loaded grid store, with the touched cells
    * planted as a STATIC literal partition filter so the store prunes
    * at file-listing time. Same design point (and same reason) as the
    * IVF serve path: Spark's DPP degrades to a no-op here (an
    * explode-derived build side never matches the DPP-reuse subquery
    * check), so the 9·|sites| distinct cell ids — bounded by the SITE
    * table, never the corpus — are collected once driver-side. A
    * both-sides-huge join would skip this and keep the plain cell
    * shuffle join; the literal plant is the serve-path optimization
    * for site batches small enough to broadcast anyway.
    */
  private[graft] def servedCandidates(loaded: DataFrame,
      supp: DataFrame): DataFrame = {
    // the store's own Morton key ([[graft.sources.IndexStore.CellZ]])
    // IS the single-column pruning id now: the touched cells' z codes
    // are planted as a literal isin directly on the PARTITION column,
    // so the store prunes at file-listing time (exact — one z per
    // cell, never a bounding box), and the cell equi-join keys on the
    // same single int (the interleave is bijective on the grid)
    val build = siteNeighborhood(supp)
      .withColumn("cell_z", expr(graft.sources.IndexStore.CellZ))
    val zIds = build.select(col("cell_z")).distinct()
      .collect().map(_.getInt(0)).toSeq
    loaded.filter(col("cell_z").isin(zIds: _*))
      .join(build.drop("cell_x", "cell_y"), Seq("cell_z"))
      .where(expr(s"$DIST2 <= $R2"))
  }

  // ---------------------------------------------------- range-limited kNN
  /** k=3 nearest customers per supplier WITHIN radius 0.05 —
    * range-limited kNN, the semantics every production spatial index
    * serves (an unlimited kNN cannot be grid-exact: the true 3rd
    * neighbor may sit outside any fixed neighborhood). Ranked by
    * (dist2, c_custkey) — a total order, so ties are deterministic.
    * The rank window is per-supplier top-3: Spark plans a partial
    * WindowGroupLimit before the shuffle, so per-task state is 3 rows
    * per key (WindowRuleSpec auto-accepts plan-bounded windows).
    */
  def gGridKnn(s: SparkSession, d: String): DataFrame =
    gridCandidates(custPoints(s, d), suppPoints(s, d))
      .withColumn("dist2", expr(DIST2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") <= 3)
      .select(col("s_suppkey"), col("rn"), col("c_custkey"), col("dist2"))
      .orderBy("s_suppkey", "rn")

  private val gGridKnnSql =
    s"""SELECT s_suppkey, CAST(rn AS INT) AS rn, c_custkey, dist2 FROM (
       |  SELECT s_suppkey, c_custkey, ($DIST2) AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
       |      ORDER BY ($DIST2), c_custkey) AS rn
       |  FROM supplier, customer
       |  WHERE ($DIST2) <= $R2
       |) WHERE rn <= 3 ORDER BY s_suppkey, rn""".stripMargin
      .replace("cx", s"($CX)").replace("cy", s"($CY)")
      .replace("sx", s"($SX)").replace("sy", s"($SY)")

  // ------------------------------------------------------ geofence visits
  /** Geofence visit detection — the composition the family exists
    * for: the event stream becomes a stream of position fixes
    * (coordinates derived per EVENT, the moving-user model), the grid
    * join finds every in-radius (ping, site) pair, and per-user
    * per-site sessionization (30-minute gap rule, the e_session
    * machinery on a (user, site) key) rolls pings into visits with
    * dwell times. Output is one row per (user, site) ever visited:
    * visit count, ping count, total dwell seconds (integer ns math
    * throughout — no float time anywhere). Every window is
    * partitioned by (user_id, s_suppkey), so frames are one user's
    * pings at one site — never corpus-grain.
    */
  def gVisits(s: SparkSession, d: String): DataFrame = {
    val gapNs = 1800000000000L // 30 min
    val pings = gridCandidates(
      Events.load(s, d).select(col("event_id"), col("user_id"), col("ts_ns"),
        expr("CAST((event_id * 2654435761) % 100003 AS DOUBLE) / 100003.0").as("cx"),
        expr("CAST((event_id * 2246822519) % 100019 AS DOUBLE) / 100019.0").as("cy")),
      suppPoints(s, d))
      .select("user_id", "s_suppkey", "ts_ns", "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "s_suppkey").orderBy("ts_ns", "event_id")
    val prev = lag(col("ts_ns"), 1).over(w)
    pings
      .withColumn("nv", when(prev.isNull || col("ts_ns") - prev > gapNs, 1L)
        .otherwise(0L))
      .withColumn("visit_id", sum(col("nv")).over(w))
      .groupBy("user_id", "s_suppkey", "visit_id")
      .agg((max(col("ts_ns")) - min(col("ts_ns"))).as("dwell_ns"),
        count(lit(1)).as("n"))
      .groupBy("user_id", "s_suppkey")
      .agg(count(lit(1)).as("n_visits"),
        sum(col("n")).as("n_pings"),
        expr("CAST(sum(dwell_ns) div 1000000000 AS BIGINT)").as("dwell_s"))
      .orderBy("user_id", "s_suppkey")
  }

  private val gVisitsSql =
    s"""WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
       |    CAST((event_id * 2654435761) % 100003 AS DOUBLE) / 100003.0 AS ex,
       |    CAST((event_id * 2246822519) % 100019 AS DOUBLE) / 100019.0 AS ey
       |  FROM events),
       |pr AS (SELECT user_id, s_suppkey, ts_ns, event_id
       |  FROM ev, supplier
       |  WHERE (ex - ($SX)) * (ex - ($SX)) + (ey - ($SY)) * (ey - ($SY))
       |    <= $R2),
       |fl AS (SELECT user_id, s_suppkey, ts_ns, event_id,
       |    CASE WHEN LAG(ts_ns) OVER w IS NULL
       |      OR ts_ns - LAG(ts_ns) OVER w > 1800000000000 THEN 1 ELSE 0
       |    END AS nv
       |  FROM pr WINDOW w AS (PARTITION BY user_id, s_suppkey
       |    ORDER BY ts_ns, event_id)),
       |vi AS (SELECT user_id, s_suppkey, ts_ns,
       |    SUM(nv) OVER (PARTITION BY user_id, s_suppkey
       |      ORDER BY ts_ns, event_id) AS visit_id FROM fl),
       |pv AS (SELECT user_id, s_suppkey, visit_id,
       |    MAX(ts_ns) - MIN(ts_ns) AS dwell_ns, COUNT(*) AS n
       |  FROM vi GROUP BY 1, 2, 3)
       |SELECT user_id, s_suppkey, COUNT(*) AS n_visits,
       |  CAST(SUM(n) AS BIGINT) AS n_pings,
       |  CAST(SUM(dwell_ns) // 1000000000 AS BIGINT) AS dwell_s
       |FROM pv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------ grid occupancy
  /** Layout/skew audit for the grid itself: the occupancy histogram
    * (how many cells hold n points) — the number a planner needs to
    * decide whether a cell-keyed shuffle will skew. On a uniform
    * fixture this is a tight Poisson; on production data (cities, hub
    * airports) the tail IS the skew diagnosis, and cells in that tail
    * are the ones AQE skew-join splits or [[gGridSalted]] salts.
    */
  def gCellStats(s: SparkSession, d: String): DataFrame =
    custPoints(s, d)
      .withColumn("cell_x", expr(s"CAST(FLOOR(cx * $GRID) AS INT)"))
      .withColumn("cell_y", expr(s"CAST(FLOOR(cy * $GRID) AS INT)"))
      .groupBy("cell_x", "cell_y").agg(count(lit(1)).as("n_points"))
      .groupBy("n_points").agg(count(lit(1)).as("n_cells"))
      .orderBy("n_points")

  private val gCellStatsSql =
    s"""SELECT n_points, COUNT(*) AS n_cells FROM (
       |  SELECT CAST(FLOOR(($CX) * $GRID) AS INT) AS cell_x,
       |         CAST(FLOOR(($CY) * $GRID) AS INT) AS cell_y,
       |         COUNT(*) AS n_points
       |  FROM customer GROUP BY 1, 2
       |) GROUP BY n_points ORDER BY n_points""".stripMargin

  // ----------------------------------------------- optimizer on-ramp
  /** [[gGridJoin]] written the way a USER would write it — a naive
    * crossJoin + distance filter — and left to the
    * [[graft.plans.GridJoinRewrite]] optimizer rule to turn into the
    * cell equi-join (GeoSpec pins the rewritten plan: no cartesian
    * product, no nested-loop join). Same oracle as the hand-built
    * form: the rule must be invisible in the results and structural
    * in the plan.
    */
  def gGridAuto(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(s)
    custPoints(s, d).crossJoin(suppPoints(s, d))
      .where(expr(s"$DIST2 <= $R2"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
      .orderBy("s_suppkey")
  }

  /** The VARIABLE-geofence twin of [[gGridAuto]]: each supplier has
    * its own radius (a per-row `r2` column), written the naive
    * crossJoin way with a planted max-radius conjunct `r2 <= 0.0025`
    * — the shape [[graft.plans.GridJoinRewrite]]'s static-upper-bound
    * matcher exists for. The rule keys the grid on the MAX radius and
    * keeps the exact per-row predicate, so a supplier with a small
    * geofence still only matches its own radius. Gated on the
    * brute-force DuckDB oracle; GeoSpec pins that the plan rewrote.
    */
  def gGridAutoVar(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(s)
    val supp = suppPoints(s, d)
      .withColumn("r2", expr(VarR2))
    custPoints(s, d).crossJoin(supp)
      .where(expr(s"$DIST2 <= r2 AND r2 <= $R2"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
      .orderBy("s_suppkey")
  }

  /** Per-supplier squared radius in (0, R2]: five distinct geofence
    * sizes, every arithmetic step exact-identical in both engines.
    */
  private val VarR2 = "0.0005 + CAST(s_suppkey % 5 AS DOUBLE) * 0.0005"

  /** The HINT-split twin of [[gGridAutoVar]]: the per-row radius has NO
    * provable bound anywhere in the plan (no planted max conjunct), so
    * without help the rewrite must keep the O(|A|·|B|) naive join. The
    * session hint `spark.graft.grid.maxBoundHint` unlocks the grid —
    * and it is set DELIBERATELY DISHONEST here (0.001, while radii
    * reach 0.0025): the rewrite's residual naive arm picks up every
    * row the hint under-covers, so the driver's brute-force oracle
    * certifies each round that exactness never rests on the hint.
    *
    * The hint conf is SCOPED to this query: the previous value is
    * snapshotted, the hinted Union plan is executed eagerly under
    * [[Materialize.pin]] (inside the bench timing window — the
    * builder call is timed), and the conf is restored in the finally
    * — so no later unproven-bound join in the same session silently
    * replans through this query's hint (plan shapes stay
    * order-independent; exactness never depended on it, plan
    * determinism does).
    */
  def gGridHint(s: SparkSession, d: String): DataFrame = {
    val key = "spark.graft.grid.maxBoundHint"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "0.001")
    try Materialize.pin(gGridHintFrame(s, d))
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The un-pinned hinted frame — [[gGridHint]] executes it under the
    * scoped hint; GeoSpec plan-pins both rewrite arms on it directly.
    */
  private[graft] def gGridHintFrame(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(s)
    val supp = suppPoints(s, d).withColumn("r2", expr(VarR2))
    custPoints(s, d).crossJoin(supp)
      .where(expr(s"$DIST2 <= r2"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
      .orderBy("s_suppkey")
  }

  private val gGridHintSql =
    s"""SELECT s_suppkey,
       |  COUNT(*) AS n_near,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
       |FROM supplier, customer
       |WHERE ($DIST2) <= ($VarR2)
       |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
      .replace("cx", s"($CX)").replace("cy", s"($CY)")
      .replace("sx", s"($SX)").replace("sy", s"($SY)")

  private val gGridAutoVarSql =
    s"""SELECT s_suppkey,
       |  COUNT(*) AS n_near,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
       |FROM supplier, customer
       |WHERE ($DIST2) <= ($VarR2) AND ($VarR2) <= $R2
       |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
      .replace("cx", s"($CX)").replace("cy", s"($CY)")
      .replace("sx", s"($SX)").replace("sy", s"($SY)")

  // ------------------------------------------------- Morton box serve
  /** The Scala twin of the store's `cell_z` SQL expression
    * ([[graft.sources.IndexStore.CellZ]], same bit positions): used
    * driver-side to turn box corners into the two z bounds of a
    * BETWEEN — no cell enumeration needed.
    */
  private[graft] def mortonZ(cellX: Int, cellY: Int): Int = {
    val x = cellX + 1; val y = cellY + 1
    (0 until 5).map(i =>
      (((x >> i) & 1) << (2 * i + 1)) | (((y >> i) & 1) << (2 * i))).reduce(_ | _)
  }

  /** Box aggregate served from the PERSISTED Morton grid store via
    * 1-D RANGE pruning — the payoff of the `cell_z` layout: z is
    * `f(cell_x) + g(cell_y)` with f, g monotone on disjoint bit
    * positions, so every cell of the box [cx0..cx1]×[cy0..cy1] has
    * `z ∈ [z(cx0,cy0), z(cx1,cy1)]` and ONE BETWEEN on the partition
    * column prunes the scan at file-listing time (the lakehouse
    * OPTIMIZE ZORDER file-skipping argument as a directory layout).
    * The exact per-point box predicate behind it discards the
    * z-range's out-of-box cells, so results are exact for ANY box;
    * quadrant-aligned boxes (this query's) give a TIGHT range —
    * GeoSpec asserts the executed scan reads only the box's 16 cell
    * dirs of the ~400-dir store — while an arbitrary box's single
    * range is a coarser superset (production engines decompose it
    * into a few ranges via BIGMIN; the correctness story is
    * identical).
    */
  def gZboxServed(s: SparkSession, d: String): DataFrame = {
    val dir = ensureGridStore(s, d)
    boxAgg(graft.sources.IndexStore.loadGrid(s, dir))
  }

  // box corners chosen so the cell range [3..6]² shifts to [4..7]² —
  // one Morton quadrant, z in [48, 63]
  private val BOX = (0.15, 0.3499, 0.15, 0.3499)

  private[graft] def boxAgg(loaded: DataFrame): DataFrame = {
    val (x0, x1, y0, y1) = BOX
    val zLo = mortonZ(math.floor(x0 * 20).toInt, math.floor(y0 * 20).toInt)
    val zHi = mortonZ(math.floor(x1 * 20).toInt, math.floor(y1 * 20).toInt)
    loaded
      .filter(col("cell_z").between(zLo, zHi))
      .where(expr(s"cx >= $x0 AND cx <= $x1 AND cy >= $y0 AND cy <= $y1"))
      .agg(count(lit(1)).as("n_box"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
  }

  private val gZboxServedSql = {
    val (x0, x1, y0, y1) = BOX
    s"""SELECT COUNT(*) AS n_box,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
       |FROM customer
       |WHERE ($CX) >= $x0 AND ($CX) <= $x1
       |  AND ($CY) >= $y0 AND ($CY) <= $y1""".stripMargin
  }

  // ------------------------------------ multi-range z-box (BIGMIN-style)
  /** Decompose the CELL box [cx0..cx1]×[cy0..cy1] into maximal
    * contiguous Morton z ranges — recursive quadrant splitting, the
    * standard BIGMIN/LITMAX decomposition expressed top-down: a
    * quadrant fully inside the box contributes its whole (contiguous
    * by construction) z range, a disjoint quadrant is skipped, a
    * straddling one recurses into its four Morton-ordered children;
    * adjacent ranges merge afterwards. The union of the ranges is
    * EXACTLY the box's cell set (no out-of-box z values — tighter
    * than any single BETWEEN can be for a non-quadrant-aligned box),
    * and the range count is O(perimeter), logarithmic per edge cell
    * in the grid size. Coordinates are raw cell indices; the +1 shift
    * into the store's z domain ([[mortonZ]]) happens here.
    */
  private[graft] def zRangesForCells(cx0: Int, cx1: Int,
      cy0: Int, cy1: Int): Seq[(Int, Int)] = {
    // the 5-bit interleave covers shifted [0, 31]² only — cells beyond
    // it would be silently EXCLUDED from the ranges and boxAggMulti's
    // partition filter would then undercount instead of failing
    require(cx0 >= -1 && cx1 <= 30 && cy0 >= -1 && cy1 <= 30 &&
      cx0 <= cx1 && cy0 <= cy1,
      s"zRangesForCells: cell box [$cx0..$cx1]x[$cy0..$cy1] outside the " +
        "interleave domain [-1, 30]^2")
    val (sx0, sx1, sy0, sy1) = (cx0 + 1, cx1 + 1, cy0 + 1, cy1 + 1)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    // quadrant at (x0, y0), edge 2^bits, z values [zBase, zBase + 4^bits)
    def rec(x0: Int, y0: Int, bits: Int, zBase: Int): Unit = {
      val size = 1 << bits
      val x1 = x0 + size - 1; val y1 = y0 + size - 1
      if (x1 < sx0 || x0 > sx1 || y1 < sy0 || y0 > sy1) ()
      else if (x0 >= sx0 && x1 <= sx1 && y0 >= sy0 && y1 <= sy1)
        out += ((zBase, zBase + size * size - 1))
      else {
        val h = size / 2; val q = h * h
        // child order mirrors the store's interleave (x bits at odd
        // positions): z quadrant index = (xbit << 1) | ybit
        rec(x0, y0, bits - 1, zBase)
        rec(x0, y0 + h, bits - 1, zBase + q)
        rec(x0 + h, y0, bits - 1, zBase + 2 * q)
        rec(x0 + h, y0 + h, bits - 1, zBase + 3 * q)
      }
    }
    rec(0, 0, 5, 0) // recursion runs in SHIFTED coords: cell -1 -> 0
    val merged = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    out.sortBy(_._1).foreach { r =>
      merged.lastOption match {
        case Some((lo, hi)) if r._1 == hi + 1 =>
          merged(merged.length - 1) = (lo, r._2)
        case _ => merged += r
      }
    }
    merged.toSeq
  }

  /** Box aggregate over the Morton store for an ARBITRARY
    * (non-quadrant-aligned) box: the cell box decomposes into a few
    * maximal z ranges ([[zRangesForCells]]) OR-ed as BETWEENs on the
    * partition column, so file-listing prunes to exactly the box's
    * cell directories — where [[boxAgg]]'s single BETWEEN over a
    * non-aligned box would scan the whole z interval between the
    * corners. The exact per-point predicate behind it keeps results
    * exact for any box, as before.
    */
  private[graft] def boxAggMulti(loaded: DataFrame,
      box: (Double, Double, Double, Double)): DataFrame = {
    val (x0, x1, y0, y1) = box
    val ranges = zRangesForCells(
      math.floor(x0 * 20).toInt, math.floor(x1 * 20).toInt,
      math.floor(y0 * 20).toInt, math.floor(y1 * 20).toInt)
    val zPred = ranges.map { case (lo, hi) => col("cell_z").between(lo, hi) }
      .reduce(_ || _)
    loaded
      .filter(zPred)
      .where(expr(s"cx >= $x0 AND cx <= $x1 AND cy >= $y0 AND cy <= $y1"))
      .agg(count(lit(1)).as("n_box"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
  }

  // non-aligned box: cells [2..8]×[4..6] — straddles quadrants on both
  // axes, so the single-BETWEEN form would span most of the grid while
  // the decomposition prunes to exactly 21 cell dirs
  private val BOX_MULTI = (0.10, 0.4499, 0.20, 0.3499)

  /** Gated query: the multi-range pruned box aggregate served from the
    * shared Morton grid store, on the brute DuckDB oracle. GeoSpec
    * pins the executed scan's partition count to exactly the box's
    * cell directories — strictly below the full listing.
    */
  def gZboxMulti(s: SparkSession, d: String): DataFrame = {
    val dir = ensureGridStore(s, d)
    boxAggMulti(graft.sources.IndexStore.loadGrid(s, dir), BOX_MULTI)
  }

  private val gZboxMultiSql = {
    val (x0, x1, y0, y1) = BOX_MULTI
    s"""SELECT COUNT(*) AS n_box,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
       |FROM customer
       |WHERE ($CX) >= $x0 AND ($CX) <= $x1
       |  AND ($CY) >= $y0 AND ($CY) <= $y1""".stripMargin
  }

  // ------------------------------------- unbounded exact kNN (rings)

  /** Per-site top-k within the (2r+1)x(2r+1) cell ring around each
    * site. The rank window is per-site, so Spark plans a partial
    * WindowGroupLimit: each task forwards at most k rows per site
    * before the shuffle. Escalation stages pass `broadcastSites =
    * true` — the unresolved-site set is small by construction, so the
    * corpus side is re-scanned map-only (broadcast join, no shuffle
    * of the corpus).
    */
  private def ringTopK(cust: DataFrame, sites: DataFrame, r: Int, k: Int,
      broadcastSites: Boolean): DataFrame = {
    val nb0 = sites
      .withColumn("dx", explode(sequence(lit(-r), lit(r))))
      .withColumn("dy", explode(sequence(lit(-r), lit(r))))
      .withColumn("cell_x", expr(s"CAST(FLOOR(sx * $GRID) AS INT)") + col("dx"))
      .withColumn("cell_y", expr(s"CAST(FLOOR(sy * $GRID) AS INT)") + col("dy"))
      .drop("dx", "dy")
    val nb = if (broadcastSites) broadcast(nb0) else nb0
    withCells(cust).join(nb, Seq("cell_x", "cell_y"))
      .withColumn("dist2", expr(DIST2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") <= k)
      .select(col("s_suppkey"), col("rn"), col("c_custkey"), col("dist2"))
  }

  /** The ring's guaranteed coverage radius: the minimum distance from
    * the site to the boundary of its (2r+1)-cell box — every point
    * within this radius is INSIDE the ring, so a k-th candidate
    * strictly closer than it can never be displaced by an unseen
    * point. Shrunk 1e-9 relative so float slop in the box arithmetic
    * (~1e-16) can only ESCALATE a borderline site, never wrongly
    * finalize one.
    */
  private def ringGuarantee(r: Int): org.apache.spark.sql.Column = expr(
    s"LEAST(sx - (FLOOR(sx * $GRID) - $r) * 0.05, " +
      s"(FLOOR(sx * $GRID) + $r + 1) * 0.05 - sx, " +
      s"sy - (FLOOR(sy * $GRID) - $r) * 0.05, " +
      s"(FLOOR(sy * $GRID) + $r + 1) * 0.05 - sy) * 0.999999999")

  /** Expanding-ring exact kNN (radius-UNLIMITED — contrast
    * [[gGridKnn]]'s range-limited contract): probe the 3x3 ring,
    * finalize every site whose k-th candidate distance is strictly
    * inside the ring's guarantee, widen to 5x5 ONLY for the rest, and
    * send whatever survives both rings to a brute per-site scan (the
    * IVF nProbe-escalation pattern — s_probe_curve precedent — applied
    * to the spatial grid; the final stage is exact on ANY data, e.g. a
    * site alone in an empty region). Stage economics at scale: ring 1
    * is the ordinary shuffled cell join; rings 2+ broadcast only the
    * unresolved sites so the corpus is re-read map-only with partial
    * top-k before any shuffle; the fallback pays brute force for
    * exactly the sites that need it. Returns (rows, ring-2 site ids,
    * fallback site ids) — the stage ledger GeoSpec pins.
    */
  private[graft] def knnFullStaged(cust: DataFrame, sites: DataFrame,
      k: Int): (DataFrame, DataFrame, DataFrame) =
    knnStaged(sites, k,
      (ss, r) => ringTopK(cust, ss, r, k, broadcastSites = r > 1),
      esc => bruteTopK(cust, esc, k))

  /** Per-site brute top-k: the exact final stage over whatever corpus
    * frame the caller supplies, map-only via the broadcast site set.
    */
  private def bruteTopK(cust: DataFrame, esc: DataFrame, k: Int): DataFrame =
    cust.crossJoin(broadcast(esc))
      .withColumn("dist2", expr(DIST2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") <= k)
      .select(col("s_suppkey"), col("rn"), col("c_custkey"), col("dist2"))

  /** The expanding-ring escalation SKELETON, corpus-agnostic: `ring`
    * produces the per-site top-k within the (2r+1)² neighborhood for
    * a given site set, `brute` the exact per-site scan for the final
    * survivors. Used with the raw corpus ([[knnFullStaged]]) and with
    * the persisted Morton store ([[gKnnServed]]).
    */
  private[graft] def knnStaged(sites: DataFrame, k: Int,
      ring: (DataFrame, Int) => DataFrame,
      brute: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def finality(topk: DataFrame, ss: DataFrame, r: Int): DataFrame = {
      val summary = topk.groupBy("s_suppkey")
        .agg(max(col("rn")).as("n"), max(col("dist2")).as("dk2"))
      ss.withColumn("g", ringGuarantee(r))
        .join(summary, Seq("s_suppkey"), "left")
        .withColumn("fin",
          col("n").isNotNull && col("n") === lit(k) &&
            col("dk2") < col("g") * col("g"))
    }
    // every stage frame fans out (t_r feeds the finality aggregate AND
    // the done-join; esc_r feeds the next ring, its finality, and its
    // done-join), so unpinned the ring-1 corpus pass re-executed in
    // EVERY downstream consumer's lineage — ~6 copies of the ring-1
    // join+window in the final plan (24 corpus scans, g_knn_full's
    // before dump). All four frames are site-grain-bounded (≤ sites·k
    // rows), so the pins are cheap and each ring's corpus pass runs
    // exactly once.
    val t1 = Materialize.pin(ring(sites, 1))
    val f1 = finality(t1, sites, 1)
    val done1 = t1.join(broadcast(
      f1.where(col("fin")).select("s_suppkey")), Seq("s_suppkey"))
    val esc1 = Materialize.pin(f1.where(!col("fin"))
      .select("s_suppkey", "sx", "sy"))

    val t2 = Materialize.pin(ring(esc1, 2))
    val f2 = finality(t2, esc1, 2)
    val done2 = t2.join(broadcast(
      f2.where(col("fin")).select("s_suppkey")), Seq("s_suppkey"))
    val esc2 = Materialize.pin(f2.where(!col("fin"))
      .select("s_suppkey", "sx", "sy"))

    val t3 = brute(esc2)

    (done1.unionAll(done2).unionAll(t3),
      esc1.select("s_suppkey"), esc2.select("s_suppkey"))
  }

  /** Ring top-k against the LOADED grid store: the site neighborhood's
    * Morton codes are planted as a literal isin on the `cell_z`
    * partition column (the servedCandidates design point — DPP
    * degrades on explode-derived build sides), so each ring reads only
    * its (2r+1)²·|sites| cell DIRECTORIES of the store. Out-of-domain
    * neighborhood cells (beyond the interleave's [-1, 30]² support)
    * are dropped before encoding — their codes would be garbage bits
    * that could collide with real cells.
    */
  private def ringTopKServed(loaded: DataFrame, sites: DataFrame,
      r: Int, k: Int): DataFrame = {
    val nb = sites
      .withColumn("dx", explode(sequence(lit(-r), lit(r))))
      .withColumn("dy", explode(sequence(lit(-r), lit(r))))
      .withColumn("cell_x", expr(s"CAST(FLOOR(sx * $GRID) AS INT)") + col("dx"))
      .withColumn("cell_y", expr(s"CAST(FLOOR(sy * $GRID) AS INT)") + col("dy"))
      .where(col("cell_x").between(-1, 30) && col("cell_y").between(-1, 30))
      .withColumn("cell_z", expr(graft.sources.IndexStore.CellZ))
      .drop("dx", "dy", "cell_x", "cell_y")
    val zIds = nb.select(col("cell_z")).distinct()
      .collect().map(_.getInt(0)).toSeq
    loaded.select(col("c_custkey"), col("cx"), col("cy"), col("cell_z"))
      .filter(col("cell_z").isin(zIds: _*))
      .join(broadcast(nb), Seq("cell_z"))
      .withColumn("dist2", expr(DIST2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s_suppkey").orderBy(col("dist2"), col("c_custkey"))))
      .where(col("rn") <= k)
      .select(col("s_suppkey"), col("rn"), col("c_custkey"), col("dist2"))
  }

  /** Gated query: unbounded EXACT kNN served from the PERSISTED Morton
    * grid store — the two flagship geo features composed: the
    * expanding-ring escalation ([[knnStaged]]) with every ring's scan
    * partition-pruned to its neighborhood's cell directories
    * ([[ringTopKServed]]), and the brute fallback reading the store
    * map-only. Same brute-force oracle as g_knn_full: the store
    * round-trip and the ring pruning must be invisible in the results.
    */
  def gKnnServed(s: SparkSession, d: String): DataFrame = {
    val dir = ensureGridStore(s, d)
    val loaded = graft.sources.IndexStore.loadGrid(s, dir)
    val (rows, _, _) = knnStaged(suppPoints(s, d), 3,
      (ss, r) => ringTopKServed(loaded, ss, r, 3),
      esc => bruteTopK(loaded.select(col("c_custkey"), col("cx"), col("cy")),
        esc, 3))
    rows.orderBy("s_suppkey", "rn")
  }

  /** Gated query: true top-3 nearest customers per supplier, no radius
    * cap, against the plain brute-force oracle. Stage membership is
    * invisible in the results by the ring-guarantee proof — every
    * stage emits the exact global top-k for the sites it finalizes.
    */
  def gKnnFull(s: SparkSession, d: String): DataFrame = {
    val (rows, _, _) =
      knnFullStaged(custPoints(s, d), suppPoints(s, d), k = 3)
    rows.orderBy("s_suppkey", "rn")
  }

  private val gKnnFullSql =
    s"""SELECT s_suppkey, CAST(rn AS INT) AS rn, c_custkey, dist2 FROM (
       |  SELECT s_suppkey, c_custkey, ($DIST2) AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
       |      ORDER BY ($DIST2), c_custkey) AS rn
       |  FROM supplier, customer
       |) WHERE rn <= 3 ORDER BY s_suppkey, rn""".stripMargin
      .replace("cx", s"($CX)").replace("cy", s"($CY)")
      .replace("sx", s"($SX)").replace("sy", s"($SY)")

  val queries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "g_zbox_multi"  -> (gZboxMulti _, gZboxMultiSql),
    "g_grid_hint"   -> (gGridHint _, gGridHintSql),
    "g_knn_served"  -> (gKnnServed _, gKnnFullSql),
    "g_knn_full"    -> (gKnnFull _, gKnnFullSql),
    "g_grid_auto_var" -> (gGridAutoVar _, gGridAutoVarSql),
    "g_zbox_served" -> (gZboxServed _, gZboxServedSql),
    "g_grid_auto"   -> (gGridAuto _, gGridJoinSql),
    "g_grid_join"   -> (gGridJoin _, gGridJoinSql),
    "g_grid_knn"    -> (gGridKnn _, gGridKnnSql),
    "g_cell_stats"  -> (gCellStats _, gCellStatsSql),
    "g_grid_salted" -> (gGridSalted _, gGridJoinSql),
    "g_grid_served" -> (gGridServed _, gGridJoinSql),
    "g_visits"      -> (gVisits _, gVisitsSql),
  )
}

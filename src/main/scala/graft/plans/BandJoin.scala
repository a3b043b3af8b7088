package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Native banded range-COUNT join: for every left row, the number of
  * right rows with equal keys and right time in `(leftTime,
  * leftTime + windowUs]` — the interval co-occurrence primitive behind
  * burst detection, within-session fan-in, and "events followed by"
  * features. Spark's own plan for this shape (equality join with the
  * band as a residual filter, then re-group — see
  * [[graft.operators.Events.eRangeJoin]]) materializes every
  * (left × in-band right) pair before counting; this operator emits the
  * count directly from a sliding window over time-sorted co-partitions,
  * so per-task memory is ONE band's worth of timestamps and the output
  * is |left| rows regardless of in-band density.
  *
  * The output schema is `left.output :+ countAttr` — the count
  * attribute is created by the API (stable exprId across plan copies)
  * and is never null (0 for no co-occurrences, matching the composed
  * form's LEFT-join + COUNT(col) convention).
  *
  * Same distribution contract as [[AsofJoinExec]]: both children
  * clustered on the keys and sorted (keys…, time); EnsureRequirements
  * plants the exchanges, AQE coalescing/exchange-reuse apply unchanged.
  */
case class BandCountPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    windowUs: Long,
    countAttr: AttributeReference,
    broadcastRight: Option[Boolean]) extends LeftPreservingJoin {

  override def output: Seq[Attribute] = left.output :+ countAttr

  // the count attribute is GENERATED here, not consumed from a child —
  // without this, CheckAnalysis reports it missing from the inputs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(countAttr)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandCountPlan =
    copy(left = newLeft, right = newRight)
}

/** Physical sliding-band merge for [[BandCountPlan]]. */
case class BandCountExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    windowUs: Long,
    countAttr: AttributeReference,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ countAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(countAttr)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "maxBandBuffer" -> SQLMetrics.createSizeMetric(sparkContext,
      "per-task max buffered band timestamps (summed over tasks)"))

  /** Keyless (global band count): single-partition merge — the honest
    * shuffled fallback; the broadcast exec is the parallel keyless
    * path (see [[AsofJoinExec.requiredChildDistribution]]).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty)
      org.apache.spark.sql.catalyst.plans.physical.AllTuples ::
        org.apache.spark.sql.catalyst.plans.physical.AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val win = windowUs
    val numOutputRows = longMetric("numOutputRows")
    val maxBandBuffer = longMetric("maxBandBuffer")
    val leftOutput = left.output
    val rightOutput = right.output
    val allOutput = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // primitive time reads — see [[LongCol]]: boxed eval allocates
      // per row in this loop
      val lTimeC = LongCol.bind(lTimeExpr, leftOutput)
      val rTimeC = LongCol.bind(rTimeExpr, rightOutput)
      val resultProj = UnsafeProjection.create(allOutput, allOutput)
      val joinedRow = new JoinedRow
      val countRow = new GenericInternalRow(1)
      val rBuf = rIter.buffered
      // Sliding band state for the CURRENT key: right times t with
      // lt < t <= lt + win, kept sorted (right stream is time-sorted).
      // Bounded by one band's density — the operator's whole point.
      var bandKey: UnsafeRow = null
      val band = new java.util.ArrayDeque[Long]()
      var localMax = 0L
      lIter.map { l =>
        val lk = lKeyProj(l)
        val n: Long = if (lTimeC.isNull(l)) 0L else {
          val lt = lTimeC.get(l)
          // key change: state from an earlier key is stale
          if (bandKey == null || keyOrd.compare(bandKey, lk) != 0) band.clear()
          // consume right rows usable now or later for this key
          var done = false
          while (!done && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rk, lk)
            if (c > 0) done = true
            else if (c < 0) rBuf.next() // key already passed
            else {
              if (rTimeC.isNull(rBuf.head)) rBuf.next() // nulls sort first; never in-band
              else {
                val rt = rTimeC.get(rBuf.head)
                if (rt <= lt + win) {
                  rBuf.next()
                  if (rt > lt) band.addLast(rt) // rt <= lt can't serve later rows either? it CAN: keep below
                  else () // rt <= lt: out of band for this and all later left rows (lt non-decreasing)
                  if (bandKey == null || keyOrd.compare(bandKey, lk) != 0)
                    bandKey = lk.copy()
                } else done = true // beyond this left row's band; later rows may need it
              }
            }
          }
          // evict band entries that fell behind the window start
          while (!band.isEmpty && band.peekFirst() <= lt) band.removeFirst()
          if (band.size() > localMax) { localMax = band.size(); maxBandBuffer.set(localMax) }
          band.size().toLong
        }
        numOutputRows += 1
        countRow.setLong(0, n)
        resultProj(joinedRow(l, countRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandCountExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast band-count: the small-right-side fast path ("conversions
  * within W of each event" against a compact dimension/outcome table).
  * Count-only means the per-executor index is just `key -> sorted
  * times` — no row payloads — and each left row is answered with two
  * binary searches: count = ub(t+W) − ub(t), ub = first index past the
  * bound. The left side has no distribution/ordering requirement: no
  * shuffle, no sort, partitioning and ordering pass through. The index
  * shares [[AsofIndexCache]] (distinct key prefix).
  */
case class BandCountBroadcastExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    windowUs: Long,
    countAttr: AttributeReference,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ countAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(countAttr)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val win = windowUs
    val numOutputRows = longMetric("numOutputRows")
    val leftOutput = left.output
    val rightOutput = right.output
    val allOutput = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    left.execute().mapPartitions({ lIter =>
      def buildIndex(): java.util.HashMap[UnsafeRow, Array[Long]] = {
        val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOutput)
        val rTimeC = LongCol.bind(rTimeExpr, rightOutput)
        val grouped = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.ArrayBuffer[Long]]()
        bc.value.foreach { r =>
          if (!rTimeC.isNull(r)) {
            val k = rKeyProj(r).copy()
            var buf = grouped.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[Long]()
              grouped.put(k, buf)
            }
            buf += rTimeC.get(r)
          }
        }
        val built = new java.util.HashMap[UnsafeRow, Array[Long]]()
        grouped.forEach { (k, buf) => built.put(k, buf.toArray.sorted) }
        built
      }
      val cacheKey = s"band|${bc.id}|" +
        (rKeyExprs :+ rTimeExpr).map(_.semanticHash()).mkString(",")
      val index = AsofIndexCache.getOrBuild(cacheKey, () => buildIndex())
        .asInstanceOf[java.util.HashMap[UnsafeRow, Array[Long]]]

      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOutput)
      val lTimeC = LongCol.bind(lTimeExpr, leftOutput)
      val resultProj = UnsafeProjection.create(allOutput, allOutput)
      val joinedRow = new JoinedRow
      val countRow = new GenericInternalRow(1)
      // first index with times(i) > x
      def ub(times: Array[Long], x: Long): Int = {
        var lo = 0; var hi = times.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (times(mid) > x) hi = mid else lo = mid + 1
        }
        lo
      }
      lIter.map { l =>
        val times = if (lTimeC.isNull(l)) null else index.get(lKeyProj(l))
        val n: Long = if (times == null) 0L else {
          val lt = lTimeC.get(l)
          (ub(times, lt + win) - ub(times, lt)).toLong
        }
        numOutputRows += 1
        countRow.setLong(0, n)
        resultProj(joinedRow(l, countRow))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandCountBroadcastExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over [[BandCountPlan]]. */
object BandJoin {

  /** Appends `countName` (LONG, never null) to `left`: the number of
    * `right` rows with equal keys and time in `(leftTime, leftTime +
    * windowUs]`. Time columns must be LONG (epoch µs by convention).
    * `broadcast = None` (default) picks the exec from the right
    * side's size estimate vs `spark.sql.autoBroadcastJoinThreshold`;
    * `Some(true)` forces the broadcast exec (the right side must fit
    * the broadcast budget — the left side then pays no shuffle and no
    * sort), `Some(false)` forces the shuffled merge.
    */
  def bandCount(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      windowUs: Long,
      countName: String = "n_in_band",
      broadcast: Option[Boolean] = None): DataFrame = {
    val spark = left.sparkSession
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val (lp, rp, lt, rt, lk, rk) = TimeJoinArgs.resolve("bandCount",
      left, right, leftTime, rightTime, leftBy, rightBy)
    require(windowUs > 0, s"bandCount: window must be positive, got $windowUs")
    val out = AttributeReference(countName, LongType, nullable = false)()
    org.apache.spark.sql.graft.GraftSql.ofRows(spark,
      BandCountPlan(lp, rp, lk, rk, lt, rt, windowUs, out,
        broadcastRight = broadcast))
  }

  /** [[bandCount]] with TIME-BUCKETED KEY SALTING — the band twin of
    * [[AsofJoin.joinAsOfSalted]], and simpler: the band is FINITE, so
    * no carry machinery is needed. With `bucketUs >= windowUs`, a left
    * row's band `(t, t + W]` spans at most its own bucket and the
    * next, so replicating every right row to ITS bucket and the
    * PREVIOUS one (bounded 2x fan-out, no data-dependent blowup) makes
    * the (keys, bucket) equi-keyed merge see every in-band right row
    * exactly once: a right row lands in bucket b once as its own copy
    * and once as b−1's copy, and a left row in bucket b only counts
    * rights from its own co-partition. A hot key's largest task is
    * then bounded by per-bucket traffic, not per-key history — the
    * skew AQE's built-in-exec-only split cannot reach. NULL times
    * behave as in bandCount (NULL left time counts 0; NULL right times
    * never count). Times must stay within ±(Long.MaxValue − bucketUs).
    */
  def bandCountSalted(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      windowUs: Long,
      bucketUs: Long,
      countName: String = "n_in_band"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(windowUs > 0, s"bandCountSalted: window must be positive, got $windowUs")
    require(bucketUs >= windowUs,
      s"bandCountSalted: bucketUs ($bucketUs) must be >= windowUs ($windowUs) " +
        "or a band could span more than two buckets")
    val Salt = "_band_salt"
    require(!(left.columns ++ right.columns).exists(_.startsWith("_band_")),
      "bandCountSalted: column names starting with _band_ are reserved")
    val leftS = left.withColumn(Salt, TimeJoinArgs.salt(col(leftTime), bucketUs))
    val rOwn = right.filter(col(rightTime).isNotNull)
      .withColumn(Salt, TimeJoinArgs.salt(col(rightTime), bucketUs))
    val rightSalted = rOwn.unionByName(
      rOwn.withColumn(Salt, col(Salt) - lit(1L)))
    bandCount(leftS, rightSalted, leftTime, rightTime,
        leftBy :+ Salt, rightBy :+ Salt, windowUs, countName,
        broadcast = Some(false))
      .drop(Salt)
  }
}

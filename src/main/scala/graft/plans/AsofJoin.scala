package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples,
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the whole-operator extension path the preference
  * order reserves for semantics Spark's relational algebra can't express
  * without a blow-up: a logical node, a planner strategy, and a physical
  * sort-merge operator, registered per-session (`GraftSql.ensureRegistered`).
  *
  * Semantics (left outer, "backward" direction): for every left row, the
  * single right row with equal keys and the LARGEST right time that is
  * `<= ` the left time (within `toleranceUs`, when set); ties on right
  * time resolve to the largest `tiebreak` value. Left rows with no match
  * keep null right columns — exactly the composed form in
  * [[graft.operators.Events.eAsofJoin]] (equality join + range filter +
  * row_number()==1), which this operator replaces with a plan whose cost
  * is a sort-merge instead of a fan-out-then-group-limit.
  *
  * Why a physical operator is the 100 TB shape: the composed plan fans
  * out to |left-row × same-key right rows| BEFORE WindowGroupLimit trims
  * it, so a hot key (one user with 10^6 orders) materializes 10^6
  * candidates per event. This exec is one shuffle per side on the equality
  * keys (the same exchanges a sort-merge join pays), a per-partition
  * merge with O(1) held state — the last usable right row — and zero
  * fan-out: per task, cost is |left| + |right| rows streamed once,
  * independent of per-key match multiplicity.
  *
  * Both inputs must be sorted by (keys…, time) within each hash-partition
  * of the keys; the operator DECLARES that requirement
  * (`requiredChildDistribution` / `requiredChildOrdering`) and
  * EnsureRequirements plants the exchanges and sorts — AQE partition
  * coalescing and exchange reuse apply unchanged, which is the point of
  * doing this as a SparkPlan instead of zipPartitions over hand-shuffled
  * RDDs. (AQE's OptimizeSkewedJoin rewrite targets only the built-in
  * shuffled join execs, so a pathologically hot KEY still wants the
  * time-bucketed-key salting pattern documented for the composed form;
  * within a key, this exec is skew-IMMUNE — O(1) state, no fan-out.)
  *
  * Time columns are epoch-µs LONGs (the API rejects anything else), so
  * the merge compares primitives, not Ordering[Any] boxes.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tiebreak: Seq[Expression],
    toleranceUs: Option[Long],
    forward: Boolean,
    broadcastRight: Option[Boolean]) extends LeftPreservingJoin {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** A join node that emits exactly one row per left row, computed from
  * that row and the right side alone — [[AsofJoinPlan]] and
  * [[BandCountPlan]]. The soundness condition of
  * [[PushLeftFilterThroughJoin]].
  */
trait LeftPreservingJoin extends BinaryNode

/** Physical backward as-of join: co-partitioned on the equality keys,
  * per-partition two-pointer merge over (keys, time)-sorted inputs
  * holding exactly one candidate right row. See [[AsofJoinPlan]].
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tiebreak: Seq[Expression],
    toleranceUs: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  /** Same contract as a shuffled equi-join: both children clustered on
    * the equality keys; EnsureRequirements co-partitions them (and AQE
    * may later coalesce/split — the merge only assumes same-key
    * co-location, not a partition count). KEYLESS (global as-of, the
    * market-data shape): every row is "the same key", so the only
    * sound shuffled plan is a single-partition merge — AllTuples on
    * both sides. That is the honest fallback for a huge global
    * dimension; the broadcast exec (which a keyless join gets by
    * default whenever the dim fits the threshold) keeps the fact
    * side fully parallel and is the intended keyless path.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys…, time) ascending both sides; the right side additionally
    * orders by the tiebreak columns so "hold the LAST usable row" picks
    * the max tiebreak among equal times — deterministic output without a
    * post-pass.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +: tiebreak.map(SortOrder(_, Ascending))))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** The merge streams the left side in order — downstream sorts on the
    * same prefix are elided.
    */
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val tol = toleranceUs
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val leftOutput = left.output
    val rightOutput = right.output
    val allOutput = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val fwd = forward
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // primitive time reads — see [[LongCol]]: boxed eval allocates
      // per row in this loop
      val lTimeC = LongCol.bind(lTimeExpr, leftOutput)
      val rTimeC = LongCol.bind(rTimeExpr, rightOutput)
      // Output must be UnsafeRow for downstream exchanges/sorts — same
      // result projection every join exec applies.
      val resultProj = UnsafeProjection.create(allOutput, allOutput)
      val joinedRow = new JoinedRow
      val nullRight = new GenericInternalRow(rightOutput.length)
      val rBuf = rIter.buffered
      // O(1) merge state (backward only): the last right row consumed
      // whose (key, time) was usable for the current left cursor. Rows
      // from earlier keys are rejected by the key compare, so no explicit
      // reset on key change is needed. Forward holds nothing: the match
      // is always the right cursor's head, which stays buffered because
      // it may also match later left rows.
      var heldKey: UnsafeRow = null
      var held: InternalRow = null
      var heldTime = 0L
      lIter.map { l =>
        val lk = lKeyProj(l)
        val matched = if (lTimeC.isNull(l)) {
          // null left time sorts first within its key: nothing can match
          // and no right rows of this key are consumable yet.
          null
        } else if (fwd) {
          val lt = lTimeC.get(l)
          var done = false
          while (!done && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rk, lk)
            if (c > 0) done = true // head stays for later keys
            else if (c < 0) rBuf.next() // left cursor moved past this key
            else {
              // null right times sort first and can never match; rows
              // strictly before lt can't match this or any later left
              // row of this key (left times are non-decreasing).
              if (rTimeC.isNull(rBuf.head) || rTimeC.get(rBuf.head) < lt)
                rBuf.next()
              else done = true
            }
          }
          if (rBuf.hasNext && keyOrd.compare(rKeyProj(rBuf.head), lk) == 0) {
            if (!rTimeC.isNull(rBuf.head) &&
                tol.forall(t => rTimeC.get(rBuf.head) - lt <= t)) rBuf.head
            else null
          } else null
        } else {
          val lt = lTimeC.get(l)
          var done = false
          while (!done && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rk, lk)
            if (c > 0) {
              done = true // right cursor is ahead; head stays for later keys
            } else if (c < 0) {
              rBuf.next() // left cursor moved past this key: discard
            } else if (rTimeC.isNull(rBuf.head)) {
              rBuf.next() // null right times sort first; never usable
            } else {
              val rt = rTimeC.get(rBuf.head)
              if (rt <= lt) {
                val r = rBuf.next()
                held = r.copy()
                heldKey = rKeyProj(r).copy()
                heldTime = rt
              } else {
                done = true // future right rows of this key stay buffered
              }
            }
          }
          if (held != null && keyOrd.compare(heldKey, lk) == 0 &&
              tol.forall(t => lt - heldTime <= t)) held else null
        }
        numOutputRows += 1
        if (matched != null) {
          numMatched += 1
          resultProj(joinedRow(l, matched))
        } else {
          resultProj(joinedRow(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Primitive LONG column accessor for the native execs' per-row hot
  * loops. `Expression.eval` returns a boxed `Any`, and epoch-µs values
  * sit far outside the `Long` box cache — at 10⁹ rows/task that is one
  * allocation per time read. The API admits only LONG time columns
  * (attributes), so the bound form is a [[BoundReference]] and the
  * merge can read `row.getLong(ordinal)` directly — zero allocation;
  * the eval fallback keeps any non-attribute expression correct. An
  * abstract class (not a lambda) so the Long return stays primitive:
  * `Function1[InternalRow, Long]` is unspecialized on an AnyRef
  * argument and would box at the call boundary. Both call sites are
  * monomorphic, so the JIT devirtualizes.
  *
  * CONTRACT: `get` must follow `isNull` on the SAME row (how every
  * merge-loop site reads) — the eval fallback caches the boxed result
  * from `isNull` so the expression is evaluated ONCE per row either
  * way (instances are per-partition, single-threaded).
  */
private[graft] abstract class LongCol {
  def isNull(r: InternalRow): Boolean
  def get(r: InternalRow): Long
}

private[graft] object LongCol {
  def bind(e: Expression, schema: Seq[Attribute]): LongCol =
    BindReferences.bindReference(e, schema) match {
      case b: BoundReference if b.dataType == LongType =>
        new LongCol {
          private[this] val ord = b.ordinal
          def isNull(r: InternalRow): Boolean = r.isNullAt(ord)
          def get(r: InternalRow): Long = r.getLong(ord)
        }
      case bound =>
        new LongCol {
          private[this] var last: Any = null
          def isNull(r: InternalRow): Boolean = {
            last = bound.eval(r); last == null
          }
          def get(r: InternalRow): Long = last.asInstanceOf[Long]
        }
    }
}

/** Per-executor cache of built as-of indexes, keyed by broadcast id —
  * the moral equivalent of HashedRelationBroadcastMode's build-once
  * semantics for the structure [[AsofBroadcastJoinExec]] needs (a
  * per-key TIME-SORTED array, which a hash relation isn't). Without it
  * every task re-sorts the dimension (measured: 3.3 s vs 1.0 s for the
  * shuffled exec at sf0.1/local[32] — 32 redundant 150k-row builds);
  * with it, one build per executor, shared read-only. computeIfAbsent
  * serializes concurrent first-wave tasks of the SAME join on one
  * build; the LRU bound (8 indexes) caps executor memory across many
  * distinct broadcast joins in a long-lived executor.
  */
private[graft] object AsofIndexCache {
  private val MaxEntries = 8
  private val cache =
    new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AnyRef]): Boolean = size() > MaxEntries
    }
  /** The key carries the broadcast id AND the index-shaping expression
    * semantics: AQE reuses one BroadcastExchange across consumers, so
    * two as-of joins over the same broadcast dim with DIFFERENT
    * keys/time/tiebreak would collide on bc.id alone and serve each
    * other the wrong index.
    */
  def getOrBuild(key: String, build: () => AnyRef): AnyRef = cache.synchronized {
    val hit = cache.get(key)
    if (hit != null) hit
    else { val v = build(); cache.put(key, v); v }
  }
  /** test seam */
  private[graft] def clear(): Unit = cache.synchronized(cache.clear())
  private[graft] def keys: Seq[String] =
    cache.synchronized(scala.jdk.CollectionConverters
      .SetHasAsScala(cache.keySet()).asScala.toSeq)
}

/** Broadcast as-of join: the small-dimension fast path. The right side
  * is broadcast whole (`IdentityBroadcastMode` — plain collected rows,
  * planted as a BroadcastExchange by EnsureRequirements); the first
  * task on each executor builds a per-key time-sorted index
  * (O(|dim| log |dim|), bounded by the broadcast-size ceiling like any
  * broadcast join build; shared via [[AsofIndexCache]]) and every left
  * row is answered with a binary search. The LEFT side has NO
  * distribution or ordering requirement — at 100 TB the fact side is
  * never shuffled and never sorted, and its partitioning AND ordering
  * pass through untouched (this node composes with downstream
  * aggregations for free, like BroadcastHashJoin). Hot left keys are a
  * non-event: every task holds the same index.
  */
case class AsofBroadcastJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tiebreak: Seq[Expression],
    toleranceUs: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val tol = toleranceUs
    val fwd = forward
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val leftOutput = left.output
    val rightOutput = right.output
    val allOutput = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val sortExprs = rightTime +: tiebreak
    left.execute().mapPartitions({ lIter =>
      // index: key -> (times sorted asc, rows in the same (time,
      // tiebreak) order). Built once per executor ([[AsofIndexCache]]);
      // rows in the broadcast array are distinct materialized
      // UnsafeRows — safe to reference directly.
      def buildIndex(): java.util.HashMap[UnsafeRow, (Array[Long], Array[InternalRow])] = {
        val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOutput)
        val rTimeC = LongCol.bind(rTimeExpr, rightOutput)
        val sortProj = UnsafeProjection.create(sortExprs, rightOutput)
        val sortOrd = RowOrdering.createNaturalAscendingOrdering(sortExprs.map(_.dataType))
        val grouped = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.ArrayBuffer[(UnsafeRow, Long, InternalRow)]]()
        bc.value.foreach { r =>
          if (!rTimeC.isNull(r)) { // null right times can never match
            val k = rKeyProj(r).copy()
            var buf = grouped.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[(UnsafeRow, Long, InternalRow)]()
              grouped.put(k, buf)
            }
            buf += ((sortProj(r).copy(), rTimeC.get(r), r))
          }
        }
        val built = new java.util.HashMap[UnsafeRow, (Array[Long], Array[InternalRow])]()
        grouped.forEach { (k, buf) =>
          val sorted = buf.sortWith((a, b) => sortOrd.compare(a._1, b._1) < 0)
          built.put(k, (sorted.map(_._2).toArray, sorted.map(_._3).toArray))
        }
        built
      }
      val cacheKey = s"${bc.id}|" +
        (rKeyExprs ++ sortExprs).map(_.semanticHash()).mkString(",")
      val index = AsofIndexCache.getOrBuild(cacheKey, () => buildIndex())
        .asInstanceOf[java.util.HashMap[UnsafeRow, (Array[Long], Array[InternalRow])]]

      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOutput)
      val lTimeC = LongCol.bind(lTimeExpr, leftOutput)
      val resultProj = UnsafeProjection.create(allOutput, allOutput)
      val joinedRow = new JoinedRow
      val nullRight = new GenericInternalRow(rightOutput.length)
      lIter.map { l =>
        val entry = if (lTimeC.isNull(l)) null else index.get(lKeyProj(l))
        val matched = if (entry == null) null else {
          val lt = lTimeC.get(l)
          val (times, rows) = entry
          if (fwd) {
            // lower bound: first index with times(i) >= lt
            var lo = 0; var hi = times.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (times(mid) >= lt) hi = mid else lo = mid + 1
            }
            if (lo < times.length && tol.forall(t => times(lo) - lt <= t)) rows(lo)
            else null
          } else {
            // upper bound - 1: last index with times(i) <= lt
            var lo = 0; var hi = times.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (times(mid) > lt) hi = mid else lo = mid + 1
            }
            if (lo > 0 && tol.forall(t => lt - times(lo - 1) <= t)) rows(lo - 1)
            else null
          }
        }
        numOutputRows += 1
        if (matched != null) {
          numMatched += 1
          resultProj(joinedRow(l, matched))
        } else {
          resultProj(joinedRow(l, nullRight))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofBroadcastJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]] (shuffled sort-merge) or
  * [[AsofBroadcastJoinExec]] (small right side), and [[BandCountPlan]]
  * as [[BandCountExec]] or [[BandCountBroadcastExec]]; everything below
  * the node goes back through the normal planner (`planLater`).
  *
  * Broadcast selection mirrors Spark's own JoinSelection: with no
  * caller override, the right side broadcasts when its planning-time
  * size estimate (`stats.sizeInBytes` — file sizes at the leaves,
  * propagated through the optimized plan, CBO-refined when ANALYZE
  * stats exist) fits `spark.sql.autoBroadcastJoinThreshold`; `-1`
  * disables auto-broadcast exactly as it does for built-in joins. The
  * caller flag (`broadcast = Some(true/false)`) stays as the explicit
  * override — e.g. force the shuffled exec when the dim is known to
  * grow, or force broadcast below a filter the estimator can't see.
  */
object TimeJoinStrategy extends SparkStrategy {
  private def broadcast(forced: Option[Boolean], r: LogicalPlan): Boolean =
    forced.getOrElse {
      val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      thr > 0 && r.stats.sizeInBytes <= thr
    }
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, tb, tol, fwd, bcast) =>
      val exec = if (broadcast(bcast, r)) AsofBroadcastJoinExec else AsofJoinExec
      exec(lk, rk, lt, rt, tb, tol, fwd, planLater(l), planLater(r)) :: Nil
    case BandCountPlan(l, r, lk, rk, lt, rt, win, out, bcast) =>
      val exec = if (broadcast(bcast, r)) BandCountBroadcastExec else BandCountExec
      exec(lk, rk, lt, rt, win, out, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Pushes left-side filters through a [[LeftPreservingJoin]] — without
  * this, `joinAsOf(...).filter(<left predicate>)` or
  * `bandCount(...).filter(...)` leaves the filter above the custom
  * node, the scan never sees it, and the 100 TB fact side is read whole
  * (the optimizer's own PushDownPredicates knows nothing about foreign
  * nodes). Sound because each left row's output depends only on that
  * row and the right side: filtering left rows before the join emits
  * exactly the surviving rows' outputs (left-outer keeps per-row null
  * matches either way). RIGHT-side predicates must NOT push: filtering
  * the right side before match selection changes which row is "latest"
  * (e.g. `o_orderkey % 2 = 0` must drop matched rows, not re-match
  * against the filtered history) — they stay above, as do predicates
  * on a band count's GENERATED count column.
  *
  * Installed through the public `experimental.extraOptimizations` hook
  * (`GraftSql.ensureRegistered`), where user rules run in the LAST
  * batch: the filter lands below the join — eliminating the filtered
  * rows' shuffle/sort/merge cost, the bulk of the win — but cannot
  * re-enter the earlier pushdown batch to reach the scan.
  */
object PushLeftFilterThroughJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: LeftPreservingJoin) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.withNewChildren(Seq(Filter(push.reduce(And), j.left), j.right))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** The argument handling [[AsofJoin]] and [[BandJoin]] share; `fn`
  * names the public function in every error message.
  */
private[plans] object TimeJoinArgs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, pmod}
  import org.apache.spark.sql.graft.GraftSql

  def attr(fn: String, out: Seq[Attribute], n: String, side: String): Attribute =
    out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"$fn: no column '$n' on the $side side (has ${out.map(_.name).mkString(", ")})"))

  /** Analyzed plans of both inputs plus their resolved time and key
    * attributes, after the checks both node types need: LONG times,
    * equal-length key lists of matching types, and no shared
    * attribute ids. Empty key lists = a GLOBAL join (market-data
    * shape): every left row meets the whole right series. Broadcast
    * keeps the fact side fully parallel; the shuffled form degrades to
    * a single-partition merge (AllTuples) — see
    * AsofJoinExec.requiredChildDistribution.
    */
  def resolve(fn: String, left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      leftBy: Seq[String], rightBy: Seq[String])
      : (LogicalPlan, LogicalPlan, Attribute, Attribute, Seq[Attribute], Seq[Attribute]) = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val lt = attr(fn, lp.output, leftTime, "left")
    val rt = attr(fn, rp.output, rightTime, "right")
    require(lt.dataType == LongType && rt.dataType == LongType,
      s"$fn: time columns must be LONG (epoch µs); got ${lt.dataType} / ${rt.dataType}")
    require(leftBy.length == rightBy.length,
      s"$fn: key lists differ in length (${leftBy.length} vs ${rightBy.length})")
    val lk = leftBy.map(attr(fn, lp.output, _, "left"))
    val rk = rightBy.map(attr(fn, rp.output, _, "right"))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"$fn: key type mismatch ${a.name}:${a.dataType} vs ${b.name}:${b.dataType}")
    }
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      s"$fn: inputs share attribute ids (self-join) — alias the right side's columns first")
    (lp, rp, lt, rt, lk, rk)
  }

  /** Time bucket of `t` for the salted forms: exact integer floorDiv —
    * t - pmod(t, W) is an exact multiple of W (pmod >= 0 for positive
    * W), so the integral divide is exact for negative times too; a
    * double-division floor would round above 2^53.
    */
  def salt(t: Column, bucketUs: Long): Column =
    GraftSql.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      GraftSql.expression(t - pmod(t, lit(bucketUs))),
      GraftSql.expression(lit(bucketUs))))
}

/** DataFrame-level API over [[AsofJoinPlan]]. */
object AsofJoin {

  /** As-of join (left outer). Backward (default): for each `left` row,
    * the latest `right` row with equal keys and `rightTimeUs <=
    * leftTimeUs` (and `leftTimeUs - rightTimeUs <= toleranceUs` when
    * set); ties on time resolve to the LARGEST `tiebreak`. Forward
    * (`direction = "forward"`): the earliest right row with
    * `rightTimeUs >= leftTimeUs` (within tolerance); ties resolve to
    * the SMALLEST tiebreak. Time columns must be LONG (epoch µs by
    * convention — any monotone long works).
    *
    * Broadcast choice: by default (`broadcast = None`) the planner
    * decides from the right side's size estimate against
    * `spark.sql.autoBroadcastJoinThreshold`, exactly like Spark's own
    * JoinSelection — a small dimension gets the broadcast-index exec
    * (no shuffle, no sort on the fact side), a large one the shuffled
    * sort-merge exec. `Some(true)` forces broadcast (the right side
    * must then fit the broadcast budget); `Some(false)` forces the
    * shuffled exec.
    *
    * Self-join note: both inputs must carry distinct attribute ids; for
    * a same-source as-of join, rename the right side's columns first
    * (`right.select(cols.map(c => col(c).as(c + "_r")): _*)`).
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      tiebreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None,
      direction: String = "backward",
      broadcast: Option[Boolean] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"joinAsOf: direction must be backward|forward, got '$direction'")
    val spark = left.sparkSession
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val (lp, rp, lt, rt, lk, rk) = TimeJoinArgs.resolve("joinAsOf",
      left, right, leftTime, rightTime, leftBy, rightBy)
    toleranceUs.foreach(t => require(t >= 0, s"joinAsOf: negative tolerance $t"))
    val tb = tiebreak.map(TimeJoinArgs.attr("joinAsOf", rp.output, _, "right"))
    org.apache.spark.sql.graft.GraftSql.ofRows(spark,
      AsofJoinPlan(lp, rp, lk, rk, lt, rt, tb, toleranceUs,
        forward = direction == "forward", broadcastRight = broadcast))
  }

  /** [[joinAsOf]] with TIME-BUCKETED KEY SALTING — the skew bound for
    * the shuffled exec. AQE's OptimizeSkewedJoin targets only the
    * built-in join execs, so one pathologically hot key (one user with
    * 10⁹ events, or the KEYLESS global join) lands both sides of that
    * key in ONE task: linear and O(1)-state, but unbalanced. Salting
    * appends `floorDiv(time, bucketUs)` to the join keys, so a hot
    * key's rows spread across its time buckets and the largest task is
    * bounded by per-bucket traffic, not per-key history.
    *
    * Boundary carry-over keeps the semantics EXACTLY [[joinAsOf]]'s: a
    * left row near a bucket's start may match a right row from an
    * earlier bucket, so each left bucket is supplemented with ONE
    * carry row — the best (latest time, then largest tiebreak; mirror
    * for forward) right row of the NEAREST non-empty earlier (forward:
    * later) bucket, which by time-monotonicity across buckets IS the
    * global best outside the bucket. The carry is computed at BUCKET
    * grain (a per-(key, bucket) aggregate with map-side partial
    * combine — a hot key spreads across buckets here too — then a
    * bucket-index as-of join between two bucket-grain frames), so no
    * stage reassembles a key's full history in one task. Proof of
    * equivalence: a left row's global match is either in its own
    * bucket (present on the salted right) or strictly before it, in
    * which case it is the latest row of the nearest non-empty earlier
    * bucket — the carry row; the merge then picks the max over
    * {own-bucket candidates, carry}, and the output stays one row per
    * left row (left-outer), so no duplicates are possible by
    * construction. NULL times behave as in joinAsOf: NULL-salt left
    * rows match nothing and emit null-extended; NULL-time right rows
    * never match and are dropped from the salted input.
    *
    * `bucketUs` trades balance against carry overhead: buckets at
    * ~(hot-key rows per task target × median inter-event gap). Times
    * must stay within ±(Long.MaxValue − bucketUs) — epoch-µs data is
    * 13 orders of magnitude inside that.
    */
  def joinAsOfSalted(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      bucketUs: Long,
      tiebreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max_by, min_by, struct}
    require(bucketUs > 0, s"joinAsOfSalted: bucketUs must be positive, got $bucketUs")
    require(direction == "backward" || direction == "forward",
      s"joinAsOfSalted: direction must be backward|forward, got '$direction'")
    val fwd = direction == "forward"
    val Salt = "_asof_salt"
    val SaltR = "_asof_salt_r"
    val Bidx = "_asof_bidx"
    val BidxR = "_asof_bidx_r"
    require(!(left.columns ++ right.columns).exists(_.startsWith("_asof_")),
      "joinAsOfSalted: column names starting with _asof_ are reserved")
    val leftS = left.withColumn(Salt, TimeJoinArgs.salt(col(leftTime), bucketUs))
    val rightOwn = right.filter(col(rightTime).isNotNull)
      .withColumn(Salt, TimeJoinArgs.salt(col(rightTime), bucketUs))
    // best right row per (key, bucket): latest (time, tiebreak) for
    // backward, earliest for forward — a partial-aggregating groupBy,
    // so the hot key fans across buckets before any shuffle
    val ordStruct = struct((col(rightTime) +: tiebreak.map(col)): _*)
    val recStruct = struct(right.columns.map(col): _*)
    val best = rightOwn.groupBy((rightBy.map(col) :+ col(Salt)): _*)
      .agg((if (fwd) min_by(recStruct, ordStruct)
            else max_by(recStruct, ordStruct)).as("_asof_rec"))
      .withColumnRenamed(Salt, SaltR)
    // carry row per LEFT bucket: bucket-grain as-of join — for bucket
    // b, the nearest non-empty bucket strictly before (after, when
    // forward) it; both frames are bucket-grain small, and per-key
    // work is O(#buckets), never O(#rows)
    val bounds = leftS.filter(col(Salt).isNotNull)
      .select((leftBy.map(col) :+ col(Salt)): _*).distinct()
      .withColumn(Bidx, col(Salt) + lit(if (fwd) 1L else -1L))
    val bestIdx = best.withColumn(BidxR, col(SaltR))
    val carry = joinAsOf(bounds, bestIdx, Bidx, BidxR,
        leftBy, rightBy, direction = direction)
      .filter(col(BidxR).isNotNull)
      .select((right.columns.map(c => col(s"_asof_rec.$c")) :+ col(Salt)): _*)
    val rightSalted = rightOwn
      .select((right.columns.map(col) :+ col(Salt)): _*)
      .unionByName(carry)
    joinAsOf(leftS, rightSalted, leftTime, rightTime,
        leftBy :+ Salt, rightBy :+ Salt, tiebreak, toleranceUs,
        direction, broadcast = Some(false))
      .drop(Salt)
  }

  /** [[joinAsOf]] with AUTOMATIC skew handling — the no-opt-in front
    * door: the caller does not need to know a key is hot or pick a
    * bucket width. One key-grain detection aggregate runs over the
    * join keys + time of BOTH inputs (map-side partial combine, so the
    * detection pass itself is skew-immune; column-pruned to key +
    * time); if the hottest key's combined row count stays at or below
    * [[AutoSkewThreshold]] (2,000,000 — a single merge task's
    * comfortable row budget), the plain [[joinAsOf]] plan runs
    * untouched. Above it, the join reruns as [[joinAsOfSalted]] with
    * the bucket width DERIVED from the hot key itself: enough buckets
    * to hold the hot key at [[TargetBucketRows]] rows each (500,000),
    * spread over the hot key's observed time span —
    * `bucketUs = ceil(span / ceil(hotCount / target))`. Exactness is
    * [[joinAsOfSalted]]'s bucket-carry proof; the salt never reaches
    * the output, so results are byte-identical to the unsalted plan
    * either way (AsofJoinSpec pins both the equivalence and the
    * measured even-share task bound with no caller opt-in).
    *
    * Cost of the detection pass: one shuffle of key-grain partial
    * aggregates — at 100 TB this reads two pruned columns per side and
    * moves |distinct keys| rows, orders of magnitude below the join
    * itself. A caller that KNOWS the skew shape can still call
    * [[joinAsOfSalted]] (fixed bucket) or [[joinAsOf]] (no detection)
    * directly.
    */
  def joinAsOfAuto(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      tiebreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None,
      direction: String = "backward"): DataFrame =
    joinAsOfAuto(left, right, leftTime, rightTime, leftBy, rightBy,
      tiebreak, toleranceUs, direction, AutoSkewThreshold, TargetBucketRows)

  /** Hot-key row count above which [[joinAsOfAuto]] salts. */
  private val AutoSkewThreshold = 2000000L

  /** Rows per time bucket [[joinAsOfAuto]] aims the hot key at. */
  private val TargetBucketRows = 500000L

  /** [[joinAsOfAuto]] with its two sizes given: tests reach the salted
    * branch on a small fixture through it.
    */
  private[graft] def joinAsOfAuto(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      leftBy: Seq[String],
      rightBy: Seq[String],
      tiebreak: Seq[String],
      toleranceUs: Option[Long],
      direction: String,
      threshold: Long,
      target: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    require(threshold > 0 && target > 0,
      s"joinAsOfAuto: threshold/target must be positive ($threshold/$target)")
    def proj(df: DataFrame, keys: Seq[String], t: String) =
      df.select(keys.zipWithIndex.map { case (k, i) =>
        col(k).as(s"_asof_k$i") } :+ col(t).as("_asof_t"): _*)
    val kcols = leftBy.indices.map(i => col(s"_asof_k$i"))
    val hot = proj(left, leftBy, leftTime)
      .unionByName(proj(right, rightBy, rightTime))
      .filter(col("_asof_t").isNotNull)
      .groupBy(kcols: _*)
      .agg(count(lit(1)).as("_asof_c"),
        min(col("_asof_t")).as("_asof_min"),
        max(col("_asof_t")).as("_asof_max"))
      .orderBy(col("_asof_c").desc)
      .limit(1).collect()
    val plain = hot.isEmpty || hot.head.getAs[Long]("_asof_c") <= threshold
    if (plain)
      joinAsOf(left, right, leftTime, rightTime, leftBy, rightBy,
        tiebreak, toleranceUs, direction)
    else {
      val cnt = hot.head.getAs[Long]("_asof_c")
      val span = math.max(1L,
        hot.head.getAs[Long]("_asof_max") - hot.head.getAs[Long]("_asof_min"))
      val buckets = (cnt + target - 1) / target
      val bucketUs = math.max(1L, (span + buckets - 1) / buckets)
      joinAsOfSalted(left, right, leftTime, rightTime, leftBy, rightBy,
        bucketUs, tiebreak, toleranceUs, direction)
    }
  }
}

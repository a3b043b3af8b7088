package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans.{CharStats, DenseFold, PairExplode, ShingleHashSet,
  ShingleMinHash, ShingleSet, SignBands, SimHash16Expr, SimHash64Expr,
  SortedIntersectCount, SparseDotProduct}

/** Bridge into Spark's private[sql] surface (hence the package): builds
  * Columns from custom Catalyst Expressions, and holds the one registry
  * of everything the engine adds to a session — optimizer rules and
  * planner strategies. Dense-vector products and distances are one
  * expression, graft.plans.DenseFold, behind [[denseDot]] and
  * [[denseSqDist]].
  *
  * [[ensureRegistered]] is the one registration path. It is per-session
  * and idempotent, so query functions can call it defensively: they
  * receive the session from the driver and cannot assume it was called.
  */
object GraftSql {

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan (`Dataset.ofRows` is
    * private[sql]) — how the custom whole-operator nodes
    * (graft.plans.AsofJoinPlan) enter a query.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Sorts `a` in place by `cmp` with Spark's TimSort
    * (`util.collection.Sorter` is private[spark]) over a primitive
    * index array: TimSort reads keys into holders it reuses, so nothing
    * is boxed.
    */
  def sortInts(a: Array[Int], cmp: (Int, Int) => Int): Unit =
    new org.apache.spark.util.collection.Sorter(IntsFormat).sort(a, 0, a.length,
      (x: IntKey, y: IntKey) => cmp(x.v, y.v))

  private final class IntKey { var v = 0 }

  private object IntsFormat
      extends org.apache.spark.util.collection.SortDataFormat[IntKey, Array[Int]] {
    override def newKey(): IntKey = new IntKey
    override def getKey(a: Array[Int], i: Int): IntKey = { val k = new IntKey; k.v = a(i); k }
    override def getKey(a: Array[Int], i: Int, reuse: IntKey): IntKey = { reuse.v = a(i); reuse }
    override def swap(a: Array[Int], i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
    override def copyElement(src: Array[Int], i: Int, dst: Array[Int], j: Int): Unit = dst(j) = src(i)
    override def copyRange(src: Array[Int], i: Int, dst: Array[Int], j: Int, n: Int): Unit =
      System.arraycopy(src, i, dst, j, n)
    override def allocate(n: Int): Array[Int] = new Array[Int](n)
  }

  /** Codegen'd Σ aᵢ·bᵢ over two float/double arrays (see graft.plans.DenseFold). */
  def denseDot(a: Column, b: Column): Column =
    column(DenseFold(expression(a), expression(b), sq = false))

  /** Codegen'd Σ (aᵢ−bᵢ)² over two float/double arrays (graft.plans.DenseFold). */
  def denseSqDist(a: Column, b: Column): Column =
    column(DenseFold(expression(a), expression(b), sq = true))

  /** Hash-aggregable argmin over (key ASC, id ASC) returning struct
    * (k, v) — the mutable-buffer replacement for the SortAggregate-
    * forcing `min(struct(key, id))` idiom (see graft.plans.ArgMinDL).
    * For argmax-with-smallest-id ties, pass a negated key.
    */
  def argMinDL(key: Column, id: Column): Column =
    column(graft.plans.ArgMinDL(expression(key.cast("double")),
      expression(id.cast("long"))).toAggregateExpression())

  /** Spark's own banded threshold Levenshtein with a PER-ROW bound —
    * `functions.levenshtein(l, r, threshold)` only accepts an Int
    * literal, but the underlying Catalyst expression takes the
    * threshold as a normal child. Returns -1 when the true distance
    * exceeds the bound (and computes O(len·bound) instead of
    * O(len²) to find out); exact distance otherwise.
    */
  def levenshteinBounded(l: Column, r: Column, threshold: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.Levenshtein(
      expression(l), expression(r), Some(expression(threshold))))

  /** Native MinHash signature mins (see graft.plans.ShingleMinHash). */
  def shingleMinHash(toks: Column, n: Int, salts: Seq[String]): Column =
    column(ShingleMinHash(expression(toks), n, salts))

  /** Native distinct shingle set (see graft.plans.ShingleSet). */
  def shingleSet(toks: Column, n: Int): Column =
    column(ShingleSet(expression(toks), n))

  /** Native 64-bit SimHash hex sketch (see graft.plans.SimHash64Expr). */
  def simHash64(toks: Column): Column =
    column(SimHash64Expr(expression(toks)))

  /** Native 16-bit SimHash int (see graft.plans.SimHash16Expr). */
  def simHash16(toks: Column): Column =
    column(SimHash16Expr(expression(toks)))

  /** Sorted distinct 8-byte shingle hashes (see graft.plans.ShingleHashSet). */
  def shingleHashSet(toks: Column, n: Int): Column =
    column(ShingleHashSet(expression(toks), n))

  /** Merge-walk intersection count of two sorted long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** Sign-projection LSH band buckets in one pass (see graft.plans.SignBands). */
  def signBands(emb: Column, planes: Int, bands: Int, dim: Int): Column =
    column(SignBands(expression(emb), planes, bands, dim))

  /** Exact codepoint-histogram stats struct (see graft.plans.CharStats). */
  def charStats(text: Column): Column = column(CharStats(expression(text)))

  /** All unordered element pairs of an array (see graft.plans.PairExplode). */
  def pairExplode(m: Column): Column = column(PairExplode(expression(m)))

  /** Decimal-exact sparse dot product over two sorted
    * array<struct<word,w>> weight vectors (see graft.plans.SparseDotProduct).
    */
  def sparseDot(a: Column, b: Column): Column =
    column(SparseDotProduct(expression(a), expression(b)))

  /** One-row BINARY Bloom sketch over a LONG key column — Spark's own
    * runtime-filter aggregate (`BloomFilterAggregate`). Feed it
    * `xxhash64(key)`: the sketch stores the 64-bit hash, and the probe
    * side ([[bloomMightContain]]) must hash identically.
    */
  def bloomFilterAgg(keyHash: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(keyHash),
        Literal(estimatedItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** Probe a Bloom sketch built by [[bloomFilterAgg]]. `BloomFilterMightContain`
    * requires its sketch argument to be foldable or a scalar subquery —
    * the one-row aggregated frame is wrapped as a programmatic
    * ScalarSubquery, exactly how Spark's InjectRuntimeFilter plants
    * runtime filters. The subquery executes once (its own tiny job) and
    * the deserialized sketch is then probed per row with no join in the
    * main plan.
    */
  def bloomMightContain(bloomDf: org.apache.spark.sql.DataFrame,
      keyHash: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        bloomDf.queryExecution.analyzed),
      expression(keyHash)))

  /** The RDD a localCheckpoint'ed frame scans (its LogicalRDD leaf) —
    * the thing that actually holds the persisted blocks. Needed because
    * Dataset.unpersist only uncaches CacheManager entries and is a
    * no-op for RDD-level persistence (see graft.operators.Materialize).
    */
  def underlyingRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  // ------------------------------------------------------ the registry

  /** Every custom optimizer rule: the naive spatial/band join → grid
    * equi-join rewrite, left-filter pushdown through the as-of and
    * band-count nodes, and the SQL as-of shape →
    * [[graft.plans.AsofJoinPlan]].
    */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.GridJoinRewrite,
    graft.plans.PushLeftFilterThroughJoin,
    graft.plans.SqlAsofRewrite)

  /** Every custom planner strategy. */
  val strategies: Seq[SparkStrategy] = Seq(
    graft.plans.TimeJoinStrategy,
    graft.plans.WordScoreCombineStrategy)

  /** Install [[rules]] and [[strategies]] on an existing session
    * through the public `experimental` hooks. Idempotent — a rule or
    * strategy already present is not added again. Adds no SQL function:
    * the native expressions are reached through the Column wrappers
    * above.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    em.extraOptimizations ++= rules.filterNot(em.extraOptimizations.contains)
    em.extraStrategies ++= strategies.filterNot(em.extraStrategies.contains)
  }
}

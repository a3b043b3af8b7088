package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, CreateNamedStruct, EqualTo, Expression, If, IsNotNull, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Hash-aggregable argmin: the (key, id) pair minimal under
  * (key ASC, id ASC), returned as a struct `(k, v)`.
  *
  * Purpose-built replacement for the `min(struct(key, id))` /
  * `max(struct(-key, -id))` argmin/argmax idiom: `Min`/`Max` over a
  * struct carry the struct itself as the aggregation buffer, and a
  * non-mutable buffer type forces the whole aggregate into
  * SortAggregateExec — no hash map, no whole-stage codegen, a sort per
  * partition per grouping. Profiled at round 13: SortAggregateExec was
  * ~1/3 of all executor CPU samples across the similarity suite. This
  * aggregate keeps the buffer as two mutable primitive slots
  * (double, long), so HashAggregateExec plans it and the update loop
  * whole-stage-codegens.
  *
  * Ordering semantics are EXACTLY `min(struct(key, id))`'s: Spark's
  * comparison operators on doubles share the SQL ordering (NaN largest,
  * NaN = NaN, -0.0 = 0.0 handled by UnsafeRow normalization), so
  * `key < bk || (key = bk && id < bid)` reproduces the struct
  * lexicographic ordering bit-for-bit. One deliberate difference,
  * documented for callers: a row with a NULL key OR a NULL id is
  * SKIPPED (like min/max skip nulls) rather than participating as a
  * nulls-first struct — every call site feeds non-null keys and ids
  * by construction (round()ed arithmetic over non-null arrays,
  * non-null id columns); the explicit id guard makes the aggregate
  * total rather than convention-dependent (a stored NULL id would
  * otherwise make tie comparisons three-valued and the tie-break
  * nondeterministic). An all-skipped group evaluates to NULL.
  *
  * For argmax, pass a negated key: IEEE negation inverts
  * Double.compare order exactly for ±0.0, finite values, and
  * infinities, so `argMinDL(-key, id)` == `max(struct(key, -id))`
  * with ties to the SMALLEST id — the only tie rule used in this
  * codebase. NaN keys are NOT supported under that argmax mapping:
  * -NaN is still NaN and stays LARGEST in the SQL double ordering, so
  * a NaN key that max(struct) would have picked is picked LAST here.
  * Call sites must not feed NaN keys (all current ones compute
  * round()ed cosines/distances over finite inputs; a zero-norm
  * embedding that could produce 0/0 is filtered or impossible
  * upstream). Under the direct argmin reading the NaN-largest
  * semantics match min(struct) exactly; only the negated-argmax
  * mapping excludes NaN.
  */
case class ArgMinDL(left: Expression, right: Expression)
    extends DeclarativeAggregate with BinaryLike[Expression] {
  private def key = left
  private def id = right

  // inputs must arrive as (double, long) — GraftSql.argMinDL casts at
  // the wrapper (AbstractDataType/ExpectsInputTypes are private[sql],
  // so implicit coercion is not available to an external expression).
  // Checked at ANALYSIS, not construction: Spark 4's Column API hands
  // the wrapper a ColumnNodeExpression placeholder (childless, so
  // `resolved` is true with dataType NullType) that only becomes the
  // real Cast during analysis — a constructor require would reject it.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (key.dataType == DoubleType && id.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argMinDL needs (double, long) inputs, got (${key.dataType}, ${id.dataType})")
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("k", DoubleType), StructField("v", LongType)))

  private lazy val bk = AttributeReference("bk", DoubleType)()
  private lazy val bv = AttributeReference("bv", LongType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bk, bv)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, LongType))

  private def beats(nk: Expression, nv: Expression,
      ok: Expression, ov: Expression): Expression =
    Or(IsNull(ok),
      Or(LessThan(nk, ok), And(EqualTo(nk, ok), LessThan(nv, ov))))

  override lazy val updateExpressions: Seq[Expression] = {
    // skip rows with a null id as well as a null key: once a null id
    // entered the buffer, tie comparisons (LessThan(nv, null)) would
    // evaluate to null and If(take, ..) would silently keep the wrong
    // side — the guard keeps the buffer's id slot always non-null
    // whenever the key slot is
    val take = And(And(IsNotNull(key), IsNotNull(id)),
      beats(key, id, bk, bv))
    Seq(If(take, key, bk), If(take, id, bv))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(IsNotNull(bk.right),
      beats(bk.right, bv.right, bk.left, bv.left))
    Seq(If(take, bk.right, bk.left), If(take, bv.right, bv.left))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(bk), Literal(null, dataType),
      CreateNamedStruct(Seq(Literal("k"), bk, Literal("v"), bv)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgMinDL =
    copy(left = newLeft, right = newRight)
}
